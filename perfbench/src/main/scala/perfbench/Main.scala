package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, data: Path, out: Path, cpus: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = Paths.get(kv(k)).toAbsolutePath
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", p("work"),
      p("data"), p("out"), kv("cpus").toInt)
  }
}

/** Runs one workload in one JVM: session start, repeated set-up, the
  * timed closed loop, then the run record (and span dump when traced)
  * for `perfbench/run.py` to finish and report. */
object Main {
  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  def session(a: Args): SparkSession = {
    val b = graft.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
    if (a.trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after full collections: state that outlives the
    * statements that made it. Collections repeat with pauses so blocks the
    * context cleaner frees after a collection are gone too; the lower of
    * the last two readings is kept. */
  def liveHeapMb(): Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(150)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.drop(2).min

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, a, sessionS)
    finally spark.stop()
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    val h = new Harness(spark, a.trace)
    if (a.workload == "selftest") {
      val res = SelfTest.run(h, a)
      Files.writeString(a.out, Json.obj(Seq("selftest" ->
        Json.obj(res.map { case (k, v) => k -> v.toString }))) + "\n")
      return
    }
    val w: Workload = a.workload match {
      case "dca_ingest" => new DcaIngest(h, a)
      case "mor_serve" => new MorServe(h, a)
      case "lake_analytics" => new LakeAnalytics(h, a)
      case other => sys.error(s"unknown workload $other")
    }
    val setups = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      w.setUp(r)
      (System.nanoTime() - t) / 1e9
    }
    val warmS = {
      val t = System.nanoTime()
      w.warmUp()
      (System.nanoTime() - t) / 1e9
    }
    h.reset()
    val committed0 = w.rowsCommitted

    val start = System.nanoTime()
    val deadline = start + (a.seconds * 1e9).toLong
    var rounds = 0
    while (rounds < w.minRounds || System.nanoTime() < deadline) {
      (1 to w.roundSteps).foreach(_ => w.step())
      rounds += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val timedS = wallS - h.harnessNs / 1e9

    val post = System.nanoTime()
    val runLayers = w.runLayers() ++ h.probe.map(p => "spark.cached_mb" -> p.cachedMb)
    w.dumpOutputs()
    if (a.trace) h.tracer.dump(a.work.resolve("spans.jsonl"))
    val postS = (System.nanoTime() - post) / 1e9
    val heapMb = liveHeapMb()

    val rec = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"), "cpus" -> a.cpus.toString,
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> Json.arr(setups.map(Json.num)),
      "warmup_s" -> Json.num(warmS),
      "setup_s" -> Json.num(sessionS + median(setups) + warmS),
      "wall_s" -> Json.num(wallS), "timed_s" -> Json.num(timedS),
      "post_s" -> Json.num(postS),
      "rows_committed" -> (w.rowsCommitted - committed0).toString,
      "heap_live_mb_end" -> Json.num(heapMb),
      "run_layers" -> Json.obj(runLayers.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(w.info.map { case (k, v) => k -> Json.str(v) }),
      "ops" -> Json.arr(h.ops.map(_.json))))
    Files.writeString(a.out, rec + "\n")
  }
}
