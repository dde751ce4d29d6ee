package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit, sum}
import graft.load.LoadTransactions
import graft.merge.{Merge, MorTable}
import graft.streaming.StreamLoader
import IngestBase.{BatchRows, PrimeRows}

/** A closed-loop workload. `setUp` primes fresh state (run several
  * times, fresh each time; the last one stays for the timed phase);
  * `step` runs one client cycle of one or more operations. */
trait Workload {
  def setUp(rep: Int): Unit
  def step(): Unit
  /** Steps per round. The timed loop runs whole rounds, so every run has
    * the same mix of operations (one compaction per ingest round, every
    * key once per analytics round). */
  def roundSteps: Int
  /** Rounds the timed loop runs at least, so each latency tail has at
    * least ten samples above it. */
  def minRounds: Int
  /** One-time warm-up after the repeated set-ups, part of `setup_s`. */
  def warmUp(): Unit = ()
  /** Run-level values of gauge and ratio metrics, read after the loop. */
  def runLayers(): Map[String, Double] = Map.empty
  /** Input rows committed by the operations of the timed phase. */
  def rowsCommitted: Long = 0L
  /** Outputs that await the external oracle check, written after the loop. */
  def dumpOutputs(): Unit = ()
  def info: Map[String, String]
}

/** Per-pair aggregate read back from the table: (pair → (rows, value)). */
object PairRead {
  type Got = Map[String, (Long, BigDecimal)]

  def of(rows: Array[Row]): Got = rows.map { r =>
    r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))
  }.toMap

  def expect(m: Map[String, PairAgg], value: PairAgg => BigDecimal): Got =
    m.map { case (p, a) => p -> (a.n, value(a)) }

  def same(a: Got, b: Got): Boolean = a.keySet == b.keySet && a.forall {
    case (p, (n, v)) => b(p)._1 == n && b(p)._2.compare(v) == 0
  }

  /** Check `got` against the model after the latest batch. The negative
    * control runs first: the same model missing its latest batch must
    * disagree with the full one, or a stale read could pass unseen and
    * the run stops. */
  def verify(o: Op, got: Got, model: OrderModel,
      value: PairAgg => BigDecimal): Unit = {
    val want = expect(model.current, value)
    val stale = expect(model.after(model.batches - 1), value)
    if (same(want, stale)) throw new IllegalStateException(
      s"model after batch ${model.batches} equals the model without it: " +
        "a stale read would pass the check")
    o.pass(same(got, want), {
      val lag = (0 until model.batches).reverse
        .find(n => same(got, expect(model.after(n), value)))
      s"read does not match the model after batch ${model.batches}" +
        lag.fold("")(n => s" (matches the model after batch $n: stale)")
    })
  }
}

/** Shared set-up of the two ingest workloads: seeded batches staged
  * outside the input directory and landed by an atomic rename. */
abstract class IngestBase(h: Harness, a: Args) extends Workload {
  protected val spark = h.spark
  protected var gen: OrderGen = _
  protected var model: OrderModel = _
  protected var root: Path = _
  protected var committed = 0L
  protected var landed = 0

  override def rowsCommitted: Long = committed

  /** One round on the last set-up's table, so the commit, compaction and
    * read paths are warm before the timed loop. */
  override def warmUp(): Unit = (1 to roundSteps).foreach(_ => step())

  protected def dir(name: String): Path = Files.createDirectories(root.resolve(name))
  protected def table: String = root.resolve("table").toString

  protected def fresh(rep: Int, name: String): Unit = {
    root = Files.createDirectories(a.work.resolve(s"$name-rep$rep"))
    gen = new OrderGen(a.seed)
    model = new OrderModel
    landed = 0
  }

  /** Write the batch to the staging dir; returns (staged file, bytes). */
  protected def stage(batch: Seq[Order]): (Path, Long) = {
    val bytes = OrderGen.render(batch)
    val f = dir("stage").resolve(f"batch-$landed%06d.json")
    landed += 1
    Files.write(f, bytes)
    (f, bytes.length.toLong)
  }

  protected def land(staged: Path): Path =
    Files.move(staged, dir("in").resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)

  protected def liveFiles(): (Int, Long) = {
    val files = Merge.readTable(spark, table).inputFiles
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (files.length, files.map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum)
  }

  def info: Map[String, String] = Map(
    "batch_rows" -> BatchRows.toString, "prime_rows" -> PrimeRows.toString,
    "redeliver_share" -> OrderGen.RedeliverShare.toString,
    "pairs" -> OrderGen.pairs.mkString(","),
    "model_rows" -> model.rowCount.toString,
    "model_batches" -> model.batches.toString)
}

object IngestBase {
  /** One order per landed file, as the reference loads each completed
    * order by its own run (`cmd/process_orders/main.go:241`). */
  val BatchRows = 1
  /** A year of twice-weekly firings over the configured pairs. */
  val PrimeRows: Int = 104 * OrderGen.pairs.size
}

/** `dca_ingest`: land one batch, drain it with
  * `StreamLoader.runAvailableNow` into a copy-on-write table, then SQL
  * freshness reads, each checked against the model. */
final class DcaIngest(h: Harness, a: Args) extends IngestBase(h, a) {
  val compactEvery = 4
  /** Analysts read the table more often than orders land; five reads per
    * commit also give each run enough reads for a tail percentile. */
  val readsPerCommit = 5
  def roundSteps: Int = compactEvery
  def minRounds: Int = 3
  private def args = StreamLoader.Args(
    inputDir = root.resolve("in").toString, tablePath = table,
    checkpointDir = root.resolve("ckpt").toString,
    deadLetterDir = root.resolve("dlq").toString,
    additionalColumns = Map("exchange" -> "kraken"),
    compactEvery = Some(compactEvery))
  private def freshnessSql =
    s"SELECT pair, count(*) AS n, sum(volume) AS v FROM graft_snapshot('$table') GROUP BY pair"

  def setUp(rep: Int): Unit = {
    fresh(rep, "dca")
    val prime = gen.nextBatch(PrimeRows)
    land(stage(prime)._1)
    StreamLoader.runAvailableNow(spark, args)
    h.streams.lastRun()
    model.apply(prime)
  }

  def step(): Unit = {
    val (batch, staged, bytes) = h.untimed {
      val b = gen.nextBatch(BatchRows)
      val (f, n) = stage(b)
      (b, f, n)
    }
    val dlq = java.nio.file.Paths.get(args.deadLetterDir)
    var callNs = 0L
    h.op("write", derive = o => {
      val prog = h.streams.lastRun()
      val rowsIn = prog.map(_.numInputRows).sum
      o.pass(rowsIn == batch.size && !Files.exists(dlq),
        s"drain loaded $rowsIn of ${batch.size} rows" +
          (if (Files.exists(dlq)) "; batch dead-lettered" else ""))
      model.apply(batch)
      if (o.ok.contains(true)) {
        o.rows = batch.size
        committed += batch.size
      }
      if (h.traced)
        Layers.streaming(h, o, prog, callNs, bytes, compactEvery, model, liveFiles())
    }) { o =>
      land(staged)
      callNs = Clock.now()
      h.layer(o, "streaming.drain")(StreamLoader.runAvailableNow(spark, args))
    }
    (1 to readsPerCommit).foreach(_ => read())
  }

  /** One round, then 30 more reads: with one round alone, read times still
    * fell by about a quarter over the timed loop as the JIT warmed. */
  override def warmUp(): Unit = {
    super.warmUp()
    (1 to 30).foreach(_ => read())
  }

  private def read(): Unit = {
    var rows: Array[Row] = Array.empty
    val o = h.op("read") { o =>
      val df = h.layer(o, "sql.resolve")(spark.sql(freshnessSql))
      rows = h.layer(o, "sql.exec")(df.collect())
    }
    h.untimed(if (!o.ok.contains(false))
      PairRead.verify(o, PairRead.of(rows), model, _.volume))
  }

  override def runLayers(): Map[String, Double] = {
    val (files, bytes) = liveFiles()
    Map("merge.live_files" -> files.toDouble,
      "merge.table_bytes_per_row" -> bytes.toDouble / model.rowCount)
  }

  /** Whether a fresh freshness read matches a model rebuilt from the seed
    * with committed batch `skip` left out (-1 leaves none out). */
  def readMatchesModelWithout(skip: Int): Boolean = {
    val got = PairRead.of(spark.sql(freshnessSql).collect())
    val g = new OrderGen(a.seed)
    val m = new OrderModel
    (0 until model.batches).foreach { i =>
      val b = g.nextBatch(if (i == 0) PrimeRows else BatchRows)
      if (i != skip) m.apply(b)
    }
    PairRead.same(got, PairRead.expect(m.current, _.volume))
  }

  override def info: Map[String, String] = super.info ++ Map(
    "table" -> "copy_on_write", "compact_every" -> compactEvery.toString,
    "reads_per_commit" -> readsPerCommit.toString)
}

/** `mor_serve`: one `MorTable.upsert` per cycle, then several analyst
  * reads alternating `MorTable.read` and SQL `graft_snapshot`, each
  * checked against the model; `MorTable.compact` runs inline every
  * `compactEvery` commits. */
final class MorServe(h: Harness, a: Args) extends IngestBase(h, a) {
  val readsPerCommit = 4
  val compactEvery = 4
  def roundSteps: Int = compactEvery
  def minRounds: Int = 1
  private var commits = 0
  private var reads = 0
  private def positionSql =
    s"SELECT pair, count(*) AS n, " +
      s"sum(CASE WHEN type = 'buy' THEN volume ELSE -volume END) AS v " +
      s"FROM graft_snapshot('$table') GROUP BY pair"

  private def upsert(o: Op, file: Path): Long = {
    val raw = h.layer(o, "load.read_raw")(LoadTransactions.readRaw(spark, file.toString))
    val df = h.layer(o, "load.transform")(
      LoadTransactions.transform(raw, Map("exchange" -> "kraken")))
    h.layer(o, "merge.commit")(MorTable.upsert(spark, df, table,
      LoadTransactions.keyCols, LoadTransactions.precombine,
      Seq(LoadTransactions.partitionCol)))
  }

  def setUp(rep: Int): Unit = {
    fresh(rep, "mor")
    commits = 0
    reads = 0
    val prime = gen.nextBatch(PrimeRows)
    upsert(new Op(-1, "prime"), land(stage(prime)._1))
    model.apply(prime)
  }

  def step(): Unit = {
    val (batch, staged, bytes) = h.untimed {
      val b = gen.nextBatch(BatchRows)
      val (f, n) = stage(b)
      (b, f, n)
    }
    val file = h.untimed(land(staged))
    var cts = -1L
    val before = h.untimed(Merge.latestCommit(spark, table).getOrElse(-1L))
    h.op("write", derive = o => {
      o.pass(cts > before, s"upsert returned commit $cts after $before")
      model.apply(batch)
      if (o.ok.contains(true)) {
        o.rows = batch.size
        committed += batch.size
      }
      if (h.traced) Layers.mor(h, o, batch.size, bytes, model, table, liveFiles())
    }) { o => cts = upsert(o, file) }
    commits += 1
    if (commits % compactEvery == 0)
      h.op("compact", derive = o => {
        o.pass(true, "")
        if (h.traced) Layers.mor(h, o, 0, 0, model, table, liveFiles())
      })(o => h.layer(o, "merge.compact")(MorTable.compact(spark, table)))
    (1 to readsPerCommit).foreach(_ => read())
  }

  private def read(): Unit = {
    val viaSql = reads % 2 == 1
    reads += 1
    var rows: Array[Row] = Array.empty
    val o = h.op("read") { o =>
      if (viaSql) {
        val df = h.layer(o, "sql.resolve")(spark.sql(positionSql))
        rows = h.layer(o, "sql.exec")(df.collect())
      } else {
        val snap = h.layer(o, "merge.snapshot_build") {
          val s = MorTable.read(spark, table)
          s.queryExecution.executedPlan
          s
        }
        rows = h.layer(o, "merge.snapshot_exec")(snap.groupBy("pair")
          .agg(count(lit(1)).as("n"), sum("volume").as("v")).collect())
      }
    }
    o.check = if (viaSql) "sql" else "api"
    h.untimed(if (!o.ok.contains(false))
      PairRead.verify(o, PairRead.of(rows), model,
        if (viaSql) _.position else _.volume))
  }

  override def runLayers(): Map[String, Double] = {
    val (files, bytes) = liveFiles()
    val deltas = MorTable.liveDeltaFiles(spark, table)
    Map("merge.live_files" -> files.toDouble,
      "merge.live_delta_files" -> deltas.size.toDouble,
      "merge.table_bytes_per_row" ->
        (bytes + deltas.map(_._2).sum).toDouble / model.rowCount)
  }

  override def info: Map[String, String] = super.info ++ Map(
    "table" -> "merge_on_read", "compact_every" -> compactEvery.toString,
    "reads_per_commit" -> readsPerCommit.toString)
}

/** `lake_analytics`: the read-only analytics keys in a seeded order over
  * the generated tables, each fully materialized.
  * Outputs are checked against the keys' DuckDB oracles after the loop; a
  * repeat of a key must equal its first output row for row. */
final class LakeAnalytics(h: Harness, a: Args) extends Workload {
  private val spark = h.spark
  /** Registry keys that write scratch tables; excluded from this read-only
    * workload. */
  private val writesTables = "q18.*|q19.*|q2[2-9].*|q30.*|q3[5-7].*".r
  val keys: Seq[String] = (graft.analytics.Relational.queries.keySet ++
    graft.analytics.Markets.queries.keySet ++
    graft.analytics.Behavior.queries.keySet).toSeq.sorted
    .filterNot(k => writesTables.matches(k))
  private val fns = graft.SparkEntry.queries
  private val rnd = new scala.util.Random(a.seed)
  private var order = Iterator.empty[String]
  private val firsts = mutable.LinkedHashMap.empty[String, (Op, org.apache.spark.sql.types.StructType, Array[Row])]
  private val extra = mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.types.StructType, Array[Row])]

  def roundSteps: Int = keys.size
  def minRounds: Int = 1

  /** Primes the tables: one scan of each. */
  def setUp(rep: Int): Unit =
    Files.list(a.data).toArray.map(_.toString).filter(_.endsWith(".parquet"))
      .sorted.foreach(t => spark.read.parquet(t).count())

  private def run(o: Op, k: String): (DataFrame, Array[Row]) = {
    val df = h.layer(o, "analytics.build") {
      val d = fns(k)(spark, a.data.toString)
      d.queryExecution.executedPlan
      d
    }
    (df, h.layer(o, "analytics.exec")(df.collect()))
  }

  /** A key's first run in a JVM is up to 3x slower (JIT, code
    * generation); unwarmed, that cost would land on whichever keys the
    * seed puts first. So every key runs once before the timed loop, on
    * several threads to keep the set-up short. */
  override def warmUp(): Unit = inParallel(keys) { k =>
    fns(k)(spark, a.data.toString).collect()
  }

  def step(): Unit = {
    if (!order.hasNext) order = rnd.shuffle(keys).iterator
    val k = order.next()
    var out: (DataFrame, Array[Row]) = null
    val o = h.op("read")(o => out = run(o, k))
    o.check = k
    if (out != null) h.untimed(firsts.get(k) match {
      case None => firsts(k) = (o, out._1.schema, out._2)
      case Some((_, _, rows)) if rows.sameElements(out._2) => ()
      case Some(_) =>
        o.check = s"$k#${o.id}"
        extra += ((o.check, out._1.schema, out._2))
    })
  }

  /** Runs `f` over `xs` on `a.cpus` threads: for the harness's own work
    * outside the timed loop. */
  private def inParallel[T](xs: Seq[T])(f: T => Unit): Unit = {
    val pool = new java.util.concurrent.ForkJoinPool(a.cpus)
    try {
      val par = xs.par
      par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
      par.foreach(f)
    } finally pool.shutdown()
  }

  override def dumpOutputs(): Unit = {
    val all = firsts.toSeq.map { case (k, (_, s, r)) => (k, s, r) } ++ extra
    inParallel(all) { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(a.work.resolve("dumps").resolve(name).toString)
    }
    firsts.clear()
    extra.clear()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.writeString(a.work.resolve("dumps").resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
  }

  def info: Map[String, String] = Map("keys" -> keys.size.toString,
    "data" -> a.data.getFileName.toString)
}

/** Per-layer metrics derived after an operation, from the streaming
  * listener's progress, the job listener's call sites and table
  * listings — all outside engine code. */
object Layers {
  private val phases = Seq("latestOffset" -> "latest_offset",
    "walCommit" -> "wal_commit", "getBatch" -> "get_batch",
    "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "commit_offsets")

  def streaming(h: Harness, o: Op,
      prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      callNs: Long, jsonBytes: Long, compactEvery: Int, model: OrderModel,
      live: (Int, Long)): Unit = {
    val drain = h.spansOf(o).find(_.name == "streaming.drain")
    o.add("streaming.batches", prog.size.toDouble)
    prog.zipWithIndex.foreach { case (p, i) =>
      val t0 = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      if (i == 0) o.add("streaming.start_ms", math.max(0L, t0 - callNs) / 1e6)
      var t = t0
      phases.foreach { case (key, name) =>
        val d = Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)
        if (name != "get_batch") o.add(s"streaming.${name}_ms", d.toDouble)
        if (d > 0) h.tracer.add(drain.fold(-1)(_.id), s"streaming.$name", t,
          t + d * 1000000L, "batch" -> p.batchId.toString)
        t += d * 1000000L
      }
    }
    o.add("load.rows_in", prog.map(_.numInputRows).sum.toDouble)
    o.add("load.json_bytes_in", jsonBytes.toDouble)
    // The COW commit and the compaction run inside the micro-batch, whose
    // jobs all carry the stream's start call site, so their time stays in
    // streaming.add_batch_ms; the loader compacts after every
    // `compactEvery`-th micro-batch, which the batch ids tell.
    o.add("merge.compactions",
      prog.count(p => p.numInputRows > 0 && (p.batchId + 1) % compactEvery == 0).toDouble)
    merge(o, jsonBytes, model, live, deltas = None)
  }

  def mor(h: Harness, o: Op, rowsIn: Long, jsonBytes: Long, model: OrderModel,
      table: String, live: (Int, Long)): Unit = {
    if (rowsIn > 0) {
      o.add("load.rows_in", rowsIn.toDouble)
      o.add("load.json_bytes_in", jsonBytes.toDouble)
    }
    if (o.kind == "compact") o.add("merge.compactions", 1.0)
    merge(o, jsonBytes, model, live,
      Some(MorTable.liveDeltaFiles(h.spark, table)))
  }

  private def merge(o: Op, jsonBytes: Long, model: OrderModel,
      live: (Int, Long), deltas: Option[Seq[(String, Long)]]): Unit = {
    val (files, bytes) = live
    val deltaBytes = deltas.fold(0L)(_.map(_._2).sum)
    o.m("merge.live_files") = files.toDouble
    deltas.foreach(d => o.m("merge.live_delta_files") = d.size.toDouble)
    if (jsonBytes > 0) o.m("merge.bytes_written_per_input_byte") =
      o.m.getOrElse("fs.bytes_written", 0.0) / jsonBytes
    o.m("merge.table_bytes_per_row") = (bytes + deltaBytes).toDouble / model.rowCount
  }
}

/** Checks of the checker itself: the generator is deterministic in its
  * seed, and a read checked against a model that misses one committed
  * batch is reported as failed. */
object SelfTest {
  def run(h: Harness, a: Args): Seq[(String, Boolean)] = {
    def batches(seed: Long) = {
      val g = new OrderGen(seed)
      (0 until 12).map(i => OrderGen.render(g.nextBatch(
        if (i == 0) PrimeRows else BatchRows)))
    }
    def equal(x: Seq[Array[Byte]], y: Seq[Array[Byte]]) =
      x.zip(y).forall { case (p, q) => java.util.Arrays.equals(p, q) }
    val w = new DcaIngest(h, a)
    w.setUp(0)
    (1 to 3).foreach(_ => w.step())
    val n = h.ops.count(_.kind == "write") + 1 // + the priming batch
    Seq(
      "same seed gives byte-identical batches" -> equal(batches(a.seed), batches(a.seed)),
      "another seed gives other batches" -> !equal(batches(a.seed), batches(a.seed + 1)),
      "every timed-style read passed" -> h.ops.forall(_.ok.contains(true)),
      "read matches the full model" -> w.readMatchesModelWithout(-1),
      "read fails against the model missing the latest batch" ->
        !w.readMatchesModelWithout(n - 1),
      "read fails against the model missing a middle batch" ->
        !w.readMatchesModelWithout(n / 2))
  }
}
