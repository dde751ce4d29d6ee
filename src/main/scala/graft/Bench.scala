package graft
object Bench {
  /** Host 1-minute load average (-1.0 when unavailable): the hot-box
    * witness stamped into the bench header at start and end. */
  private def loadavg1m: Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch {
      case _: Throwable =>
        try java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        catch { case _: Throwable => -1.0 }
    }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg1m
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SessionTuning.local(cpus)
    // builder-side iteration only (the driver never sets it): restrict
    // to a comma-separated key list, e.g. SPARK_GRAFT_BENCH_ONLY=q18,q22
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val producer = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRODUCER", "driver")
    // The r10 DNF lesson: the driver's single-JVM full-registry run
    // (warmup + TWO timed passes over 188 keys) outgrew its outer
    // window on a loaded box (rc=124, parsed:null — no usable artifact
    // at all). A complete single-pass record beats a truncated
    // min-of-two: driver runs take ONE timed pass; builder records
    // (SPARK_GRAFT_BENCH_PRODUCER=builder, the figures BASELINE.md is
    // generated from) keep the min-of-two discipline. The header
    // stamps `passes` so readers can tell the regimes apart —
    // bench_compare.py already refuses cross-producer comparisons.
    val passes = if (producer == "driver") 1 else 2
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.forall(_.contains(k)) }
    // warmup at smoke scale: JIT + codegen caches, so timings below
    // measure the queries, not JVM warmup (order-of-run noise otherwise
    // dominates small queries). BUILDER records only: measured at
    // ~7 min over the full registry (r11f), which is what pushed the
    // r10 driver run past its outer window (rc=124, no artifact at
    // all) — for the DRIVER regime a complete cold record beats a
    // truncated warm one, the same trade as the 1-pass rule below.
    // Validated end-to-end on an idle box: full 210-key driver run
    // 18.3 min with warmup vs 11.5 min without, zero DNFs either way,
    // cold totals ~10% above warm (676s vs 613s measured).
    // The header stamps `warmup` so regimes can't be silently mixed
    // (bench_compare already refuses cross-producer comparisons).
    val doWarmup = producer != "driver"
    if (doWarmup) {
      val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
        "/root/testdata/sf0.001")
      sorted.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }
    // two timed passes, min per query: one GC pause or compilation stall
    // shouldn't misreport a query as slow. A failed query records the
    // sentinel -1 (not its elapsed time) so a broken query can't skew
    // the totals, and the process exits non-zero.
    def timed(): Map[String, Double] = sorted.map { case (name, fn) =>
      val t0 = System.nanoTime()
      // noop sink: full materialization of every output column (count()
      // would let Catalyst prune the actual compute for narrow queries)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }.toMap
    val runs = (1 to passes).map(_ => timed())
    val results = runs.head.keys.map { k =>
      val vs = runs.map(_(k))
      k -> (if (vs.exists(_ < 0)) -1.0 else vs.min)
    }.toMap
    val failed = results.collect { case (k, v) if v < 0 => k }
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Provenance header: BASELINE.md's r1/r2 lesson is that driver-run
    // and builder-run figures disagree by up to 2x (box load); comparing
    // across producers silently mixes regimes. Stamp the producing sha
    // (git rev-parse from the working directory — handles worktrees and
    // packed refs, with a loose-ref fallback when git is unavailable),
    // the producer flag (builder runs export
    // SPARK_GRAFT_BENCH_PRODUCER=builder; the driver never sets it),
    // the start wall-clock, and the host 1-minute loadavg at start and
    // end — round 9 burned three A/B adjudications proving a "perf
    // regression" was a hot box; the header now carries the evidence,
    // and tools/bench_compare.py annotates comparisons where either
    // side ran loaded.
    val sha = {
      def gitRevParse: Option[String] =
        try {
          val p = new ProcessBuilder("git", "rev-parse", "HEAD")
            .redirectErrorStream(true).start()
          val o = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
          if (p.waitFor() == 0 && o.matches("[0-9a-f]{40}")) Some(o.take(12))
          else None
        } catch { case _: Throwable => None }
      def looseRef: Option[String] =
        try {
          val git = java.nio.file.Paths.get(".git")
          val head = new String(
            java.nio.file.Files.readAllBytes(git.resolve("HEAD")),
            "UTF-8").trim
          if (head.startsWith("ref: "))
            Some(new String(java.nio.file.Files.readAllBytes(
              git.resolve(head.drop(5))), "UTF-8").trim.take(12))
          else Some(head.take(12))
        } catch { case _: Throwable => None }
      gitRevParse.orElse(looseRef).getOrElse("unknown")
    }
    val startedAt = java.time.Instant.now().toString
    val loadEnd = loadavg1m
    val line =
      s"""{"metric":"total","unit":"sec","sha":"$sha","producer":"$producer","passes":$passes,"warmup":$doWarmup,"started_at":"$startedAt","load_start":$loadStart,"load_end":$loadEnd,"cpus":$cpus,"sf":"$sfDir","queries":$qs,"value":$total}"""
    // Durable record: the driver keeps only a bounded tail of stdout, so
    // a growing registry silently loses head-of-line per-query figures.
    // Persist the full record to the repo (committed per round) and print
    // the summary with `value` (the total) LAST so it survives truncation.
    // bench_full_latest.json is the BUILDER figure of record (two
    // timed passes after warmup on a quiet box). The driver regime
    // (one cold pass, warmup=false) is not comparable, so its durable
    // record lands under a regime-qualified name instead of silently
    // re-dirtying the committed builder record every round;
    // tools/gen_baseline.py additionally refuses a mis-regimed latest.
    // A relative default resolves against the working directory: the
    // checkout the bench runs from, never another one.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT",
      if (producer == "builder") "bench_full_latest.json"
      else "bench_full_driver_latest.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    println(line)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
