package graft.merge

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read laws: snapshot ≡ the COW table the same batches build
  * (the differential oracle), writes touch no base file, the
  * read-optimized view is stale exactly until compaction, tombstones,
  * crash residue invisibility, schema evolution, and the shared
  * timeline. */
class MorTableSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("transaction_id", "close_time")

  private def tx(rows: (String, String, String, Double)*): DataFrame =
    rows.toDF("transaction_id", "close_time", "pair", "price")

  private def snap(df: DataFrame): Seq[(String, String, String, Double)] =
    df.select("transaction_id", "close_time", "pair", "price")
      .as[(String, String, String, Double)].collect().toSeq.sorted

  private def baseFiles(path: String): Map[String, (Long, Long)] = {
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new Path(path))
    Merge.listDataStatuses(fs, root)
      .map(st => (Merge.relativize(root, st.getPath),
        (st.getLen, st.getModificationTime))).toMap
  }

  private def deltaFiles(path: String): Seq[String] = {
    val fs = Merge.fsFor(spark, path)
    Merge.listDataStatuses(fs, new Path(path, "_graft_deltas"))
      .map(_.getPath.getName)
  }

  test("snapshot equals the COW table the same batches build") {
    val mor = tmpDir("mor_diff")
    val cow = tmpDir("cow_diff")
    val b1 = tx(("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "BTCUSD", 2.0),
      ("T3", "c1", "ADAGBP", 3.0))
    val b2 = tx(("T1", "c1", "ADAGBP", 9.0), ("T4", "c1", "ETHUSD", 4.0))
    val del = Seq(("T3", "c1", "ADAGBP")).toDF(
      "transaction_id", "close_time", "pair")
    val b3 = tx(("T2", "c1", "BTCUSD", 7.0), ("T5", "c1", "ADAGBP", 5.0))
    MorTable.upsert(spark, b1, mor, keyCols, "price", "pair")
    MorTable.upsert(spark, b2, mor, keyCols, "price", "pair")
    MorTable.delete(spark, del, mor)
    MorTable.upsert(spark, b3, mor, keyCols, "price", "pair")
    Merge.upsert(spark, b1, cow, keyCols, "price", "pair")
    Merge.upsert(spark, b2, cow, keyCols, "price", "pair")
    Merge.delete(spark, del.select("transaction_id", "close_time", "pair"),
      cow, keyCols, "pair")
    Merge.upsert(spark, b3, cow, keyCols, "price", "pair")
    assert(snap(MorTable.read(spark, mor)) === snap(Merge.readTable(spark, cow)))
  }

  test("delta writes touch no base file (the MOR write-cost claim)") {
    val path = tmpDir("mor_mtime")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    val before = baseFiles(path)
    assert(before.nonEmpty)
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    MorTable.delete(spark, Seq(("T2", "c1", "BTCUSD")).toDF(
      "transaction_id", "close_time", "pair"), path)
    MorTable.upsert(spark, tx(("T3", "c2", "ADAGBP", 5.0)),
      path, keyCols, "price", "pair")
    assert(baseFiles(path) === before,
      "a MOR upsert/delete must not add, remove, or rewrite base files")
    assert(deltaFiles(path).nonEmpty)
  }

  test("batch wins over stored even with lower precombine (O1 parity)") {
    val path = tmpDir("mor_batchwins")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    assert(snap(MorTable.read(spark, path)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0)))
  }

  test("within-batch precombine dedup applies on the delta path (O4)") {
    val path = tmpDir("mor_precombine")
    MorTable.upsert(spark, tx(("T0", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 3.0),
      ("T1", "c1", "ADAGBP", 8.0)), path, keyCols, "price", "pair")
    assert(snap(MorTable.read(spark, path)) === Seq(
      ("T0", "c1", "ADAGBP", 1.0), ("T1", "c1", "ADAGBP", 8.0)))
  }

  test("read-optimized is stale until compact, exact after") {
    val path = tmpDir("mor_ro")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    // _ro view: still the base state
    assert(snap(MorTable.readOptimized(spark, path)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0)))
    val folded = MorTable.compact(spark, path)
    assert(folded > 0)
    assert(deltaFiles(path).isEmpty, "compaction must consume the deltas")
    val expected = Seq(("T1", "c1", "ADAGBP", 9.0), ("T2", "c1", "BTCUSD", 2.0))
    assert(snap(MorTable.readOptimized(spark, path)) === expected)
    assert(snap(MorTable.read(spark, path)) === expected)
    assert(MorTable.compact(spark, path) === 0L, "nothing left to fold")
  }

  test("tombstone hides a key immediately; compaction makes it physical") {
    val path = tmpDir("mor_tomb")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    MorTable.delete(spark, Seq(("T2", "c1", "BTCUSD")).toDF(
      "transaction_id", "close_time", "pair"), path)
    assert(snap(MorTable.read(spark, path)) === Seq(("T1", "c1", "ADAGBP", 1.0)))
    // still physically in base until compaction
    assert(snap(MorTable.readOptimized(spark, path)).size === 2)
    MorTable.compact(spark, path)
    assert(snap(MorTable.readOptimized(spark, path)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0)))
    // the emptied partition dir is dropped
    val fs = Merge.fsFor(spark, path)
    assert(!fs.exists(new Path(path, "pair=BTCUSD")))
  }

  test("crash residue (claimed but unrecorded) never surfaces, and " +
      "compaction sweeps it") {
    val path = tmpDir("mor_crash")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // simulate a writer that crashed after publishing delta files but
    // before the timeline record: claim an id (marker stays), drop a
    // stamped delta file in place, never record
    val cts = Timeline.claim(spark, path)
    tx(("T1", "c1", "ADAGBP", 666.0))
      .withColumn(Merge.commitCol, lit(cts))
      .withColumn(MorTable.deletedCol, lit(false))
      .write.mode("append").parquet(path + "/_graft_deltas/pair=ADAGBP")
    assert(snap(MorTable.read(spark, path)) === Seq(("T1", "c1", "ADAGBP", 1.0)),
      "unrecorded delta rows must be invisible")
    MorTable.compact(spark, path)
    assert(deltaFiles(path).isEmpty, "compaction sweeps crash residue too")
    assert(snap(MorTable.read(spark, path)) === Seq(("T1", "c1", "ADAGBP", 1.0)))
    // residue is the only delta of a partition with base rows (BTCUSD)
    // and of one with none (ETHUSD): both partitions count as touched,
    // and their base rows pass through the merge window unchanged
    val c2 = MorTable.upsert(spark, tx(("T2", "c1", "BTCUSD", 2.0)),
      path, keyCols, "price", "pair")
    MorTable.compact(spark, path)
    val c4 = MorTable.upsert(spark, tx(("T3", "c1", "ADAGBP", 3.0)),
      path, keyCols, "price", "pair")
    val residue = Timeline.claim(spark, path)
    Seq("BTCUSD" -> tx(("T2", "c1", "BTCUSD", 666.0)),
      "ETHUSD" -> tx(("T9", "c1", "ETHUSD", 666.0))).foreach { case (p, df) =>
      df.withColumn(Merge.commitCol, lit(residue))
        .withColumn(MorTable.deletedCol, lit(false))
        .write.mode("append").parquet(path + s"/_graft_deltas/pair=$p")
    }
    val live = Seq(("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "BTCUSD", 2.0),
      ("T3", "c1", "ADAGBP", 3.0))
    assert(snap(MorTable.read(spark, path)) === live)
    assert(snap(MorTable.readAsOf(spark, path, c4)) === live)
    assert(snap(MorTable.readAsOf(spark, path, c2)) === live.take(2))
    MorTable.compact(spark, path)
    assert(deltaFiles(path).isEmpty, "compaction sweeps that residue too")
    assert(snap(MorTable.read(spark, path)) === live)
    assert(snap(MorTable.readOptimized(spark, path)) === live)
  }

  test("interrupted compaction (deltas not yet consumed) stays correct") {
    val path = tmpDir("mor_interrupt")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    MorTable.delete(spark, Seq(("T2", "c1", "BTCUSD")).toDF(
      "transaction_id", "close_time", "pair"), path)
    val expected = Seq(("T1", "c1", "ADAGBP", 9.0))
    // copy the live deltas aside, compact, then restore the copies —
    // exactly the state a crash between the commit record and delta
    // consumption leaves behind
    val fs = Merge.fsFor(spark, path)
    val dRoot = new Path(path, "_graft_deltas")
    val saved = Merge.listDataStatuses(fs, dRoot).map { st =>
      val rel = Merge.relativize(fs.makeQualified(new Path(path)), st.getPath)
      val bytes = {
        val in = fs.open(st.getPath)
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      }
      (rel, bytes)
    }
    MorTable.compact(spark, path)
    saved.foreach { case (rel, bytes) =>
      val dest = new Path(new Path(path), rel)
      fs.mkdirs(dest.getParent)
      val out = fs.create(dest, true)
      try out.write(bytes) finally out.close()
    }
    assert(snap(MorTable.read(spark, path)) === expected,
      "leftover folded deltas must tie with base, not corrupt the view")
    assert(MorTable.compact(spark, path) >= 0)
    assert(snap(MorTable.read(spark, path)) === expected)
  }

  test("additive schema evolution on the delta path") {
    val path = tmpDir("mor_evolve")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    MorTable.upsert(spark,
      tx(("T1", "c1", "ADAGBP", 9.0)).withColumn("src", lit("b2")),
      path, keyCols, "price", "pair")
    val got = MorTable.read(spark, path)
      .select("transaction_id", "price", "src")
      .as[(String, Double, Option[String])].collect().toSeq.sorted
    assert(got === Seq(("T1", 9.0, Some("b2")), ("T2", 2.0, None)))
    MorTable.compact(spark, path)
    val ro = MorTable.readOptimized(spark, path)
      .select("transaction_id", "price", "src")
      .as[(String, Double, Option[String])].collect().toSeq.sorted
    assert(ro === Seq(("T1", 9.0, Some("b2")), ("T2", 2.0, None)))
  }

  test("shared timeline: base, delta, and compaction commits enumerate; " +
      "readSince pulls across both kinds") {
    val path = tmpDir("mor_timeline")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val c2 = MorTable.upsert(spark, tx(("T2", "c1", "BTCUSD", 2.0)),
      path, keyCols, "price", "pair")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    val ids = Merge.commits(spark, path)
      .select("commit_ts").as[Long].collect().toSeq.sorted
    assert(ids === Seq(1L, 2L, 3L))
    val inc = MorTable.readSince(spark, path, c2)
      .select("transaction_id", "price").as[(String, Double)]
      .collect().toSeq.sorted
    assert(inc === Seq(("T1", 9.0)), "only commit-3's winner is newer than c2")
    assert(Merge.readSince(spark, path, c2)
      .select("transaction_id", "price").as[(String, Double)]
      .collect().toSeq.sorted === inc, "Merge.readSince merges the deltas too")
    MorTable.compact(spark, path)
    assert(Merge.commits(spark, path).count() === 4,
      "compaction is a timeline event")
    // stamps pass through compaction: the same pull still answers
    val inc2 = MorTable.readSince(spark, path, c2)
      .select("transaction_id", "price").as[(String, Double)]
      .collect().toSeq.sorted
    assert(inc2 === Seq(("T1", 9.0)))
  }

  test("no live deltas short-circuits to the plain base read (no window)") {
    val path = tmpDir("mor_shortcircuit")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val plan = MorTable.read(spark, path)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"),
      s"delta-free MOR read must not pay a merge window:\n$plan")
  }

  test("ordered payload: per-key precombine argmax, invariant to batch " +
      "split (COW upsertOrdered parity)") {
    val mor = tmpDir("mor_ord")
    val cow = tmpDir("cow_ord")
    val rows = Seq(
      tx(("T1", "c1", "ADAGBP", 5.0), ("T2", "c1", "BTCUSD", 2.0)),
      tx(("T1", "c1", "ADAGBP", 3.0), ("T3", "c1", "ADAGBP", 1.0)), // T1 loses
      tx(("T2", "c1", "BTCUSD", 9.0), ("T1", "c1", "ADAGBP", 4.0))) // T1 loses
    rows.foreach(b =>
      MorTable.upsertOrdered(spark, b, mor, keyCols, "price", Seq("pair")))
    rows.foreach(b =>
      Merge.upsertOrdered(spark, b, cow, keyCols, "price", Seq("pair")))
    val expected = Seq(("T1", "c1", "ADAGBP", 5.0),
      ("T2", "c1", "BTCUSD", 9.0), ("T3", "c1", "ADAGBP", 1.0))
    assert(snap(MorTable.read(spark, mor)) === expected)
    assert(snap(Merge.readTable(spark, cow)) === expected)
    // and a different batch grouping converges to the same state
    val mor2 = tmpDir("mor_ord2")
    MorTable.upsertOrdered(spark, rows.reduce(_ union _), mor2,
      keyCols, "price", Seq("pair"))
    assert(snap(MorTable.read(spark, mor2)) === expected)
  }

  test("ordered payload: tombstones compete by precombine") {
    val path = tmpDir("mor_ordtomb")
    MorTable.upsertOrdered(spark, tx(("T1", "c1", "ADAGBP", 5.0),
      ("T2", "c1", "BTCUSD", 5.0)), path, keyCols, "price", Seq("pair"))
    // T1 tombstone WINS (9 > 5); T2 tombstone LOSES (3 < 5)
    MorTable.delete(spark, Seq(
      ("T1", "c1", "ADAGBP", 9.0), ("T2", "c1", "BTCUSD", 3.0)
    ).toDF("transaction_id", "close_time", "pair", "price"), path)
    assert(snap(MorTable.read(spark, path)) ===
      Seq(("T2", "c1", "BTCUSD", 5.0)))
    // compaction makes it physical and stays content-invariant
    MorTable.compact(spark, path)
    assert(snap(MorTable.readOptimized(spark, path)) ===
      Seq(("T2", "c1", "BTCUSD", 5.0)))
    val fs = Merge.fsFor(spark, path)
    assert(!fs.exists(new Path(path, "pair=ADAGBP")))
  }

  test("ordered payload: delete without the precombine column is refused") {
    val path = tmpDir("mor_ordreq")
    MorTable.upsertOrdered(spark, tx(("T1", "c1", "ADAGBP", 5.0)),
      path, keyCols, "price", Seq("pair"))
    intercept[IllegalArgumentException] {
      MorTable.delete(spark, Seq(("T1", "c1", "ADAGBP")).toDF(
        "transaction_id", "close_time", "pair"), path)
    }
    // and a latest-payload upsert onto an ordered table is refused
    intercept[IllegalArgumentException] {
      MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
        path, keyCols, "price", "pair")
    }
  }

  test("readChanges and COW readAsOf refuse on a MOR table, explicitly") {
    val path = tmpDir("mor_cdc")
    val c1 = MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val c2 = MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair")
    // a delta commit's rows are merge INPUTS, not post-images — CDC
    // must refuse rather than fabricate changes from base files alone;
    // and the COW as-of entry point must route to MorTable.readAsOf
    val e = intercept[IllegalArgumentException](
      Merge.readChanges(spark, path, c1, c2, keyCols :+ "pair"))
    assert(e.getMessage.contains("MERGE_ON_READ"))
    val e2 = intercept[IllegalArgumentException](
      Merge.readAsOf(spark, path, c1))
    assert(e2.getMessage.contains("MorTable.readAsOf"))
  }

  test("MOR time travel: every boundary replays, across delta commits") {
    val path = tmpDir("mor_tt")
    val c1 = MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    val c2 = MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    val c3 = MorTable.delete(spark, Seq(("T2", "c1", "BTCUSD")).toDF(
      "transaction_id", "close_time", "pair"), path)
    assert(snap(MorTable.readAsOf(spark, path, c1)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "BTCUSD", 2.0)))
    assert(snap(MorTable.readAsOf(spark, path, c2)) ===
      Seq(("T1", "c1", "ADAGBP", 9.0), ("T2", "c1", "BTCUSD", 2.0)))
    // as of the head commit ≡ the live snapshot; before history ≡ empty
    assert(snap(MorTable.readAsOf(spark, path, c3)) ===
      snap(MorTable.read(spark, path)))
    assert(MorTable.readAsOf(spark, path, 0L).count() === 0L)
  }

  test("MOR time travel: back PAST a compaction (deltas from history)") {
    val path = tmpDir("mor_ttc")
    val c1 = MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    val c2 = MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    MorTable.compact(spark, path)
    val c4 = MorTable.upsert(spark, tx(("T2", "c1", "BTCUSD", 5.0)),
      path, keyCols, "price", "pair")
    // pre-compaction boundaries need BOTH replays: base-at-T plus the
    // consumed delta files read back from the compaction's history dir
    assert(snap(MorTable.readAsOf(spark, path, c1)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "BTCUSD", 2.0)))
    assert(snap(MorTable.readAsOf(spark, path, c2)) ===
      Seq(("T1", "c1", "ADAGBP", 9.0), ("T2", "c1", "BTCUSD", 2.0)))
    assert(snap(MorTable.readAsOf(spark, path, c4)) ===
      snap(MorTable.read(spark, path)))
    // the cleaner still governs: sweeping history past the compaction
    // raises the floor and pre-compaction reads refuse
    Merge.clean(spark, path, retainLast = 1)
    val e = intercept[IllegalStateException](
      MorTable.readAsOf(spark, path, c1))
    assert(e.getMessage.contains("history floor") ||
      e.getMessage.contains("floor"))
  }

  test("spec mismatch and non-MOR paths fail loudly") {
    val path = tmpDir("mor_spec")
    MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    intercept[IllegalArgumentException] {
      MorTable.upsert(spark, tx(("T1", "c1", "ADAGBP", 2.0)),
        path, Seq("transaction_id"), "price", "pair")
    }
    val cow = tmpDir("mor_cow")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      cow, keyCols, "price", "pair")
    intercept[IllegalArgumentException] { MorTable.read(spark, cow) }
  }
}
