package graft.merge

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time travel (`readAsOf` — Hudi 0.10's `as.of.instant` analogue),
  * history retention + [[Merge.clean]], delete as a timeline event,
  * and ordered-payload
  * upsert (`DefaultHoodieRecordPayload` semantics). */
class TimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("transaction_id", "close_time")

  private def tx(rows: (String, String, String, Double)*): DataFrame =
    rows.toDF("transaction_id", "close_time", "pair", "price")

  private def snap(df: DataFrame): Seq[(String, String, String, Double)] =
    df.select("transaction_id", "close_time", "pair", "price")
      .as[(String, String, String, Double)]
      .collect().toSeq.sorted

  /** A three-commit versioned table: T1 written at c1, overwritten at
    * c2; T2 added at c2; T3 added at c3 in another partition. */
  private def build3(path: String): (Long, Long, Long) = {
    val c1 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val c2 = Merge.upsert(spark,
      tx(("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)),
      path, keyCols, "price", "pair")
    val c3 = Merge.upsert(spark, tx(("T3", "c3", "BTCUSD", 4.0)),
      path, keyCols, "price", "pair")
    (c1, c2, c3)
  }

  test("readAsOf reconstructs every commit boundary exactly") {
    val path = tmpDir("tt") + "/table"
    val (c1, c2, c3) = build3(path)
    assert(snap(Merge.readAsOf(spark, path, c1)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0)))
    assert(snap(Merge.readAsOf(spark, path, c2)) === Seq(
      ("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)))
    // as of the newest commit == the current read, byte-for-byte
    assert(snap(Merge.readAsOf(spark, path, c3)) ===
      snap(Merge.readTable(spark, path)))
    // and every row in a snapshot is stamped at or before the as-of id
    val maxStamp = Merge.readAsOf(spark, path, c2)
      .agg(max(col(Merge.commitCol))).head().getLong(0)
    assert(maxStamp <= c2)
  }

  test("commitAtWallClock: instant → latest commit recorded ≤ instant") {
    val path = tmpDir("ttw") + "/table"
    val (c1, c2, c3) = build3(path)
    val w = Seq(c1, c2, c3).map(c =>
      c -> Merge.commitWallClock(spark, path, c).get).toMap
    // recording order is monotone on one writer
    assert(w(c1) <= w(c2) && w(c2) <= w(c3))
    // each commit's own instant resolves to it (inclusive ≤)... when
    // the next commit recorded in a LATER millisecond; commits here are
    // full Spark jobs, so the guard below documents the assumption
    // rather than papering over a real tie
    if (w(c1) < w(c2)) assert(Merge.commitAtWallClock(spark, path, w(c1)) === c1)
    if (w(c2) < w(c3)) assert(Merge.commitAtWallClock(spark, path, w(c2)) === c2)
    // far future → latest; before the first record → loud refusal
    assert(Merge.commitAtWallClock(spark, path, w(c3) + 1000000L) === c3)
    val e = intercept[IllegalArgumentException] {
      Merge.commitAtWallClock(spark, path, w(c1) - 1000000L)
    }
    assert(e.getMessage.contains("no commit"))
  }

  test("commitAtWallClock: legacy records without wall_ms stay resolvable") {
    val path = tmpDir("ttl") + "/table"
    val (c1, _, c3) = build3(path)
    // strip wall_ms from c1's record, simulating a commit written
    // before the field existed — it must count as predating any instant
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_commits",
      f"$c1%020d.json")
    val body = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val stripped = body.replaceAll(""""wall_ms"\s*:\s*\d+,""", "")
    assert(stripped != body, "fixture must actually strip the field")
    val out = fs.create(p, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    // an instant before every RECORDED wall clock now resolves to the
    // legacy commit (assumed to predate the feature), not a refusal
    val wLater = Merge.commitWallClock(spark, path, c3).get
    assert(Merge.commitAtWallClock(spark, path, 1L) === c1)
    assert(Merge.commitAtWallClock(spark, path, wLater + 1000L) === c3)
  }

  test("readAsOf before the first commit is the empty table") {
    val path = tmpDir("tt0") + "/table"
    build3(path)
    assert(Merge.readAsOf(spark, path, 0L).count() === 0L)
  }

  test("readAsOf sees through a versioned delete") {
    val path = tmpDir("ttdel") + "/table"
    val (_, c2, _) = build3(path)
    Merge.delete(spark, Seq(("T1", "c1", "ADAGBP")).toDF(
      "transaction_id", "close_time", "pair"),
      path, keyCols, Seq("pair"))
    // current state lost T1; the pre-delete snapshot still has it
    assert(!snap(Merge.readTable(spark, path)).exists(_._1 == "T1"))
    assert(snap(Merge.readAsOf(spark, path, c2)) === Seq(
      ("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)))
  }

  test("readChanges classifies inserts/updates/deletes; carried rows never leak") {
    val path = tmpDir("cdc") + "/table"
    val c1 = Merge.upsert(spark,
      tx(("T0", "c0", "ADAGBP", 0.5), ("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    Merge.upsert(spark,
      tx(("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)),
      path, keyCols, "price", "pair")
    val c3 = Merge.delete(spark,
      Seq(("T0", "c0", "ADAGBP")).toDF("transaction_id", "close_time", "pair"),
      path, keyCols, Seq("pair"))
    val fullKey = keyCols :+ "pair"
    val ch = Merge.readChanges(spark, path, c1, c3, fullKey)
      .select("transaction_id", "price", "_change_type", "_change_commit")
      .as[(String, Double, String, Long)].collect().toSet
    // T0 was carried through c2's group rewrite untouched — it must
    // surface ONLY as c3's delete, with its pre-change payload
    assert(ch === Set(
      ("T1", 1.0, "update_preimage", c1 + 1),
      ("T1", 2.0, "update_postimage", c1 + 1),
      ("T2", 3.0, "insert", c1 + 1),
      ("T0", 0.5, "delete", c3)))
    // the first commit against an empty table is pure inserts
    val first = Merge.readChanges(spark, path, 0L, c1, fullKey)
      .select("transaction_id", "_change_type")
      .as[(String, String)].collect().toSet
    assert(first === Set(("T0", "insert"), ("T1", "insert")))
  }

  test("versioned insertOverwrite composes with time travel, CDC, restore") {
    val path = tmpDir("iowv") + "/table"
    val c1 = Merge.upsert(spark,
      tx(("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "ADAGBP", 2.0),
        ("T3", "c1", "BTCUSD", 3.0)),
      path, keyCols, "price", "pair")
    val c2 = Merge.insertOverwrite(spark,
      tx(("T1", "c1", "ADAGBP", 5.0), ("T4", "c4", "ADAGBP", 4.0)),
      path, keyCols, "price", Seq("pair"))
    // current state: the replace landed, BTCUSD untouched
    assert(snap(Merge.readTable(spark, path)) === Seq(
      ("T1", "c1", "ADAGBP", 5.0), ("T3", "c1", "BTCUSD", 3.0),
      ("T4", "c4", "ADAGBP", 4.0)))
    // the pre-backfill snapshot reconstructs from history
    assert(snap(Merge.readAsOf(spark, path, c1)) === Seq(
      ("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "ADAGBP", 2.0),
      ("T3", "c1", "BTCUSD", 3.0)))
    // CDC sees the replace as its exact row-level effect — no special
    // casing in readChanges: kept key updates, vanished key deletes,
    // new key inserts, other partitions silent
    val ch = Merge.readChanges(spark, path, c1, c2, keyCols :+ "pair")
      .select("transaction_id", "price", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(ch === Set(
      ("T1", 1.0, "update_preimage"), ("T1", 5.0, "update_postimage"),
      ("T2", 2.0, "delete"), ("T4", 4.0, "insert")))
    // and the backfill physically reverts
    Merge.restoreTo(spark, path, c1)
    assert(snap(Merge.readTable(spark, path)) === Seq(
      ("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "ADAGBP", 2.0),
      ("T3", "c1", "BTCUSD", 3.0)))
  }

  test("bootstrap adopts a plain layout: timeline works, pulls exclude " +
      "pre-timeline rows") {
    val path = tmpDir("boot") + "/table"
    tx(("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "BTCUSD", 2.0))
      .write.partitionBy("pair").parquet(path)
    val c1 = Merge.bootstrap(spark, path, Seq("pair"))
    assert(c1 === 1L)
    // adopting again, or adopting a timeline'd table, refuses
    intercept[IllegalArgumentException](
      Merge.bootstrap(spark, path, Seq("pair")))
    val c2 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    assert(snap(Merge.readTable(spark, path)) === Seq(
      ("T1", "c1", "ADAGBP", 9.0), ("T2", "c1", "BTCUSD", 2.0)))
    // incremental pull from 0: only post-adoption changes (pre-timeline
    // rows carry a null stamp and are honestly excluded)
    assert(snap(Merge.readSince(spark, path, 0L)) === Seq(
      ("T1", "c1", "ADAGBP", 9.0)))
    // time travel back to the adoption point restores the raw layout
    assert(snap(Merge.readAsOf(spark, path, c1)) === Seq(
      ("T1", "c1", "ADAGBP", 1.0), ("T2", "c1", "BTCUSD", 2.0)))
    // and the timeline enumerates both commits with real row counts
    val t = Merge.commits(spark, path).orderBy("commit_ts")
      .select("commit_ts", "n_rows").as[(Long, Long)].collect().toSeq
    assert(t === Seq((c1, 2L), (c2, 1L)))
  }

  test("readChanges × ordered payload: a losing batch row emits NO change") {
    val path = tmpDir("cdcord") + "/table"
    val c1 = Merge.upsertOrdered(spark,
      tx(("T1", "c1", "ADAGBP", 9.0), ("T2", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", Seq("pair"))
    // T1's update LOSES on precombine (5.0 < 9.0): its file group is
    // rewritten but the stored row — and stamp — carry through, so CDC
    // must see only T2's win; a naive rewrote-therefore-changed CDC
    // would fabricate a phantom T1 update
    val c2 = Merge.upsertOrdered(spark,
      tx(("T1", "c1", "ADAGBP", 5.0), ("T2", "c1", "ADAGBP", 7.0)),
      path, keyCols, "price", Seq("pair"))
    val ch = Merge.readChanges(spark, path, c1, c2, keyCols :+ "pair")
      .select("transaction_id", "price", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(ch === Set(
      ("T2", 1.0, "update_preimage"), ("T2", 7.0, "update_postimage")))
  }

  test("readChanges across additive evolution: pre-images null-fill") {
    val path = tmpDir("cdcevo") + "/table"
    val c1 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // commit 2's batch carries a column commit 1 never had
    val c2 = Merge.upsert(spark,
      Seq(("T1", "c1", "ADAGBP", 2.0, "b2")).toDF(
        "transaction_id", "close_time", "pair", "price", "src"),
      path, keyCols, "price", "pair")
    val ch = Merge.readChanges(spark, path, c1, c2, keyCols :+ "pair")
      .select("transaction_id", "price", "src", "_change_type")
      .as[(String, Double, Option[String], String)].collect().toSet
    // the pre-image file predates the column: reads back null-filled
    // through the current recorded schema, exactly like a table read
    assert(ch === Set(
      ("T1", 1.0, None, "update_preimage"),
      ("T1", 2.0, Some("b2"), "update_postimage")))
  }

  test("readChanges: empty range yields the contract schema, zero rows") {
    val path = tmpDir("cdcempty") + "/table"
    val (_, _, c3) = build3(path)
    val ch = Merge.readChanges(spark, path, c3, c3 + 10, keyCols :+ "pair")
    assert(ch.count() === 0L)
    assert(ch.columns.contains("_change_type") &&
      ch.columns.contains("_change_commit"))
    assert(!ch.columns.contains(Merge.commitCol))
  }

  test("readChanges refuses once history is voided or cleaned past the range") {
    val path = tmpDir("cdcvoid") + "/table"
    val (c1, _, c3) = build3(path)
    // cleaning to the last commit sweeps the pre-images readChanges
    // needs for (c1, c3]
    Merge.clean(spark, path, retainLast = 1)
    val e = intercept[IllegalStateException](
      Merge.readChanges(spark, path, c1, c3, keyCols :+ "pair"))
    assert(e.getMessage.contains("history floor"))
  }

  test("deleteVersioned is a timeline event that owns no rows") {
    val path = tmpDir("ttdelc") + "/table"
    build3(path)
    val cd = Merge.delete(spark, Seq(("T2", "c2", "ADAGBP")).toDF(
      "transaction_id", "close_time", "pair"),
      path, keyCols, Seq("pair"))
    val row = Merge.commits(spark, path)
      .filter(col("commit_ts") === cd).collect()
    assert(row.length === 1 && row.head.getLong(1) === 0L)
    // no incremental pull ever returns rows for the delete commit
    assert(Merge.readSince(spark, path, cd - 1).count() === 0L)
  }

  test("clean retains the last N commits and raises the floor") {
    val path = tmpDir("ttclean") + "/table"
    val (c1, c2, c3) = build3(path)
    assert(Merge.historyFloor(spark, path) === 0L)
    val removed = Merge.clean(spark, path, retainLast = 1)
    // c1 and c2's history is gone (c1 retired nothing — only c2's dir
    // physically existed below the floor)
    assert(removed === 1L)
    assert(Merge.historyFloor(spark, path) === c2)
    intercept[IllegalStateException](Merge.readAsOf(spark, path, c1))
    // the retained window still serves
    assert(snap(Merge.readAsOf(spark, path, c2)) === Seq(
      ("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)))
    assert(snap(Merge.readAsOf(spark, path, c3)) ===
      snap(Merge.readTable(spark, path)))
    // cleaning again with the same retention is a no-op
    assert(Merge.clean(spark, path, retainLast = 1) === 0L)
  }

  test("savepoint pins a commit against clean; release unpins") {
    val path = tmpDir("ttsp") + "/table"
    val (c1, _, c3) = build3(path)
    Merge.savepoint(spark, path, c1)
    assert(Merge.savepoints(spark, path) === Seq(c1))
    // retention alone would sweep past c1; the pin caps the floor
    assert(Merge.clean(spark, path, retainLast = 1) === 0L)
    assert(Merge.historyFloor(spark, path) <= c1)
    assert(snap(Merge.readAsOf(spark, path, c1)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0)))
    // released: the next clean sweeps and the snapshot refuses
    Merge.releaseSavepoint(spark, path, c1)
    assert(Merge.savepoints(spark, path).isEmpty)
    assert(Merge.clean(spark, path, retainLast = 1) > 0L)
    intercept[IllegalStateException](Merge.readAsOf(spark, path, c1))
    // pinning an already-swept commit refuses; so does an unrecorded id
    intercept[IllegalStateException](Merge.savepoint(spark, path, c1))
    intercept[IllegalArgumentException](
      Merge.savepoint(spark, path, c3 + 10))
  }

  test("q25 shape: travel past a versioned delete AND a later upsert") {
    val path = tmpDir("ttq25") + "/table"
    val (_, c2, _) = build3(path)
    Merge.delete(spark, Seq(("T2", "c2", "ADAGBP")).toDF(
      "transaction_id", "close_time", "pair"), path, keyCols, Seq("pair"))
    // commit 5 rewrites T1's file group again
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 7.0)),
      path, keyCols, "price", "pair")
    // as-of c2 must drop commit 5's rewrite (restoring its retired
    // predecessor) and restore the delete's victim
    assert(snap(Merge.readAsOf(spark, path, c2)) === Seq(
      ("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)))
  }

  test("readAsOf serves pre-evolution snapshots through the current schema") {
    val path = tmpDir("ttevo") + "/table"
    val c1 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // commit 2 carries a column commit 1 never had (additive evolution)
    Merge.upsert(spark,
      Seq(("T2", "c2", "ADAGBP", 2.0, "b2")).toDF(
        "transaction_id", "close_time", "pair", "price", "src"),
      path, keyCols, "price", "pair")
    // the as-of-c1 snapshot reads through the CURRENT recorded schema:
    // the evolved column exists and is null-filled, exactly like a
    // current read of the same pre-evolution file (Hudi's read path)
    val snap1 = Merge.readAsOf(spark, path, c1)
    assert(snap1.columns.contains("src"))
    assert(snap1.select("transaction_id", "src")
      .as[(String, Option[String])].collect().toSeq === Seq(("T1", None)))
  }

  // ---- restore (Hudi savepoint-restore) ----

  test("restoreTo physically reverts to the as-of state") {
    val path = tmpDir("ttrestore") + "/table"
    val (_, c2, c3) = build3(path)
    val want = snap(Merge.readAsOf(spark, path, c2))
    Merge.restoreTo(spark, path, c2)
    assert(snap(Merge.readTable(spark, path)) === want)
    // the reverted commit is gone from the timeline…
    assert(Merge.commits(spark, path).agg(max(col("commit_ts")))
      .head().getLong(0) === c2)
    // …but its id is tombstoned, never reissued
    val c4 = Merge.upsert(spark, tx(("T9", "c9", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    assert(c4 === c3 + 1)
    // time travel within the surviving range still works
    assert(snap(Merge.readAsOf(spark, path, c2)) === want)
  }

  test("restoreTo is idempotent and refuses below the floor") {
    val path = tmpDir("ttrestore2") + "/table"
    val (c1, c2, _) = build3(path)
    Merge.restoreTo(spark, path, c2)
    val state = snap(Merge.readTable(spark, path))
    // re-running the same restore touches nothing
    Merge.restoreTo(spark, path, c2)
    assert(snap(Merge.readTable(spark, path)) === state)
    // after cleaning, reverting past the floor must refuse (the retired
    // bytes below it are gone) — restoring to the pre-history empty
    // table would need c1's victims, swept above
    Merge.clean(spark, path, retainLast = 1)
    assert(Merge.historyFloor(spark, path) === c1)
    intercept[IllegalStateException](Merge.restoreTo(spark, path, 0L))
  }

  test("restoreTo refuses while a later commit is inflight") {
    val path = tmpDir("ttrestore3") + "/table"
    val (_, c2, _) = build3(path)
    // simulate a crashed writer holding commit 4 inflight
    val claimed = Timeline.claim(spark, path)
    val e = intercept[IllegalStateException](Merge.restoreTo(spark, path, c2))
    assert(e.getMessage.contains("inflight"))
    Merge.rollback(spark, path, claimed)
    Merge.restoreTo(spark, path, c2)
    assert(snap(Merge.readTable(spark, path)) === Seq(
      ("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)))
  }

  // ---- ordered payload (DefaultHoodieRecordPayload semantics) ----

  test("upsertOrdered: stored row survives a lower-precombine batch") {
    val path = tmpDir("ord")
    Merge.upsertOrdered(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", Seq("pair"))
    Merge.upsertOrdered(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", Seq("pair"))
    assert(snap(spark.read.parquet(path)) === Seq(("T1", "c1", "ADAGBP", 9.0)))
  }

  test("upsertOrdered: equal precombine goes to the incoming row") {
    val path = tmpDir("ordtie")
    // same key + same precombine, different payload column
    val mk = (tag: String) => Seq(("T1", "c1", "ADAGBP", 5.0, tag))
      .toDF("transaction_id", "close_time", "pair", "price", "tag")
    Merge.upsertOrdered(spark, mk("old"), path, keyCols, "price", Seq("pair"))
    Merge.upsertOrdered(spark, mk("new"), path, keyCols, "price", Seq("pair"))
    assert(spark.read.parquet(path).select("tag").as[String]
      .collect().toSeq === Seq("new"))
  }

  test("upsertOrdered converges to the per-key argmax under any split") {
    val rows = Seq(
      ("T1", "c1", "ADAGBP", 3.0), ("T1", "c1", "ADAGBP", 8.0),
      ("T1", "c1", "ADAGBP", 5.0), ("T2", "c2", "ADAGBP", 1.0),
      ("T2", "c2", "ADAGBP", 2.0), ("T3", "c3", "BTCUSD", 4.0))
    val expected = Seq(
      ("T1", "c1", "ADAGBP", 8.0), ("T2", "c2", "ADAGBP", 2.0),
      ("T3", "c3", "BTCUSD", 4.0))
    // two different batch groupings of the same corpus
    for (split <- Seq(Seq(0 to 1, 2 to 3, 4 to 5), Seq(0 to 3, 4 to 5))) {
      val path = tmpDir("ordsplit")
      split.foreach { idx =>
        Merge.upsertOrdered(spark, tx(idx.map(rows): _*), path,
          keyCols, "price", Seq("pair"))
      }
      assert(snap(spark.read.parquet(path)) === expected)
    }
  }

  test("upsertOrderedVersioned: a losing batch does not advance stamps") {
    val path = tmpDir("ordver") + "/table"
    val c1 = Merge.upsertOrdered(spark,
      tx(("T1", "c1", "ADAGBP", 9.0)), path, keyCols, "price", Seq("pair"))
    Merge.upsertOrdered(spark,
      tx(("T1", "c1", "ADAGBP", 1.0)), path, keyCols, "price", Seq("pair"))
    // the stored row won, so its stamp is still c1 — the late batch's
    // commit owns nothing and incremental consumers correctly see no
    // change for the key
    assert(snap(Merge.readTable(spark, path)) ===
      Seq(("T1", "c1", "ADAGBP", 9.0)))
    assert(Merge.readSince(spark, path, c1).count() === 0L)
  }

  private val diffKeys = Seq("transaction_id", "close_time", "pair")

  private def diffSet(path: String, a: Long, b: Long)
      : Set[(String, String)] =
    Merge.diffSnapshots(spark, path, a, b, diffKeys)
      .select("transaction_id", "change")
      .as[(String, String)].collect().toSet

  test("diffSnapshots classifies net state changes; diff(c,c) is empty") {
    val path = tmpDir("diff") + "/table"
    val (c1, _, c3) = build3(path)
    assert(diffSet(path, c1, c1) === Set.empty)
    // c1→c3: T1's overwrite is an update, T2 and T3 are inserts
    assert(diffSet(path, c1, c3) ===
      Set(("T1", "update"), ("T2", "insert"), ("T3", "insert")))
    val c4 = Merge.delete(spark,
      tx(("T2", "c2", "ADAGBP", 0.0)).select("transaction_id",
        "close_time", "pair"), path, keyCols, Seq("pair"))
    assert(diffSet(path, c3, c4) === Set(("T2", "delete")))
  }

  test("diffSnapshots is state-based: identical re-insert nets to nothing") {
    val path = tmpDir("diffnet") + "/table"
    val c1 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "ADAGBP", 2.0)), path, keyCols, "price", "pair")
    Merge.delete(spark,
      tx(("T1", "c1", "ADAGBP", 0.0)).select("transaction_id",
        "close_time", "pair"), path, keyCols, Seq("pair"))
    val c3 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // the CDC stream reports both events; the state diff reports none
    assert(Merge.readChanges(spark, path, c1, c3, diffKeys)
      .filter(col("transaction_id") === "T1").count() === 2L)
    assert(diffSet(path, c1, c3) === Set.empty)
  }

  test("diffSnapshots agrees with the CDC stream's net effect") {
    val path = tmpDir("diffcdc") + "/table"
    val (c1, _, c3) = build3(path)
    // net effect from CDC: last action per key, with delete-after-
    // insert collapsing — recompute per key from the change stream
    val perKey = Merge.readChanges(spark, path, c1, c3, diffKeys)
      .filter(col("_change_type") =!= "update_preimage")
      .select("transaction_id", "_change_type", "_change_commit")
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (k, evs) => k -> evs.maxBy(_._3)._2 }
    val expected = perKey.map {
      case (k, "insert") => k -> "insert"
      case (k, "update_postimage") => k -> "update"
      case (k, other) => k -> other
    }.toSet
    assert(diffSet(path, c1, c3) === expected)
  }

  test("compactVersioned: bytes move, state and history both survive") {
    val path = tmpDir("cv") + "/table"
    // uncoalesced set-up commits leave small files to compact
    val (c1, c2, c3) = Merge.fragmented(spark) { build3(path) }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Int = {
      def walk(p: org.apache.hadoop.fs.Path): Int =
        fs.listStatus(p).map { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) 0
          else if (st.isDirectory) walk(st.getPath)
          else 1
        }.sum
      walk(new org.apache.hadoop.fs.Path(path))
    }
    val before = snap(Merge.readTable(spark, path))
    val filesBefore = dataFiles()
    val n = Merge.compact(spark, path, Seq("pair"), keyCols)
    assert(n > 0 && dataFiles() < filesBefore, "no files were merged")
    // state identical; the service commit owns no rows anywhere
    assert(snap(Merge.readTable(spark, path)) === before)
    val cCompact = Merge.commits(spark, path)
      .agg(max("commit_ts")).head().getLong(0)
    assert(cCompact > c3)
    assert(Merge.readSince(spark, path, c3).count() === 0L)
    assert(Merge.readChanges(spark, path, c3, cCompact, diffKeys)
      .count() === 0L)
    assert(diffSet(path, c3, cCompact) === Set.empty)
    // and history is preserved, not voided: every boundary replays
    assert(snap(Merge.readAsOf(spark, path, c1)) ===
      Seq(("T1", "c1", "ADAGBP", 1.0)))
    assert(snap(Merge.readAsOf(spark, path, c2)) === Seq(
      ("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)))
    assert(snap(Merge.readAsOf(spark, path, c3)) === before)
  }

  test("compactVersioned composes with restoreTo; refuses plain tables") {
    val path = tmpDir("cvr") + "/table"
    val (_, c2, _) = build3(path)
    Merge.compact(spark, path, Seq("pair"), keyCols)
    // physical revert back across the compaction AND commit 3
    Merge.restoreTo(spark, path, c2)
    assert(snap(Merge.readTable(spark, path)) === Seq(
      ("T1", "c1", "ADAGBP", 2.0), ("T2", "c2", "ADAGBP", 3.0)))
  }

  test("clusterZOrderVersioned: a recorded no-row commit, history intact") {
    val path = tmpDir("zv") + "/table"
    def batch(ks: Range, v: Double): DataFrame =
      ks.map(k => (k.toLong, "p1", k.toDouble, v)).toDF("k", "part", "x", "y")
    val c1 = Merge.upsert(spark, batch(0 until 20, 1.0), path,
      Seq("k"), "y", "part")
    val c2 = Merge.upsert(spark, batch(10 until 30, 2.0), path,
      Seq("k"), "y", "part")
    def state(df: DataFrame): Set[(Long, Double, Double)] =
      df.select("k", "x", "y").as[(Long, Double, Double)].collect().toSet
    val before = state(Merge.readTable(spark, path))
    val n = Merge.clusterZOrder(spark, path, Seq("part"),
      zCols = Seq("x", "y"))
    assert(n > 0)
    assert(state(Merge.readTable(spark, path)) === before)
    // the service commit owns no rows; pre-cluster snapshots replay
    assert(Merge.readSince(spark, path, c2).count() === 0L)
    assert(state(Merge.readAsOf(spark, path, c1)) ===
      (0 until 20).map(k => (k.toLong, k.toDouble, 1.0)).toSet)
  }

  test("diffSnapshots across additive evolution reads new columns as updates") {
    val path = tmpDir("diffevo") + "/table"
    val c1 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val c2 = Merge.upsert(spark,
      tx(("T1", "c1", "ADAGBP", 1.0)).withColumn("venue", lit("LSE")),
      path, keyCols, "price", "pair")
    // same price; the evolved column's value is the only change
    assert(diffSet(path, c1, c2) === Set(("T1", "update")))
  }
}
