package graft.sources

import graft.{SparkSpec, Tables}
import graft.merge.Merge
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

class GraftSourceSpec extends SparkSpec {

  private def fills(): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag")

  test("format(graft): insert + read roundtrip equals the source") {
    val t = tmpDir("graft_src_ins_")
    val b = fills().filter(col("l_linenumber") === 1)
    b.write.format("graft").option("partition", "l_returnflag")
      .mode(SaveMode.Append).option("op", "insert").save(t)
    val back = spark.read.format("graft").load(t)
    assert(back.count() === b.count())
    assert(back.select(b.columns.map(col).toIndexedSeq: _*)
      .exceptAll(b).isEmpty)
  }

  test("format(graft): upsert replaces matched keys, keeps the rest") {
    val t = tmpDir("graft_src_ups_")
    val b1 = fills().filter(col("l_linenumber") <= 2)
    val b2 = fills().filter(col("l_linenumber") === 2)
      .withColumn("l_quantity", col("l_quantity") + 100)
    def w(df: DataFrame) = df.write.format("graft")
      .option("op", "upsert")
      .option("keys", "l_orderkey,l_linenumber")
      .option("precombine", "l_extendedprice")
      .option("partition", "l_returnflag")
      .mode(SaveMode.Append).save(t)
    w(b1); w(b2)
    val back = spark.read.format("graft").load(t)
    // lineitem has duplicate (orderkey, linenumber) keys: upsert's
    // precombine collapses them, so the table holds one row per key
    // record identity = (key cols, partition tuple) — the composite-key
    // partition-path semantics — so the dedup domain includes the flag
    val dedup1 = Merge.precombineDedup(b1,
      Seq("l_orderkey", "l_linenumber", "l_returnflag"), "l_extendedprice")
    assert(back.count() === dedup1.count())
    // every linenumber-2 row carries the +100 update
    assert(back.filter(col("l_linenumber") === 2 && col("l_quantity") <= 100)
      .isEmpty)
    // linenumber-1 rows untouched (modulo the same precombine dedup)
    assert(back.filter(col("l_linenumber") === 1)
      .select(b1.columns.map(col).toIndexedSeq: _*)
      .exceptAll(dedup1.filter(col("l_linenumber") === 1)).isEmpty)
  }

  test("format(graft): delete op removes exactly the keyed rows") {
    val t = tmpDir("graft_src_del_")
    val b = fills().filter(col("l_linenumber") <= 2)
    b.write.format("graft").option("op", "insert")
      .option("partition", "l_returnflag")
      .mode(SaveMode.Append).save(t)
    val doomed = b.filter(col("l_linenumber") === 2)
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    doomed.write.format("graft").option("op", "delete")
      .option("keys", "l_orderkey,l_linenumber")
      .option("partition", "l_returnflag")
      .mode(SaveMode.Append).save(t)
    val back = spark.read.format("graft").load(t)
    assert(back.filter(col("l_linenumber") === 2).isEmpty)
    assert(back.count() === b.filter(col("l_linenumber") === 1).count())
  }

  test("format(graft): versioned upserts enable asOf time travel") {
    val t = tmpDir("graft_src_tt_")
    val b1 = fills().filter(col("l_linenumber") <= 2)
    val b2 = fills().filter(col("l_linenumber") === 2)
      .withColumn("l_quantity", col("l_quantity") + 100)
    def w(df: DataFrame) = df.write.format("graft")
      .option("op", "upsert").option("versioned", "true")
      .option("keys", "l_orderkey,l_linenumber")
      .option("precombine", "l_extendedprice")
      .option("partition", "l_returnflag")
      .mode(SaveMode.Append).save(t)
    w(b1); w(b2)
    val commits = Merge.commits(spark, t).select("commit_ts")
      .orderBy("commit_ts").collect().map(_.getLong(0))
    assert(commits.length === 2)
    val snap1 = spark.read.format("graft")
      .option("asOf", commits.head.toString).load(t)
    // first snapshot: no +100 updates yet
    assert(snap1.filter(col("l_quantity") > 100).isEmpty)
    val dedup = (df: DataFrame) => Merge.precombineDedup(df,
      Seq("l_orderkey", "l_linenumber", "l_returnflag"), "l_extendedprice")
    assert(snap1.count() === dedup(b1).count())
    // incremental pull: rows last written by commit 2 = the updates
    val incr = spark.read.format("graft")
      .option("sinceCommit", commits.head.toString).load(t)
    assert(incr.count() === dedup(b2).count())
    assert(incr.filter(col("l_linenumber") =!= 2).isEmpty)
    // asOfTimestamp (the API twin of SQL TIMESTAMP AS OF): commit 1's
    // recorded instant serves the same snapshot, in both accepted
    // forms — epoch millis and ISO-8601
    val w1 = Merge.commitWallClock(spark, t, commits.head).get
    val w2 = Merge.commitWallClock(spark, t, commits.last).get
    if (w1 < w2) { // distinct-ms guard (commits are full Spark jobs)
      val viaMs = spark.read.format("graft")
        .option("asOfTimestamp", w1.toString).load(t)
      assert(viaMs.count() === snap1.count())
      assert(viaMs.filter(col("l_quantity") > 100).isEmpty)
      val viaIso = spark.read.format("graft")
        .option("asOfTimestamp",
          java.time.Instant.ofEpochMilli(w1).toString).load(t)
      assert(viaIso.count() === snap1.count())
    }
    // both options together must refuse, not silently pick one
    val e = intercept[Exception] {
      spark.read.format("graft")
        .option("asOf", commits.head.toString)
        .option("asOfTimestamp", w1.toString).load(t).count()
    }
    assert(e.getMessage.contains("mutually exclusive"))
    // an instant before the first commit refuses loudly
    val e2 = intercept[Exception] {
      spark.read.format("graft")
        .option("asOfTimestamp", (w1 - 1000000L).toString).load(t).count()
    }
    assert(e2.getMessage.contains("no commit"))
  }

  test("format(graft): filters and pruning answer correctly through the relation") {
    val t = tmpDir("graft_src_flt_")
    fills().write.format("graft").option("op", "insert")
      .option("partition", "l_returnflag")
      .mode(SaveMode.Append).save(t)
    val back = spark.read.format("graft").load(t)
    val expect = fills()
    // translatable predicate + projection
    assert(back.filter(col("l_quantity") > 45).count() ===
      expect.filter(col("l_quantity") > 45).count())
    assert(back.filter(col("l_returnflag") === "R" &&
        col("l_linenumber").isin(1, 2)).count() ===
      expect.filter(col("l_returnflag") === "R" &&
        col("l_linenumber").isin(1, 2)).count())
    // projection-only (count through empty-schema rows)
    assert(back.select("l_orderkey").distinct().count() ===
      expect.select("l_orderkey").distinct().count())
    // a non-translatable predicate still answers correctly (outer plan
    // re-applies what the relation reported unhandled)
    assert(back.filter(col("l_quantity") % 2 === 0).count() ===
      expect.filter(col("l_quantity") % 2 === 0).count())
  }

  test("format(graft): MOR incremental reads route through the delta merge") {
    import graft.merge.MorTable
    val t = tmpDir("graft_src_mor_")
    val b1 = fills().filter(col("l_linenumber") <= 2)
    val b2 = fills().filter(col("l_linenumber") === 2)
      .withColumn("l_quantity", col("l_quantity") + 100)
    val keys = Seq("l_orderkey", "l_linenumber")
    // commit 1 creates the base; commit 2 lands in UNMERGED delta files
    val c1 = MorTable.upsert(spark, b1, t, keys, "l_extendedprice",
      Seq("l_returnflag"))
    val c2 = MorTable.upsert(spark, b2, t, keys, "l_extendedprice",
      Seq("l_returnflag"))
    // sinceCommit must surface the delta-resident commit-2 rows — the
    // COW reader (base files only) would return zero here
    val incr = spark.read.format("graft")
      .option("sinceCommit", c1.toString).load(t)
    val dedup2 = Merge.precombineDedup(b2,
      Seq("l_orderkey", "l_linenumber", "l_returnflag"), "l_extendedprice")
    assert(incr.count() === dedup2.count())
    assert(incr.filter(col("l_quantity") <= 100).isEmpty)
    // a bounded incremental read merges the deltas too
    val bounded = spark.read.format("graft")
      .option("sinceCommit", c1.toString)
      .option("untilCommit", c2.toString).load(t)
    assert(bounded.count() === dedup2.count())
    assert(bounded.filter(col("l_quantity") <= 100).isEmpty)
    // CDC has no delta-aware reader: refuse loudly rather than return
    // silently incomplete rows
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("changesAfter", c1.toString)
        .option("changesUntil", (c1 + 1).toString)
        .option("keys", keys.mkString(",")).load(t)
    }
  }

  test("format(graft): SaveMode.Overwrite is partition-scoped insert-overwrite") {
    val t = tmpDir("graft_src_ovr_")
    val b1 = fills().filter(col("l_linenumber") <= 2)
    b1.write.format("graft").option("op", "insert")
      .option("partition", "l_returnflag")
      .mode(SaveMode.Append).save(t)
    // overwrite ONLY the 'R' partition with halved quantities
    val b2 = fills().filter(col("l_linenumber") === 1 &&
        col("l_returnflag") === "R")
      .withColumn("l_quantity", col("l_quantity") * 0.5)
    b2.write.format("graft")
      .option("keys", "l_orderkey,l_linenumber")
      .option("precombine", "l_extendedprice")
      .option("partition", "l_returnflag")
      .mode(SaveMode.Overwrite).save(t)
    val back = spark.read.format("graft").load(t)
    // untouched partitions keep both linenumbers; R holds only the new
    // batch (one row per key after precombine)
    assert(back.filter(col("l_returnflag") === "R").count() ===
      Merge.precombineDedup(b2,
        Seq("l_orderkey", "l_linenumber", "l_returnflag"),
        "l_extendedprice").count())
    assert(back.filter(col("l_returnflag") =!= "R").count() ===
      b1.filter(col("l_returnflag") =!= "R").count())
  }

  test("writeStream.format(graft): native sink drains a stream into " +
      "the table; final state equals the batch upsert of the corpus") {
    import spark.implicits._
    val t = tmpDir("graft_sink_t_")
    val in = tmpDir("graft_sink_in_") + "/files"
    val rows = Seq(
      (1L, 10.0, "a", 1L), (2L, 20.0, "b", 2L),
      (1L, 15.0, "a", 3L), (3L, 30.0, "a", 4L))
      .toDF("id", "v", "part", "pre")
    rows.repartition(4).write.parquet(in)
    val q = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.format("graft")
      .option("path", t)
      .option("op", "upsert_ordered")
      .option("keys", "id").option("precombine", "pre")
      .option("partition", "part")
      .option("checkpointLocation", tmpDir("graft_sink_ck_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = Merge.readTable(spark, t)
      .select("id", "v", "pre").orderBy("id")
      .as[(Long, Double, Long)].collect().toSeq
    assert(got === Seq((1L, 15.0, 3L), (2L, 20.0, 2L), (3L, 30.0, 4L)))
  }

  test("graft sink skips a replayed micro-batch (at-least-once " +
      "recovery) and refuses blind-append ops") {
    import spark.implicits._
    val t = tmpDir("graft_sink_replay_")
    val params = Map("path" -> t, "op" -> "upsert", "keys" -> "id",
      "precombine" -> "pre", "partition" -> "part")
    val sink = new GraftSink(spark.sqlContext, params)
    def frame(v: Double) =
      Seq((1L, v, "a", 1L)).toDF("id", "v", "part", "pre")
    // the Sink API re-wraps via toRdd, which works on batch frames too
    sink.addBatch(0, frame(10.0))
    sink.addBatch(1, frame(20.0))
    // recovery replays the LAST batch with different (stale) content:
    // the committed-batch stamp must skip it
    sink.addBatch(1, frame(99.0))
    val got = Merge.readTable(spark, t).select("v")
      .as[Double].collect().toSeq
    assert(got === Seq(20.0))
    val e = intercept[IllegalArgumentException] {
      new GraftSink(spark.sqlContext, params + ("op" -> "insert"))
    }
    assert(e.getMessage.contains("replay-convergent"), e.getMessage)
  }

  test("graft sink fails the batch when its replay record cannot land") {
    import spark.implicits._
    graft.FaultFs.install(spark)
    val t = graft.FaultFs.tmpDir("graft_sink_txn_")
    val sink = new GraftSink(spark.sqlContext, Map("path" -> t,
      "op" -> "upsert", "keys" -> "id", "precombine" -> "pre",
      "partition" -> "part"))
    val e = intercept[java.io.IOException] {
      graft.FaultFs.failing("rename", "/_graft_stream_txn/") {
        sink.addBatch(0, Seq((1L, 10.0, "a", 1L)).toDF("id", "v", "part",
          "pre"))
      }
    }
    assert(e.getMessage.contains("_graft_stream_txn"), e.getMessage)
  }

  test("readStream.format(graft): drained union = table state; a " +
      "resumed stream delivers only the NEW commit") {
    import spark.implicits._
    val path = tmpDir("graft_srcstream_")
    val ckpt = tmpDir("graft_srcstream_ckpt_")
    val out = tmpDir("graft_srcstream_out_")
    def batch(rows: (Long, Double, Long, String)*) =
      rows.toDF("okey", "price", "pre", "part")
    Merge.upsert(spark, batch((1L, 10.0, 1L, "A"),
      (2L, 20.0, 2L, "A")), path, Seq("okey"), "pre", "part")
    Merge.upsert(spark, batch((3L, 30.0, 3L, "B")),
      path, Seq("okey"), "pre", "part")
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(path)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, bid: Long) =>
          b.write.mode(SaveMode.Overwrite).parquet(s"$out/b=$bid")
        }
        .start()
      q.awaitTermination()
    }
    drain()
    val first = spark.read.parquet(out)
      .select("okey", "price", "pre", "part")
      .as[(Long, Double, Long, String)].collect().toSeq.sorted
    val state = Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .as[(Long, Double, Long, String)].collect().toSeq.sorted
    assert(first === state)
    assert(first.size === 3)
    // a new commit overwriting okey=1: the RESUMED stream must deliver
    // exactly that commit's rows (incremental, not a rescan)
    Merge.upsert(spark, batch((1L, 11.0, 9L, "A")),
      path, Seq("okey"), "pre", "part")
    val before = spark.read.parquet(out).count()
    drain()
    val delivered = spark.read.parquet(out)
      .select("okey", "price", "pre", "part")
      .as[(Long, Double, Long, String)].collect().toSeq
    assert(delivered.size === before + 1,
      s"resume must add exactly the new commit's one row: $delivered")
    assert(delivered.contains((1L, 11.0, 9L, "A")))
    // schema refuses an unstamped table (a parquet layout no graft
    // write produced)
    val plain = tmpDir("graft_srcstream_plain_")
    batch((1L, 1.0, 1L, "A")).write.mode("overwrite").partitionBy("part")
      .parquet(plain)
    val err = intercept[IllegalArgumentException] {
      new GraftStreamSource(spark.sqlContext, plain).schema
    }
    assert(err.getMessage.contains("versioned"), err.getMessage)
  }

  test("readStream.format(graft) on MOR: a drain delivers the live " +
      "delta commit's rows, exactly MorTable.read") {
    import graft.merge.MorTable
    import spark.implicits._
    val path = tmpDir("graft_srcstream_mor_")
    val ckpt = tmpDir("graft_srcstream_mor_ckpt_")
    val out = tmpDir("graft_srcstream_mor_out_")
    def batch(rows: (Long, Double, Long, String)*) =
      rows.toDF("okey", "price", "pre", "part")
    // commit 1 creates the base; commit 2 lands in an UNMERGED delta
    MorTable.upsert(spark, batch((1L, 10.0, 1L, "A"), (2L, 20.0, 2L, "A")),
      path, Seq("okey"), "pre", Seq("part"))
    MorTable.upsert(spark, batch((2L, 21.0, 5L, "A"), (3L, 30.0, 3L, "B")),
      path, Seq("okey"), "pre", Seq("part"))
    spark.readStream.format("graft").load(path)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        b.write.mode(SaveMode.Overwrite).parquet(s"$out/b=$bid")
      }
      .start().awaitTermination()
    def rows(df: DataFrame) = df.select("okey", "price", "pre", "part")
      .as[(Long, Double, Long, String)].collect().toSeq.sorted
    val state = rows(MorTable.read(spark, path))
    assert(state.size === 3)
    assert(rows(spark.read.parquet(out)) === state)
  }

  test("graft-to-graft replication: replica tracks source state " +
      "across incremental drains, overwrites included") {
    import spark.implicits._
    val src = tmpDir("graft_repl_src_")
    val dst = tmpDir("graft_repl_dst_")
    val ckpt = tmpDir("graft_repl_ckpt_")
    def batch(rows: (Long, Double, Long, String)*) =
      rows.toDF("okey", "price", "pre", "part")
    def drain(): Unit = {
      // ordering key = the DELIVERED commit stamp (renamed to a payload
      // column), NOT the business precombine: source semantics are
      // batch-wins, so only commit order converges under regressions
      val q = spark.readStream.format("graft").load(src)
        .withColumnRenamed(Merge.commitCol, "src_commit")
        .writeStream.format("graft")
        .option("path", dst).option("op", "upsert_ordered")
        .option("keys", "okey").option("precombine", "src_commit")
        .option("partition", "part")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    def state(path: String) = Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .as[(Long, Double, Long, String)].collect().toSeq.sorted
    Merge.upsert(spark, batch((1L, 10.0, 1L, "A"),
      (2L, 20.0, 2L, "B")), src, Seq("okey"), "pre", "part")
    drain()
    assert(state(dst) === state(src))
    // source key 1 overwritten + key 3 added -> the NEXT drain must
    // converge the replica again (only the new commit streams)
    Merge.upsert(spark, batch((1L, 11.0, 5L, "A"),
      (3L, 30.0, 6L, "C")), src, Seq("okey"), "pre", "part")
    drain()
    assert(state(dst) === state(src))
    assert(state(dst).exists(_ == ((1L, 11.0, 5L, "A"))))
    assert(state(dst).size === 3)
    // PRECOMBINE REGRESSION across drains: the source (batch-wins)
    // overwrites key 1 with a LOWER pre (5 -> 2). A replica ordered by
    // the business precombine keeps the stale pre=5 row and diverges
    // permanently; ordered by the delivered commit stamp it converges.
    Merge.upsert(spark, batch((1L, 12.0, 2L, "A")),
      src, Seq("okey"), "pre", "part")
    drain()
    assert(state(dst) === state(src),
      "replica must track batch-wins source state through a " +
        "precombine regression")
    assert(state(dst).exists(_ == ((1L, 12.0, 2L, "A"))))
    assert(state(dst).size === 3)
  }

  test("two native sources feed one stateful interval join; join state " +
      "survives a checkpointed restart (e24's law, incrementally)") {
    import spark.implicits._
    val clicksT = tmpDir("graft_ssj_c_")
    val buysT = tmpDir("graft_ssj_p_")
    val ckpt = tmpDir("graft_ssj_ckpt_")
    val out = tmpDir("graft_ssj_out_")
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def batch(rows: (Long, Long, java.sql.Timestamp)*) =
      rows.toDF("event_id", "user_id", "ts")
        .withColumn("value", lit(1.0)).withColumn("part", lit("p"))
    Merge.upsert(spark, batch((101L, 1L, ts(10, 0))), clicksT,
      Seq("event_id"), "value", "part")
    Merge.upsert(spark, batch((201L, 1L, ts(10, 30))), buysT,
      Seq("event_id"), "value", "part")
    def drain(): Unit = {
      val l = spark.readStream.format("graft").load(clicksT)
        .drop(Merge.commitCol)
      val r = spark.readStream.format("graft").load(buysT)
        .drop(Merge.commitCol)
      val q = graft.streaming.EventStreams.intervalJoin(l, r)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, bid: Long) =>
          b.write.mode(SaveMode.Overwrite).parquet(s"$out/b=$bid")
        }
        .start()
      q.awaitTermination()
    }
    drain()
    def pairs(): Set[(Long, Long)] = spark.read.parquet(out)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(pairs() === Set((101L, 201L)))
    // new commits land on BOTH timelines after the first drain; the
    // resumed query must join the new purchase against the click whose
    // state was persisted in the FIRST run's checkpoint — (101, 202)
    // is only emittable if the stateful join's store survived the
    // restart; a rescanning or state-losing source would either
    // duplicate (101, 201) or miss (101, 202)
    Merge.upsert(spark, batch((102L, 1L, ts(11, 0))), clicksT,
      Seq("event_id"), "value", "part")
    Merge.upsert(spark, batch((202L, 1L, ts(11, 30))), buysT,
      Seq("event_id"), "value", "part")
    drain()
    // (102, 201) is correctly absent: purchases must not precede clicks
    assert(pairs() === Set((101L, 201L), (101L, 202L), (102L, 202L)))
  }
}
