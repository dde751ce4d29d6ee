package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Event-time semantics: streamed windowed aggregation equals the batch
  * computation (AvailableNow drain), sessionization groups by gap. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streamed windowed counts == batch windowed counts") {
    val base = tmpDir("evstream")
    // write the events table (µs timestamps) as the stream input
    Tables.events(spark, sfDir).write.parquet(s"$base/in")
    EventStreams.runWindowedAvailableNow(spark, s"$base/in",
      s"$base/ckpt", "win_counts")
    // AvailableNow + watermark: only windows the final watermark passed
    // are emitted in append mode; compare those against batch
    val streamed = spark.table("win_counts")
      .select("window_start", "event_type", "n_events", "total_value")
    val batch = EventStreams.windowedCounts(Tables.events(spark, sfDir))
    val joined = streamed.alias("s").join(batch.alias("b"),
      Seq("window_start", "event_type"))
    assert(streamed.count() > 0)
    assert(joined.filter($"s.n_events" =!= $"b.n_events").count() === 0)
  }

  test("sessionize groups events within the gap into one session") {
    val gapMs = 60000L // 1 minute
    // offset from epoch 0: the initial watermark is 0 and rows at or
    // before the watermark are dropped as late
    def ts(s: Long) = new java.sql.Timestamp((86400 + s) * 1000)
    val events = Seq(
      (1L, ts(0), 1.0), (1L, ts(30), 2.0),   // session A: 0..30s
      (1L, ts(300), 4.0),                    // session B after 270s gap
      (2L, ts(10), 8.0),                     // user 2, one session
      (999L, ts(100000), 0.0)                // sentinel: advances watermark
    ).toDF("user_id", "ts", "value")
    // run the state logic through the streaming API over a file source;
    // ONE file so event order within the batch is the written order
    val base = tmpDir("sess")
    events.coalesce(1).write.parquet(s"$base/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val df = spark.readStream.schema(schema).parquet(s"$base/in")
    val out = EventStreams.sessionize(spark, df, gapMs, lateness = "1 second")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sessions")
      .option("checkpointLocation", tmpDir("sessckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sessions = spark.table("sessions")
      .filter($"user_id" =!= 999L)
      .select("user_id", "n_events", "total_value")
      .as[(Long, Int, Double)].collect().toSet
    // the sentinel pushes the watermark past every session's gap, so
    // gap-split AND timeout-flushed sessions are all emitted
    assert(sessions === Set(
      (1L, 2, 3.0),  // session A: 0s+30s
      (1L, 1, 4.0),  // session B: 300s
      (2L, 1, 8.0)))
  }

  test("e06: interval join pairs across micro-batches, bounds the window") {
    // clicks arrive in batch 0, purchases in batch 1 (mtime-ordered
    // files, one per trigger): the qualifying pair must still emit —
    // that is the join STATE working across batches — and the
    // out-of-window purchase must not
    val base = tmpDir("ivjoin")
    def ts(s: Long) = new java.sql.Timestamp((86400 + s) * 1000)
    def ev(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit(null).cast("string"))
    ev(Seq((1L, ts(0), 10L, "click", 1.0),
      (2L, ts(100), 20L, "click", 1.0)))
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    Thread.sleep(1500) // strictly later mtime → strictly later batch
    ev(Seq((3L, ts(60), 10L, "purchase", 5.0),      // within 2h of click 1
      (4L, ts(50000), 20L, "purchase", 5.0)))       // far outside 2h
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    val src = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    val out = EventStreams.intervalJoin(
      src.filter($"event_type" === "click"),
      src.filter($"event_type" === "purchase"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ivjoin")
      .option("checkpointLocation", tmpDir("ivjoinckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("ivjoin").select("l_id", "r_id")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 3L)))
  }

  test("e08: left-outer interval join emits EVERY unmatched click, incl. the last") {
    // the full drain at smoke scale vs the batch left join — equality
    // of the null-row id sets is the regression guard for the
    // filter-below-watermark trap (a side predicate without ts pushes
    // under EventTimeWatermark; each side's watermark then tracks only
    // its own type and the FINAL unmatched lefts never flush)
    val out = EventStreams.queries("e08_stream_outer_join")(spark, sfDir)
      .cache()
    val ev = graft.Tables.events(spark, sfDir)
    val clicks = ev.filter($"event_type" === "click").alias("l")
    val purchases = ev.filter($"event_type" === "purchase").alias("r")
    val batch = clicks.join(purchases,
      expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
        "r.ts <= l.ts + interval 2 hours"), "left_outer")
      .select($"l.event_id".as("l_id"), $"r.event_id".as("r_id"))
    assert(out.count() === batch.count())
    val streamedNull = out.filter($"r_id".isNull).select("l_id")
      .as[Long].collect().toSet
    val batchNull = batch.filter($"r_id".isNull).select("l_id")
      .as[Long].collect().toSet
    assert(streamedNull === batchNull)
    assert(streamedNull.nonEmpty) // non-converting clicks exist
    // the globally LATEST unmatched click is the one the watermark trap
    // strands — assert it specifically
    val lastUnmatched = graft.Tables.events(spark, sfDir)
      .filter($"event_type" === "click")
      .join(batch.filter($"r_id".isNull),
        $"event_id" === $"l_id")
      .orderBy($"ts".desc).select("event_id").as[Long].head()
    assert(streamedNull.contains(lastUnmatched))
    out.unpersist()
  }

  test("e07: enrichment joins the dimension, drops unmatched, sums per segment") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:15:00")
    val ev = Seq(
      (1L, ts, 10L, "click", 1.5, null.asInstanceOf[String]),
      (2L, ts, 10L, "click", 2.5, null.asInstanceOf[String]),
      (3L, ts, 20L, "view", 4.0, null.asInstanceOf[String]),
      (4L, ts, 99L, "view", 8.0, null.asInstanceOf[String])) // no dim row
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dim = Seq((10L, "AUTO"), (20L, "HOME"))
      .toDF("c_custkey", "c_mktsegment")
    val out = EventStreams.enrichedWindowedValue(ev, dim,
      "c_custkey", "c_mktsegment")
      .select("segment", "n_events", "total_value")
      .as[(String, Long, Double)].collect().toSet
    assert(out === Set(("AUTO", 2L, 4.0), ("HOME", 1L, 4.0)))
  }

  test("e05: a twice-replayed stream dedups back to exactly-once") {
    // the e05 drain feeds every event through TWO micro-batches; the
    // watermark-bounded dropDuplicates must emit each exactly once
    val out = EventStreams.queries("e05_stream_dedup")(spark, sfDir)
      .collect()
    val expected = Tables.events(spark, sfDir).count()
    assert(out.length.toLong === expected)
    assert(out.map(_.getAs[Long]("event_id")).distinct.length.toLong
      === expected)
  }

  test("streaming state runs on the RocksDB store (disk-backed, heap-independent)") {
    // at 100 TB/day the watermark-bounded state of windows/sessions/
    // joins outgrows executor heap; the RocksDB provider spills it to
    // local disk with the same semantics. The operators must run
    // UNMODIFIED under the swapped provider and produce the exact
    // batch-parity results the default HDFS-backed store does.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val base = tmpDir("rocksstate")
      Tables.events(spark, sfDir).write.parquet(s"$base/in")
      EventStreams.runWindowedAvailableNow(spark, s"$base/in",
        s"$base/ckpt", "rocks_counts")
      val streamed = spark.table("rocks_counts")
      val batch = EventStreams.windowedCounts(Tables.events(spark, sfDir))
      val joined = streamed.alias("s").join(batch.alias("b"),
        Seq("window_start", "event_type"))
      assert(streamed.count() > 0)
      assert(joined.filter($"s.n_events" =!= $"b.n_events").count() === 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The engine watermark after the even-arrival batch, at Spark's ms
    * granularity: floor-to-ms of max(even ts) − 30 min. */
  private def evenWatermark: java.sql.Timestamp = {
    val maxEven = Tables.events(spark, sfDir)
      .filter($"event_id" % 2 === 0).agg(max($"ts")).head.getTimestamp(0)
    new java.sql.Timestamp(maxEven.getTime - 30 * 60 * 1000L)
  }

  test("e09: late rows land in still-open windows, closed windows drop them") {
    val out = EventStreams.queries("e09_late_counts")(spark, sfDir).cache()
    val wm = evenWatermark
    // expected: even arrivals always count; an odd (late) arrival
    // counts iff its hour window end is still above the watermark
    val expected = Tables.events(spark, sfDir)
      .filter(($"event_id" % 2 === 0) ||
        (date_trunc("hour", $"ts") + expr("interval 1 hour") > lit(wm)))
      .groupBy(date_trunc("hour", $"ts").as("window_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
    val j = out.alias("s").join(expected.alias("b"),
      Seq("window_start", "event_type"), "full_outer")
    assert(j.filter($"s.n_events".isNull || $"b.n_events".isNull ||
      $"s.n_events" =!= $"b.n_events").count() === 0)
    // the disorder must actually bite: some late rows dropped, and at
    // least one window must mix on-time and kept-late rows or the key
    // degenerates to e01
    val all = Tables.events(spark, sfDir).count()
    val kept = out.agg(sum($"n_events")).head.getLong(0)
    assert(kept < all, s"no late row was dropped (kept=$kept of $all)")
    out.unpersist()
  }

  test("e11: session windows under late data — frozen sessions stay final") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val out = EventStreams.queries("e11_late_sessions")(spark, sfDir).cache()
    val wm = evenWatermark
    val ev = Tables.events(spark, sfDir)
    val gap = expr("interval 30 minutes")
    def islands(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("ts")
      df.withColumn("brk",
        when(unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)
          >= 30L * 60 * 1000 * 1000, 1).otherwise(0))
        .withColumn("grp", sum($"brk")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    }
    val evens = ev.filter($"event_id" % 2 === 0)
      .select("user_id", "ts", "value")
    val g1 = islands(evens)
    val s1 = g1.groupBy("user_id", "grp").agg(
      min("ts").as("session_start"), max("ts").as("last_ts"),
      count(lit(1)).as("n_events"),
      Tables.d(sum(Tables.dec($"value"))).as("total_value"))
    val frozen = s1.filter($"last_ts" + gap < lit(wm))
      .select("session_start", "user_id", "n_events", "total_value")
    val openev = g1
      .join(s1.select("user_id", "grp", "last_ts"), Seq("user_id", "grp"))
      .filter($"last_ts" + gap >= lit(wm))
      .select("user_id", "ts", "value")
    val keptodd = ev.filter($"event_id" % 2 === 1)
      .filter($"ts" + gap > lit(wm))
      .select("user_id", "ts", "value")
    val s2 = islands(openev.unionAll(keptodd))
      .groupBy("user_id", "grp").agg(
        min("ts").as("session_start"), count(lit(1)).as("n_events"),
        Tables.d(sum(Tables.dec($"value"))).as("total_value"))
      .select("session_start", "user_id", "n_events", "total_value")
    val expected = frozen.unionAll(s2).collect().toSet
    val got = out.select("session_start", "user_id", "n_events",
      "total_value").collect().toSet
    assert(got === expected)
    // the disorder must bite: most odd rows dropped
    val keptEvents = out.agg(sum($"n_events")).head.getLong(0)
    assert(keptEvents < ev.count())
    out.unpersist()
  }

  test("e10: late-data outer join == relational join over kept rows only") {
    val out = EventStreams.queries("e10_late_outer_join")(spark, sfDir)
      .cache()
    val wm = evenWatermark
    val kept = Tables.events(spark, sfDir)
      .filter(($"event_id" % 2 === 0) || $"ts" >= lit(wm))
    val clicks = kept.filter($"event_type" === "click").alias("l")
    val purchases = kept.filter($"event_type" === "purchase").alias("r")
    val batch = clicks.join(purchases,
      expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
        "r.ts <= l.ts + interval 2 hours"), "left_outer")
      .select($"l.event_id".as("l_id"), $"r.event_id".as("r_id"))
    assert(out.count() === batch.count())
    val sPairs = out.select($"l_id", $"r_id").as[(Long, Option[Long])]
      .collect().toSet
    val bPairs = batch.as[(Long, Option[Long])].collect().toSet
    assert(sPairs === bPairs)
    // a dropped-late purchase must have turned at least one click that
    // matches in e08 into an unmatched null here — the eviction
    // semantics the key exists to pin
    val fullMatched = Tables.events(spark, sfDir)
      .filter($"event_type" === "click").alias("l")
      .join(Tables.events(spark, sfDir)
        .filter($"event_type" === "purchase").alias("r"),
        expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
          "r.ts <= l.ts + interval 2 hours"))
      .select($"l.event_id").as[Long].collect().toSet
    val nowNull = sPairs.collect { case (l, None) => l }
    assert(nowNull.exists(fullMatched.contains),
      "no click lost its only match to lateness — weaken the split?")
    out.unpersist()
  }

  test("e15: the upsert-maintained serving table == the batch aggregate") {
    val served = EventStreams.queries("e15_stream_agg_table")(spark, sfDir)
      .collect().toSeq
    val batch = EventStreams.windowedCounts(Tables.events(spark, sfDir))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(served.nonEmpty)
    assert(served === batch)
  }

  test("e14: id-keyed watermark dedup collapses re-stamped redeliveries") {
    // the jittered replay collapses back to exactly the events table...
    val out = EventStreams.queries("e14_jittered_dedup")(spark, sfDir)
    val n = Tables.events(spark, sfDir).count()
    assert(out.count() === n)
    assert(out.select("event_id").distinct().count() === n)
    // ...and emitted timestamps are the ORIGINAL stamps (first wins),
    // never the +1-minute redelivery stamps
    val orig = Tables.events(spark, sfDir)
      .select($"event_id", $"ts".as("ts0"))
    assert(out.join(orig, "event_id")
      .filter($"ts" =!= $"ts0").count() === 0)
    // CONTRAST: e05's ts-keyed dedup structurally cannot catch a
    // re-stamped duplicate — the same jittered drain passes the
    // surviving redeliveries through as distinct rows
    val tsKeyed = EventStreams.drainCustomBatches(spark, sfDir,
      "e14_contrast", ev => Seq(ev,
        ev.withColumn("ts", $"ts" + expr("interval 1 minute"))))(
      EventStreams.dedupStream(_))
      .filter($"event_type" =!= "_sentinel")
    assert(tsKeyed.count() > n,
      "ts-keyed dedup unexpectedly caught re-stamped duplicates")
  }

  test("tws == fmgws under REAL late data (same input filter, same algebra)") {
    // the e09/e10/e11 disorder split: even arrivals first, an empty
    // middle batch, then mostly-late odds. Both state APIs sit behind
    // the SAME late-input watermark filter (SPARK-39931 semantics),
    // so their session inventories must be identical row-for-row —
    // pins that migrating e02-style state machines to the modern API
    // changes nothing under disorder, not just on ordered input
    def split(ev: org.apache.spark.sql.DataFrame) = Seq(
      ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" === -42L),
      ev.filter($"event_id" % 2 === 1))
    val legacy = EventStreams.drainCustomBatches(spark, sfDir,
      "late_fmgws", split)(EventStreams.sessionize(spark, _))
      .filter($"user_id" >= 0)
      .select("user_id", "start_ts", "end_ts", "n_events", "total_value")
      .collect().toSeq
    val tws = EventStreams.withRocksDb(spark) {
      EventStreams.drainCustomBatches(spark, sfDir,
        "late_tws", split)(EventStreams.sessionizeTws(spark, _))
        .filter($"user_id" >= 0)
        .select("user_id", "start_ts", "end_ts", "n_events",
          "total_value")
        .collect().toSeq
    }
    assert(legacy.nonEmpty)
    assert(tws.sortBy(r => (r.getLong(0), r.getLong(1)))
      === legacy.sortBy(r => (r.getLong(0), r.getLong(1))))
  }

  test("e13: transformWithState sessionizer == flatMapGroupsWithState") {
    // the modern and legacy state APIs must produce the IDENTICAL
    // session inventory over the full corpus drain — same starts, same
    // ends, same counts, same in-order double sums
    val tws = EventStreams.queries("e13_tws_sessions")(spark, sfDir)
      .collect().toSeq
    val legacy = EventStreams.queries("e02_sessions")(spark, sfDir)
      .collect().toSeq
    assert(tws.nonEmpty)
    assert(tws === legacy)
  }

  test("e16: dormancy flush emits, evicts, and a returning user restarts") {
    // user 1 is active, goes dormant past the retention window (their
    // profile flushes and state evicts), then returns: the second
    // activity burst must produce a SECOND, fresh profile row — the
    // emission IS the retention boundary
    val retentionMs = 60000L // 1 minute
    def ts(s: Long) = new java.sql.Timestamp((86400 + s) * 1000)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val base = tmpDir("twsprof")
    // batch 0: user 1 early activity; batch 1: watermark far past the
    // retention window (flush fires); batch 2: user 1 returns
    Seq((1L, ts(0), "click", 1.0), (1L, ts(10), "click", 2.0),
      (1L, ts(5), "view", 4.0))
      .toDF("user_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$base/in")
    val fs = new org.apache.hadoop.fs.Path(s"$base/in")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/in"))
      .map(_.getModificationTime).max
    var known = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/in"))
      .map(_.getPath.getName).toSet
    def append(step: Int)(rows: Seq[(Long, java.sql.Timestamp, String, Double)]): Unit = {
      rows.toDF("user_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/in"))
        .filterNot(st => known.contains(st.getPath.getName))
        .foreach(st => fs.setTimes(st.getPath, t0 + step * 60000L, -1))
      known = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/in"))
        .map(_.getPath.getName).toSet
    }
    append(1)(Seq((999L, ts(1000), "click", 0.0))) // watermark driver
    append(2)(Seq((1L, ts(2000), "click", 8.0)))
    append(3)(Seq((999L, ts(100000), "click", 0.0))) // final flush
    EventStreams.withRocksDb(spark) {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      val q = EventStreams.profileTws(spark, src, retentionMs,
        lateness = "1 second")
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_profiles")
        .option("checkpointLocation", tmpDir("twsprofckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val rows = spark.table("tws_profiles")
      .filter($"user_id" === 1L)
      .select("event_type", "n_events", "total_value")
      .as[(String, Long, Double)].collect().toSeq.sorted
    // first flush: clicks (2 events, 3.0) + views (1 event, 4.0);
    // second flush after the return: a FRESH click profile (1, 8.0)
    assert(rows === Seq(("click", 1L, 8.0), ("click", 2L, 3.0),
      ("view", 1L, 4.0)))
  }

  test("e13: TWS timers close sessions on gap AND on watermark expiry") {
    val gapMs = 60000L
    def ts(s: Long) = new java.sql.Timestamp((86400 + s) * 1000)
    val events = Seq(
      (1L, ts(0), 1.0), (1L, ts(30), 2.0), // session A: in-batch pair
      (1L, ts(300), 4.0),                  // session B after 270s gap
      (2L, ts(10), 8.0),
      (999L, ts(100000), 0.0)              // sentinel: watermark driver
    ).toDF("user_id", "ts", "value")
    val base = tmpDir("twssess")
    events.coalesce(1).write.parquet(s"$base/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    EventStreams.withRocksDb(spark) {
      val df = spark.readStream.schema(schema).parquet(s"$base/in")
      val out = EventStreams.sessionizeTws(spark, df, gapMs,
        lateness = "1 second")
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("tws_sessions")
        .option("checkpointLocation", tmpDir("twsckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val sessions = spark.table("tws_sessions")
      .filter($"user_id" =!= 999L)
      .select("user_id", "n_events", "total_value")
      .as[(Long, Int, Double)].collect().toSet
    // session A closes INLINE when B's first event exceeds the gap;
    // B and user 2's session close via the event-time timer once the
    // sentinel advances the watermark past last + gap
    assert(sessions === Set(
      (1L, 2, 3.0), (1L, 1, 4.0), (2L, 1, 8.0)))
  }
}
