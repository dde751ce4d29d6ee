package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._
import graft.Tables

/** Event-time streaming surface: watermarked windowed aggregation and
  * custom sessionization state — the Structured Streaming operators a
  * continuously-fed `transactions`/`events` lake needs (the reference
  * defines no event-time behavior — SURVEY §2.5 "absent" — so these are
  * engine extensions on stock Spark primitives).
  *
  * Scale notes: windowed aggregation state is keyed by (window, key) and
  * pruned by the watermark — state size is bounded by keys × open
  * windows, independent of stream length. Sessionization state is one
  * small struct per active user; `GroupStateTimeout.EventTimeTimeout`
  * closes sessions exactly when the watermark passes the gap.
  */
object EventStreams {

  /** The events schema as produced by the testdata generator (ts as
    * microsecond timestamp — see [[graft.Tables.events]]). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window per-type counts/sums with a watermark: late rows
    * beyond `lateness` are dropped, on-time late rows update their
    * window (standard event-time semantics). */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal-exact sum (Tables numeric policy): the partial-agg fold
      // order must not change the double result vs the oracle
      .agg(count(lit(1)).as("n_events"),
        Tables.d(sum(Tables.dec(col("value")))).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Stream-static enrichment: the event stream joined to a broadcast
    * dimension (user → segment), then windowed per-segment aggregates —
    * the standard "enrich a firehose with reference data" shape.
    * A stream-static inner join is STATELESS (each micro-batch probes
    * the static side; no watermark bookkeeping on the dimension), and
    * the broadcast keeps the stream side from shuffling before the
    * windowed aggregate — at 100 TB/day the only stateful operator is
    * the watermark-bounded window itself. Rows without a dimension
    * match (the drain sentinel, unknown users) drop at the inner join. */
  def enrichedWindowedValue(events: DataFrame, dim: DataFrame,
      dimKey: String, dimVal: String, windowLen: String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .join(broadcast(dim.select(col(dimKey), col(dimVal))),
        col("user_id") === col(dimKey))
      .groupBy(window(col("ts"), windowLen), col(dimVal))
      .agg(count(lit(1)).as("n_events"),
        Tables.d(sum(Tables.dec(col("value")))).as("total_value"))
      .select(col("window.start").as("window_start"),
        col(dimVal).as("segment"), col("n_events"), col("total_value"))

  /** Sliding-window per-type counts: each event lands in
    * windowLen/slide overlapping windows (stock Spark `window` with a
    * slide). State cost multiplies by the overlap factor — the
    * watermark still bounds it. */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Tables.d(sum(Tables.dec(col("value")))).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Native session windows (`session_window`) — the built-in
    * alternative to the custom [[sessionize]] state machine; same gap
    * semantics at full event-time (µs) precision. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Tables.d(sum(Tables.dec(col("value")))).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Stateful streaming dedup — the ingestion-side exactly-once guard a
    * training-data pipeline needs when the same event can arrive twice
    * (at-least-once sources, replayed batches). Cross-micro-batch: a
    * duplicate arriving in a LATER batch is still dropped, because the
    * first occurrence is remembered in state. The state is BOUNDED: the
    * dedup key includes the event-time column, so Spark evicts an entry
    * as soon as the watermark passes its timestamp — memory is
    * (arrival rate × lateness), independent of stream length. Rows
    * older than the watermark are dropped outright (standard lateness
    * semantics), which is also dedup-correct: anything that old was
    * either already emitted or out of contract. */
  def dedupStream(events: DataFrame, keys: Seq[String] = Seq("event_id"),
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicates(keys :+ "ts")

  /** Stream-stream event-time interval join — the attribution shape: a
    * left event pairs with the SAME user's right events that occur
    * within `within` AFTER it (click → purchase-within-2h). Both sides
    * carry watermarks and the join condition bounds event time in both
    * directions, so Spark evicts join state as the watermark advances:
    * state is (arrival rate × (within + lateness)) per side,
    * independent of stream length — the property that lets this run
    * forever against a firehose. An INNER interval join's output is a
    * pure set (each qualifying pair emits exactly once, when its
    * second side arrives), so the result is invariant to micro-batch
    * boundaries. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      within: String = "2 hours",
      lateness: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", lateness).alias("l")
    val r = right.withWatermark("ts", lateness).alias("r")
    l.join(r,
      expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
        s"r.ts <= l.ts + interval $within"))
      .select(col("l.event_id").as("l_id"), col("r.event_id").as("r_id"),
        col("l.user_id").as("user_id"),
        col("l.ts").as("l_ts"), col("r.ts").as("r_ts"))
  }

  /** Stream-stream event-time interval LEFT OUTER join — attribution
    * with explicit NON-conversion: a left row pairs with the same
    * user's right rows within `within`, and a left row with NO
    * qualifying match still emits (null right side) once the watermark
    * proves no qualifying row can arrive — i.e. when it passes
    * left.ts + within + lateness. That expiry-driven emission is the
    * semantics the inner [[intervalJoin]] cannot express, and it is
    * exactly how join state stays bounded: the unmatched-left buffer
    * IS the join state, evicted (and emitted) by the same watermark.
    *
    * CAUTION — watermark vs filter pushdown: a side predicate that
    * does not reference `ts` (e.g. `event_type = 'click'`) is pushed
    * BELOW the EventTimeWatermark node by the optimizer, so each
    * side's watermark then tracks only its own event type; rows of
    * other types (and any drain sentinel) stop advancing it, and the
    * final unmatched lefts never flush. Callers that need pass-through
    * rows to drive the watermark must fold them into the predicate as
    * an OR that references `ts` (a conjunct would be split and pushed;
    * a ts-referencing OR is unsplittable and stays above the
    * watermark), then drop those rows from the OUTPUT — their join
    * artifacts carry recognizable ids — outside the streaming query. */
  def intervalJoinOuter(events: DataFrame, leftPred: Column,
      rightPred: Column, within: String = "2 hours",
      lateness: String = "30 minutes"): DataFrame = {
    val l = events.withWatermark("ts", lateness).filter(leftPred).alias("l")
    val r = events.withWatermark("ts", lateness).filter(rightPred).alias("r")
    l.join(r,
      expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
        s"r.ts <= l.ts + interval $within"), "left_outer")
      .select(col("l.event_id").as("l_id"), col("r.event_id").as("r_id"),
        col("l.user_id").as("user_id"),
        col("l.ts").as("l_ts"), col("r.ts").as("r_ts"))
  }

  final case class SessionIn(user_id: Long, ts: java.sql.Timestamp,
      value: Double)
  final case class TypedIn(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)
  /** Exact-decimal accumulator (the [[graft.Tables]] numeric policy in
    * state form): per-type totals can span hundreds of events, past
    * the length where a double fold's order stops being replayable —
    * decimal sums are order-free by construction. */
  final case class TypeAcc(n: Long, total: BigDecimal, last: Long)
  final case class ProfileOut(user_id: Long, event_type: String,
      n_events: Long, total_value: Double)
  final case class SessionState(start: Long, last: Long, n: Int,
      total: Double)
  final case class SessionOut(user_id: Long, start_ts: Long, end_ts: Long,
      n_events: Int, total_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState: events
    * within `gapMs` of each other join a session; a session closes when
    * the event-time watermark passes its last event + gap. */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L,
      lateness: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    val typed = events.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), col("value")).as[SessionIn]

    val fn = (user: Long, rows: Iterator[SessionIn],
        state: GroupState[SessionState]) => {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionOut(user, s.start, s.last, s.n, s.total))
      } else {
        // full-precision (µs) sort with value as the tiebreak: even two
        // events on the SAME microsecond must fold their values in a
        // specified order or the double sum is partition-arrival-
        // dependent (the oracle sorts the same way)
        val sorted = rows.toSeq
          .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.value))
        var out = List.empty[SessionOut]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapMs =>
              cur = Some(SessionState(s.start, math.max(s.last, t),
                s.n + 1, s.total + e.value))
            case Some(s) => // gap exceeded: emit and start fresh
              out ::= SessionOut(user, s.start, s.last, s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMs)
        }
        out.reverseIterator
      }
    }
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF()
  }

  /** Sessionization re-expressed on Spark 4's `transformWithState` —
    * the arbitrary-stateful-processing API that supersedes
    * `flatMapGroupsWithState`: a `ValueState[SessionState]` per user
    * plus an explicit EVENT-TIME TIMER at `last + gap` replace the
    * `GroupStateTimeout` machinery, and `handleExpiredTimer` IS the
    * session close. Semantics are pinned to [[sessionize]] exactly —
    * same in-batch fold order, same gap algebra — and the e13 driver
    * key shares e02's oracle verbatim, so the legacy and modern state
    * APIs can never silently drift apart. `transformWithState` runs
    * only on the RocksDB state-store provider (the disk-backed state
    * path the provider-swap spec proves for the classic operators —
    * at 100 TB the per-key state lives on executor-local SSD either
    * way, so standardizing on the newer API costs nothing). */
  def sessionizeTws(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L,
      lateness: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), col("value")).as[SessionIn]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Dormant-user profile flush on `transformWithState` MAP state: a
    * per-user MapState accumulates (event_type → count, value total),
    * and the profile is emitted — and the state EVICTED — whenever the
    * user goes dormant past `retentionMs`: by event-time timer when
    * the dormancy spans micro-batches, by an inline walk when a gap
    * falls inside one batch (Spark processes a batch's input before
    * its expired timers, so a returning user would otherwise merge
    * into state the timer has not flushed yet — the same in-batch
    * split the sessionizer does for gaps). This is the "flush and
    * forget dormant users" pattern that keeps per-entity state bounded
    * by the ACTIVE population, not the all-time one. Exercises the API
    * surface e13's ValueState machine doesn't: keyed sub-state (one
    * map entry per event type) mutated in place, iterated at flush.
    * Totals are exact decimals (the Tables numeric policy in state
    * form — order-free sums, replayable at any profile length). */
  def profileTws(spark: SparkSession, events: DataFrame,
      retentionMs: Long = 24 * 3600 * 1000L,
      lateness: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[TypedIn]
      .groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor(retentionMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Drain a parquet events directory through the windowed aggregation
    * into an in-memory table (deterministic test/batch-parity runs). */
  def runWindowedAvailableNow(spark: SparkSession, inputDir: String,
      checkpointDir: String, sinkTable: String): Unit =
    graft.util.StreamTuning.drain(spark, inputDir, checkpointDir) {
      windowedCounts(spark.readStream.schema(eventSchema).parquet(inputDir))
        .writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(sinkTable)
    }

  // ---- query inventory ----

  /** Sentinel timestamp far past the testdata's event range: its batch
    * pushes the final watermark beyond every real window/session, so
    * append-mode state is fully flushed before the query terminates. */
  private val sentinelTs = java.sql.Timestamp.valueOf("2035-01-01 00:00:00")

  /** Prepare (and cache per shape,
    * [[graft.util.StreamTuning.orderedDrops]]) a drain-input directory:
    * each batch lands as one mtime-pinned file, the sentinel last — the
    * input is a deterministic function of the source table, so repeated
    * drains in one JVM (bench warmup + two timed passes) reuse it; only
    * the checkpoint and sink are per-run. `parts`
    * (mutually exclusive with `copies` > 1) splits the events into
    * ORDERED arrival batches: partition predicate i's rows arrive as
    * micro-batch i. Rows matching no predicate never arrive; rows
    * arriving after the watermark has passed them are LATE and subject
    * to the operator's lateness semantics — this is the disorder knob
    * the e09/e10/e11 late-data keys turn. */
  private[graft] def prepareDrainInput(s: SparkSession, dir: String,
      copies: Int, parts: Seq[Column]): String = {
    require(copies == 1 || parts.isEmpty,
      "copies and parts are alternative batch shapes")
    prepareBatches(s, s"$dir#$copies#${parts.mkString(";")}", {
      val ev = Tables.events(s, dir)
      if (parts.nonEmpty) parts.map(ev.filter) else Seq.fill(copies)(ev)
    })
  }

  /** Arbitrary-batch drain input: `mkBatches` derives each ordered
    * arrival batch from the events table (filtered, transformed,
    * re-stamped — the at-least-once-with-jitter shapes `parts` can't
    * express). `label` keys the per-JVM cache, so it must uniquely
    * describe the derivation. */
  private[graft] def prepareDrainInputCustom(s: SparkSession, dir: String,
      label: String, mkBatches: DataFrame => Seq[DataFrame]): String =
    prepareBatches(s, s"$dir#custom#$label",
      mkBatches(Tables.events(s, dir)))

  private def prepareBatches(s: SparkSession, cacheKey: String,
      batches: => Seq[DataFrame]): String =
    graft.util.StreamTuning.orderedDrops(s, "drain:" + cacheKey,
      "graft_drain") {
      batches :+ s.range(1).select(
        lit(-1L).as("event_id"), lit(sentinelTs).as("ts"),
        lit(-1L).as("user_id"), lit("_sentinel").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
    }

  /** Watermark-window streaming dedup for at-least-once sources that
    * RE-STAMP event time on redelivery (a retried producer stamps send
    * time, not occurrence time): `dropDuplicatesWithinWatermark` keys
    * state on the ID ALONE and drops any duplicate arriving within the
    * watermark delay of the first sighting, even at a different
    * timestamp — the case [[dedupStream]] (whose dedup key includes
    * `ts`) structurally cannot catch. State is still watermark-bounded:
    * an entry is evicted once the watermark passes its latest sighting
    * + delay, so memory is (arrival rate × delay), stream-length
    * independent. The contract weakens symmetrically: a duplicate
    * redelivered LATER than the delay window is out of contract (it
    * would re-emit), which is exactly the at-least-once SLA line. */
  def dedupWithinWatermark(events: DataFrame,
      keys: Seq[String] = Seq("event_id"),
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Run `build(stream)` over the events table via Trigger.AvailableNow
    * and return the fully-flushed result (batch parity for the driver's
    * oracle). Mechanics: the real events are ONE file (so no event is
    * late vs a watermark raised by an earlier batch), the sentinel row
    * is a SECOND file, and maxFilesPerTrigger=1 forces it into a later
    * micro-batch — watermarks only advance between batches, and Spark's
    * no-data batch then flushes all remaining state. `copies` > 1 feeds
    * the SAME events through the stream that many times as separate
    * micro-batches — the at-least-once replay shape the dedup drain
    * (e05) must collapse back to exactly-once. */
  private def drainAvailableNow(s: SparkSession, dir: String, name: String,
      copies: Int = 1, parts: Seq[Column] = Nil)(
      build: DataFrame => DataFrame): DataFrame =
    runDrain(s, prepareDrainInput(s, dir, copies, parts), name)(build)

  /** [[drainAvailableNow]] with caller-derived arrival batches (see
    * [[prepareDrainInputCustom]]). */
  private[graft] def drainCustomBatches(s: SparkSession, dir: String,
      name: String, mkBatches: DataFrame => Seq[DataFrame])(
      build: DataFrame => DataFrame): DataFrame =
    runDrain(s, prepareDrainInputCustom(s, dir, name, mkBatches),
      name)(build)

  private def runDrain(s: SparkSession, in: String, name: String)(
      build: DataFrame => DataFrame): DataFrame = {
    // state partitions sized from the drain's input bytes, not the core
    // count — see StreamTuning (guide §2.2 for stateful streams)
    graft.util.StreamTuning.drain(s, in,
      graft.util.Scratch.fresh(s"graft_$name")) {
      build(eventsFrom(s, in)).writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(name)
    }
    s.table(name)
  }

  /** The ordered drain input as a stream, one drop per micro-batch. */
  private[graft] def eventsFrom(s: SparkSession, in: String): DataFrame =
    s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(in)

  /** e15 machinery: the windowed aggregation drained in UPDATE output
    * mode into a keyed GRAFT table — the "streaming silver table"
    * pattern: each micro-batch emits the windows it UPDATED, and a
    * keyed ordered-upsert (precombine = batch id) makes the serving
    * table always hold each window's latest total. Update mode is what
    * makes the sink a TABLE rather than a log: append mode would emit
    * each window once, only after the watermark closes it (no serving
    * of in-flight windows), while update+upsert serves every window's
    * running value and converges to the batch aggregate. Idempotent
    * replay comes from the upsert key, ordered precombine, and the
    * engine's commit atomicity — the same triple x04 proves for raw
    * payloads, here proven for AGGREGATE state. */
  private def drainAggToTable(s: SparkSession, dir: String): DataFrame = {
    import graft.merge.Merge
    val in = prepareDrainInput(s, dir, 1, Nil)
    val run = graft.util.Scratch.fresh("graft_e15")
    val tablePath = s"$run/table"
    graft.util.StreamTuning.drain(s, in, s"$run/ckpt") {
      windowedCounts(eventsFrom(s, in)).writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            Merge.upsertOrdered(s,
              batch.withColumn("ver", lit(batchId))
                .withColumn("pt", lit("all")),
              tablePath, Seq("window_start", "event_type"), "ver",
              Seq("pt"))
          }
          ()
        }
    }
    Merge.readTable(s, tablePath)
      .filter(col("event_type") =!= "_sentinel")
      .select("window_start", "event_type", "n_events", "total_value")
      .orderBy("window_start", "event_type")
  }

  /** e12 machinery: the even/odd split drained through a foreachBatch
    * enrichment against a GRAFT dimension table that is UPSERTED after
    * the first micro-batch — the slowly-changing-dimension reality
    * (reference data mutates while the firehose runs). Each batch
    * re-resolves the dimension snapshot ([[graft.sources.GraftRelation]]'s
    * lazy per-scan resolution is exactly what makes this correct — a
    * relation that pinned its file list at stream start would serve v1
    * forever), so batch 0 joins dim v1 and batch 1 joins dim v2;
    * determinism comes from the ordered arrival split plus the
    * engine's own commit atomicity. */
  private def drainEnrichedDimUpdate(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.merge.Merge
    val in = prepareDrainInput(s, dir, 1,
      Seq(col("event_id") % 2 === 0, col("event_id") % 2 === 1))
    val run = graft.util.Scratch.fresh("graft_e12")
    val dimPath = s"$run/dim"
    val cust = Tables.customer(s, dir)
    Merge.upsert(s,
      cust.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"), lit(1L).as("ver"),
        lit("all").as("pt")),
      dimPath, Seq("user_id"), "ver", Seq("pt"))
    val outDir = s"$run/out"
    graft.util.StreamTuning.drain(s, in, s"$run/ckpt") {
      eventsFrom(s, in).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val dim = Merge.readTable(s, dimPath)
            .select(col("user_id"), col("segment"))
          batch.join(broadcast(dim), Seq("user_id"))
            .select("event_id", "user_id", "value", "segment")
            .write.mode("append").parquet(outDir)
          if (batchId == 0) {
            // the SCD update lands BETWEEN micro-batches: a third of the
            // users move to a new segment
            Merge.upsert(s,
              cust.filter(col("c_custkey") % 3 === 0)
                .select(col("c_custkey").as("user_id"),
                  lit("UPDATED").as("segment"), lit(2L).as("ver"),
                  lit("all").as("pt")),
              dimPath, Seq("user_id"), "ver", Seq("pt"))
          }
          ()
        }
    }
    s.read.parquet(outDir)
      .filter(col("event_id") =!= -1L)
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        Tables.d(sum(Tables.dec(col("value")))).as("total_value"))
      .orderBy("segment")
  }

  /** Run `body` with the RocksDB state-store provider active
    * (required by `transformWithState`), restoring the prior provider
    * after. The provider is captured at query START, so restoring it
    * once the drain has terminated cannot affect the result. */
  private[graft] def withRocksDb[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // e16: transformWithState MAP state — per-user per-type profiles
    // flushed at every 24h dormancy boundary (timer between batches,
    // inline walk within one); the inventory equals the 24h-gap
    // islands aggregated per type, exact decimals
    "e16_tws_profile" -> ((s, dir) => withRocksDb(s) {
      drainAvailableNow(s, dir, "e16_sink")(profileTws(s, _))
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "event_type", "n_events", "total_value")
    }),
    // e13: the SAME session inventory as e02, computed by the modern
    // transformWithState processor (timers + ValueState on RocksDB)
    // instead of flatMapGroupsWithState — one oracle, two state APIs
    "e13_tws_sessions" -> ((s, dir) => withRocksDb(s) {
      drainAvailableNow(s, dir, "e13_sink")(sessionizeTws(s, _))
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("n_events").cast("long").as("n_events"), col("total_value"))
        .orderBy("user_id", "start_ts")
    }),
    "e12_stream_dim_update" -> ((s, dir) =>
      drainEnrichedDimUpdate(s, dir)),
    // e15: update-mode agg → keyed upsert = a serving table that must
    // converge to e01's batch aggregate (shared oracle shape)
    "e15_stream_agg_table" -> ((s, dir) => drainAggToTable(s, dir)),
    "e01_windowed_counts" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e01_sink")(windowedCounts(_))
        .filter(col("event_type") =!= "_sentinel")
        .orderBy("window_start", "event_type")),
    "e02_sessions" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e02_sink")(sessionize(s, _))
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("n_events").cast("long").as("n_events"), col("total_value"))
        .orderBy("user_id", "start_ts")),
    "e03_sliding_counts" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e03_sink")(slidingCounts(_))
        .filter(col("event_type") =!= "_sentinel")
        .orderBy("window_start", "event_type")),
    "e04_session_window" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e04_sink")(sessionCounts(_))
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")),
    // e05: the whole corpus is replayed TWICE (two micro-batches of the
    // same events); the watermark-bounded dedup must emit each event
    // exactly once — the oracle is simply the events table itself
    "e05_stream_dedup" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e05_sink", copies = 2)(dedupStream(_))
        .filter(col("event_type") =!= "_sentinel")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")),
    // e14: the corpus is replayed with every redelivery RE-STAMPED one
    // minute later (at-least-once with producer-side jitter). The
    // ts-keyed e05 dedup would pass every jittered copy through;
    // dropDuplicatesWithinWatermark keys on event_id alone and must
    // still collapse to exactly the events table — first stamp wins,
    // each surviving jittered copy is inside its original's
    // 30-minute state window by construction (spec pins the contrast)
    "e14_jittered_dedup" -> ((s, dir) =>
      drainCustomBatches(s, dir, "e14_sink", ev => Seq(ev,
        ev.withColumn("ts", col("ts") + expr("interval 1 minute"))))(
        dedupWithinWatermark(_))
        .filter(col("event_type") =!= "_sentinel")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")),
    // e06: stream-stream interval join (click → purchase attribution) —
    // a SELF-join of the drained stream filtered two ways; the inner
    // interval join must emit exactly the qualifying pairs however the
    // source batches the files, and the oracle is the same join
    // relationally
    // e07: stream-static enrichment — the drained stream broadcast-
    // joined to the customer dimension, windowed per market segment.
    // The static join is stateless, so streamed == batch; the oracle is
    // the same join + hourly bucket relationally (the sentinel has no
    // dimension row and drops at the inner join)
    "e07_stream_enrich" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e07_sink") { src =>
        enrichedWindowedValue(src,
          Tables.customer(s, dir), "c_custkey", "c_mktsegment")
      }.orderBy("window_start", "segment")),
    "e06_stream_join" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e06_sink") { src =>
        intervalJoin(
          src.filter(col("event_type") === "click"),
          src.filter(col("event_type") === "purchase"))
      }.orderBy("l_id", "r_id")),
    // e08: the left-outer variant — unmatched clicks surface with a
    // null purchase side once the watermark expires their join window.
    // The sentinel rides BOTH side predicates via the ts-referencing OR
    // (see intervalJoinOuter's caution) so it advances the watermark
    // past every real click's expiry; its one self-match artifact
    // (l_id = -1) is dropped from the SINK table — a batch filter, so
    // no pushdown can move it below the watermark
    "e08_stream_outer_join" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e08_sink") { src =>
        val carrier = col("ts") >= lit(sentinelTs)
        intervalJoinOuter(src,
          col("event_type") === "click" || carrier,
          col("event_type") === "purchase" || carrier)
      }.filter(col("l_id") =!= -1L).orderBy("l_id", "r_id")),
    // e09: REAL late data against the windowed aggregation — even
    // event_ids arrive first (advancing the watermark to the stream's
    // end), odd event_ids arrive in a later micro-batch where almost
    // all of them are late. Semantics pinned empirically on this Spark
    // (SPARK-39931): a stateful operator filters LATE INPUT with the
    // PREVIOUS batch's watermark and evicts state with the current one
    // — so the split needs an empty micro-batch in the middle, or the
    // late batch would be filtered against the pre-advance watermark
    // (0) and nothing would drop. A late row whose hour window is
    // still open (window end above the watermark) is absorbed; a row
    // whose window the watermark already closed is dropped. The oracle
    // replays exactly that predicate with the engine's ms-granularity
    // watermark (max even-arrival ts − 30 min, truncated to ms).
    // Windows are hour-aligned and the watermark is not, so predicate
    // strictness can never matter here.
    "e09_late_counts" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e09_sink",
        parts = Seq(col("event_id") % 2 === 0, col("event_id") === -42L,
          col("event_id") % 2 === 1))(
        windowedCounts(_))
        .filter(col("event_type") =!= "_sentinel")
        .orderBy("window_start", "event_type")),
    // e10: the same disorder against the stateful outer join — late
    // clicks/purchases beyond the watermark are dropped at input, and
    // an on-time click whose ONLY matching purchase arrived too late
    // must surface as unmatched (null right side). The eviction
    // algebra guarantees consistency: a left row expires only when the
    // watermark passes l.ts + 2h, by which point any matching right is
    // necessarily below the watermark, i.e. dropped — so the drained
    // set is exactly the relational outer join over the KEPT rows.
    // e11: the same disorder against NATIVE SESSION WINDOWS — the
    // subtlest of the three late predicates (pinned empirically): a
    // late row survives iff its PROVISIONAL session end (ts + gap) is
    // above the previous batch's watermark, and append-mode emission
    // is FINAL — a kept late row that relationally belongs to an
    // already-emitted session cannot reopen it and starts a fresh one
    // instead. The oracle is therefore emission-aware: islands over
    // the on-time arrivals first, sessions the watermark closed are
    // frozen, and the kept late rows re-sessionize only with the rows
    // of still-open sessions.
    "e11_late_sessions" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e11_sink",
        parts = Seq(col("event_id") % 2 === 0, col("event_id") === -42L,
          col("event_id") % 2 === 1))(sessionCounts(_))
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")),
    // (same empty middle batch as e09 — the late-input filter uses the
    // previous batch's watermark; here it drops on RAW ts, not window
    // end, so e09 and e10 pin the two distinct late predicates)
    "e10_late_outer_join" -> ((s, dir) =>
      drainAvailableNow(s, dir, "e10_sink",
        parts = Seq(col("event_id") % 2 === 0, col("event_id") === -42L,
          col("event_id") % 2 === 1)) {
        src =>
          val carrier = col("ts") >= lit(sentinelTs)
          intervalJoinOuter(src,
            col("event_type") === "click" || carrier,
            col("event_type") === "purchase" || carrier)
      }.filter(col("l_id") =!= -1L).orderBy("l_id", "r_id")))

  /** DuckDB parity: e01 is a plain hourly bucket aggregate (every
    * window is flushed by the sentinel, so streamed == batch); e02 is
    * the classic gaps-and-islands rewrite of sessionization — ms epoch
    * times like the engine state, value sum as an ORDER BY ts sequential
    * fold matching the engine's in-order accumulation. */
  val oracle: Map[String, String] = Map(
    // dormancy-bounded profiles == 24h-gap islands per user, each
    // island aggregated per event type (exact decimals; the output
    // carries no island id, so rows order by ALL columns)
    "e16_tws_profile" ->
      """WITH e AS (SELECT user_id, ts, event_type, value,
        |             epoch_ms(ts) AS t FROM events),
        |m AS (SELECT *, CASE WHEN t - lag(t) OVER (
        |        PARTITION BY user_id ORDER BY ts, value)
        |        > 86400000 THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |        ORDER BY ts, value ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM m)
        |SELECT user_id, event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total_value
        |FROM g GROUP BY user_id, grp, event_type
        |ORDER BY user_id, event_type, n_events, total_value""".stripMargin,
    // e13 must equal e02 row-for-row: same gaps-and-islands rewrite,
    // same ms epochs, same in-order value fold
    "e13_tws_sessions" ->
      """WITH e AS (SELECT user_id, ts, epoch_ms(ts) AS t, value FROM events),
        |m AS (SELECT user_id, ts, t, value,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY ts)
        |                  > 1800000 THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |g AS (SELECT user_id, ts, t, value,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM m)
        |SELECT user_id, MIN(t) AS start_ts, MAX(t) AS end_ts,
        |  COUNT(*) AS n_events,
        |  list_sum(list(value ORDER BY ts, value)) AS total_value
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_ts""".stripMargin,
    // even arrivals join dim v1, odd arrivals join the post-update v2
    // (the CASE is exactly the upsert's effect on the keyed state)
    "e12_stream_dim_update" ->
      """WITH dim1 AS (SELECT c_custkey AS user_id,
        |                     c_mktsegment AS seg FROM customer),
        |dim2 AS (SELECT c_custkey AS user_id,
        |           CASE WHEN c_custkey % 3 = 0 THEN 'UPDATED'
        |                ELSE c_mktsegment END AS seg
        |         FROM customer),
        |enr AS (
        |  SELECT e.value, d.seg FROM events e
        |  JOIN dim1 d ON e.user_id = d.user_id
        |  WHERE e.event_id % 2 = 0
        |  UNION ALL
        |  SELECT e.value, d.seg FROM events e
        |  JOIN dim2 d ON e.user_id = d.user_id
        |  WHERE e.event_id % 2 = 1)
        |SELECT seg AS segment, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total_value
        |FROM enr GROUP BY 1 ORDER BY 1""".stripMargin,
    "e07_stream_enrich" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |  c_mktsegment AS segment,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e01_windowed_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the upsert-maintained serving table converges to the same batch
    // aggregate e01 flushes
    "e15_stream_agg_table" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each event lands in the 4 overlapping hour windows whose 15-min-
    // aligned starts cover it (time_bucket's 2000-01-03 origin is
    // 15-min-aligned with Spark's epoch-aligned window starts)
    "e03_sliding_counts" ->
      """WITH x AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - k * INTERVAL '15 minutes' AS window_start,
        |         event_type, value
        |  FROM events, unnest(generate_series(0, 3)) AS t(k))
        |SELECT window_start, event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // native session_window parity at full µs precision: merge while
    // the next event is STRICTLY inside last+gap (the window end is
    // exclusive), session_start = first event time
    "e04_session_window" ->
      """WITH m AS (SELECT user_id, ts, value,
        |        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                  (PARTITION BY user_id ORDER BY ts)
        |                  >= 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM events),
        |g AS (SELECT user_id, ts, value,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM m)
        |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,
    "e02_sessions" ->
      """WITH e AS (SELECT user_id, ts, epoch_ms(ts) AS t, value FROM events),
        |m AS (SELECT user_id, ts, t, value,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY ts)
        |                  > 1800000 THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |g AS (SELECT user_id, ts, t, value,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM m)
        |SELECT user_id, MIN(t) AS start_ts, MAX(t) AS end_ts,
        |  COUNT(*) AS n_events,
        |  list_sum(list(value ORDER BY ts, value)) AS total_value
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_ts""".stripMargin,
    // a doubled stream deduped back to exactly-once == the table itself
    "e05_stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // a jitter-redelivered stream deduped on id alone == the table
    // (first stamp wins; every jittered copy lands inside its
    // original's state window)
    "e14_jittered_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // the streamed interval join == the same join done relationally
    "e06_stream_join" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id,
        |       l.user_id AS user_id, l.ts AS l_ts, r.ts AS r_ts
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR
        |ORDER BY l_id, r_id""".stripMargin,
    // NULLS FIRST mirrors Spark's ascending null ordering on the
    // unmatched rows' r_id
    "e08_stream_outer_join" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id,
        |       l.user_id AS user_id, l.ts AS l_ts, r.ts AS r_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR
        |ORDER BY l_id, r_id NULLS FIRST""".stripMargin,
    // the engine's watermark after the even-arrival batch, at Spark's
    // ms granularity: floor-to-ms of the max even ts, minus 30 min. A
    // late (odd-arrival) row survives iff its hour window is still
    // open — window end strictly above the watermark
    "e09_late_counts" ->
      """WITH w AS (SELECT make_timestamp((epoch_ms(max(ts)) - 1800000)
        |             * 1000) AS wm
        |           FROM events WHERE event_id % 2 = 0)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
        |FROM events, w
        |WHERE event_id % 2 = 0
        |   OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wm
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // emission-aware session replay: stage 1 sessionizes the even
    // arrivals (e04's islands); sessions whose end (last + 30 min gap)
    // the watermark passed are FROZEN — append mode emitted them and
    // they can never change. Stage 2 re-sessionizes the still-open
    // rows together with the surviving late rows (kept iff their
    // provisional session end ts + gap clears the watermark). The
    // final inventory is frozen ∪ stage-2 — including the split case
    // where a late row relationally inside a frozen session must
    // start a fresh one instead.
    "e11_late_sessions" ->
      """WITH w AS (SELECT make_timestamp((epoch_ms(max(ts)) - 1800000)
        |             * 1000) AS wm
        |           FROM events WHERE event_id % 2 = 0),
        |ev AS (SELECT user_id, ts, value FROM events
        |       WHERE event_id % 2 = 0),
        |m1 AS (SELECT user_id, ts, value,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                   (PARTITION BY user_id ORDER BY ts)
        |                   >= 1800000000 THEN 1 ELSE 0 END AS brk
        |       FROM ev),
        |g1 AS (SELECT user_id, ts, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS grp
        |       FROM m1),
        |s1 AS (SELECT user_id, grp, MIN(ts) AS session_start,
        |         MAX(ts) AS last_ts, COUNT(*) AS n_events,
        |         CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |           AS total_value
        |       FROM g1 GROUP BY user_id, grp),
        |frozen AS (SELECT s1.session_start, s1.user_id, s1.n_events,
        |             s1.total_value
        |           FROM s1 CROSS JOIN w
        |           WHERE s1.last_ts + INTERVAL 30 MINUTE < w.wm),
        |openev AS (SELECT g1.user_id, g1.ts, g1.value
        |           FROM g1 JOIN s1 USING (user_id, grp) CROSS JOIN w
        |           WHERE s1.last_ts + INTERVAL 30 MINUTE >= w.wm),
        |keptodd AS (SELECT e.user_id, e.ts, e.value
        |            FROM events e CROSS JOIN w
        |            WHERE e.event_id % 2 = 1
        |              AND e.ts + INTERVAL 30 MINUTE > w.wm),
        |u AS (SELECT * FROM openev UNION ALL SELECT * FROM keptodd),
        |m2 AS (SELECT user_id, ts, value,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                   (PARTITION BY user_id ORDER BY ts)
        |                   >= 1800000000 THEN 1 ELSE 0 END AS brk
        |       FROM u),
        |g2 AS (SELECT user_id, ts, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS grp
        |       FROM m2),
        |s2 AS (SELECT MIN(ts) AS session_start, user_id,
        |         COUNT(*) AS n_events,
        |         CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |           AS total_value
        |       FROM g2 GROUP BY user_id, grp)
        |SELECT session_start, user_id, n_events, total_value FROM frozen
        |UNION ALL
        |SELECT session_start, user_id, n_events, total_value FROM s2
        |ORDER BY user_id, session_start""".stripMargin,
    // the streamed late-data outer join == the relational outer join
    // over the KEPT rows only: even arrivals plus odd arrivals still at
    // or above the watermark when their batch ran
    "e10_late_outer_join" ->
      """WITH w AS (SELECT make_timestamp((epoch_ms(max(ts)) - 1800000)
        |             * 1000) AS wm
        |           FROM events WHERE event_id % 2 = 0),
        |k AS (SELECT e.* FROM events e, w
        |      WHERE event_id % 2 = 0 OR ts >= wm)
        |SELECT l.event_id AS l_id, r.event_id AS r_id,
        |       l.user_id AS user_id, l.ts AS l_ts, r.ts AS r_ts
        |FROM (SELECT * FROM k WHERE event_type = 'click') l
        |LEFT JOIN (SELECT * FROM k WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR
        |ORDER BY l_id, r_id NULLS FIRST""".stripMargin)
}

/** The [[EventStreams.sessionizeTws]] state machine: one
  * `ValueState[SessionState]` per user, one live event-time timer at
  * the open session's `last + gap`. `handleInputRows` folds the batch
  * in the SAME (ts µs, value) order as the legacy sessionizer — two
  * events on one microsecond must sum their values in a specified
  * order or the double total is partition-arrival-dependent — and
  * closes past sessions inline when a gap lands inside one batch.
  * `handleExpiredTimer` closes a session exactly when the watermark
  * passes its last event + gap (the timer is re-registered on every
  * extension, so an expiry always refers to the CURRENT session). */
/** The [[EventStreams.profileTws]] state machine: MapState keyed by
  * event type, one live timer per user at `last activity + retention`.
  * `handleExpiredTimer` iterates the map, emits one row per type, and
  * clears everything — emission order is irrelevant (the profile is a
  * set; the query canonicalizes with ORDER BY). */
class ProfileProcessor(retentionMs: Long) extends StatefulProcessor[
    Long, EventStreams.TypedIn, EventStreams.ProfileOut] {
  import EventStreams.{ProfileOut, TypeAcc, TypedIn}

  @transient private var state: org.apache.spark.sql.streaming
    .MapState[String, TypeAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getMapState[String, TypeAcc]("profile",
      Encoders.STRING, Encoders.product[TypeAcc], TTLConfig.NONE)

  private def flush(user: Long): Vector[ProfileOut] = {
    val out = state.iterator().map { case (tpe, acc) =>
      ProfileOut(user, tpe, acc.n, acc.total.toDouble)
    }.toVector
    state.clear()
    out
  }

  override def handleInputRows(user: Long, rows: Iterator[TypedIn],
      timers: TimerValues): Iterator[ProfileOut] = {
    // Spark processes a batch's INPUT before its expired timers, so a
    // user returning after dormancy would merge into state the timer
    // has not flushed yet — the retention boundary must therefore be
    // handled INLINE, exactly like the sessionizer's in-batch gap
    // split: sort by event time, flush whenever a gap exceeds the
    // retention window. Totals are exact decimals (the Tables numeric
    // policy in state form — order-free sums, replayable at any list
    // length where a double fold would drift).
    val sorted = rows.toSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.value))
    var out = Vector.empty[ProfileOut]
    var last =
      if (state.exists()) state.values().map(_.last).foldLeft(0L)(math.max)
      else 0L
    sorted.foreach { e =>
      val t = e.ts.getTime
      if (last > 0 && t - last > retentionMs && state.exists())
        out ++= flush(user)
      val cur =
        if (state.containsKey(e.event_type)) state.getValue(e.event_type)
        else TypeAcc(0L, BigDecimal(0), 0L)
      val v = BigDecimal(e.value)
        .setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP)
      state.updateValue(e.event_type,
        TypeAcc(cur.n + 1, cur.total + v, math.max(cur.last, t)))
      last = math.max(last, t)
    }
    if (last > 0) {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last + retentionMs)
    }
    out.iterator
  }

  override def handleExpiredTimer(user: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[ProfileOut] =
    if (state.exists()) flush(user).iterator else Iterator.empty
}

class SessionProcessor(gapMs: Long) extends StatefulProcessor[
    Long, EventStreams.SessionIn, EventStreams.SessionOut] {
  import EventStreams.{SessionIn, SessionOut, SessionState}

  @transient private var state: ValueState[SessionState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[SessionState]("session",
      Encoders.product[SessionState], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[SessionIn],
      timers: TimerValues): Iterator[SessionOut] = {
    val sorted = rows.toSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.value))
    var out = List.empty[SessionOut]
    var cur = if (state.exists()) Option(state.get()) else None
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last <= gapMs =>
          cur = Some(SessionState(s.start, math.max(s.last, t),
            s.n + 1, s.total + e.value))
        case Some(s) => // gap exceeded inside the batch: emit, restart
          out ::= SessionOut(user, s.start, s.last, s.n, s.total)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // exactly one live timer per key: a stale timer from before an
      // extension would fire mid-session and close it early
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(s.last + gapMs)
    }
    out.reverseIterator
  }

  override def handleExpiredTimer(user: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[SessionOut] = {
    if (state.exists()) {
      val s = state.get()
      state.clear()
      Iterator.single(SessionOut(user, s.start, s.last, s.n, s.total))
    } else Iterator.empty
  }
}
