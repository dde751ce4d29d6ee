package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.scale.Scale

/** The production crawl-ingestion dedup loop: successive ingest batches
  * screened for near-duplicates against a DURABLE band-state table that
  * accumulates one append per ingest.
  *
  * [[graft.dedup.Dedup.incrementalNearDupFlags]] (d17) proves the
  * per-batch shape — signatures are per-document, so the corpus side's
  * bands are reusable across ingests. This module closes the loop that
  * claim implies: the bands ARE reused, from a durable table that each
  * ingest appends to (never recomputes), across a CHAIN of ingests.
  * Per-ingest cost is O(batch) banding + one band-keyed join against
  * the state table + one append — independent of how many ingests came
  * before, which is the property that makes continuous crawl dedup
  * viable at 100 TB (re-banding the corpus per crawl would be
  * quadratic in corpus lifetime).
  *
  * Scale design (the two properties a 100 TB crawl needs):
  *
  *  - '''The state table is BUCKETED on the join key''' (band, bkey) —
  *    [[graft.scale.Scale.writeBucketed]]'s x15 machinery, as an
  *    APPENDED catalog table. The screen join therefore shuffles ONLY
  *    the O(batch) side: the state scan's bucket layout already
  *    satisfies the join's required distribution, so no Exchange ever
  *    touches the accumulated corpus ([[IngestDedupSpec]] pins the
  *    executed plan). Without bucketing, a sort-merge screen re-shuffles
  *    O(state) bytes per ingest — quadratic total shuffle over a
  *    crawl's lifetime, the classic slow-death of incremental dedup.
  *  - '''Each ingest step is RETRY-IDEMPOTENT''' (the x04
  *    stream-upsert recipe): the ingest id is stamped into the state
  *    table as its hive partition, the append is skipped when that
  *    partition already landed, the screen reads only STRICTLY-EARLIER
  *    partitions (so a replayed batch never sees its own bands), and
  *    the verdict write is an Overwrite of the batch's own directory.
  *    A micro-batch replay after any prefix of the step converges to
  *    the same state and verdicts — the at-least-once contract
  *    Structured Streaming's `foreachBatch` requires.
  *
  * The chain is sequential BY CONTRACT (ingest b must see state
  * 0..b-1) — parallelism lives inside each batch's jobs, exactly like
  * the streaming upsert keys (x04).
  */
object IngestDedup {

  /** Bucket count for the band-state table. Sized for the test SFs; a
    * real deployment sizes this once at table creation to the corpus
    * ceiling (buckets are fixed for the table's lifetime). */
  val stateBuckets = 8

  /** (band, bkey, id) rows for one ingest batch. */
  private def bandRows(batch: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    Dedup.lshBands(Dedup.minhashSignatures(batch, idCol, textCol), idCol)
      .select(col("band"), col("bkey"), col(idCol))

  /** Screen `bands` (one batch) against `state` (strictly-earlier
    * corpus bands): per doc, the minimum colliding corpus id and the
    * distinct collision count. Planned as a SHUFFLED HASH join
    * BUILDING THE BATCH SIDE (the right-outer twin of the batch-left
    * outer join, legal since Spark 3.5's outer-side-build SHJ): the
    * bucketed state scan satisfies the join's distribution with no
    * Exchange, and streaming it into the batch-side hash map needs no
    * Sort either — so the accumulated corpus is neither shuffled NOR
    * re-sorted per ingest (a sort-merge plan would pay an
    * O(state log state) sort every crawl; the spec asserts both
    * absences). The hash map holds O(batch/buckets) rows by contract.
    * The aggregation is collision-set semantics (min / countDistinct),
    * so duplicate state rows — impossible after the landed-partition
    * skip, but harmless — cannot change a verdict. */
  private[pipeline] def screenJoin(state: DataFrame, bands: DataFrame,
      idCol: String): DataFrame =
    state.select(col("band"), col("bkey"), col(idCol).as("_cid"))
      .join(bands.hint("shuffle_hash"), Seq("band", "bkey"), "right_outer")
      .groupBy(idCol)
      .agg(min(col("_cid")).as("dup_of"),
        countDistinct(col("_cid")).as("n_matches"))

  /** True iff partition `ingest_batch=b` of `table` already landed —
    * the landed-replay probe. A table that tracks its partitions in
    * the catalog answers from the catalog's partition metadata (what
    * the pruned scan consults anyway) with NO Spark job; the chains run
    * one probe per ingest and each data probe costs a scheduled job's
    * latency. A table that does not (`manageFilesourcePartitions`
    * off) registers no partitions at all, so the partition-pruned data
    * probe answers instead. */
  private def partitionLanded(spark: SparkSession, table: String,
      b: Int): Boolean = {
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val catalog = spark.sessionState.catalog
    if (catalog.getTableMetadata(id).tracksPartitionsInCatalog)
      catalog.listPartitionNames(id).contains(s"ingest_batch=$b")
    else !spark.table(table).where(col("ingest_batch") === b).isEmpty
  }

  /** Append ingest `b`'s rows to a state table partitioned by
    * `ingest_batch` and bucketed (and sorted) on `keys`, SKIPPING when
    * partition ingest_batch=b already landed ([[partitionLanded]]) — a
    * replayed micro-batch must not double-append. Returns whether the
    * append ran. */
  private def appendOnce(rows: DataFrame, table: String, b: Int,
      buckets: Int, keys: Seq[String]): Boolean = {
    val spark = rows.sparkSession
    val exists = spark.catalog.tableExists(table)
    if (exists && partitionLanded(spark, table, b)) false
    else {
      rows.withColumn("ingest_batch", lit(b))
        .write
        .partitionBy("ingest_batch")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .mode(if (exists) SaveMode.Append else SaveMode.ErrorIfExists)
        .format("parquet")
        .saveAsTable(table)
      true
    }
  }

  /** Append ingest `b`'s bands to the band-state table, bucketed on the
    * screen's join key (band, bkey). */
  private[pipeline] def appendBands(bands: DataFrame, table: String,
      b: Int): Boolean =
    appendOnce(bands, table, b, stateBuckets, Seq("band", "bkey"))

  /** One complete ingest — the unit BOTH the batch chain and the
    * streaming loop run, so batch/stream parity holds by construction:
    * screen batch `b` against strictly-earlier state, Overwrite-write
    * its verdicts, append its bands (skipped when already landed).
    * Idempotent under replay at every prefix boundary. */
  private[pipeline] def ingestStep(batch: DataFrame, idCol: String,
      textCol: String, stateTable: String, flagsPath: String, b: Int)
      : Unit = {
    val spark = batch.sparkSession
    // persisted: the banding (minhash signatures — the step's CPU) fed
    // BOTH the screen's flags write and the state append, and without
    // the cache each action re-hashed the batch from scratch
    val bands = bandRows(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val flagged =
        if (!spark.catalog.tableExists(stateTable))
          // first ingest ever: nothing earlier exists — clean by contract
          bands.select(col(idCol)).distinct()
            .withColumn("dup_of", lit(null).cast("long"))
            .withColumn("n_matches", lit(0L))
        else
          // strictly-earlier partitions only: a replayed batch's own
          // (already-landed) bands are pruned out, so it cannot
          // self-match — the retry contract
          screenJoin(spark.table(stateTable).where(col("ingest_batch") < b),
            bands, idCol)
      // materialize THIS ingest's verdicts before the state mutates:
      // the append below must not be visible to batch b's own screen
      flagged.withColumn("ingest_batch", lit(b))
        .write.mode(SaveMode.Overwrite).parquet(s"$flagsPath/b=$b")
      appendBands(bands, stateTable, b)
      ()
    } finally { bands.unpersist(); () }
  }

  private def collectFlags(spark: SparkSession, flagsPath: String,
      idCol: String, nBatches: Int): DataFrame =
    spark.read.parquet((0 until nBatches).map(b => s"$flagsPath/b=$b"): _*)
      .withColumn("is_dup", col("dup_of").isNotNull)
      .select(col(idCol), col("ingest_batch"), col("dup_of"),
        col("n_matches"), col("is_dup"))
      .orderBy(idCol)

  /** Replay `nBatches` ingests (batch = `idCol % nBatches`, a
    * deterministic stand-in for arrival order) through a fresh band
    * state table; returns one row per banded document:
    * (doc_id, ingest_batch, dup_of, n_matches, is_dup) where dup_of is
    * the minimum colliding doc id from STRICTLY EARLIER ingests (null
    * when clean — same-batch collisions deliberately don't count:
    * "screen the new crawl against what we already have", d17's
    * contract, chained). */
  def ingestDedupChain(docs: DataFrame, idCol: String, textCol: String,
      nBatches: Int = 4, stateTable: String = "p08_bands"): DataFrame = {
    val spark = docs.sparkSession
    Scale.dropBucketedTable(spark, stateTable)
    val flagsPath = graft.util.Scratch.fresh("graft_p08_") + "/flags"
    (0 until nBatches).foreach { b =>
      ingestStep(docs.filter(col(idCol) % nBatches === b), idCol, textCol,
        stateTable, flagsPath, b)
    }
    collectFlags(spark, flagsPath, idCol, nBatches)
  }

  /** Structured-Streaming form of [[ingestDedupChain]] — the shape
    * production actually runs: document drops land as files, consumed
    * with `Trigger.AvailableNow` + `maxFilesPerTrigger=1` (one ingest
    * per micro-batch, arrival order pinned by strictly-increasing file
    * mtimes, the event-drain discipline), and each micro-batch runs
    * the identical [[ingestStep]] against the same durable band table.
    * The screen reads strictly-earlier state BEFORE the batch's own
    * append inside the callback, so the strictly-earlier contract
    * holds per micro-batch exactly as in the batch chain — e17 shares
    * p08's oracle verbatim (streaming/batch parity, the e15
    * discipline). The step is retry-idempotent (landed-partition skip
    * + strictly-earlier screen + Overwrite verdicts), so an
    * at-least-once replay of any micro-batch converges. */
  def streamIngestDedup(s: SparkSession, dir: String,
      nBatches: Int = 4): DataFrame = {
    val flagsPath = runChainStream(s, dir, nBatches, "e17_bands",
      "graft_e17_")(ingestStep(_, "doc_id", "text", _, _, _))
    collectFlags(s, flagsPath, "doc_id", nBatches)
  }

  /** Compact the band-state table: collapse every landed
    * `ingest_batch` partition into ONE partition labeled with the
    * HIGHEST compacted id, preserving the bucket layout. The table
    * service the chain needs over a crawl's lifetime: each ingest
    * appends `stateBuckets` files, so after N crawls every screen
    * lists and opens N×buckets small files — compaction restores
    * buckets-many files while changing NO answer:
    *
    *  - relabeling to the max compacted id keeps the strictly-earlier
    *    screen exact — any future batch b' screens `ingest_batch < b'`
    *    and every compacted band has id < b' by the sequential
    *    contract;
    *  - the landed-skip stays correct: Structured Streaming re-delivers
    *    only the LAST uncommitted micro-batch, never one older than
    *    the checkpoint, so no replay can target a pre-compaction id;
    *  - `bucketBy` is re-declared identically, so the screen join's
    *    no-Exchange / no-Sort plan survives compaction (spec-pinned).
    *
    * Cost is one O(state) shuffle — the scheduled, amortized price
    * that caps per-screen file listings, exactly like parquet
    * compaction in the merge family (q19). The swap is
    * drop-then-rename on the session catalog; the narrow
    * non-atomic window is the x22 DDL caveat, acceptable for a
    * maintenance op that runs between ingests by contract. */
  def compactBandState(spark: SparkSession, stateTable: String): Unit = {
    // read the table's FILES, not the catalog table: reading the
    // bucketed table makes the planner elide the repartition below as
    // redundant against the bucket spec while ALSO disabling the
    // bucketed scan ("disabled by query planner") — leaving NO
    // distribution guarantee and one output file per (input task,
    // bucket) pair (observed: 17 files where 8 were promised). The
    // hive-layout read recovers ingest_batch from the directory names
    // with the same int type.
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(stateTable)).location
    // explicit schema (the catalog table's): an EMPTY state table has
    // no files to infer from — inference would throw
    // UNABLE_TO_INFER_SCHEMA before the no-op check below ever ran
    val df = spark.read.schema(spark.table(stateTable).schema)
      .parquet(loc.toString)
    // max() over an empty table is NULL — getInt would NPE mid-
    // maintenance with a confusing trace; an empty state table is a
    // legitimate clean no-op (nothing to compact)
    val maxRow = df.agg(max("ingest_batch")).head()
    if (maxRow.isNullAt(0)) return
    val maxB = maxRow.getInt(0)
    val tmp = stateTable + "_compacting"
    Scale.dropBucketedTable(spark, tmp)
    // repartition on the bucket hash FIRST: bucketBy writes one file
    // per (task, bucket) pair, so an unshuffled compaction re-emits
    // one file per input task per bucket — the fragmentation it was
    // meant to cure. HashPartitioning and bucket-id assignment share
    // the same murmur3(pmod) law, so after this shuffle every task
    // holds exactly one bucket and the table lands as stateBuckets
    // files (the spec pins it).
    df.drop("ingest_batch").withColumn("ingest_batch", lit(maxB))
      .repartition(stateBuckets, col("band"), col("bkey"))
      .write
      .partitionBy("ingest_batch")
      .bucketBy(stateBuckets, "band", "bkey")
      .sortBy("band", "bkey")
      .format("parquet")
      .saveAsTable(tmp)
    Scale.dropBucketedTable(spark, stateTable)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $stateTable")
    // RENAME moves the managed dir but the catalog's PARTITION entries
    // still hold the pre-rename locations — without a sync the renamed
    // table lists zero files (observed, not hypothetical). SYNC
    // PARTITIONS re-derives the partition set from the moved layout
    // and drops the stale entries.
    spark.sql(s"MSCK REPAIR TABLE $stateTable SYNC PARTITIONS")
    spark.catalog.refreshTable(stateTable)
    ()
  }

  /** [[ingestDedupChain]] with a mid-chain [[compactBandState]] after
    * ingest `compactAt` — the maintenance schedule a real crawl runs.
    * Verdicts must equal the never-compacted chain's (p09 shares the
    * chain oracle at its nBatches), which is the whole compaction
    * contract: a table service changes layout, never answers. */
  def ingestDedupChainCompacting(docs: DataFrame, idCol: String,
      textCol: String, nBatches: Int, compactAt: Int,
      stateTable: String = "p09_bands"): DataFrame = {
    val spark = docs.sparkSession
    Scale.dropBucketedTable(spark, stateTable)
    val flagsPath = graft.util.Scratch.fresh("graft_p09_") + "/flags"
    (0 until nBatches).foreach { b =>
      ingestStep(docs.filter(col(idCol) % nBatches === b), idCol, textCol,
        stateTable, flagsPath, b)
      if (b == compactAt) compactBandState(spark, stateTable)
    }
    collectFlags(spark, flagsPath, idCol, nBatches)
  }

  // ---- incremental SPAN dedup (the d25/d26 family, chained) ----

  /** Bucket count for the gram-state table (fixed at creation, like
    * [[stateBuckets]]). */
  val gramBuckets = 8

  /** One complete span-dedup ingest: screen batch `b`'s n-gram
    * positions against the accumulated GRAM-STATE table (all grams
    * seen in strictly-earlier ingests, bucketed on `g` so the screen
    * join never shuffles the state side), flag a position as
    * duplicated iff its gram was seen before — in an earlier ingest,
    * or earlier within THIS batch under (doc, pos) order — then
    * append the batch's genuinely new grams. Because "duplicated" is
    * exactly "not the globally-first occurrence under arrival order
    * (ingest, doc, pos)", the CHAIN of steps collapses to one
    * relational keeper rule (`row_number() = 1` per gram), which is
    * the p10/e25 oracle — the incremental loop can never drift from
    * the one-shot semantics. Retry-idempotent by the p08 recipe:
    * landed-partition skip, strictly-earlier screen, Overwrite
    * verdicts. Per-ingest cost: O(batch) banding + one bucketed
    * screen + one append — state is never re-shuffled, the property
    * that keeps continuous substring dedup linear over a crawl's
    * lifetime. */
  private[pipeline] def spanStep(batch: DataFrame, idCol: String,
      textCol: String, stateTable: String, flagsPath: String, b: Int,
      n: Int): Unit =
    spanChainStepCore(batch, idCol, textCol, stateTable, flagsPath, b, n)(
      Dedup.spanReport(_, _, idCol, n))

  /** [[spanStep]] with the d26 REWRITE emission instead of the d25
    * report: the batch's non-keeper spans are scrubbed from its text
    * before it ever lands — the "clean the crawl as it arrives" shape.
    * Same screen, same state discipline, same keeper rule; only what
    * is written per doc differs (kept tokens + scrubbed string). */
  private[pipeline] def scrubStep(batch: DataFrame, idCol: String,
      textCol: String, stateTable: String, flagsPath: String, b: Int,
      n: Int): Unit =
    spanChainStepCore(batch, idCol, textCol, stateTable, flagsPath, b, n)(
      Dedup.scrubReport(_, _, idCol, n))

  /** The shared chain step: band the batch, rank within batch, screen
    * against strictly-earlier state, emit `report(base, dupPos)` under
    * the batch's own Overwrite dir, append first-appearance grams.
    * dupPos = positions that are NOT the globally-first occurrence of
    * their gram under (ingest, doc, pos) arrival order. */
  private def spanChainStepCore(batch: DataFrame, idCol: String,
      textCol: String, stateTable: String, flagsPath: String, b: Int,
      n: Int)(report: (DataFrame, DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val base = Dedup.spanBase(batch, idCol, textCol, n)
    val grams = Dedup.gramRows(base, idCol, n)
    val wb = Window.partitionBy("g").orderBy(col(idCol), col("pos"))
    val marked = grams.withColumn("_rnb", row_number().over(wb))
    val joined =
      if (!spark.catalog.tableExists(stateTable))
        marked.withColumn("_seen", lit(false))
      else
        spanScreen(
          spark.table(stateTable).where(col("ingest_batch") < b), marked)
    val j = joined.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dupPos = j.filter(col("_seen") || col("_rnb") >= 2)
        .select(col(idCol), col("pos"))
      report(base, dupPos)
        .withColumn("ingest_batch", lit(b))
        .write.mode(SaveMode.Overwrite).parquet(s"$flagsPath/b=$b")
      appendGrams(
        j.filter(!col("_seen") && col("_rnb") === 1).select("g"),
        stateTable, b)
    } finally { j.unpersist(); () }
  }

  /** Screen in-batch-ranked gram rows (`marked`: id, pos, g, _rnb)
    * against strictly-earlier state grams: adds `_seen`. The state
    * side streams through the bucketed scan into the batch-side hash
    * map — no Exchange, no Sort on the accumulated corpus (the
    * [[screenJoin]] plan shape, spec-pinned). */
  private[pipeline] def spanScreen(state: DataFrame, marked: DataFrame)
      : DataFrame =
    state.select(col("g"), lit(true).as("_s"))
      .join(marked.hint("shuffle_hash"), Seq("g"), "right_outer")
      .withColumn("_seen", coalesce(col("_s"), lit(false)))
      .drop("_s")

  /** Append batch `b`'s first-appearance grams to the bucketed
    * gram-state table — the [[appendBands]] recipe on key `g`.
    * State stays globally DISTINCT: a gram is appended only on the
    * ingest where it first appears (screen verdict `!_seen`, in-batch
    * rank 1), and the landed-partition skip keeps replays from
    * double-appending. Returns whether the append ran. */
  private[pipeline] def appendGrams(newGrams: DataFrame, table: String,
      b: Int): Boolean =
    appendOnce(newGrams, table, b, gramBuckets, Seq("g"))

  /** Per-batch flag dirs folded into one ordered relation with the
    * given columns — shared by the report and scrub collectors. */
  private def collectChainFlags(spark: SparkSession, flagsPath: String,
      idCol: String, nBatches: Int, cols: Seq[String]): DataFrame =
    spark.read.parquet((0 until nBatches).map(b => s"$flagsPath/b=$b"): _*)
      .select((idCol +: cols).map(col): _*)
      .orderBy(idCol)

  private def collectSpanFlags(spark: SparkSession, flagsPath: String,
      idCol: String, nBatches: Int): DataFrame =
    collectChainFlags(spark, flagsPath, idCol, nBatches,
      Seq("ingest_batch", "n_tokens", "n_grams", "dup_grams",
        "dup_tokens"))

  /** The batch twin of [[runChainStream]]: fresh state table, one
    * `step` per deterministic ingest (batch = idCol % nBatches);
    * returns the flags path. */
  private def runSpanChainBatch(docs: DataFrame, idCol: String,
      nBatches: Int, stateTable: String, scratchPrefix: String)(
      step: (DataFrame, String, String, Int) => Unit): String = {
    val spark = docs.sparkSession
    Scale.dropBucketedTable(spark, stateTable)
    val flagsPath = graft.util.Scratch.fresh(scratchPrefix) + "/flags"
    (0 until nBatches).foreach { b =>
      step(docs.filter(col(idCol) % nBatches === b), stateTable,
        flagsPath, b)
    }
    flagsPath
  }

  /** Replay `nBatches` span-dedup ingests (batch = `idCol %
    * nBatches`) through a fresh gram-state table; one row per doc:
    * (id, ingest_batch, n_tokens, n_grams, dup_grams, dup_tokens)
    * where a gram position counts as duplicated iff it is not the
    * globally-first occurrence under (ingest, doc, pos) arrival
    * order, and dup_tokens is the merged span coverage. */
  def spanDedupChain(docs: DataFrame, idCol: String, textCol: String,
      nBatches: Int = 4, n: Int = 8,
      stateTable: String = "p10_grams"): DataFrame = {
    val flagsPath = runSpanChainBatch(docs, idCol, nBatches, stateTable,
      "graft_p10_")(spanStep(_, idCol, textCol, _, _, _, n))
    collectSpanFlags(docs.sparkSession, flagsPath, idCol, nBatches)
  }

  /** Structured-Streaming form of [[spanDedupChain]] — the same
    * ordered file-drop source as [[streamIngestDedup]] (micro-batch b
    * IS chain ingest b), each micro-batch running the identical
    * [[spanStep]] against the durable gram table. Streaming/batch
    * parity by construction: e25 shares p10's oracle verbatim. */
  def streamSpanDedup(s: SparkSession, dir: String, nBatches: Int = 4,
      n: Int = 8): DataFrame = {
    val flagsPath = runChainStream(s, dir, nBatches, "e25_grams",
      "graft_e25_")(spanStep(_, "doc_id", "text", _, _, _, n))
    collectSpanFlags(s, flagsPath, "doc_id", nBatches)
  }

  private def collectScrubFlags(spark: SparkSession, flagsPath: String,
      idCol: String, nBatches: Int): DataFrame =
    collectChainFlags(spark, flagsPath, idCol, nBatches,
      Seq("ingest_batch", "n_tokens", "kept_tokens", "text_scrubbed"))

  /** The REWRITE chain: each ingest lands already scrubbed of every
    * span whose gram was seen before (earlier ingest, or earlier in
    * the batch) — arrival-order keep-first, so the chained rewrites
    * collapse to one keeper rule exactly like [[spanDedupChain]]'s
    * report does. One row per doc: (id, ingest_batch, n_tokens,
    * kept_tokens, text_scrubbed). */
  def scrubChain(docs: DataFrame, idCol: String, textCol: String,
      nBatches: Int = 4, n: Int = 8,
      stateTable: String = "p11_grams"): DataFrame = {
    val flagsPath = runSpanChainBatch(docs, idCol, nBatches, stateTable,
      "graft_p11_")(scrubStep(_, idCol, textCol, _, _, _, n))
    collectScrubFlags(docs.sparkSession, flagsPath, idCol, nBatches)
  }

  /** Streaming form of [[scrubChain]] — e26 shares p11's oracle
    * verbatim (the e25/p10 parity argument, rewrite emission). */
  def streamScrub(s: SparkSession, dir: String, nBatches: Int = 4,
      n: Int = 8): DataFrame = {
    val flagsPath = runChainStream(s, dir, nBatches, "e26_grams",
      "graft_e26_")(scrubStep(_, "doc_id", "text", _, _, _, n))
    collectScrubFlags(s, flagsPath, "doc_id", nBatches)
  }

  /** Run one chain `step` per micro-batch over ordered document drops
    * (doc_id % nBatches = drop index, [[graft.util.StreamTuning.orderedDrops]]
    * — the file source's arrival order IS the chain order), against a
    * fresh `stateTable`; returns the flags path. The drops are
    * JVM-cached per shape and shared by e17, e25 and e26 (identical
    * input, different chains), hence the e17 cache key. */
  private def runChainStream(s: SparkSession, dir: String, nBatches: Int,
      stateTable: String, scratchPrefix: String)(
      step: (DataFrame, String, String, Int) => Unit): String = {
    val docs = Tables.documents(s, dir)
    val in = graft.util.StreamTuning.orderedDrops(s,
      s"e17:$dir:$nBatches", "graft_e17_in_") {
      (0 until nBatches).map(b => docs.filter(col("doc_id") % nBatches === b))
    }
    Scale.dropBucketedTable(s, stateTable)
    val root = graft.util.Scratch.fresh(scratchPrefix)
    val flagsPath = root + "/flags"
    graft.util.StreamTuning.drain(s, in, root + "/ckpt") {
      s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          step(batch, stateTable, flagsPath, batchId.toInt)
        }
    }
    flagsPath
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "p08_ingest_dedup" -> ((s, dir) =>
      ingestDedupChain(Tables.documents(s, dir), "doc_id", "text",
        nBatches = 4)),
    // p09: the chain with its maintenance op — compact after ingest 2
    // of 6, then keep ingesting against the compacted state; shares
    // the chain's relational collapse (at %6), so the hash check
    // proves compaction changed no verdict
    "p09_band_compact" -> ((s, dir) =>
      ingestDedupChainCompacting(Tables.documents(s, dir), "doc_id",
        "text", nBatches = 6, compactAt = 2)),
    // e17: the SAME chain under Structured Streaming — micro-batch b
    // is exactly p08's ingest b (ordered mtime-pinned drops of
    // doc_id % 4), so the streaming run must reproduce the batch
    // chain's verdicts bit for bit; shares p08's oracle
    "e17_stream_ingest_dedup" -> ((s, dir) =>
      streamIngestDedup(s, dir, nBatches = 4)),
    // p10: the d25 span family chained — per-ingest screening against
    // the accumulated gram-state table; the chain collapses to the
    // keeper rule (dup = not globally-first under arrival order)
    "p10_span_chain" -> ((s, dir) =>
      spanDedupChain(Tables.documents(s, dir), "doc_id", "text",
        nBatches = 4)),
    // e25: the same chain under Structured Streaming (micro-batch b
    // IS chain ingest b); shares p10's oracle
    "e25_stream_span_dedup" -> ((s, dir) =>
      streamSpanDedup(s, dir, nBatches = 4)),
    // p11: the rewrite chain — each ingest lands scrubbed of every
    // previously-seen span (arrival-order keep-first); the scrubbed
    // strings are the hash-checked artifact
    "p11_scrub_chain" -> ((s, dir) =>
      scrubChain(Tables.documents(s, dir), "doc_id", "text",
        nBatches = 4)),
    // e26: p11 under Structured Streaming; shares its oracle
    "e26_stream_scrub" -> ((s, dir) =>
      streamScrub(s, dir, nBatches = 4))
  )

  /** The chained screens collapse relationally: doc X (ingest b) is
    * flagged iff some Y with an LSH band collision arrived in an
    * earlier ingest — the bands CTE self-joined on a strict
    * batch-order predicate. e17 shares it verbatim: its micro-batches
    * ARE p08's ingests (streaming/batch parity). */
  private def chainSqlAt(nBatches: Int): String =
    s"""WITH ${Dedup.bandsCte},
         |a AS (SELECT doc_id, doc_id % $nBatches AS ib, band, bkey FROM bands),
         |ids AS (SELECT DISTINCT doc_id, CAST(doc_id % $nBatches AS INT) AS ib
         |        FROM a),
         |j AS (SELECT DISTINCT x.doc_id AS id, y.doc_id AS cid
         |      FROM a x JOIN a y
         |        ON x.band = y.band AND x.bkey = y.bkey
         |      WHERE y.ib < x.ib)
         |SELECT i.doc_id, i.ib AS ingest_batch, MIN(j.cid) AS dup_of,
         |  COUNT(DISTINCT j.cid) AS n_matches,
         |  MIN(j.cid) IS NOT NULL AS is_dup
         |FROM ids i LEFT JOIN j ON j.id = i.doc_id
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  private val chainSql: String = chainSqlAt(4)

  /** The span chain's relational collapse: a position is duplicated
    * iff it is not the globally-first occurrence of its gram under
    * (ingest, doc, pos) arrival order — `row_number() >= 2` per gram —
    * then the d25 coverage union per doc. One statement, however many
    * ingests the incremental loop actually ran. */
  private def spanChainSqlAt(nBatches: Int): String =
    s"""WITH ${Dedup.spanBaseCtesSql},
       |${Dedup.spanGramCteSql(s"CAST(doc_id % $nBatches AS INT) AS ib, ")},
       |r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
       |        ORDER BY ib, doc_id, pos) AS rn FROM g),
       |dp AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
       |${Dedup.spanCovCtesSql}
       |SELECT b.doc_id, CAST(b.doc_id % $nBatches AS INT) AS ingest_batch,
       |       b.n_tokens, b.n_grams,
       |       COALESCE(cov.dup_grams, 0) AS dup_grams,
       |       COALESCE(cov.dup_tokens, 0) AS dup_tokens
       |FROM base b LEFT JOIN cov USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "p08_ingest_dedup" -> chainSql,
    "e17_stream_ingest_dedup" -> chainSql,
    // compaction is a table service: the 6-batch compacted chain must
    // hash-match the plain 6-batch relational collapse
    "p09_band_compact" -> chainSqlAt(6),
    // the span chain and its streaming twin share one keeper-rule
    // collapse (streaming/batch parity by shared spanStep)
    "p10_span_chain" -> spanChainSqlAt(4),
    "e25_stream_span_dedup" -> spanChainSqlAt(4),
    // the rewrite chain: same keeper rule, d26's scrub tail
    "p11_scrub_chain" -> scrubChainSqlAt(4),
    "e26_stream_scrub" -> scrubChainSqlAt(4))

  /** The rewrite chain's collapse: non-keeper positions under
    * (ingest, doc, pos) order, then the d26 scrub tail. */
  private def scrubChainSqlAt(nBatches: Int): String =
    s"""WITH ${Dedup.spanBaseCtesSql},
       |${Dedup.spanGramCteSql(s"CAST(doc_id % $nBatches AS INT) AS ib, ")},
       |r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gram
       |        ORDER BY ib, doc_id, pos) AS rn FROM g),
       |nk AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
       |${Dedup.scrubTailCtesSql}
       |SELECT b.doc_id, CAST(b.doc_id % $nBatches AS INT) AS ingest_batch,
       |       b.n_tokens,
       |       COALESCE(kept.kept_tokens, 0) AS kept_tokens,
       |       COALESCE(kept.text_scrubbed, '') AS text_scrubbed
       |FROM base b LEFT JOIN kept USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
}
