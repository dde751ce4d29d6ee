package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Chained ingest dedup: verdicts depend only on STRICTLY EARLIER
  * ingests, durable state accretes one commit per batch. */
class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  // batches by doc_id % 2: batch0 = {2, 4, 10}, batch1 = {1, 3}
  private val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog"),
    (2L, "the QUICK brown fox... jumps over the lazy dog!!"), // dup of 1
    (3L, "The quick brown fox jumps over the lazy cat"),      // near-dup
    (4L, "completely different content about spark engines"),
    (10L, "the quick brown fox jumps over the lazy dog")      // dup of 1
  ).toDF("doc_id", "text")

  test("ingestDedupChain: first ingest always clean; later ingest " +
      "flags against accumulated state; same-batch dups don't count") {
    val r = IngestDedup.ingestDedupChain(docs, "doc_id", "text",
      nBatches = 2).collect()
    assert(r.length === 5) // every doc shingles (>= 3 tokens)
    val byId = r.map(row => row.getAs[Long]("doc_id") -> row).toMap
    // batch 0 (ids 2, 4, 10): nothing before them — clean by contract,
    // even though 2 and 10 are exact dups OF EACH OTHER (same batch)
    Seq(2L, 4L, 10L).foreach { id =>
      val row = byId(id)
      assert(row.getAs[Int]("ingest_batch") === 0)
      assert(!row.getAs[Boolean]("is_dup"), s"doc $id must be clean")
      assert(row.getAs[Long]("n_matches") === 0L)
      assert(row.isNullAt(row.fieldIndex("dup_of")))
    }
    // batch 1: doc 1 is an exact dup of BOTH 2 and 10 (every band
    // collides) — flagged with the minimum colliding corpus id
    val d1 = byId(1L)
    assert(d1.getAs[Int]("ingest_batch") === 1)
    assert(d1.getAs[Boolean]("is_dup"))
    assert(d1.getAs[Long]("dup_of") === 2L)
    assert(d1.getAs[Long]("n_matches") === 2L)
  }

  test("streamIngestDedup reproduces the batch chain bit for bit " +
      "(streaming/batch parity on real testdata)") {
    val streamed = IngestDedup.streamIngestDedup(spark, sfDir, 4)
      .collect().map(_.toString).sorted.toSeq
    val batch = IngestDedup.ingestDedupChain(
      graft.Tables.documents(spark, sfDir), "doc_id", "text", 4)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("the screen join is exchange-free on the bucketed state side: " +
      "only the O(batch) side shuffles") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.scale.Scale
    val tbl = "test_p08_plan"
    Scale.dropBucketedTable(spark, tbl)
    val corpus = graft.Tables.documents(spark, sfDir)
    def bands(b: Int) = graft.dedup.Dedup.lshBands(
      graft.dedup.Dedup.minhashSignatures(
        corpus.filter(col("doc_id") % 2 === b), "doc_id", "text"),
      "doc_id").select(col("band"), col("bkey"), col("doc_id"))
    assert(IngestDedup.appendBands(bands(0), tbl, 0))
    // static plan for the structural assert (AQE wraps stages and the
    // assert should hold without runtime re-planning anyway)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val screened = IngestDedup.screenJoin(
        spark.table(tbl).where(col("ingest_batch") < 1), bands(1), "doc_id")
      screened.collect()
      val plan = screened.queryExecution.executedPlan
      def hasStateScan(p: SparkPlan): Boolean = p.collectFirst {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(tbl))
          => f
      }.isDefined
      // the state scan exists, is bucketed, and no shuffle sits above it
      val stateScans = plan.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(tbl))
          => f
      }
      assert(stateScans.nonEmpty, plan.toString)
      assert(stateScans.forall(_.bucketedScan), plan.toString)
      // the join streams the state side straight off the bucket
      // layout: a shuffled-hash join BUILDING THE BATCH SIDE, with
      // neither an Exchange NOR a Sort anywhere between the join and
      // the state scan (a sort-merge plan would re-sort the whole
      // accumulated state every ingest)
      val shj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          => j
      }
      val stateSide = shj
        .filter(j => hasStateScan(j.left) || hasStateScan(j.right))
        .map(j => if (hasStateScan(j.right)) j.right else j.left)
      assert(stateSide.nonEmpty, plan.toString)
      stateSide.foreach { side =>
        val shufflesOnStateSide =
          side.collect { case e: ShuffleExchangeExec => e }
        assert(shufflesOnStateSide.isEmpty,
          s"state side must not shuffle:\n$plan")
        val sortsOnStateSide = side.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        assert(sortsOnStateSide.isEmpty,
          s"state side must not re-sort:\n$plan")
      }
      // ... while the batch side DOES shuffle (a real distributed
      // join, not a broadcast that would trivialize the assert)
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("ingest step is retry-idempotent: a replayed micro-batch " +
      "neither double-appends state nor changes verdicts") {
    import graft.scale.Scale
    val tbl = "test_p08_retry"
    Scale.dropBucketedTable(spark, tbl)
    val flags = graft.util.Scratch.fresh("graft_p08_retry_") + "/flags"
    def batch(b: Int) = docs.filter(col("doc_id") % 2 === b)
    IngestDedup.ingestStep(batch(0), "doc_id", "text", tbl, flags, 0)
    val state0 = spark.table(tbl).collect().map(_.toString).sorted.toSeq
    // replay ingest 1 three times — at-least-once delivery
    (1 to 3).foreach { _ =>
      IngestDedup.ingestStep(batch(1), "doc_id", "text", tbl, flags, 1)
    }
    val state = spark.table(tbl)
    // exactly one landed copy of each ingest's bands
    assert(state.where(col("ingest_batch") === 1).count() ===
      graft.dedup.Dedup.lshBands(graft.dedup.Dedup.minhashSignatures(
        batch(1), "doc_id", "text"), "doc_id").count())
    assert(state.where(col("ingest_batch") === 0).collect()
      .map(_.toString).sorted.toSeq === state0)
    // and the replayed batch's verdicts still screen ONLY against
    // strictly-earlier state (no self-matching on replay): doc 1 is a
    // dup of 2 and 10 (batch 0), not of its own batch-mate 3
    val r = spark.read.parquet(s"$flags/b=1").collect()
      .map(row => row.getAs[Long]("doc_id") -> row).toMap
    assert(r(1L).getAs[Long]("dup_of") === 2L)
    assert(r(1L).getAs[Long]("n_matches") === 2L)
    assert(r.contains(3L)) // every batch-1 doc keeps a verdict row
  }

  test("compactBandState: one partition, buckets-many files, zero " +
      "verdict drift, screen stays exchange-free") {
    import graft.scale.Scale
    val corpus = graft.Tables.documents(spark, sfDir)
    // the compacted 6-batch chain must equal the plain 6-batch chain
    // bit for bit — compaction is layout, never answers
    val compacted = IngestDedup.ingestDedupChainCompacting(corpus,
      "doc_id", "text", nBatches = 6, compactAt = 2,
      stateTable = "test_p09_chain")
      .collect().map(_.toString).sorted.toSeq
    val plain = IngestDedup.ingestDedupChain(corpus, "doc_id", "text",
      nBatches = 6, stateTable = "test_p09_plain")
      .collect().map(_.toString).sorted.toSeq
    assert(compacted === plain)
    assert(compacted.nonEmpty)
    // layout claim: compact a 3-partition table -> ONE partition
    // labeled with the max compacted id, stateBuckets files, same rows
    val tbl = "test_p09_layout"
    Scale.dropBucketedTable(spark, tbl)
    def bands(b: Int) = graft.dedup.Dedup.lshBands(
      graft.dedup.Dedup.minhashSignatures(
        corpus.filter(col("doc_id") % 3 === b), "doc_id", "text"),
      "doc_id").select(col("band"), col("bkey"), col("doc_id"))
    (0 until 3).foreach(b => assert(IngestDedup.appendBands(bands(b), tbl, b)))
    val before = spark.table(tbl).drop("ingest_batch")
      .collect().map(_.toString).sorted.toSeq
    val filesBefore = spark.table(tbl).inputFiles.length
    IngestDedup.compactBandState(spark, tbl)
    val after = spark.table(tbl)
    // rows identical up to the relabeled partition value...
    assert(after.drop("ingest_batch").collect().map(_.toString).sorted
      .toSeq === before)
    // ...which collapses to the single max compacted id
    assert(after.select("ingest_batch").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(2))
    assert(after.inputFiles.length === IngestDedup.stateBuckets)
    assert(after.inputFiles.length < filesBefore)
    // the post-compaction screen keeps the bucketed, exchange-free plan
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val screened = IngestDedup.screenJoin(
        spark.table(tbl).where(col("ingest_batch") < 3), bands(0), "doc_id")
      screened.collect()
      val plan = screened.queryExecution.executedPlan
      val stateScans = plan.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(tbl))
          => f
      }
      assert(stateScans.nonEmpty && stateScans.forall(_.bucketedScan),
        plan.toString)
      val shj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      def hasStateScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collectFirst {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.contains(tbl)) => f
        }.isDefined
      val stateSide = shj
        .filter(j => hasStateScan(j.left) || hasStateScan(j.right))
        .map(j => if (hasStateScan(j.right)) j.right else j.left)
      assert(stateSide.nonEmpty, plan.toString)
      stateSide.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"compacted state side must not shuffle:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("compactBandState on an empty state table is a clean no-op, " +
      "not an NPE") {
    import graft.scale.Scale
    val tbl = "p09_empty_state_spec"
    Scale.dropBucketedTable(spark, tbl)
    // a state table whose only landed partition holds zero rows —
    // max(ingest_batch) over it is NULL
    IngestDedup.appendBands(
      Seq.empty[(Int, Long, Long)].toDF("band", "bkey", "doc_id"),
      tbl, 0)
    IngestDedup.compactBandState(spark, tbl) // must return, not throw
    assert(spark.table(tbl).count() === 0)
    Scale.dropBucketedTable(spark, tbl)
  }

  test("ingestDedupChain: a doc's verdict is stable under MORE batches " +
      "(state order, not batch geometry, decides)") {
    // with 5 batches every doc is alone in its batch (10 % 5 = 0, so
    // batch 0 = {10}); doc 1 (batch 1) screens against {10} only
    val r = IngestDedup.ingestDedupChain(docs, "doc_id", "text",
      nBatches = 5).collect()
    val byId = r.map(row => row.getAs[Long]("doc_id") -> row).toMap
    assert(byId(10L).getAs[Boolean]("is_dup") === false) // batch 0
    assert(byId(1L).getAs[Long]("dup_of") === 10L)       // sees only 10
    // doc 2 (batch 2) now sees both 10 and 1 — min id wins
    assert(byId(2L).getAs[Long]("dup_of") === 1L)
    assert(byId(2L).getAs[Long]("n_matches") === 2L)
  }

  // span-chain toy corpus (batch = doc_id % 2):
  // batch0 = {2, 4, 10}, batch1 = {1, 3}; doc 1 repeats doc 2's
  // 8-gram cross-batch, doc 10 repeats doc 4's within batch 0
  private val spanDocs = Seq(
    (2L, "a1 a2 a3 a4 a5 a6 a7 a8 f2a f2b"),
    (4L, "b1 b2 b3 b4 b5 b6 b7 b8 f4a"),
    (10L, "f10a b1 b2 b3 b4 b5 b6 b7 b8"),
    (1L, "f1a a1 a2 a3 a4 a5 a6 a7 a8 f1b"),
    (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")
  ).toDF("doc_id", "text")

  test("spanDedupChain: dup iff not globally-first under arrival " +
      "order — earlier-ingest and earlier-in-batch repeats flagged, " +
      "keepers clean") {
    val r = IngestDedup.spanDedupChain(spanDocs, "doc_id", "text",
        nBatches = 2, stateTable = "test_p10_chain")
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getLong(2), x.getLong(3), x.getLong(4),
          x.getLong(5))).toMap
    // (ingest_batch, n_tokens, n_grams, dup_grams, dup_tokens)
    assert(r(2L) === ((0, 10L, 3L, 0L, 0L)))  // keeper: first ever
    assert(r(4L) === ((0, 9L, 2L, 0L, 0L)))   // keeper within batch 0
    assert(r(10L) === ((0, 9L, 2L, 1L, 8L)))  // later in SAME batch
    assert(r(1L) === ((1, 10L, 3L, 1L, 8L)))  // repeat of batch 0
    assert(r(3L) === ((1, 9L, 2L, 0L, 0L)))   // unique everywhere
  }

  test("scrubChain: each ingest lands scrubbed of previously-seen " +
      "spans — keepers untouched, later copies cut, partial-overlap " +
      "tokens preserved") {
    val r = IngestDedup.scrubChain(spanDocs, "doc_id", "text",
        nBatches = 2, stateTable = "test_p11_chain")
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getLong(2), x.getLong(3), x.getString(4))).toMap
    // (ingest_batch, n_tokens, kept_tokens, text_scrubbed)
    assert(r(2L) === ((0, 10L, 10L,
      "a1 a2 a3 a4 a5 a6 a7 a8 f2a f2b")))
    assert(r(4L) === ((0, 9L, 9L, "b1 b2 b3 b4 b5 b6 b7 b8 f4a")))
    // doc 10's span [2..9] repeats doc 4's gram: only the filler stays
    assert(r(10L) === ((0, 9L, 1L, "f10a")))
    // doc 1's span [2..9] was seen in batch 0: fillers on both sides
    // survive (the boundary-spanning grams are unique)
    assert(r(1L) === ((1, 10L, 2L, "f1a f1b")))
    assert(r(3L) === ((1, 9L, 9L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")))
  }

  test("spanStep is retry-idempotent: replayed micro-batch neither " +
      "double-appends gram state nor changes verdicts") {
    import graft.scale.Scale
    val tbl = "test_p10_retry"
    Scale.dropBucketedTable(spark, tbl)
    val flags = graft.util.Scratch.fresh("graft_p10_retry_") + "/flags"
    def batch(b: Int) = spanDocs.filter(col("doc_id") % 2 === b)
    IngestDedup.spanStep(batch(0), "doc_id", "text", tbl, flags, 0, 8)
    // g is 16 raw bytes: hex it before stringifying (Array.toString
    // is reference identity, not content)
    def stateRows(df: org.apache.spark.sql.DataFrame) =
      df.select(hex(col("g")), col("ingest_batch"))
        .collect().map(_.toString).sorted.toSeq
    val state0 = stateRows(spark.table(tbl))
    (1 to 3).foreach { _ =>
      IngestDedup.spanStep(batch(1), "doc_id", "text", tbl, flags, 1, 8)
    }
    val state = spark.table(tbl)
    // state stays globally distinct — one landed copy per gram
    assert(state.groupBy("g").count().filter(col("count") > 1).isEmpty)
    assert(stateRows(state.where(col("ingest_batch") === 0)) === state0)
    // batch 1 appended ONLY its genuinely new grams: doc 1's repeated
    // gram is already in state from batch 0
    val b1New = state.where(col("ingest_batch") === 1).count()
    assert(b1New === (2L + 1L + 2L) - 1L,
      "doc1 has 3 grams (1 seen), doc3 has 2 — 4 new")
    // verdicts unchanged across replays
    val r = spark.read.parquet(s"$flags/b=1").collect()
      .map(row => row.getAs[Long]("doc_id") -> row).toMap
    assert(r(1L).getAs[Long]("dup_grams") === 1L)
    assert(r(1L).getAs[Long]("dup_tokens") === 8L)
    assert(r(3L).getAs[Long]("dup_grams") === 0L)
  }

  test("span screen is exchange-free on the bucketed gram-state side") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.expressions.Window
    import graft.scale.Scale
    val tbl = "test_p10_plan"
    Scale.dropBucketedTable(spark, tbl)
    val corpus = graft.Tables.documents(spark, sfDir)
    def marked(b: Int) = {
      val base = graft.dedup.Dedup.spanBase(
        corpus.filter(col("doc_id") % 2 === b), "doc_id", "text", 8)
      graft.dedup.Dedup.gramRows(base, "doc_id", 8)
        .withColumn("_rnb", row_number().over(
          Window.partitionBy("g").orderBy(col("doc_id"), col("pos"))))
    }
    assert(IngestDedup.appendGrams(
      marked(0).filter(col("_rnb") === 1).select("g"), tbl, 0))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val screened = IngestDedup.spanScreen(
        spark.table(tbl).where(col("ingest_batch") < 1), marked(1))
      screened.collect()
      val plan = screened.queryExecution.executedPlan
      def hasStateScan(p: SparkPlan): Boolean = p.collectFirst {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(tbl))
          => f
      }.isDefined
      val stateScans = plan.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(tbl))
          => f
      }
      assert(stateScans.nonEmpty, plan.toString)
      assert(stateScans.forall(_.bucketedScan), plan.toString)
      val shj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          => j
      }
      val stateSide = shj
        .filter(j => hasStateScan(j.left) || hasStateScan(j.right))
        .map(j => if (hasStateScan(j.right)) j.right else j.left)
      assert(stateSide.nonEmpty, plan.toString)
      stateSide.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"state side must not shuffle:\n$plan")
        assert(side.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }.isEmpty, s"state side must not re-sort:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("replayed ingests do not double-append when the catalog does not " +
      "track partitions") {
    import graft.scale.Scale
    val conf = "spark.sql.hive.manageFilesourcePartitions"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "false")
    try {
      val bands = "test_p08_untracked"
      val grams = "test_p10_untracked"
      Scale.dropBucketedTable(spark, bands)
      Scale.dropBucketedTable(spark, grams)
      val flags = graft.util.Scratch.fresh("graft_untracked_") + "/flags"
      IngestDedup.ingestStep(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", bands, s"$flags/bands", 0)
      IngestDedup.spanStep(spanDocs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", grams, s"$flags/grams", 0, 8)
      // the premise: these tables keep no partitions in the catalog
      Seq(bands, grams).foreach { t =>
        assert(!spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
          .tracksPartitionsInCatalog)
      }
      def count(t: String) =
        spark.table(t).where(col("ingest_batch") === 1).count()
      IngestDedup.ingestStep(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", bands, s"$flags/bands", 1)
      IngestDedup.spanStep(spanDocs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", grams, s"$flags/grams", 1, 8)
      val once = (count(bands), count(grams))
      assert(once._1 > 0 && once._2 > 0, "batch 1 appended nothing")
      // replay batch 1 twice — at-least-once delivery
      (1 to 2).foreach { _ =>
        IngestDedup.ingestStep(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", bands, s"$flags/bands", 1)
        IngestDedup.spanStep(spanDocs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", grams, s"$flags/grams", 1, 8)
      }
      assert((count(bands), count(grams)) === once)
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
