package graft.similarity

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** ANN contracts: brute-force is exact; LSH/IVF trade recall for probe
  * cost and are measured against brute-force on real testdata. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Tables.embeddings(spark, sfDir)
    .filter($"vec_id" >= 5)
  private lazy val queries = Tables.embeddings(spark, sfDir)
    .filter($"vec_id" < 5)

  private def neighborSets(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Set[Long]] =
    df.select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }

  /** A served top-10 checked against a reference, not against a second
    * index made the same way (a layout misread both share would pass):
    * every served score is a finite number, and recall@10 against the
    * exact top-10 over `holdings` (the index's holdings, or a part of
    * them serving must reach) stays above `floor`. */
  private def assertServesHoldings(served: org.apache.spark.sql.DataFrame,
      holdings: org.apache.spark.sql.DataFrame, floor: Double): Unit = {
    val rows = served.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(!r.isNullAt(3) &&
      java.lang.Double.isFinite(r.getDouble(3)), s"served score in $r"))
    val got = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val exact = neighborSets(Similarity.bruteTopK(holdings, queries, 10))
    val recall = exact.keys.toSeq.map { q =>
      (got.getOrElse(q, Set.empty) & exact(q)).size.toDouble / 10
    }.sum / exact.size
    info(s"recall@10=$recall")
    assert(recall > floor, s"recall@10=$recall")
  }

  test("bruteTopK: k rows per query, ranks contiguous, sims descending") {
    val top = Similarity.bruteTopK(corpus, queries, 10)
    val byQ = top.collect().groupBy(_.getLong(0))
    assert(byQ.size === 5)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to 10L))
      val sims = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bruteTopK agrees with a hand-computed nearest neighbor") {
    val hand = Seq(
      (100L, Array(1.0f, 0.0f)), (101L, Array(0.9f, 0.1f)),
      (102L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteTopK(hand, q, 1).collect().head
    assert(top.getLong(2) === 100L)
  }

  test("filteredTopK: every result satisfies the predicate, k still fills") {
    val labels = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val top = Similarity.filteredTopK(corpus, queries, 10, $"label" === 1)
    val rows = top.select("query_id", "corpus_id").as[(Long, Long)].collect()
    assert(rows.forall { case (_, c) => labels(c) == 1 },
      "a result outside the filter leaked through")
    // k fills from the filtered subset (it is large enough here) —
    // post-filtering brute results instead would under-fill
    assert(rows.groupBy(_._1).forall(_._2.length == 10))
    // and it equals brute-force over the pre-filtered corpus (pure
    // composition, no semantic drift)
    val direct = neighborSets(
      Similarity.bruteTopK(corpus.filter($"label" === 1), queries, 10))
    assert(neighborSets(top) === direct)
  }

  test("LSH buckets are deterministic and split the corpus") {
    val b1 = Similarity.lshBuckets(corpus, 8).select("vec_id", "bucket")
      .as[(Long, Long)].collect().toMap
    val b2 = Similarity.lshBuckets(corpus, 8).select("vec_id", "bucket")
      .as[(Long, Long)].collect().toMap
    assert(b1 === b2)
    assert(b1.values.toSet.size > 1) // actually partitions the space
  }

  test("lshTopK recall vs brute-force (4 bits × 8 tables)") {
    val brute = neighborSets(Similarity.bruteTopK(corpus, queries, 10))
    val ann = neighborSets(
      Similarity.lshTopK(corpus, queries, 10, bits = 4, tables = 8))
    val recall = brute.keys.toSeq.map { q =>
      val hits = ann.getOrElse(q, Set.empty) & brute(q)
      hits.size.toDouble / 10
    }.sum / brute.size
    assert(recall > 0.4, s"recall=$recall")
  }

  test("sqTopK recall tracks code resolution") {
    // 8-bit codes lose almost nothing even on random near-orthogonal
    // vectors; 12-bit recovers the exact sets — and finer codes must
    // never lose recall (the resolution dial points the right way)
    val brute = neighborSets(Similarity.bruteTopK(corpus, queries, 10))
    def recallAt(levels: Int): Double = {
      val ann = neighborSets(Similarity.sqTopK(corpus, queries, 10, levels))
      brute.keys.toSeq.map { q =>
        (ann.getOrElse(q, Set.empty) & brute(q)).size.toDouble / 10
      }.sum / brute.size
    }
    val coarse = recallAt(127)
    val fine = recallAt(4095)
    assert(coarse > 0.9, s"sq8 recall=$coarse")
    assert(fine >= coarse, s"finer codes must not lose recall " +
      s"($fine vs $coarse)")
  }

  test("sqTopK: a constant dimension never yields NaN scores") {
    import spark.implicits._
    val c = (5L to 20L).map(i =>
      (i, Array(1.0f, i.toFloat, -i.toFloat))).toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val rows = Similarity.sqTopK(c, q, 5).collect()
    assert(rows.length === 5)
    assert(rows.forall(r => !r.getDouble(3).isNaN))
  }

  test("ivfTopK recall vs brute-force (nProbe=4 of 10 centroids)") {
    val brute = neighborSets(Similarity.bruteTopK(corpus, queries, 10))
    val ann = neighborSets(Similarity.ivfTopK(corpus, queries, 10, 10, 4))
    val recall = brute.keys.toSeq.map { q =>
      (ann.getOrElse(q, Set.empty) & brute(q)).size.toDouble / 10
    }.sum / brute.size
    assert(recall > 0.4, s"recall=$recall")
  }

  test("persisted IVF index: served results EQUAL the fused ivfTopK; " +
      "the cells scan is partition-pruned to the probed lists") {
    val idx = tmpDir("graft_s12_spec_")
    Similarity.buildIvfIndex(corpus, idx, nCentroids = 10)
    val served = Similarity.ivfTopKServed(spark, idx, queries, 10,
      nProbe = 4)
    val fused = Similarity.ivfTopK(corpus, queries, 10, 10, 4)
    // identical rows INCLUDING the float sims: the lifecycle split
    // (train/assign/write, then read/probe/rank) must not change a bit
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(served.collect().map(key).sortBy(t => (t._1, t._2)).toSeq ===
      fused.collect().map(key).sortBy(t => (t._1, t._2)).toSeq)
    // and the serve plan reads only probed cells: the file scan must
    // carry a cid partition filter (4 probes/query over 10 lists —
    // without pruning the scan reads every cell file)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid#") ||
      plan.toLowerCase.matches("(?s).*partitionfilters: \\[.*cid.*"),
      plan)
  }

  test("IVF-PQ index: cells store CODES not vectors (32x narrower rows " +
      "than the full-vector index); serve is partition-pruned; recall " +
      "within the probed cells tracks the full-vector IVF") {
    import java.io.File
    def bytesUnder(p: String): Long = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new File(p)).filter(_.getPath.endsWith(".parquet"))
        .map(_.length()).sum
    }
    val idx = tmpDir("graft_s17_spec_")
    Similarity.buildIvfPqIndex(corpus, idx, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    // the stored rows are (corpus_id, codes, cid) — NO vector column:
    // the resident-footprint contract
    val cellSchema = spark.read.parquet(idx + "/cells").schema.fieldNames
    assert(cellSchema.sorted.toSeq === Seq("cid", "codes", "corpus_id"),
      cellSchema.mkString(","))
    val full = tmpDir("graft_s17_full_")
    Similarity.buildIvfIndex(corpus, full, nCentroids = 10,
      maxTrainVectors = 256)
    val pqBytes = bytesUnder(idx + "/cells")
    val fullBytes = bytesUnder(full + "/cells")
    assert(pqBytes * 3 < fullBytes,
      s"PQ cells $pqBytes bytes vs full-vector cells $fullBytes — the " +
        "codes layout must be several times narrower even at toy scale")
    val served = Similarity.ivfTopKServed(spark, idx, queries, 10,
      nProbe = 4)
    // the serve plan reads only probed cells (s12's pruning contract)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid#") ||
      plan.toLowerCase.matches("(?s).*partitionfilters: \\[.*cid.*"), plan)
    val rows = served.collect()
    assert(rows.groupBy(_.getLong(0)).size === 5)
    assert(rows.forall(r => !r.getDouble(3).isNaN))
    // deterministic: a second serve returns identical bits
    val again = Similarity.ivfTopKServed(spark, idx, queries, 10,
      nProbe = 4).collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(again.map(key).sortBy(t => (t._1, t._2)).toSeq ===
      rows.map(key).sortBy(t => (t._1, t._2)).toSeq)
    // approximation sanity: within the same probed-cell budget, PQ
    // candidates overlap the full-vector IVF ranking (identical coarse
    // quantizer -> identical candidate sets; PQ re-orders within cells,
    // so overlap measures the coding loss alone). The near-uniform
    // synthetic embeddings are PQ's WORST case — 4x16 codes carry
    // little of a 64-dim uniform vector — so this pins non-degeneracy,
    // not retrieval quality; exactness of the pipeline itself is the
    // driver-hashed s17 oracle's job
    val ivf = neighborSets(Similarity.ivfTopK(corpus, queries, 10, 10, 4,
      maxTrainVectors = 256))
    val pq = rows.groupBy(_.getLong(0))
      .map { case (q, ns) => q -> ns.map(_.getLong(2)).toSet }
    val overlap = ivf.keys.toSeq.map { q =>
      (pq.getOrElse(q, Set.empty) & ivf(q)).size.toDouble / 10
    }.sum / ivf.size
    assert(overlap > 0.1, s"overlap=$overlap")
  }

  test("appendToIvfIndex: O(batch) update — no existing index file " +
      "touched; appends commute (split == one-shot)") {
    import java.io.File
    def cellFiles(p: String): Set[String] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new File(p + "/cells")).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val base = corpus.filter($"vec_id" % 3 =!= 0)
    val batch = corpus.filter($"vec_id" % 3 === 0)
    val one = tmpDir("graft_s13_one_")
    Similarity.buildIvfIndex(base, one, nCentroids = 10)
    val before = cellFiles(one)
    Similarity.appendToIvfIndex(spark, one, batch)
    // the base's files are all still there, untouched — the update
    // added files, never rewrote (the O(batch) contract)
    assert(before.subsetOf(cellFiles(one)))
    assert(cellFiles(one).size > before.size)
    // appends commute: two half-batches == the one-shot append
    val two = tmpDir("graft_s13_two_")
    Similarity.buildIvfIndex(base, two, nCentroids = 10)
    Similarity.appendToIvfIndex(spark, two,
      batch.filter($"vec_id" % 2 === 0))
    Similarity.appendToIvfIndex(spark, two,
      batch.filter($"vec_id" % 2 =!= 0))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(
      Similarity.ivfTopKServed(spark, one, queries, 10, nProbe = 4)
        .collect().map(key).sortBy(t => (t._1, t._2)).toSeq ===
      Similarity.ivfTopKServed(spark, two, queries, 10, nProbe = 4)
        .collect().map(key).sortBy(t => (t._1, t._2)).toSeq)
  }

  test("appendToIvfPqIndex: O(batch) — no existing code file touched; " +
      "appends commute at both frozen quantizer levels") {
    import java.io.File
    def cellFiles(p: String): Set[String] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new File(p + "/cells")).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val base = corpus.filter($"vec_id" % 3 =!= 0)
    val batch = corpus.filter($"vec_id" % 3 === 0)
    val one = tmpDir("graft_s18_one_")
    Similarity.buildIvfPqIndex(base, one, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    val before = cellFiles(one)
    Similarity.appendToIvfIndex(spark, one, batch)
    assert(before.subsetOf(cellFiles(one)))
    assert(cellFiles(one).size > before.size)
    val two = tmpDir("graft_s18_two_")
    Similarity.buildIvfPqIndex(base, two, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    Similarity.appendToIvfIndex(spark, two,
      batch.filter($"vec_id" % 2 === 0))
    Similarity.appendToIvfIndex(spark, two,
      batch.filter($"vec_id" % 2 =!= 0))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(
      Similarity.ivfTopKServed(spark, one, queries, 10, nProbe = 4)
        .collect().map(key).sortBy(t => (t._1, t._2)).toSeq ===
      Similarity.ivfTopKServed(spark, two, queries, 10, nProbe = 4)
        .collect().map(key).sortBy(t => (t._1, t._2)).toSeq)
    // against all holdings, and against the pre-append ones alone: a
    // serve that ranks only the appended rows (base cells misread as
    // null vectors rank last) reaches none of the latter
    val served = Similarity.ivfTopKServed(spark, one, queries, 10, nProbe = 4)
    assertServesHoldings(served, corpus, floor = 0.1)
    assertServesHoldings(served, base, floor = 0.05)
  }

  test("removeFromIvfPqIndex: only touched cells rewritten; deleted " +
      "ids gone from storage and serving") {
    import java.io.File
    def filesByCell(p: String): Map[String, Set[String]] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new File(p + "/cells")).map(_.getPath)
        .filter(_.endsWith(".parquet"))
        .groupBy(f => f.split("/").find(_.startsWith("cid=")).getOrElse(""))
        .map { case (k, v) => k -> v.toSet }
    }
    val idx = tmpDir("graft_s19_spec_")
    Similarity.buildIvfPqIndex(corpus, idx, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    val before = filesByCell(idx)
    val del = corpus.filter($"vec_id" % 10 === 7).select("vec_id")
    val delIds = del.as[Long].collect().toSet
    val touched = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(idx + "/cells")
      .filter($"corpus_id".isin(delIds.toSeq: _*))
      .select("cid").distinct().as[Long].collect().map(c => s"cid=$c").toSet
    Similarity.removeFromIvfIndex(spark, idx, del)
    val after = filesByCell(idx)
    // untouched cells' files are bit-for-bit the same paths
    for ((cell, fs) <- before if !touched.contains(cell))
      assert(after(cell) === fs, s"untouched $cell rewritten")
    // deleted ids gone from storage...
    val stored = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(idx + "/cells").select("corpus_id").as[Long].collect().toSet
    assert(stored.intersect(delIds).isEmpty)
    // ...and from serving
    val served = Similarity.ivfTopKServed(spark, idx, queries, 10,
      nProbe = 4)
    assert(served.select("corpus_id").as[Long].collect().toSet
      .intersect(delIds).isEmpty)
    assertServesHoldings(served, corpus.filter($"vec_id" % 10 =!= 7),
      floor = 0.1)
  }

  /** The spec's own decode of a compound index's holdings — the same
    * codebook joins the engine runs, re-derived independently so the
    * retrain collapse can be checked against it. */
  private def decodePq(idx: String): org.apache.spark.sql.DataFrame = {
    val cb = spark.read.parquet(idx + "/codebooks")
    val cells = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(idx + "/cells")
    val subspaces = cb.select("sub").distinct().count().toInt
    val withSubs = (0 until subspaces).foldLeft(cells) { (df, m) =>
      df.join(cb.filter($"sub" === m)
          .select($"code".as(s"_c$m"), $"cv".as(s"_v$m")),
        element_at($"codes", m + 1) === col(s"_c$m")).drop(s"_c$m")
    }
    withSubs.select($"corpus_id".as("vec_id"),
      concat((0 until subspaces).map(m => col(s"_v$m")): _*)
        .as("embedding"))
  }

  test("retrainIvfPqIndex: the collapse law — retrain == ONE BUILD over " +
      "the decode of the drifted index, bit for bit; holdings preserved; " +
      "no staging residue") {
    val idx = tmpDir("graft_s21_spec_")
    Similarity.buildIvfPqIndex(corpus.filter($"vec_id" % 10 =!= 9), idx,
      nCentroids = 10, subspaces = 4, codebook = 16, maxTrainVectors = 256)
    Similarity.appendToIvfIndex(spark, idx,
      corpus.filter($"vec_id" % 10 === 9))
    val idsBefore = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(idx + "/cells").select("corpus_id")
      .as[Long].collect().sorted.toSeq
    // the law's right-hand side: one build over the decoded holdings
    val want = tmpDir("graft_s21_want_")
    Similarity.buildIvfPqIndex(decodePq(idx), want, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    Similarity.retrainIvfPqIndex(spark, idx, nCentroids = 10,
      maxTrainVectors = 256)
    def cents(p: String) = spark.read.parquet(p + "/centroids")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    def books(p: String) = spark.read.parquet(p + "/codebooks")
      .select("sub", "code", "cv").as[(Int, Long, Seq[Double])]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    def codes(p: String) = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(p + "/cells").as[(Long, Seq[Long], Long)]
      .collect().sortBy(_._1).toSeq
    assert(cents(idx) === cents(want), "coarse centroids differ")
    assert(books(idx) === books(want), "codebooks differ")
    assert(codes(idx) === codes(want), "cells/codes differ")
    assert(codes(idx).map(_._1) === idsBefore,
      "retrain must migrate every holding, never drop one")
    assert(!new java.io.File(idx + "/retrain_tmp").exists(),
      "staged swap must clean its staging dir")
    assert(!new java.io.File(idx + "/retrain_old").exists(),
      "staged swap must clean the stepped-aside generation")
  }

  test("retrainIvfPqIndex: codebook size is STORED geometry — a " +
      "non-default build retrains at its own width, no parameter " +
      "to pass wrong") {
    val idx = tmpDir("graft_s21w_spec_")
    Similarity.buildIvfPqIndex(corpus, idx, nCentroids = 10,
      subspaces = 4, codebook = 8, maxTrainVectors = 256)
    Similarity.retrainIvfPqIndex(spark, idx, nCentroids = 10,
      maxTrainVectors = 256)
    val perSub = spark.read.parquet(idx + "/codebooks")
      .groupBy("sub").count().collect().map(_.getLong(1)).distinct.toSeq
    assert(perSub === Seq(8L),
      s"retrain changed the codebook width: $perSub")
  }

  test("ivfPqDriftStats: n_vecs totals the holdings, drift on the LONG " +
      "grid, emptied cell surfaces NULL; policy fires on the bar; a " +
      "mismatched-dims append refuses loudly") {
    val idx = tmpDir("graft_s20_spec_")
    Similarity.buildIvfPqIndex(corpus, idx, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    val stats = Similarity.ivfDriftStats(spark, idx).collect()
    assert(stats.map(_.getLong(1)).sum === corpus.count())
    assert(stats.filter(_.getLong(1) > 0)
      .forall(r => !r.isNullAt(2) && r.getLong(2) >= 0L))
    // empty a whole cell: its row must surface with n_vecs=0, NULL drift
    val victim = stats.filter(_.getLong(1) > 0).map(_.getLong(0)).min
    // materialized: the lazy plan would pin idx/cells' CURRENT file
    // list, which later appends/rewrites invalidate
    val victimIds = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(idx + "/cells").filter($"cid" === victim)
      .select($"corpus_id".as("vec_id"))
      .as[Long].collect().toSeq.toDF("vec_id")
    Similarity.removeFromIvfIndex(spark, idx, victimIds)
    val emptied = Similarity.ivfDriftStats(spark, idx).collect()
      .find(_.getLong(0) == victim).get
    assert(emptied.getLong(1) === 0L && emptied.isNullAt(2))
    // the drift-excess policy, both directions at the e27 bar (0.15):
    // a below-bar in-distribution drain performs NO retrain — the
    // quantizers are byte-identical and serving equals a twin index
    // that only ever appended — and the clump drain fires and swaps
    val calm = corpus.filter($"vec_id" % 10 === 9)
      .select(($"vec_id" + 2000000000L).as("vec_id"), $"embedding")
    def quantizers() =
      (spark.read.parquet(idx + "/centroids")
        .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq,
       spark.read.parquet(idx + "/codebooks")
         .select("sub", "code", "cv").as[(Int, Long, Seq[Double])]
         .collect().sortBy(t => (t._1, t._2)).toSeq)
    val before = quantizers()
    assert(!Similarity.appendToIvfPqWithRetrainPolicy(spark, idx, calm,
      nCentroids = 10, excessAboveE6 = 150000L,
      maxTrainVectors = 256), "the in-distribution batch fired")
    assert(quantizers() === before,
      "a below-bar drain must not touch either quantizer level")
    // bit-identical serving vs a plain append (the skip is a no-op
    // beyond the append itself)
    val twin = tmpDir("graft_s20_twin_")
    Similarity.buildIvfPqIndex(corpus, twin, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    Similarity.removeFromIvfIndex(spark, twin, victimIds)
    Similarity.appendToIvfIndex(spark, twin, calm)
    val queries = corpus.filter($"vec_id" < 15)
    assert(Similarity.ivfTopKServed(spark, idx, queries, 10, 4)
      .orderBy("query_id", "rank").collect().toSeq ===
      Similarity.ivfTopKServed(spark, twin, queries, 10, 4)
        .orderBy("query_id", "rank").collect().toSeq,
      "a skipped retrain changed served bits")
    // the incrementally-maintained state equals a full recomputation
    val state = spark.read.parquet(idx + "/drift_state")
      .select("cid", "drift_e6").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val full = Similarity.ivfDriftStats(spark, idx).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(state === full,
      "touched-cells-only maintenance drifted from the full statistic")
    val clump = corpus.filter($"vec_id" % 10 === 9)
      .select(($"vec_id" + 1000000000L).as("vec_id"),
        transform($"embedding", x => abs(x) + lit(2.0f)).as("embedding"))
    assert(Similarity.appendToIvfPqWithRetrainPolicy(spark, idx, clump,
      nCentroids = 10, excessAboveE6 = 150000L, maxTrainVectors = 256),
      "the off-distribution clump must cross the e27 bar")
    assert(quantizers() !== before,
      "the fired retrain must swap the quantizers")
    // geometry is DERIVED from the stored codebooks: a batch whose
    // vectors don't match the index's dims refuses in-plan instead of
    // writing truncated codes
    val skinny = corpus.limit(3)
      .select(($"vec_id" + 3000000000L).as("vec_id"),
        slice($"embedding", 1, 32).as("embedding"))
    val e = intercept[Exception] {
      Similarity.appendToIvfIndex(spark, idx, skinny)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("dims")), msgs(e).mkString("; "))
  }

  test("removeFromIvfIndex: only touched cells rewritten; deleted ids " +
      "gone; delete commutes with build (split == build-on-kept cells)") {
    import java.io.File
    def cellFiles(p: String): Set[String] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new File(p + "/cells")).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val idx = tmpDir("graft_s14_spec_")
    Similarity.buildIvfIndex(corpus, idx, nCentroids = 10)
    val cellsSchema = "corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG"
    val cells0 = spark.read.schema(cellsSchema).parquet(idx + "/cells")
    // delete exactly one cell's members: every OTHER cell's files must
    // survive byte-identical (path set unchanged)
    // materialize everything derived from the PRE-delete file set: the
    // swap below invalidates cells0's cached file index by design
    val rows0 = cells0.select("corpus_id", "cid").as[(Long, Long)]
      .collect()
    val victimCid = rows0.groupBy(_._2).maxBy(g => (g._2.length, -g._1))._1
    val victimIds = rows0.filter(_._2 == victimCid).map(_._1).toSeq
    val nVictims = victimIds.length.toLong
    assert(nVictims > 0)
    val victims = victimIds.toDF("vec_id")
    val untouchedBefore = cellFiles(idx)
      .filterNot(_.contains(s"cid=$victimCid"))
    Similarity.removeFromIvfIndex(spark, idx, victims)
    val after = spark.read.schema(cellsSchema).parquet(idx + "/cells")
    assert(after.count() === rows0.length - nVictims)
    assert(after.join(victims,
      after("corpus_id") === victims("vec_id"), "left_semi").isEmpty)
    assert(cellFiles(idx).filterNot(_.contains(s"cid=$victimCid"))
      === untouchedBefore, "untouched cells must not be rewritten")
    // the emptied cell stays enumerable and is visible in the drift
    // report as n_vecs=0 with a NULL drift
    val drift = Similarity.ivfDriftStats(spark, idx).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(drift(victimCid).getLong(1) === 0L)
    assert(drift(victimCid).isNullAt(2))
    assert(drift.size === 10)
    // delete commutes with build: the survivors' (corpus_id, cid)
    // assignment equals the full build's minus the victims (same
    // frozen centroids, per-vector assignment)
    val expectPairs = rows0.filterNot(p => victimIds.contains(p._1))
      .sorted.toSeq
    assert(after.select("corpus_id", "cid").as[(Long, Long)]
      .collect().sorted.toSeq === expectPairs)
  }

  test("ivfDriftStats: a self-centroid index reports ~zero drift; a " +
      "shifted append raises the touched cell's drift") {
    // 4 well-separated vectors, k=4: Lloyd converges to the vectors
    // themselves, so every cell's mean IS its centroid direction
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val idx = tmpDir("graft_s15_spec_")
    Similarity.buildIvfIndex(tiny, idx, nCentroids = 4, iters = 2)
    val d0 = Similarity.ivfDriftStats(spark, idx).collect()
    assert(d0.length === 4)
    d0.foreach { r =>
      assert(r.getLong(1) === 1L)
      // the max(·,0) clamp pins the sign-unstable drift≈0 case to
      // EXACTLY 0 on the integer grid — not merely "small"
      assert(r.getLong(2) === 0L, r.toString)
    }
    // append an off-axis batch near vector 0: cell 0's contents drift
    // away from its frozen centroid, the untouched cells stay at ~0
    val batch = Seq(
      (10L, Array(0.8f, 0.6f, 0.0f, 0.0f)),
      (11L, Array(0.8f, 0.0f, 0.6f, 0.0f))).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(spark, idx, batch)
    val d1 = Similarity.ivfDriftStats(spark, idx).collect()
      .map(r => r.getLong(0) -> r).toMap
    val drifted = d1.values.filter(r => r.getLong(2) > 1000L).toSeq
    assert(drifted.nonEmpty, d1.toString)
    assert(d1.values.map(_.getLong(1)).sum === 6L)
  }

  test("ivfDriftStats emits the EXACT integer grid: drift_e6 is LONG " +
      "and equals an independent BigDecimal re-derivation per cell") {
    // the s15 scenario on real testdata: build on the base, append the
    // %10==9 slice without retraining, then re-derive every cell's
    // drift_e6 driver-locally — BigDecimal per-dim means (the same
    // exact grid), plain-double sequential normalize/dot, floor(·1e6)
    val idx = tmpDir("graft_s15_grid_spec_")
    val all = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" >= 5).select($"vec_id", $"embedding")
    Similarity.buildIvfIndex(all.filter($"vec_id" % 10 =!= 9), idx,
      nCentroids = 10, maxTrainVectors = 256)
    Similarity.appendToIvfIndex(spark, idx, all.filter($"vec_id" % 10 === 9))
    val got = Similarity.ivfDriftStats(spark, idx)
    assert(got.schema("drift_e6").dataType ===
      org.apache.spark.sql.types.LongType)
    val cells = spark.read
      .schema("corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG")
      .parquet(idx + "/cells")
      .select("cid", "corpus_id", "cv")
      .as[(Long, Long, Seq[Double])].collect()
    val cents = spark.read.parquet(idx + "/centroids")
      .select("cid", "cv").as[(Long, Seq[Double])].collect().toMap
    def norm(v: Seq[Double]): Seq[Double] = {
      var s = 0.0; v.foreach(x => s += x * x)
      val n = math.sqrt(s); v.map(_ / n)
    }
    val expect = cells.groupBy(_._1).map { case (cid, members) =>
      val dims = members.head._3.length
      val mv = (0 until dims).map { i =>
        // Spark's double→decimal cast routes through Double.toString
        // (shortest repr), NOT the exact binary expansion — mirror it
        val sum = members.map(m =>
          new java.math.BigDecimal(java.lang.Double.toString(m._3(i)))
            .setScale(20, java.math.RoundingMode.HALF_UP))
          .reduce(_ add _)
        sum.doubleValue() / members.length
      }
      val d = 1.0 - norm(cents(cid)).zip(norm(mv))
        .foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
      cid -> math.floor(math.max(d, 0.0) * 1000000.0).toLong
    }
    val gotMap = got.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotMap === expect, "integer-grid drift must be re-derivable")
  }

  test("appendWithRetrainPolicy: the negated-cluster append crosses " +
      "the staleness bar and the fired retrain collapses to one build " +
      "over the ingested contents") {
    val idx = tmpDir("graft_e23pol_spec_")
    Similarity.buildIvfIndex(corpus.filter($"vec_id" % 10 =!= 9), idx,
      nCentroids = 10, maxTrainVectors = 256)
    val slice = corpus.filter($"vec_id" % 10 === 9)
    // step 1: in-distribution slice (fire-or-not is data-dependent —
    // the collapse below holds either way, which is the point)
    Similarity.appendWithRetrainPolicy(spark, idx, slice,
      nCentroids = 10, retrainAboveE6 = 20000L, maxTrainVectors = 256)
    // step 2: the drifted batch MUST fire (measured post-append drift
    // is 0.06-0.11 at every SF — 60x over the 0.001 bar)
    val neg = slice.select(($"vec_id" + 1000000000L).as("vec_id"),
      transform($"embedding", x => -x).as("embedding"))
    assert(Similarity.appendWithRetrainPolicy(spark, idx, neg,
      nCentroids = 10, retrainAboveE6 = 1000L, maxTrainVectors = 256),
      "drifted append must cross the retrain bar")
    // the collapse, component by component — retrain migrates stored
    // vectors AS-IS, so the final index is bit-equal to one build's
    // pieces over the normalized augmented corpus, no matter how many
    // intermediate retrains fired:
    val augN = corpus.select($"vec_id", $"embedding").unionByName(neg)
      .select($"vec_id",
        graft.dedup.Dedup.normalized($"embedding".cast("array<double>"))
          .as("embedding"))
    // (1) centroids == the deterministic Lloyd over the normalized
    //     contents, bit-equal
    val wantCents = Similarity.kmeansCentroids(augN, 10, 3,
      maxTrainVectors = 256)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val gotCents = spark.read.parquet(idx + "/centroids")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(gotCents === wantCents)
    // (2) cells == the normalized vectors THEMSELVES (migrated as-is,
    //     never re-normalized) at their nearest-centroid cells
    val cellsSchema = "corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG"
    val gotCells = spark.read.schema(cellsSchema).parquet(idx + "/cells")
      .select("corpus_id", "cv").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).toSeq
    val wantCells = augN.select($"vec_id",
      $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(gotCells === wantCells,
      "stored vectors must migrate bit-identically (no re-normalize)")
  }

  test("retrainIvfIndex: no vector lost in migration; served results " +
      "equal the fused ivfTopK over the index's normalized contents") {
    val idx = tmpDir("graft_s16_spec_")
    val base = corpus.filter($"vec_id" % 3 =!= 0)
    val batch = corpus.filter($"vec_id" % 3 === 0)
    Similarity.buildIvfIndex(base, idx, nCentroids = 10)
    Similarity.appendToIvfIndex(spark, idx, batch)
    val cellsSchema = "corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG"
    val idsBefore = spark.read.schema(cellsSchema).parquet(idx + "/cells")
      .select("corpus_id").as[Long].collect().sorted.toSeq
    val contentsBefore = spark.read.schema(cellsSchema)
      .parquet(idx + "/cells")
      .select($"corpus_id", $"cv").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).toSeq
    Similarity.retrainIvfIndex(spark, idx, nCentroids = 10)
    val after = spark.read.schema(cellsSchema).parquet(idx + "/cells")
    assert(after.select("corpus_id").as[Long].collect().sorted.toSeq
      === idsBefore, "migration must move vectors, never drop them")
    // the collapse law, component by component: centroids == the
    // deterministic Lloyd over the index's normalized contents, and
    // the stored vectors migrate BIT-IDENTICALLY (as-is, never
    // re-normalized — re-normalizing would shift n(v) to n(n(v)) at
    // the last ulp and make the index's bits depend on its retrain
    // count; retrain is idempotent by construction instead)
    val corpusN = corpus.select($"vec_id",
      graft.dedup.Dedup.normalized($"embedding".cast("array<double>"))
        .as("embedding"))
    val wantCents = Similarity.kmeansCentroids(corpusN, 10, 3)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val gotCents = spark.read.parquet(idx + "/centroids")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(gotCents === wantCents)
    assert(after.select($"corpus_id", $"cv").as[(Long, Seq[Double])]
      .collect().sortBy(_._1).toSeq === contentsBefore,
      "stored vectors must migrate bit-identically (no re-normalize)")
    // retrain is idempotent: a second retrain changes nothing
    Similarity.retrainIvfIndex(spark, idx, nCentroids = 10)
    assert(spark.read.parquet(idx + "/centroids")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq === wantCents)
  }

  test("pqTopK recall vs brute-force (8 subspaces × 64 codes)") {
    val brute = neighborSets(Similarity.bruteTopK(corpus, queries, 10))
    val ann = neighborSets(
      Similarity.pqTopK(corpus, queries, 10, subspaces = 8, codebook = 64))
    val recall = brute.keys.toSeq.map { q =>
      (ann.getOrElse(q, Set.empty) & brute(q)).size.toDouble / 10
    }.sum / brute.size
    // the synthetic corpus is near-isotropic (no cluster structure), the
    // worst case for PQ: neighbors differ by tiny margins that coarse
    // reconstruction blurs. 0.38 measured at this config; the bar
    // guards against regressions to chance-level (~0.1)
    assert(recall > 0.3, s"recall=$recall")
    // shape: k rows per query, contiguous ranks
    val perQ = Similarity.pqTopK(corpus, queries, 3).collect()
      .groupBy(_.getLong(0))
    perQ.values.foreach { rows =>
      assert(rows.length === 3)
      assert(rows.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 3L))
    }
  }

  test("knnLabelEval: well-formed per-label report, self never votes") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sfDir)
    val out = Similarity.knnLabelEval(emb, col("vec_id") % 97 === 0, 10)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (acc, agr) = (r.getDouble(2), r.getDouble(3))
      assert(acc >= 0.0 && acc <= 1.0)
      assert(agr >= 0.0 && agr <= 1.0)
    }
    // every sampled query is accounted for exactly once
    val sampled = emb.filter(col("vec_id") % 97 === 0).count()
    assert(out.map(_.getLong(1)).sum === sampled)
    // k neighbors per query and never the query itself: perfect
    // agreement would need k same-label OTHER vectors — pin the
    // self-exclusion by checking a singleton label can't self-match
    // (structural property of bruteTopK's corpus_id =!= query_id)
    val nn = Similarity.bruteTopK(emb, emb.filter(col("vec_id") % 97 === 0), 10)
    assert(nn.filter(col("corpus_id") === col("query_id")).count() === 0)
  }

  test("kmeans centroids: k rows, deterministic across runs") {
    val c1 = Similarity.kmeansCentroids(corpus, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c2 = Similarity.kmeansCentroids(corpus, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1.size === 4)
    assert(c1 === c2)
  }

  test("random projection: 64->16 keeps useful neighborhood structure") {
    // JL contract, measured: brute top-10 in the PROJECTED space must
    // recover a solid fraction of the true top-10 (well above the
    // 10/495 ~ 2% chance level; 16 dims on a near-isotropic corpus is
    // the hard case). Also pin linearity: projecting a doubled vector
    // doubles every coordinate (catches any hidden normalization).
    val emb = Tables.embeddings(spark, sfDir)
    val proj = Similarity.randomProjectionVectors(emb, 16)
    val pq = proj.filter($"vec_id" < 5)
    val pc = proj.filter($"vec_id" >= 5)
    val trueTop = Similarity.bruteTopK(corpus, queries, 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val projTop = Similarity.bruteTopK(pc, pq, 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // floor guards chance level (10/495 ≈ 2%), not high fidelity: the
    // synthetic corpus is near-isotropic — JL's hardest case, same as
    // the documented PQ recall situation — so 16 dims keeps only weak
    // neighborhood signal; the VALUE contract is the s10 hash-match
    val recall = (trueTop & projTop).size.toDouble / trueTop.size
    assert(recall >= 0.04, s"projected recall $recall at chance level")
    val doubled = emb.withColumn("embedding",
      transform($"embedding", x => x * 2f))
    val p1 = Similarity.randomProjection(emb, 16)
      .withColumnRenamed("value", "v1")
    val p2 = Similarity.randomProjection(doubled, 16)
      .withColumnRenamed("value", "v2")
    assert(p1.join(p2, Seq("vec_id", "dim"))
      .filter(abs($"v2" - $"v1" * 2) > 1e-9).count() === 0)
  }

  test("s11 rerank: recall never below the quantized scan's") {
    val brute = Similarity.bruteTopK(corpus, queries, 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.sqTopK(corpus, queries, 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val rr = Similarity.rerankTopK(corpus, queries, 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long)]) =
      (s & brute).size.toDouble / brute.size
    assert(rr.size === brute.size) // k filled per query
    assert(recall(rr) >= recall(sq),
      s"refinement lowered recall: ${recall(rr)} < ${recall(sq)}")
    // the exact pass re-scores CANDIDATES only — every reranked hit
    // must come from the quantized over-fetch
    val cand = Similarity.sqTopK(corpus, queries, 40)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(rr.subsetOf(cand))
  }

  test("hybrid RRF: fused ranks are dense, scores recompute from ranks") {
    val out = Similarity.queries("s09_hybrid_rrf")(spark, sfDir).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size === 5)
    byQuery.foreach { case (_, rows) =>
      // exactly finalK fused results per query, ranks 1..10 dense
      assert(rows.map(_.getAs[Long]("rrf_rank")).sorted.toSeq
        === (1L to 10L))
      rows.foreach { r =>
        val lex = Option(r.getAs[java.lang.Long]("lex_rank"))
        val vec = Option(r.getAs[java.lang.Long]("vec_rank"))
        // a fused row must come from at least one branch
        assert(lex.nonEmpty || vec.nonEmpty)
        val expected =
          lex.map(l => 1.0 / (60.0 + l.toDouble)).getOrElse(0.0) +
          vec.map(v => 1.0 / (60.0 + v.toDouble)).getOrElse(0.0)
        assert(r.getAs[Double]("rrf_score") === expected)
      }
      // both-branch consensus beats the best single-branch rank-20 row:
      // 1/61×2 worst-case dual > 1/(60+1) single — so any doc in BOTH
      // top-20s outranks every single-branch doc
      val dual = rows.filter(r => r.getAs[java.lang.Long]("lex_rank") != null
        && r.getAs[java.lang.Long]("vec_rank") != null)
      val single = rows.filter(r =>
        r.getAs[java.lang.Long]("lex_rank") == null
          || r.getAs[java.lang.Long]("vec_rank") == null)
      if (dual.nonEmpty && single.nonEmpty) {
        assert(dual.map(_.getAs[Long]("rrf_rank")).max
          < single.map(_.getAs[Long]("rrf_rank")).min)
      }
    }
  }

  test("bm25MoreLikeThis: single query doc == bm25TopDocs on its terms") {
    // the multi-query MLT path must reduce to the t16 single-query
    // ranking when given one query doc whose distinct tokens are the
    // term list (same corpus stats, same fold, same tiebreaks)
    val docs = graft.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") >= 5)
    val queryDoc = docs.filter(col("doc_id") === 2)
    val terms = queryDoc.select(explode(array_distinct(
        graft.text.TextAnalysis.tokens(col("text")))).as("t"))
      .as[String].collect().toSeq
    val mlt = graft.text.TextAnalysis
      .bm25MoreLikeThis(corpus, queryDoc, "doc_id", "text", topN = 15)
      .select("rank", "corpus_id", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    val direct = graft.text.TextAnalysis
      .bm25TopDocs(corpus, "doc_id", "text", terms, topN = 15)
      .select("rank", "doc_id", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(mlt === direct)
  }

  test("e19 streamed serve == s12 batch serve, bit for bit") {
    // per-query serving has no cross-query state, so slicing the query
    // set into micro-batches must not change a single result row — the
    // law that lets e19 share s12's oracle
    val streamed = Similarity.queries("e19_stream_ann")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val batch = Similarity.queries("s12_ivf_persisted")(spark, sfDir)
      .select("query_id", "rank", "corpus_id", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(streamed === batch)
    assert(batch.nonEmpty, "empty serve — dead key")
  }

  test("retrain policy: lost drift_state on an adopted index refuses " +
      "loudly instead of silently re-baselining; explicit re-adoption " +
      "restores the gate and the off-distribution clump still fires") {
    import org.apache.hadoop.fs.Path
    val idx = tmpDir("graft_r14_state_")
    Similarity.buildIvfPqIndex(corpus, idx, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    val fs = new Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def calm(shift: Long) = corpus.filter($"vec_id" % 10 === 9)
      .select(($"vec_id" + shift).as("vec_id"), $"embedding")
    def drain(batch: org.apache.spark.sql.DataFrame) =
      Similarity.appendToIvfPqWithRetrainPolicy(spark, idx, batch,
        nCentroids = 10, excessAboveE6 = 150000L, maxTrainVectors = 256)
    // adoption drain stamps the marker and a complete state dir
    assert(!drain(calm(2000000000L)))
    assert(fs.exists(new Path(idx, "drift_adopted")))
    assert(fs.exists(new Path(idx + "/drift_state/_SUCCESS")))
    def cellRows() = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(idx + "/cells").count()
    // crash window 1: the state dir destroyed after adoption — the
    // next drain must refuse BEFORE touching the index (a silent
    // re-baseline here would fold accumulated drift into the new
    // baseline and the gate could never fire on it)
    fs.delete(new Path(idx, "drift_state"), true)
    val before = cellRows()
    val e1 = intercept[IllegalStateException] { drain(calm(2100000000L)) }
    assert(e1.getMessage.contains("readoptPqDriftBaseline"))
    assert(cellRows() === before, "a refused drain appended anyway")
    // explicit re-adoption is the recovery the refusal names
    Similarity.readoptPqDriftBaseline(spark, idx)
    assert(!drain(calm(2200000000L)))
    // crash window 2: a PARTIAL state dir (torn legacy write — the
    // atomic writer never leaves one) counts as lost, not readable
    fs.delete(new Path(idx + "/drift_state/_SUCCESS"), false)
    val e2 = intercept[IllegalStateException] { drain(calm(2300000000L)) }
    assert(e2.getMessage.contains("readoptPqDriftBaseline"))
    Similarity.readoptPqDriftBaseline(spark, idx)
    // the re-adopted gate still has both behaviors: calm skips ...
    assert(!drain(calm(2400000000L)))
    // ... and the off-distribution clump fires
    val clump = corpus.filter($"vec_id" % 10 === 9)
      .select(($"vec_id" + 2500000000L).as("vec_id"),
        transform($"embedding", x => abs(x) + lit(2.0f)).as("embedding"))
    assert(drain(clump), "the clump must still cross the bar after " +
      "re-adoption")
  }

  test("ivfPqDriftStats: the distinct-code-word weighted aggregation " +
      "is bit-identical to the per-row statistic") {
    import graft.dedup.Dedup.{dot, normalized}
    val idx = tmpDir("graft_r14_drift_")
    Similarity.buildIvfPqIndex(corpus, idx, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    // force duplicate code words: append the same vectors under new ids
    Similarity.appendToIvfIndex(spark, idx,
      corpus.select(($"vec_id" + 4000000000L).as("vec_id"), $"embedding"))
    val cells = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(idx + "/cells")
    val cb = spark.read.parquet(idx + "/codebooks")
    // per-ROW reference, rebuilt here from the stored layout with no
    // distinct-code compression anywhere: decode every stored row,
    // normalize, exact-decimal per-dimension means, displacement on
    // the 1e6 grid
    val decoded = (0 until 4).foldLeft(cells) { (d, m) =>
      d.join(broadcast(cb.filter($"sub" === m)
          .select($"code".as(s"c$m"), $"cv".as(s"v$m"))),
        element_at($"codes", m + 1) === col(s"c$m"))
    }.withColumn("dv", concat((0 until 4).map(m => col(s"v$m")): _*))
    val nv = decoded.select($"cid", normalized($"dv").as("nv"))
    val perDim = nv.select($"cid", posexplode($"nv").as(Seq("i", "v")))
      .groupBy("cid", "i")
      .agg((sum($"v".cast("decimal(27,20)")).cast("double") /
        count(lit(1))).as("m"))
    val mv = perDim.groupBy("cid")
      .agg(transform(sort_array(collect_list(struct($"i", $"m"))),
        s => s.getField("m")).as("mv"))
    val n = nv.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
    val drift = greatest(
      lit(1.0) - dot(normalized($"cv"), normalized($"mv")), lit(0.0))
    val ref = spark.read.parquet(idx + "/centroids")
      .join(mv, Seq("cid"), "left").join(n, Seq("cid"), "left")
      .select($"cid", coalesce($"n_vecs", lit(0L)).as("n_vecs"),
        when($"mv".isNotNull, floor(drift * lit(1000000.0)))
          .cast("long").as("drift_e6"))
      .orderBy("cid")
    val got = Similarity.ivfDriftStats(spark, idx)
      .collect().map(_.toSeq).toSeq
    assert(got === ref.collect().map(_.toSeq).toSeq)
    assert(got.nonEmpty && got.exists(r =>
      r(2) != null && r(2).asInstanceOf[Long] > 0L))
  }

  test("retrainIvfPqIndex self-heals every crash window of the " +
      "two-phase swap; a genuinely lost dir fails naming retrain_old") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    def fresh(tag: String): String = {
      val p = tmpDir(tag)
      Similarity.buildIvfPqIndex(corpus, p, nCentroids = 10,
        subspaces = 4, codebook = 16, maxTrainVectors = 256)
      p
    }
    def served(p: String) =
      Similarity.ivfTopKServed(spark, p, queries, 10, 4)
        .orderBy("query_id", "rank").collect().toSeq
    // the deterministic reference: retrain of an intact twin
    val intact = fresh("graft_r14_swap_ref_")
    Similarity.retrainIvfPqIndex(spark, intact, nCentroids = 10,
      maxTrainVectors = 256)
    val expect = served(intact)
    // window A: phase 1 interrupted — one live dir already stepped
    // aside, retrain_old INCOMPLETE => surviving live dirs are OLD;
    // recovery must roll the moved dir BACK, then retrain normally
    val a = fresh("graft_r14_swap_a_")
    val fsA = new Path(a).getFileSystem(conf)
    fsA.mkdirs(new Path(a, "retrain_old"))
    fsA.rename(new Path(a, "cells"), new Path(a + "/retrain_old/cells"))
    Similarity.retrainIvfPqIndex(spark, a, nCentroids = 10,
      maxTrainVectors = 256)
    assert(served(a) === expect, "phase-1 heal diverged from the " +
      "intact retrain")
    // window B: phase 2 interrupted — retrain_old COMPLETE => any
    // live dir is NEW; recovery must roll the rest FORWARD from
    // retrain_tmp (the staged generation here is a byte-copy of the
    // old one, so the follow-up retrain is comparable bit-for-bit)
    val b = fresh("graft_r14_swap_b_")
    val fsB = new Path(b).getFileSystem(conf)
    fsB.mkdirs(new Path(b, "retrain_tmp"))
    fsB.mkdirs(new Path(b, "retrain_old"))
    Seq("cells", "centroids", "codebooks").foreach { d =>
      FileUtil.copy(fsB, new Path(b, d),
        fsB, new Path(b + "/retrain_tmp/" + d), false, conf)
      fsB.rename(new Path(b, d), new Path(b + "/retrain_old/" + d))
    }
    fsB.rename(new Path(b + "/retrain_tmp/cells"), new Path(b, "cells"))
    Similarity.retrainIvfPqIndex(spark, b, nCentroids = 10,
      maxTrainVectors = 256)
    assert(served(b) === expect, "phase-2 heal diverged from the " +
      "intact retrain")
    // a genuinely lost dir (no recovery source) fails naming the
    // manual restore location instead of deleting it
    val c = fresh("graft_r14_swap_c_")
    val fsC = new Path(c).getFileSystem(conf)
    fsC.delete(new Path(c, "cells"), true)
    val e = intercept[IllegalStateException] {
      Similarity.retrainIvfPqIndex(spark, c, nCentroids = 10,
        maxTrainVectors = 256)
    }
    assert(e.getMessage.contains("retrain_old"))
  }

  test("a PQ index left mid-swap with its codebooks still staged is " +
      "refused by serve, append and drift; append writes nothing") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = tmpDir("graft_r14_swap_staged_cb_")
    Similarity.buildIvfPqIndex(corpus, p, nCentroids = 10,
      subspaces = 4, codebook = 16, maxTrainVectors = 256)
    // phase 2 interrupted after cells and centroids moved in: the live
    // dirs hold PQ codes while `codebooks` exists only under retrain_tmp
    val fs = new Path(p).getFileSystem(conf)
    fs.mkdirs(new Path(p, "retrain_tmp"))
    fs.mkdirs(new Path(p, "retrain_old"))
    Seq("cells", "centroids", "codebooks").foreach { d =>
      FileUtil.copy(fs, new Path(p, d),
        fs, new Path(p + "/retrain_tmp/" + d), false, conf)
      fs.rename(new Path(p, d), new Path(p + "/retrain_old/" + d))
    }
    Seq("cells", "centroids").foreach(d =>
      fs.rename(new Path(p + "/retrain_tmp/" + d), new Path(p, d)))
    def cellFiles = FileUtil.listFiles(new java.io.File(p, "cells"))
      .flatMap(d => Option(d.list()).toSeq.flatten.map(d.getName + "/" + _))
      .toSet
    val before = cellFiles
    def refused(what: String)(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(e.getMessage.contains("codebooks"), s"$what: ${e.getMessage}")
    }
    refused("serve")(
      Similarity.ivfTopKServed(spark, p, queries, 10, 4).collect())
    refused("append")(Similarity.appendToIvfIndex(spark, p, corpus.limit(8)))
    refused("drift")(Similarity.ivfDriftStats(spark, p).collect())
    assert(cellFiles === before, "a refused append wrote into the cells")
  }

  test("retrainIvfIndex: the two-phase swap self-heals a phase-1 " +
      "crash window (no mixed-generation read)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def fresh(tag: String): String = {
      val p = tmpDir(tag)
      Similarity.buildIvfIndex(corpus, p, nCentroids = 10)
      p
    }
    def served(p: String) =
      Similarity.ivfTopKServed(spark, p, queries, 10, 4)
        .orderBy("query_id", "rank").collect().toSeq
    val intact = fresh("graft_r14_ivfswap_ref_")
    Similarity.retrainIvfIndex(spark, intact, nCentroids = 10)
    val expect = served(intact)
    val a = fresh("graft_r14_ivfswap_a_")
    val fs = new Path(a).getFileSystem(conf)
    fs.mkdirs(new Path(a, "retrain_old"))
    fs.rename(new Path(a, "cells"), new Path(a + "/retrain_old/cells"))
    Similarity.retrainIvfIndex(spark, a, nCentroids = 10)
    assert(served(a) === expect)
  }
}
