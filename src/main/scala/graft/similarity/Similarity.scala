package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup.{cosine, dot, normalized}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - [[bruteTopK]]: exact cosine top-k. The query side is broadcast (a
  *    query batch is small by definition), so the corpus is scanned once
  *    with NO shuffle of the corpus itself: scoring is a narrow map, a
  *    typed per-partition heap keeps only the k best rows per query
  *    (≤ partitions × queries × k rows survive), and only that bounded
  *    set shuffles into the final per-query ranking window. Exact, and
  *    the baseline the approximate tiers are measured against.
  *  - [[lshBuckets]] / [[lshTopK]]: random-hyperplane LSH. Hyperplane
  *    components are md5-derived (deterministic, engine-portable, no
  *    stored model). At 100 TB the corpus is bucketed once (narrow map,
  *    shuffle only on the small bucket-key join), and each query probes
  *    exactly its own bucket — corpus scan cost drops by ~2^bits.
  *  - [[ivfTopK]]: IVF with a k-means coarse quantizer (Lloyd iterations
  *    implemented with joins+groupBy — deterministic, no MLlib model
  *    state). The corpus is partitioned by nearest centroid; queries
  *    probe `nProbe` nearest centroids — the classic recall/cost dial.
  */
object Similarity {

  /** L2 norm of a double array (codegen'd sequential loop). */
  def l2(v: Column): Column = sqrt(dot(v, v))

  /** The (cos_sim desc, corpus_id asc) total order used both by the
    * local heaps and the final ranking window — the local pre-reduce is
    * lossless exactly because both stages agree on this order.
    * NaN similarity (a zero-magnitude vector) sorts FIRST, matching
    * Spark's descending sort (NaN = largest) — an Ordering.by(-cosSim)
    * would break here because -NaN == NaN flips NaN to "worst". */
  private val topKOrder: Ordering[(Long, Long, Double)] =
    new Ordering[(Long, Long, Double)] {
      def compare(x: (Long, Long, Double), y: (Long, Long, Double)): Int = {
        val c = java.lang.Double.compare(y._3, x._3) // desc, NaN first
        if (c != 0) c else java.lang.Long.compare(x._2, y._2) // id asc
      }
    }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors. Broadcast-join of the (small) query side, so scoring is a
    * narrow map over the corpus scan; a typed per-partition heap then
    * keeps only each query's local k best, so AT MOST
    * partitions × queries × k rows reach the global per-query ranking
    * window. Without the pre-reduce, that window would shuffle every
    * scored corpus row into #queries reducers — with 5 queries over a
    * 100 TB corpus, 5 reducers each sorting the full corpus.
    *
    * `vec_id` must be integral (the typed local heap uses a
    * (Long, Long, Double) encoder). */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("qv"), col("cv")).as("cos_sim"))
    // local top-k: a bounded max-heap per query (head = worst kept row)
    // — O(k) memory per query, narrow, partition-preserving
    val localTopK = scored.as[(Long, Long, Double)].mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
      it.foreach { row =>
        val heap = heaps.getOrElseUpdate(row._1,
          scala.collection.mutable.PriorityQueue.empty(topKOrder))
        if (heap.size < k) heap.enqueue(row)
        else if (topKOrder.lt(row, heap.head)) { heap.dequeue(); heap.enqueue(row) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }.toDF("query_id", "corpus_id", "cos_sim")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    localTopK.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("corpus_id"), col("cos_sim"))
  }

  /** Filtered vector search: exact cosine top-k restricted to the
    * corpus rows satisfying `predicate` — the "metadata filter + vector
    * search" shape every retrieval stack needs (search within a tenant,
    * a label, a date range). Pure composition: the filter lands BEFORE
    * the broadcast-scored scan, so Catalyst pushes it into the parquet
    * reader and only matching row groups are ever scored —
    * post-filtering top-k results (the naive composition) would both
    * scan everything and under-fill k. PlanSpec asserts the pushdown. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      predicate: Column): DataFrame =
    bruteTopK(corpus.filter(predicate), queries, k)

  /** Two-stage retrieval — approximate candidates, exact re-rank: the
    * SQ8 quantized scan ([[sqTopK]]) over-fetches `k × candidateFactor`
    * candidates from the 8×-smaller resident codes, and only those
    * few rows are re-scored against the FULL-precision vectors. This
    * is the standard serving architecture (FAISS/vector-DB "refine"
    * step): at 100 TB the full-precision corpus never fits hot storage,
    * so the exact pass must touch candidates only — here the candidate
    * set (|queries| × k·factor rows) broadcasts against the corpus
    * scan, so the re-rank is one narrow probe + a bounded window,
    * never a second corpus-wide scoring pass. Recall ≥ the quantized
    * scan's by construction (re-ranking never evicts a true positive
    * that was fetched; the spec measures the improvement). */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      candidateFactor: Int = 4): DataFrame = {
    val cand = sqTopK(corpus, queries, k * candidateFactor)
      .select(col("query_id"), col("corpus_id"))
    val c = corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    c.join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        col("cos_sim"))
  }

  /** Hybrid lexical + vector retrieval fused by Reciprocal Rank Fusion
    * (Cormack/Clarke/Büttcher SIGIR'09): each query runs BOTH a BM25
    * more-like-this ranking over the document corpus
    * ([[graft.text.TextAnalysis.bm25MoreLikeThis]]) and an exact cosine
    * top-k over the aligned embedding corpus ([[bruteTopK]]); the two
    * top-`topN` lists meet in a full-outer join on (query, doc) and
    * fuse as `Σ 1/(rrfK + rank)` — rank-based, so the incomparable
    * score scales (BM25 mass vs cosine) never need calibration, the
    * property that made RRF the default fusion in RAG stacks. Missing
    * ranks contribute 0 (the standard convention).
    *
    * Determinism: both input ranks are integers with id tiebreaks; the
    * fused score is one fixed IEEE expression (lex term + vec term, in
    * that order), so it is bit-identical across engines. Final ties
    * break by corpus id.
    *
    * Scale shape: both branches end in per-query top-`topN` lists —
    * the fusion join and final window touch at most
    * 2 × topN × |queries| rows regardless of corpus size; the corpus
    * is scanned once per branch (each branch's own bounded-heap /
    * semi-join shape), never by the fusion. */
  def hybridRrf(corpusDocs: DataFrame, queryDocs: DataFrame,
      corpusVecs: DataFrame, queryVecs: DataFrame, topN: Int = 20,
      finalK: Int = 10, rrfK: Int = 60): DataFrame = {
    val lex = graft.text.TextAnalysis
      .bm25MoreLikeThis(corpusDocs, queryDocs, "doc_id", "text", topN)
      .select(col("query_id"), col("corpus_id"),
        col("rank").as("lex_rank"))
    val vec = bruteTopK(corpusVecs, queryVecs, topN)
      .select(col("query_id"), col("corpus_id"),
        col("rank").as("vec_rank"))
    val fused = lex.join(vec, Seq("query_id", "corpus_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfK.toDouble) +
          col("lex_rank").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK.toDouble) +
          col("vec_rank").cast("double")), lit(0.0)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("corpus_id"))
    fused.withColumn("rrf_rank", row_number().over(w).cast("long"))
      .filter(col("rrf_rank") <= finalK)
      .select(col("query_id"), col("rrf_rank"), col("corpus_id"),
        col("lex_rank"), col("vec_rank"), col("rrf_score"))
  }

  /** SQ8-style scalar quantization top-k (the FAISS scalar-quantizer
    * baseline): each corpus dimension is affinely coded onto
    * `levels` + 1 integer steps between its corpus-wide [min, max],
    * and search scores the DEQUANTIZED corpus against full-precision
    * queries (asymmetric distance). At 100 TB the point is memory:
    * an int8 code is 8× smaller than a double, so a cached/served
    * corpus holds 8× more vectors per executor; the scan shape is
    * identical to [[bruteTopK]] (narrow map + bounded local heaps).
    *
    * Determinism contract: the per-dimension stats are exact min/max
    * aggregates; quantize/dequantize is a fixed IEEE expression
    * (`round(((x-mn)*L)/(mx-mn))`, ties half-up — both engines round
    * positive halves away from zero) spelled identically in the s05
    * oracle, so codes and scores are bit-identical. A constant
    * dimension (mx = mn) codes to its constant, never a 0/0.
    *
    * Stats ride a driver collect of `dims` rows (64 here) — broadcast
    * as literals, the same pattern as the LSH hyperplanes. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      levels: Int = 127): DataFrame = {
    val c = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val stats = c.select(posexplode(col("v")).as(Seq("i", "val")))
      .groupBy("i").agg(min("val").as("mn"), max("val").as("mx"))
      .orderBy("i").collect()
    val mnL = typedLit(stats.map(_.getDouble(1)).toSeq)
    val mxL = typedLit(stats.map(_.getDouble(2)).toSeq)
    val L = lit(levels.toDouble)
    val dequant = transform(col("v"), (x, i) => {
      val m = element_at(mnL, i + 1)
      val M = element_at(mxL, i + 1)
      when(M === m, m)
        .otherwise(m + (round(((x - m) * L) / (M - m)) * (M - m)) / L)
    })
    bruteTopK(c.select(col("vec_id"), dequant.as("embedding")), queries, k)
  }

  /** Deterministic pseudo-random hyperplane for plane j: component i is
    * md5("j,i")-derived uniform in [-0.5, 0.5). Computed ONCE on the
    * driver and shipped as a literal array — zero hashing in the
    * per-row hot path, and any engine with md5 reproduces the planes. */
  private[similarity] def plane(j: Int, dims: Int): Array[Double] =
    Array.tabulate(dims) { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j,$i".getBytes("UTF-8"))
      // first 8 hex chars == first 4 bytes, big-endian unsigned
      val u = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      u.toDouble / 4294967296.0 - 0.5
    }

  /** Sign-bit bucket id from `bits` random hyperplanes (plane seeds
    * offset by `seed0` so multiple tables use independent planes). One
    * narrow map per row — no shuffle, no runtime hashing. */
  def lshBucket(v: Column, bits: Int, seed0: Int = 0, dims: Int = 64): Column =
    (0 until bits).map { j =>
      val dotP = dot(v, typedLit(plane(seed0 + j, dims)))
      when(dotP >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Johnson–Lindenstrauss random projection: every embedding mapped
    * to `outDims` coordinates, each the dot product against a fixed
    * md5-derived pseudo-random plane (seeds offset by `seed0` to stay
    * disjoint from the LSH tables' planes). THE dimensionality lever
    * for 100 TB embedding work: a 64→16 projection cuts every
    * downstream shuffle, cache and ANN-scan byte count 4× while JL
    * approximately preserves pairwise geometry (the recall spec
    * measures exactly how much survives). Pure narrow map over the
    * scan — no shuffle, no model state; any engine with md5
    * reproduces the matrix, so projected coordinates are bit-portable
    * (same sequential dot fold as [[dot]]).
    *
    * Output is EXPLODED to (vec_id, dim, value) — scalar rows, so the
    * driver's hash compare covers every coordinate. */
  def randomProjection(df: DataFrame, outDims: Int, dims: Int = 64,
      seed0: Int = 1000): DataFrame = {
    val proj = array((0 until outDims).map { j =>
      dot(col("v"), typedLit(plane(seed0 + j, dims)))
    }: _*)
    df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), posexplode(proj).as(Seq("dim", "value")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("value"))
  }

  /** The projected corpus re-shaped as an embedding table (for feeding
    * projected vectors back through the ANN operators). */
  def randomProjectionVectors(df: DataFrame, outDims: Int,
      dims: Int = 64, seed0: Int = 1000): DataFrame = {
    val proj = array((0 until outDims).map { j =>
      dot(col("v"), typedLit(plane(seed0 + j, dims)))
    }: _*)
    df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), proj.as("embedding"))
  }

  /** Corpus bucketed by LSH signature (single table). */
  def lshBuckets(corpus: DataFrame, bits: Int): DataFrame =
    corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), bits))

  /** Multi-table bucketing: `tables` independent hash tables (the
    * standard LSH recall lever) — each row lands in one bucket per
    * table, so storage/probe cost is ×tables, recall approaches 1. */
  def lshBucketsMulti(df: DataFrame, bits: Int, tables: Int): DataFrame = {
    val e = df.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val buckets = array((0 until tables).map(t =>
      lshBucket(col("v"), bits, seed0 = t * bits)): _*)
    e.select(col("vec_id"), col("v"),
      posexplode(buckets).as(Seq("table", "bucket")))
  }

  /** ANN top-k: queries probe their bucket in each of `tables` hash
    * tables; candidates deduped, then exact cosine rank. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
      tables: Int = 4): DataFrame = {
    val c = lshBucketsMulti(corpus, bits, tables)
      .select(col("table"), col("bucket"), col("vec_id").as("corpus_id"))
    val q = lshBucketsMulti(queries, bits, tables)
      .select(col("table"), col("bucket"), col("vec_id").as("query_id"))
    val candidates = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select("query_id", "corpus_id").distinct()
    val cv = corpus.select(col("vec_id").as("corpus_id"),
      normalized(col("embedding").cast("array<double>")).as("cv"))
    val qv = queries.select(col("vec_id").as("query_id"),
      normalized(col("embedding").cast("array<double>")).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    candidates.join(cv, Seq("corpus_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        dot(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("corpus_id"), col("cos_sim"))
  }

  /** Deterministic k-means (Lloyd) coarse quantizer: centroids start at
    * the first k vec_ids of the TRAINING SAMPLE, `iters` relational
    * refinement steps. Returns (centroid_id, centroid array).
    * Joins+groupBy only — no driver-side state beyond the k centroids.
    *
    * Training runs on a deterministic md5-ordered sample of at most
    * `maxTrainVectors` (production IVF practice: quantizers train on a
    * sample, the FULL corpus is only assigned). The cap is also what
    * bounds [[collectMean]]'s per-cluster aggregation buffer — without
    * it a popular cluster at corpus scale would collect its entire cell
    * into one buffer (the same unbounded-agg class `exactGroups`
    * bounds with maxMembers). */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
      maxTrainVectors: Int = 100000): DataFrame = {
    require(maxTrainVectors >= k, "maxTrainVectors must be >= k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // persisted for the Lloyd loop: each materialize() below collects,
    // and without the cache every iteration would re-scan the corpus
    // and recompute the md5 top-K (iters+1 full scans instead of one)
    val train = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(maxTrainVectors)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // centroids are k tiny vectors: materialize to the driver after each
    // Lloyd step (breaks the growing lineage — otherwise iteration N
    // re-executes iterations 1..N-1; measured 3× on the IVF path) and
    // re-broadcast as a literal relation.
    def materialize(df: DataFrame): DataFrame =
      df.select(col("cid"), col("cv"))
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
        .toDF("cid", "cv")
    try {
      var centroids = materialize(
        train.orderBy("vec_id").limit(k)
          .select(monotonically_increasing_id().as("cid"), col("v").as("cv")))
      var it = 0
      while (it < iters) {
        centroids = materialize(
          assign(train, centroids).groupBy("cid")
            .agg(collectMean(col("v"), col("vec_id")).as("cv")))
        it += 1
      }
      centroids
    } finally train.unpersist()
  }

  /** One independent Lloyd training inside a [[kmeansCentroidsGrouped]]
    * batch: group id, its centroid count, its iteration count, and the
    * narrow projection carving its training view out of the full
    * vector (identity for a coarse quantizer, a `slice` for a PQ
    * subspace). */
  private[similarity] case class KmGroup(gid: Int, k: Int, iters: Int,
      slice: Column => Column)

  /** [[kmeansCentroids]] for SEVERAL independent quantizers in ONE set
    * of driver jobs — the compound-index build trains a coarse
    * quantizer plus one codebook per PQ subspace, and running each as
    * its own sequential Lloyd loop put 16 driver-blocking collect jobs
    * (plus 5 full-corpus md5 sample scans) on e27/s21's hot path where
    * 4 suffice (optimization guide §5: the driver is the bottleneck,
    * not the data). Every training draws its sample from the SAME
    * md5-ordered vec_id prefix — the sample selection depends only on
    * vec_id, never on the embedding — so one full-vector sample feeds
    * all groups, each group's view carved by its narrow `slice`
    * projection over the 256-row cached sample.
    *
    * Bit-equivalence to the sequential loops (oracle-bearing: s09,
    * s17–s21, e27, x45 hashes ride these centroids), argued term by
    * term and pinned by KmeansGroupedSpec + the full-registry oracle
    * gate:
    *  - sample: `orderBy(md5(vec_id), vec_id).limit(n)` picks a vec_id
    *    set independent of the group's projection — identical rows.
    *  - init: the old `monotonically_increasing_id` over the
    *    `orderBy(vec_id).limit(k)` single-partition TakeOrdered result
    *    numbers rows 0..k-1 in vec_id order; `row_number() over
    *    (partition by g order by vec_id) - 1` is the same numbering.
    *  - assignment: the same `dot(normalized(v), normalized(cv))` /
    *    `row_number` tie-break expressions, windowed by (g, vec_id)
    *    instead of (vec_id) — identical within every group.
    *  - update: [[collectMean]] sorts each group's members by vec_id
    *    before its sequential fold — fold order per (g, cid) group is
    *    exactly the per-cid order of the sequential code.
    * Groups with fewer iterations freeze (their rows filtered OUT of
    * later iterations' jobs) exactly where their sequential loop would
    * have stopped. Returns each group's final centroids as the same
    * sorted LOCAL relation [[kmeansCentroids]] returns. */
  private[similarity] def kmeansCentroidsGrouped(e: DataFrame,
      groups: Seq[KmGroup], maxTrainVectors: Int): Map[Int, DataFrame] = {
    require(groups.nonEmpty, "kmeansCentroidsGrouped: no groups")
    groups.foreach(g =>
      require(maxTrainVectors >= g.k, "maxTrainVectors must be >= k"))
    require(groups.map(_.gid).distinct.length == groups.length,
      "kmeansCentroidsGrouped: duplicate group ids")
    val spark = e.sparkSession
    import spark.implicits._
    val sample = e.select(col("vec_id"), col("v"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(maxTrainVectors)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-group training views are narrow maps over the tiny cached
    // sample — re-deriving them per iteration is free; only the sample
    // itself (the one corpus scan) is cached
    val train = groups.map { g =>
      sample.select(lit(g.gid).as("g"), col("vec_id"),
        g.slice(col("v")).as("v"))
    }.reduce(_ union _)
    def materializeG(df: DataFrame): Map[Int, Seq[(Long, Seq[Double])]] =
      df.select(col("g"), col("cid"), col("cv"))
        .as[(Int, Long, Seq[Double])].collect().toSeq
        .groupBy(_._1).map { case (g, rows) =>
          g -> rows.map(r => (r._2, r._3)).sortBy(_._1)
        }
    try {
      val spec = groups.map(g => (g.gid, g.k)).toDF("g", "k")
      val wInit = Window.partitionBy("g").orderBy("vec_id")
      var cents = materializeG(
        train.withColumn("rn", row_number().over(wInit))
          .join(broadcast(spec), Seq("g"))
          .filter(col("rn") <= col("k"))
          .select(col("g"), (col("rn") - 1).cast("long").as("cid"),
            col("v").as("cv")))
      val wAssign = Window.partitionBy("g", "vec_id")
        .orderBy(col("sim").desc, col("cid"))
      var it = 0
      val maxIters = groups.map(_.iters).max
      while (it < maxIters) {
        val active = groups.filter(_.iters > it).map(_.gid)
        val cn = active.flatMap(g => cents(g).map { case (cid, cv) =>
          (g, cid, cv)
        }).toDF("g", "cid", "cv")
        val assigned = train.filter(col("g").isin(active: _*))
          .withColumn("vn", normalized(col("v")))
          .join(broadcast(cn.select(col("g"), col("cid"),
            normalized(col("cv")).as("cvn"))), Seq("g"))
          .select(col("g"), col("vec_id"), col("v"), col("cid"),
            dot(col("vn"), col("cvn")).as("sim"))
          .withColumn("rn", row_number().over(wAssign))
          .filter(col("rn") === 1)
        cents = cents ++ materializeG(
          assigned.groupBy("g", "cid")
            .agg(collectMean(col("v"), col("vec_id")).as("cv")))
        it += 1
      }
      cents.map { case (g, cs) => g -> cs.toDF("cid", "cv") }
    } finally {
      sample.unpersist()
      ()
    }
  }

  /** Element-wise mean of arrays in a group via a fold over the
    * collected list, SORTED by `orderKey` first — collect_list order is
    * partition-arrival order, and a float sum in nondeterministic order
    * would make centroids (hence IVF results) vary run-to-run.
    *
    * Deliberately a SEQUENTIAL DOUBLE fold, not a decimal sum: the r11
    * portability audit measured Spark's double→decimal cast
    * (shortest-string based) against DuckDB's (d·10^scale in double
    * arithmetic) and they disagree at sub-double decimal digits on
    * ~100% of arbitrary doubles — enough to flip the rounded-back mean
    * in ~40% of groups. The sequential fold, by contrast, is bit-equal
    * to `list_sum(list(val ORDER BY vec_id))` (0/600 mismatches at
    * lengths 64 and 256 against exact-literal folds). Downstream
    * consumers that EMIT a statistic derived from these centroids must
    * still quantize to a coarse grid ([[ivfDriftStats]]'s 10^6 grid)
    * because another engine VERSION may associate its fold
    * differently. */
  private def collectMean(v: Column, orderKey: Column): Column = {
    val lst = sort_array(collect_list(struct(orderKey.as("k"), v.as("v"))))
    val sums = aggregate(lst,
      transform(element_at(lst, 1).getField("v"), _ => lit(0.0)),
      (acc, e) => zip_with(acc, e.getField("v"), (a, b) => a + b))
    transform(sums, s => s / size(lst))
  }

  /** Assign each vector to its nearest centroid by cosine (both sides
    * normalized once, ranking by plain dot product). */
  def assign(e: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))
    val en = e.withColumn("vn", normalized(col("v")))
    val cn = centroids.select(col("cid"), normalized(col("cv")).as("cvn"))
    en.crossJoin(broadcast(cn))
      .select(col("vec_id"), col("v"), col("cid"),
        dot(col("vn"), col("cvn")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "v", "cid")
  }

  /** Product-quantization (PQ) ANN: the vector splits into `subspaces`
    * contiguous sub-vectors, each coded by its OWN `codebook`-entry
    * spherical k-means quantizer (the shared deterministic Lloyd), and
    * search scores full-precision queries against the RECONSTRUCTION
    * (concatenated sub-centroids) — asymmetric distance, like
    * [[sqTopK]] but with a trained codebook per subspace instead of
    * per-dimension affine steps (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011).
    *
    * At 100 TB the point is resident footprint: a stored code is
    * `subspaces × log2(codebook)` bits (4×4 = 16 bits here vs 64
    * float64 dims = 4096 bits — 256×), and reconstruction is a
    * broadcast join against `subspaces × codebook` tiny centroid rows,
    * so the search scan keeps [[bruteTopK]]'s shape: narrow map +
    * bounded local heaps, no corpus shuffle. Training cost is bounded
    * by `maxTrainVectors` exactly as in [[kmeansCentroids]]. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      subspaces: Int = 4, codebook: Int = 16, iters: Int = 2,
      dims: Int = 64, maxTrainVectors: Int = 100000): DataFrame = {
    require(dims % subspaces == 0, "dims must divide evenly into subspaces")
    val subLen = dims / subspaces
    val e = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // all subspace codebooks train in ONE batched Lloyd loop (3 driver
    // jobs instead of 12; see kmeansCentroidsGrouped's equivalence note)
    val trained = kmeansCentroidsGrouped(e,
      (0 until subspaces).map(m => KmGroup(m, codebook, iters,
        v => slice(v, m * subLen + 1, subLen))), maxTrainVectors)
    val coded = (0 until subspaces).map { m =>
      val sub = e.select(col("vec_id"),
        slice(col("v"), m * subLen + 1, subLen).as("v"))
      val cents = trained(m)
      assign(sub, cents)
        .join(cents, "cid")
        .select(col("vec_id"), lit(m).as("sub"), col("cv"))
    }.reduce(_ union _)
    val recon = coded.groupBy("vec_id")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("sub"), col("cv")))),
        s => s.getField("cv"))).as("embedding"))
    bruteTopK(recon, queries, k)
  }

  /** Build half of the IVF-PQ COMPOUND index (s17): the coarse
    * quantizer routes vectors to cells exactly as [[buildIvfIndex]],
    * but the cells store PQ CODES — `subspaces` small ints per vector
    * ([[pqTopK]]'s per-subspace quantizers) — instead of the vectors
    * themselves. This is the resident-footprint architecture for
    * billion-vector serving (FAISS's IVFPQ shape; Jégou et al. 2011):
    * the serve scan reads nProbe/nCentroids of the files (IVF's win)
    * AND each row is `subspaces × log2(codebook)` bits instead of
    * dims × 8 bytes (PQ's win) — here 4 codes vs 64 doubles, 32×
    * smaller before encoding. Codes are raw-vector encodings (not
    * residuals): residual coding would couple every code to its
    * centroid, so appends after a retrain would need re-coding; raw
    * codes keep [[appendToIvfIndex]]'s frozen-quantizer property for
    * both quantizer levels. Layout: `cells/` (cid-partitioned codes),
    * `centroids/` (coarse), `codebooks/` (subspaces × codebook tiny
    * rows). Deterministic end-to-end (md5-sampled Lloyd at both
    * levels), so the persisted lifecycle serves EXACTLY the relational
    * collapse the s17 oracle states. */
  def buildIvfPqIndex(corpus: DataFrame, path: String, nCentroids: Int,
      subspaces: Int = 4, codebook: Int = 16, coarseIters: Int = 3,
      pqIters: Int = 2, dims: Int = 64,
      maxTrainVectors: Int = 100000): Unit = {
    require(dims % subspaces == 0, "dims must divide evenly into subspaces")
    val subLen = dims / subspaces
    val e = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // coarse quantizer + every subspace codebook train in ONE batched
    // Lloyd loop: 4 driver jobs + 1 corpus sample scan instead of 16 + 5
    // (gid -1 = coarse over the full vector; gid m = subspace m's slice;
    // the coarse group's extra iteration runs with the subspace rows
    // filtered out — see kmeansCentroidsGrouped's equivalence note)
    val trained = kmeansCentroidsGrouped(e,
      KmGroup(-1, nCentroids, coarseIters, v => v) +:
        (0 until subspaces).map(m => KmGroup(m, codebook, pqIters,
          v => slice(v, m * subLen + 1, subLen))), maxTrainVectors)
    val cents = trained(-1)
    val cbs = (0 until subspaces).map(trained(_))
    codeAndWriteCells(e, cents, cbs, subLen, path + "/cells",
      SaveMode.Overwrite)
    cents.write.mode("overwrite").parquet(path + "/centroids")
    cbs.zipWithIndex.map { case (cb, m) =>
      cb.select(lit(m).as("sub"), col("cid").as("code"), col("cv"))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(path + "/codebooks")
  }

  /** The ONE coding tail both [[buildIvfPqIndex]] and
    * [[appendToIvfPqIndex]] run (build trains the codebooks it passes;
    * append reads the stored ones): coarse assignment, per-subspace
    * nearest-codeword coding, sub-order codes array, cid-partitioned
    * write. A single implementation so a layout change (ordering,
    * columns, residual coding) can never diverge build from append —
    * served results depend on their bit-parity. */
  private def codeAndWriteCells(e: DataFrame, cents: DataFrame,
      codebooks: Seq[DataFrame], subLen: Int, cellsPath: String,
      mode: SaveMode): Unit = {
    val cells = assign(e, cents).select(col("vec_id"), col("cid"))
    val codes = codebooks.zipWithIndex.map { case (cb, m) =>
      val sub = e.select(col("vec_id"),
        slice(col("v"), m * subLen + 1, subLen).as("v"))
      assign(sub, cb)
        .select(col("vec_id"), lit(m).as("sub"), col("cid").as("code"))
    }.reduce(_ union _)
      .groupBy("vec_id")
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    cells.join(codes, "vec_id")
      .select(col("cid"), col("vec_id").as("corpus_id"), col("codes"))
      .write.mode(mode).partitionBy("cid").parquet(cellsPath)
  }

  /** The stored codebooks as a LOCAL relation plus their derived
    * geometry, in ONE tiny job: the relation is subspaces × codebook
    * rows (64 here; a few thousand at any realistic PQ setting), yet
    * every lifecycle op joins against slices of it `subspaces` times —
    * re-scanning the parquet per slice and paying a separate geometry
    * aggregate put four-plus metadata jobs on the serve path (the r12a
    * s17 flag). Collect once, derive geometry from the collected rows,
    * and hand consumers a LocalRelation the broadcast joins read for
    * free. Geometry comes from the STORED codebooks rather than
    * trusted caller parameters (the r11 advice finding: an append or
    * serve called with subspaces/dims differing from build would
    * silently write incompatible codes or reconstruct truncated
    * vectors and return plausible-but-wrong similarities) — there is
    * nothing left to pass wrong. */
  private def loadCodebooks(spark: SparkSession, path: String)
      : (DataFrame, Int, Int, Int) = {
    val raw = spark.read.parquet(path + "/codebooks")
      .select(col("sub").cast("int").as("sub"),
        col("code").cast("long").as("code"), col("cv"))
    val rows = raw.collect()
    require(rows.nonEmpty, "empty codebooks relation — not a PQ index")
    val subspaces = rows.map(_.getInt(0)).distinct.length
    val lens = rows.map(_.getSeq[Double](2).length).distinct
    require(lens.length == 1,
      s"corrupt codebooks: sub-vector lengths vary (${lens.mkString(",")})")
    // codebook size = the coding WIDTH max(code)+1 — stored geometry,
    // never a caller parameter (a retrain passed a different size
    // would silently change the index's code width). Not the entry
    // count: kmeans can leave a cluster empty, so a sub may STORE
    // fewer entries than the width it codes against.
    val codebook = rows.map(_.getLong(1)).max.toInt + 1
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), raw.schema)
    (local, subspaces, lens.head, codebook)
  }

  /** The ONE decode of a codes layout back to reconstructed vectors —
    * `subspaces` broadcast joins against the tiny codebook relation,
    * sub-order concat — shared by serve (asymmetric scoring), drift
    * (reconstruction means) and retrain (reconstructed holdings), so
    * the three lifecycle consumers can never disagree about what a
    * code means. Narrow map over the cells scan: no corpus-side
    * shuffle. Emits (cid, corpus_id, dv). */
  private def reconstructCells(cells: DataFrame, cb: DataFrame,
      subspaces: Int): DataFrame =
    decodeCodes(cells, cb, subspaces)
      .select(col("cid"), col("corpus_id"), col("dv"))

  /** The decode itself, over ANY relation carrying a `codes` column
    * (other columns pass through): [[reconstructCells]] applies it per
    * stored row; the drift statistic applies it per DISTINCT code
    * word ([[ivfPqDriftStatsImpl]]) — one implementation so the two
    * can never disagree about what a code means. */
  private def decodeCodes(df: DataFrame, cb: DataFrame,
      subspaces: Int): DataFrame = {
    val withSubs = (0 until subspaces).foldLeft(df) { (d, m) =>
      d.join(broadcast(cb.filter(col("sub") === m)
          .select(col("code").as(s"_code_$m"), col("cv").as(s"_cv_$m"))),
        element_at(col("codes"), m + 1) === col(s"_code_$m"))
        .drop(s"_code_$m")
    }
    withSubs.withColumn("dv",
        concat((0 until subspaces).map(m => col(s"_cv_$m")): _*))
      .drop((0 until subspaces).map(m => s"_cv_$m"): _*)
  }

  /** Update half of the IVF-PQ lifecycle: append a new batch WITHOUT
    * retraining either quantizer level — coarse assignment against the
    * stored centroids, codes against the stored per-subspace
    * codebooks (both tiny broadcast relations), one O(batch) append
    * into the cid-partitioned layout. This is exactly why
    * [[buildIvfPqIndex]] codes raw vectors instead of residuals:
    * residual codes would couple every code to its coarse centroid,
    * so no frozen-codebook append could exist. Same collapse law as
    * s13: build(base) + append(batch) ≡ assigning base ∪ batch
    * against the base-trained quantizers, per-vector, so appends
    * commute and the s18 oracle is one relational statement.
    *
    * Geometry (subspaces, dims) comes from the STORED codebooks via
    * [[loadCodebooks]], never from the caller; a batch whose vectors
    * don't match the index's dims fails loudly in-plan (raise_error)
    * instead of writing truncated codes. */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      batch: DataFrame): Unit = {
    val (cb, subspaces, subLen, _) = loadCodebooks(spark, path)
    appendToIvfPqIndexLoaded(path, batch,
      spark.read.parquet(path + "/centroids"), cb, subspaces, subLen)
  }

  /** [[appendToIvfPqIndex]] with the stored centroids/codebooks already
    * loaded — the retrain-policy drain loads them once and runs both
    * the append and the drift statistic against the same relations
    * (one codebook collect per drain instead of two). */
  private def appendToIvfPqIndexLoaded(path: String, batch: DataFrame,
      cents: DataFrame, cb: DataFrame, subspaces: Int,
      subLen: Int): Unit = {
    val dims = subspaces * subLen
    val e = batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("v", when(size(col("v")) === dims, col("v"))
        .otherwise(raise_error(concat(
          lit(s"appendToIvfPqIndex: index at $path codes $dims-dim " +
            "vectors; batch vec_id "), col("vec_id").cast("string"),
          lit(" has "), size(col("v")).cast("string"), lit(" dims")))))
    val cbs = (0 until subspaces).map { m =>
      cb.filter(col("sub") === m).select(col("code").as("cid"), col("cv"))
    }
    codeAndWriteCells(e, cents, cbs, subLen, path + "/cells",
      SaveMode.Append)
  }

  /** Serve half of the IVF-PQ index: probe selection and partition
    * pruning exactly as [[ivfTopKServed]], then ASYMMETRIC scoring —
    * full-precision queries against the candidates' RECONSTRUCTIONS,
    * materialized per candidate row by `subspaces` broadcast joins
    * against the tiny codebook relation (each join keys one code slot
    * into its sub-centroid; concat restores sub order). No corpus-side
    * shuffle: the pruned codes scan stays a narrow map — broadcast
    * code lookups, concat, one dot per (candidate, query) — into the
    * bounded per-query ranking window. At 100 TB the scan bytes are
    * the codes, not the vectors: the hot set a serving tier actually
    * holds. */
  def ivfPqTopKServed(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cents = spark.read.parquet(path + "/centroids")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val cn = cents.select(col("cid"), normalized(col("cv")).as("cvn"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cid"))
    // probes carry the RAW query vector: the final scoring is the
    // asymmetric cosine against reconstructions (s06's expression),
    // not the normalized dot the probe ranking uses
    val probes = q.crossJoin(broadcast(cn))
      .select(col("query_id"), col("qv"), col("cid"),
        dot(normalized(col("qv")), col("cvn")).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select("query_id", "qv", "cid")
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    val cells = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(path + "/cells")
      .filter(col("cid").isin(probedCids: _*))
    val (cb, subspaces, _, _) = loadCodebooks(spark, path)
    val recon = reconstructCells(cells, cb, subspaces)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    recon.join(broadcast(probes), Seq("cid"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("qv"), col("dv")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("corpus_id"), col("cos_sim"))
  }

  /** IVF ANN: corpus pre-assigned to centroids; each query probes its
    * `nProbe` nearest centroids and exact-ranks within those cells. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int, nProbe: Int, iters: Int = 3,
      maxTrainVectors: Int = 100000): DataFrame = {
    val cents = kmeansCentroids(corpus, nCentroids, iters, maxTrainVectors)
    val e = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // cells keep the normalized vector: the probe-stage scoring is a dot
    val cells = assign(e, cents)
      .select(col("cid"), col("vec_id").as("corpus_id"),
        normalized(col("v")).as("cv"))
    val q = queries.select(col("vec_id").as("query_id"),
      normalized(col("embedding").cast("array<double>")).as("qv"))
    val cn = cents.select(col("cid"), normalized(col("cv")).as("cvn"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cn))
      .select(col("query_id"), col("qv"), col("cid"),
        dot(col("qv"), col("cvn")).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select("query_id", "qv", "cid")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    cells.join(broadcast(probes), Seq("cid"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        dot(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("corpus_id"), col("cos_sim"))
  }

  /** Build-once half of the IVF index LIFECYCLE: the trained coarse
    * quantizer and the assigned, pre-normalized cells persisted as a
    * table PARTITIONED BY LIST ID — so the serve path reads only the
    * probed cells' files, via static partition pruning, instead of
    * scanning the corpus per query batch. [[ivfTopK]] prices
    * build+search fused (one-shot analytics); this pair prices the
    * production serving shape: train/assign/write once per corpus
    * version, answer many query batches against the stored cells.
    * Same deterministic training as [[ivfTopK]] — served results are
    * IDENTICAL (parquet round-trips doubles exactly), so s12 shares
    * s03's oracle verbatim, the d15↔d04 guarantee: the lifecycle
    * split can never silently change answers. */
  def buildIvfIndex(corpus: DataFrame, path: String, nCentroids: Int,
      iters: Int = 3, maxTrainVectors: Int = 100000): Unit = {
    val cents = kmeansCentroids(corpus, nCentroids, iters, maxTrainVectors)
    val e = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    assign(e, cents)
      .select(col("cid"), col("vec_id").as("corpus_id"),
        normalized(col("v")).as("cv"))
      .write.mode("overwrite").partitionBy("cid").parquet(path + "/cells")
    cents.write.mode("overwrite").parquet(path + "/centroids")
  }

  /** Serve-many half: probe selection against the tiny stored centroid
    * relation, then exact ranking over ONLY the probed cells. The
    * probed list ids are collected to the driver (metadata-scale:
    * ≤ |queries|×nProbe ints, same class as Merge's partition-value
    * collects) and pushed as a STATIC `cid IN (...)` partition filter —
    * the cells scan reads nProbe/nCentroids of the index files, which
    * is the entire point of IVF at 100 TB (spec-asserted on the
    * physical plan). Scoring is [[ivfTopK]]'s expression verbatim. */
  def ivfTopKServed(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val cents = spark.read.parquet(path + "/centroids")
    val q = queries.select(col("vec_id").as("query_id"),
      normalized(col("embedding").cast("array<double>")).as("qv"))
    val cn = cents.select(col("cid"), normalized(col("cv")).as("cvn"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cn))
      .select(col("query_id"), col("qv"), col("cid"),
        dot(col("qv"), col("cvn")).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select("query_id", "qv", "cid")
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    // explicit schema pins the hive partition column back to LONG (dir
    // inference would narrow it to int), so the IN lands directly on
    // the partition column and prunes at the file index
    val cells = spark.read
      .schema("corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG")
      .parquet(path + "/cells")
      .filter(col("cid").isin(probedCids: _*))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("corpus_id"))
    cells.join(broadcast(probes), Seq("cid"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        dot(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("corpus_id"), col("cos_sim"))
  }

  /** Update-many half of the index lifecycle: append a NEW embedding
    * batch to a persisted IVF index WITHOUT retraining — assign the
    * batch against the STORED centroids (a broadcast of k tiny rows)
    * and append the normalized cells into the partitioned layout.
    * O(batch) work, no existing index file touched (spec-asserted), no
    * quantizer drift: the streaming-embeddings reality where vectors
    * arrive continuously but retraining is a scheduled, rarer event.
    * Assignment is per-vector, so build(base) + append(batch) equals
    * assigning base∪batch at once against the same centroids — appends
    * commute (spec-asserted), and the served results stay exactly the
    * relational collapse the s13 oracle states. */
  def appendToIvfIndex(spark: SparkSession, path: String,
      batch: DataFrame): Unit = {
    val cents = spark.read.parquet(path + "/centroids")
    val e = batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    assign(e, cents)
      .select(col("cid"), col("vec_id").as("corpus_id"),
        normalized(col("v")).as("cv"))
      .write.mode(SaveMode.Append).partitionBy("cid")
      .parquet(path + "/cells")
  }

  /** Delete half of the index lifecycle (GDPR erasure, corpus
    * re-curation): remove `deleteIds` from a persisted IVF index by
    * rewriting ONLY the touched cid partitions — the O3
    * delete-at-file-group-granularity shape. The touched-cell set is
    * found with one partition-pruned semi-join (≤ nCentroids ids
    * collected), survivors of those cells are anti-joined and written
    * to a staging dir, and the swap is per-partition directory
    * replacement; untouched cells' files are never read or rewritten
    * (spec-asserted). Centroids stay frozen — like [[appendToIvfIndex]]
    * this commutes with build: delete(build(corpus)) equals
    * build-assign over corpus∖deleted against the same centroids, so
    * the served results stay the relational collapse the s14 oracle
    * states. A cell whose last vector is deleted becomes an empty
    * partition (visible as n_vecs=0 in [[ivfDriftStats]]). */
  def removeFromIvfIndex(spark: SparkSession, path: String,
      deleteIds: DataFrame): Unit =
    removeFromCells(spark, path + "/cells",
      "corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG",
      Seq("corpus_id", "cv", "cid"), deleteIds)

  /** Delete half of the IVF-PQ lifecycle (s19) — [[removeFromIvfIndex]]
    * over the CODES layout: only touched cid partitions rewritten,
    * centroids and codebooks frozen, so delete commutes with build
    * exactly as in the full-vector index (the served answers are the
    * relational collapse with the index's holdings scoped to the kept
    * vectors). Completes build → serve → append → delete for the
    * compound index. */
  def removeFromIvfPqIndex(spark: SparkSession, path: String,
      deleteIds: DataFrame): Unit =
    removeFromCells(spark, path + "/cells",
      "corpus_id LONG, codes ARRAY<LONG>, cid LONG",
      Seq("corpus_id", "codes", "cid"), deleteIds)

  /** Shared no-retrain erasure over a cid-partitioned cells layout:
    * touched-cell set via a partition-pruned semi-join, survivors
    * anti-joined into a staging dir, per-partition directory swap —
    * untouched cells' files are never read or rewritten. */
  private def removeFromCells(spark: SparkSession, cellsPath: String,
      schemaDdl: String, dataCols: Seq[String],
      deleteIds: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val ids = broadcast(
      deleteIds.select(col(deleteIds.columns.head).as("_del_id")))
    val cells = spark.read.schema(schemaDdl).parquet(cellsPath)
    val touched = cells
      .join(ids, col("corpus_id") === col("_del_id"), "left_semi")
      .select("cid").distinct().collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    val survivors = cells.filter(col("cid").isin(touched: _*))
      .join(ids, col("corpus_id") === col("_del_id"), "left_anti")
      .select(dataCols.map(col): _*)
    val staging = cellsPath + "_rewrite_tmp"
    survivors.write.mode(SaveMode.Overwrite).partitionBy("cid")
      .parquet(staging)
    val fs = new Path(cellsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.foreach { c =>
      val dst = new Path(cellsPath, s"cid=$c")
      fs.delete(dst, true)
      val src = new Path(staging, s"cid=$c")
      // a cell that lost every vector has no staged dir: recreate it
      // empty so the partition (and its emptiness) stays enumerable
      if (fs.exists(src)) fs.rename(src, dst) else fs.mkdirs(dst)
    }
    fs.delete(new Path(staging), true)
  }

  /** Retrain half of the lifecycle — the action [[ivfDriftStats]]
    * crossing a deployment's bar triggers: retrain the coarse
    * quantizer on the index's CURRENT contents (the same deterministic
    * md5-sampled Lloyd as build — spherical k-means over the stored
    * normalized vectors) and migrate every vector to its new cell.
    * The rewrite lands under `retrain_tmp/` first and swaps in with
    * the same two-phase rename discipline as [[retrainIvfPqIndex]]
    * (old generation steps aside to `retrain_old/`, new one moves in;
    * [[recoverRetrainResidue]] self-heals any crash window on the
    * next retrain), so a crashed retrain can never be read as a
    * half-migrated or mixed-generation index. O(corpus) once per
    * retrain by
    * design — the scheduled, rare event appends/deletes amortize
    * against (the s13/s14 no-retrain contract is what makes THIS cost
    * acceptable).
    *
    * Stored vectors migrate AS-IS (they are already normalized — the
    * build/append invariant), never re-normalized: n(n(v)) differs
    * from n(v) at the last ulp, so a re-normalizing retrain would make
    * the index's bits depend on HOW MANY retrains it has lived through
    * — breaking both the bit-exact collapse law (retrain ≡ one build
    * over the normalized contents, however many times it fires: what
    * e23's online policy loop relies on) and retrain idempotence. */
  def retrainIvfIndex(spark: SparkSession, path: String, nCentroids: Int,
      iters: Int = 3, maxTrainVectors: Int = 100000): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(path, "retrain_tmp")
    val aside = new Path(path, "retrain_old")
    val dirs = Seq("cells", "centroids")
    recoverRetrainResidue(fs, path, staging, aside, dirs)
    fs.delete(staging, true) // residue from a crashed previous attempt
    fs.delete(aside, true)
    val corpus = spark.read
      .schema("corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG")
      .parquet(path + "/cells")
      .select(col("corpus_id").as("vec_id"), col("cv").as("embedding"))
    val cents = kmeansCentroids(corpus, nCentroids, iters, maxTrainVectors)
    val e = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    assign(e, cents)
      .select(col("cid"), col("vec_id").as("corpus_id"),
        col("v").as("cv"))
      .write.mode(SaveMode.Overwrite).partitionBy("cid")
      .parquet(new Path(staging, "cells").toString)
    cents.write.mode(SaveMode.Overwrite)
      .parquet(new Path(staging, "centroids").toString)
    fs.mkdirs(aside)
    // the same two-phase swap as the PQ retrain: the complete old
    // generation steps aside intact, then the new one moves in — a
    // crash at any window is healed by recoverRetrainResidue on the
    // next retrain, never read as mixed generations
    dirs.foreach(d => fs.rename(new Path(path, d), new Path(aside, d)))
    dirs.foreach(d => fs.rename(new Path(staging, d), new Path(path, d)))
    fs.delete(staging, true)
    fs.delete(aside, true)
    ()
  }

  /** [[retrainIvfIndex]] for the COMPOUND index (s21): retrain BOTH
    * quantizer levels over the index's current holdings and re-code —
    * which is, by construction, exactly ONE [[buildIvfPqIndex]] over
    * the RECONSTRUCTED contents (the only vectors a PQ index still
    * has; geometry from the stored codebooks via [[loadCodebooks]]). That
    * identity IS the s21 collapse law the oracle states — build over
    * the decode of the drifted index — and it makes the lossy step
    * honest: each retrain re-quantizes reconstructions, so quality is
    * bounded by the codes it started from. A deployment that wants
    * codes re-trained against ORIGINAL vectors rebuilds from source —
    * the index cannot recover information it never stored.
    *
    * EVERY piece of geometry — subspaces, dims, and the codebook size
    * — comes from the STORED codebooks relation ([[loadCodebooks]]),
    * never from the caller: a retrain cannot silently change the
    * index's code width any more than it can its dimensionality.
    *
    * Staged like the IVF retrain: the new build lands under
    * `retrain_tmp/` first, then the three layout dirs swap in with a
    * two-phase rename — every live dir steps ASIDE to `retrain_old/`
    * before any new dir moves in, so a crash mid-swap never leaves
    * mixed-generation dirs: the unserveable window is the renames
    * themselves (the swap is not crash-ATOMIC — rename sequences on a
    * filesystem never are — but it is crash-RECOVERABLE at every
    * window, and a fresh retrain SELF-HEALS on entry via
    * [[recoverRetrainResidue]]: rolled FORWARD from `retrain_tmp/`
    * once the old generation has fully stepped aside, rolled BACK
    * from `retrain_old/` otherwise — never a mixed-generation read,
    * and `retrain_old/` is never deleted while it is the only copy of
    * a layout dir). The O(corpus) cost is the same scheduled,
    * rare event the s18/s19 no-retrain append/delete contracts
    * amortize against. */
  def retrainIvfPqIndex(spark: SparkSession, path: String,
      nCentroids: Int, coarseIters: Int = 3,
      pqIters: Int = 2, maxTrainVectors: Int = 100000): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(path, "retrain_tmp")
    val aside = new Path(path, "retrain_old")
    recoverRetrainResidue(fs, path, staging, aside,
      Seq("cells", "centroids", "codebooks"))
    fs.delete(staging, true) // residue from a crashed previous attempt
    fs.delete(aside, true)
    val (cb, subspaces, subLen, codebook) = loadCodebooks(spark, path)
    val cells = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(path + "/cells")
    val recon = reconstructCells(cells, cb, subspaces)
      .select(col("corpus_id").as("vec_id"), col("dv").as("embedding"))
    buildIvfPqIndex(recon, staging.toString, nCentroids, subspaces,
      codebook, coarseIters, pqIters, subspaces * subLen, maxTrainVectors)
    val dirs = Seq("cells", "centroids", "codebooks")
    fs.mkdirs(aside)
    // phase 1: the complete old generation steps aside intact
    dirs.foreach(d => fs.rename(new Path(path, d), new Path(aside, d)))
    // phase 2: the complete new generation moves in
    dirs.foreach(d => fs.rename(new Path(staging, d), new Path(path, d)))
    fs.delete(staging, true)
    fs.delete(aside, true)
    ()
  }

  /** Self-heal a crashed two-phase retrain swap before touching
    * anything: a crash inside the swap leaves each layout dir in
    * exactly one of live, `retrain_old` (phase 1 moves live dirs
    * aside) or `retrain_tmp` (phase 2 moves the new build in). Which
    * generation the surviving live dirs belong to is decided by
    * `retrain_old`'s COMPLETENESS — phase 2 only starts after ALL
    * live dirs stepped aside, so a complete aside set means any dir
    * already live is NEW (finish the swap: roll the rest FORWARD from
    * staging) while an incomplete aside set means phase 1 was
    * interrupted and live dirs are OLD (undo it: roll the moved ones
    * BACK from aside). Either way the index is one coherent
    * generation afterwards — a mixed-generation restore is impossible
    * by construction. If a missing dir exists in neither source the
    * index is genuinely damaged: fail naming `retrain_old` as the
    * manual restore source instead of deleting it. */
  private def recoverRetrainResidue(fs: org.apache.hadoop.fs.FileSystem,
      path: String, staging: org.apache.hadoop.fs.Path,
      aside: org.apache.hadoop.fs.Path, dirs: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val missing = dirs.filterNot(d => fs.exists(new Path(path, d)))
    if (missing.isEmpty) return
    val asideComplete = dirs.forall(d => fs.exists(new Path(aside, d)))
    missing.foreach { d =>
      val src =
        if (asideComplete) new Path(staging, d) else new Path(aside, d)
      if (!fs.exists(src))
        throw new IllegalStateException(
          s"index at $path lost layout dir '$d' to a crashed retrain " +
            s"swap and no recovery source holds it ($src is absent); " +
            s"$aside holds any surviving previous-generation dirs for " +
            "manual restore")
      fs.rename(src, new Path(path, d))
    }
  }

  /** Index STALENESS statistic (the drift half of the lifecycle, under
    * the d23/s08 oracled-artifact discipline): per stored centroid, the
    * cosine displacement between the centroid and the mean of the
    * normalized vectors CURRENTLY assigned to its cell — i.e. how far
    * one Lloyd step over today's contents would move each centroid.
    * Near 0 = the quantizer still describes the corpus; growing values
    * after appends/deletes are the retrain trigger. Per-dimension
    * means accumulate in EXACT DECIMAL (order-free, so no fold order
    * needs pinning — the e16 recipe); the displacement is emitted as
    * `drift_e6 = floor(max(drift, 0) · 10^6)` on the EXACT INTEGER
    * grid (the d24 recipe): r10 proved that quantizing a
    * cancellation-amplified cosine difference to 8 decimals is NOT
    * portable — another engine's float noise flips the last quantized
    * digit whenever a cell lands near a rounding boundary, while the
    * 10^6 grid leaves ~9 orders of magnitude between the noise floor
    * and the grid (and is far past any retrain threshold a deployment
    * would set). The max(·, 0) clamp pins the sign-unstable
    * drift≈0 case (a cell whose mean IS its centroid direction, where
    * 1 − dot can land an ulp on either side of zero) to exactly 0. An
    * emptied cell surfaces with n_vecs=0 and a NULL drift_e6 — never
    * silently dropped. */
  def ivfDriftStats(spark: SparkSession, path: String): DataFrame = {
    val cents = spark.read.parquet(path + "/centroids")
    val cells = spark.read
      .schema("corpus_id LONG, cv ARRAY<DOUBLE>, cid LONG")
      .parquet(path + "/cells")
    driftStatsOver(cents, cells.select(col("cid"), col("cv").as("nv")))
  }

  /** The ONE drift tail shared by [[ivfDriftStats]] and
    * [[ivfPqDriftStats]] — per-cell exact-decimal per-dimension means
    * of the normalized holdings `vecs (cid, nv)`, displacement vs the
    * stored centroid on the 10^6 integer grid. One implementation so
    * the full-vector and compound indexes can never disagree about
    * what "drift" means (both policy loops compare it to the same kind
    * of bar). */
  private def driftStatsOver(cents: DataFrame, vecs: DataFrame)
      : DataFrame =
    driftStatsWeighted(cents, vecs.withColumn("cnt", lit(1L)))

  /** [[driftStatsOver]] with a multiplicity column `cnt`: each (cid,
    * nv) row stands for `cnt` identical holdings. The decimal mean is
    * BIT-IDENTICAL to summing the row `cnt` times — `cnt` copies of
    * one decimal sum to exactly value × cnt (decimal arithmetic is
    * exact within precision, and the widened decimal(38,20) product
    * cannot overflow: |component| ≤ 1 after normalization, counts fit
    * in 10 digits), and decimal addition is order-free — so the PQ
    * path can aggregate DISTINCT code words instead of rows (a PQ
    * index has at most codebook^subspaces distinct reconstructions;
    * see [[ivfPqDriftStatsImpl]]) without moving a single bit of the
    * emitted statistic. */
  private def driftStatsWeighted(cents: DataFrame, vecs: DataFrame)
      : DataFrame = {
    val perDim = vecs
      .select(col("cid"), col("cnt"),
        posexplode(col("nv")).as(Seq("i", "val")))
      .groupBy("cid", "i")
      .agg((sum(col("val").cast("decimal(27,20)") *
        col("cnt").cast("decimal(10,0)")).cast("double") /
        sum(col("cnt"))).as("m"))
    val nm = perDim.groupBy("cid")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("mv"))
    val nv = vecs.groupBy("cid").agg(sum(col("cnt")).as("n_vecs"))
    val drift =
      greatest(lit(1.0) - dot(normalized(col("cv")), normalized(col("mv"))),
        lit(0.0))
    cents.join(nm, Seq("cid"), "left").join(nv, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        when(col("mv").isNotNull, floor(drift * lit(1000000.0)))
          .cast("long").as("drift_e6"))
      .orderBy("cid")
  }

  /** [[ivfDriftStats]] for the COMPOUND index (s20): the cells hold PQ
    * codes, so the per-cell means are taken over the NORMALIZED
    * RECONSTRUCTIONS — the only holdings the index can still see (the
    * raw vectors are gone by design; that lossy residency is the whole
    * point of PQ). Same emission contract as s15: (cid, n_vecs,
    * drift_e6 on the 10^6 integer grid), emptied cells surface with
    * n_vecs=0 and NULL drift. The statistic stays an honest retrain
    * trigger: reconstructions are what the serve path actually scores
    * against, so "the coarse quantizer stopped describing the
    * reconstructions" is exactly the staleness that degrades served
    * answers. Metadata-priced at scale: the only corpus-sized work is
    * a map-side-partial count over (cid, codes) — the decode and the
    * exact-decimal means run over DISTINCT code words (≤
    * codebook^subspaces rows), weighted by those counts, which is
    * bit-identical to the per-row aggregation (decimal arithmetic is
    * exact and order-free; spec-pinned). */
  def ivfPqDriftStats(spark: SparkSession, path: String): DataFrame =
    ivfPqDriftStatsImpl(spark, path, None)

  /** [[ivfPqDriftStats]] restricted to `only` cells — the policy's
    * incremental update path: an append changes ONLY the cells it
    * lands in (untouched cells' holdings and centroid are both
    * unchanged, so their drift provably isn't), and the cid-partitioned
    * cells layout makes the restricted decode a partition-pruned scan
    * of just those cells. */
  private def ivfPqDriftStatsImpl(spark: SparkSession, path: String,
      only: Option[Seq[Long]]): DataFrame = {
    val (cb, subspaces, _, _) = loadCodebooks(spark, path)
    ivfPqDriftStatsLoaded(spark, path, only,
      spark.read.parquet(path + "/centroids"), cb, subspaces)
  }

  /** [[ivfPqDriftStatsImpl]] against already-loaded centroids/codebooks
    * (see [[appendToIvfPqIndexLoaded]]'s one-load-per-drain note). */
  private def ivfPqDriftStatsLoaded(spark: SparkSession, path: String,
      only: Option[Seq[Long]], cents0: DataFrame, cb: DataFrame,
      subspaces: Int): DataFrame = {
    val cents = only.map(c => cents0.filter(col("cid").isin(c: _*)))
      .getOrElse(cents0)
    val cells0 = spark.read
      .schema("corpus_id LONG, codes ARRAY<LONG>, cid LONG")
      .parquet(path + "/cells")
    val cells = only.map(c => cells0.filter(col("cid").isin(c: _*)))
      .getOrElse(cells0)
    // A PQ cell holds at most codebook^subspaces DISTINCT
    // reconstructions, so the corpus-sized pass is ONE count aggregate
    // over (cid, codes) — map-side partial, a few-thousand-row shuffle
    // — and the decode + normalize runs over the distinct code words
    // only, never per stored row. driftStatsWeighted's decimal means
    // are bit-identical to the per-row aggregation (exact arithmetic,
    // order-free; spec-pinned), so the emitted statistic is unchanged.
    val combos = cells.groupBy(col("cid"), col("codes"))
      .agg(count(lit(1)).as("cnt"))
    val nv = decodeCodes(combos, cb, subspaces)
      .select(col("cid"), normalized(col("dv")).as("nv"), col("cnt"))
    driftStatsWeighted(cents, nv)
  }

  /** The retrain-trigger scalar: max per-cell [[ivfDriftStats]]
    * displacement on the 10^6 integer grid (empty cells' NULL drift
    * ignored — an emptied cell needs compaction, not retraining; an
    * index with NO populated cells reports 0). One number a serving
    * loop compares against its staleness bar. */
  def maxDriftE6(spark: SparkSession, path: String): Long =
    maxE6(ivfDriftStats(spark, path))

  private def maxE6(stats: DataFrame): Long = {
    val r = stats.agg(max(col("drift_e6"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** One step of the ONLINE index-maintenance loop (the operational
    * closure of the lifecycle — s13's append, s15's statistic and
    * s16's retrain composed into a policy): append the batch, measure
    * the staleness statistic, retrain when it crosses
    * `retrainAboveE6` (drift · 10^6). Returns whether a retrain ran.
    *
    * Why this composition is safe to run mid-stream: retrain collapses
    * to ONE BUILD over the index's current normalized contents (the
    * s16 law), so after any step whose retrain fired, served answers
    * equal the relational one-build oracle over everything ingested so
    * far — no matter which earlier steps did or didn't fire. e23
    * drives this from a foreachBatch serving loop and oracles exactly
    * that collapse. At 100 TB the economics are the s13/s16 contract:
    * appends stay O(batch), the drift statistic is O(cells) metadata
    * aggregation, and the O(corpus) retrain runs only when the
    * statistic says the quantizer stopped describing the corpus. */
  def appendWithRetrainPolicy(spark: SparkSession, path: String,
      batch: DataFrame, nCentroids: Int, retrainAboveE6: Long,
      iters: Int = 3, maxTrainVectors: Int = 100000): Boolean = {
    appendToIvfIndex(spark, path, batch)
    val stale = maxDriftE6(spark, path) > retrainAboveE6
    if (stale)
      retrainIvfIndex(spark, path, nCentroids, iters, maxTrainVectors)
    stale
  }

  /** [[appendWithRetrainPolicy]] for the COMPOUND index (e27): append
    * the batch against the frozen stored quantizers, measure the s20
    * reconstruction-drift statistic, retrain both levels when the
    * statistic says the batch actually moved the index.
    *
    * The gate is the per-cell drift EXCESS over a recorded birth
    * baseline, not an absolute bar, because the PQ drift statistic has
    * a FLOOR: coarse centroids are trained on original vectors but the
    * statistic's means are over lossy reconstructions, so a freshly
    * built healthy index already reads 0.30–0.40 on the 10^6 grid
    * (measured at four SFs) — any absolute bar either never skips or
    * never fires. The policy records each cell's drift at adoption
    * (`drift_state/`: cid, baseline_e6, drift_e6), and each drain
    * recomputes drift ONLY for the cells the batch landed in (the
    * coarse assignment is O(batch); untouched cells' holdings and
    * centroid are unchanged, so their drift provably is too — the
    * restricted decode partition-prunes the cid-partitioned cells).
    * Fire when any cell's (drift − baseline) exceeds `excessAboveE6`.
    * A cell EMPTY at adoption (NULL baseline) is ungated until the
    * next baseline reset: no baseline means no excess evidence, and a
    * thinly refilled cell's absolute drift is small-sample noise, not
    * staleness (measured: an in-distribution refill of one emptied
    * cell read 0.86 from 1–2 lossy reconstructions — higher than a
    * genuinely off-distribution clump — while every populated cell's
    * excess stayed under 0.035). After a fired retrain the baseline
    * resets to the new index's drift, at which point formerly empty
    * cells carry baselines and re-enter the gate. Measured separation on the testdata (all four
    * SFs): an in-distribution batch moves the worst cell ≤ 0.030 of
    * excess; an off-distribution clump moves its receiving cell
    * ≥ 0.494 — e27's bar (0.15) sits 5x above the former and 3x under
    * the latter.
    *
    * One difference from the IVF loop matters to consumers: PQ retrain
    * re-quantizes RECONSTRUCTIONS (the s21 law), so unlike IVF — where
    * any firing pattern collapses to one build — the final index
    * depends on WHICH steps fired. The policy is still oracle-able
    * because the measured separation pins the pattern: a retrain that
    * silently fired on a calm batch (or failed to fire on the clump)
    * serves different bits and hash-mismatches. Economics: a below-bar
    * drain costs O(batch + touched cells) — no O(corpus) work at all
    * (the skip is the point); the O(corpus) retrain and baseline reset
    * run only on trigger, plus once at adoption.
    *
    * Crash safety of the state itself: every `drift_state/` write is
    * complete-or-absent ([[writeStateAtomic]]), and a missing state on
    * an already-adopted index (the `drift_adopted` marker) FAILS
    * loudly instead of silently re-baselining at accumulated drift —
    * see [[ensurePqDriftState]] / [[readoptPqDriftBaseline]]. A crash
    * between a fired retrain and its baseline reset leaves the OLD
    * baselines against the new index — the gate then errs toward
    * re-FIRING (retrain is convergent: build over the decode), never
    * toward masking. */
  def appendToIvfPqWithRetrainPolicy(spark: SparkSession, path: String,
      batch: DataFrame, nCentroids: Int, excessAboveE6: Long,
      coarseIters: Int = 3, pqIters: Int = 2,
      maxTrainVectors: Int = 100000): Boolean = {
    import org.apache.hadoop.fs.Path
    val statePath = path + "/drift_state"
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensurePqDriftState(spark, path, fs)
    // ONE load of the stored quantizers per drain: append, the touched
    // assignment and the restricted drift statistic all run against
    // the same collected codebooks/centroid relations (two codebook
    // collects and a second centroid read per drain otherwise)
    val (cb, subspaces, subLen, _) = loadCodebooks(spark, path)
    val cents = spark.read.parquet(path + "/centroids")
    appendToIvfPqIndexLoaded(path, batch, cents, cb, subspaces, subLen)
    val touched = assign(
      batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")), cents)
      .select("cid").distinct().collect().map(_.getLong(0)).toSeq.sorted
    val fresh = ivfPqDriftStatsLoaded(spark, path, Some(touched),
      cents, cb, subspaces).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val state = spark.read.parquet(statePath).collect().map { r =>
      val cid = r.getLong(0)
      val baseline = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val drift = fresh.getOrElse(cid,
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
      (cid, baseline, drift)
    }.sortBy(_._1)
    import spark.implicits._
    writeStateAtomic(spark, statePath,
      state.map { case (c, b, d) =>
        (c, b.map(Long.box).orNull, d.map(Long.box).orNull)
      }.toSeq.toDF("cid", "baseline_e6", "drift_e6"))
    val stale = state.exists { case (_, baseline, drift) =>
      baseline.exists(b => drift.exists(_ - b > excessAboveE6))
    }
    if (stale) {
      retrainIvfPqIndex(spark, path, nCentroids, coarseIters,
        pqIters, maxTrainVectors)
      writePqDriftState(spark, path, statePath)
    }
    stale
  }

  /** (Re)record the policy's per-cell baseline: every cell's current
    * drift, baseline == drift (a just-adopted or just-retrained index
    * has zero excess by definition). */
  private def writePqDriftState(spark: SparkSession, path: String,
      statePath: String): Unit =
    writeStateAtomic(spark, statePath,
      ivfPqDriftStats(spark, path)
        .select(col("cid"), col("drift_e6").as("baseline_e6"),
          col("drift_e6")))

  /** Complete-or-absent state write: the relation lands fully under a
    * staging dir first, then swaps in with delete + rename. No reader
    * can ever observe a half-written `drift_state/` — a crash inside
    * the swap leaves the dir ABSENT (with the adoption marker still
    * present), which the next drain refuses LOUDLY instead of silently
    * re-baselining (see [[ensurePqDriftState]]). The input relation
    * must not read `statePath` lazily — callers collect it first. */
  private def writeStateAtomic(spark: SparkSession, statePath: String,
      df: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(statePath)
    val tmp = new Path(statePath + "__tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(dst, true)
    fs.rename(tmp, dst)
    ()
  }

  private def driftMarker(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path, "drift_adopted")

  /** Baseline presence/adoption protocol for the PQ retrain policy.
    * The `drift_adopted` marker (stamped once, at first adoption)
    * distinguishes "this index was never under the policy" from "the
    * recorded baseline was LOST": without it, a crash that destroys
    * `drift_state/` would make the next drain re-record the baseline
    * at the index's CURRENT (already accumulated) drift — folding the
    * staleness the policy exists to detect into the new baseline, so
    * the gate silently never fires on it. Lost state therefore FAILS
    * here, naming [[readoptPqDriftBaseline]] as the explicit,
    * operator-acknowledged recovery. A state dir without `_SUCCESS`
    * counts as lost (partial = a torn legacy write; the atomic writer
    * never leaves one). */
  private def ensurePqDriftState(spark: SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    import org.apache.hadoop.fs.Path
    val statePath = path + "/drift_state"
    val present = fs.exists(new Path(statePath, "_SUCCESS"))
    val marker = driftMarker(path)
    val adopted = fs.exists(marker)
    if (present) {
      // pre-marker index (state recorded before the marker existed):
      // stamp it now so a later loss is detected
      if (!adopted) fs.create(marker).close()
    } else if (adopted) {
      throw new IllegalStateException(
        s"IVF-PQ retrain policy at $path: drift_state/ is missing or " +
          "partial but the index was already adopted (drift_adopted " +
          "marker present) — a crash destroyed the recorded baseline. " +
          "Re-baselining silently here would fold any drift " +
          "accumulated since adoption into the new baseline and mask " +
          "staleness; call Similarity.readoptPqDriftBaseline to " +
          "re-adopt EXPLICITLY at the index's current drift.")
    } else {
      // first adoption: record the birth baseline, then stamp
      writePqDriftState(spark, path, statePath)
      fs.create(marker).close()
    }
  }

  /** EXPLICIT re-adoption after a lost `drift_state/` (the recovery
    * [[ensurePqDriftState]]'s refusal names): re-record every cell's
    * baseline at the index's CURRENT drift and stamp the adoption
    * marker. Deliberately a separate, operator-called entry point —
    * re-adoption resets the excess gate's zero, so any staleness the
    * index accumulated before the loss stops being detectable; doing
    * that must be a decision, never a silent side effect of a drain. */
  def readoptPqDriftBaseline(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    writePqDriftState(spark, path, path + "/drift_state")
    if (!fs.exists(driftMarker(path))) fs.create(driftMarker(path)).close()
  }

  /** Embedding-space retrieval EVAL: leave-one-out kNN label agreement
    * over a labeled corpus — the standard harness for judging whether
    * an embedding column is good enough to drive semantic dedup /
    * clustering / mixture decisions before committing a 100 TB pass to
    * it. For each query vector (a deterministic sample — evaluating
    * every vector would be the n² nobody runs), its k exact nearest
    * neighbors (self excluded) vote: per label the report carries
    * query count, top-1 accuracy, and the mean fraction of neighbors
    * sharing the query's label. Same narrow-scan + bounded-heap shape
    * as [[bruteTopK]]; the report is |labels| rows. Accuracy fractions
    * are single integer-sum divisions — bit-portable. */
  def knnLabelEval(emb: DataFrame, querySample: Column, k: Int,
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    val queries = emb.filter(querySample)
    val nn = bruteTopK(emb, queries, k)
    val ql = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("q_label"))
    val cl = emb.select(col(idCol).as("corpus_id"),
      col(labelCol).as("c_label"))
    val perQ = nn
      .join(broadcast(ql), Seq("query_id"))
      .join(broadcast(cl), Seq("corpus_id"))
      .groupBy("query_id", "q_label")
      .agg(
        max(when(col("rank") === 1 && col("c_label") === col("q_label"), 1)
          .otherwise(0)).as("top1_hit"),
        sum(when(col("c_label") === col("q_label"), 1).otherwise(0))
          .as("n_match"),
        count(lit(1)).as("n_nn"))
    perQ.groupBy("q_label")
      .agg(
        count(lit(1)).as("n_queries"),
        (sum(col("top1_hit")).cast("double") / count(lit(1)))
          .as("top1_acc"),
        (sum(col("n_match")).cast("double") / sum(col("n_nn")))
          .as("knn_agreement"))
      .orderBy("q_label")
  }

  // ---- query inventory ----

  type Q = (SparkSession, String) => DataFrame

  private def corpusOf(s: SparkSession, dir: String) =
    Tables.embeddings(s, dir).filter(col("vec_id") >= 5)
  private def queriesOf(s: SparkSession, dir: String) =
    Tables.embeddings(s, dir).filter(col("vec_id") < 5)

  val queries: Map[String, Q] = Map(
    "s01_knn_brute" -> ((s, dir) =>
      bruteTopK(corpusOf(s, dir), queriesOf(s, dir), 10)
        .orderBy("query_id", "rank")),
    // s09: hybrid retrieval — docs 0–4 are the queries on BOTH paths
    // (doc_id and vec_id are the generator's shared identity), fused
    // by RRF; the oracle chains the BM25-MLT and s01 fragments and
    // fuses them with the same fixed expression
    "s09_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      hybridRrf(
        docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5),
        corpusOf(s, dir), queriesOf(s, dir))
        .orderBy("query_id", "rrf_rank")
    }),
    // s08: ANN RECALL as a driver artifact — the approximate path's
    // quality number (|LSH top-10 ∩ brute top-10| / 10 per query)
    // under the same oracle discipline as the results themselves;
    // the spec-level recall contracts bound it, this key pins the
    // exact value
    "s08_ann_recall" -> ((s, dir) => {
      val c = corpusOf(s, dir)
      val q = queriesOf(s, dir)
      val brute = bruteTopK(c, q, 10).select("query_id", "corpus_id")
      val approx = lshTopK(c, q, 10, bits = 4, tables = 8)
        .select("query_id", "corpus_id")
      val hits = brute.join(approx, Seq("query_id", "corpus_id"),
        "left_semi")
      brute.groupBy("query_id").agg(count(lit(1)).as("n_brute"))
        .join(hits.groupBy("query_id").agg(count(lit(1)).as("n_hit")),
          Seq("query_id"), "left_outer")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("recall",
          col("n_hit").cast("double") / col("n_brute"))
        .select("query_id", "n_brute", "n_hit", "recall")
        .orderBy("query_id")
    }),
    // s07: leave-one-out kNN label eval on a deterministic ~1% query
    // sample (vec_id % 97 — a prime stride, label-blind)
    "s07_knn_label_eval" -> ((s, dir) =>
      knnLabelEval(Tables.embeddings(s, dir),
        col("vec_id") % 97 === 0, k = 10)),
    // filtered search: top-k within label=1 only — the metadata-filter
    // + vector-search composition, filter pushed to the corpus scan
    "s04_ann_filtered" -> ((s, dir) =>
      filteredTopK(corpusOf(s, dir), queriesOf(s, dir), 10,
        col("label") === 1)
        .orderBy("query_id", "rank")),
    "s02_ann_lsh" -> ((s, dir) =>
      lshTopK(corpusOf(s, dir), queriesOf(s, dir), 10, bits = 4, tables = 8)
        .orderBy("query_id", "rank")),
    // scalar-quantized (SQ8) search: codes from corpus-wide per-dim
    // min/max, asymmetric scoring against dequantized vectors
    "s05_ann_quantized" -> ((s, dir) =>
      sqTopK(corpusOf(s, dir), queriesOf(s, dir), 10)
        .orderBy("query_id", "rank")),
    // s11: SQ8 candidates (4x over-fetch) exact-re-ranked — the
    // two-stage serving shape; oracle replays s05's chain at rank<=40
    // then the exact cosine window
    "s11_ann_rerank" -> ((s, dir) =>
      rerankTopK(corpusOf(s, dir), queriesOf(s, dir), 10)
        .orderBy("query_id", "rank")),
    "s03_ann_ivf" -> ((s, dir) =>
      // maxTrainVectors below the sf0.01+ corpus size so the driver
      // check exercises the sampled-training path, not just the
      // degenerate train==corpus case
      ivfTopK(corpusOf(s, dir), queriesOf(s, dir), 10, nCentroids = 10,
        nProbe = 4, maxTrainVectors = 256).orderBy("query_id", "rank")),
    // s12: the SAME index split into its production lifecycle — built
    // once into a cid-partitioned cells table (Scratch-cached: the
    // corpus version's index), served via partition-pruned probes;
    // shares s03's oracle verbatim, so the lifecycle split can never
    // silently change answers
    "s12_ivf_persisted" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s12:" + dir, "graft_s12_") {
        p => buildIvfIndex(corpusOf(s, dir), p, nCentroids = 10,
          maxTrainVectors = 256)
      }
      ivfTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // e19: the serve path under Structured Streaming — queries arrive
    // as parquet-file micro-batches served against the SAME persisted
    // index (s12's, Scratch-cached per corpus version). Each batch's
    // results land under a batch-id-keyed dir (a retried batch
    // OVERWRITES its own dir — idempotent under at-least-once
    // redelivery, the x04/e17 discipline without a commit log because
    // batch id IS the key). Serving is per-query — no cross-query
    // state — so any batching of the query set returns exactly the
    // one-shot batch answer, and e19 shares s03/s12's oracle verbatim.
    // At scale this is the online-serving shape: the index is opened
    // once, each micro-batch probes nProbe/nCentroids of it via the
    // static partition filter, and output commits are per-batch atomic.
    "e19_stream_ann" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s12:" + dir, "graft_s12_") {
        p => buildIvfIndex(corpusOf(s, dir), p, nCentroids = 10,
          maxTrainVectors = 256)
      }
      val qDir = graft.util.Scratch.fresh("graft_e19q_")
      val outDir = graft.util.Scratch.fresh("graft_e19o_")
      queriesOf(s, dir).repartition(3).write.mode("overwrite").parquet(qDir)
      val qSchema = s.read.parquet(qDir).schema
      graft.util.StreamTuning.drain(s, qDir,
        graft.util.Scratch.fresh("graft_e19c_")) {
        s.readStream.schema(qSchema)
          .option("maxFilesPerTrigger", 1).parquet(qDir)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            ivfTopKServed(s, idx, batch, 10, nProbe = 4)
              .write.mode("overwrite").parquet(s"$outDir/b=$bid")
          }
      }
      s.read.parquet(outDir)
        .select("query_id", "rank", "corpus_id", "cos_sim")
        .orderBy("query_id", "rank")
    }),
    // e23: the ONLINE maintenance loop — a streaming ingest appends
    // micro-batches to the served index, measuring the drift statistic
    // after each and retraining when it crosses the bar
    // (appendWithRetrainPolicy). Batch 1 is the in-distribution
    // %10==9 slice; batch 2 its NEGATED re-keyed copy (an
    // off-distribution cluster). The bar (0.001) sits 60× under the
    // measured post-append drift at every scale (0.06–0.11 at
    // sf0.001→sf1), so the LAST step always fires — and because
    // retrain migrates stored vectors AS-IS (bit-idempotent), the
    // final index ≡ one build over the normalized augmented corpus
    // whatever the intermediate steps did. Oracle: the s03-family
    // Lloyd trained on corpusAugN, served over corpusAug.
    "e23_stream_retrain" -> ((s, dir) => {
      val idx = graft.util.Scratch.fresh("graft_e23_")
      val inDir = graft.util.Scratch.fresh("graft_e23in_")
      val all = corpusOf(s, dir)
      buildIvfIndex(all.filter(col("vec_id") % 10 =!= 9), idx,
        nCentroids = 10, maxTrainVectors = 256)
      val slice = all.filter(col("vec_id") % 10 === 9)
      slice.coalesce(1).write.parquet(inDir + "/f=0")
      slice.select((col("vec_id") + lit(1000000000L)).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
        .coalesce(1).write.parquet(inDir + "/f=1")
      val schema = s.read.parquet(inDir).schema
      graft.util.StreamTuning.drain(s, inDir,
        graft.util.Scratch.fresh("graft_e23c_")) {
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            appendWithRetrainPolicy(s, idx, batch.drop("f"),
              nCentroids = 10, retrainAboveE6 = 1000L,
              maxTrainVectors = 256)
            ()
          }
      }
      ivfTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // s13: the index UPDATE path — build on the base (vec_id%10<>9),
    // append the held-out batch against the frozen stored centroids,
    // serve over the union; the oracle trains on corpus0 and assigns
    // the full corpus, the exact no-retrain contract
    "s13_ivf_append" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s13:" + dir, "graft_s13_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfIndex(all.filter(col("vec_id") % 10 =!= 9), p,
            nCentroids = 10, maxTrainVectors = 256)
          appendToIvfIndex(s, p, all.filter(col("vec_id") % 10 === 9))
      }
      ivfTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // s14: the index DELETE path — build on the full corpus, erase the
    // vec_id%10==7 slice by rewriting only its touched cells, serve
    // over the remainder; the oracle trains on the full corpus and
    // assigns only the kept vectors against those frozen centroids —
    // the exact no-retrain erasure contract
    "s14_ivf_delete" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s14:" + dir, "graft_s14_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfIndex(all, p, nCentroids = 10, maxTrainVectors = 256)
          removeFromIvfIndex(s, p,
            all.filter(col("vec_id") % 10 === 7).select("vec_id"))
      }
      ivfTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // s15: the staleness statistic over s13's drift scenario (trained
    // on the base, the %10==9 batch appended without retraining) —
    // per-cell displacement as an oracled artifact
    "s15_ivf_drift" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s13:" + dir, "graft_s13_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfIndex(all.filter(col("vec_id") % 10 =!= 9), p,
            nCentroids = 10, maxTrainVectors = 256)
          appendToIvfIndex(s, p, all.filter(col("vec_id") % 10 === 9))
      }
      ivfDriftStats(s, idx)
    }),
    // s16: the RETRAIN path closing the lifecycle — build on the base,
    // append the drifted batch, then retrain on the index's current
    // contents and migrate every vector; the oracle trains AND assigns
    // the normalized full corpus (spherical k-means over what the
    // index actually holds: normalized vectors)
    "s16_ivf_retrain" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s16:" + dir, "graft_s16_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfIndex(all.filter(col("vec_id") % 10 =!= 9), p,
            nCentroids = 10, maxTrainVectors = 256)
          appendToIvfIndex(s, p, all.filter(col("vec_id") % 10 === 9))
          retrainIvfIndex(s, p, nCentroids = 10, maxTrainVectors = 256)
      }
      ivfTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // s17: the IVF-PQ compound — s12's partition-pruned serve over
    // cells that store s06's PQ codes instead of vectors (the
    // billion-vector resident-footprint architecture). Deterministic
    // at both quantizer levels, so the oracle is the full relational
    // collapse: coarse Lloyd + assignment, per-subspace Lloyd +
    // coding, probe, reconstruct, rank.
    "s17_ivf_pq" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s17:" + dir, "graft_s17_") {
        p => buildIvfPqIndex(corpusOf(s, dir), p, nCentroids = 10,
          subspaces = 4, codebook = 16, maxTrainVectors = 256)
      }
      ivfPqTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // s18: the s13 frozen-quantizer append applied to BOTH levels of
    // the compound index — build on the base, append the held-out
    // slice against the stored coarse centroids and codebooks
    "s18_ivf_pq_append" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s18:" + dir, "graft_s18_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfPqIndex(all.filter(col("vec_id") % 10 =!= 9), p,
            nCentroids = 10, subspaces = 4, codebook = 16,
            maxTrainVectors = 256)
          appendToIvfPqIndex(s, p,
            all.filter(col("vec_id") % 10 === 9))
      }
      ivfPqTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // s19: the no-retrain erasure on the compound index — build on
    // the full corpus, delete the held-out slice, serve the survivors
    "s19_ivf_pq_delete" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s19:" + dir, "graft_s19_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfPqIndex(all, p, nCentroids = 10, subspaces = 4,
            codebook = 16, maxTrainVectors = 256)
          removeFromIvfPqIndex(s, p,
            all.filter(col("vec_id") % 10 === 7).select("vec_id"))
      }
      ivfPqTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // s20: the staleness statistic over the COMPOUND index — s18's
    // drifted scenario (trained on the base, the %10==9 slice appended
    // frozen), per-cell displacement of the normalized RECONSTRUCTION
    // means on the 10^6 integer grid (the only holdings a PQ index
    // still has; what the serve path actually scores against)
    "s20_ivf_pq_drift" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s18:" + dir, "graft_s18_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfPqIndex(all.filter(col("vec_id") % 10 =!= 9), p,
            nCentroids = 10, subspaces = 4, codebook = 16,
            maxTrainVectors = 256)
          appendToIvfPqIndex(s, p,
            all.filter(col("vec_id") % 10 === 9))
      }
      ivfPqDriftStats(s, idx)
    }),
    // s21: the RETRAIN path closing the compound lifecycle — build on
    // the base, append the drifted slice frozen, then retrain BOTH
    // quantizer levels over the index's reconstructed holdings and
    // re-code (= one build over the decode, the s21 collapse law the
    // oracle restates level by level)
    "s21_ivf_pq_retrain" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s21:" + dir, "graft_s21_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfPqIndex(all.filter(col("vec_id") % 10 =!= 9), p,
            nCentroids = 10, subspaces = 4, codebook = 16,
            maxTrainVectors = 256)
          appendToIvfPqIndex(s, p,
            all.filter(col("vec_id") % 10 === 9))
          retrainIvfPqIndex(s, p, nCentroids = 10,
            maxTrainVectors = 256)
      }
      ivfPqTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // e27: e23's online maintenance loop on the COMPOUND index — a
    // streaming ingest appends micro-batches and retrains both
    // quantizer levels only when the per-cell drift EXCESS over the
    // recorded birth baseline crosses the bar. The bar (0.15) is
    // picked from measurement at four SFs: the in-distribution batch
    // moves the worst cell <= 0.030 (SKIP — the drain costs
    // O(batch + touched cells), no retrain), the off-distribution
    // clump moves its cell >= 0.494 (FIRE). Because PQ retrain is the
    // lossy build-over-decode (unlike IVF's bit-idempotent migration),
    // the oracle restates the exact (skip, fire) nest: a retrain that
    // silently fired on the calm batch OR failed to fire on the clump
    // would hash-mismatch.
    "e27_stream_pq_retrain" -> ((s, dir) => {
      val idx = graft.util.Scratch.fresh("graft_e27_")
      val inDir = graft.util.Scratch.fresh("graft_e27in_")
      val all = corpusOf(s, dir)
      buildIvfPqIndex(all.filter(col("vec_id") % 10 =!= 9), idx,
        nCentroids = 10, subspaces = 4, codebook = 16,
        maxTrainVectors = 256)
      val slice = all.filter(col("vec_id") % 10 === 9)
      slice.coalesce(1).write.parquet(inDir + "/f=0")
      slice.select((col("vec_id") + lit(2000000000L)).as("vec_id"),
        transform(col("embedding"), x => abs(x) + lit(2.0f))
          .as("embedding"))
        .coalesce(1).write.parquet(inDir + "/f=1")
      val schema = s.read.parquet(inDir).schema
      graft.util.StreamTuning.drain(s, inDir,
        graft.util.Scratch.fresh("graft_e27c_")) {
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            appendToIvfPqWithRetrainPolicy(s, idx, batch.drop("f"),
              nCentroids = 10, excessAboveE6 = 150000L,
              maxTrainVectors = 256)
            ()
          }
      }
      ivfPqTopKServed(s, idx, queriesOf(s, dir), 10, nProbe = 4)
        .orderBy("query_id", "rank")
    }),
    // x44/x45: ANN serving from SQL — graft_ann_topk over the SAME
    // persisted indexes s12/s17 serve (Scratch-cached, so the builds
    // are shared), layout auto-detected from the stored codebooks/.
    // Each shares its DataFrame twin's oracle verbatim: the SQL
    // surface is the same serve collapse, reached from the console.
    "x44_sql_ann_topk" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s12:" + dir, "graft_s12_") {
        p => buildIvfIndex(corpusOf(s, dir), p, nCentroids = 10,
          maxTrainVectors = 256)
      }
      val qDir = graft.util.Scratch.cached("annq:" + dir, "graft_annq_") {
        p => queriesOf(s, dir).coalesce(1).write.mode("overwrite")
          .parquet(p + "/q")
      }
      s.sql(s"SELECT * FROM graft_ann_topk('$idx', '$qDir/q', 10, 4)")
    }),
    "x45_sql_ann_pq_topk" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s17:" + dir, "graft_s17_") {
        p => buildIvfPqIndex(corpusOf(s, dir), p, nCentroids = 10,
          subspaces = 4, codebook = 16, maxTrainVectors = 256)
      }
      val qDir = graft.util.Scratch.cached("annq:" + dir, "graft_annq_") {
        p => queriesOf(s, dir).coalesce(1).write.mode("overwrite")
          .parquet(p + "/q")
      }
      s.sql(s"SELECT * FROM graft_ann_topk('$idx', '$qDir/q', 10, 4)")
    }),
    // x46: the drift report from SQL — s15's statistic over s13's
    // drifted index (shared build), the one number an operator
    // compares to a retrain bar without leaving the console
    "x46_sql_ann_drift" -> ((s, dir) => {
      val idx = graft.util.Scratch.cached("s13:" + dir, "graft_s13_") {
        p =>
          val all = corpusOf(s, dir)
          buildIvfIndex(all.filter(col("vec_id") % 10 =!= 9), p,
            nCentroids = 10, maxTrainVectors = 256)
          appendToIvfIndex(s, p, all.filter(col("vec_id") % 10 === 9))
      }
      s.sql(s"SELECT * FROM graft_ann_drift('$idx') ORDER BY cid")
    }),
    // product quantization: per-subspace trained codebooks, asymmetric
    // scoring against the reconstruction (sampled training, as s03)
    "s06_ann_pq" -> ((s, dir) =>
      pqTopK(corpusOf(s, dir), queriesOf(s, dir), 10, subspaces = 4,
        codebook = 16, iters = 2, maxTrainVectors = 256)
        .orderBy("query_id", "rank")),
    // s10: every projected coordinate of every vector, hash-checked —
    // the projection matrix is the same md5 constant set on both sides
    "s10_random_projection" -> ((s, dir) =>
      randomProjection(Tables.embeddings(s, dir), outDims = 16)
        .orderBy("vec_id", "dim")),
  )

  /** s10 oracle: one UNION ALL branch per output dimension, each the
    * dot product against the identical plane literals the engine ships
    * (Double.toString round-trips exactly). The sum is UNROLLED as an
    * explicit `+` chain — SQL's left-associative `+` IS the engine's
    * sequential i-ascending fold, where DuckDB's list_dot_product /
    * list_sum switch to blocked summation at this length and drift by
    * an ulp. */
  private def s10OracleSql(outDims: Int, dims: Int, seed0: Int): String = {
    // DuckDB parses a bare decimal literal as DECIMAL (whose re-cast to
    // double can drift an ulp from the strtod parse); an exponent forces
    // a DOUBLE literal, preserving the exact round-trip
    def dlit(x: Double): String = {
      val s = x.toString
      if (s.contains("E")) s else s + "E0"
    }
    val branches = (0 until outDims).map { j =>
      val p = plane(seed0 + j, dims)
      val chain = (0 until dims)
        .map(i => s"v[${i + 1}]*(${dlit(p(i))})").mkString(" + ")
      s"SELECT vec_id, CAST($j AS BIGINT) AS dim, $chain AS value FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |$branches
       |ORDER BY vec_id, dim""".stripMargin
  }

  /** DuckDB SQL for the multi-table bucket computation: the hyperplanes
    * are the SAME md5-derived constants the engine ships to executors,
    * embedded as double literals (Double.toString round-trips exactly,
    * and list_dot_product runs the same sequential fold), so bucket ids
    * — and therefore candidates and ranks — are identical. Shared by
    * the s02 oracle and Dedup's d06 oracle. */
  private[graft] def bucketSql(side: String, bits: Int, tables: Int,
      dims: Int): String =
    (0 until tables).map { t =>
      val bucket = (0 until bits).map { j =>
        val lits = plane(t * bits + j, dims).mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product(v, $lits) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bucket AS bucket FROM $side"
    }.mkString(" UNION ALL ")

  /** The normalized-vector SQL fragment (bit-identical to our
    * normalize-then-dot path — verified empirically). */
  private[graft] def normSql(v: String): String =
    s"list_transform($v, x -> x / sqrt(list_dot_product($v, $v)))"

  /** One nearest-centroid assignment CTE (ties → lowest cid) — the SQL
    * mirror of [[assign]]. Shared by the s03 and d11 oracles. */
  private[graft] def assignCteSql(name: String, cents: String,
      source: String): String =
    s"""$name AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT $source.vec_id, $source.v, c.cid,
       |      row_number() OVER (PARTITION BY $source.vec_id ORDER BY
       |        list_dot_product(${normSql(s"$source.v")}, ${normSql("c.cv")}) DESC,
       |        c.cid) AS rn
       |    FROM $source CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin

  /** The deterministic-Lloyd CTE chain (train sample, seed centroids,
    * `iters` assign+means rounds) over the CTE named `corpusName` — the
    * SQL mirror of [[kmeansCentroids]]. Final centroids CTE:
    * `c<iters><sfx>`. `sfx` namespaces the chain so several quantizers
    * (one per PQ subspace) can coexist in one statement. */
  private[graft] def lloydCtesSql(k: Int, iters: Int, trainN: Int,
      sfx: String = "", corpusName: String = "corpus"): String = {
    def meansSql(name: String, assigned: String): String =
      s"""$name AS (
         |  SELECT cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT cid, i, list_sum(list(val ORDER BY vec_id)) / COUNT(*) AS m
         |    FROM (SELECT cid, vec_id, unnest(v) AS val,
         |            generate_subscripts(v, 1) AS i FROM $assigned)
         |    GROUP BY cid, i)
         |  GROUP BY cid)""".stripMargin
    val iterations = (1 to iters).map { i =>
      assignCteSql(s"a$i$sfx", if (i == 1) s"c0$sfx" else s"c${i - 1}$sfx",
        s"train$sfx") +
        ",\n" + meansSql(s"c$i$sfx", s"a$i$sfx")
    }.mkString(",\n")
    s"""train$sfx AS (SELECT vec_id, v FROM $corpusName
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $trainN),
       |c0$sfx AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |       FROM train$sfx ORDER BY vec_id LIMIT $k),
       |$iterations""".stripMargin
  }

  /** DuckDB SQL for the s06 PQ pipeline: one namespaced Lloyd chain per
    * subspace over the sliced sub-vectors, nearest-sub-centroid coding,
    * reconstruction by sub-order concat, then exact asymmetric cosine
    * ranking — each stage the SQL mirror of [[pqTopK]]'s. */
  private def s06OracleSql(subspaces: Int, subLen: Int, codebook: Int,
      iters: Int, topK: Int, trainN: Int): String = {
    val subCtes = (0 until subspaces).map { m =>
      val lo = m * subLen + 1
      val hi = (m + 1) * subLen
      s"""corpus_$m AS (SELECT vec_id, v[$lo:$hi] AS v FROM corpus),
         |${lloydCtesSql(codebook, iters, trainN, s"_$m", s"corpus_$m")},
         |${assignCteSql(s"cells_$m", s"c${iters}_$m", s"corpus_$m")},
         |coded_$m AS (SELECT a.vec_id, $m AS sub, c.cv
         |             FROM cells_$m a JOIN c${iters}_$m c USING (cid))"""
        .stripMargin
    }.mkString(",\n")
    val unionCoded = (0 until subspaces)
      .map(m => s"SELECT vec_id, sub, cv FROM coded_$m")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |$subCtes,
       |coded AS ($unionCoded),
       |recon AS (SELECT vec_id, flatten(list(cv ORDER BY sub)) AS dv
       |          FROM coded GROUP BY vec_id),
       |scored AS (
       |  SELECT q.vec_id AS query_id, recon.vec_id AS corpus_id,
       |         list_cosine_similarity(q.v, recon.dv) AS cos_sim
       |  FROM q CROSS JOIN recon WHERE recon.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, corpus_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, corpus_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, corpus_id, cos_sim
       |FROM ranked WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB SQL for the s17 IVF-PQ compound: the s03 coarse chain
    * (cells = nearest-coarse-centroid assignment, probes = nProbe
    * nearest coarse centroids per query) composed with the s06 PQ
    * chain (per-subspace Lloyd + coding + sub-order reconstruction),
    * scored by asymmetric cosine within probed cells only. Every
    * fragment is one of the two proven mirrors; only the composition
    * is new. */
  /** `trainOn` scopes BOTH quantizer levels' training sets (the s13
    * frozen-quantizer convention): "corpus" for s17 (train = serve),
    * "corpus0" for s18 (train on the base, assign base + batch
    * against those frozen centroids AND codebooks). */
  /** `serveOn` scopes the vectors the index HOLDS at serve time (the
    * s14 convention): "corpus" everywhere except s19, which serves
    * "corpusKeep" (corpus minus the erased slice) against quantizers
    * trained on the full corpus — the no-retrain delete contract. */
  /** One COMPLETE PQ-index level as CTEs, `sfx`-namespaced so levels
    * can nest (the s21/e27 retrain oracles decode one level and build
    * the next over it): coarse Lloyd over `trainOn` →
    * `c<coarseIters><sfx>`, cell assignment of `codeOn` →
    * `cells<sfx>`, per-subspace Lloyd + coding of `codeOn` against
    * `trainOn`-trained codebooks, sub-order reconstruction →
    * `recon<sfx> (vec_id, dv)`. The s13/s18 frozen-quantizer
    * convention: `trainOn` scopes BOTH quantizer levels' training
    * sets, `codeOn` the vectors the index holds. */
  private def pqIndexCtesSql(nCentroids: Int, coarseIters: Int,
      subspaces: Int, subLen: Int, codebook: Int, pqIters: Int,
      trainN: Int, trainOn: String, codeOn: String,
      sfx: String = ""): String = {
    val subCtes = (0 until subspaces).map { m =>
      val lo = m * subLen + 1
      val hi = (m + 1) * subLen
      s"""src${sfx}_$m AS (SELECT vec_id, v[$lo:$hi] AS v FROM $codeOn),
         |trainsrc${sfx}_$m AS (SELECT vec_id, v[$lo:$hi] AS v FROM $trainOn),
         |${lloydCtesSql(codebook, pqIters, trainN, s"${sfx}_$m",
            s"trainsrc${sfx}_$m")},
         |${assignCteSql(s"pqcells${sfx}_$m", s"c$pqIters${sfx}_$m",
            s"src${sfx}_$m")},
         |coded${sfx}_$m AS (SELECT a.vec_id, $m AS sub, c.cv
         |  FROM pqcells${sfx}_$m a JOIN c$pqIters${sfx}_$m c USING (cid))"""
        .stripMargin
    }.mkString(",\n")
    val unionCoded = (0 until subspaces)
      .map(m => s"SELECT vec_id, sub, cv FROM coded${sfx}_$m")
      .mkString(" UNION ALL ")
    s"""${lloydCtesSql(nCentroids, coarseIters, trainN, sfx, trainOn)},
       |${assignCteSql(s"cells$sfx", s"c$coarseIters$sfx", codeOn)},
       |$subCtes,
       |coded$sfx AS ($unionCoded),
       |recon$sfx AS (SELECT vec_id, flatten(list(cv ORDER BY sub)) AS dv
       |          FROM coded$sfx GROUP BY vec_id)""".stripMargin
  }

  /** The IVF-PQ serve tail over one [[pqIndexCtesSql]] level: nProbe
    * coarse probing, asymmetric cosine within probed cells against the
    * level's reconstructions, bounded ranking. */
  private def pqServeTailSql(coarseIters: Int, nProbe: Int, topK: Int,
      sfx: String = ""): String =
    s"""probes AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(${normSql("q.v")}, ${normSql("c.cv")}) DESC,
       |        c.cid) AS rn
       |    FROM q CROSS JOIN c$coarseIters$sfx c) WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT query_id, cells$sfx.vec_id AS corpus_id,
       |         list_cosine_similarity(qv, recon$sfx.dv) AS cos_sim
       |  FROM probes JOIN cells$sfx USING (cid)
       |       JOIN recon$sfx ON recon$sfx.vec_id = cells$sfx.vec_id
       |  WHERE cells$sfx.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, corpus_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, corpus_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, corpus_id, cos_sim
       |FROM ranked WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** The shared preamble every PQ-family oracle opens with: the raw
    * corpus/query split plus the scenario slices. */
  private val pqPreambleSql: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
       |corpus0 AS (SELECT vec_id, v FROM corpus WHERE vec_id % 10 <> 9),
       |corpusKeep AS (SELECT vec_id, v FROM corpus WHERE vec_id % 10 <> 7),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5)""".stripMargin

  private def s17OracleSql(nCentroids: Int, coarseIters: Int, nProbe: Int,
      subspaces: Int, subLen: Int, codebook: Int, pqIters: Int,
      topK: Int, trainN: Int, trainOn: String = "corpus",
      serveOn: String = "corpus"): String =
    s"""WITH $pqPreambleSql,
       |${pqIndexCtesSql(nCentroids, coarseIters, subspaces, subLen,
          codebook, pqIters, trainN, trainOn, serveOn)},
       |${pqServeTailSql(coarseIters, nProbe, topK)}""".stripMargin

  /** s20: the s15 drift statistic over the COMPOUND index — per-cell
    * exact-decimal means of the NORMALIZED RECONSTRUCTIONS (cells hold
    * codes; reconstructions are all the index can still see),
    * displacement on the 10^6 integer grid. Scenario = s18's drifted
    * index (quantizers trained on the base, full corpus appended
    * frozen). */
  private def s20OracleSql(nCentroids: Int, coarseIters: Int,
      subspaces: Int, subLen: Int, codebook: Int, pqIters: Int,
      trainN: Int): String =
    s"""WITH $pqPreambleSql,
       |${pqIndexCtesSql(nCentroids, coarseIters, subspaces, subLen,
          codebook, pqIters, trainN, "corpus0", "corpus")},
       |nrm AS (SELECT cells.cid, cells.vec_id, ${normSql("recon.dv")} AS nv
       |        FROM cells JOIN recon USING (vec_id)),
       |pd AS (SELECT cid, i,
       |         CAST(CAST(SUM(CAST(val AS DECIMAL(27,20))) AS STRING) AS DOUBLE)
       |           / COUNT(*) AS m
       |       FROM (SELECT cid, unnest(nv) AS val,
       |               generate_subscripts(nv, 1) AS i FROM nrm)
       |       GROUP BY cid, i),
       |nm AS (SELECT cid, list(m ORDER BY i) AS mv FROM pd GROUP BY cid),
       |nv2 AS (SELECT cid, COUNT(*) AS n_vecs FROM cells GROUP BY cid)
       |SELECT c.cid, CAST(COALESCE(nv2.n_vecs, 0) AS BIGINT) AS n_vecs,
       |  CASE WHEN nm.mv IS NULL THEN NULL ELSE
       |    CAST(floor(greatest(
       |      1 - list_dot_product(${normSql("c.cv")}, ${normSql("nm.mv")}),
       |      0.0e0) * 1000000.0e0) AS BIGINT)
       |  END AS drift_e6
       |FROM c$coarseIters c LEFT JOIN nm USING (cid) LEFT JOIN nv2 USING (cid)
       |ORDER BY c.cid""".stripMargin

  /** s21: the retrain collapse for the compound index — level A is
    * s18's drifted index (trained on the base, full corpus coded
    * frozen); its decode `rcA` is everything the index still holds;
    * the served level is ONE BUILD over rcA (both quantizer levels
    * retrained, holdings re-coded) — exactly what
    * [[retrainIvfPqIndex]] executes. */
  private def s21OracleSql(nCentroids: Int, coarseIters: Int, nProbe: Int,
      subspaces: Int, subLen: Int, codebook: Int, pqIters: Int,
      topK: Int, trainN: Int): String =
    s"""WITH $pqPreambleSql,
       |${pqIndexCtesSql(nCentroids, coarseIters, subspaces, subLen,
          codebook, pqIters, trainN, "corpus0", "corpus", "A")},
       |rcA AS MATERIALIZED (SELECT vec_id, dv AS v FROM reconA),
       |${pqIndexCtesSql(nCentroids, coarseIters, subspaces, subLen,
          codebook, pqIters, trainN, "rcA", "rcA")},
       |${pqServeTailSql(coarseIters, nProbe, topK)}""".stripMargin

  /** e27: the online PQ policy loop, restated level by level. The
    * measured drift-excess separation pins the state machine to
    * (skip, fire): level A = build(base), then frozen appends of the
    * in-distribution slice (excess ≤ 0.030 — below the 0.15 bar, NO
    * retrain) and of the off-distribution clump (its receiving cell's
    * excess ≥ 0.494 — fires), so every code in the index is an
    * A-level code when the one retrain runs: build over the decode of
    * corpus ∪ clump. A run that spuriously retrained on the calm
    * batch — or failed to retrain on the clump — serves different
    * bits and hash-mismatches: the oracle checks the firing pattern
    * in BOTH directions, which the old fire-on-everything bar could
    * not (a policy stuck on "always retrain" would have passed it).
    * The clump transforms the raw FLOAT embeddings (abs + 2.0f in
    * float, then the cast to double) exactly as the engine's batch
    * file is written. */
  private def e27OracleSql(nCentroids: Int, coarseIters: Int, nProbe: Int,
      subspaces: Int, subLen: Int, codebook: Int, pqIters: Int,
      topK: Int, trainN: Int): String =
    s"""WITH $pqPreambleSql,
       |clump AS (SELECT vec_id + 2000000000 AS vec_id,
       |         list_transform(embedding,
       |           x -> CAST(abs(x) + CAST(2.0 AS REAL) AS DOUBLE)) AS v
       |       FROM embeddings WHERE vec_id >= 5 AND vec_id % 10 = 9),
       |augA AS (SELECT vec_id, v FROM corpus UNION ALL
       |         SELECT vec_id, v FROM clump),
       |${pqIndexCtesSql(nCentroids, coarseIters, subspaces, subLen,
          codebook, pqIters, trainN, "corpus0", "augA", "A")},
       |rcA AS MATERIALIZED (SELECT vec_id, dv AS v FROM reconA),
       |${pqIndexCtesSql(nCentroids, coarseIters, subspaces, subLen,
          codebook, pqIters, trainN, "rcA", "rcA")},
       |${pqServeTailSql(coarseIters, nProbe, topK)}""".stripMargin

  /** DuckDB SQL for the s03 IVF pipeline: THREE unrolled Lloyd
    * iterations reproducing [[kmeansCentroids]] exactly — assignment by
    * normalized dot (ties → lowest cid), per-dimension means summed in
    * vec_id order (`list_sum(list(val ORDER BY vec_id))` is a sequential
    * fold, matching our sorted collect_list fold) — then cell
    * assignment, nProbe centroid probing, and in-cell exact ranking. */
  /** `trainOn` names the CTE the quantizer trains on: "corpus" (s03 —
    * train and assign the same set) or "corpus0" (s13 — train on the
    * base only, assign the base PLUS the appended batch against those
    * frozen centroids: the no-retrain index-update contract).
    * `serveOn` names the CTE whose vectors the index HOLDS at serve
    * time: "corpus" everywhere except s14, which serves "corpusKeep"
    * (the corpus minus the erased slice) against centroids trained on
    * the full corpus — the no-retrain delete contract. */
  private def s03OracleSql(k: Int, iters: Int, nProbe: Int,
      topK: Int, trainN: Int, trainOn: String = "corpus",
      serveOn: String = "corpus"): String = {
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
       |corpus0 AS (SELECT vec_id, v FROM corpus WHERE vec_id % 10 <> 9),
       |corpusKeep AS (SELECT vec_id, v FROM corpus WHERE vec_id % 10 <> 7),
       |corpusN AS (SELECT vec_id, ${normSql("v")} AS v FROM corpus),
       |corpusAug AS (SELECT vec_id, v FROM corpus UNION ALL
       |              SELECT vec_id + 1000000000 AS vec_id,
       |                list_transform(v, x -> -x) AS v
       |              FROM corpus WHERE vec_id % 10 = 9),
       |corpusAugN AS (SELECT vec_id, ${normSql("v")} AS v FROM corpusAug),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |${lloydCtesSql(k, iters, trainN, "", trainOn)},
       |${assignCteSql("cells", s"c$iters", serveOn)},
       |probes AS (
       |  SELECT query_id, qvn, cid FROM (
       |    SELECT q.vec_id AS query_id, ${normSql("q.v")} AS qvn, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(${normSql("q.v")}, ${normSql("c.cv")}) DESC,
       |        c.cid) AS rn
       |    FROM q CROSS JOIN c$iters c) WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT query_id, cells.vec_id AS corpus_id,
       |    list_dot_product(qvn, ${normSql("cells.v")}) AS cos_sim
       |  FROM probes JOIN cells USING (cid)
       |  WHERE cells.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, corpus_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, corpus_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, corpus_id, cos_sim
       |FROM ranked WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** All three ANN tiers carry full oracles: s01 is exact, s02's planes
    * are portable constants, s03's k-means is reproduced by unrolled
    * deterministic Lloyd SQL. */
  private val oracle0: Map[String, String] = Map(
    "s10_random_projection" -> s10OracleSql(outDims = 16, dims = 64,
      seed0 = 1000),
    // s09: the BM25 more-like-this chain (t16's per-term algebra with
    // doc-as-query term sets) + s01's cosine chain, fused by the same
    // fixed RRF expression (lex term + vec term, ranks as integers)
    "s09_hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, ${graft.text.TextAnalysis.toksSql} AS toks
         |           FROM documents),
         |d AS (SELECT doc_id AS corpus_id, CAST(len(toks) AS BIGINT) AS dl,
         |        toks
         |      FROM t WHERE doc_id >= 5),
         |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
         |       FROM t WHERE doc_id < 5),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |         CAST(CAST(SUM(dl) AS STRING) AS DOUBLE) / COUNT(*) AS avgdl FROM d),
         |tok AS (SELECT corpus_id, dl, unnest(toks) AS term FROM d),
         |tf AS (SELECT corpus_id, dl, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN (SELECT DISTINCT term FROM qt)
         |       GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT query_id, corpus_id, qt.term,
         |         ((st.n_docs - CAST(df AS DOUBLE) + 0.5)
         |          / (CAST(df AS DOUBLE) + 0.5))
         |         * ((CAST(tf AS DOUBLE) * 2.2)
         |            / (CAST(tf AS DOUBLE)
         |               + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         |                        / st.avgdl))) AS tscore
         |       FROM qt JOIN tf USING (term) JOIN dfq USING (term)
         |       CROSS JOIN st),
         |lexpd AS (SELECT query_id, corpus_id,
         |            list_sum(list(tscore ORDER BY term)) AS score
         |          FROM sc GROUP BY 1, 2),
         |lexr AS (SELECT query_id, corpus_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, corpus_id) AS lex_rank
         |         FROM lexpd),
         |lex AS (SELECT * FROM lexr WHERE lex_rank <= 20),
         |e AS (SELECT vec_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, v AS cv FROM e WHERE vec_id >= 5),
         |scored AS (SELECT query_id, corpus_id,
         |             list_cosine_similarity(qv, cv) AS cos_sim
         |           FROM q CROSS JOIN c WHERE corpus_id <> query_id),
         |vecr AS (SELECT query_id, corpus_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos_sim DESC, corpus_id) AS vec_rank
         |         FROM scored),
         |vec AS (SELECT * FROM vecr WHERE vec_rank <= 20),
         |f AS (SELECT query_id, corpus_id, lex_rank, vec_rank,
         |        COALESCE(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0)
         |        + COALESCE(1.0 / (60.0 + CAST(vec_rank AS DOUBLE)), 0.0)
         |          AS rrf_score
         |      FROM lex FULL JOIN vec USING (query_id, corpus_id)),
         |fr AS (SELECT query_id, corpus_id, lex_rank, vec_rank, rrf_score,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY rrf_score DESC, corpus_id) AS rrf_rank
         |       FROM f)
         |SELECT query_id, rrf_rank, corpus_id, lex_rank, vec_rank,
         |  rrf_score
         |FROM fr WHERE rrf_rank <= 10
         |ORDER BY query_id, rrf_rank""".stripMargin,
    "s03_ann_ivf" -> s03OracleSql(k = 10, iters = 3, nProbe = 4, topK = 10, trainN = 256),
    // the persisted-index serve path returns s03's results verbatim
    "s12_ivf_persisted" -> s03OracleSql(k = 10, iters = 3, nProbe = 4, topK = 10, trainN = 256),
    // streamed query micro-batches against the persisted index: serving
    // is per-query, so the union over batches IS the batch answer
    "e19_stream_ann" -> s03OracleSql(k = 10, iters = 3, nProbe = 4, topK = 10, trainN = 256),
    // quantizer trained on the base only, full corpus assigned against
    // those frozen centroids — the relational collapse of build+append
    "s13_ivf_append" -> s03OracleSql(k = 10, iters = 3, nProbe = 4, topK = 10, trainN = 256, trainOn = "corpus0"),
    // quantizer trained on the FULL corpus, only the kept vectors
    // assigned/served — the relational collapse of build+delete
    "s14_ivf_delete" -> s03OracleSql(k = 10, iters = 3, nProbe = 4, topK = 10, trainN = 256, serveOn = "corpusKeep"),
    // retrain collapses relationally to spherical k-means over the
    // NORMALIZED contents (trainOn=corpusN) with the stored vectors
    // migrated as-is (serveOn=corpus — serve-time normSql restores
    // exactly the stored n(v)) — build+append+retrain ≡ one build,
    // bit-exactly, for ANY number of retrains
    "s16_ivf_retrain" -> s03OracleSql(k = 10, iters = 3, nProbe = 4, topK = 10, trainN = 256, trainOn = "corpusN", serveOn = "corpus"),
    // the online loop's final index after the last (always-firing)
    // retrain ≡ one build over the normalized AUGMENTED corpus — the
    // s16 collapse applied to whatever the stream ingested, however
    // many intermediate retrains the policy fired
    "e23_stream_retrain" -> s03OracleSql(k = 10, iters = 3, nProbe = 4, topK = 10, trainN = 256, trainOn = "corpusAugN", serveOn = "corpusAug"),
    // per-cell displacement over s13's scenario: train on the base,
    // assign the full (appended) corpus, then per-dim EXACT-DECIMAL
    // means of the normalized members vs the stored centroid
    "s15_ivf_drift" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
         |corpus0 AS (SELECT vec_id, v FROM corpus WHERE vec_id % 10 <> 9),
         |${lloydCtesSql(10, 3, 256, "", "corpus0")},
         |${assignCteSql("cells", "c3", "corpus")},
         |nrm AS (SELECT cid, vec_id, ${normSql("v")} AS nv FROM cells),
         |pd AS (SELECT cid, i,
         |         CAST(CAST(SUM(CAST(val AS DECIMAL(27,20))) AS STRING) AS DOUBLE)
         |           / COUNT(*) AS m
         |       FROM (SELECT cid, unnest(nv) AS val,
         |               generate_subscripts(nv, 1) AS i FROM nrm)
         |       GROUP BY cid, i),
         |nm AS (SELECT cid, list(m ORDER BY i) AS mv FROM pd GROUP BY cid),
         |nv2 AS (SELECT cid, COUNT(*) AS n_vecs FROM cells GROUP BY cid)
         |SELECT c.cid, CAST(COALESCE(nv2.n_vecs, 0) AS BIGINT) AS n_vecs,
         |  CASE WHEN nm.mv IS NULL THEN NULL ELSE
         |    CAST(floor(greatest(
         |      1 - list_dot_product(${normSql("c.cv")}, ${normSql("nm.mv")}),
         |      0.0e0) * 1000000.0e0) AS BIGINT)
         |  END AS drift_e6
         |FROM c3 c LEFT JOIN nm USING (cid) LEFT JOIN nv2 USING (cid)
         |ORDER BY c.cid""".stripMargin,
    "s06_ann_pq" -> s06OracleSql(subspaces = 4, subLen = 16, codebook = 16,
      iters = 2, topK = 10, trainN = 256),
    // s17: the s03 coarse chain composed with the s06 PQ chain —
    // probe-restricted asymmetric scoring against reconstructions
    "s17_ivf_pq" -> s17OracleSql(nCentroids = 10, coarseIters = 3,
      nProbe = 4, subspaces = 4, subLen = 16, codebook = 16, pqIters = 2,
      topK = 10, trainN = 256),
    // s18: both quantizer levels train on the BASE only; the full
    // (appended) corpus is assigned and coded against them — the
    // frozen-quantizer append collapse at both levels
    "s18_ivf_pq_append" -> s17OracleSql(nCentroids = 10, coarseIters = 3,
      nProbe = 4, subspaces = 4, subLen = 16, codebook = 16, pqIters = 2,
      topK = 10, trainN = 256, trainOn = "corpus0"),
    // s19: quantizers trained on the FULL corpus, index holdings
    // scoped to the kept vectors — the no-retrain delete collapse
    "s19_ivf_pq_delete" -> s17OracleSql(nCentroids = 10, coarseIters = 3,
      nProbe = 4, subspaces = 4, subLen = 16, codebook = 16, pqIters = 2,
      topK = 10, trainN = 256, serveOn = "corpusKeep"),
    // s20: the compound index's staleness statistic — drift of the
    // normalized reconstruction means, s18's drifted scenario
    "s20_ivf_pq_drift" -> s20OracleSql(nCentroids = 10, coarseIters = 3,
      subspaces = 4, subLen = 16, codebook = 16, pqIters = 2,
      trainN = 256),
    // s21: retrain = ONE BUILD over the decode of the drifted index,
    // both quantizer levels — the compound collapse law
    "s21_ivf_pq_retrain" -> s21OracleSql(nCentroids = 10, coarseIters = 3,
      nProbe = 4, subspaces = 4, subLen = 16, codebook = 16, pqIters = 2,
      topK = 10, trainN = 256),
    // e27: the online policy loop's pinned firing pattern, restated as
    // the exact three-level build∘decode∘append nest
    "e27_stream_pq_retrain" -> e27OracleSql(nCentroids = 10,
      coarseIters = 3, nProbe = 4, subspaces = 4, subLen = 16,
      codebook = 16, pqIters = 2, topK = 10, trainN = 256),
    // the SQL ANN surface shares its DataFrame twins' collapses
    // verbatim — same indexes, same serve algebra, reached from SQL
    "x44_sql_ann_topk" -> s03OracleSql(k = 10, iters = 3, nProbe = 4,
      topK = 10, trainN = 256),
    "x45_sql_ann_pq_topk" -> s17OracleSql(nCentroids = 10,
      coarseIters = 3, nProbe = 4, subspaces = 4, subLen = 16,
      codebook = 16, pqIters = 2, topK = 10, trainN = 256),
    // the same quantize/dequantize IEEE expression the engine ships,
    // restated over unnested dims; scoring via list_cosine_similarity
    // (bit-identical to the engine's sequential-fold cosine)
    "s11_ann_rerank" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
        |cv AS (SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS i
        |       FROM c),
        |dims AS (SELECT i, min(val) AS mn, max(val) AS mx FROM cv GROUP BY i),
        |dq AS (SELECT vec_id, list(d ORDER BY i) AS dv FROM (
        |         SELECT cv.vec_id, cv.i,
        |           CASE WHEN dims.mx = dims.mn THEN dims.mn
        |                ELSE dims.mn + (round(((cv.val - dims.mn) * 127.0)
        |                  / (dims.mx - dims.mn)) * (dims.mx - dims.mn)) / 127.0
        |           END AS d
        |         FROM cv JOIN dims USING (i))
        |       GROUP BY vec_id),
        |scored AS (
        |  SELECT q.vec_id AS query_id, dq.vec_id AS corpus_id,
        |         list_cosine_similarity(q.v, dq.dv) AS cos_sim
        |  FROM q CROSS JOIN dq WHERE dq.vec_id <> q.vec_id),
        |cand AS (
        |  SELECT query_id, corpus_id FROM (
        |    SELECT query_id, corpus_id,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY cos_sim DESC, corpus_id) AS rank
        |    FROM scored) WHERE rank <= 40),
        |ex AS (
        |  SELECT cand.query_id, cand.corpus_id,
        |         list_cosine_similarity(q.v, c2.v) AS cos_sim
        |  FROM cand JOIN q ON q.vec_id = cand.query_id
        |            JOIN c c2 ON c2.vec_id = cand.corpus_id),
        |r2 AS (SELECT query_id, corpus_id, cos_sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cos_sim DESC, corpus_id) AS rank
        |       FROM ex)
        |SELECT query_id, rank, corpus_id, cos_sim
        |FROM r2 WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "s05_ann_quantized" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
        |cv AS (SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS i
        |       FROM c),
        |dims AS (SELECT i, min(val) AS mn, max(val) AS mx FROM cv GROUP BY i),
        |dq AS (SELECT vec_id, list(d ORDER BY i) AS dv FROM (
        |         SELECT cv.vec_id, cv.i,
        |           CASE WHEN dims.mx = dims.mn THEN dims.mn
        |                ELSE dims.mn + (round(((cv.val - dims.mn) * 127.0)
        |                  / (dims.mx - dims.mn)) * (dims.mx - dims.mn)) / 127.0
        |           END AS d
        |         FROM cv JOIN dims USING (i))
        |       GROUP BY vec_id),
        |scored AS (
        |  SELECT q.vec_id AS query_id, dq.vec_id AS corpus_id,
        |         list_cosine_similarity(q.v, dq.dv) AS cos_sim
        |  FROM q CROSS JOIN dq WHERE dq.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT query_id, corpus_id, cos_sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos_sim DESC, corpus_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, corpus_id, cos_sim
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "s02_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
         |cb AS (${bucketSql("c", 4, 8, 64)}),
         |qb AS (${bucketSql("q", 4, 8, 64)}),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
         |         FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
         |         WHERE cb.vec_id <> qb.vec_id),
         |n AS (SELECT vec_id,
         |             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
         |      FROM e),
         |ranked AS (
         |  SELECT query_id, corpus_id,
         |         list_dot_product(a.vn, b.vn) AS cos_sim,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY list_dot_product(a.vn, b.vn) DESC, corpus_id) AS rank
         |  FROM cand JOIN n a ON a.vec_id = query_id
         |            JOIN n b ON b.vec_id = corpus_id)
         |SELECT query_id, rank, corpus_id, cos_sim
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "s04_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id AS corpus_id, v AS cv FROM e
        |      WHERE vec_id >= 5 AND label = 1),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |         list_cosine_similarity(qv, cv) AS cos_sim
        |  FROM q CROSS JOIN c WHERE corpus_id <> query_id),
        |ranked AS (
        |  SELECT query_id, corpus_id, cos_sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos_sim DESC, corpus_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, corpus_id, cos_sim
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "s01_knn_brute" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id AS corpus_id, v AS cv FROM e WHERE vec_id >= 5),
        |scored AS (
        |  SELECT query_id, corpus_id,
        |         list_cosine_similarity(qv, cv) AS cos_sim
        |  FROM q CROSS JOIN c WHERE corpus_id <> query_id),
        |ranked AS (
        |  SELECT query_id, corpus_id, cos_sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos_sim DESC, corpus_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, corpus_id, cos_sim
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // the two top-10 chains are s01's and s02's oracles verbatim (each
    // bit-matches its engine side, and only the ID SETS meet here);
    // recall is one integer division
    "s08_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, v AS cv FROM e WHERE vec_id >= 5),
         |bscored AS (
         |  SELECT query_id, corpus_id,
         |         list_cosine_similarity(qv, cv) AS cos_sim
         |  FROM q CROSS JOIN c WHERE corpus_id <> query_id),
         |brute AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT query_id, corpus_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos_sim DESC, corpus_id) AS rank
         |    FROM bscored) WHERE rank <= 10),
         |c2 AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
         |q2 AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
         |cb AS (${bucketSql("c2", 4, 8, 64)}),
         |qb AS (${bucketSql("q2", 4, 8, 64)}),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
         |         FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
         |         WHERE cb.vec_id <> qb.vec_id),
         |n AS (SELECT vec_id,
         |             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
         |      FROM e),
         |approx AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT query_id, corpus_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY list_dot_product(a.vn, b.vn) DESC, corpus_id)
         |             AS rank
         |    FROM cand JOIN n a ON a.vec_id = query_id
         |              JOIN n b ON b.vec_id = corpus_id) WHERE rank <= 10),
         |perq AS (
         |  SELECT b.query_id, COUNT(*) AS n_brute,
         |    CAST(SUM(CASE WHEN a.corpus_id IS NOT NULL
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM brute b LEFT JOIN approx a
         |    ON a.query_id = b.query_id AND a.corpus_id = b.corpus_id
         |  GROUP BY 1)
         |SELECT query_id, n_brute, n_hit,
         |  CAST(n_hit AS DOUBLE) / n_brute AS recall
         |FROM perq ORDER BY query_id""".stripMargin,
    // cosine only ranks (s01 pins its values bit-exact); the reported
    // fractions are single integer-sum divisions
    "s07_knn_label_eval" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
        |      FROM e WHERE vec_id % 97 = 0),
        |scored AS (
        |  SELECT query_id, q_label, c.vec_id AS corpus_id,
        |         c.label AS c_label,
        |         list_cosine_similarity(qv, c.v) AS cos_sim
        |  FROM q CROSS JOIN e c WHERE c.vec_id <> query_id),
        |nn AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, corpus_id) AS rank
        |    FROM scored) WHERE rank <= 10),
        |perq AS (
        |  SELECT query_id, q_label,
        |    MAX(CASE WHEN rank = 1 AND c_label = q_label
        |             THEN 1 ELSE 0 END) AS top1_hit,
        |    SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS n_match,
        |    COUNT(*) AS n_nn
        |  FROM nn GROUP BY 1, 2)
        |SELECT q_label, COUNT(*) AS n_queries,
        |  CAST(CAST(SUM(top1_hit) AS STRING) AS DOUBLE) / COUNT(*) AS top1_acc,
        |  CAST(CAST(SUM(n_match) AS STRING) AS DOUBLE) / SUM(n_nn) AS knn_agreement
        |FROM perq GROUP BY 1 ORDER BY 1""".stripMargin,
  )

  /** The SQL drift report (x46) is the SAME statistic over the SAME
    * drifted index s15 oracles, reached from the console. */
  val oracle: Map[String, String] =
    oracle0 + ("x46_sql_ann_drift" -> oracle0("s15_ivf_drift"))
}
