package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID, document
  * fingerprinting. All are narrow per-row transformations built from
  * codegen'd builtins (no UDFs) — they scan, compute, and keep whatever
  * partitioning the input has, so they scale linearly with data size and
  * never shuffle.
  *
  * Portability contract: every expression here has an exact DuckDB
  * equivalent in [[oracle]] (same regex semantics, same md5, same double
  * arithmetic tree), so results hash-match the oracle bit-for-bit.
  */
object TextAnalysis {

  /** Normalized word tokens: lowercase, non-alphanumerics collapsed to
    * single spaces, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " "),
      t => t =!= "")

  /** BPE-ish subword-count estimate: word-or-punctuation pieces plus a
    * length penalty for long words (a public rule-of-thumb proxy for BPE
    * vocab splits — no tokenizer model needed). */
  def tokenEstimate(text: Column): Column = {
    val pieces = regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))
    // every ~4 chars past the first adds a subword piece (floor division)
    size(pieces).cast("long") + aggregate(pieces, lit(0L),
      (acc, p) => acc + floor((length(p) - 1) / 4).cast("long"))
  }

  /** English stopword set (public, tiny). */
  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "nicht")
  private val stopEs = Seq("el", "los", "las", "y", "es", "no")
  private val stopFr = Seq("le", "la", "les", "et", "est", "ne")

  private def stopCount(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => t.isin(set: _*)))

  /** Quality features + composite score (length / punctuation / stopword
    * ratios — the standard cheap heuristics for corpus filtering). The
    * token array is materialized once per row (`_toks`) — inlining
    * `tokens(text)` into each feature would re-run the regex tokenizer
    * per feature. */
  def qualityFeatures(df0: DataFrame, text: String): DataFrame = {
    val df = df0.withColumn("_toks", tokens(col(text)))
    val toks = col("_toks")
    val nChars = length(col(text)).cast("double")
    val nToks = size(toks).cast("double")
    // ratio guards: a zero-length doc must yield 0.0, not NaN/Inf (and
    // the DuckDB oracle carries the same CASE guard, so parity holds on
    // corpora that DO contain empty documents)
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("alpha_ratio",
        when(nChars > 0,
          length(regexp_replace(col(text), "[^A-Za-z]", "")).cast("double") / nChars)
          .otherwise(lit(0.0)))
      .withColumn("digit_ratio",
        when(nChars > 0,
          length(regexp_replace(col(text), "[^0-9]", "")).cast("double") / nChars)
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(nToks > 0, stopCount(toks, stopEn).cast("double") / nToks)
          .otherwise(lit(0.0)))
      .withColumn("avg_token_len",
        when(nToks > 0,
          aggregate(toks, lit(0), (a, t) => a + length(t)).cast("double") / nToks)
          .otherwise(lit(0.0)))
      .withColumn("quality_score",
        col("alpha_ratio") * 0.5 + col("stopword_ratio") * 0.3 +
          when(col("n_tokens") >= 20 && col("n_tokens") <= 1000, 0.2)
            .otherwise(0.0))
      .drop("_toks")
  }

  /** Gopher-style document-level quality rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1 — the public doc-filter recipe C4/Gopher
    * pipelines apply before training): word-count bounds, mean-word-
    * length bounds, alphabetic-word fraction, and a minimum stopword
    * hit count. Emits the per-rule evidence plus the composite `keep`
    * verdict, so a pipeline can audit WHY a document dropped (the
    * standard practice — filters are tuned by inspecting the evidence
    * columns, not the verdict).
    *
    * Everything is one narrow codegen'd projection over a single
    * materialized token array — no shuffle, no UDF; at 100 TB this is
    * a map-only pass that fuses into whatever scan feeds it. */
  def gopherRules(df0: DataFrame, idCol: String, textCol: String,
      minWords: Int = 30, maxWords: Int = 80,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val df = df0.withColumn("_toks", tokens(col(textCol)))
    val toks = col("_toks")
    val nW = size(toks).cast("long")
    val meanLen = when(nW > 0,
      aggregate(toks, lit(0), (a, t) => a + length(t)).cast("double") /
        nW.cast("double")).otherwise(lit(0.0))
    val alphaFrac = when(nW > 0,
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
        nW.cast("double")).otherwise(lit(0.0))
    val stopHits = stopCount(toks, stopEn).cast("long")
    df.select(col(idCol),
      nW.as("n_words"),
      meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.as("n_stop_hits"),
      (nW >= minWords && nW <= maxWords &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        alphaFrac >= minAlphaFrac &&
        stopHits >= minStopHits).as("keep"))
  }

  /** n-gram-heuristic language ID over a MATERIALIZED token-array
    * column: per-language stopword hit counts, fixed-priority argmax
    * (de < en < es < fr lexicographic tie-break), 'und'(etermined) when
    * nothing matches. */
  def languageIdFromTokens(toks: Column): Column = {
    val (de, en, es, fr) = (stopCount(toks, stopDe), stopCount(toks, stopEn),
      stopCount(toks, stopEs), stopCount(toks, stopFr))
    when(greatest(de, en, es, fr) === 0, "und")
      .when(de >= en && de >= es && de >= fr, "de")
      .when(en >= es && en >= fr, "en")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Convenience single-expression form; hot paths should project the
    * token array once and use [[languageIdFromTokens]] (the inline form
    * re-runs the tokenizer for every stopword set). */
  def languageId(text: Column): Column =
    languageIdFromTokens(tokens(text))

  /** Content fingerprint: md5 of the normalized token stream — invariant
    * to case/punctuation/whitespace, portable across engines. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** 64-bit rolling-hash fingerprint (xxhash64; engine-native fast path
    * for in-Spark dedup — not oracle-portable, spec-tested instead). */
  def fingerprint64(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(text)))

  /** Fixed-size token chunks with overlap — the sequence-packing
    * pre-pass (split long docs into model-window-sized pieces). Narrow:
    * one posexplode per doc, chunk count ∝ doc length. Emits
    * (id, chunk_id, chunk_text, n_chunk_tokens). */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val stride = chunkTokens - overlap
    val withToks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val nChunks = greatest(
      ceil((size(col("_toks")) - overlap).cast("double") / stride)
        .cast("int"), lit(1))
    withToks
      .select(col(idCol), col("_toks"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("chunk_id", "_c")))
      .withColumn("chunk_id", col("chunk_id").cast("long"))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", slice(col("_toks"), col("chunk_id") * stride + 1,
          lit(chunkTokens))).as("chunk_text"),
        least(size(col("_toks")) - col("chunk_id") * stride,
          lit(chunkTokens)).cast("long").as("n_chunk_tokens"))
  }

  /** Within-doc repetition stats over word k-grams — the standard
    * repetition quality signals for corpus filtering (duplicate-gram
    * fraction; share of the single most frequent gram). One explode +
    * one (id, gram) groupBy + one id aggregation; docs shorter than k
    * tokens report zeros. Scale: grouping keys are (doc, gram) — high
    * cardinality, uniformly spread, classic map-side-combine shape. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val grams = docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(graft.dedup.Dedup.shinglesFromTokens(col("_toks"), k))
          .as("gram"))
    val perDoc = grams.groupBy(idCol, "gram")
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("top_count"), lit(0L)).as("top_count"))
      .withColumn("dup_fraction",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") /
            col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("top_fraction",
        when(col("n_grams") > 0,
          col("top_count").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Sequence packing: assign whole docs to fixed token-budget bins by
    * contiguous fill — docs are laid out in a deterministic md5 order
    * within each stratum, and a doc's bin is the budget-window its
    * START offset falls in (a doc may straddle a boundary; the packer
    * downstream handles the split, this op decides placement).
    *
    * Scale: a single running-sum window per stratum would make one
    * reducer sort an entire language's share of the corpus (~half of
    * it, for "en"). Instead each stratum is split into `buckets`
    * md5-derived sub-strata: the running sum is windowed per
    * (stratum, bucket) — so the sort parallelism scales with the
    * bucket knob, not the stratum cardinality — and stitched back into
    * one global order with per-bucket token offsets (an exclusive
    * prefix sum over a strata×buckets-row aggregate, broadcast back).
    * The result is IDENTICAL to one window ordered by
    * (bucket, md5(id), id): bucket-major document order, exact global
    * cumulative offsets. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budget: Int, strataCol: String, buckets: Int = 64): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val docHash = md5(col(idCol).cast("string"))
    // a null id hashes to a null bucket — pin it to bucket 0 rather
    // than letting the stitch join silently drop the row on a null key
    // (the single-window form keeps null-id rows)
    val bucket = coalesce(
      conv(substring(docHash, 1, 8), 16, 10).cast("long") % buckets, lit(0L))
    val base = docs.select(col(idCol), col(strataCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      bucket.as("_bucket"))
    val wLocal = Window.partitionBy(col(strataCol), col("_bucket"))
      .orderBy(docHash, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("_cum_local", sum(col("n_tokens")).over(wLocal))
    // strata × buckets rows: exclusive prefix sum of bucket totals
    // within each stratum = the global offset of each bucket's first
    // doc. Totals come from LOCAL (max of the running sum), not from a
    // second aggregate over base: that keeps the subtree under the
    // shuffle identical to the window's, so Spark reuses one exchange
    // and the corpus is scanned + tokenized ONCE for the whole op.
    val offsets = local.groupBy(col(strataCol), col("_bucket"))
      .agg(max(col("_cum_local")).as("_bucket_total"))
      .withColumn("_offset",
        coalesce(sum(col("_bucket_total")).over(
          Window.partitionBy(col(strataCol)).orderBy(col("_bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(strataCol).as("_o_strata"), col("_bucket").as("_o_bucket"),
        col("_offset"))
    // null-safe join keys: a null stratum is a valid window partition
    // and must pick up its offset row too
    val joined = local.join(broadcast(offsets),
      local(strataCol) <=> offsets("_o_strata") &&
        local("_bucket") === offsets("_o_bucket"))
    joined
      .withColumn("_cum", col("_offset") + col("_cum_local"))
      .select(col(idCol), col(strataCol), col("n_tokens"),
        expr(s"(_cum - n_tokens) div $budget").as("bin"))
  }

  /** Count–Min sketch of corpus token frequencies: a depth × width
    * counter table where row d counts tokens by an md5-derived bucket —
    * the mergeable fixed-size structure for heavy-hitter / frequency
    * estimation when the exact vocabulary doesn't fit anywhere
    * (estimate(token) = min over rows of its bucket counter;
    * overestimates only). The sketch is DETERMINISTIC (md5 buckets, no
    * RNG), so the full counter table is oracle-checkable bit-for-bit,
    * and partial sketches merge by cell-wise addition — precisely one
    * groupBy shuffle on (row, bucket), a fixed depth×width cells
    * regardless of corpus size. */
  def countMinSketch(docs: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val tok = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .select(col("tok"),
        explode(array((0 until depth).map(lit): _*)).as("d"))
    tok
      .withColumn("bucket",
        conv(substring(md5(concat(col("d"), lit(":"), col("tok"))), 1, 8),
          16, 10).cast("long") % width)
      .groupBy("d", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** CMS point estimate for one token (driver-side helper over a
    * collected sketch): min over depth rows of the token's bucket. */
  def cmsEstimate(sketch: Map[(Int, Long), Long], token: String,
      depth: Int = 4, width: Int = 1024): Long =
    (0 until depth).map { d =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d:$token".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val bucket = java.lang.Long.parseLong(hex, 16) % width
      sketch.getOrElse((d, bucket), 0L)
    }.min

  /** Corpus vocabulary with document frequency and TF-IDF-ready stats:
    * one explode + one groupBy on the term. */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    tok.groupBy("term").agg(
      count(lit(1)).as("tf_corpus"),
      countDistinct(col(idCol)).as("df"))
  }

  /** Per-document top-N salient terms by a TF-IDF-style weight,
    * `tf × N / df` — the rational form rather than `tf × ln(N/df)`:
    * same ranking (ln is monotonic), but pure IEEE arithmetic, so the
    * weights are bit-portable across engines (libm's ln is not).
    * Shape: one (doc, term) aggregate, one term aggregate, an equi-join
    * on the term (AQE handles stop-word skew), and a per-doc top-N
    * window — each shuffle keyed on high-cardinality columns. Ties
    * break by term, making the top-N total.
    *
    * N (the corpus size) is derived INSIDE the plan — a one-row count
    * aggregate broadcast-cross-joined onto the weights — not by an
    * eager `docs.count()`: building the query runs no job, and the
    * count's scan is column-pruned to zero columns and runs inside the
    * same action as the rest of the pipeline (at 100 TB a separate
    * count action per invocation is a full extra pass over the
    * listing). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      topN: Int = 5): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val nDocs = docs.agg(count(lit(1)).cast("double").as("_n_docs"))
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df = tf's row count per term (tf is distinct per (doc, term)) —
    // derived from tf rather than re-aggregating tok so the scan +
    // tokenize + (doc,term) exchange are REUSED, not run twice (the
    // same exchange-reuse trick packSequences pins in its plan spec)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf").cast("double") * col("_n_docs") / col("df"))
      .drop("_n_docs")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .select(col(idCol), col("rn").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), col("tfidf"))
  }

  /** Per-stratum quality selection: keep the top `keepFrac` of each
    * stratum by [[qualityFeatures]]' composite score — the
    * quality-weighted corpus cut (the "keep the best 30% per language"
    * decision) that complements the hard Gopher gates. Rank-based, not
    * threshold-based, so every stratum contributes its declared
    * fraction regardless of score-distribution shifts between strata.
    * One window shuffle on the stratum; ceil(frac × n) is integer
    * arithmetic on a fixed double literal — deterministic keep set with
    * the id tiebreak. */
  def qualitySelect(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, "keepFrac must be in (0, 1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol)
      .orderBy(col("quality_score").desc, col(idCol))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
    qualityFeatures(docs, textCol)
      .select(col(idCol), col(strataCol), col("quality_score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(wc))
      .filter(col("rn") <= ceil(lit(keepFrac) * col("_n")))
      .drop("_n")
  }

  /** BM25 document ranking for a term query (Robertson/Spärck Jones'
    * Okapi weighting — the lexical-retrieval baseline every RAG /
    * eval-set pipeline needs next to the vector path). This variant is
    * TRANSCENDENTAL-FREE: the idf factor is the ln's argument
    * `(N − df + 0.5) / (df + 0.5)` used directly (declared contract —
    * per-term monotone in classic idf, and bit-portable across
    * engines, where libm `ln` is not), with the standard tf saturation
    * `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`, k1 = 1.2, b = 0.75.
    *
    * Determinism: per-term scores are one fixed IEEE expression tree;
    * the per-doc sum folds term scores in TERM ORDER (sorted array +
    * sequential `aggregate`), matching the oracle's ordered list_sum —
    * never the partial-aggregation arrival order, which would make the
    * double sum run-dependent.
    *
    * Scale shape: one tokenize scan; rows exploding into the (doc,
    * term) exchange are pre-filtered to the query terms (narrow);
    * corpus stats (N, avgdl, per-term df) are 1-row/|query| broadcast
    * carriers; the final top-N is a TakeOrdered, not a global sort. */
  def bm25TopDocs(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topN: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopDocs needs at least one term")
    val dls = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        size(col("_toks")).cast("long").as("dl"))
    val stats = dls.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = dls
      .select(col(idCol), col("dl"), explode(col("_toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfw = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") /
          col("avgdl")))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("tscore", idf * tfw)
    val perDoc = scored.groupBy(col(idCol), col("dl"))
      .agg(count(lit(1)).as("n_terms_hit"),
        aggregate(array_sort(collect_list(struct(col("term"),
          col("tscore")))), lit(0.0),
          (acc, x) => acc + x.getField("tscore")).as("score"))
    val top = perDoc.orderBy(col("score").desc, col(idCol)).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col(idCol), col("dl"), col("n_terms_hit"),
        col("score"))
  }

  /** Multi-query "more-like-this" BM25: each QUERY DOCUMENT's distinct
    * tokens score every corpus document with [[bm25TopDocs]]' exact
    * per-term algebra (same transcendental-free idf, same tf
    * saturation, same ordered per-doc fold), ranked top-N per query —
    * the lexical half of hybrid retrieval, where the query is itself a
    * document rather than a hand-typed term list. Query-term tf is
    * deliberately ignored (terms enter as a SET — the standard
    * treatment; BM25's query-side saturation is flat for the short
    * queries it was fit to, and a doc-as-query would otherwise drown
    * rare terms under its own stopwords).
    *
    * Scale shape: corpus stats (N, avgdl) are a 1-row broadcast; the
    * (corpus doc, term) exchange is pre-filtered to the UNION of query
    * terms via a semi-join (narrow — never the full posting explosion);
    * per-term df and the query-term list broadcast back. Candidate
    * rows are Σ_t df(t) × |queries containing t| — bounded by the
    * query fan-in, not the corpus, which is what keeps a 5-query probe
    * over a 100 TB corpus from shuffling the corpus five times. */
  def bm25MoreLikeThis(corpus: DataFrame, queryDocs: DataFrame,
      idCol: String, textCol: String, topN: Int = 20): DataFrame = {
    val cdl = corpus.select(col(idCol).as("corpus_id"),
        tokens(col(textCol)).as("_toks"))
      .select(col("corpus_id"), col("_toks"),
        size(col("_toks")).cast("long").as("dl"))
    val stats = cdl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = queryDocs.select(col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("term"))
    val tf = cdl
      .select(col("corpus_id"), col("dl"), explode(col("_toks")).as("term"))
      .join(qterms.select("term").distinct(), Seq("term"), "left_semi")
      .groupBy(col("corpus_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfw = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") /
          col("avgdl")))
    val scored = broadcast(qterms).join(tf, "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("tscore", idf * tfw)
    val perDoc = scored.groupBy(col("query_id"), col("corpus_id"))
      .agg(aggregate(array_sort(collect_list(struct(col("term"),
        col("tscore")))), lit(0.0),
        (acc, x) => acc + x.getField("tscore")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("corpus_id"))
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("score"))
  }

  /** Cross-document duplicated-span scrub (the RefinedWeb /
    * "Deduplicating Training Data Makes Language Models Better"
    * exact-substring step, arXiv:2306.01116 / 2107.06499, at token-span
    * granularity): any k-token span whose text occurs in MORE than
    * `maxDf` documents is boilerplate (navigation chrome, license
    * headers, templated sentences), and every token covered by an
    * occurrence of such a span is removed from every document — unlike
    * document-level dedup, which keeps one copy, span scrub removes
    * ALL copies, because the span's very ubiquity is what makes it
    * low-value training signal. Emits per-doc evidence
    * (n_tokens_before/after, n_spans_hit) plus the scrubbed text.
    *
    * Shape at scale: one posexplode of k-gram spans (rows ∝ corpus
    * tokens, each carrying a k-token string — the honest cost; hashing
    * the gram would shrink the shuffle but a single 64-bit collision
    * silently scrubs an innocent span, the wrong trade for a
    * destructive operator), a gram-keyed df aggregate with map-side
    * combine, a semi-join back to occurrences (AQE handles the skew a
    * viral span creates), and a per-doc covered-start list bounded by
    * doc length. The final mask is a nested HOF filter — codegen'd,
    * O(len × hits) per doc. Docs shorter than k pass through
    * untouched; the scrub never drops a document (emptied docs surface
    * with empty text and n_tokens_after=0).
    *
    * `docsPerDf > 0` makes the threshold CORPUS-RELATIVE: a span is
    * boilerplate when its df exceeds `max(maxDf, N div docsPerDf)`
    * where N is the input's document count — the `max_df`-as-fraction
    * semantics of sklearn's CountVectorizer, and the only form that
    * survives scale ("appears in more than 0.2% of the corpus" means
    * the same thing at 500 docs and at 50 M; an absolute df=1 scrubs
    * an entire 10x-replicated corpus to nothing). N derives IN-PLAN
    * (a broadcast 1-row aggregate, the tfidfTopTerms recipe), and the
    * threshold arithmetic is integer division — no float digit may
    * decide a destructive scrub. */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, maxDf: Int = 1, docsPerDf: Int = 0): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(maxDf >= 1, "maxDf must be >= 1")
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val grams = toks
      .filter(size(col("_toks")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(_toks) - $k), " +
          s"i -> concat_ws(' ', slice(_toks, i + 1, $k)))"))
        .as(Seq("pos", "gram")))
    val dfBound =
      if (docsPerDf <= 0) lit(maxDf.toLong)
      else greatest(lit(maxDf.toLong),
        expr(s"_ndocs div $docsPerDf"))
    val dfAgg = grams.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("_df"))
    val boiler =
      (if (docsPerDf <= 0) dfAgg
       else dfAgg.crossJoin(broadcast(
         docs.agg(count(lit(1)).as("_ndocs")))))
        .filter(col("_df") > dfBound)
    val starts = grams.join(boiler, Seq("gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_starts"),
        count(lit(1)).as("n_spans_hit"))
    toks.join(starts, Seq(idCol), "left")
      .withColumn("_starts",
        coalesce(col("_starts"), array().cast("array<int>")))
      .withColumn("_kept", expr(
        s"filter(transform(_toks, (w, i) -> struct(w AS w, i AS i)), " +
          s"x -> NOT exists(_starts, s -> x.i >= s AND x.i < s + $k))"))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens_before"),
        size(col("_kept")).cast("long").as("n_tokens_after"),
        coalesce(col("n_spans_hit"), lit(0L)).as("n_spans_hit"),
        concat_ws(" ", expr("transform(_kept, x -> x.w)")).as("scrubbed"))
  }

  /** Language-model quality score, CCNet-style (arXiv:1911.00359):
    * score each document by how predictable its token sequence is
    * under a model trained on the corpus itself — the standard
    * "does this read like the reference corpus" quality filter (CCNet
    * buckets Common Crawl by Wikipedia-LM perplexity; here the corpus
    * is its own reference). The model is an add-one-smoothed BIGRAM
    * model, and the emitted score is the per-doc MEAN conditional
    * probability `mean_i (c(w_i,w_{i+1})+1)/(c(w_i)+V)` — the
    * arithmetic mean rather than CCNet's log-space perplexity
    * (geometric mean), a deliberate deviation: every term is a ratio
    * of exact corpus counts, and IEEE division/addition are
    * bit-identical across engines while libm's `ln` is not, so the
    * score is oracle-checkable bit-for-bit. Both statistics order
    * "formulaic, corpus-like" above "rare-word salad"; they are NOT
    * monotone transforms of each other, so this is its own declared
    * statistic, not a perplexity approximation.
    *
    * Per-doc sums fold in TOKEN-POSITION order (sort_array over
    * (pos, p), then a sequential `aggregate`) — the same
    * specified-order fold contract the e02/e04 oracles pin, which is
    * what makes a float sum portable at all.
    *
    * Shape at scale: one bigram aggregate over the corpus (shuffle on
    * the bigram), unigram counts derived FROM the bigram aggregate
    * (no second tokenize), one vocab-size aggregate (column-pruned
    * second scan, broadcast as a 1-row frame like tfidf's N), then an
    * equi-join of doc bigrams against the two count tables (AQE
    * handles stop-word skew) and a per-doc fold bounded by doc
    * length. Docs with <2 tokens surface with n_bigrams=0 and a NULL
    * score — never silently dropped. */
  def lmQualityScore(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val big = toks
      .filter(size(col("_toks")) >= 2)
      .select(col(idCol), posexplode(expr(
        "transform(slice(_toks, 1, size(_toks) - 1), " +
          "(w, i) -> struct(w AS w1, _toks[i + 1] AS w2))"))
        .as(Seq("pos", "bg")))
      .select(col(idCol), col("pos"), col("bg.w1"), col("bg.w2"))
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val vocab = toks.select(explode(col("_toks")).as("_t"))
      .agg(countDistinct(col("_t")).as("_v"))
    val scored = big
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("p", (col("c2") + 1).cast("double") /
        (col("c1") + col("_v")).cast("double"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          sort_array(collect_list(struct(col("pos"), col("p")))),
          lit(0.0),
          (acc, x) => acc + x.getField("p")).as("_sum_p"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("_sum_p") / col("n_bigrams")).as("lm_score"))
  }

  /** PII/noise scrubbing: emails, URLs, and long digit runs replaced by
    * typed placeholder tokens. Pure regexp_replace chain — codegen'd,
    * narrow, portable regex subset (no lookarounds). */
  def scrub(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email,
      "https?://[^\\s]+", "<URL>")
    regexp_replace(url, "[0-9]{9,}", "<NUM>")
  }

  // ---- query inventory ----

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // t15: Unicode NFC canonicalization via the native codegen'd
    // graft_nfc expression — the testdata text is ASCII/NFC already
    // (normalize(x) = x would prove nothing), so each doc is decorated
    // with DECOMPOSED sequences ('e' + U+0301) that must compose to
    // 'é' under NFC; n_raw > n_norm pins that composition actually
    // happened. Oracle: DuckDB nfc_normalize over byte-identical input.
    "t15_normalize" -> ((s, dir) => {
      val raw = concat(lit("re\u0301sume\u0301 ["), col("lang"),
        lit("] "), substring(col("text"), 1, 40))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(raw).cast("long").as("n_raw"),
          graft.functions.TextFunctions.nfcNormalize(raw).as("norm"),
          length(graft.functions.TextFunctions.nfcNormalize(raw))
            .cast("long").as("n_norm"))
        .orderBy("doc_id")
    }),
    "t01_token_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          tokenEstimate(col("text")).as("bpe_estimate"),
          length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")),
    // t17: rank-based quality cut — the best 30% per language
    "t17_quality_select" -> ((s, dir) =>
      qualitySelect(Tables.documents(s, dir), "doc_id", "text", "lang",
        keepFrac = 0.3)
        .orderBy("lang", "rn")),
    // t16: BM25 lexical retrieval for a fixed 4-term query over the
    // corpus vocabulary (top-20 so ties in the tail are cut by the
    // deterministic doc_id tiebreak)
    "t16_bm25" -> ((s, dir) =>
      bm25TopDocs(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "merge", "window", "data"), topN = 20)
        .orderBy("rank")),
    "t02_quality" -> ((s, dir) =>
      qualityFeatures(Tables.documents(s, dir), "text")
        .select("doc_id", "n_tokens", "alpha_ratio", "digit_ratio",
          "stopword_ratio", "avg_token_len", "quality_score")
        .orderBy("doc_id")),
    "t12_gopher_rules" -> ((s, dir) =>
      gopherRules(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // x43: t12 driven through SQL — graft_gopher_rules('<path>'), the
    // quality-rule surface for the Athena-shaped analyst; shares t12's
    // oracle verbatim (same lazy plan over the same parquet)
    "x43_sql_gopher_rules" -> ((s, dir) =>
      s.sql(s"SELECT * FROM graft_gopher_rules('$dir/documents.parquet')" +
        " ORDER BY doc_id")),
    "t03_langid" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("_toks", tokens(col("text")))
        .select(col("doc_id"),
          languageIdFromTokens(col("_toks")).as("lang_pred"),
          col("lang").as("lang_label"))
        .orderBy("doc_id")),
    "t04_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    "t05_chunk" -> ((s, dir) =>
      chunk(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")),
    "t06_vocabulary" -> ((s, dir) =>
      vocabulary(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("tf_corpus").desc, col("term"))
        .limit(100)),
    "t07_scrub" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          scrub(concat(col("text"),
            lit(" contact bob@example.com at https://example.com/x id 1234567890123")))
            .as("scrubbed"))
        .orderBy("doc_id")),
    "t08_repetition" -> ((s, dir) =>
      repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "t09_pack" -> ((s, dir) =>
      packSequences(Tables.documents(s, dir), "doc_id", "text",
        budget = 512, strataCol = "lang", buckets = 8)
        .orderBy("lang", "doc_id")),
    "t10_countmin" -> ((s, dir) =>
      countMinSketch(Tables.documents(s, dir), "text")
        .orderBy("d", "bucket")),
    "t14_span_scrub" -> ((s, dir) =>
      scrubDuplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 5, maxDf = 1)
        .orderBy("doc_id")),
    "t13_lm_score" -> ((s, dir) =>
      lmQualityScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "t11_tfidf" -> ((s, dir) =>
      tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "rank")),
  )

  /** DuckDB equivalents. Note DuckDB regexp_replace needs the 'g' flag
    * (Spark replaces globally by default). */
  private[graft] val toksSql =
    "list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')"

  /** The English-stopword hit count over `toks`, for oracle SQL that
    * restates the Gopher keep predicate outside this object (the
    * curation pipeline's composed oracle). */
  private[graft] def stopEnSql: String = stopSql(stopEn)

  private def stopSql(set: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${set.map("'" + _ + "'").mkString(",")})))"

  private val oracle0: Map[String, String] = Map(
    // t02's score expression, then a rank window per stratum; the keep
    // bound is CEIL(0.3 * n) with the same literal on both sides
    "t17_quality_select" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks
         |           FROM documents),
         |f AS (SELECT doc_id, lang,
         |  len(toks) AS n_tokens,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN len(toks) > 0 THEN CAST(${stopEnSql} AS DOUBLE) / len(toks) ELSE 0.0 END AS stopword_ratio
         |  FROM t),
         |q AS (SELECT doc_id, lang,
         |  alpha_ratio * 0.5 + stopword_ratio * 0.3 +
         |    CASE WHEN n_tokens >= 20 AND n_tokens <= 1000
         |         THEN 0.2 ELSE 0.0 END AS quality_score
         |  FROM f),
         |r AS (SELECT doc_id, lang, quality_score,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY quality_score DESC, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY lang) AS n_stratum
         |      FROM q)
         |SELECT doc_id, lang, quality_score, rn FROM r
         |WHERE rn <= CEIL(0.3 * n_stratum)
         |ORDER BY lang, rn""".stripMargin,
    // per-term BM25 factors are one fixed IEEE expression tree with
    // identical decimal literals on both sides; the per-doc sum folds
    // in term order (ordered list_sum == sorted-array aggregate)
    "t16_bm25" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
         |      FROM t),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |         CAST(CAST(SUM(dl) AS STRING) AS DOUBLE) / COUNT(*) AS avgdl
         |       FROM d),
         |tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN ('spark', 'merge', 'window', 'data')
         |       GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id, dl, tf.term,
         |         ((st.n_docs - CAST(df AS DOUBLE) + 0.5)
         |          / (CAST(df AS DOUBLE) + 0.5))
         |         * ((CAST(tf AS DOUBLE) * 2.2)
         |            / (CAST(tf AS DOUBLE)
         |               + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         |                        / st.avgdl))) AS tscore
         |       FROM tf JOIN dfq USING (term) CROSS JOIN st),
         |pd AS (SELECT doc_id, dl, COUNT(*) AS n_terms_hit,
         |         list_sum(list(tscore ORDER BY term)) AS score
         |       FROM sc GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT row_number() OVER (ORDER BY score DESC, doc_id)
         |           AS rank,
         |         doc_id, dl, n_terms_hit, score
         |  FROM pd ORDER BY score DESC, doc_id LIMIT 20)
         |ORDER BY rank""".stripMargin,
    // the decomposed decoration is byte-identical on both sides (same
    // U+0301 escapes); DuckDB's nfc_normalize applies the same Unicode
    // canonical-composition tables as the JDK composer
    "t15_normalize" ->
      s"""SELECT doc_id,
         |  length('re\u0301sume\u0301 [' || lang || '] '
         |         || substr(text, 1, 40)) AS n_raw,
         |  nfc_normalize('re\u0301sume\u0301 [' || lang || '] '
         |                || substr(text, 1, 40)) AS norm,
         |  length(nfc_normalize('re\u0301sume\u0301 [' || lang || '] '
         |                       || substr(text, 1, 40))) AS n_norm
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t01_token_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks,
         |  regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]') AS pieces
         |  FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens,
         |  CAST(len(pieces) + COALESCE(list_sum(list_transform(pieces, p -> (length(p)-1)//4)), 0) AS BIGINT) AS bpe_estimate,
         |  length(text) AS n_chars_calc
         |FROM t ORDER BY doc_id""".stripMargin,
    "t02_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
         |  CASE WHEN len(toks) > 0 THEN CAST(${stopSql(stopEn)} AS DOUBLE) / len(toks) ELSE 0.0 END AS stopword_ratio,
         |  CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0.0 END AS avg_token_len
         |  FROM t)
         |SELECT doc_id, n_tokens, alpha_ratio, digit_ratio, stopword_ratio, avg_token_len,
         |  alpha_ratio * 0.5 + stopword_ratio * 0.3 +
         |    CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 0.2 ELSE 0.0 END AS quality_score
         |FROM f ORDER BY doc_id""".stripMargin,
    "t12_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(toks) ELSE 0.0 END AS alpha_word_frac,
         |  CAST(${stopSql(stopEn)} AS BIGINT) AS n_stop_hits
         |  FROM t)
         |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, n_stop_hits,
         |  (n_words >= 30 AND n_words <= 80
         |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND alpha_word_frac >= 0.8
         |   AND n_stop_hits >= 2) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "t03_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  ${stopSql(stopDe)} AS s_de, ${stopSql(stopEn)} AS s_en,
         |  ${stopSql(stopEs)} AS s_es, ${stopSql(stopFr)} AS s_fr FROM t)
         |SELECT doc_id,
         |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
         |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS lang_pred,
         |  lang AS lang_label
         |FROM sc ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string($toksSql, ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t05_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |        greatest(CAST(ceil(CAST(len(toks) - 8 AS DOUBLE) / 24) AS INT), 1) AS nc
         |      FROM t),
         |x AS (SELECT doc_id, toks,
         |        unnest(generate_series(0, CAST(nc AS BIGINT) - 1)) AS chunk_id
         |      FROM c)
         |SELECT doc_id, chunk_id,
         |  array_to_string(toks[CAST(chunk_id*24+1 AS INT) : CAST(chunk_id*24+32 AS INT)], ' ') AS chunk_text,
         |  CAST(least(len(toks) - chunk_id*24, 32) AS BIGINT) AS n_chunk_tokens
         |FROM x ORDER BY doc_id, chunk_id""".stripMargin,
    "t06_vocabulary" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents)
         |SELECT term, COUNT(*) AS tf_corpus, COUNT(DISTINCT doc_id) AS df
         |FROM tok GROUP BY term
         |ORDER BY tf_corpus DESC, term LIMIT 100""".stripMargin,
    // rational tf-idf (tf × N / df): same left-assoc double arithmetic
    // tree as the engine — ln would be libm-dependent and break parity
    // the span scrub restated on 1-based indices: same gram df, same
    // covered-interval mask (both sides' start/index offsets shift by
    // one, so the coverage relation is identical)
    "t14_span_scrub" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS gram
         |      FROM (SELECT doc_id, toks,
         |              unnest(generate_series(1, len(toks)-4)) AS i
         |            FROM t WHERE len(toks) >= 5)),
         |b AS (SELECT gram FROM g GROUP BY gram
         |      HAVING COUNT(DISTINCT doc_id) > 1),
         |s AS (SELECT doc_id, list(pos ORDER BY pos) AS starts,
         |        COUNT(*) AS n_spans_hit
         |      FROM g JOIN b USING (gram) GROUP BY doc_id),
         |f AS (SELECT t.doc_id, t.toks, COALESCE(s.starts, []) AS starts,
         |        COALESCE(s.n_spans_hit, 0) AS n_spans_hit
         |      FROM t LEFT JOIN s ON t.doc_id = s.doc_id),
         |kk AS (SELECT doc_id, toks, n_spans_hit,
         |        list_filter(generate_series(1, len(toks)), j ->
         |          len(list_filter(starts, st -> j >= st AND j < st + 5)) = 0)
         |          AS keptidx
         |       FROM f)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens_before,
         |  CAST(len(keptidx) AS BIGINT) AS n_tokens_after,
         |  CAST(n_spans_hit AS BIGINT) AS n_spans_hit,
         |  COALESCE(array_to_string(list_transform(keptidx, j -> toks[j]), ' '),
         |    '') AS scrubbed
         |FROM kk ORDER BY doc_id""".stripMargin,
    // the add-one bigram model restated: counts from the same bigram
    // relation, the per-doc float sum folded in the same token-position
    // order (list ORDER BY pos → list_sum), one final IEEE division
    "t13_lm_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bgr AS (SELECT doc_id, bg.pos AS pos, bg.w1 AS w1, bg.w2 AS w2
         |        FROM (SELECT doc_id,
         |                unnest(list_transform(generate_series(1, len(toks)-1),
         |                  i -> {'pos': i, 'w1': toks[i], 'w2': toks[i+1]})) AS bg
         |              FROM t WHERE len(toks) >= 2)),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgr GROUP BY 1, 2),
         |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
         |v AS (SELECT COUNT(DISTINCT tok) AS v
         |      FROM (SELECT unnest(toks) AS tok FROM t)),
         |p AS (SELECT bgr.doc_id, bgr.pos,
         |        CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE) AS p
         |      FROM bgr JOIN c2 ON bgr.w1 = c2.w1 AND bgr.w2 = c2.w2
         |               JOIN c1 ON bgr.w1 = c1.w1, v),
         |s AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |        list_sum(list(p ORDER BY pos)) AS sum_p
         |      FROM p GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  s.sum_p / s.n_bigrams AS lm_score
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "t11_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfx AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
         |        CAST(tf.tf AS DOUBLE) * n.n / dfx.df AS tfidf,
         |        row_number() OVER (PARTITION BY tf.doc_id
         |          ORDER BY CAST(tf.tf AS DOUBLE) * n.n / dfx.df DESC,
         |          tf.term) AS rank
         |      FROM tf JOIN dfx ON tf.term = dfx.term, n)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, tfidf
         |FROM r WHERE rank <= 5
         |ORDER BY doc_id, rank""".stripMargin,
    "t10_countmin" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents),
         |x AS (SELECT tok, d FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d))
         |SELECT CAST(d AS INT) AS d,
         |  CAST(concat('0x', substr(md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8)) AS BIGINT) % 1024 AS bucket,
         |  COUNT(*) AS cnt
         |FROM x GROUP BY 1, 2 ORDER BY d, bucket""".stripMargin,
    // single-window restatement of the bucketed engine order: bucket-
    // major, then md5(id) — the stitched per-bucket offsets equal one
    // running sum ordered by (bucket, md5, id)
    "t09_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bkt
         |           FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY lang
         |          ORDER BY bkt, md5(CAST(doc_id AS VARCHAR)), doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t)
         |SELECT doc_id, lang, n_tokens,
         |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
         |FROM c ORDER BY lang, doc_id""".stripMargin,
    "t08_repetition" ->
      s"""WITH g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
         | THEN list_transform(generate_series(1, len(toks)-2), i -> array_to_string(toks[i:i+2], ' '))
         | ELSE [] END) AS gram
         | FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |pd AS (SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS n_distinct,
         |              MAX(c) AS top_count
         |       FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g
         |             GROUP BY doc_id, gram)
         |       GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(n_distinct, 0) AS BIGINT) AS n_distinct,
         |  CAST(COALESCE(top_count, 0) AS BIGINT) AS top_count,
         |  CASE WHEN COALESCE(n_grams, 0) > 0
         |       THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |       ELSE 0.0 END AS dup_fraction,
         |  CASE WHEN COALESCE(n_grams, 0) > 0
         |       THEN CAST(top_count AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |       ELSE 0.0 END AS top_fraction
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "t07_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact bob@example.com at https://example.com/x id 1234567890123',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{9,}', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
  )

  /** The SQL table-function surface (x43) is the SAME lazy plan over
    * the same parquet, so it shares t12's oracle verbatim. */
  val oracle: Map[String, String] =
    oracle0 + ("x43_sql_gopher_rules" -> oracle0("t12_gopher_rules"))
}
