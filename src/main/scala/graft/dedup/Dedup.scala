package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH, n-gram Jaccard, SimHash, and
  * embedding-cosine near-dup. Everything is built from codegen'd
  * builtins — no UDFs — and every shuffle is on a key that stays
  * balanced at corpus scale.
  *
  * Scale design (100 TB corpora):
  *  - exact dedup: one hash-shuffle on a 128-bit fingerprint; partial
  *    (map-side) aggregation kicks in since the fingerprint is the
  *    grouping key.
  *  - MinHash: shingle explode is a narrow map; the only shuffle is the
  *    per-doc signature groupBy. LSH banding turns all-pairs comparison
  *    (O(n²)) into a self-join on band keys — each bucket is tiny when
  *    bands are wide enough, and a skewed bucket (a boilerplate cluster)
  *    is handled by AQE skew-join splitting.
  *  - n-gram Jaccard: the candidate join is an inverted-index self-join
  *    on shingle; ubiquitous shingles (doc-frequency ≫ average) should
  *    be dropped by [[jaccardPairs]]'s `maxDf` knob before the join —
  *    they contribute candidates, not evidence, and removing them bounds
  *    per-key fan-out.
  *  - SimHash: one groupBy producing 64 bit-sums; near-dup candidates
  *    via 16-bit chunk blocking (4 keys/doc), Hamming-verified.
  *
  * MinHash/LSH hashing is md5-based (not Spark's xxhash64) so signatures
  * are reproducible on any engine — the DuckDB oracle computes the same
  * bands bit-for-bit. The xxhash64 fast path lives in
  * [[TextAnalysis.fingerprint64]] / [[simhash64]].
  */
object Dedup {

  /** Shingles from an ALREADY-MATERIALIZED token array column. Callers
    * must project the token array first (`withColumn("_toks", ...)`) —
    * referencing `tokens(text)` directly here would re-run the regex
    * tokenizer for every lambda evaluation (measured ~3× slowdown on
    * the minhash path). */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Word k-gram shingles over normalized tokens (empty when the doc has
    * fewer than k tokens). Convenience form for single-expression use;
    * hot paths go through [[shinglesFromTokens]]. */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), k)

  /** (id, shingle) rows with tokenization materialized once per doc. */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(shinglesFromTokens(col("_toks"))).as("sh"))

  // ---- exact dedup (hash-groupBy) ----

  /** Duplicate groups by normalized-content fingerprint: one row per
    * distinct content, with a BOUNDED member list (the `maxMembers`
    * smallest ids + an overflow count) and the canonical keeper
    * (min id) — the "keep first, drop rest" contract.
    *
    * The bound matters at 100 TB: a mega-duplicated boilerplate doc
    * (millions of copies) must not build a giant id string in one
    * aggregation buffer. Members are ranked per fingerprint BEFORE the
    * aggregate (`row_number` in the same fp shuffle — Exchange reuse
    * means no extra shuffle) and `collect_list` skips the
    * null-masked overflow rows, so the buffer holds ≤ maxMembers ids
    * however large the group is; `n_overflow` reports the rest. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String,
      maxMembers: Int = 100): DataFrame = {
    require(maxMembers >= 1, "maxMembers must be >= 1")
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .withColumn("_rn", row_number().over(w))
      .groupBy("fp")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keeper"),
        // numeric sort THEN stringify (lexicographic would put "10" < "2")
        concat_ws(",", transform(sort_array(
          collect_list(when(col("_rn") <= maxMembers, col(idCol)))),
          i => i.cast("string"))).as("doc_ids"),
        greatest(count(lit(1)) - maxMembers, lit(0L)).as("n_overflow"))
  }

  /** The deduplicated corpus: one representative (min id) per content. */
  def dropExactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Exact-dup groups over NFC-CANONICALIZED text: composed and
    * decomposed encodings of the same characters are one byte sequence
    * after `graft_nfc`, so duplicates that differ only in Unicode
    * encoding form collapse — the fracture plain byte fingerprints
    * can't see on a multilingual corpus (the same page crawled from a
    * CMS emitting NFC and an editor emitting NFD). Same single-shuffle
    * shape as [[exactGroups]]; the normalization is the codegen'd
    * expression, not a UDF. */
  def exactGroupsNfc(docs: DataFrame, idCol: String, textCol: String,
      maxMembers: Int = 100): DataFrame =
    exactGroups(
      docs.withColumn(textCol,
        graft.functions.TextFunctions.nfcNormalize(col(textCol))),
      idCol, textCol, maxMembers)

  // ---- MinHash + LSH ----

  val numHashes = 8
  val numBands = 2 // 2 bands × 4 rows

  /** Per-doc MinHash signature: the 8 per-seed hashes are 8-hex-char
    * slices of TWO md5 digests per shingle (not 8 md5 calls — 4× less
    * hashing in the hot explode), min-reduced per doc in one groupBy
    * shuffle. 32-bit slice space is ample for min-hashing shingle sets. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sh = shingleRows(docs, idCol, textCol)
      .withColumn("hex",
        concat(md5(col("sh")), md5(concat(lit("x"), col("sh")))))
    sh.groupBy(idCol)
      .agg(
        min(substring(col("hex"), 1, 8)).as("h0"),
        (1 until numHashes).map(j =>
          min(substring(col("hex"), 1 + 8 * j, 8)).as(s"h$j")): _*)
  }

  /** LSH banding: (id, band, band-key) rows — docs sharing a band key
    * are candidate duplicates. */
  def lshBands(sig: DataFrame, idCol: String): DataFrame = {
    val rows = numHashes / numBands
    val bands = (0 until numBands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(j => col(s"h$j"))
      sig.select(col(idCol), lit(b).as("band"),
        md5(concat_ws("|", cols: _*)).as("bkey"))
    }
    bands.reduce(_ unionByName _)
  }

  /** Incremental near-dup screening: flag each NEW-BATCH document that
    * LSH-collides with the EXISTING corpus — the "dedup the new crawl
    * against what we already have" pass that runs on every ingest,
    * where re-clustering the whole corpus would be absurd. MinHash
    * signatures are per-document (independent of the set), so the
    * corpus side's bands are computed once and reused across batches
    * in production; cost per ingest is the batch's banding plus a
    * band-keyed join. Returns one row per batch doc: the minimum
    * colliding corpus id (null when clean), the distinct corpus-match
    * count, and the boolean verdict. */
  def incrementalNearDupFlags(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val cb = lshBands(minhashSignatures(corpus, idCol, textCol), idCol)
      .select(col("band"), col("bkey"), col(idCol).as("_cid"))
    val bb = lshBands(minhashSignatures(batch, idCol, textCol), idCol)
      .select(col("band"), col("bkey"), col(idCol).as("id"))
    bb.join(cb, Seq("band", "bkey"), "left_outer")
      .groupBy("id")
      .agg(
        min(col("_cid")).as("dup_of"),
        countDistinct(col("_cid")).as("n_corpus_matches"))
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** Candidate pairs from LSH band collisions (id_a < id_b). */
  def lshCandidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("band"), col("bkey"), col(idCol).as("id_a"))
    val b = bands.select(col("band"), col("bkey"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** LSH-dedup recall measured against exact Jaccard ground truth,
    * bucketed by true similarity — the banding scheme's empirical
    * S-curve (theory: P(candidate | j) = 1 − (1 − j^rows)^bands) as a
    * DATA ARTIFACT rather than a formula, under the same oracle
    * discipline as the results themselves (the d-family analog of
    * s08's ANN recall). One row per 0.1-wide similarity bin in
    * [threshold, 1]: how many true near-dup pairs exist there, how
    * many the band join surfaced, and the recall ratio. At
    * threshold 0 every co-shingled pair enters, so the artifact pins
    * BOTH ends of the curve: the j<0.1 noise floor (recall there is
    * the banding's false-positive rate on non-dups — precision
    * evidence) and the high bins (the recall dedup actually relies
    * on). A banding change (numHashes/numBands) that silently
    * degrades either end now breaks a hash, not just a spec bound.
    *
    * Plan: [[jaccardPairs]]'s exact pass (df-capped inverted index) +
    * [[lshCandidatePairs]]'s band self-join, met by a left-semi on the
    * pair key, then one tiny per-bin aggregation (≤ 6 rows). At corpus
    * scale both sides derive from the same shingle explode — the
    * dominant cost is the two passes already priced in d03/d04; the
    * recall join touches only true-pair rows. */
  def lshRecallByBin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxDf: Int = 50): DataFrame = {
    val exact = jaccardPairs(docs, idCol, textCol, threshold, maxDf)
      .withColumn("sim_bin", floor(col("jaccard") * 10) / 10)
    val cand = lshCandidatePairs(
      lshBands(minhashSignatures(docs, idCol, textCol), idCol), idCol)
    val hits = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
    exact.groupBy("sim_bin").agg(count(lit(1)).as("n_pairs"))
      .join(hits.groupBy("sim_bin").agg(count(lit(1)).as("n_hit")),
        Seq("sim_bin"), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall", col("n_hit").cast("double") / col("n_pairs"))
      .select("sim_bin", "n_pairs", "n_hit", "recall")
      .orderBy("sim_bin")
  }

  // ---- n-gram Jaccard ----

  /** Distinct (id, 64-bit shingle hash) rows with NO shuffle: within-doc
    * dedup via `array_distinct` before the explode IS global (id, sh)
    * distinctness. Joining/aggregating on the hash, not the string,
    * keeps shuffle rows small (collisions: ~n²/2⁶⁴, nil). */
  private def distinctShingleRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol).as("id"),
        explode(array_distinct(shinglesFromTokens(col("_toks")))).as("s"))
      .select(col("id"), xxhash64(col("s")).as("sh"))

  /** Exact Jaccard similarity over distinct shingle sets for every pair
    * sharing at least one (kept) shingle, thresholded. `maxDf` drops
    * shingles appearing in more than that many docs from the sets
    * (scale guard; pass Int.MaxValue for exact-on-everything).
    *
    * Plan: one df window (cap), direct self-join on the shingle hash,
    * one pair-group aggregation. With the cap on, shuffle volume is
    * PROVABLY ≤ maxDf × corpus shingle rows (Σdf² ≤ maxDf·Σdf) — a
    * predictable linear bound. When threshold pruning is strong and
    * co-shingled pairs are sparse (big web corpora), the AllPairs
    * variant [[jaccardPairsPrefix]] generates fewer candidates;
    * both return identical results (spec-asserted). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = distinctShingleRows(docs, idCol, textCol)
    val filtered =
      if (maxDf == Int.MaxValue) sh
      else {
        // df cap as a COUNT window over one sh-partitioned exchange: the
        // pair self-join below is keyed by sh too, so it reuses this
        // exchange and the shingle explode+hash runs once
        sh.withColumn("_df", count(lit(1)).over(Window.partitionBy("sh")))
          .filter(col("_df") <= maxDf)
          .drop("_df")
      }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = filtered.select(col("id").as("id_a"), col("sh"))
      .join(filtered.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Directed containment near-dup — `|A∩B| / |A|` and `|A∩B| / |B|`
    * per candidate pair, kept when EITHER direction clears `threshold`.
    * Catches the subset relations symmetric Jaccard misses: a short
    * document quoted whole inside a long one has high containment but
    * low Jaccard (the union is dominated by the long side). Same
    * inverted-index + df-cap shape and Σdf² candidate bound as
    * [[jaccardPairs]]; the two fractions are double divisions of exact
    * integer counts, bit-portable. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = distinctShingleRows(docs, idCol, textCol)
    val filtered =
      if (maxDf == Int.MaxValue) sh
      else sh.withColumn("_df", count(lit(1)).over(Window.partitionBy("sh")))
        .filter(col("_df") <= maxDf)
        .drop("_df")
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = filtered.select(col("id").as("id_a"), col("sh"))
      .join(filtered.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("c_ab", col("inter").cast("double") / col("n_a"))
      .withColumn("c_ba", col("inter").cast("double") / col("n_b"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")
  }

  /** AllPairs/PPJoin prefix-filtered Jaccard join — same contract and
    * RESULTS as [[jaccardPairs]], different cost shape. Under a global
    * shingle order, a pair with Jaccard ≥ t shares its smallest common
    * shingle within each side's first n − ⌈t·n⌉ + 1 shingles (|A∩B| ≥
    * ⌈t·n⌉ elements cannot all hide in a shorter suffix), so only
    * prefix rows — ordered RAREST-FIRST by df, which pushes popular
    * shingles into suffixes — enter the candidate self-join. Wins when
    * candidates ≪ co-shingled pairs (strong thresholds over sparse web
    * corpora); the direct variant's maxDf·N bound wins when near-dup
    * density is high. Measured at sf0.1: candidates drop ~10×
    * (1.13M → 118k), but the exact-verify join re-reads full sets, so
    * the direct plan is faster at THIS density — both stay in the
    * library because the crossover is real. */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = distinctShingleRows(docs, idCol, textCol)
    val withDf = sh
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("sh")))
    val filtered =
      if (maxDf == Int.MaxValue) withDf
      else withDf.filter(col("_df") <= maxDf)
    // per-doc size and rarest-first prefix rank in ONE shuffle on id
    val wId = Window.partitionBy("id")
    val ranked = filtered
      .withColumn("n", count(lit(1)).over(wId))
      .withColumn("_rn", row_number().over(wId.orderBy("_df", "sh")))
    val prefix = ranked
      .filter(col("_rn") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("id", "sh")
    val cand = prefix.select(col("id").as("id_a"), col("sh"))
      .join(prefix.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sets = ranked.select(col("id"), col("sh"), col("n"))
    // exact intersection counts for candidates only
    val inter = cand
      .join(sets.select(col("id").as("id_a"), col("sh"),
        col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh"),
        col("n").as("n_b")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- SimHash ----

  /** 64-bit SimHash from xxhash64 token hashes: per-bit ±1 vote sums in
    * ONE groupBy (64 aggregate columns — still a single shuffle), sign
    * bits assembled into a long. Engine-native (xxhash64 is not
    * portable); spec-tested rather than oracle-checked. */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(col("_toks")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$i"))
    val withBits = tok.groupBy(idCol).agg(bitSums.head, bitSums.tail: _*)
    // distinct powers of two: addition never carries, so + assembles bits
    val fp = (0 until 64).map(i =>
      when(col(s"b$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    withBits.select(col(idCol), fp.as("simhash"))
  }

  /** Portable 32-bit SimHash: token hashes are the first 8 hex chars of
    * md5 (any engine reproduces them), per-bit ±1 vote sums in one
    * groupBy, sign bits assembled. The 64-bit xxhash64 variant above is
    * the faster engine-native path; this one is oracle-checkable. */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(col("_toks")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast("long"))
    val bitSums = (0 until 32).map(i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$i"))
    val withBits = tok.groupBy(idCol).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 32).map(i =>
      when(col(s"b$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    withBits.select(col(idCol), fp.as("simhash"))
  }

  /** Hamming distance between two simhash longs (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 4×16-bit chunks (a ≤k-bit-different
    * pair shares at least one chunk for k ≤ 3... pigeonhole k < 4), then
    * Hamming-verify. */
  def simhashPairs(sim: DataFrame, idCol: String, maxHamming: Int = 3)
      : DataFrame = {
    val chunks = (0 until 4).map { c =>
      sim.select(col(idCol), lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)
          .as("ckey"), col("simhash"))
    }.reduce(_ unionByName _)
    val a = chunks.select(col("chunk"), col("ckey"),
      col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = chunks.select(col("chunk"), col("ckey"),
      col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- duplicate-cluster resolution (connected components) ----

  /** Connected components over duplicate-candidate pairs: every id that
    * appears in a pair, labeled with the minimum id reachable through
    * the pair graph (its cluster id) — the step that turns pairwise
    * near-dup evidence into "keep one per cluster" decisions.
    *
    * Min-label propagation: each round joins labels across edges and
    * takes the min; rounds needed = component diameter, and near-dup
    * components are small and dense (a 25-doc boilerplate cluster is
    * ~2 hops), so convergence is a handful of rounds at any corpus
    * size. Each round is one join + one groupBy on the id key;
    * `localCheckpoint` cuts the growing lineage (same reason as the
    * IVF Lloyd loop, but labels are corpus-sized so they stay
    * distributed instead of collecting to the driver). Convergence is
    * checked with a bounded `limit(1)` probe, and non-convergence
    * within `maxIters` throws rather than returning partial labels. */
  def duplicateClusters(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var it = 0
    try {
      while (it < maxIters) {
        val viaEdges = edges.join(labels, edges("dst") === labels("id"))
          .select(edges("src").as("id"), labels("label"))
        val next = labels.unionByName(viaEdges)
          .groupBy("id").agg(min("label").as("label"))
          .localCheckpoint(true)
        val changed = next.alias("n")
          .join(labels.alias("o"), Seq("id"))
          .filter(col("n.label") =!= col("o.label"))
          .limit(1).collect().nonEmpty
        // the superseded round's checkpoint blocks are dead weight —
        // release them instead of pinning rounds × label-set storage
        labels.unpersist()
        labels = next
        if (!changed)
          return labels.select(col("id"), col("label").as("cluster_id"))
        it += 1
      }
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters rounds")
    } finally {
      edges.unpersist()
      ()
    }
  }

  /** Apply cluster decisions to the corpus: drop every doc whose
    * cluster id is not itself (the cluster keeper = min id), keep
    * non-duplicated docs untouched. Broadcast-friendly: the drop list
    * is only the duplicated ids. */
  def dropNearDups(docs: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    // fresh alias: an unqualified col("id") would be ambiguous whenever
    // docs itself has an "id" column (the common case idCol = "id")
    val dupIds = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("_dup_id"))
    docs.join(dupIds, docs(idCol) === dupIds("_dup_id"), "left_anti")
  }

  // ---- benchmark decontamination ----

  /** Flag corpus documents that share at least `minShared` k-gram
    * shingles with any eval-set document — the standard
    * benchmark-decontamination pass for training corpora. Shape: an
    * inverted-index semi-join (corpus shingles × eval shingles), so cost
    * is bounded by shingle overlap, not corpus × eval. Returns
    * (id, n_shared, contaminated). */
  def contaminationFlags(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, minShared: Int = 1): DataFrame = {
    val corpusSh = shingleRows(corpus, idCol, textCol)
      .select(col(idCol).as("id"), col("sh")).distinct()
    val evalSh = shingleRows(evalSet, idCol, textCol)
      .select(col("sh")).distinct()
    val shared = corpusSh.join(evalSh, Seq("sh"))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    corpus.select(col(idCol).as("id"))
      .join(shared, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** SEMANTIC decontamination — the embedding-space complement of
    * [[contaminationFlags]] (GPT-3/The-Pile-style decon runs both: a
    * paraphrased eval leak shares no 13-gram with the benchmark but
    * sits right next to it in embedding space): flag corpus vectors
    * whose cosine to ANY benchmark vector reaches `minCos`. Emits per
    * corpus vector the hit count, the nearest benchmark id (ties →
    * lowest id; cosine bits are engine-portable, proven by s01's
    * hash-matched floats, so the argmax and the threshold verdict are
    * too), and the verdict.
    *
    * Shape at 100 TB: the benchmark side is SMALL by nature (eval
    * suites, not corpora) — it broadcasts, and the corpus side pays
    * exactly ONE shuffle: the hit count and the nearest-id argmax
    * compute in the same `groupBy(vec_id)` aggregate (the argmax as a
    * struct-min, map-side partial like any min), so the
    * |corpus|×|bench| score relation collapses inside each map task
    * and never re-exchanges for a window or a self-join. An empty
    * benchmark refuses loudly — a decon report over zero eval vectors
    * flags nothing and is indistinguishable from a clean corpus, the
    * silent-wrong-answer shape (usually a bad eval path or filter);
    * the refusal rides IN the plan (it fires at the first action), so
    * constructing or EXPLAINing the report launches no job. */
  def semanticContaminationFlags(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minCos: Double): DataFrame = {
    // the empty-benchmark refusal rides IN the plan, so construction
    // and EXPLAIN stay lazy/job-free like every sibling transformation
    // — the error fires on the first ACTION instead, exactly where a
    // silent empty report would otherwise surface. It is attached as a
    // zero-row UNION branch (a one-row benchmark count whose lone row
    // raises when the count is 0 and is filtered away otherwise)
    // rather than a cross join: an empty-side cross join is pruned by
    // PropagateEmptyRelation when the optimizer can PROVE the
    // benchmark empty, which is precisely the case that must refuse
    val guard = benchmark.agg(count(lit(1)).as("_bn"))
      .select(when(col("_bn") === 0L, raise_error(lit(
        "semanticContaminationFlags: the benchmark relation is empty " +
          "— a decontamination report over zero eval vectors would " +
          "mark every corpus vector clean; check the eval-set " +
          "path/filter"))).otherwise(lit(true)).as("_ok"))
      .filter(col("_ok").isNull) // never true: 0 rows survive
    val c = corpus.select(col(idCol).as("vec_id"),
      normalized(col(vecCol).cast("array<double>")).as("nv"))
    val b = benchmark.select(col(idCol).as("bid"),
      normalized(col(vecCol).cast("array<double>")).as("bnv"))
    val scored = c.crossJoin(org.apache.spark.sql.functions.broadcast(b))
      .select(col("vec_id"), col("bid"),
        dot(col("nv"), col("bnv")).as("cos"))
    // nearest = max cos, ties -> lowest bid == lexicographic struct-min
    // of (-cos, bid); bid stays its native orderable type
    val report = scored.groupBy("vec_id")
      .agg(sum(when(col("cos") >= minCos, 1L).otherwise(0L)).as("n_hits"),
        min(struct((-col("cos")).as("neg_cos"), col("bid").as("bid")))
          .as("_best"))
      .select(col("vec_id"), col("n_hits"),
        col("_best.bid").as("nearest_id"),
        (col("n_hits") > 0L).as("contaminated"))
    val pad = report.schema.fields.map(f =>
      lit(null).cast(f.dataType).as(f.name))
    report.union(guard.select(pad.toIndexedSeq: _*))
  }

  /** Per-document contamination REPORT — the thresholdable variant of
    * [[contaminationFlags]]: distinct-shingle total, shared-with-eval
    * count, and the overlap fraction. Pipelines threshold the fraction
    * ("drop > 10% overlap, flag > 1%") rather than a fixed shared
    * count, so the report is the operator the binary flag compiles
    * down from. Same inverted-index semi-join shape: only shingle
    * hashes shuffle, never text. */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val corpusSh = shingleRows(corpus, idCol, textCol)
      .select(col(idCol).as("id"), col("sh")).distinct()
    val evalSh = shingleRows(evalSet, idCol, textCol)
      .select(col("sh")).distinct()
    // ONE pass over the corpus shingles: the old shape referenced
    // corpusSh twice (totals aggregate + shared join), re-running the
    // shingle explode and its distinct both times. evalSh is DISTINCT,
    // so a left join against it marked with a constant preserves
    // corpusSh's cardinality exactly (each sh matches at most one eval
    // row) and count(_hit) counts precisely the shared shingles — the
    // same two numbers, one materialization and one exchange fewer
    // (guide §2.4).
    val counts = corpusSh
      .join(evalSh.withColumn("_hit", lit(1)), Seq("sh"), "left")
      .groupBy("id").agg(count(lit(1)).as("n_shingles"),
        count(col("_hit")).as("n_shared"))
    corpus.select(col(idCol).as("id"))
      .join(counts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L))
            .cast("double")).as("overlap_frac"))
  }

  // ---- deterministic hash sampling ----

  /** Stratified deterministic sample: the `n` docs per stratum with the
    * smallest md5(id) — reproducible on any engine and any partitioning
    * (unlike RNG sampling), and stable under corpus growth within a
    * stratum's retained set. One window shuffle on the stratum key. */
  def hashSampleByStratum(docs: DataFrame, idCol: String,
      stratumCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  /** Mixture sampling: keep each doc with a per-stratum probability
    * (the corpus-reweighting pass that hits a target language/source
    * mixture). The coin is md5-derived from the doc id — deterministic,
    * engine-portable, partitioning-independent, and STABLE under corpus
    * growth: a doc's keep/drop decision never changes as other docs
    * arrive (unlike RNG sampling), so mixtures are reproducible and
    * incremental. Pure narrow filter — no shuffle at any scale. */
  /** Token-budget corpus selection: per stratum, walk the documents in
    * deterministic md5 order and keep them while the RUNNING token
    * total stays within `budgetTokens` — the standard step for building
    * a training mixture with per-domain token targets (fractions say
    * "how much of each domain"; budgets say "how many tokens", which is
    * what a training run actually consumes). A document is kept iff the
    * cumulative token count INCLUDING it fits the budget; later
    * documents in the walk are dropped even if a smaller one would
    * still fit (no knapsack — the walk stays deterministic and
    * growth-stable, like [[mixtureSample]]'s coin).
    *
    * One window over a (stratum)-partitioned shuffle; the running sum
    * is a frame-less cumulative aggregate, so each stratum streams
    * through its reducer once. Emits n_tokens + the running total as
    * evidence. */
  /** Mixture PLANNING report — the step before [[tokenBudgetSample]]
    * executes a cut: for each stratum, how many tokens exist, how many
    * the target mixture wants (weight × total budget, floor), how many
    * can actually be allocated, and the shortfall when the corpus
    * cannot fill its share. The report is what a curation run reviews
    * BEFORE burning a 100 TB pass — an under-resourced language
    * surfaces here as a shortfall row, not as a silently skewed
    * training mix afterwards. One groupBy shuffle; the arithmetic is
    * literal double products floored to longs, bit-portable. */
  def mixturePlan(docs: DataFrame, textCol: String,
      strataCol: String, budgetTokens: Long, weights: Map[String, Double],
      default: Double): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be >= 0")
    val share = weights.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .groupBy(strataCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("available_tokens"))
      .withColumn("target_tokens",
        floor(lit(budgetTokens.toDouble) * share).cast("long"))
      .withColumn("allocated_tokens",
        least(col("available_tokens"), col("target_tokens")))
      .withColumn("shortfall",
        col("target_tokens") - col("allocated_tokens"))
  }

  def tokenBudgetSample(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be >= 0")
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  def mixtureSample(docs: DataFrame, idCol: String, strataCol: String,
      fractions: Map[String, Double], default: Double = 0.0): DataFrame = {
    // uniform in [0,1): first 32 md5 bits of the id
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val frac = fractions.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs.filter(u < frac)
  }

  // ---- embedding-cosine near-dup ----

  /** Cosine similarity of two double arrays — sequential left-fold (the
    * native [[graft.functions.DotProduct]] codegen loop), the same
    * operation order as DuckDB's list_cosine_similarity, so values are
    * bit-identical across engines. Clamped to [-1, 1] exactly as
    * DuckDB clamps: identical vectors can overshoot by an ulp
    * (dot(v,v) vs sqrt(dot)·sqrt(dot) round differently), and a
    * similarity above 1.0 is a float artifact, not a value — surfaced
    * by the sf1 corpus, whose generator tiles exact duplicates. */
  def cosine(a: Column, b: Column): Column =
    least(lit(1.0), greatest(lit(-1.0),
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))))

  /** Unit-normalized copy of a vector (norm computed once per row, so
    * pairwise similarity downstream is a single dot product — 3× fewer
    * folds than cosine-per-pair). */
  def normalized(v: Column): Column = {
    val n = sqrt(dot(v, v))
    transform(v, x => x / n)
  }

  /** Dot product of two double arrays (codegen'd sequential loop). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  /** EXACT top embedding pairs by cosine — O(n²) cross join, so this is
    * the small-fixture baseline only (spec-tested, never in the driver
    * inventory). The scale path is [[embeddingTopPairs]]. */
  def embeddingAllPairs(emb: DataFrame, idCol: String, vecCol: String,
      topN: Int): DataFrame = {
    val e = emb.select(col(idCol).as("id"),
      normalized(col(vecCol).cast("array<double>")).as("v"))
    val a = e.select(col("id").as("id_a"), col("v").as("va"))
    val b = e.select(col("id").as("id_b"), col("v").as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        dot(col("va"), col("vb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  /** Top near-duplicate embedding pairs via LSH blocking: candidates are
    * pairs sharing a random-hyperplane bucket in ANY of `tables` hash
    * tables ([[graft.similarity.Similarity.lshBucketsMulti]] — portable
    * md5-derived planes), exact cosine computed for candidates only. No
    * cartesian anywhere: the self-join is on (table, bucket), so cost is
    * Σ bucket² per table instead of n² — and a genuinely near-duplicate
    * pair (cos ≳ 0.95) collides in at least one of 8 tables with
    * probability ≈ 0.99. The trade is recall on LOW-similarity pairs,
    * which near-dup removal doesn't want anyway. */
  def embeddingTopPairs(emb: DataFrame, idCol: String, vecCol: String,
      topN: Int, bits: Int = 8, tables: Int = 8): DataFrame = {
    import graft.similarity.Similarity
    val b = Similarity.lshBucketsMulti(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      bits, tables)
      .select(col("table"), col("bucket"), col("vec_id"))
    val cand = b.select(col("table"), col("bucket"), col("vec_id").as("id_a"))
      .join(b.select(col("table"), col("bucket"), col("vec_id").as("id_b")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val n = emb.select(col(idCol).as("id"),
      normalized(col(vecCol).cast("array<double>")).as("v"))
    cand
      .join(n.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(n.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        dot(col("va"), col("vb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a k-means
    * coarse quantizer, then compare pairs WITHIN each cluster only — a
    * vector is dropped when some lower-id vector in its cluster sits
    * within `threshold` cosine of it (the deterministic min-id keeper,
    * same policy as [[dropExactDups]]). Returns one row per vector:
    * (vec_id, cid, keep).
    *
    * The scale shape is the point: exact all-pairs is O(n²); clustering
    * first bounds the pairwise stage to Σ clusterᵢ² ≈ n²/k, and the
    * quadratic unit is a CLUSTER (≈ n/k vectors, tuned via k to fit an
    * executor), shuffled on `cid` so clusters compare in parallel.
    * Quantizer training is bounded by `maxTrainVectors`
    * ([[graft.similarity.Similarity.kmeansCentroids]] — the full corpus
    * is only ever assigned, one broadcast cross-join pass); a skewed
    * cluster splits under AQE like any other skewed join key. Semantic
    * near-dups (cos ≳ threshold) land in the same cluster with high
    * probability exactly because they are near-identical vectors —
    * misses at cluster borders are the standard SemDeDup trade. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, iters: Int = 3,
      maxTrainVectors: Int = 100000): DataFrame = {
    import graft.similarity.Similarity
    val corpus = emb.select(col(idCol).as("vec_id"),
      col(vecCol).as("embedding"))
    val cents = Similarity.kmeansCentroids(corpus, k, iters, maxTrainVectors)
    val e = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cells = Similarity.assign(e, cents)
      .select(col("cid"), col("vec_id"), normalized(col("v")).as("vn"))
    val a = cells.select(col("cid"), col("vec_id").as("ai"),
      col("vn").as("av"))
    val b = cells.select(col("cid"), col("vec_id").as("bi"),
      col("vn").as("bv"))
    val drops = a.join(b, Seq("cid"))
      .filter(col("ai") < col("bi") &&
        dot(col("av"), col("bv")) >= threshold)
      .select(col("bi").as("vec_id")).distinct()
    cells.select(col("vec_id"), col("cid"))
      .join(drops.withColumn("_d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        (!coalesce(col("_d"), lit(false))).as("keep"))
  }

  /** Cluster-topic report: k-means clusters over the embedding corpus
    * (the shared deterministic Lloyd quantizer) joined back to the
    * paired documents, with each cluster described by its `topTerms`
    * most DISTINCTIVE terms by lift — (in-cluster doc frequency /
    * cluster size) ÷ (corpus doc frequency / corpus size) — the
    * "what is actually in my training data" audit every curation
    * decision should start from (raw frequency would crown stopwords;
    * lift surfaces what makes a cluster a topic).
    *
    * Determinism: integer counts everywhere; lift is ONE fixed double
    * division of two exact integer products (long-safe: n·N ≤ 2⁶³ far
    * beyond any corpus), ties broken by term.
    *
    * Scale shape: the only corpus-sized exchanges are the Lloyd
    * assignment (capped-sample training, broadcast centroids) and the
    * (doc, term) df aggregate — both map-side combined. The
    * cluster×term candidate set is |vocab|·k rows; df, sizes and the
    * corpus count ride broadcasts. */
  def clusterTopics(emb: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, k: Int = 8, iters: Int = 2,
      maxTrainVectors: Int = 256, topTerms: Int = 5): DataFrame = {
    import graft.similarity.Similarity
    val cents = Similarity.kmeansCentroids(emb, k, iters, maxTrainVectors)
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cells = Similarity.assign(e, cents).select(col("vec_id"), col("cid"))
    val sizes = cells.groupBy("cid").agg(count(lit(1)).as("cluster_size"))
    val nTotal = docs.agg(count(lit(1)).as("n_total"))
    val terms = docs.select(col(idCol).as("vec_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol))))
        .as("term"))
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val ct = cells.join(terms, "vec_id")
      .groupBy("cid", "term").agg(count(lit(1)).as("n_docs"))
    val scored = ct.join(broadcast(dfreq), "term")
      .join(broadcast(sizes), "cid")
      .crossJoin(broadcast(nTotal))
      .withColumn("lift",
        (col("n_docs") * col("n_total")).cast("double") /
          (col("cluster_size") * col("df")).cast("double"))
    val w = Window.partitionBy("cid")
      .orderBy(col("lift").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topTerms)
      .select(col("cid"), col("cluster_size"), col("rank"), col("term"),
        col("n_docs"), col("df"), col("lift"))
  }

  /** Cluster-balanced token budget: [[tokenBudgetSample]] with the
    * stratum being each document's SEMANTIC CLUSTER (the shared
    * deterministic Lloyd assignment over the paired embeddings)
    * instead of a metadata column — every topical region of the
    * corpus contributes up to `budgetTokens`, so a dominant topic
    * cannot crowd the mixture however the metadata is labeled (the
    * cluster-balanced selection move of SemDeDup-era curation:
    * metadata strata balance what you RECORDED, semantic strata
    * balance what the data actually IS).
    *
    * Scale shape: Lloyd assignment is capped-sample training +
    * broadcast centroids (s03's machinery); the budget walk is one
    * window shuffle on cluster id. Deterministic: md5-ordered walk,
    * integer token counts. */
  def clusterBudgetSample(emb: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, budgetTokens: Long, k: Int = 8, iters: Int = 2,
      maxTrainVectors: Int = 256): DataFrame = {
    import graft.similarity.Similarity
    val cents = Similarity.kmeansCentroids(emb, k, iters, maxTrainVectors)
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val cells = Similarity.assign(e, cents)
      .select(col("vec_id").as(idCol), col("cid"))
    tokenBudgetSample(docs.join(cells, idCol), idCol, textCol, "cid",
      budgetTokens)
  }

  /** Fuzzy vocabulary matching: every pair of DISTINCT corpus tokens
    * within `maxDist` Levenshtein edits, with a canonical-form vote
    * (the higher-df spelling wins, ties to the lexically-smaller) —
    * the spelling-variant / OCR-noise normalization step that runs
    * before shingle dedup on scraped corpora (a corpus where "recieve"
    * and "receive" count as different tokens fractures every
    * token-level statistic downstream).
    *
    * Scale shape: the pair search runs over the VOCABULARY (distinct
    * tokens + df — one map-side-combined aggregate over the corpus),
    * never the corpus itself. Candidate generation is a LENGTH-BAND
    * self-join: each term emits `maxDist+1` anchor lengths
    * [len−maxDist, len], and two terms share an anchor iff their
    * lengths differ by ≤ maxDist — a necessary condition for edit
    * distance ≤ maxDist, so the blocking is COMPLETE (no qualifying
    * pair is missed; the all-pairs oracle is exact, not approximate).
    * Candidates per anchor are |band|² over the vocabulary — bounded
    * by type counts (Heaps' law: ~√corpus), not token counts; the
    * codegen'd `levenshtein` verify then discards non-matches. */
  def fuzzyVocabPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val vocab = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol)))
        .as("term"))
      .groupBy("term")
      .agg(countDistinct(col(idCol)).as("df"))
    val anchored = vocab
      .withColumn("len", length(col("term")))
      .withColumn("anchor", explode(sequence(
        greatest(col("len") - maxDist, lit(1)), col("len"))))
      .select(col("anchor"), col("term"), col("df"))
    val cand = anchored.as("a").join(anchored.as("b"),
        col("a.anchor") === col("b.anchor") &&
          col("a.term") < col("b.term"))
      .select(col("a.term").as("term_a"), col("b.term").as("term_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .distinct() // adjacent bands share anchors: each pair once
    cand
      .withColumn("dist",
        levenshtein(col("term_a"), col("term_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .withColumn("canon", when(col("df_b") > col("df_a"), col("term_b"))
        .otherwise(col("term_a")))
  }

  // ---- DSIR importance resampling ----

  /** Quantized natural log of a positive integer count: floor(ln(c) ·
    * 2^20) as a long. The fixed-point grid makes every downstream sum
    * exact integer arithmetic — order-independent, engine-independent —
    * where a raw double ln differs by 1 ulp between libm
    * implementations (measured: 4 of 200k integer args differ between
    * JVM `Math.log` and DuckDB `ln`; the quantized form agrees on all
    * 5.25M args sampled up to 2·10^9). The 2^-20 grid costs ~1e-6 nats
    * of resolution — noise next to the estimator's own variance. */
  private def qlog(c: Column): Column =
    floor(log(c.cast("double")) * lit(1048576.0)).cast("long")

  /** Data Selection with Importance Resampling (DSIR, Xie et al.,
    * arXiv:2302.03169): select raw-corpus documents whose hashed
    * n-gram feature distribution looks like a TARGET corpus. Features
    * are unigrams + bigrams hashed into `nBuckets` buckets; the
    * target (p) and raw (q) corpora each induce an add-one-smoothed
    * bucket distribution, and each document is scored by the
    * log-likelihood ratio  Σ_g [ln p(b(g)) − ln q(b(g))]  over its
    * grams. The top `keepFrac` of documents by that score (ties by
    * doc id) are marked `selected` — the paper's resampling step made
    * deterministic, the same top-k-for-Gumbel trade every other
    * sampler in this module makes.
    *
    * All scores are exact longs on the [[qlog]] grid, so no float
    * ordering or summation-order hazard exists anywhere in the plan.
    *
    * Shape at scale: the gram stream is a narrow explode (rows ∝
    * corpus tokens); bucket statistics are two B-row aggregates
    * broadcast back onto the per-doc-bucket counts (≤ n_docs · B
    * rows); selection never globally sorts the corpus — it joins a
    * broadcast score HISTOGRAM (one row per distinct score, with a
    * running count) and keeps a row iff cum_before + rank-within-its-
    * score-tie ≤ K, so the only windows are one over the tiny
    * histogram and one partitioned by score value.
    *
    * Returns every doc: (id, n_grams, qlogw, selected), where qlogw =
    * Σ_g [qlog(cp+1) − qlog(cq+1)] + n_grams·[qlog(Nq+B) − qlog(Np+B)].
    */
  /** (id, bucket) rows of the hashed unigram+bigram feature stream —
    * the gram string (not a tuple) is md5-hashed so any engine
    * reproduces the bucket ids. Extra columns in `docs` pass through. */
  private def dsirBuckets(docs: DataFrame, textCol: String,
      nBuckets: Int): DataFrame =
    docs.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      // drop the text BEFORE the explode: carrying it through would
      // replicate every document body once per gram
      .drop(textCol)
      .withColumn("gram", explode(concat(col("_toks"),
        coalesce(when(size(col("_toks")) >= 2, expr(
          "transform(slice(_toks, 1, size(_toks) - 1), " +
            "(w, i) -> concat(w, ' ', _toks[i + 1]))")),
          array()))))
      .withColumn("bucket",
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
          % nBuckets)
      .drop("_toks", "gram")

  /** The frozen DSIR model: per-bucket quantized likelihood ratios
    * (bucket, v) and the 1-row normalizer (norm) learned from a
    * reference corpus — the artifact a production gate trains offline
    * and applies online ([[dsirScore]]). Both tables are B-row tiny. */
  def dsirBucketStats(reference: DataFrame, idCol: String,
      textCol: String, isTarget: Column, nBuckets: Int = 256)
      : (DataFrame, DataFrame) = {
    val grams = dsirBuckets(
      reference.select(col(idCol), isTarget.as("_tgt"), col(textCol)),
      textCol, nBuckets)
    val bucketStats = grams
      .groupBy("bucket")
      .agg(count(lit(1)).as("cq"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("cp"))
    val perBucket = bucketStats
      .select(col("bucket"), (qlog(col("cp") + 1) - qlog(col("cq") + 1)).as("v"))
    val norm = bucketStats
      .agg((qlog(sum("cq") + nBuckets) - qlog(sum("cp") + nBuckets)).as("norm"))
    (perBucket, norm)
  }

  /** Score `docs` against a frozen model: per-doc exact-long qlogw =
    * Σ_g v(bucket(g)) + n_grams·norm, with v(unseen bucket) = 0 (the
    * add-one ratio of two zero counts). Map-shaped: one narrow gram
    * explode, one broadcast join of the B-row model, one per-doc
    * aggregate — no reference to the training corpus, which is what
    * lets the gate run per micro-batch over an unbounded stream. */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      perBucket: DataFrame, norm: DataFrame,
      nBuckets: Int = 256): DataFrame = {
    // nBuckets MUST match the modulus the stats were trained with —
    // the scorer re-hashes grams, the model carries no raw grams
    val docBuckets =
      dsirBuckets(docs.select(col(idCol), col(textCol)), textCol, nBuckets)
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val perDoc = docBuckets
      .join(broadcast(perBucket), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum("c").as("n_grams"),
        sum(col("c") * coalesce(col("v"), lit(0L))).as("_s"))
      .crossJoin(broadcast(norm))
      .select(col(idCol), col("n_grams"),
        (col("_s") + col("n_grams") * col("norm")).as("qlogw"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("qlogw"), lit(0L)).as("qlogw"))
  }

  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 256,
      keepFrac: Double = 0.2): DataFrame = {
    val (perBucket, norm) =
      dsirBucketStats(docs, idCol, textCol, isTarget, nBuckets)
    val scored =
      dsirScore(docs, idCol, textCol, perBucket, norm, nBuckets)
    // exact top-K without a global sort: histogram of distinct scores
    // (running count over the histogram, not the corpus), then keep iff
    // cum-before-this-score + rank-within-tie ≤ K. The count() is one
    // column-pruned scan; K must be a literal for both engines' plans.
    val k = math.floor(docs.count() * keepFrac).toLong
    val hw = Window.orderBy(col("qlogw").desc)
    val hist = scored.groupBy("qlogw").agg(count(lit(1)).as("_cnt"))
      .withColumn("_cum_before", coalesce(
        sum("_cnt").over(hw.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop("_cnt")
    val tieW = Window.partitionBy("qlogw").orderBy(col(idCol))
    scored.join(broadcast(hist), Seq("qlogw"))
      .withColumn("_tr", row_number().over(tieW))
      .select(col(idCol), col("n_grams"), col("qlogw"),
        ((col("_cum_before") + col("_tr")) <= k).as("selected"))
  }

  /** Exact duplicated-SPAN detection at n-gram grain (the bounded-
    * memory Spark rendering of "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022): a position is
    * duplicated iff its n-token gram occurs ≥ 2 times ANYWHERE in the
    * corpus (other docs or elsewhere in the same doc — verbatim
    * self-repeats are exactly what substring dedup removes). Per doc:
    * total tokens, gram positions, duplicated positions, and the
    * TOKEN MASS covered by the union of duplicated spans (overlapping
    * spans merged by a running-max gaps-and-islands pass — the number
    * a span-scrub of this corpus would delete).
    *
    * The suffix-array machinery of the paper finds arbitrary-length
    * duplicates but needs corpus-order global structures; fixing the
    * grain at `n` tokens turns the whole problem into two linear
    * shuffles — positions group by gram identity (md5, 128-bit: no
    * cross-engine collision question at any corpus size), duplicated
    * positions group back by doc — so the operator holds at 100 TB:
    * no all-pairs, no global sort, per-doc state bounded by doc
    * length. Every emitted field is an exact integer. */
  /** Tokenized base for the span family: (id, _toks, n_tokens,
    * n_grams) — one row per doc. */
  private[graft] def spanBase(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
        graft.text.TextAnalysis.tokens(col(textCol)).as("_toks"))
      .withColumn("n_tokens", size(col("_toks")).cast("long"))
      .withColumn("n_grams",
        greatest(col("n_tokens") - (n - 1), lit(0L)))

  /** (id, pos, g) — every n-gram position with its md5 gram identity
    * as 16 RAW BYTES (128-bit: no collision question at any corpus
    * size, even for the destructive scrub). `unhex` halves the
    * identity's shuffle footprint vs the 32-char hex string — at a
    * 100 TB corpus the gram relation is ~n_tokens rows and its `g`
    * column dominates the span family's two exchanges, so the binary
    * form cuts those shuffles' bytes ~2x with bit-identical results
    * (hex↔bytes is a bijection: equal-gram sets, keeper choices, and
    * reports cannot differ — spec-pinned against a hex-gram replay).
    * `base` is [[spanBase]]'s output. */
  private[graft] def gramRows(base: DataFrame, idCol: String, n: Int)
      : DataFrame =
    base.filter(col("n_grams") > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), col("n_grams")),
        i => unhex(md5(concat_ws(" ", slice(col("_toks"), i, lit(n)))))))
        .as(Seq("_p0", "g")))
      .select(col(idCol), (col("_p0") + 1).as("pos"), col("g"))

  /** Per-doc interval-union token coverage of duplicated positions:
    * (id, dup_grams, dup_tokens) over `dupPos` rows (id, pos). The
    * running-max gaps-and-islands pass — overlapping [pos, pos+n-1]
    * spans merge. */
  private[graft] def spanCoverage(dupPos: DataFrame, idCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("pos")
    dupPos
      .withColumn("_prev_end", max(col("pos") + (n - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_inc", when(col("_prev_end").isNull, lit(n.toLong))
        .otherwise(greatest(lit(0L),
          least(lit(n.toLong), col("pos") + (n - 1) - col("_prev_end")))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_grams"), sum("_inc").as("dup_tokens"))
  }

  /** The span family's per-doc report: coverage of `dupPos` joined
    * back onto every base doc, absent coverage as exact zeros.
    * Shared by [[dupSpans]] and the incremental chain's spanStep so
    * the p10/e25-vs-d25 schema parity the oracles assume can't
    * drift. */
  private[graft] def spanReport(base: DataFrame, dupPos: DataFrame,
      idCol: String, n: Int): DataFrame = {
    val covered = spanCoverage(dupPos, idCol, n)
    base.select(col(idCol), col("n_tokens"), col("n_grams"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val t = spanBase(docs, idCol, textCol, n)
    val grams = gramRows(t, idCol, n)
    // a gram's occurrence count comes from ONE window pass over the
    // gram relation instead of groupBy-count + join-back (guide §2.4):
    // the old shape materialized the exploded md5 gram relation — the
    // span family's dominant compute and shuffle at corpus scale —
    // TWICE (once under the aggregate, once as the join probe) and
    // exchanged both; the window keeps one materialization and one
    // exchange. Same (id, pos) multiset by definition of the count.
    val wg = Window.partitionBy("g")
    val dupPos = grams.withColumn("_c", count(lit(1)).over(wg))
      .filter(col("_c") >= 2)
      .select(col(idCol), col("pos"))
    spanReport(t, dupPos, idCol, n)
  }

  /** Scrub half of the duplicated-span pair ([[dupSpans]] detects): a
    * REWRITE that deletes every duplicated n-gram span except the
    * gram's globally FIRST occurrence (min (doc_id, pos) — Lee et
    * al.'s keep-one convention), then re-joins the surviving tokens.
    * Deterministic and purely relational: non-keeper positions expand
    * to their n covered token slots (an n-fold explode of dup
    * positions only, never of the corpus), and the token stream
    * anti-joins that covered set — no per-doc imperative pass, so the
    * rewrite scales exactly like the detector plus one bounded
    * explode. Emits (doc_id, n_tokens, kept_tokens, text_scrubbed);
    * strings and integers only. */
  /** The scrub family's rewrite tail: expand non-keeper positions to
    * covered token slots (n-fold explode of dup positions only), anti-
    * join the token stream, reassemble per doc. Shared by the one-shot
    * [[scrubDupSpans]] and the incremental chain's scrubStep — the
    * same parity discipline as [[spanReport]]. Emits (id, n_tokens,
    * kept_tokens, text_scrubbed). */
  private[graft] def scrubReport(base: DataFrame, nonKeeperPos: DataFrame,
      idCol: String, n: Int): DataFrame = {
    val covered = nonKeeperPos
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
      .distinct()
    val toks = base.select(col(idCol),
        posexplode(col("_toks")).as(Seq("_i0", "tok")))
      .select(col(idCol), (col("_i0") + 1).as("tpos"), col("tok"))
    val kept = toks.join(covered, Seq(idCol, "tpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("tpos"), col("tok")))),
          s => s.getField("tok"))).as("text_scrubbed"))
    base.select(col(idCol), col("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"))
  }

  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val t = spanBase(docs, idCol, textCol, n)
    val grams = gramRows(t, idCol, n)
    // per gram: occurrence count and the keeper (globally first) via
    // ONE window pass — same single-materialization argument as
    // [[dupSpans]]; min(struct) over the whole g-partition is exactly
    // the old groupBy's min, so keeper choices are identical
    val wg = Window.partitionBy("g")
    val nonKeeper = grams
      .withColumn("_c", count(lit(1)).over(wg))
      .withColumn("_keep", min(struct(col(idCol), col("pos"))).over(wg))
      .filter(col("_c") >= 2)
      .filter(!(col(idCol) === col("_keep")(idCol) &&
        col("pos") === col("_keep")("pos")))
      .select(col(idCol), col("pos"))
    scrubReport(t, nonKeeper, idCol, n)
  }

  // ---- query inventory ----

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "d01_exact_dedup" -> ((s, dir) =>
      exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("fp")),
    // d20: the length-band blocking is complete for lev <= 2, so the
    // engine must reproduce the oracle's ALL-PAIRS answer exactly
    "d20_fuzzy_vocab" -> ((s, dir) =>
      fuzzyVocabPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("term_a", "term_b")),
    // d21: embeddings cluster (doc_id == vec_id pairing), documents
    // label — the oracle replays the d11 Lloyd chain at this key's
    // (k, iters, trainN) and the lift ranking relationally
    "d21_cluster_topics" -> ((s, dir) =>
      clusterTopics(Tables.embeddings(s, dir), Tables.documents(s, dir),
        "doc_id", "text")
        .orderBy("cid", "rank")),
    // d22: the d12 budget walk with SEMANTIC strata (d21's cells)
    "d22_cluster_budget" -> ((s, dir) =>
      clusterBudgetSample(Tables.embeddings(s, dir),
        Tables.documents(s, dir), "doc_id", "text", budgetTokens = 1500)
        .select("doc_id", "cid", "n_tokens", "cum_tokens")
        .orderBy("cid", "doc_id")),
    // d24: DSIR importance resampling toward the English sub-corpus —
    // hashed unigram+bigram likelihood ratios on the exact qlog grid,
    // top 20% kept; every score is a long, so the hash check covers
    // the full selection decision, not a rounded shadow of it
    "d24_dsir_sample" -> ((s, dir) =>
      dsirResample(Tables.documents(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en")
        .orderBy("doc_id")),
    // d25: exact duplicated-span detection at 8-gram grain — per doc,
    // the positions whose gram recurs anywhere in the corpus and the
    // merged token mass those spans cover; all exact integers
    "d25_dup_spans" -> ((s, dir) =>
      dupSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")),
    // x42: d25 driven through SQL — graft_dup_spans('<path>', n), the
    // curation surface for the Athena-shaped analyst (SURVEY §2.6's
    // persona can now reach span dedup without the DataFrame API).
    // Shares d25's oracle verbatim: the table function IS the same
    // lazy plan over the same parquet.
    "x42_sql_dup_spans" -> ((s, dir) =>
      s.sql(s"SELECT * FROM graft_dup_spans('$dir/documents.parquet', 8)" +
        " ORDER BY doc_id")),
    // x49: d13's contamination report driven through SQL —
    // graft_decon_report('<corpus>', '<eval>'), the decontamination
    // console for the same persona (threshold the overlap fraction
    // without leaving SQL). Shares d13's oracle verbatim: the table
    // function is the same lazy plan over the same relations, reached
    // through the MOR-aware corpus resolver.
    "x49_sql_decon" -> ((s, dir) => {
      val base = graft.util.Scratch.cached("x49:" + dir, "graft_x49_") {
        p =>
          val docs = Tables.documents(s, dir)
          docs.filter(col("doc_id") >= 10).write.parquet(p + "/corpus")
          docs.filter(col("doc_id") < 10).write.parquet(p + "/eval")
      }
      s.sql(s"SELECT * FROM graft_decon_report('$base/corpus', " +
        s"'$base/eval') ORDER BY id")
    }),
    // d26: the rewrite half — duplicated spans deleted except each
    // gram's globally-first occurrence, tokens re-joined; the scrubbed
    // STRINGS are the hash-checked artifact
    "d26_span_dedup" -> ((s, dir) =>
      scrubDupSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")),
    // e20: the ONLINE half of DSIR — the d24 model trained offline on
    // the reference split (doc_id % 5 <> 0), frozen (localCheckpoint),
    // then applied per micro-batch to the streamed split as a pure
    // map + B-row broadcast join; kept = likelihood ratio ≥ 1 (qlogw
    // ≥ 0). Per-batch output dirs are batch-id-keyed (retry =
    // overwrite, idempotent). The production shape for quality-gating
    // an unbounded crawl: no global state, no corpus sort, each
    // trigger touches only its own batch.
    "e20_stream_quality_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (pb0, nm0) = dsirBucketStats(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        isTarget = col("lang") === "en")
      // freeze: materialize the two tiny model tables once, so each
      // trigger joins a local relation instead of re-training
      val pb = pb0.localCheckpoint(true)
      val nm = nm0.localCheckpoint(true)
      val inDir = graft.util.Scratch.fresh("graft_e20in_")
      val outDir = graft.util.Scratch.fresh("graft_e20o_")
      docs.filter(col("doc_id") % 5 === 0)
        .repartition(3).write.mode("overwrite").parquet(inDir)
      val schema = s.read.parquet(inDir).schema
      graft.util.StreamTuning.drain(s, inDir,
        graft.util.Scratch.fresh("graft_e20c_")) {
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            dsirScore(batch, "doc_id", "text", pb, nm)
              .withColumn("kept", col("qlogw") >= 0)
              .write.mode("overwrite").parquet(s"$outDir/b=$bid")
          }
      }
      s.read.parquet(outDir)
        .select("doc_id", "n_grams", "qlogw", "kept")
        .orderBy("doc_id")
    }),
    "d02_minhash_sig" -> ((s, dir) =>
      lshBands(minhashSignatures(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id").orderBy("doc_id", "band")),
    "d03_lsh_pairs" -> ((s, dir) =>
      lshCandidatePairs(
        lshBands(minhashSignatures(Tables.documents(s, dir), "doc_id", "text"),
          "doc_id"), "doc_id")
        .orderBy("id_a", "id_b")),
    // d23: the banding's measured selectivity curve — ALL co-shingled
    // exact-Jaccard pairs (d04's machinery, threshold 0) binned by
    // true similarity, scored against d03's candidate set; the 0.0
    // bin is the false-positive floor, the top bins the recall dedup
    // relies on
    "d23_lsh_recall" -> ((s, dir) =>
      lshRecallByBin(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.0, maxDf = 50)),
    // maxDf=50: shingles in more docs than that are evidence-free
    // boilerplate whose inverted-index fan-out is quadratic per shingle
    // — the df cap is what keeps this operator alive at corpus scale
    // (planted near-dup clusters are ~25 docs, so their shingles
    // survive the cap at every SF)
    "d04_jaccard_neardup" -> ((s, dir) =>
      jaccardPairs(Tables.documents(s, dir), "doc_id", "text", 0.8,
        maxDf = 50)
        .orderBy("id_a", "id_b")),
    // the AllPairs/PPJoin prefix-filtered variant shares d04's exact
    // contract (same pairs, same jaccard values), so it shares d04's
    // oracle — a driver-key guarantee that the prefix-filter cost
    // optimization can never silently change results
    "d15_jaccard_prefix" -> ((s, dir) =>
      jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text", 0.8,
        maxDf = 50)
        .orderBy("id_a", "id_b")),
    // directed containment at a lower bar than d04's symmetric 0.8 —
    // the subset-quote detector
    "d14_containment" -> ((s, dir) =>
      containmentPairs(Tables.documents(s, dir), "doc_id", "text", 0.6,
        maxDf = 50)
        .orderBy("id_a", "id_b")),
    "d05_simhash" -> ((s, dir) =>
      simhash32(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "d06_embedding_topsim" -> ((s, dir) =>
      embeddingTopPairs(Tables.embeddings(s, dir), "vec_id", "embedding", 20)),
    // SemDeDup: cluster-bounded pairwise semantic dedup; oracle replays
    // the same deterministic Lloyd + assignment CTEs as s03, then the
    // min-id keeper as a NOT EXISTS
    "d11_semantic_dedup" -> ((s, dir) =>
      semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 10, threshold = 0.35, maxTrainVectors = 256)
        .orderBy("vec_id")),
    // token-budget mixture selection: 2000 tokens per language, docs
    // walked in deterministic md5 order
    "d12_token_budget" -> ((s, dir) =>
      tokenBudgetSample(Tables.documents(s, dir), "doc_id", "text",
        "lang", budgetTokens = 2000)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
        .orderBy("lang", "doc_id")),
    "d07_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      contaminationFlags(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10), "doc_id", "text", minShared = 3)
        .orderBy("id")
    }),
    "d13_contamination_frac" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      contaminationReport(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10), "doc_id", "text")
        .orderBy("id")
    }),
    // d27: SEMANTIC decontamination — d07's flags in embedding space
    // (vec_id < 10 plays the benchmark; minCos 0.3 sits inside the
    // corpus's upper max-cos decile at every SF, so verdicts are
    // non-vacuous and split). Integer/boolean emissions; the one
    // float (the cosine) only drives comparisons, never digits.
    "d27_semantic_decontaminate" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      semanticContaminationFlags(emb.filter(col("vec_id") >= 10),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        minCos = 0.3)
        .orderBy("vec_id")
    }),
    "d08_hash_sample" -> ((s, dir) =>
      hashSampleByStratum(Tables.documents(s, dir), "doc_id", "lang", 5)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("lang", "doc_id")),
    // pairwise evidence → cluster decisions: connected components over
    // the d03 LSH candidate pairs (oracle: recursive-CTE closure)
    "d09_dup_clusters" -> ((s, dir) =>
      duplicateClusters(
        lshCandidatePairs(
          lshBands(minhashSignatures(Tables.documents(s, dir),
            "doc_id", "text"), "doc_id"), "doc_id"))
        .orderBy("id")),
    // d16: the end-to-end KEEP decision — the corpus that survives the
    // whole MinHash → LSH → connected-components → min-id-keeper
    // chain. d02/d03/d09 oracle the evidence stages; this key oracles
    // the surviving corpus itself, so a change anywhere in the chain
    // that alters WHICH documents ship to training breaks the hash.
    // d19: NFC-invariant exact dedup — the corpus doubled into a
    // composed-accents variant and a decomposed-accents variant (same
    // characters, different bytes); after graft_nfc canonicalization
    // every pair must land in ONE group. Without the normalization the
    // two encodings even TOKENIZE differently (the combining mark
    // splits from its base letter), so this pins the real multilingual
    // fracture, not a byte-identity tautology.
    "d19_nfc_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val composed = docs.select(col("doc_id"),
        regexp_replace(col("text"), "a", "\u00e1").as("text"))
      val decomposed = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "a", "a\u0301").as("text"))
      exactGroupsNfc(composed.unionByName(decomposed), "doc_id", "text")
        .orderBy("fp")
    }),
    // d18: the pre-cut mixture audit — budget 60000 tokens against the
    // per-language availability (shortfalls surface at small SFs where
    // the corpus can't fill its share; larger corpora fill it)
    "d18_mixture_plan" -> ((s, dir) =>
      mixturePlan(Tables.documents(s, dir), "text", "lang",
        budgetTokens = 60000, Map("en" -> 0.5, "de" -> 0.2),
        default = 0.1)
        .orderBy("lang")),
    // d17: the per-ingest screening pass — every 5th doc plays the
    // "new crawl", the rest the standing corpus
    "d17_incremental_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      incrementalNearDupFlags(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
        .orderBy("id")
    }),
    "d16_neardup_keep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      dropNearDups(docs, "doc_id",
        duplicateClusters(lshCandidatePairs(lshBands(
          minhashSignatures(docs, "doc_id", "text"), "doc_id"),
          "doc_id")))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // target-mixture reweighting: keep en at 60%, de at 30%, the rest
    // at 10% — deterministic md5 coin per doc
    "d10_mixture_sample" -> ((s, dir) =>
      mixtureSample(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 0.6, "de" -> 0.3), default = 0.1)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),
  )

  private val toksSql =
    "list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')"
  private[graft] val shinglesSql =
    s"""(SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
       | THEN list_transform(generate_series(1, len(toks)-2), i -> array_to_string(toks[i:i+2], ' '))
       | ELSE [] END) AS sh
       | FROM (SELECT doc_id, $toksSql AS toks FROM documents))""".stripMargin.replace("\n", "")
  private[graft] def minhashSql: String =
    (0 until numHashes).map(j =>
      s"min(substr(md5(sh) || md5('x' || sh), ${1 + 8 * j}, 8)) AS h$j")
      .mkString(", ")
  /** Shared CTE chain producing the LSH band keys (d03/d09). */
  private[graft] def bandsCte: String =
    s"""m AS (SELECT doc_id, $minhashSql FROM $shinglesSql GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0||'|'||h1||'|'||h2||'|'||h3) AS bkey FROM m
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(h4||'|'||h5||'|'||h6||'|'||h7) AS bkey FROM m)""".stripMargin

  /** d05 (xxhash64-based) gets a rows-only check; the rest are exact
    * DuckDB parity — including d06's cosine values, which are
    * bit-identical because both engines normalize per-row then run the
    * same sequential-order dot product. */
  /** Shared span-oracle CTE fragments (the cdcChunkCtesSql discipline:
    * one copy of the tokenize/base/gram/coverage algebra, composed by
    * the d25, d26 and p10/e25 oracles — a grain or tokenizer change
    * edits ONE string). `spanGramCteSql(extra)` injects extra SELECT
    * columns (the chain's ingest id) between doc_id and pos;
    * `spanCovCtesSql` consumes a `dp(doc_id, pos)` CTE. */
  private[graft] val spanBaseCtesSql: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |           CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_grams,
       |           toks FROM t)""".stripMargin

  private[graft] def spanGramCteSql(extra: String = ""): String =
    s"""g AS (SELECT doc_id, ${extra}pos,
       |        array_to_string(toks[CAST(pos AS INT) :
       |                             CAST(pos + 7 AS INT)], ' ') AS gram
       |      FROM (SELECT doc_id, toks,
       |              unnest(generate_series(1, n_grams)) AS pos
       |            FROM base))""".stripMargin

  /** Scrub-oracle tail (consumes an `nk(doc_id, pos)` CTE of
    * non-keeper positions): covered-slot expansion, token stream
    * anti-join, per-doc reassembly. Shared by d26 and the p11/e26
    * chain oracle. */
  private[graft] val scrubTailCtesSql: String =
    """covered AS (SELECT DISTINCT doc_id, pos + d AS tpos
      |            FROM nk, unnest(generate_series(0, 7)) AS u(d)),
      |tok AS (SELECT doc_id, unnest(toks) AS tok,
      |          generate_subscripts(toks, 1) AS tpos FROM base),
      |kept AS (SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
      |           string_agg(tok.tok, ' ' ORDER BY tok.tpos)
      |             AS text_scrubbed
      |         FROM tok LEFT JOIN covered
      |           ON covered.doc_id = tok.doc_id
      |          AND covered.tpos = tok.tpos
      |         WHERE covered.doc_id IS NULL
      |         GROUP BY tok.doc_id)""".stripMargin

  private[graft] val spanCovCtesSql: String =
    """isl AS (SELECT doc_id, pos,
      |          max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |            AS prev_end
      |        FROM dp),
      |cov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_grams,
      |          CAST(SUM(CASE WHEN prev_end IS NULL THEN 8
      |                ELSE greatest(0, least(8, pos + 7 - prev_end))
      |              END) AS BIGINT) AS dup_tokens
      |        FROM isl GROUP BY doc_id)""".stripMargin

  private val oracle0: Map[String, String] = Map(
    // d25: the duplicated-span algebra restated — grams by STRING
    // identity (the engine's md5 grouping is injective at 128 bits),
    // dup = global count >= 2, coverage by the same running-max
    // gaps-and-islands union; every output an exact integer
    "d25_dup_spans" ->
      s"""WITH $spanBaseCtesSql,
         |${spanGramCteSql()},
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
         |dp AS (SELECT doc_id, pos FROM g
         |       WHERE gram IN (SELECT gram FROM dup)),
         |$spanCovCtesSql
         |SELECT b.doc_id, b.n_tokens, b.n_grams,
         |       COALESCE(cov.dup_grams, 0) AS dup_grams,
         |       COALESCE(cov.dup_tokens, 0) AS dup_tokens
         |FROM base b LEFT JOIN cov USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    // d26: the scrub algebra restated — keeper = first (doc_id, pos)
    // per gram (rn = 1 under that order), non-keeper spans expand to
    // covered slots, surviving tokens re-join in order
    "d26_span_dedup" ->
      s"""WITH $spanBaseCtesSql,
         |${spanGramCteSql()},
         |r AS (SELECT doc_id, pos, gram,
         |        row_number() OVER (PARTITION BY gram
         |          ORDER BY doc_id, pos) AS rn
         |      FROM g),
         |nk AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
         |$scrubTailCtesSql
         |SELECT b.doc_id, b.n_tokens,
         |       COALESCE(kept.kept_tokens, 0) AS kept_tokens,
         |       COALESCE(kept.text_scrubbed, '') AS text_scrubbed
         |FROM base b LEFT JOIN kept USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    "d01_exact_dedup" ->
      s"""WITH f AS (SELECT doc_id, md5(array_to_string($toksSql, ' ')) AS fp
         |           FROM documents),
         |r AS (SELECT doc_id, fp, row_number() OVER (
         |        PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
         |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper,
         |  string_agg(CASE WHEN rn <= 100 THEN doc_id END, ','
         |    ORDER BY doc_id) AS doc_ids,
         |  greatest(COUNT(*) - 100, 0) AS n_overflow
         |FROM r GROUP BY fp ORDER BY fp""".stripMargin,
    // d24: the DSIR chain restated — same md5 bucketing, same add-one
    // smoothing, same floor(ln·2^20) quantization (bit-parity of the
    // quantized log verified over 5.25M integer args), same
    // cum-before + tie-rank ≤ K selection (row_number over the global
    // score order equals the engine's histogram decomposition)
    "d24_dsir_sample" ->
      s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt, $toksSql AS toks
         |           FROM documents),
         |g AS (SELECT doc_id, tgt, unnest(toks || CASE WHEN len(toks) >= 2
         |        THEN list_transform(generate_series(1, len(toks) - 1),
         |               i -> toks[i] || ' ' || toks[i + 1])
         |        ELSE [] END) AS gram FROM t),
         |bk AS (SELECT doc_id, tgt,
         |         CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
         |           % 256 AS bucket FROM g),
         |bc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cq,
         |         CAST(COUNT(*) FILTER (WHERE tgt) AS BIGINT) AS cp
         |       FROM bk GROUP BY 1),
         |v AS (SELECT bucket,
         |        CAST(FLOOR(ln(CAST(cp + 1 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      - CAST(FLOOR(ln(CAST(cq + 1 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |          AS v FROM bc),
         |tot AS (SELECT
         |    CAST(FLOOR(ln(CAST(SUM(cq) + 256 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |  - CAST(FLOOR(ln(CAST(SUM(cp) + 256 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      AS norm FROM bc),
         |db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM bk GROUP BY 1, 2),
         |pd AS (SELECT db.doc_id, CAST(SUM(db.c) AS BIGINT) AS n_grams,
         |         CAST(SUM(db.c * v.v) AS BIGINT) AS s
         |       FROM db JOIN v USING (bucket) GROUP BY 1),
         |sc AS (SELECT d.doc_id,
         |         COALESCE(pd.n_grams, 0) AS n_grams,
         |         COALESCE(pd.s + pd.n_grams * tot.norm, 0) AS qlogw
         |       FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id, tot),
         |kk AS (SELECT CAST(FLOOR(COUNT(*) * 0.2) AS BIGINT) AS k
         |       FROM documents),
         |r AS (SELECT doc_id, n_grams, qlogw,
         |        row_number() OVER (ORDER BY qlogw DESC, doc_id) AS rn
         |      FROM sc)
         |SELECT doc_id, n_grams, qlogw, rn <= kk.k AS selected
         |FROM r, kk ORDER BY doc_id""".stripMargin,
    // e20: d24's chain split into train (doc_id % 5 <> 0) and apply
    // (doc_id % 5 = 0) halves; apply-side grams hitting buckets the
    // reference never saw carry v = 0 (add-one ratio of two zero
    // counts), hence the LEFT JOIN + COALESCE; kept = qlogw >= 0
    "e20_stream_quality_gate" ->
      s"""WITH tr AS (SELECT doc_id, lang = 'en' AS tgt, $toksSql AS toks
         |            FROM documents WHERE doc_id % 5 <> 0),
         |g AS (SELECT doc_id, tgt, unnest(toks || CASE WHEN len(toks) >= 2
         |        THEN list_transform(generate_series(1, len(toks) - 1),
         |               i -> toks[i] || ' ' || toks[i + 1])
         |        ELSE [] END) AS gram FROM tr),
         |bk AS (SELECT doc_id, tgt,
         |         CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
         |           % 256 AS bucket FROM g),
         |bc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cq,
         |         CAST(COUNT(*) FILTER (WHERE tgt) AS BIGINT) AS cp
         |       FROM bk GROUP BY 1),
         |v AS (SELECT bucket,
         |        CAST(FLOOR(ln(CAST(cp + 1 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      - CAST(FLOOR(ln(CAST(cq + 1 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |          AS v FROM bc),
         |tot AS (SELECT
         |    CAST(FLOOR(ln(CAST(SUM(cq) + 256 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |  - CAST(FLOOR(ln(CAST(SUM(cp) + 256 AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      AS norm FROM bc),
         |ap AS (SELECT doc_id, $toksSql AS toks FROM documents
         |       WHERE doc_id % 5 = 0),
         |ag AS (SELECT doc_id, unnest(toks || CASE WHEN len(toks) >= 2
         |         THEN list_transform(generate_series(1, len(toks) - 1),
         |                i -> toks[i] || ' ' || toks[i + 1])
         |         ELSE [] END) AS gram FROM ap),
         |ab AS (SELECT doc_id,
         |         CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
         |           % 256 AS bucket FROM ag),
         |db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM ab GROUP BY 1, 2),
         |pd AS (SELECT db.doc_id, CAST(SUM(db.c) AS BIGINT) AS n_grams,
         |         CAST(SUM(db.c * COALESCE(v.v, 0)) AS BIGINT) AS s
         |       FROM db LEFT JOIN v USING (bucket) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(pd.n_grams, 0) AS n_grams,
         |  COALESCE(pd.s + pd.n_grams * tot.norm, 0) AS qlogw,
         |  COALESCE(pd.s + pd.n_grams * tot.norm, 0) >= 0 AS kept
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN pd ON d.doc_id = pd.doc_id, tot
         |ORDER BY d.doc_id""".stripMargin,
    "d02_minhash_sig" ->
      s"""WITH $bandsCte
         |SELECT doc_id, band, bkey FROM bands
         |ORDER BY doc_id, band""".stripMargin,
    // d20: all-pairs over the vocabulary — small enough for the oracle
    // to brute-force what the engine length-band-blocks
    "d20_fuzzy_vocab" ->
      s"""WITH t AS (SELECT doc_id, ${TextAnalysis.toksSql} AS toks
         |           FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |v AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
         |      GROUP BY 1),
         |p AS (SELECT a.term AS term_a, b.term AS term_b,
         |        a.df AS df_a, b.df AS df_b,
         |        levenshtein(a.term, b.term) AS dist
         |      FROM v a JOIN v b ON a.term < b.term)
         |SELECT term_a, term_b, df_a, df_b, dist,
         |  CASE WHEN df_b > df_a THEN term_b ELSE term_a END AS canon
         |FROM p WHERE dist <= 2
         |ORDER BY term_a, term_b""".stripMargin,
    "d03_lsh_pairs" ->
      s"""WITH $bandsCte
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
         |WHERE a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    // min-reachable-id per node == connected-component min, computed by
    // the recursive closure over the same band-collision pairs
    "d09_dup_clusters" ->
      s"""WITH RECURSIVE $bandsCte,
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
         |      WHERE a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst)
         |SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
         |ORDER BY id""".stripMargin,
    // both decoration regexes replayed byte-identically; after
    // nfc_normalize the pair fingerprints collide and the group shape
    // is d01's
    "d19_nfc_dedup" ->
      s"""WITH u AS (
         |  SELECT doc_id, regexp_replace(text, 'a', '\u00e1', 'g') AS text
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, regexp_replace(text, 'a', 'a\u0301', 'g')
         |  FROM documents),
         |nn AS (SELECT doc_id, nfc_normalize(text) AS text FROM u),
         |f AS (SELECT doc_id, md5(array_to_string($toksSql, ' ')) AS fp
         |      FROM nn),
         |r AS (SELECT doc_id, fp, row_number() OVER (
         |        PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
         |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper,
         |  string_agg(CASE WHEN rn <= 100 THEN doc_id END, ','
         |    ORDER BY doc_id) AS doc_ids,
         |  greatest(COUNT(*) - 100, 0) AS n_overflow
         |FROM r GROUP BY fp ORDER BY fp""".stripMargin,
    // same literal share CASE and floor arithmetic as the engine
    "d18_mixture_plan" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |             CAST(len($toksSql) AS BIGINT) AS n
         |           FROM documents),
         |a AS (SELECT lang, COUNT(*) AS n_docs,
         |        CAST(SUM(n) AS BIGINT) AS available_tokens
         |      FROM t GROUP BY 1),
         |p AS (SELECT lang, n_docs, available_tokens,
         |        CAST(FLOOR(60000.0 *
         |          (CASE WHEN lang = 'en' THEN 0.5
         |                WHEN lang = 'de' THEN 0.2
         |                ELSE 0.1 END)) AS BIGINT) AS target_tokens
         |      FROM a)
         |SELECT lang, n_docs, available_tokens, target_tokens,
         |  LEAST(available_tokens, target_tokens) AS allocated_tokens,
         |  target_tokens - LEAST(available_tokens, target_tokens)
         |    AS shortfall
         |FROM p ORDER BY lang""".stripMargin,
    // signatures are per-doc, so banding all documents then splitting
    // equals the engine's separate corpus/batch banding
    "d17_incremental_neardup" ->
      s"""WITH $bandsCte,
         |cb AS (SELECT doc_id AS cid, band, bkey FROM bands
         |       WHERE doc_id % 5 <> 0),
         |bb AS (SELECT doc_id AS id, band, bkey FROM bands
         |       WHERE doc_id % 5 = 0),
         |j AS (SELECT bb.id, cb.cid
         |      FROM bb LEFT JOIN cb USING (band, bkey))
         |SELECT id, MIN(cid) AS dup_of,
         |  COUNT(DISTINCT cid) AS n_corpus_matches,
         |  MIN(cid) IS NOT NULL AS is_dup
         |FROM j GROUP BY id ORDER BY id""".stripMargin,
    // d09's closure, then the keeper filter: a doc drops iff it is a
    // cluster member that is NOT its cluster's min id
    "d16_neardup_keep" ->
      s"""WITH RECURSIVE $bandsCte,
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
         |      WHERE a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
         |cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // d04's exact chain with NO threshold (every co-shingled pair; a
    // pair in `i` always has j > 0) + d03's band-collision set, met on
    // the pair key; counts via COUNT (BIGINT, matching Spark) and the
    // same floor(j*10)/10 bin arithmetic on bit-identical jaccard
    // doubles
    "d23_lsh_recall" ->
      s"""WITH $bandsCte,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |         WHERE a.doc_id < b.doc_id),
         |d0 AS (SELECT DISTINCT doc_id, sh FROM $shinglesSql),
         |kept AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM d0 GROUP BY sh)
         |         WHERE df <= 50),
         |d AS (SELECT d0.doc_id, d0.sh FROM d0 JOIN kept USING (sh)),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |      FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |exact AS (
         |  SELECT id_a, id_b,
         |    CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS j
         |  FROM i JOIN sz x ON i.id_a = x.doc_id
         |         JOIN sz y ON i.id_b = y.doc_id),
         |b AS (SELECT floor(e.j * 10) / 10 AS sim_bin,
         |        c.id_a IS NOT NULL AS hit
         |      FROM exact e LEFT JOIN cand c
         |        ON e.id_a = c.id_a AND e.id_b = c.id_b)
         |SELECT sim_bin, COUNT(*) AS n_pairs,
         |  COUNT(CASE WHEN hit THEN 1 END) AS n_hit,
         |  CAST(COUNT(CASE WHEN hit THEN 1 END) AS DOUBLE) / COUNT(*)
         |    AS recall
         |FROM b GROUP BY sim_bin ORDER BY sim_bin""".stripMargin,
    "d04_jaccard_neardup" ->
      s"""WITH d0 AS (SELECT DISTINCT doc_id, sh FROM $shinglesSql),
         |kept AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM d0 GROUP BY sh)
         |         WHERE df <= 50),
         |d AS (SELECT d0.doc_id, d0.sh FROM d0 JOIN kept USING (sh)),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |      FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
         |FROM i JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "d14_containment" ->
      s"""WITH d0 AS (SELECT DISTINCT doc_id, sh FROM $shinglesSql),
         |kept AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM d0 GROUP BY sh)
         |         WHERE df <= 50),
         |d AS (SELECT d0.doc_id, d0.sh FROM d0 JOIN kept USING (sh)),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |      FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  CAST(inter AS DOUBLE) / x.n AS c_ab,
         |  CAST(inter AS DOUBLE) / y.n AS c_ba
         |FROM i JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
         |WHERE greatest(CAST(inter AS DOUBLE) / x.n,
         |               CAST(inter AS DOUBLE) / y.n) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,
    "d05_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |h AS (SELECT doc_id,
         |        CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hv
         |      FROM tok),
         |bits AS (SELECT doc_id, g.i,
         |           SUM(CASE WHEN (hv >> g.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |         FROM h CROSS JOIN generate_series(0, 31) AS g(i)
         |         GROUP BY doc_id, g.i)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d07_decontaminate" ->
      s"""WITH sh AS (SELECT * FROM $shinglesSql),
         |corpus_sh AS (SELECT DISTINCT doc_id AS id, sh FROM sh WHERE doc_id >= 10),
         |eval_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10),
         |shared AS (SELECT id, COUNT(*) AS n_shared
         |           FROM corpus_sh JOIN eval_sh USING (sh) GROUP BY id)
         |SELECT d.doc_id AS id,
         |  COALESCE(s.n_shared, 0) AS n_shared,
         |  COALESCE(s.n_shared, 0) >= 3 AS contaminated
         |FROM documents d LEFT JOIN shared s ON d.doc_id = s.id
         |WHERE d.doc_id >= 10
         |ORDER BY id""".stripMargin,
    // identical integer counts; the fraction is one double division of
    // those counts — same IEEE result both engines
    "d13_contamination_frac" ->
      s"""WITH sh AS (SELECT * FROM $shinglesSql),
         |corpus_sh AS (SELECT DISTINCT doc_id AS id, sh FROM sh WHERE doc_id >= 10),
         |eval_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10),
         |totals AS (SELECT id, COUNT(*) AS n_shingles FROM corpus_sh GROUP BY id),
         |shared AS (SELECT id, COUNT(*) AS n_shared
         |           FROM corpus_sh JOIN eval_sh USING (sh) GROUP BY id)
         |SELECT d.doc_id AS id,
         |  COALESCE(t.n_shingles, 0) AS n_shingles,
         |  COALESCE(s.n_shared, 0) AS n_shared,
         |  CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
         |    / CAST(greatest(COALESCE(t.n_shingles, 0), 1) AS DOUBLE)
         |    AS overlap_frac
         |FROM documents d
         |LEFT JOIN totals t ON d.doc_id = t.id
         |LEFT JOIN shared s ON d.doc_id = s.id
         |WHERE d.doc_id >= 10
         |ORDER BY id""".stripMargin,
    "d10_mixture_sample" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        / 4294967296.0
        |      < CASE WHEN lang = 'en' THEN 0.6
        |             WHEN lang = 'de' THEN 0.3
        |             ELSE 0.1 END
        |ORDER BY doc_id""".stripMargin,
    "d08_hash_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,
    "d12_token_budget" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len(${graft.text.TextAnalysis.toksSql}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 2000
         |ORDER BY lang, doc_id""".stripMargin,
    "d11_semantic_dedup" -> {
      import graft.similarity.Similarity.{assignCteSql, lloydCtesSql, normSql}
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |corpus AS (SELECT vec_id, v FROM e),
         |${lloydCtesSql(10, 3, 256)},
         |${assignCteSql("cells", "c3", "corpus")},
         |n AS (SELECT vec_id, cid, ${normSql("v")} AS vn FROM cells),
         |drops AS (SELECT DISTINCT b.vec_id FROM n a JOIN n b
         |          ON a.cid = b.cid AND a.vec_id < b.vec_id
         |          WHERE list_dot_product(a.vn, b.vn) >= 0.35)
         |SELECT c.vec_id, c.cid,
         |       NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = c.vec_id)
         |         AS keep
         |FROM cells c
         |ORDER BY vec_id""".stripMargin
    },
    // the same Lloyd chain as d21, then d12's md5-ordered budget walk
    // partitioned by cluster id
    "d22_cluster_budget" -> {
      import graft.similarity.Similarity.{assignCteSql, lloydCtesSql}
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |corpus AS (SELECT vec_id, v FROM e),
         |${lloydCtesSql(8, 2, 256)},
         |${assignCteSql("cells", "c2", "corpus")},
         |t AS (SELECT d.doc_id, cells.cid,
         |        CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n_tokens
         |      FROM documents d JOIN cells ON d.doc_id = cells.vec_id),
         |c AS (SELECT doc_id, cid, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY cid
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, cid, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 1500
         |ORDER BY cid, doc_id""".stripMargin
    },
    "d21_cluster_topics" -> {
      import graft.similarity.Similarity.{assignCteSql, lloydCtesSql}
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |corpus AS (SELECT vec_id, v FROM e),
         |${lloydCtesSql(8, 2, 256)},
         |${assignCteSql("cells", "c2", "corpus")},
         |sizes AS (SELECT cid, COUNT(*) AS cluster_size FROM cells
         |          GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS n_total FROM documents),
         |t AS (SELECT doc_id, ${TextAnalysis.toksSql} AS toks
         |      FROM documents),
         |terms AS (SELECT doc_id, unnest(list_distinct(toks)) AS term
         |          FROM t),
         |dfq AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY 1),
         |ct AS (SELECT cid, term, COUNT(*) AS n_docs
         |       FROM cells JOIN terms ON cells.vec_id = terms.doc_id
         |       GROUP BY 1, 2),
         |sc AS (SELECT cid, cluster_size, term, n_docs, df,
         |         CAST(n_docs * n_total AS DOUBLE)
         |           / CAST(cluster_size * df AS DOUBLE) AS lift
         |       FROM ct JOIN dfq USING (term) JOIN sizes USING (cid)
         |       CROSS JOIN nt),
         |r AS (SELECT cid, cluster_size, term, n_docs, df, lift,
         |        row_number() OVER (PARTITION BY cid
         |          ORDER BY lift DESC, term) AS rank
         |      FROM sc)
         |SELECT cid, cluster_size, rank, term, n_docs, df, lift
         |FROM r WHERE rank <= 5
         |ORDER BY cid, rank""".stripMargin
    },
    // d27: the cosine is computed with the proven normalize-then-dot
    // fragments (bit-identical across engines, the s01/d06 guarantee),
    // so the threshold verdict, hit count, and argmax tiebreak are all
    // integer-deterministic
    "d27_semantic_decontaminate" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id,
         |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
         |      FROM e),
         |corp AS (SELECT vec_id, vn FROM n WHERE vec_id >= 10),
         |bench AS (SELECT vec_id AS bid, vn AS bvn FROM n WHERE vec_id < 10),
         |scored AS (SELECT c.vec_id, b.bid,
         |             list_dot_product(c.vn, b.bvn) AS cos
         |           FROM corp c CROSS JOIN bench b),
         |near AS (SELECT vec_id, bid AS nearest_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, bid) AS rn FROM scored) WHERE rn = 1),
         |hits AS (SELECT vec_id,
         |           SUM(CASE WHEN cos >= 0.3e0 THEN 1 ELSE 0 END) AS n_hits
         |         FROM scored GROUP BY vec_id)
         |SELECT h.vec_id, CAST(h.n_hits AS BIGINT) AS n_hits,
         |  near.nearest_id, h.n_hits > 0 AS contaminated
         |FROM hits h JOIN near USING (vec_id)
         |ORDER BY h.vec_id""".stripMargin,
    "d06_embedding_topsim" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (${graft.similarity.Similarity.bucketSql("e", 8, 8, 64)}),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |         FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
         |         WHERE a.vec_id < b2.vec_id),
         |n AS (SELECT vec_id,
         |             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
         |      FROM e)
         |SELECT id_a, id_b, list_dot_product(x.vn, y.vn) AS cos_sim
         |FROM cand JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b
         |ORDER BY cos_sim DESC, id_a, id_b
         |LIMIT 20""".stripMargin,
  )

  /** d15 is result-identical to d04 by construction (the prefix filter
    * is lossless — DedupSpec asserts set equality), so the two keys
    * share one oracle string. */
  val oracle: Map[String, String] =
    oracle0 + ("d15_jaccard_prefix" -> oracle0("d04_jaccard_neardup")) +
      // the SQL table-function surface is the SAME lazy plan over the
      // same parquet, so it must land on the same relation
      ("x42_sql_dup_spans" -> oracle0("d25_dup_spans")) +
      ("x49_sql_decon" -> oracle0("d13_contamination_frac"))
}
