package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup semantics on planted duplicates (the driver testdata has no
  * exact dups, so machinery is proven here). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog"),
    (2L, "the QUICK brown fox... jumps over the lazy dog!!"), // norm-dup of 1
    (3L, "The quick brown fox jumps over the lazy cat"),      // near-dup of 1
    (4L, "completely different content about spark engines"),
    (10L, "the quick brown fox jumps over the lazy dog")      // norm-dup of 1
  ).toDF("doc_id", "text")

  test("exactGroups groups normalized duplicates; keeper = min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    val dup = g.filter($"n_docs" > 1).collect()
    assert(dup.length === 1)
    assert(dup.head.getAs[Long]("keeper") === 1L)
    assert(dup.head.getAs[String]("doc_ids") === "1,2,10") // numeric order
    assert(dup.head.getAs[Long]("n_overflow") === 0L)
  }

  test("exactGroups bounds the member list; overflow is counted") {
    // a mega-duplicated group must not build an unbounded id string:
    // only the maxMembers SMALLEST ids are listed, the rest counted
    val big = (1L to 50L).map(i => (i, "same text every time"))
      .toDF("doc_id", "text")
    val g = Dedup.exactGroups(big, "doc_id", "text", maxMembers = 5)
      .collect().head
    assert(g.getAs[Long]("n_docs") === 50L)
    assert(g.getAs[Long]("keeper") === 1L)
    assert(g.getAs[String]("doc_ids") === "1,2,3,4,5")
    assert(g.getAs[Long]("n_overflow") === 45L)
  }

  test("exactGroupsNfc collapses encoding-form duplicates plain dedup splits") {
    val mixed = Seq(
      (1L, "caf\u00e9 r\u00e9sum\u00e9 words here"), // composed
      (2L, "cafe\u0301 re\u0301sume\u0301 words here") // decomposed twin
    ).toDF("doc_id", "text")
    // plain byte fingerprints fracture on the encoding form...
    assert(Dedup.exactGroups(mixed, "doc_id", "text").count() === 2)
    // ...NFC canonicalization heals the fracture: one group, min keeper
    val g = Dedup.exactGroupsNfc(mixed, "doc_id", "text").collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("n_docs") === 2L)
    assert(g.head.getAs[Long]("keeper") === 1L)
  }

  test("dropExactDups keeps one representative per content") {
    val out = Dedup.dropExactDups(docs, "doc_id", "text")
    assert(out.count() === 3)
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 4L))
  }

  test("minhash: identical shingle sets give identical signatures") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val rows = sig.collect().map(r =>
      r.getAs[Long]("doc_id") -> (1 to 8).map(i => r.getString(i)).toSeq).toMap
    assert(rows(1L) === rows(2L))
    assert(rows(1L) === rows(10L))
    assert(rows(1L) !== rows(4L))
  }

  test("LSH candidate pairs catch the planted near-dup cluster") {
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(docs, "doc_id", "text"),
        "doc_id"), "doc_id")
      .as[(Long, Long)].collect().toSet
    // exact dups always collide on every band
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 10L)))
  }

  test("jaccardPairs: exact dups score 1.0; near-dup scores high") {
    val p = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p((1L, 2L)) === 1.0)
    assert(p((1L, 10L)) === 1.0)
    assert(p((1L, 3L)) > 0.5 && p((1L, 3L)) < 1.0)
    assert(!p.contains((1L, 4L)))
  }

  test("simhash: identical docs equal; near-dups close in Hamming") {
    val sim = Dedup.simhash64(docs, "doc_id", "text")
    val m = sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L) && m(1L) === m(10L))
    val hammingNear = java.lang.Long.bitCount(m(1L) ^ m(3L))
    val hammingFar = java.lang.Long.bitCount(m(1L) ^ m(4L))
    assert(hammingNear < hammingFar)
  }

  test("simhashPairs blocks+verifies within maxHamming") {
    val sim = Dedup.simhash64(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sim, "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 10L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("lshRecallByBin: bins partition the exact pairs; exact dups are " +
      "always recalled; recall recomputes from the counts") {
    val r = Dedup.lshRecallByBin(docs, "doc_id", "text", threshold = 0.0)
      .collect()
    // every exact pair lands in exactly one bin: totals must reconcile
    val totalPairs = r.map(_.getAs[Long]("n_pairs")).sum
    assert(totalPairs ===
      Dedup.jaccardPairs(docs, "doc_id", "text", 0.0).count())
    r.foreach { row =>
      val bin = row.getAs[Double]("sim_bin")
      val n = row.getAs[Long]("n_pairs")
      val hit = row.getAs[Long]("n_hit")
      assert(bin >= 0.0 && bin <= 1.0)
      assert(hit >= 0L && hit <= n)
      assert(row.getAs[Double]("recall") === hit.toDouble / n)
    }
    // j = 1.0 pairs share every band key — the 1.0 bin cannot miss
    val top = r.find(_.getAs[Double]("sim_bin") === 1.0).get
    assert(top.getAs[Double]("recall") === 1.0)
    assert(top.getAs[Long]("n_pairs") === 3L) // (1,2),(1,10),(2,10)
  }

  test("jaccardPairsPrefix returns exactly jaccardPairs (lossless prefix filter)") {
    val d = graft.Tables.documents(spark, sfDir)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e12))).toSeq
    for (maxDf <- Seq(Int.MaxValue, 50)) {
      val direct = norm(Dedup.jaccardPairs(d, "doc_id", "text", 0.8, maxDf))
      val prefix = norm(Dedup.jaccardPairsPrefix(d, "doc_id", "text", 0.8, maxDf))
      assert(direct.nonEmpty)
      assert(prefix === direct, s"maxDf=$maxDf")
    }
  }

  test("embeddingAllPairs ranks the most similar vectors first") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.14f, 0.0f)), // ~same direction as 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Dedup.embeddingAllPairs(emb, "vec_id", "embedding", 2).collect()
    assert((top.head.getLong(0), top.head.getLong(1)) === (1L, 2L))
    assert(top.head.getDouble(2) > 0.98)
  }

  test("embeddingTopPairs (LSH-blocked): no cartesian, exact sims, near-dup recall") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val blocked = Dedup.embeddingTopPairs(emb, "vec_id", "embedding", 10)
    assert(!blocked.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val rows = blocked.collect()
    assert(rows.nonEmpty)
    // candidate sims are EXACT cosines: every reported pair must carry
    // the same value the all-pairs baseline computes for it
    val exact = Dedup.embeddingAllPairs(emb, "vec_id", "embedding", Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      assert(exact((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
    // a TRUE near-duplicate (identical vector) must collide in some table
    import spark.implicits._
    val v = emb.select(col("embedding")).head().getSeq[Float](0).toArray
    val dup = Seq((900001L, v), (900002L, v)).toDF("vec_id", "embedding")
    // the three identical-vector pairs (orig,dup1), (orig,dup2),
    // (dup1,dup2) all tie at cos 1.0 and outrank everything else
    val dupTop = Dedup.embeddingTopPairs(
      emb.select("vec_id", "embedding").unionByName(dup),
      "vec_id", "embedding", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupTop.contains((900001L, 900002L)))
  }

  test("semanticDedup: min-id keeper per semantic group, distant " +
      "vectors kept, output covers the corpus") {
    // two tight directions + two far singletons; k=2 puts each tight
    // group (and its aligned singleton, if any) in one cluster
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.141f, 0.0f, 0.0f)), // ~1, dup of 1
      (5L, Array(0.98f, -0.2f, 0.0f, 0.0f)),  // ~1, dup of 1
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.1f, 0.99f, 0.0f)),   // dup of 3
      (9L, Array(0.0f, 1.0f, 0.0f, 0.0f))     // alone in direction
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
      k = 2, threshold = 0.95, iters = 2, maxTrainVectors = 6)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 9L),
      "one decision row per vector")
    assert(out(1L) && out(3L), "min-id representatives kept")
    assert(!out(2L) && !out(5L) && !out(4L), "semantic dups dropped")
    assert(out(9L), "a vector with no near neighbor survives")
  }

  test("duplicateClusters: min-id labels across chains; dropNearDups keeps keepers") {
    // two chains (diameter > 1 exercises multi-round propagation) and
    // one isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs)
    val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 22L, 99L)
      .toDF("doc_id")
    val kept = Dedup.dropNearDups(docs, "doc_id", clusters)
      .as[Long].collect().toSet
    // keepers (min per cluster) + the untouched doc survive
    assert(kept === Set(1L, 10L, 20L, 99L))
  }

  test("contaminationFlags: overlapping doc flagged, clean doc not") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely unrelated corpus content about databases")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (1L, "watch the quick brown fox jumps over something")
    ).toDF("doc_id", "text")
    val flags = Dedup.contaminationFlags(corpus, eval_, "doc_id", "text",
      minShared = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(flags(10L)._2 === true)  // shares "the quick brown" 3-grams
    assert(flags(10L)._1 >= 2)
    assert(flags(11L) === ((0L, false)))
  }

  test("semanticContaminationFlags: cosine hits counted, nearest ties " +
      "to lowest benchmark id, orthogonal vector is clean") {
    def v(xs: Double*): Seq[Double] = xs ++ Seq.fill(4 - xs.length)(0.0)
    val bench = Seq((0L, v(1.0)), (1L, v(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, v(2.0)),            // cos 1 to b0, 0 to b1
      (11L, v(0.7, 0.7)),       // cos .707.. to BOTH — a bit-exact tie
      (12L, v(0.0, 0.0, 5.0))   // orthogonal to both
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticContaminationFlags(corpus, bench,
      "vec_id", "embedding", minCos = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(10L) === ((1L, 0L, true)))
    assert(out(11L) === ((2L, 0L, true)), "tie must pick the lowest bid")
    assert(out(12L) === ((0L, 0L, false)),
      "clean vector still reports its nearest benchmark")
  }

  test("contaminationReport: fraction bounded, agrees with the binary flags") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely unrelated corpus content about databases")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (1L, "watch the quick brown fox jumps over something")
    ).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, eval_, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // overlapping doc: a real fraction in (0, 1]; clean doc: exactly 0
    assert(rep(10L)._3 > 0.0 && rep(10L)._3 <= 1.0)
    assert(rep(11L) === ((rep(11L)._1, 0L, 0.0)))
    // shared counts are the SAME statistic the binary flag thresholds
    val flags = Dedup.contaminationFlags(corpus, eval_, "doc_id", "text",
      minShared = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.view.mapValues(_._2).toMap === flags)
    // fraction denominator is the doc's own distinct shingle count
    assert(rep(10L)._3 === rep(10L)._2.toDouble / rep(10L)._1)
  }

  test("containmentPairs: catches the subset-quote Jaccard misses") {
    // a is quoted WHOLE inside the much longer b: containment(a→b) = 1,
    // but the union is dominated by b so Jaccard stays low
    val quote = "the quick brown fox jumps over the lazy dog"
    val corpus = Seq(
      (1L, quote),
      (2L, quote + " " + ("filler words about databases and storage " * 8)),
      (3L, "entirely different content with no shared phrases at all here")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(cont.contains((1L, 2L)))
    assert(cont((1L, 2L))._1 === 1.0) // every shingle of 1 is in 2
    assert(!cont.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // and symmetric Jaccard at the same bar does NOT pair them
    val jac = Dedup.jaccardPairs(corpus, "doc_id", "text", 0.9)
      .collect()
    assert(jac.isEmpty)
  }

  test("mixtureSample: per-stratum fractions, decisions stable under growth") {
    val base = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    val frac = Map("en" -> 0.6, "de" -> 0.2)
    val kept = Dedup.mixtureSample(base, "doc_id", "lang", frac)
      .select("doc_id").as[Long].collect().toSet
    // roughly the target mixture (md5 coin, 100 docs per stratum)
    val en = kept.count(_ % 2 == 0); val de = kept.count(_ % 2 == 1)
    assert(en > 40 && en < 80, s"en=$en")
    assert(de > 5 && de < 40, s"de=$de")
    // growth stability: adding docs never flips an existing decision
    val grown = base.unionByName(
      (1000L to 1100L).map(i => (i, "en")).toDF("doc_id", "lang"))
    val keptGrown = Dedup.mixtureSample(grown, "doc_id", "lang", frac)
      .select("doc_id").as[Long].collect().toSet
    assert(keptGrown.filter(_ < 1000L) === kept)
  }

  test("tokenBudgetSample: running total capped per stratum, walk deterministic") {
    val corpus = Seq(
      (1L, "en", "one two three"),            // 3 tokens
      (2L, "en", "four five six seven"),      // 4 tokens
      (3L, "en", "eight nine"),               // 2 tokens
      (4L, "de", "eins zwei drei vier fuenf") // 5 tokens
    ).toDF("doc_id", "lang", "text")
    // budget large enough for everything: all docs kept, sums exact
    val all = Dedup.tokenBudgetSample(corpus, "doc_id", "text", "lang", 100L)
    assert(all.count() === 4)
    val tok = all.select("doc_id", "n_tokens").as[(Long, Long)]
      .collect().toMap
    assert(tok === Map(1L -> 3L, 2L -> 4L, 3L -> 2L, 4L -> 5L))
    // per-stratum cum_tokens ends at the stratum's total regardless of order
    val enMax = all.filter($"lang" === "en")
      .agg(max("cum_tokens")).as[Long].head()
    assert(enMax === 9L)

    // tight budget: a doc is kept iff cum INCLUDING it fits; the walk is
    // md5-ordered, so recompute the expected keep set the same way
    val budget = 5L
    val kept = Dedup.tokenBudgetSample(corpus, "doc_id", "text", "lang", budget)
    kept.collect().foreach { r =>
      assert(r.getAs[Long]("cum_tokens") <= budget)
      assert(r.getAs[Long]("cum_tokens") >= r.getAs[Long]("n_tokens"))
    }
    // de stratum: single 5-token doc exactly fills budget 5 (boundary kept)
    assert(kept.filter($"lang" === "de").count() === 1)
    // determinism: two runs agree exactly
    val again = Dedup.tokenBudgetSample(corpus, "doc_id", "text", "lang", budget)
      .select("doc_id").as[Long].collect().toSet
    assert(again === kept.select("doc_id").as[Long].collect().toSet)
    // growth stability: adding docs never flips an existing keep into a
    // larger cum (new docs can only push LATER walk positions out)
    val grown = corpus.unionByName(
      Seq((99L, "en", "zz zz zz")).toDF("doc_id", "lang", "text"))
    val keptGrown = Dedup.tokenBudgetSample(grown, "doc_id", "text", "lang", budget)
      .filter($"doc_id" =!= 99L).select("doc_id").as[Long].collect().toSet
    assert(keptGrown.subsetOf(kept.select("doc_id").as[Long].collect().toSet))
  }

  test("hashSampleByStratum: n per stratum, deterministic") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", s"text $i"))
      .toDF("doc_id", "lang", "text")
    val s1 = Dedup.hashSampleByStratum(docs, "doc_id", "lang", 3)
    val s2 = Dedup.hashSampleByStratum(docs, "doc_id", "lang", 3)
    assert(s1.count() === 6)
    assert(s1.groupBy("lang").count().collect()
      .forall(_.getLong(1) === 3L))
    assert(s1.select("doc_id").as[Long].collect().toSet ===
      s2.select("doc_id").as[Long].collect().toSet)
  }

  test("shingles: shorter than k gives empty, order preserved") {
    val s = Seq((1L, "one two")).toDF("doc_id", "text")
      .select(Dedup.shingles($"text").as("sh")).as[Seq[String]].head()
    assert(s.isEmpty)
    val s2 = Seq((1L, "a b c d")).toDF("doc_id", "text")
      .select(Dedup.shingles($"text").as("sh")).as[Seq[String]].head()
    assert(s2 === Seq("a b c", "b c d"))
  }

  test("cluster budget: every cluster capped, walk matches metadata-strata law") {
    val out = Dedup.clusterBudgetSample(
      graft.Tables.embeddings(spark, sfDir),
      graft.Tables.documents(spark, sfDir), "doc_id", "text", 1500L)
      .select("cid", "cum_tokens").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    // the cap holds per CLUSTER, and more than one cluster contributes
    assert(out.forall(_._2 <= 1500L))
    assert(out.map(_._1).distinct.length > 1)
  }

  test("cluster topics: every cluster reported, lift recomputes exactly") {
    val out = Dedup.clusterTopics(
      graft.Tables.embeddings(spark, sfDir),
      graft.Tables.documents(spark, sfDir), "doc_id", "text")
      .collect()
    val n = graft.Tables.documents(spark, sfDir).count()
    val byCluster = out.groupBy(_.getAs[Long]("cid"))
    assert(byCluster.nonEmpty)
    byCluster.foreach { case (_, rows) =>
      // dense 1..topTerms ranks per cluster (vocab >= 5 terms here)
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to rows.length).toSeq)
      rows.foreach { r =>
        val lift = r.getAs[Double]("lift")
        assert(lift ===
          (r.getAs[Long]("n_docs") * n).toDouble /
            (r.getAs[Long]("cluster_size") * r.getAs[Long]("df")).toDouble)
        // a term can't hit more docs than the cluster holds
        assert(r.getAs[Long]("n_docs") <= r.getAs[Long]("cluster_size"))
      }
    }
    // cluster sizes cover the corpus exactly once
    assert(byCluster.values.map(_.head.getAs[Long]("cluster_size")).sum
      === graft.Tables.embeddings(spark, sfDir).count())
  }

  test("fuzzy vocab: finds spelling variants, canon votes by df") {
    // "recieve" (1 doc) is a 2-edit variant of "receive" (3 docs) —
    // the canonical form must be the frequent spelling
    val fx = Seq(
      (1L, "we receive data"), (2L, "they receive mail"),
      (3L, "you receive word"), (4L, "we recieve data"),
      (5L, "unrelated words entirely")).toDF("doc_id", "text")
    val out = Dedup.fuzzyVocabPairs(fx, "doc_id", "text", maxDist = 2)
      .collect().map(r => (r.getAs[String]("term_a"),
        r.getAs[String]("term_b"), r.getAs[Long]("df_a"),
        r.getAs[Long]("df_b"), r.getAs[Long]("dist"),
        r.getAs[String]("canon")))
    val hit = out.filter(p => p._1 == "receive" && p._2 == "recieve")
    assert(hit.length === 1)
    assert(hit.head._5 === 2) // transposition = 2 plain-Levenshtein edits
    assert(hit.head._6 === "receive") // df 3 beats df 1
  }

  test("fuzzy vocab: length-band blocking is complete vs brute force") {
    // the blocked engine answer must equal the all-pairs answer on the
    // real corpus vocabulary — the completeness law the oracle relies on
    val docs = graft.Tables.documents(spark, sfDir)
    val blocked = Dedup.fuzzyVocabPairs(docs, "doc_id", "text", 2)
      .select("term_a", "term_b").as[(String, String)].collect().toSet
    val vocab = docs.select(explode(
        graft.text.TextAnalysis.tokens($"text")).as("term"))
      .distinct()
    val brute = vocab.as("a").join(vocab.as("b"),
        $"a.term" < $"b.term" &&
          levenshtein($"a.term", $"b.term") <= 2)
      .select($"a.term", $"b.term").as[(String, String)].collect().toSet
    assert(blocked === brute)
    assert(brute.nonEmpty, "corpus vocab has no fuzzy pairs — dead key")
  }

  test("dsirResample: K = floor(n·frac) kept, scores pull toward target") {
    val corpus = graft.Tables.documents(spark, sfDir)
    val out = Dedup.dsirResample(corpus, "doc_id", "text",
      isTarget = $"lang" === "en").cache()
    try {
      val n = corpus.count()
      val k = math.floor(n * 0.2).toLong
      assert(out.count() === n, "every doc scored, none dropped")
      assert(out.filter($"selected").count() === k)
      // directional sanity: docs FROM the target population must be
      // overrepresented among the selected set vs the corpus base rate
      // (the estimator's whole point — target-like docs score high)
      val withLang = out.join(corpus.select("doc_id", "lang"), "doc_id")
      val baseRate = corpus.filter($"lang" === "en").count().toDouble / n
      val selRate = withLang.filter($"selected" && $"lang" === "en")
        .count().toDouble / k
      assert(selRate > baseRate,
        s"selected en-rate $selRate must beat base rate $baseRate")
      // exact-integer scores: recompute is bit-identical (no float path)
      val again = Dedup.dsirResample(corpus, "doc_id", "text",
        isTarget = $"lang" === "en")
      assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    } finally { out.unpersist(); () }
  }

  test("e20 streamed gate == frozen-model batch scoring, bit for bit; " +
      "threshold discriminates") {
    val corpus = graft.Tables.documents(spark, sfDir)
    val streamed = Dedup.queries("e20_stream_quality_gate")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    // the same frozen model applied in ONE batch — scoring is per-doc
    // (no cross-doc state), so micro-batching cannot change a row
    val (pb, nm) = Dedup.dsirBucketStats(
      corpus.filter($"doc_id" % 5 =!= 0), "doc_id", "text",
      isTarget = $"lang" === "en")
    val batch = Dedup.dsirScore(
      corpus.filter($"doc_id" % 5 === 0), "doc_id", "text", pb, nm)
      .withColumn("kept", $"qlogw" >= 0)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    val kept = streamed.count(_.endsWith("true]"))
    assert(kept > 0 && kept < streamed.size,
      s"gate must discriminate: $kept/${streamed.size} kept")
  }

  test("dsirResample: histogram selection = global row_number top-K law") {
    // the engine's cum_before + tie-rank ≤ K decomposition must equal
    // the one-window definition the oracle states
    val corpus = graft.Tables.documents(spark, sfDir)
    val out = Dedup.dsirResample(corpus, "doc_id", "text",
      isTarget = $"lang" === "en")
    val k = math.floor(corpus.count() * 0.2).toLong
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"qlogw".desc, $"doc_id")
    val law = out.withColumn("rn", row_number().over(w))
      .withColumn("sel2", $"rn" <= k)
    assert(law.filter($"selected" =!= $"sel2").isEmpty)
  }

  test("dupSpans: cross-doc and self repeats flagged at 8-gram grain; " +
      "overlapping spans merge in the covered-token count") {
    val corpus = Seq(
      // A and B share the 8-gram "a1..a8" once each (cross-doc dup);
      // the rest of each doc is unique filler
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 fA1 fA2 fA3 fA4"),
      (2L, "fB1 fB2 a1 a2 a3 a4 a5 a6 a7 a8 fB3"),
      // C repeats its own first 8 tokens verbatim (self-dup): grams at
      // pos 1 and pos 9 match; the 7 boundary-spanning grams are unique
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"),
      // D is 10 identical tokens: grams at pos 1,2,3 are all the same
      // 8-gram — three dup positions whose spans MERGE to 10 tokens
      (4L, "m m m m m m m m m m"),
      // E is unique and long enough to have grams; F too short for any
      (5L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      (6L, "short doc")
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpans(corpus, "doc_id", "text", n = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    // (n_tokens, n_grams, dup_grams, dup_tokens)
    assert(r(1L) === ((12L, 5L, 1L, 8L)))
    assert(r(2L) === ((11L, 4L, 1L, 8L)))
    assert(r(3L) === ((16L, 9L, 2L, 16L)))
    assert(r(4L) === ((10L, 3L, 3L, 10L)))
    assert(r(5L) === ((9L, 2L, 0L, 0L)))
    assert(r(6L) === ((2L, 0L, 0L, 0L)))
  }

  test("gramRows: the 16-byte binary gram identity is bit-equivalent " +
      "to the hex-string identity — detector and scrub reports match " +
      "a hex-gram replay on the oracle corpus") {
    import org.apache.spark.sql.functions.{col => c, _}
    val corpus = graft.Tables.documents(spark, sfDir).limit(200)
    // hex-gram replay of dupSpans: same spanBase/coverage machinery,
    // gram identity left as the 32-char md5 hex (the pre-r13 form)
    val n = 8
    val t = Dedup.spanBase(corpus, "doc_id", "text", n)
    val hexGrams = t.filter(c("n_grams") > 0)
      .select(c("doc_id"), posexplode(transform(
        sequence(lit(1), c("n_grams")),
        i => md5(concat_ws(" ", slice(c("_toks"), i, lit(n))))))
        .as(Seq("_p0", "g")))
      .select(c("doc_id"), (c("_p0") + 1).as("pos"), c("g"))
    val hexDupG = hexGrams.groupBy("g").agg(count(lit(1)).as("_c"))
      .filter(c("_c") >= 2).select("g")
    val hexReport = Dedup.spanReport(t,
      hexGrams.join(hexDupG, Seq("g")).select(c("doc_id"), c("pos")),
      "doc_id", n).orderBy("doc_id")
    val binReport = Dedup.dupSpans(corpus, "doc_id", "text", n)
      .orderBy("doc_id")
    assert(binReport.collect().toSeq === hexReport.collect().toSeq,
      "binary gram identity changed the detector's report")
    // and the gram relation itself is the unhex image of the hex one
    assert(Dedup.gramRows(t, "doc_id", n)
      .select(c("doc_id"), c("pos"), hex(c("g")).as("g"))
      .exceptAll(hexGrams.select(c("doc_id"), c("pos"),
        upper(c("g")).as("g"))).isEmpty)
  }

  test("scrubDupSpans: globally-first occurrence kept, later spans " +
      "deleted, tokens re-joined in order") {
    val corpus = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 fA1 fA2 fA3 fA4"),
      (2L, "fB1 fB2 a1 a2 a3 a4 a5 a6 a7 a8 fB3"),
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"),
      (4L, "m m m m m m m m m m"),
      (5L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")
    ).toDF("doc_id", "text")
    val r = Dedup.scrubDupSpans(corpus, "doc_id", "text", n = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    // doc 1 holds the gram's FIRST occurrence: untouched
    assert(r(1L) === ((12L,
      12L, "a1 a2 a3 a4 a5 a6 a7 a8 fa1 fa2 fa3 fa4")))
    // doc 2's copy (pos 3..10) is scrubbed; its filler survives
    assert(r(2L) === ((11L, 3L, "fb1 fb2 fb3")))
    // self-repeat: second half (pos 9..16) scrubbed, first half kept
    assert(r(3L) === ((16L, 8L, "p1 p2 p3 p4 p5 p6 p7 p8")))
    // all-identical tokens: keeper span [1..8], non-keepers at pos 2,3
    // cover [2..10] — exactly one token survives
    assert(r(4L) === ((10L, 1L, "m")))
    // no duplicates anywhere: untouched
    assert(r(5L) === ((9L, 9L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")))
  }

  test("semanticContaminationFlags: the empty-benchmark refusal rides " +
      "IN the plan — construction and EXPLAIN stay job-free, the " +
      "first action throws") {
    def v(xs: Double*): Seq[Double] = xs ++ Seq.fill(4 - xs.length)(0.0)
    val corpus = Seq((10L, v(2.0)), (11L, v(0.7, 0.7)))
      .toDF("vec_id", "embedding")
    val emptyBench = corpus.filter(lit(false))
    // built inside the counted body: its first use forces it
    lazy val flagged = Dedup.semanticContaminationFlags(corpus, emptyBench,
      "vec_id", "embedding", minCos = 0.5)
    val jobs = jobsOf(flagged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode))
    assert(jobs === 0,
      "constructing/EXPLAINing the report launched a job — the " +
        "lazy-transformation contract broke")
    val e = intercept[Exception] { flagged.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("benchmark relation is empty")),
      msgs(e).mkString(" | "))
  }
}
