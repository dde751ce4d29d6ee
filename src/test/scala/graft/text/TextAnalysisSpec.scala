package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("text")

  test("tokens: lowercases, strips punctuation, drops empties") {
    val t = one("Hello, World!!  foo-bar 42")
      .select(TextAnalysis.tokens($"text")).as[Seq[String]].head()
    assert(t === Seq("hello", "world", "foo", "bar", "42"))
  }

  test("tokenEstimate grows with long words (BPE-ish length penalty)") {
    val short = one("cat dog fox")
      .select(TextAnalysis.tokenEstimate($"text")).as[Long].head()
    val long = one("internationalization extraterritoriality compartmentalization")
      .select(TextAnalysis.tokenEstimate($"text")).as[Long].head()
    assert(short === 3)
    assert(long > 3 * 3) // 3 words but many subword pieces
  }

  test("languageId picks the dominant stopword language") {
    assert(one("the cat and the dog in the house")
      .select(TextAnalysis.languageId($"text")).as[String].head() === "en")
    assert(one("der Hund und die Katze ist nicht da")
      .select(TextAnalysis.languageId($"text")).as[String].head() === "de")
    assert(one("le chat et la maison est ne")
      .select(TextAnalysis.languageId($"text")).as[String].head() === "fr")
    assert(one("xyzzy plugh")
      .select(TextAnalysis.languageId($"text")).as[String].head() === "und")
  }

  test("fingerprint is invariant to case/punctuation/whitespace") {
    val fps = Seq("Hello  World", "hello world!", "HELLO, world")
      .map(t => one(t).select(TextAnalysis.fingerprint($"text"))
        .as[String].head())
    assert(fps.distinct.size === 1)
    val other = one("goodbye world")
      .select(TextAnalysis.fingerprint($"text")).as[String].head()
    assert(other !== fps.head)
  }

  test("fingerprint64 matches fingerprint equivalence classes") {
    val a = one("Hello World").select(TextAnalysis.fingerprint64($"text"))
      .as[Long].head()
    val b = one("hello, world").select(TextAnalysis.fingerprint64($"text"))
      .as[Long].head()
    assert(a === b)
  }

  test("chunk: covers all tokens with the expected overlap") {
    val docs = Seq((1L, (1 to 80).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(docs, "doc_id", "text", 32, 8)
      .orderBy("chunk_id").collect()
    // 80 tokens, stride 24: windows [0,32) [24,56) [48,80) cover all
    assert(chunks.length === 3)
    val first = chunks(0).getAs[String]("chunk_text").split(" ")
    val second = chunks(1).getAs[String]("chunk_text").split(" ")
    assert(first.length === 32)
    assert(first.takeRight(8).toSeq === second.take(8).toSeq) // overlap
    assert(chunks(2).getAs[Long]("n_chunk_tokens") === 32) // 48..80
    assert(chunks(2).getAs[String]("chunk_text").split(" ").last === "w80")
    // short doc: one chunk even when shorter than the window
    val short = TextAnalysis.chunk(
      Seq((2L, "just a few words")).toDF("doc_id", "text"), "doc_id",
      "text", 32, 8).collect()
    assert(short.length === 1 && short.head.getAs[Long]("n_chunk_tokens") === 4)
  }

  test("vocabulary: corpus term and document frequencies") {
    val docs = Seq((1L, "spark spark flink"), (2L, "spark beam"))
      .toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(v("spark") === ((3L, 2L)))
    assert(v("flink") === ((1L, 1L)))
    assert(v("beam") === ((1L, 1L)))
  }

  test("scrub replaces emails, urls, long digit runs") {
    val out = one("mail a.b@x.io or visit https://x.io/p?q=1 ref 123456789 ok 1234")
      .select(TextAnalysis.scrub($"text")).as[String].head()
    assert(out === "mail <EMAIL> or visit <URL> ref <NUM> ok 1234")
  }

  test("repetitionStats flags looping text; short docs report zeros") {
    val loopy = ("spam spam spam " * 10).trim          // one dominant 3-gram
    val varied = "one two three four five six seven eight nine ten"
    val short = "too short"                             // < 3 tokens
    val df = Seq((1L, loopy), (2L, varied), (3L, short))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // loopy: 28 grams, all "spam spam spam" → dup_fraction 27/28
    assert(out(1L).getAs[Long]("n_grams") === 28L)
    assert(out(1L).getAs[Long]("n_distinct") === 1L)
    assert(out(1L).getAs[Double]("top_fraction") === 1.0)
    // varied: every 3-gram unique
    assert(out(2L).getAs[Double]("dup_fraction") === 0.0)
    assert(out(2L).getAs[Long]("n_grams") === 8L)
    // short: zeros, not missing
    assert(out(3L).getAs[Long]("n_grams") === 0L)
    assert(out(3L).getAs[Double]("dup_fraction") === 0.0)
  }

  test("countMinSketch: estimates never undercount, exact for dominant token") {
    val docs = Seq(
      (1L, "alpha alpha alpha beta gamma"),
      (2L, "alpha beta delta delta"),
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val sketch = TextAnalysis.countMinSketch(docs, "text")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exact = Map("alpha" -> 4L, "beta" -> 2L, "delta" -> 2L,
      "gamma" -> 1L, "zeta" -> 1L)
    exact.foreach { case (tok, n) =>
      val est = TextAnalysis.cmsEstimate(sketch, tok)
      assert(est >= n, s"$tok: est $est < exact $n")
      // 13 tokens into 4x1024 cells: collisions are overwhelmingly
      // unlikely, so estimates are exact on this fixture
      assert(est === n, s"$tok: est $est != exact $n")
    }
    // absent token estimates 0 (all its buckets empty at this density)
    assert(TextAnalysis.cmsEstimate(sketch, "nonexistenttoken") === 0L)
  }

  test("packSequences: contiguous fill per stratum, budget respected at starts") {
    // buckets=1 → the plain single-window order (md5, id) per stratum:
    // 5-token docs, budget 12: starts at 0,5,10,15,20 → bins 0,0,0,1,1
    val docs = (1L to 5L).map(i => (i, "a b c d e", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", 12, "lang",
      buckets = 1)
    val bins = out.orderBy(md5($"doc_id".cast("string")), $"doc_id")
      .select("bin").as[Long].collect().toSeq
    assert(bins === Seq(0L, 0L, 0L, 1L, 1L))
    // strata pack independently: same docs in two langs → same bins
    val two = docs.unionByName(
      (1L to 5L).map(i => (i + 100L, "a b c d e", "de"))
        .toDF("doc_id", "text", "lang"))
    val byLang = TextAnalysis.packSequences(two, "doc_id", "text", 12, "lang",
      buckets = 1)
      .groupBy("lang").agg(max($"bin").as("mx"))
      .select("mx").as[Long].collect().toSeq
    assert(byLang === Seq(1L, 1L))
  }

  test("packSequences: bucketed stitching equals one global window") {
    // 40 docs, 2 strata, varying lengths; the bucketed computation must
    // match a reference single running-sum window ordered
    // (bucket, md5(id), id) — proving the per-bucket offsets stitch into
    // exact global cumulative sums
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)("w").mkString(" "),
        if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.packSequences(docs, "doc_id", "text", 10, "lang",
      buckets = 8)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    val bkt = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long") % 8
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(bkt, md5($"doc_id".cast("string")), $"doc_id")
      .rowsBetween(Long.MinValue, 0)
    val want = docs
      .select($"doc_id", $"lang",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", expr("(cum - n_tokens) div 10").as("bin"))
      .as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("packSequences: null-id docs are kept (pinned to bucket 0)") {
    val docs = Seq((Some(1L), "a b c", "en"), (None, "d e", "en"),
      (Some(2L), "f", "en")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", 12, "lang",
      buckets = 8)
    assert(out.count() === 3) // the null-id row must not join away
    assert(out.agg(sum($"n_tokens")).as[Long].head() === 6L)
  }

  test("packSequences: offset aggregate reuses the window exchange (one scan)") {
    val docs = (1L to 32L).map(i => (i, "a b c", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", 12, "lang",
      buckets = 8)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    // the bucket-total aggregate must consume the SAME shuffle as the
    // running-sum window — a second source scan would double the
    // dominant cost at corpus scale
    assert(p.contains("ReusedExchange"), p)
  }

  test("packSequences: running-sum window key cardinality scales with the bucket knob") {
    // the 100×-scale guard: the heavy window must partition on
    // (stratum, bucket) — one language must never collapse to one sort
    val docs = (1L to 64L).map(i => (i, "a b c", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", 12, "lang",
      buckets = 8)
    // the doc-level running-sum window partitions by BOTH strata and
    // bucket (normalize away the #id suffixes before matching)
    val p = out.queryExecution.executedPlan.toString
      .toLowerCase.replaceAll("#\\d+l?", "")
    assert("""windowspecdefinition\(lang, _bucket""".r.findFirstIn(p).isDefined,
      p)
    // and the realized group count is strata × populated buckets, not strata
    val groups = docs.select($"lang",
      (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 8).as("b")).distinct().count()
    assert(groups > 1L, s"fixture must populate >1 bucket, got $groups")
  }

  test("tfidfTopTerms surfaces a doc's distinctive term over shared ones") {
    val docs = Seq(
      (1L, "spark spark spark common words here"),
      (2L, "duck duck common words here"),
      (3L, "common words here again")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", topN = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) === "spark") // df=1, tf=3 beats the df=3 fillers
    assert(top(2L) === "duck")
    // weights are the rational form: tf * N / df
    val w = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", topN = 1)
      .filter($"doc_id" === 1L).select("tfidf").as[Double].head()
    assert(w === 3.0 * 3 / 1)
  }

  test("tfidfTopTerms derives N in-plan: construction runs no job") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    // built inside the counted body: its first use forces it
    lazy val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text")
    // even physical planning is job-free
    val jobs = jobsOf(out.queryExecution.executedPlan)
    assert(jobs === 0, "building the tfidf query must not run a job")
    // the in-plan N is the real corpus size (2 docs): beta has df=2
    val executed = jobsOf {
      val beta = out.filter($"term" === "beta" && $"doc_id" === 1L)
        .select("tfidf").as[Double].head()
      assert(beta === 1.0 * 2 / 2)
    }
    assert(executed > 0, "listener never observed the action's jobs")
  }

  test("gopherRules: clean prose keeps, short/stopless/numeric docs drop, " +
      "empty doc is safe") {
    val prose = ("the weather around these mountains is lovely and the " +
      "morning walks feel calm and bright ") * 2 // 30 words, stopword-rich
    val short = "the cat sat" // under minWords
    val nostop = ("alpha beta gamma delta epsilon zeta eta theta " * 5).trim
    val numeric = ("12 34 56 78 90 " * 8).trim // alpha_word_frac = 0
    val df = Seq((1L, prose), (2L, short), (3L, nostop), (4L, numeric),
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(5))).toMap
    assert(out(1L)._2, s"prose must keep: ${out(1L)}")
    assert(!out(2L)._2, "short doc drops on word count")
    assert(!out(3L)._2, "no stopword hits drops")
    assert(!out(4L)._2, "numeric-only drops on alpha fraction")
    assert(out(5L) === ((0L, false)), "empty doc: zero words, no NaN, drop")
  }

  test("scrubDuplicateSpans: shared spans removed from ALL docs, " +
      "unique text untouched") {
    val boiler = "all rights reserved by the site"   // 6 tokens, shared
    val df = Seq(
      (1L, s"alpha beta $boiler gamma"),
      (2L, s"$boiler delta epsilon zeta"),
      (3L, "nothing shared here at all today")).toDF("doc_id", "text")
    val out = TextAnalysis.scrubDuplicateSpans(df, "doc_id", "text",
      k = 5, maxDf = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // the 6-token boiler contains two overlapping 5-gram occurrences
    // per doc; their union covers exactly the 6 boiler tokens
    assert(out(1L) === ((9L, 3L, 2L, "alpha beta gamma")))
    assert(out(2L) === ((9L, 3L, 2L, "delta epsilon zeta")))
    // doc 3 shares nothing: passes through byte-identical
    assert(out(3L) === ((6L, 6L, 0L, "nothing shared here at all today")))
    // a doc that IS the boiler scrubs to empty — removed-everywhere
    // semantics (unlike dedup, no copy survives)
    val withExact = df.unionByName(
      Seq((4L, boiler)).toDF("doc_id", "text"))
    val o4 = TextAnalysis.scrubDuplicateSpans(withExact, "doc_id", "text",
      k = 5, maxDf = 1).filter($"doc_id" === 4L).collect().head
    assert(o4.getLong(2) === 0L && o4.getString(4) === "")
    // short docs (< k tokens) can never host a span: untouched
    val short = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val os = TextAnalysis.scrubDuplicateSpans(short, "doc_id", "text",
      k = 5, maxDf = 1).collect()
    assert(os.forall(r => r.getLong(3) === 0L))
  }

  test("scrubDuplicateSpans: corpus-relative threshold scales with N — " +
      "df=2 is boilerplate in a tiny corpus but not in a grown one") {
    val boiler = "all rights reserved by the site"   // df = 2
    def corpus(n: Int) = Seq(
      (1L, s"alpha beta $boiler gamma"),
      (2L, s"$boiler delta epsilon zeta")).toDF("doc_id", "text")
      .unionByName((3 to n).map(i =>
        (i.toLong, s"filler text number $i words here today")).toSeq
        .toDF("doc_id", "text"))
    // N=6, docsPerDf=3 → bound = max(1, 2) = 2: df=2 is NOT over it
    val small = TextAnalysis.scrubDuplicateSpans(corpus(6), "doc_id",
      "text", k = 5, maxDf = 1, docsPerDf = 3)
      .filter($"doc_id" <= 2L).collect()
    assert(small.forall(_.getLong(3) === 0L),
      "df=2 within the relative bound must not scrub")
    // N=6, absolute maxDf=1 (docsPerDf unset) → df=2 IS scrubbed —
    // the relative form strictly relaxes, never tightens
    val abs = TextAnalysis.scrubDuplicateSpans(corpus(6), "doc_id",
      "text", k = 5, maxDf = 1)
      .filter($"doc_id" <= 2L).collect()
    assert(abs.forall(_.getLong(3) === 2L))
    // tiny corpus (N=2, bound = max(1, 0) = 1): df=2 scrubbed — the
    // relative threshold degrades to the absolute one at small N
    val tiny = TextAnalysis.scrubDuplicateSpans(corpus(2), "doc_id",
      "text", k = 5, maxDf = 1, docsPerDf = 3)
      .filter($"doc_id" <= 2L).collect()
    assert(tiny.forall(_.getLong(3) === 2L))
  }

  test("lmQualityScore: corpus-like text outscores rare-word salad; " +
      "short docs surface with NULL") {
    // the repeated phrase dominates the corpus counts, so its bigrams
    // are highly predictable; doc 3's tokens are all corpus-unique
    val common = "the cat sat on the mat"
    val df = Seq(
      (1L, common), (2L, common), (4L, common),
      (3L, "zyx wvu tsr qpo nml"),
      (5L, "solo"), (6L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.lmQualityScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1L)._2.get > out(3L)._2.get,
      s"corpus-like must outscore rare: ${out(1L)} vs ${out(3L)}")
    assert(out(1L) === out(2L), "identical docs score identically")
    assert(out(1L)._1 === 5L, "n-1 bigrams")
    // <2 tokens: kept, zero bigrams, NULL score — never silently dropped
    assert(out(5L) === ((0L, None)))
    assert(out(6L) === ((0L, None)))
    // scores are probabilities' mean: in (0, 1]
    Seq(1L, 3L).foreach(id =>
      assert(out(id)._2.get > 0.0 && out(id)._2.get <= 1.0))
  }

  test("qualityFeatures: ratios in [0,1], score favors clean prose") {
    val clean = "the cat and the dog sat in the house and it is a good day " * 3
    val junk = "@@@@ #### 1234 %%%% !!!! 9999 ****"
    val df = Seq((1L, clean), (2L, junk)).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFeatures(df, "text")
      .select("doc_id", "alpha_ratio", "stopword_ratio", "quality_score")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) > out(2L).getDouble(3))
    Seq(1L, 2L).foreach { id =>
      assert(out(id).getDouble(1) >= 0 && out(id).getDouble(1) <= 1)
      assert(out(id).getDouble(2) >= 0 && out(id).getDouble(2) <= 1)
    }
  }
}
