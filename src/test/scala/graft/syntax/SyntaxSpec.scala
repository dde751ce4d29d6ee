package graft.syntax

import graft.SparkSpec

class SyntaxSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE QUICK brown fox jumps over the lazy dog!!"),
    (3L, "unrelated text entirely different content here")
  ).toDF("doc_id", "text")

  test("fluent chain: quality → filter → dedup") {
    val out = docs
      .withQualityFeatures("text")
      .withLanguageId("text")
      .withFingerprint("text")
      .dropExactDups("doc_id", "text")
    assert(out.count() === 2)
    assert(out.columns.contains("quality_score"))
    assert(out.columns.contains("lang_pred"))
    assert(out.columns.contains("fp"))
  }

  test("nearDupPairs and lshCandidates find the planted pair") {
    assert(docs.nearDupPairs("doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
      Set((1L, 2L)))
    assert(docs.lshCandidates("doc_id", "text")
      .as[(Long, Long)].collect().toSet === Set((1L, 2L)))
  }

  test("knn syntax delegates to bruteTopK") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = emb.knn(q, 1).collect().head
    assert(top.getLong(2) === 1L)
  }

  test("cosineSim column helper") {
    val df = Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
    assert(df.select(cosineSim($"a", $"b")).as[Double].head() === 1.0)
  }
}
