package graft

import org.apache.spark.sql.{Column, DataFrame}
import graft.dedup.Dedup
import graft.text.TextAnalysis
import graft.similarity.Similarity

/** User-facing syntax: the engine's operators as DataFrame extension
  * methods, so a pipeline reads as one fluent chain:
  *
  * {{{
  * import graft.syntax._
  * docs.withQualityFeatures("text")
  *     .filter($"quality_score" > 0.5)
  *     .dropExactDups("doc_id", "text")
  * }}}
  */
package object syntax {

  implicit class GraftDocumentOps(private val df: DataFrame) extends AnyVal {

    // ---- text analysis ----

    def withQualityFeatures(textCol: String): DataFrame =
      TextAnalysis.qualityFeatures(df, textCol)

    def withLanguageId(textCol: String, out: String = "lang_pred"): DataFrame =
      df.withColumn(out, TextAnalysis.languageId(
        org.apache.spark.sql.functions.col(textCol)))

    def withFingerprint(textCol: String, out: String = "fp"): DataFrame =
      df.withColumn(out, TextAnalysis.fingerprint(
        org.apache.spark.sql.functions.col(textCol)))

    // ---- dedup ----

    def dropExactDups(idCol: String, textCol: String): DataFrame =
      Dedup.dropExactDups(df, idCol, textCol)

    def nearDupPairs(idCol: String, textCol: String,
        threshold: Double = 0.8): DataFrame =
      Dedup.jaccardPairs(df, idCol, textCol, threshold)

    def lshCandidates(idCol: String, textCol: String): DataFrame =
      Dedup.lshCandidatePairs(
        Dedup.lshBands(Dedup.minhashSignatures(df, idCol, textCol), idCol),
        idCol)

    // ---- similarity (df = corpus with vec_id + embedding) ----

    def knn(queries: DataFrame, k: Int): DataFrame =
      Similarity.bruteTopK(df, queries, k)
  }

  /** Column-level vector helpers. */
  def cosineSim(a: Column, b: Column): Column = Dedup.cosine(a, b)
  def dotProduct(a: Column, b: Column): Column = Dedup.dot(a, b)
}
