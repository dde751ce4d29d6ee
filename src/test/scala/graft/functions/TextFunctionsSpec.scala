package graft.functions

import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val composed = "caf\u00e9 r\u00e9sum\u00e9"
  private val decomposed = "cafe\u0301 re\u0301sume\u0301"

  test("graft_nfc composes decomposed sequences to canonical form") {
    val df = Seq(decomposed).toDF("s")
    val out = df.select(TextFunctions.nfcNormalize($"s")).as[String].head()
    assert(out === composed)
    assert(out.length < decomposed.length)
  }

  test("composed input is a fixpoint; ASCII passes through untouched") {
    val df = Seq(composed, "plain ascii 123!").toDF("s")
    val outs = df.select(TextFunctions.nfcNormalize($"s"))
      .as[String].collect()
    assert(outs(0) === composed)
    assert(outs(1) === "plain ascii 123!")
  }

  test("interpreted eval path agrees with codegen") {
    import org.apache.spark.unsafe.types.UTF8String
    assert(NormalizeNfc.nfc(UTF8String.fromString(decomposed)).toString
      === composed)
    // ASCII fast path returns the SAME object (no allocation)
    val ascii = UTF8String.fromString("hello")
    assert(NormalizeNfc.nfc(ascii) eq ascii)
  }

  test("null input yields null; SQL name resolves via extensions") {
    val df = Seq(Option.empty[String], Some(decomposed)).toDF("s")
    df.createOrReplaceTempView("nfc_in")
    val rows = spark.sql("SELECT graft_nfc(s) AS n FROM nfc_in")
      .as[Option[String]].collect()
    assert(rows.contains(None))
    assert(rows.flatten.head === composed)
  }
}
