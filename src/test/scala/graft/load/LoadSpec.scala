package graft.load

import graft.SparkSpec
import graft.model.Model
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Load-stage parity with the reference Glue job
  * (`glue/scripts/load_transactions.py`): declared-schema JSON scan,
  * epoch→timestamp with the exact `yyyy-MM-dd HH:mm:ss.SS` chain, decimal
  * casts, additional-columns injection, write-operation validation, and
  * end-to-end upsert through the merge stage.
  */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  private def writeJson(dir: String, name: String, lines: String*): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  private val rawLine =
    """{"transaction_id":"TX1","exchange_status":"closed","pair":"ADAGBP",
      |"order_type":"market","type":"buy","price":"0.5","fee":"0.01",
      |"volume":"10","open_time":1700000000.5,"close_time":1700000001.9}"""
      .stripMargin.replace("\n", "")

  test("readRaw applies the declared OrderComplete schema (S7)") {
    val dir = tmpDir("loadraw")
    writeJson(dir, "tx.json", rawLine)
    val df = LoadTransactions.readRaw(spark, dir)
    assert(df.schema === Model.orderCompleteRawSchema)
    assert(df.count() === 1)
  }

  test("readRawInferred infers the declared types, fields by name (S7)") {
    val dir = tmpDir("loadinfer")
    writeJson(dir, "tx.json", rawLine)
    val df = LoadTransactions.readRawInferred(spark, dir)
    // JSON inference orders fields by name; quoted money stays a string
    // and the epochs read as doubles, so the load transform sees the
    // same values through either scan
    assert(df.schema ===
      StructType(Model.orderCompleteRawSchema.sortBy(_.name)))
    val cols = Model.orderCompleteRawSchema.fieldNames.toSeq.map(col)
    assert(LoadTransactions.transform(df, Map.empty).select(cols: _*)
      .collect().toSeq ===
      LoadTransactions.transform(LoadTransactions.readRaw(spark, dir),
        Map.empty).select(cols: _*).collect().toSeq)
  }

  test("transform: epoch→timestamp floors sub-seconds (P9, exact chain)") {
    val dir = tmpDir("loadts")
    writeJson(dir, "tx.json", rawLine)
    val out = LoadTransactions.transform(
      LoadTransactions.readRaw(spark, dir), Map.empty)
    val (open, close) = out
      .select(date_format($"open_time", "yyyy-MM-dd HH:mm:ss.SSS"),
        date_format($"close_time", "yyyy-MM-dd HH:mm:ss.SSS"))
      .as[(String, String)].head()
    // from_unixtime truncates 1700000000.5 / ...1.9 to whole seconds
    assert(open === "2023-11-14 22:13:20.000")
    assert(close === "2023-11-14 22:13:21.000")
    assert(out.schema("close_time").dataType === TimestampType)
  }

  test("transform casts money columns to exact decimal (P10 policy)") {
    val dir = tmpDir("loaddec")
    writeJson(dir, "tx.json", rawLine)
    val out = LoadTransactions.transform(
      LoadTransactions.readRaw(spark, dir), Map.empty)
    assert(out.schema("price").dataType === Model.money)
    val fee = out.select($"fee".cast("string")).as[String].head()
    assert(BigDecimal(fee) === BigDecimal("0.01"))
  }

  test("transform injects additional columns as literals (P11)") {
    val dir = tmpDir("loadlit")
    writeJson(dir, "tx.json", rawLine)
    val out = LoadTransactions.transform(
      LoadTransactions.readRaw(spark, dir),
      Map("exchange" -> "kraken", "batch" -> "b1"))
    assert(out.select("exchange", "batch").as[(String, String)].head() ===
      ("kraken", "b1"))
  }

  test("lakeView downgrades decimals to double (reference lake parity)") {
    val dir = tmpDir("loadlake")
    writeJson(dir, "tx.json", rawLine)
    val v = LoadTransactions.lakeView(LoadTransactions.transform(
      LoadTransactions.readRaw(spark, dir), Map.empty))
    assert(v.schema("price").dataType === DoubleType)
  }

  test("run rejects invalid write_operation (load_transactions.py:48-51)") {
    val e = intercept[IllegalArgumentException] {
      LoadTransactions.run(spark,
        LoadTransactions.Args("/nonexistent", "/tmp/x", "merge"))
    }
    assert(e.getMessage.contains("merge"))
  }

  test("run end-to-end: upsert twice is last-writer-wins on the table") {
    val in1 = tmpDir("loadin1"); val in2 = tmpDir("loadin2")
    val table = tmpDir("loadtable") + "/transactions"
    writeJson(in1, "tx.json", rawLine)
    writeJson(in2, "tx.json", rawLine.replace("\"price\":\"0.5\"",
      "\"price\":\"0.7\""))
    val args = Map("exchange" -> "kraken")
    LoadTransactions.run(spark,
      LoadTransactions.Args(in1, table, "upsert", args))
    LoadTransactions.run(spark,
      LoadTransactions.Args(in2, table, "upsert", args))
    val rows = spark.read.parquet(table)
    assert(rows.count() === 1)
    assert(rows.select($"price".cast("double")).as[Double].head() === 0.7)
    assert(rows.select("exchange").as[String].head() === "kraken")
    // hive-style pair= partition layout (O5 partition path)
    assert(new java.io.File(table + "/pair=ADAGBP").exists())
  }

  test("syncCatalog registers a queryable partitioned table (O6)") {
    val dir = tmpDir("loadcat")
    val table = dir + "/transactions"
    writeJson(dir, "tx.json", rawLine)
    LoadTransactions.run(spark, LoadTransactions.Args(dir.toString, table,
      "insert", Map("exchange" -> "kraken")))
    LoadTransactions.syncCatalog(spark, table, "dca_manager", "transactions")
    assert(spark.sql("SELECT count(*) FROM dca_manager.transactions")
      .as[Long].head() === 1)
  }

  test("syncCatalog declares evolved columns the current footers may lack") {
    val dir = tmpDir("loadcatevo")
    val table = dir + "/transactions"
    writeJson(dir, "tx.json", rawLine)
    // batch 1 without the extra column, batch 2 (different key) with it:
    // an inference-based catalog table could pick the narrow footer
    LoadTransactions.run(spark, LoadTransactions.Args(dir.toString, table,
      "upsert"))
    val dir2 = tmpDir("loadcatevo2")
    writeJson(dir2, "tx2.json", rawLine
      .replace("\"TX1\"", "\"TX2\""))
    LoadTransactions.run(spark, LoadTransactions.Args(dir2.toString, table,
      "upsert", Map("source" -> "manual")))
    LoadTransactions.syncCatalog(spark, table, "dca_manager", "tx_evolved")
    val rows = spark.sql(
      "SELECT transaction_id, source FROM dca_manager.tx_evolved")
      .as[(String, Option[String])].collect().toMap
    assert(rows("TX2") === Some("manual"))
    assert(rows("TX1") === None) // old rows null-fill via catalog too
  }
}
