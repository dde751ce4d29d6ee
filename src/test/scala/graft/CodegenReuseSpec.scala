package graft

import java.nio.file.{Files, Paths}

import graft.merge.{Merge, MorTable}
import graft.streaming.StreamLoader
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Generated code compiles once per JVM: a repeat of work the JVM has
  * already done compiles no class. Spark caches compiled classes by
  * (class loader, source), so a stream drain whose cloned session runs
  * its tasks under a fresh class loader, a commit id inlined into the
  * generated source, or a cache smaller than the working set each show
  * here as compilations. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Classes Janino compiled in this JVM while `body` ran (driver and
    * local executors alike). */
  private def compiled(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private val keyCols = Seq("transaction_id", "close_time")

  /** One order as a parquet batch under `dir`: read from a file, as a
    * drained micro-batch is, so its values are data, not plan literals. */
  private def order(dir: String, i: Int): DataFrame = {
    val p = s"$dir/batch$i"
    Seq((s"T$i", "c1", "ADAGBP", 1.0 + i))
      .toDF("transaction_id", "close_time", "pair", "price")
      .write.parquet(p)
    spark.read.parquet(p)
  }

  test("a second same-shaped one-row drain compiles no class") {
    val base = tmpDir("codegen_drain")
    val args = StreamLoader.Args(
      inputDir = s"$base/in", tablePath = s"$base/table",
      checkpointDir = s"$base/ckpt", deadLetterDir = s"$base/dlq",
      additionalColumns = Map("exchange" -> "kraken"))
    Files.createDirectories(Paths.get(args.inputDir))
    def drain(i: Int): Long = {
      Files.writeString(Paths.get(args.inputDir, s"o$i.json"),
        s"""{"transaction_id":"TX$i","exchange_status":"closed",""" +
          s""""pair":"ADAGBP","order_type":"market","type":"buy",""" +
          s""""price":"${1 + i * 0.01}","fee":"0.01","volume":"10",""" +
          s""""open_time":1.69e9,"close_time":${1.7e9 + i}}""")
      compiled(StreamLoader.runAvailableNow(spark, args))
    }
    drain(0) // creates the table
    drain(1) // the first upsert drain: compiles its classes
    val again = drain(2)
    assert(spark.read.parquet(args.tablePath).count() === 3)
    assert(again === 0L, s"the second upsert drain compiled $again classes")
  }

  test("a second Merge.upsert commit and a second MorTable.upsert commit " +
      "compile no class") {
    val again = Seq[(String, (DataFrame, String) => Long, String => DataFrame)](
      ("Merge.upsert",
        (b, p) => Merge.upsert(spark, b, p, keyCols, "price", "pair"),
        Merge.readTable(spark, _)),
      ("MorTable.upsert",
        (b, p) => MorTable.upsert(spark, b, p, keyCols, "price", "pair"),
        MorTable.read(spark, _))
    ).map { case (name, upsert, read) =>
      val dir = tmpDir("codegen_commit")
      val table = s"$dir/table"
      val batches = (0 to 2).map(order(dir, _))
      upsert(batches(0), table) // creates the table
      upsert(batches(1), table)
      val n = compiled(upsert(batches(2), table))
      assert(read(table).count() === 3, name)
      name -> n
    }.toMap
    assert(again === Map("Merge.upsert" -> 0L, "MorTable.upsert" -> 0L),
      "classes compiled by the second commit")
  }

  test("a second pass over a query set wider than Spark's stock codegen " +
      "cache (100 classes) compiles no class") {
    // each query's generated source differs by its inlined constant
    val queries = (1 to 150).map(i => () =>
      spark.range(1).selectExpr(s"id * $i + $i AS v").as[Long].head())
    val first = compiled(queries.foreach(_()))
    assert(first > 100L, s"the first pass compiled only $first classes")
    val second = compiled(queries.foreach(_()))
    assert(second === 0L, s"the second pass compiled $second classes")
  }
}
