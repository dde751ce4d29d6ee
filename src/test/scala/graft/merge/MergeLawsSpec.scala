package graft.merge

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the §2.4 merge laws (SURVEY §5 test plan):
  * last-writer-wins, idempotence, and batch/table reconciliation hold
  * for arbitrary generated batches, not just the hand-picked cases in
  * MergeSpec. Plain ScalaCheck generators with fixed seeds (offline
  * environment has no scalatestplus bridge; fixed seeds also make a
  * failure reproducible by its seed index).
  */
class MergeLawsSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("transaction_id", "close_time")

  private type Row4 = (String, String, String, Double)

  private val rowGen: Gen[Row4] = for {
    tx <- Gen.oneOf("T1", "T2", "T3", "T4")
    ct <- Gen.oneOf("c1", "c2")
    pair <- Gen.oneOf("ADAGBP", "BTCUSD", "ETHGBP")
    price <- Gen.chooseNum(1, 999)
  } yield (tx, ct, pair, price.toDouble)

  private val batchGen: Gen[List[Row4]] =
    Gen.nonEmptyListOf(rowGen).map(_.take(12))

  private def sample(i: Long): List[Row4] =
    batchGen.pureApply(Gen.Parameters.default, Seed(i))

  // model of precombineDedup: max-price row per (tx, ct) key
  private def dedup(rs: List[Row4]): Map[(String, String), Row4] =
    rs.groupBy(r => (r._1, r._2)).map { case (k, g) => k -> g.maxBy(_._4) }

  // model of the upsert/delete record identity: (key, partition) —
  // Hudi's partition-scoped index (same key in two pairs = two records)
  private def dedupScoped(rs: List[Row4]): Map[(String, String, String), Row4] =
    rs.groupBy(r => (r._1, r._2, r._3)).map { case (k, g) => k -> g.maxBy(_._4) }

  private def readAll(p: String): Set[Row4] =
    spark.read.parquet(p)
      .select("transaction_id", "close_time", "pair", "price")
      .as[Row4].collect().toSet

  test("precombineDedup yields exactly one row per key, the max (×10)") {
    (0 until 10).foreach { i =>
      val rows = sample(i)
      val out = Merge.precombineDedup(
        rows.toDF("transaction_id", "close_time", "pair", "price"),
        keyCols, "price").as[Row4].collect().toSet
      // ties on price: engine picks deterministically, model checks keys
      assert(out.map(r => (r._1, r._2)) === dedup(rows).keySet, s"seed=$i")
      assert(out.map(r => (r._1, r._2, r._4)) ===
        dedup(rows).values.map(r => (r._1, r._2, r._4)).toSet, s"seed=$i")
    }
  }

  test("upsert: applying the same batch twice equals applying once (×5)") {
    (0 until 5).foreach { i =>
      val df = sample(i).toDF("transaction_id", "close_time", "pair", "price")
      val p = tmpDir(s"law1_$i")
      Merge.upsert(spark, df, p, keyCols, "price", "pair")
      val once = readAll(p)
      Merge.upsert(spark, df, p, keyCols, "price", "pair")
      assert(readAll(p) === once, s"seed=$i")
    }
  }

  test("upsert sequence: table state = last writer per key (×5)") {
    (0 until 5).foreach { i =>
      val rows1 = sample(2 * i)
      val rows2 = sample(2 * i + 1)
      val p = tmpDir(s"law2_$i")
      Merge.upsert(spark, rows1.toDF("transaction_id", "close_time",
        "pair", "price"), p, keyCols, "price", "pair")
      Merge.upsert(spark, rows2.toDF("transaction_id", "close_time",
        "pair", "price"), p, keyCols, "price", "pair")
      // model: batch2's deduped rows override batch1's for shared keys
      val expect = (dedupScoped(rows1) ++ dedupScoped(rows2)).values.toSet
      assert(readAll(p) === expect, s"seed=$i")
    }
  }

  test("compact is content-invariant after arbitrary upsert sequences (×5)") {
    (0 until 5).foreach { i =>
      val p = tmpDir(s"law4_$i")
      // three generated batches → several file groups per partition
      (0 until 3).foreach { b =>
        Merge.upsert(spark, sample(300 + 10 * i + b)
          .toDF("transaction_id", "close_time", "pair", "price"),
          p, keyCols, "price", "pair")
      }
      val before = readAll(p)
      Merge.compact(spark, p, Seq("pair"), keyCols, targetFileBytes = Long.MaxValue)
      assert(readAll(p) === before, s"seed=$i")
      // and a post-compaction upsert still reconciles correctly
      val rows = sample(400 + i)
      Merge.upsert(spark, rows.toDF("transaction_id", "close_time",
        "pair", "price"), p, keyCols, "price", "pair")
      val expect = (before.groupBy(r => (r._1, r._2, r._3))
        .map { case (k, g) => k -> g.head } ++ dedupScoped(rows)).values.toSet
      assert(readAll(p) === expect, s"seed=$i")
    }
  }

  test("additive evolution: evolved upsert equals null-filled model (×5)") {
    (0 until 5).foreach { i =>
      val rows1 = sample(500 + i)
      val rows2 = sample(600 + i)
      val p = tmpDir(s"law5_$i")
      Merge.upsert(spark, rows1.toDF("transaction_id", "close_time",
        "pair", "price"), p, keyCols, "price", "pair")
      Merge.upsert(spark, rows2.toDF("transaction_id", "close_time",
        "pair", "price").withColumn("src",
          org.apache.spark.sql.functions.lit("b2")),
        p, keyCols, "price", "pair")
      val got = Merge.readTable(spark, p)
        .select("transaction_id", "close_time", "pair", "price", "src")
        .as[(String, String, String, Double, Option[String])]
        .collect().toSet
      val d2 = dedupScoped(rows2)
      val expect =
        d2.values.map(r => (r._1, r._2, r._3, r._4, Some("b2"))).toSet ++
          dedupScoped(rows1).filterNot { case (k, _) => d2.contains(k) }
            .values.map(r => (r._1, r._2, r._3, r._4, None)).toSet
      assert(got === expect, s"seed=$i")
    }
  }

  test("delete: removed (key, partition) gone, all others intact (×5)") {
    (0 until 5).foreach { i =>
      val rows = sample(100 + i)
      val delRows = sample(200 + i)
      val p = tmpDir(s"law3_$i")
      Merge.upsert(spark, rows.toDF("transaction_id", "close_time",
        "pair", "price"), p, keyCols, "price", "pair")
      Merge.delete(spark, delRows.toDF("transaction_id", "close_time",
        "pair", "price"), p, keyCols, "pair")
      // key scope includes the partition (Hudi ComplexKeyGenerator):
      // a delete key only removes the row in ITS pair partition
      val delKeys = delRows.map(r => (r._1, r._2, r._3)).toSet
      val expect = dedupScoped(rows).values
        .filterNot(r => delKeys.contains((r._1, r._2, r._3))).toSet
      assert(readAll(p) === expect, s"seed=$i")
    }
  }
}
