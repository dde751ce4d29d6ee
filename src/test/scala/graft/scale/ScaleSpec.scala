package graft.scale

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedEquiJoin returns exactly the plain join's rows") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_linenumber")
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val plain = li.join(o, Seq("l_orderkey"))
      .groupBy("l_orderkey").count()
    val salted = Scale.saltedEquiJoin(li, o, Seq("l_orderkey"), factor = 4)
      .groupBy("l_orderkey").count()
    assert(plain.count() === salted.count())
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("salt values actually spread rows across the factor range") {
    val li = Tables.lineitem(spark, sfDir)
    val salts = li.select(
      pmod(xxhash64(li.columns.map(col): _*), lit(8)).cast("int").as("s"))
      .distinct().as[Int].collect().toSet
    assert(salts.size >= 6) // near-uniform over 8 buckets
  }

  test("bloomPrunedJoin: identical to the plain join, prunes pre-shuffle") {
    val dim = Tables.part(spark, sfDir).filter(col("p_size") <= 3)
      .select(col("p_partkey"), col("p_brand"))
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_extendedprice")
    val pruned = Scale.bloomPrunedJoin(li, dim, "l_partkey", "p_partkey",
      expectedDimKeys = 1000L)
    val plain = li.join(dim, col("l_partkey") === col("p_partkey"))
    // parity: runtime filtering must be invisible in the result
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    // the probe really prunes: a selective dim keeps a small fraction
    // of fact rows from ever reaching the join
    val (mB, kH) = graft.functions.BloomBits.sizeFor(1000L)
    val filt = dim.select(graft.functions.BloomFunctions
      .bloomAgg(xxhash64(col("p_partkey")), mB, kH).as("f"))
      .head.getAs[Array[Byte]](0)
    val kept = li.filter(graft.functions.BloomFunctions
      .bloomMaybe(lit(filt), xxhash64(col("l_partkey")))).count()
    assert(kept < li.count() / 2, s"probe kept $kept of ${li.count()}")
    // and it runs inside the scan stage: the probe expression appears
    // in the executed plan (a Filter below the join, not a post-join
    // residual)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("graft_bloom_maybe"))
  }

  test("bucketed-by-key tables join with zero shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    Scale.writeBucketed(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
      "b_lineitem", Seq("l_orderkey"), 4)
    Scale.writeBucketed(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "b_orders", Seq("l_orderkey"), 4)
    // force a sort-merge join so the bucketed layout (not a broadcast)
    // is what eliminates the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), Seq("l_orderkey"))
      joined.collect()
      assert(Scale.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString)
      // and the result is right
      assert(joined.count() ===
        Tables.lineitem(spark, sfDir).join(
          Tables.orders(spark, sfDir)
            .select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed-by-key table AGGREGATES with zero shuffle") {
    // the write-once dividend extends beyond joins: a groupBy on the
    // bucket key reads the hash distribution from the bucket layout,
    // so the aggregation runs exchange-free too
    spark.sql("DROP TABLE IF EXISTS b_agg")
    Scale.writeBucketed(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
      "b_agg", Seq("l_orderkey"), 4)
    val agg = spark.table("b_agg").groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q"))
    agg.collect()
    assert(Scale.isShuffleFree(agg),
      agg.queryExecution.executedPlan.toString)
    assert(agg.count() ===
      Tables.lineitem(spark, sfDir).select("l_orderkey").distinct().count())
  }

  test("dynamic partition pruning fires on the month-partitioned fact") {
    val tmp = tmpDir("graft_dpp_")
    Tables.lineitem(spark, sfDir)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    val dim = Tables.orders(spark, sfDir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .filter(col("ship_month").isin("1996-01", "1996-02", "1996-03"))
      .distinct()
    val joined = fact.join(dim, Seq("ship_month"))
      .groupBy("ship_month").agg(count(lit(1)).as("n"))
    // the fact scan must carry a runtime pruning subquery — without it
    // the scan reads all ~84 month partitions for a 3-month query
    assert(joined.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"),
      joined.queryExecution.executedPlan.toString)
    // and the pruned result is the plain-filter result
    val expect = fact
      .filter(col("ship_month").isin("1996-01", "1996-02", "1996-03"))
      .groupBy("ship_month").agg(count(lit(1)).as("n"))
    assert(joined.exceptAll(expect).isEmpty && expect.exceptAll(joined).isEmpty)
  }

  test("interleaveBits: known Morton values, round-trip ordering") {
    import spark.implicits._
    // x=3 (bits 1,1,0 -> positions 0,2), y=5 (bits 1,0,1 -> 1,5):
    // z = 1 + 4 + 2 + 32 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Scale.interleaveBits(Seq(col("x"), col("y")), 3).as("z"))
      .as[Long].head()
    assert(z === 39L)
    // identity on one column, and the degenerate all-zero case
    val one = Seq(Tuple1(13L)).toDF("x")
      .select(Scale.interleaveBits(Seq(col("x")), 4)).as[Long].head()
    assert(one === 13L)
    val zero = Seq((0L, 0L)).toDF("x", "y")
      .select(Scale.interleaveBits(Seq(col("x"), col("y")), 16))
      .as[Long].head()
    assert(zero === 0L)
    // locality: the quadrant (top bit of each dim) dominates the key,
    // so all points of one quadrant sort before any of the next
    val pts = for (x <- 0L to 3L; y <- 0L to 3L) yield (x, y)
    val zs = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Scale.interleaveBits(Seq(col("x"), col("y")), 2).as("z"))
      .as[(Long, Long, Long)].collect()
    val q0max = zs.filter(p => p._1 < 2 && p._2 < 2).map(_._3).max
    val q3min = zs.filter(p => p._1 >= 2 && p._2 >= 2).map(_._3).min
    assert(q0max < q3min)
    intercept[IllegalArgumentException](
      Scale.interleaveBits(Seq(col("x"), col("y")), 32))
  }
}
