package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MarketsSpec extends SparkSpec {

  test("vwap: bounded by min/max fill price, volumes positive") {
    val out = Markets.vwap(spark, sfDir).cache()
    assert(out.count() > 0)
    assert(out.filter(col("volume") <= 0 || col("turnover") <= 0).isEmpty)
    // VWAP is a convex combination of fill prices, so each (brand,
    // month)'s vwap must sit inside that group's unit-price envelope
    val envelope = graft.Tables.lineitem(spark, sfDir)
      .join(graft.Tables.part(spark, sfDir),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("lo"),
        max(col("l_extendedprice") / col("l_quantity")).as("hi"))
    val breaches = out.join(envelope, Seq("brand", "month"))
      .filter(col("vwap") < col("lo") - lit(1e-9) ||
        col("vwap") > col("hi") + lit(1e-9))
    assert(breaches.isEmpty)
    out.unpersist()
  }

  test("costBasis: position monotone, basis inside envelope, PnL identity") {
    val out = Markets.costBasis(spark, sfDir).cache()
    assert(out.count() > 0)
    // cum_qty strictly increases along each instrument's fill sequence
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_partkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    val nonMono = out
      .withColumn("prev", lag(col("cum_qty"), 1).over(w))
      .filter(col("prev").isNotNull && col("cum_qty") <= col("prev"))
    assert(nonMono.isEmpty)
    // the PnL identity holds row-by-row
    val bad = out.filter(
      abs(col("unrealized") -
        (col("last_price") - col("avg_cost")) * col("cum_qty")) > 1e-9)
    assert(bad.isEmpty)
    // mark price is constant within an instrument
    assert(out.groupBy("l_partkey")
      .agg(countDistinct("last_price").as("n")).filter(col("n") =!= 1)
      .isEmpty)
    out.unpersist()
  }

  test("periodOverPeriod: delta identities, first periods null") {
    val out = Markets.periodOverPeriod(spark, sfDir).cache()
    assert(out.count() > 0)
    // identity: mom_delta = total - prev_month_total wherever defined
    assert(out.filter(col("prev_month_total").isNotNull &&
      abs(col("mom_delta") - (col("total") - col("prev_month_total"))) > 1e-9)
      .isEmpty)
    // each priority's FIRST month has no prior period
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("priority").orderBy("month")
    val first = out.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assert(first.filter(col("prev_month_total").isNotNull).isEmpty)
    assert(first.filter(col("mom_delta").isNotNull).isEmpty)
    // yoy needs 12 prior observed months
    assert(out.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 12 && col("prev_year_total").isNotNull).isEmpty)
    out.unpersist()
  }

  test("rollingDaily: frame bounded at 7 observed days, window ⊇ current") {
    val out = Markets.rollingDaily(spark, sfDir).cache()
    assert(out.count() > 0)
    assert(out.filter(col("roll_days") > 7 || col("roll_days") < 1).isEmpty)
    // the rolling total always includes the current day's total, and
    // daily totals are positive, so roll_total >= daily_total
    assert(out.filter(col("roll_total") < col("daily_total") - 1e-9).isEmpty)
    // mean identity
    assert(out.filter(
      abs(col("roll_avg") * col("roll_days") - col("roll_total")) > 1e-6)
      .isEmpty)
    out.unpersist()
  }
}
