package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of join — for each left row, the single right row with the same
  * key and the greatest right timestamp ≤ the left timestamp (the
  * trades-vs-quotes operator; nearest-prior-event enrichment). Spark
  * has no native as-of join; the naive rewrite is a range join whose
  * cost is |left| × |right rows in range|.
  *
  * This implementation is the scale-right composition: union both
  * sides, ONE shuffle on the key, one in-partition sort on
  * (ts, side, right-payload), and a running `last(_, ignoreNulls)`
  * window that carries the most recent right payload forward into each
  * left row. Cost is sort-merge-like — linear in |left| + |right| per
  * key — independent of how many right rows precede a left row.
  *
  * Right rows sort BEFORE left rows at equal timestamps, so a same-ts
  * right row matches (the ≤ contract, like DuckDB's `ASOF JOIN ...
  * ON l.ts >= r.ts`). If the right side has several rows at the same
  * (key, ts), the greatest payload struct wins (deterministic, but
  * engine-specific — keep right unique per (key, ts) upstream when
  * cross-engine parity matters).
  */
object AsofJoin {

  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, rightPrefix: String = "asof_"): DataFrame = {
    val rPayload = right.columns.filterNot(c => keys.contains(c) || c == tsCol)
    def structTypeOf(df: DataFrame, cols: Seq[String]): StructType =
      StructType(cols.map(c => df.schema(c)))

    val lStructT = structTypeOf(left, left.columns.toIndexedSeq)
    val rStructCols = tsCol +: rPayload
    val rStructT = structTypeOf(right, rStructCols.toIndexedSeq)

    val lTagged = left.select(
      keys.map(col) ++ Seq(
        col(tsCol).as("_ts"), lit(1).as("_side"),
        struct(left.columns.toIndexedSeq.map(col): _*).as("_l"),
        lit(null).cast(rStructT).as("_r")): _*)
    val rTagged = right.select(
      keys.map(col) ++ Seq(
        col(tsCol).as("_ts"), lit(0).as("_side"),
        lit(null).cast(lStructT).as("_l"),
        struct(rStructCols.map(col): _*).as("_r")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").asc, col("_r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = lTagged.unionByName(rTagged)
      .withColumn("_asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)

    val leftCols = left.columns.toIndexedSeq.map(c => col(s"_l.$c").as(c))
    val asofCols = rStructCols.toIndexedSeq.map(c =>
      col(s"_asof.$c").as(s"$rightPrefix$c"))
    matched.select(leftCols ++ asofCols: _*)
  }

  /** Forward as-of join — for each left row, the single right row with
    * the same key and the SMALLEST right timestamp ≥ the left timestamp
    * (next-event attribution: click → the purchase that followed),
    * optionally bounded by `tolerance` (a SQL interval string): a match
    * farther than tolerance after the left row nulls out, the
    * `merge_asof(direction='forward', tolerance=...)` contract.
    *
    * Same one-shuffle composition as [[asofJoin]], mirrored: left rows
    * sort BEFORE right rows at equal timestamps (the ≥ contract — a
    * same-ts right row matches), and a `first(_, ignoreNulls)` window
    * over [current, ∞) carries the nearest following right payload
    * back into each left row. With several right rows at one
    * (key, ts), the smallest payload struct wins (deterministic).
    *
    * The tolerance is also what makes this operator STATE-BOUNDED as a
    * streaming shape: unbounded forward as-of can never close a left
    * row (some future right row might always arrive), bounded forward
    * as-of is exactly the outer interval join + rank-1. */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, rightPrefix: String = "asof_",
      tolerance: Option[String] = None): DataFrame = {
    val rPayload = right.columns.filterNot(c => keys.contains(c) || c == tsCol)
    def structTypeOf(df: DataFrame, cols: Seq[String]): StructType =
      StructType(cols.map(c => df.schema(c)))

    val lStructT = structTypeOf(left, left.columns.toIndexedSeq)
    val rStructCols = tsCol +: rPayload
    val rStructT = structTypeOf(right, rStructCols.toIndexedSeq)

    val lTagged = left.select(
      keys.map(col) ++ Seq(
        col(tsCol).as("_ts"), lit(0).as("_side"),
        struct(left.columns.toIndexedSeq.map(col): _*).as("_l"),
        lit(null).cast(rStructT).as("_r")): _*)
    val rTagged = right.select(
      keys.map(col) ++ Seq(
        col(tsCol).as("_ts"), lit(1).as("_side"),
        lit(null).cast(lStructT).as("_l"),
        struct(rStructCols.map(col): _*).as("_r")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").asc, col("_r").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val withNext = lTagged.unionByName(rTagged)
      .withColumn("_asof", first(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
    val bounded = tolerance match {
      case Some(t) => withNext.withColumn("_asof",
        when(col(s"_asof.$tsCol") <= col("_ts") + expr(s"interval $t"),
          col("_asof")))
      case None => withNext
    }

    val leftCols = left.columns.toIndexedSeq.map(c => col(s"_l.$c").as(c))
    val asofCols = rStructCols.toIndexedSeq.map(c =>
      col(s"_asof.$c").as(s"$rightPrefix$c"))
    bounded.select(leftCols ++ asofCols: _*)
  }
}
