package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Narrow bridge to the `private[sql]` seams the SQL command layer
  * needs — the same seams every external Spark table format (Delta,
  * Hudi, Iceberg) reaches through a package-placed shim:
  *
  *  - turning an analyzer-produced [[LogicalPlan]] back into a
  *    [[DataFrame]] (`Dataset.ofRows`), so a rewritten `MERGE INTO`'s
  *    already-resolved target/source subtrees can be executed through
  *    the engine's public DataFrame surface, and
  *  - wrapping an already-resolved catalyst [[Expression]] as a
  *    [[Column]] (`ExpressionUtils.column`), so merge conditions and
  *    assignment values keep their resolved attribute ids instead of
  *    being re-resolved by name (which would break on self-merges and
  *    aliased sources).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-wrap a micro-batch Sink's incremental result as a BATCH
    * DataFrame (`internalCreateDataFrame(isStreaming = false)`) — the
    * third standard private[sql] seam every v1 streaming sink (Delta's
    * DeltaSink, Hudi's HoodieStreamingSink) reaches through: the
    * Dataset handed to `Sink.addBatch` wraps the streaming incremental
    * execution and refuses batch actions, while its `toRdd` is exactly
    * the batch's rows. */
  def asBatchDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** The mirror seam for a v1 streaming SOURCE: `Source.getBatch` must
    * return a STREAMING DataFrame (MicroBatchExecution asserts
    * `isStreaming`), built from the incremental relation's rows —
    * `internalCreateDataFrame(isStreaming = true)`, the same call
    * FileStreamSource makes. */
  def asStreamingDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = true)

  /** `rows` of `schema` as a DataFrame over a LocalRelation: built
    * without a job and without converting the rows. */
  def localRelation(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `s` with every field and nested element nullable. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** `e` as Spark's hash joins and aggregates normalize a key (every
    * NaN one value, -0.0 = 0.0). */
  def normalizeKey(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
      .normalize(e)
}
