package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogUtils
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{StructField, StructType}

import graft.merge.Merge
import graft.sources.GraftSource

/** `ALTER TABLE ... ADD COLUMNS` for catalog-registered graft tables —
  * the DDL half of additive schema evolution (the write half happens
  * implicitly when an upsert batch carries new columns; reference
  * analogue: Hudi's schema-on-write evolution surfaced through the
  * Athena/Glue catalog, `terraform/glue.tf:119-122`).
  *
  * Spark's stock v1 command rejects custom providers outright
  * (`AlterTableAddColumnsCommand` verifies the datasource is a file
  * format), so [[ResolveGraftMerge]] swaps it for this command when the
  * target's provider is graft. Two metadata writes, zero data movement:
  *
  *  1. the table's recorded schema (in its table state) gains the new
  *     fields — rows in files written before the evolution read them as
  *     null ([[Merge.readTable]] null-fills via the recorded schema, no
  *     footer merge);
  *  2. the session catalog's table schema is widened to match, so
  *     DESCRIBE/SELECT resolve the new columns immediately.
  *
  * At 100 TB this is the only acceptable cost shape for adding a
  * column: O(1) metadata, never a table rewrite. */
case class GraftAddColumnsCommand(ident: TableIdentifier,
    colsToAdd: Seq[StructField]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(ident)
    val path = GraftSource.opt(meta.storage.properties, "path")
      .orElse(meta.storage.locationUri.map(CatalogUtils.URIToString))
      .getOrElse(throw new IllegalArgumentException(
        s"graft ALTER TABLE: $ident has no recorded path"))
    Merge.addColumns(spark, path, StructType(colsToAdd))
    // mirror the relation's resolved column order: Spark always places
    // hive-layout partition columns LAST in a parquet read, so the new
    // columns slot in before them — a catalog order that disagreed with
    // the relation would fail resolution's schema-equality check
    val partCols = GraftSource.cols(meta.storage.properties, "partition")
      .map(_.toLowerCase).toSet
    val (dataC, partC) = meta.dataSchema.fields.partition(f =>
      !partCols.contains(f.name.toLowerCase))
    catalog.alterTableDataSchema(ident,
      StructType(dataC ++ colsToAdd ++ partC))
    // invalidate any cached relation so the next read resolves the
    // evolved schema
    catalog.refreshTable(ident)
    Seq.empty
  }
}
