package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Model
import graft.merge.Merge

/** The engine's load stage — the Spark-first restatement of the
  * reference's one real Spark job, `glue/scripts/load_transactions.py`
  * (SURVEY §3.3).
  *
  * Pipeline: declared-schema JSON scan (`:83-84`, inference made
  * explicit) → epoch→timestamp normalization (`:90-91`, P9) → numeric
  * casts (`:92-94`, P10 — engine keeps exact decimals, the reference's
  * lossy double lake is a view) → additional-columns literal injection
  * (`:96-107`, P11) → key-based write into the partitioned `transactions`
  * table (`:113-122`, §2.4 merge ops).
  */
object LoadTransactions {

  /** Mirror of the Glue job's resolved options
    * (`load_transactions.py:37-46`). */
  final case class Args(
      inputPath: String,
      tablePath: String,
      writeOperation: String = "upsert",
      additionalColumns: Map[String, String] = Map.empty)

  val validOperations: Seq[String] =
    Seq("insert", "upsert", "bulk_insert", "delete") // :48-51

  val keyCols: Seq[String] = Seq("transaction_id", "close_time") // :57
  val precombine: String = "transaction_id"                      // :58
  val partitionCol: String = "pair"                              // :56,69

  /** P9: the reference's exact epoch→timestamp conversion —
    * `from_unixtime(col, 'yyyy-MM-dd HH:mm:ss.SS').cast('timestamp')`.
    * `from_unixtime` floors the double epoch to whole seconds, so
    * sub-second precision is dropped; the `.SS` fraction is always "00".
    * We keep the identical builtin chain for bit parity. */
  private def epochToTs(c: String) =
    from_unixtime(col(c), "yyyy-MM-dd HH:mm:ss.SS").cast("timestamp")

  /** The logical transform, input-agnostic (works on any DataFrame with
    * the raw `OrderComplete` shape). Kept separate from IO so the
    * streaming path (§2.5) can reuse it per micro-batch. */
  def transform(raw: DataFrame, additionalColumns: Map[String, String])
      : DataFrame = {
    val cast = raw
      .withColumn("close_time", epochToTs("close_time"))
      .withColumn("open_time", epochToTs("open_time"))
      .withColumn("price", col("price").cast(Model.money))
      .withColumn("fee", col("fee").cast(Model.money))
      .withColumn("volume", col("volume").cast(Model.money))
    additionalColumns.foldLeft(cast) { case (df, (k, v)) =>
      df.withColumn(k, lit(v))
    }
  }

  /** Declared-schema scan of completed-transaction JSON files. */
  def readRaw(spark: SparkSession, inputPath: String): DataFrame =
    spark.read.schema(Model.orderCompleteRawSchema).json(inputPath)

  /** Schema-inference compatibility mode (the reference's actual
    * behavior, `load_transactions.py:84`). */
  def readRawInferred(spark: SparkSession, inputPath: String): DataFrame =
    spark.read.json(inputPath)

  /** The reference lake's lossy double view of the decimal core
    * (`load_transactions.py:92-94`; SURVEY §1.2 decimal policy). */
  def lakeView(transactions: DataFrame): DataFrame =
    transactions
      .withColumn("price", col("price").cast("double"))
      .withColumn("fee", col("fee").cast("double"))
      .withColumn("volume", col("volume").cast("double"))

  /** End-to-end load: read → transform → write via the §2.4 merge ops. */
  def run(spark: SparkSession, args: Args): Unit = {
    require(validOperations.contains(args.writeOperation),
      s"${args.writeOperation} is not a valid write_operation " +
        s"($validOperations)") // load_transactions.py:48-51
    val df = transform(readRaw(spark, args.inputPath), args.additionalColumns)
    args.writeOperation match {
      case "upsert" =>
        Merge.upsert(spark, df, args.tablePath, keyCols, precombine,
          partitionCol)
      // Hudi insert/bulk_insert append without key reconciliation
      // (combine-before-insert defaults off); bulk additionally applies
      // target-file-size layout (Hudi's small-file sizing analogue).
      case "insert" =>
        Merge.insert(df, args.tablePath, partitionCol)
      case "bulk_insert" =>
        Merge.bulkInsert(df, args.tablePath, partitionCol, keyCols)
      case "delete" =>
        Merge.delete(spark, df, args.tablePath, keyCols, partitionCol)
    }
  }

  /** O6: register the table in the session catalog (hive-sync
    * equivalent, `load_transactions.py:73-79`). When the table carries
    * recorded schema metadata, the columns are declared EXPLICITLY —
    * inference reads one footer, so a catalog table over an evolved
    * (mixed-schema) location would silently miss the columns only
    * newer files carry (Hudi's hive-sync pushes the evolved schema to
    * the metastore for the same reason). */
  def syncCatalog(spark: SparkSession, tablePath: String,
      database: String, table: String): Unit = {
    // identifiers backquoted and the location quote-escaped: Glue-style
    // names may be hyphenated ('dca-manager'), and raw interpolation
    // into DDL would fail the parse (or worse) at sync time
    val db = s"`${database.replace("`", "``")}`"
    val qualified = s"$db.`${table.replace("`", "``")}`"
    val loc = tablePath.replace("'", "''")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $qualified")
    graft.merge.TableState.load(spark, tablePath).schema match {
      case Some(s) if s.fieldNames.contains(partitionCol) =>
        val dataCols = s.fields.filterNot(_.name == partitionCol)
          .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        val partType = s(partitionCol).dataType.sql
        spark.sql(
          s"CREATE TABLE $qualified ($dataCols, " +
            s"`$partitionCol` $partType) USING parquet " +
            s"PARTITIONED BY (`$partitionCol`) LOCATION '$loc'")
      case _ => // legacy location without metadata: inferred as before
        spark.sql(
          s"CREATE TABLE $qualified USING parquet LOCATION '$loc'")
    }
    spark.catalog.recoverPartitions(qualified)
  }
}
