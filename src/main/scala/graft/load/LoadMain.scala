package graft.load

import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference Glue job's resolved-options
  * contract (`glue/scripts/load_transactions.py:37-51`): a user of the
  * reference can run the same load with the same arguments.
  *
  * {{{
  * spark-submit --class graft.load.LoadMain graft.jar \
  *   --input_path <dir-or-file> --output_path <table-dir> \
  *   [--write_operation upsert|insert|bulk_insert|delete] \
  *   [--additional_columns '{"exchange":"kraken"}'] \
  *   [--glue_database dca_manager --glue_table transactions]
  * }}}
  */
object LoadMain {

  private[load] def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** Minimal JSON-object parser for the additional_columns argument
    * (flat string→string map, the only shape the reference passes —
    * `cmd/process_orders/main.go:232-236`). */
  private[load] def parseColumns(json: String): Map[String, String] = {
    val pair = """"([^"]*)"\s*:\s*"([^"]*)"""".r
    pair.findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    def required(k: String): String = a.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k"))
    // the master comes from spark-submit
    val spark = graft.SessionTuning.tuned(SparkSession.builder())
      .appName("graft-load-transactions")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    try {
      LoadTransactions.run(spark, LoadTransactions.Args(
        inputPath = required("input_path"),
        tablePath = required("output_path"),
        writeOperation = a.getOrElse("write_operation", "upsert"),
        additionalColumns =
          a.get("additional_columns").map(parseColumns).getOrElse(Map.empty)))
      for (db <- a.get("glue_database"); table <- a.get("glue_table"))
        LoadTransactions.syncCatalog(spark, required("output_path"), db, table)
    } finally spark.stop()
  }
}
