package graft

/** Plan-capture harness for the optimization-round evidence: write
  * `.explain("formatted")` of each requested key's DataFrame to
  * `<outDir>/<key>_<tag>.txt`. args: keysCsv outDir tag [sfDir].
  *
  * Building a pipeline key's DataFrame executes its side-effecting
  * setup (scratch-table commits, streaming drains) — expected; the
  * captured plan is the key's RESULT relation, the thing the bench
  * times through the noop sink. Diagnosis-only, never driver-run. */
object Plans {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val outDir = args(1)
    val tag = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${k}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plans] wrote $outDir/${k}_$tag.txt")
    }
    spark.stop()
  }
}
