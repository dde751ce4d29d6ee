package graft

/** The test fixture runs the configuration the mains ship. */
class SessionTuningSpec extends SparkSpec {

  test("the test session carries every setting SessionTuning sets") {
    assert(SessionTuning.settings.map(_._1).toSet === Set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.streaming.checkpointFileManagerClass",
      "spark.sql.session.timeZone",
      "spark.sql.extensions",
      "spark.sql.legacy.parquet.nanosAsLong"))
    SessionTuning.settings.foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("every session of the test JVM runs without codegen fallback, " +
      "newSession()s included") {
    Seq(spark, spark.newSession()).foreach(s =>
      assert(s.conf.get("spark.sql.codegen.fallback") === "false"))
  }

  test("the catalog warehouse lies outside the working directory") {
    val wh = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
      .getCanonicalFile.toPath
    val cwd = new java.io.File(".").getCanonicalFile.toPath
    assert(!wh.startsWith(cwd), s"warehouse $wh is under $cwd")
  }
}
