package graft.merge

import graft.SparkSpec

class OccSpec extends SparkSpec {
  test("x19: racing disjoint writers land as three commits, state sane") {
    val df = Occ.queries("x19_concurrent_writers")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every row carries the same commit count: seed + both racers
    assert(rows.map(_.getAs[Long]("n_commits")).toSet === Set(3L))
    // the bumped partitions exist on the lnum=2 slice
    assert(rows.count(r => r.getAs[Int]("l_linenumber") == 2) >= 3)
  }

  test("x30: SQL MERGE and DELETE from two sessions serialize (disjoint)") {
    val df = Occ.queries("x30_sql_occ_race")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_commits")).toSet === Set(3L))
  }

  test("SQL race on the SAME partition: both land serialized, or the " +
      "loser aborts loudly — never silent corruption") {
    val t = tmpDir("occ_sql") + "/table"
    graft.Tables.lineitem(spark, sfDir)
      .createOrReplaceTempView("occ_li")
    spark.sql("DROP TABLE IF EXISTS occ_sql_target")
    spark.sql(
      s"""CREATE TABLE occ_sql_target USING graft OPTIONS (
         |  path '$t',
         |  op 'upsert',
         |  keys 'l_orderkey,l_linenumber',
         |  precombine 'l_extendedprice',
         |  partition 'l_returnflag',
         |  versioned 'true')
         |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
         |          l_returnflag
         |   FROM occ_li WHERE l_linenumber <= 2""".stripMargin)
    val sessA = spark.newSession()
    val sessB = spark.newSession()
    graft.Tables.lineitem(sessA, sfDir)
      .createOrReplaceTempView("occ_src_li")
    sessA.sql(
      """CREATE OR REPLACE TEMP VIEW occ_src AS
        |SELECT l_orderkey, l_linenumber,
        |       max(l_extendedprice) AS src_price
        |FROM occ_src_li
        |WHERE l_returnflag = 'A' AND l_linenumber = 2
        |GROUP BY 1, 2""".stripMargin)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    // BOTH statements rewrite partition 'A' file groups
    val fa = Future(Try(sessA.sql(
      """MERGE INTO occ_sql_target t USING occ_src s
        |ON t.l_orderkey = s.l_orderkey
        |   AND t.l_linenumber = s.l_linenumber
        |   AND t.l_returnflag = 'A'
        |WHEN MATCHED THEN UPDATE SET
        |  l_extendedprice = s.src_price + 5.0""".stripMargin)))
    val fb = Future(Try(sessB.sql(
      """DELETE FROM occ_sql_target
        |WHERE l_returnflag = 'A' AND l_extendedprice < 2000
        |""".stripMargin)))
    val ra = Await.result(fa, 10.minutes)
    val rb = Await.result(fb, 10.minutes)
    val failures = Seq(ra, rb).flatMap(_.failed.toOption)
    // contract: full serialization (both land) or a LOUD abort naming
    // the concurrency — silent corruption is the one forbidden outcome
    assert(failures.size <= 1)
    failures.foreach(e =>
      assert((e.getMessage + Option(e.getCause).map(_.getMessage)
        .getOrElse("")).toLowerCase.contains("concurrent")
        || e.getMessage.toLowerCase.contains("commit failed"),
        s"loser must abort loudly, got: ${e.getMessage}"))
    info(s"outcome: ${2 - failures.size} of 2 landed " +
      (if (failures.isEmpty) "(serialized)" else "(loser aborted loudly)"))
    // the table stays readable and commit-consistent either way
    val n = spark.sql("SELECT count(*) FROM occ_sql_target").head.getLong(0)
    assert(n > 0)
    val commits = Merge.commits(spark, t).count()
    assert(commits === 1 + (2 - failures.size))
  }
}
