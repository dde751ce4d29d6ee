package graft.pipeline

import graft.SparkSpec
import graft.merge.Merge
import org.apache.spark.sql.functions._

/** Write-audit-publish: staged-but-failed batches leave no durable
  * trace; the audit report carries the evidence either way. */
class WapSpec extends SparkSpec {
  import Expectations.Expectation
  import spark.implicits._

  private def freshTable(): String = {
    val d = tmpDir("wap")
    s"$d/t"
  }

  private val rules = Seq(
    Expectation("v_nonneg", $"v" >= 0),
    Expectation("k_present", $"k".isNotNull))

  test("failed audit restores the exact pre-stage state and timeline") {
    val path = freshTable()
    Merge.upsert(spark,
      Seq((1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L))
        .toDF("k", "part", "v", "pre"),
      path, Seq("k"), "pre", Seq("part"))
    val beforeRows = Merge.readTable(spark, path)
      .select("k", "part", "v", "pre").collect().toSet
    val beforeCommits = Merge.commits(spark, path)
      .select("commit_ts").as[Long].collect().toSet
    val r = Wap.writeAuditPublish(spark,
      Seq((2L, "a", -5.0, 2L), (3L, "a", 30.0, 2L))
        .toDF("k", "part", "v", "pre"),
      path, Seq("k"), "pre", Seq("part"), rules)
    assert(!r.published)
    // the report names the violated rule with its count
    val rep = r.report.collect()
      .map(x => x.getAs[String]("rule") ->
        (x.getAs[Long]("n_violations"), x.getAs[Boolean]("pass"))).toMap
    assert(rep("v_nonneg") === ((1L, false)))
    assert(rep("k_present") === ((0L, true)))
    // content AND timeline are back to the pre-stage state: the staged
    // commit is not readable, not listed, and the staged rows are gone
    assert(Merge.readTable(spark, path)
      .select("k", "part", "v", "pre").collect().toSet === beforeRows)
    assert(Merge.commits(spark, path)
      .select("commit_ts").as[Long].collect().toSet === beforeCommits)
  }

  test("passing audit publishes; the table keeps accepting commits") {
    val path = freshTable()
    Merge.upsert(spark,
      Seq((1L, "a", 10.0, 1L)).toDF("k", "part", "v", "pre"),
      path, Seq("k"), "pre", Seq("part"))
    val r1 = Wap.writeAuditPublish(spark,
      Seq((2L, "a", 20.0, 2L)).toDF("k", "part", "v", "pre"),
      path, Seq("k"), "pre", Seq("part"), rules)
    assert(r1.published)
    assert(r1.report.collect().forall(_.getAs[Boolean]("pass")))
    // a rejected batch, then another clean one on the restored table
    val r2 = Wap.writeAuditPublish(spark,
      Seq((9L, "a", -1.0, 3L)).toDF("k", "part", "v", "pre"),
      path, Seq("k"), "pre", Seq("part"), rules)
    assert(!r2.published)
    val r3 = Wap.writeAuditPublish(spark,
      Seq((3L, "a", 30.0, 4L)).toDF("k", "part", "v", "pre"),
      path, Seq("k"), "pre", Seq("part"), rules)
    assert(r3.published)
    assert(Merge.readTable(spark, path).select("k").as[Long]
      .collect().toSet === Set(1L, 2L, 3L))
  }

  test("audit that THROWS also rolls the staged commit back") {
    // A rule referencing a missing column makes the audit job itself
    // fail — the error path must restore just like the rules-fail path,
    // or a poisoned batch becomes durable state.
    val path = freshTable()
    Merge.upsert(spark,
      Seq((1L, "a", 10.0, 1L)).toDF("k", "part", "v", "pre"),
      path, Seq("k"), "pre", Seq("part"))
    val beforeRows = Merge.readTable(spark, path)
      .select("k", "part", "v", "pre").collect().toSet
    val beforeCommits = Merge.commits(spark, path)
      .select("commit_ts").as[Long].collect().toSet
    val boom = Seq(Expectation("bad_rule", col("no_such_column") >= 0))
    intercept[Throwable] {
      Wap.writeAuditPublish(spark,
        Seq((2L, "a", 20.0, 2L)).toDF("k", "part", "v", "pre"),
        path, Seq("k"), "pre", Seq("part"), boom)
    }
    assert(Merge.readTable(spark, path)
      .select("k", "part", "v", "pre").collect().toSet === beforeRows)
    assert(Merge.commits(spark, path)
      .select("commit_ts").as[Long].collect().toSet === beforeCommits)
  }

  test("WAP refuses to stage onto a table with no restore anchor") {
    val path = freshTable()
    intercept[IllegalArgumentException] {
      Wap.writeAuditPublish(spark,
        Seq((1L, "a", 1.0, 1L)).toDF("k", "part", "v", "pre"),
        path, Seq("k"), "pre", Seq("part"), rules)
    }
  }
}
