package graft.merge

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavior of incremental view maintenance the driver's x08 oracle
  * (final-state equivalence) cannot see: group-membership moves,
  * empty-group tombstoning and resurrection, no-op refreshes, and the
  * invariant that EVERY refresh leaves the view equal to a
  * from-scratch recompute of the source. */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def mkSrc(): (String, String) =
    (Merge.scratchTable("graft_ivs_"), Merge.scratchTable("graft_ivv_"))

  private def srcBatch(rows: Seq[(Long, String, Double, Long)]): DataFrame =
    rows.toDF("k", "part", "v", "pre")
      .withColumn("bucket", col("k") % 2)

  private def recompute(src: String): Set[(String, Long, BigDecimal, Long)] =
    Merge.readTable(spark, src)
      .groupBy("part", "bucket")
      .agg(sum(graft.Tables.dec(col("v"))).cast("decimal(30,2)").as("s"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2)),
        r.getLong(3))).toSet

  private def viewState(vw: String): Set[(String, Long, BigDecimal, Long)] =
    IncrementalView.readView(spark, vw).collect()
      .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2)),
        r.getLong(3))).toSet

  test("every refresh equals a from-scratch recompute") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq(
      (1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L), (3L, "b", 30.0, 1L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    assert(viewState(vw) === recompute(src))
    // update k=1 (same group), insert k=4 (new group b/0)
    Merge.upsert(spark, srcBatch(Seq(
      (1L, "a", 15.0, 2L), (4L, "b", 40.0, 2L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.refresh(spark, vw)
    assert(viewState(vw) === recompute(src))
    // delete k=2
    Merge.delete(spark, Seq((2L, "a")).toDF("k", "part"),
      src, Seq("k"), Seq("part"))
    IncrementalView.refresh(spark, vw)
    assert(viewState(vw) === recompute(src))
  }

  test("a group-membership move adjusts both groups") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq(
      (1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    // k=1 moves bucket 1 -> 1 stays; move k=2 (bucket 0) by replacing
    // its row with k=12 semantics is not a move — instead update k=2's
    // value only, and move k=1 across PARTITIONS via delete+insert
    Merge.delete(spark, Seq((1L, "a")).toDF("k", "part"),
      src, Seq("k"), Seq("part"))
    Merge.upsert(spark, srcBatch(Seq((1L, "b", 10.0, 2L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.refresh(spark, vw)
    assert(viewState(vw) === recompute(src))
  }

  test("an emptied group is tombstoned, hidden, and resurrectable") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq(
      (1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    Merge.delete(spark, Seq((1L, "a")).toDF("k", "part"),
      src, Seq("k"), Seq("part"))
    IncrementalView.refresh(spark, vw)
    // hidden from readView, present as an n_rows=0 tombstone row
    assert(viewState(vw) === recompute(src))
    val tomb = Merge.readTable(spark, vw)
      .filter(col("part") === "a" && col("n_rows") === 0).count()
    assert(tomb === 1)
    // resurrection in place
    Merge.upsert(spark, srcBatch(Seq((1L, "a", 11.0, 3L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.refresh(spark, vw)
    assert(viewState(vw) === recompute(src))
  }

  test("a refresh with nothing new writes nothing") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq((1L, "a", 10.0, 1L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    val commitsBefore = Merge.commits(spark, vw).count()
    val c1 = IncrementalView.refresh(spark, vw)
    val c2 = IncrementalView.refresh(spark, vw)
    assert(c1 === c2)
    assert(Merge.commits(spark, vw).count() === commitsBefore)
  }

  test("a no-op refresh reads the source head without a Spark job") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq((1L, "a", 10.0, 1L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    // the two jobs left are the view's own src_ts cursor aggregate
    val jobs = jobsOf(IncrementalView.refresh(spark, vw))
    assert(jobs === 2, s"no-op refresh ran $jobs jobs")
  }

  test("the cursor rides the view commit: a done refresh never re-applies") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq((1L, "a", 10.0, 1L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    Merge.upsert(spark, srcBatch(Seq((2L, "a", 5.0, 2L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.refresh(spark, vw)
    val after = viewState(vw)
    // a retry (e.g. an orchestrator re-running a step that already
    // completed) sees the advanced cursor and changes nothing
    IncrementalView.refresh(spark, vw)
    assert(viewState(vw) === after)
  }

  test("a rolled-back source refuses refresh with a clear error") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq((1L, "a", 10.0, 1L))),
      src, Seq("k"), "pre", "part")
    Merge.upsert(spark, srcBatch(Seq((2L, "a", 20.0, 2L))),
      src, Seq("k"), "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    Merge.restoreTo(spark, src, 1L)
    val e = intercept[IllegalArgumentException](
      IncrementalView.refresh(spark, vw))
    assert(e.getMessage.contains("rebuild the view"))
  }

  test("a view created over an empty source refuses refresh with a " +
      "clear cursor diagnostic (not an opaque null unboxing)") {
    val (src, vw) = mkSrc()
    Merge.upsert(spark, srcBatch(Seq((1L, "a", 10.0, 1L))),
      src, Seq("k"), "pre", "part")
    Merge.delete(spark, Seq((1L, "a")).toDF("k", "part"),
      src, Seq("k"), Seq("part"))
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    val e = intercept[IllegalArgumentException] {
      IncrementalView.refresh(spark, vw)
    }
    assert(e.getMessage.contains("no rows"), e.getMessage)
    assert(e.getMessage.contains(vw), "the diagnostic must name the view")
  }
}
