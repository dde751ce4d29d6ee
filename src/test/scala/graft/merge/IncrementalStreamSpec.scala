package graft.merge

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming incremental pull: drain parity with the table state,
  * checkpointed resume (only new commits stream), junk tolerance, and
  * rolled-back ids never streaming. */
class IncrementalStreamSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("k")

  private def rows(ks: Range, part: String, v: String): DataFrame =
    ks.map(k => (k.toLong, part, v)).toDF("k", "part", "v")

  private def drainTo(path: String, sink: String, ckpt: String)
      : Seq[Seq[Long]] = {
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    IncrementalStream.foreachIncrement(spark, path, ckpt) {
      (inc, ids, _) =>
        batches += ids
        inc.write.mode("append").parquet(sink)
    }
    batches.toSeq
  }

  test("AvailableNow drain delivers exactly the table, stamped") {
    val path = tmpDir("incs_drain") + "/t"
    Merge.upsert(spark, rows(0 until 30, "a", "v1"), path,
      keyCols, "v", "part")
    Merge.upsert(spark, rows(20 until 40, "a", "v2"), path,
      keyCols, "v", "part")
    Merge.upsert(spark, rows(35 until 50, "b", "v3"), path,
      keyCols, "v", "part")
    val sink = tmpDir("incs_sink") + "/out"
    val ids = drainTo(path, sink, tmpDir("incs_ckpt"))
    assert(ids.flatten.sorted === Seq(1L, 2L, 3L))
    val got = spark.read.parquet(sink)
      .select("k", "part", "v", Merge.commitCol)
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    val want = Merge.readTable(spark, path)
      .select("k", "part", "v", Merge.commitCol)
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    assert(got === want)
    // spot-check the overwrite semantics: keys 20..29 arrive ONCE,
    // stamped by commit 2 (the last writer), never under commit 1
    assert(got.filter(r => r._1 >= 20 && r._1 < 30 && r._2 == "a")
      .forall(r => r._3 == "v2" && r._4 == 2L))
  }

  test("a MOR table streams its delta-commit rows (snapshot source)") {
    val path = tmpDir("incs_mor") + "/t"
    MorTable.upsert(spark, rows(0 until 30, "a", "v1"), path,
      keyCols, "v", "part")
    MorTable.upsert(spark, rows(20 until 40, "a", "v2"), path,
      keyCols, "v", "part")
    MorTable.delete(spark, rows(0 until 5, "a", "x").select("k", "part"),
      path)
    val sink = tmpDir("incs_morsink") + "/out"
    val ids = drainTo(path, sink, tmpDir("incs_morckpt"))
    assert(ids.flatten.sorted === Seq(1L, 2L, 3L))
    val got = spark.read.parquet(sink)
      .select("k", "part", "v", Merge.commitCol)
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    val want = MorTable.read(spark, path)
      .select("k", "part", "v", Merge.commitCol)
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    assert(got === want)
    // the delta commit's winners streamed (base alone would miss them)
    assert(got.filter(r => r._1 >= 20 && r._1 < 40)
      .forall(r => r._3 == "v2" && r._4 == 2L))
    // tombstoned keys don't appear (deletes don't stream — Hudi caveat)
    assert(got.forall(_._1 >= 5))
  }

  test("checkpointed resume streams only commits that landed since") {
    val path = tmpDir("incs_resume") + "/t"
    Merge.upsert(spark, rows(0 until 10, "a", "v1"), path,
      keyCols, "v", "part")
    Merge.upsert(spark, rows(10 until 20, "a", "v2"), path,
      keyCols, "v", "part")
    val sink = tmpDir("incs_rsink") + "/out"
    val ckpt = tmpDir("incs_rckpt")
    assert(drainTo(path, sink, ckpt).flatten.sorted === Seq(1L, 2L))
    // nothing new: a re-drain delivers nothing
    assert(drainTo(path, sink, ckpt).flatten.isEmpty)
    Merge.upsert(spark, rows(5 until 8, "a", "v3"), path,
      keyCols, "v", "part")
    assert(drainTo(path, sink, ckpt).flatten === Seq(3L))
    // the sink accumulated an at-least-once-composable history: the
    // keys commit 3 rewrote appear under commit 2 (first drain) AND
    // commit 3 (second drain) — last-stamp-wins reconstruction equals
    // the table (what a keyed-upsert consumer materializes)
    val latest = spark.read.parquet(sink)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("k", "part").orderBy(col(Merge.commitCol).desc)))
      .filter($"_rn" === 1).drop("_rn")
      .select("k", "part", "v", Merge.commitCol)
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    val want = Merge.readTable(spark, path)
      .select("k", "part", "v", Merge.commitCol)
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    assert(latest === want)
  }

  private def drainChangesTo(path: String, sink: String, ckpt: String)
      : Seq[Seq[Long]] = {
    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    IncrementalStream.foreachChanges(spark, path, ckpt,
      keyCols :+ "part") { (ch, ids, _) =>
        batches += ids
        ch.write.mode("append").parquet(sink)
    }
    batches.toSeq
  }

  test("foreachChanges drain equals the batch readChanges over the range") {
    val path = tmpDir("cdcs_drain") + "/t"
    Merge.upsert(spark, rows(0 until 30, "a", "v1"), path,
      keyCols, "v", "part")
    Merge.upsert(spark, rows(20 until 40, "a", "v2"), path,
      keyCols, "v", "part")
    val c3 = Merge.delete(spark,
      rows(0 until 5, "a", "x").select("k", "part"), path, keyCols,
      Seq("part"))
    val sink = tmpDir("cdcs_sink") + "/out"
    val ids = drainChangesTo(path, sink, tmpDir("cdcs_ckpt"))
    assert(ids.flatten.sorted === Seq(1L, 2L, 3L))
    def canon(df: DataFrame): Seq[(Long, String, String, String, Long)] =
      df.select("k", "part", "v", "_change_type", "_change_commit")
        .as[(Long, String, String, String, Long)].collect().toSeq.sorted
    assert(canon(spark.read.parquet(sink)) ===
      canon(Merge.readChanges(spark, path, 0L, c3, keyCols :+ "part")))
    // and the classes land where they should: deletes carry pre-images
    val del = spark.read.parquet(sink).filter($"_change_type" === "delete")
      .select("k", "v").as[(Long, String)].collect().toSeq.sorted
    assert(del === (0L until 5L).map(k => (k, "v1")))
  }

  test("foreachChanges resume delivers only the new commits' changes") {
    val path = tmpDir("cdcs_resume") + "/t"
    Merge.upsert(spark, rows(0 until 10, "a", "v1"), path,
      keyCols, "v", "part")
    val sink = tmpDir("cdcs_rsink") + "/out"
    val ckpt = tmpDir("cdcs_rckpt")
    assert(drainChangesTo(path, sink, ckpt).flatten === Seq(1L))
    Merge.upsert(spark, rows(5 until 8, "a", "v2"), path,
      keyCols, "v", "part")
    assert(drainChangesTo(path, sink, ckpt).flatten === Seq(2L))
    // the second drain appended exactly commit 2's changes: 3 updated
    // keys × two images, no re-delivery of commit 1's inserts
    val c2rows = spark.read.parquet(sink)
      .filter($"_change_commit" === 2L)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(c2rows.length === 6)
    assert(c2rows.map(_._1).distinct.sorted === Seq(5L, 6L, 7L))
    assert(spark.read.parquet(sink)
      .filter($"_change_commit" === 1L).count() === 10L)
  }

  test("replicateTo: replica tracks the source across resumes") {
    val src = tmpDir("repl_src") + "/t"
    val dst = tmpDir("repl_dst") + "/t"
    val ckpt = tmpDir("repl_ckpt")
    Merge.upsert(spark, rows(0 until 20, "a", "v1"), src,
      keyCols, "v", "part")
    Merge.delete(spark,
      rows(0 until 5, "a", "x").select("k", "part"), src, keyCols,
      Seq("part"))
    def sync(): Unit =
      IncrementalStream.replicateTo(spark, src, dst, ckpt,
        keyCols, "v", Seq("part"))
    def state(path: String): Seq[(Long, String, String)] =
      spark.read.parquet(path).select("k", "part", "v")
        .as[(Long, String, String)].collect().toSeq.sorted
    sync()
    assert(state(dst) === state(src))
    // new source commits; a RESUMED replication applies only them
    Merge.upsert(spark, rows(10 until 25, "b", "v2"), src,
      keyCols, "v", "part")
    Merge.delete(spark,
      rows(5 until 8, "a", "x").select("k", "part"), src, keyCols,
      Seq("part"))
    sync()
    assert(state(dst) === state(src))
  }

  test("replicateTransformed: feature view tracks source, deletes propagate") {
    val src = tmpDir("incs_tf") + "/src"
    val dst = tmpDir("incs_tf") + "/dst"
    val ckpt = tmpDir("incs_tfck")
    val transform: DataFrame => DataFrame = df =>
      df.select(col("k"), col("part"), col("v"),
        (col("k") * 2).as("feat"))
    def featState(): Set[(Long, String, Long)] =
      Merge.readTable(spark, dst).select("k", "v", "feat")
        .as[(Long, String, Long)].collect().toSet
    def expected(): Set[(Long, String, Long)] =
      Merge.readTable(spark, src)
        .select(col("k"), col("v"), (col("k") * 2))
        .as[(Long, String, Long)].collect().toSet
    Merge.upsert(spark, rows(0 until 8, "a", "v1"), src,
      keyCols, "v", "part")
    IncrementalStream.replicateTransformed(spark, src, dst, ckpt,
      keyCols, "v", Seq("part"), transform)
    assert(featState() === expected())
    // resume the SAME checkpoint over an update + a delete
    Merge.upsert(spark, rows(4 until 12, "a", "v2"), src,
      keyCols, "v", "part")
    Merge.delete(spark,
      Seq((0L, "a"), (1L, "a")).toDF("k", "part"), src, keyCols,
      Seq("part"))
    IncrementalStream.replicateTransformed(spark, src, dst, ckpt,
      keyCols, "v", Seq("part"), transform)
    assert(featState() === expected())
  }

  test("replicateTransformed rejects a transform that drops the key") {
    val src = tmpDir("incs_tfbad") + "/src"
    Merge.upsert(spark, rows(0 until 3, "a", "v1"), src,
      keyCols, "v", "part")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IncrementalStream.replicateTransformed(spark, src,
        tmpDir("incs_tfbad") + "/dst", tmpDir("incs_tfbadck"),
        keyCols, "v", Seq("part"),
        df => df.drop("v"))
    }
    assert(e.getMessage.contains("must preserve") ||
      Option(e.getCause).exists(_.getMessage.contains("must preserve")))
  }

  test("maintainView: stream-driven refreshes track the source") {
    val src = tmpDir("incs_mv") + "/src"
    val vw = tmpDir("incs_mv") + "/vw"
    val ckpt = tmpDir("incs_mvck")
    def batch(ks: Range, part: String, v: Double): DataFrame =
      ks.map(k => (k.toLong, part, v, k.toLong)).toDF("k", "part", "v", "pre")
        .withColumn("bucket", col("k") % 2)
    def recompute(): Set[(String, Long, BigDecimal, Long)] =
      Merge.readTable(spark, src).groupBy("part", "bucket")
        .agg(sum(graft.Tables.dec(col("v"))).cast("decimal(30,2)").as("s"),
          count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1),
          BigDecimal(r.getDecimal(2)), r.getLong(3))).toSet
    def viewState(): Set[(String, Long, BigDecimal, Long)] =
      IncrementalView.readView(spark, vw).collect()
        .map(r => (r.getString(0), r.getLong(1),
          BigDecimal(r.getDecimal(2)), r.getLong(3))).toSet
    Merge.upsert(spark, batch(0 until 10, "a", 1.0), src,
      keyCols, "pre", "part")
    IncrementalView.create(spark, src, vw, Seq("k", "part"),
      Seq("part", "bucket"), "v", "part")
    // a drain with nothing new leaves the view at its created state
    IncrementalStream.maintainView(spark, src, vw, ckpt)
    assert(viewState() === recompute())
    // two more commits land; the SAME checkpoint drains only them
    Merge.upsert(spark, batch(5 until 15, "a", 2.0), src,
      keyCols, "pre", "part")
    Merge.delete(spark, Seq((0L, "a"), (1L, "a")).toDF("k", "part"),
      src, keyCols, Seq("part"))
    IncrementalStream.maintainView(spark, src, vw, ckpt)
    assert(viewState() === recompute())
  }

  test("foreign junk in the timeline dir does not stream") {
    val path = tmpDir("incs_junk") + "/t"
    Merge.upsert(spark, rows(0 until 5, "a", "v1"), path,
      keyCols, "v", "part")
    val w = new java.io.PrintWriter(
      s"$path/_graft_commits/editor-backup.json")
    w.write("""{"what":"junk"}"""); w.close()
    val sink = tmpDir("incs_jsink") + "/out"
    val ids = drainTo(path, sink, tmpDir("incs_jckpt"))
    assert(ids.flatten === Seq(1L))
    assert(spark.read.parquet(sink).count() === 5)
  }

  test("a rolled-back commit id never streams") {
    val path = tmpDir("incs_rb") + "/t"
    Merge.upsert(spark, rows(0 until 5, "a", "v1"), path,
      keyCols, "v", "part")
    // claim id 2, crash before any plan lands, roll it back
    assert(Timeline.claim(spark, path) === 2L)
    Merge.rollback(spark, path, 2L)
    Merge.upsert(spark, rows(5 until 9, "a", "v2"), path,
      keyCols, "v", "part")
    val sink = tmpDir("incs_rbsink") + "/out"
    val ids = drainTo(path, sink, tmpDir("incs_rbckpt"))
    assert(ids.flatten.sorted === Seq(1L, 3L),
      "the tombstoned id must neither stream nor be reissued")
  }
}
