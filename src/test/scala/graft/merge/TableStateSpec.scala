package graft.merge

import graft.{FaultFs, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** One table state per operation: on a table that already has every
  * sidecar, each write, table service and read opens each sidecar at
  * most once, and a batch that adds no column leaves the recorded
  * schema file alone (no create, no rename). Counted on the `faultfs`
  * test filesystem. */
class TableStateSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.install(spark)

  private val keyCols = Seq("k")
  private val parts = Seq("part")
  private val sidecars = Seq("_graft_schema.json", "_graft_keys.json",
    "_graft_index_gates.json", "_graft_mor.json")

  private def rows(ks: Range, part: String): DataFrame =
    ks.map(k => (k.toLong, part, k.toLong * 7 % 13, s"v$k"))
      .toDF("k", "part", "n", "v")

  /** Three commits of disjoint keys: partition a holds several
    * small files (so compaction has work) and every COW sidecar exists. */
  private def cowTable(path: String): Unit = {
    Seq(0 until 20, 100 until 120, 200 until 220).foreach { ks =>
      Merge.upsert(spark, rows(ks, "a"), path, keyCols, "n", parts)
    }
    KeyIndex.setProbeGates(spark, path, KeyIndex.minFilesToProbe,
      KeyIndex.minBytesToProbe)
  }

  /** A MOR base commit plus one live delta commit. */
  private def morTable(path: String): Unit = {
    MorTable.upsert(spark, rows(0 until 20, "a").union(rows(0 until 10, "b")),
      path, keyCols, "n", parts)
    MorTable.upsert(spark, rows(5 until 15, "a"), path, keyCols, "n", parts)
    KeyIndex.setProbeGates(spark, path, KeyIndex.minFilesToProbe,
      KeyIndex.minBytesToProbe)
  }

  private case class Case(name: String, setup: String => Unit,
      op: String => Unit)

  private val cases = Seq(
    Case("Merge.upsert", cowTable, p =>
      Merge.upsert(spark, rows(10 until 30, "a"), p, keyCols, "n", parts)),
    Case("Merge.delete", cowTable, p =>
      Merge.delete(spark, Seq((1L, "a"), (105L, "a")).toDF("k", "part"), p,
        keyCols, parts)),
    Case("Merge.compact", cowTable, p =>
      assert(Merge.compact(spark, p, parts, keyCols, 128L << 20,
        1 << 20) > 0)),
    Case("MorTable.upsert", morTable, p =>
      MorTable.upsert(spark, rows(12 until 18, "b"), p, keyCols, "n",
        parts): Unit),
    Case("MorTable.read", morTable, p =>
      MorTable.read(spark, p): Unit),
    Case("MorTable.compact", morTable, p =>
      assert(MorTable.compact(spark, p) > 0)),
    Case("graft_snapshot", cowTable, p =>
      spark.sql(s"SELECT * FROM graft_snapshot('$p')").collect(): Unit))

  cases.foreach { c =>
    test(s"${c.name} opens each sidecar at most once and leaves the " +
        "schema file alone") {
      val path = FaultFs.tmpDir("tablestate_") + "/table"
      c.setup(path)
      val local = new org.apache.hadoop.fs.Path(path).toUri.getPath
      FaultFs.reset()
      c.op(path)
      sidecars.foreach { name =>
        val opens = FaultFs.count("open")(_ == s"$local/$name")
        assert(opens <= 1, s"${c.name} opened $name $opens times")
      }
      assert(FaultFs.count("create")(_.contains("_graft_schema.json")) === 0,
        s"${c.name} rewrote the schema file")
      assert(FaultFs.count("rename")(_ == s"$local/_graft_schema.json") === 0,
        s"${c.name} replaced the schema file")
    }
  }

  test("a write that adds a column keeps a column recorded after its " +
      "state was loaded") {
    val path = FaultFs.tmpDir("tablestate_race_") + "/table"
    cowTable(path)
    val stale = TableState.load(spark, path)
    // a concurrent writer records x while this operation runs
    Merge.addColumns(spark, path, StructType(Seq(StructField("x", StringType))))
    val recorded = Merge.updateSchemaMeta(spark, stale,
      StructType(stale.schema.get.fields :+ StructField("y", LongType)))
    val onDisk = TableState.load(spark, path).schema.get.fieldNames.toSeq
    // every write stamps its rows: the first one recorded the stamp
    // after the batch's own columns, before x and y
    assert(onDisk === Seq("k", "part", "n", "v", Merge.commitCol, "x", "y"))
    assert(recorded.schema.get.fieldNames.toSeq === onDisk)
  }

  test("fsck reports an unreadable MOR spec instead of failing") {
    val path = FaultFs.tmpDir("tablestate_badmor_") + "/table"
    morTable(path)
    val local = new org.apache.hadoop.fs.Path(path).toUri.getPath
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(local, "_graft_mor.json"), "{\"key_cols\":")
    val e = intercept[IllegalStateException](MorTable.read(spark, path))
    assert(e.getMessage.contains("unreadable MOR spec"))
    val rows = Fsck.report(spark, path).map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows("mor_deltas")._1 === "fail")
    assert(rows("mor_deltas")._2.contains("unreadable MOR spec"))
    assert(rows("footer_row_count")._1 === "skip")
    assert(rows("commit_timeline")._1 === "ok")
    assert(rows("schema_meta")._1 === "ok")
  }

  test("TableState.load sees every sidecar the writes recorded") {
    val cow = FaultFs.tmpDir("tablestate_cow_") + "/table"
    cowTable(cow)
    val c = TableState.load(spark, cow)
    assert(c.hasData && c.mor.isEmpty)
    assert(c.keySpec === Some(KeySpec(keyCols, parts)))
    assert(c.schema.map(_.fieldNames.toSeq) ===
      Some(Seq("k", "part", "n", "v", Merge.commitCol)))
    val mor = FaultFs.tmpDir("tablestate_mor_") + "/table"
    morTable(mor)
    val m = TableState.load(spark, mor)
    assert(m.mor === Some(MorTable.MorSpec(keyCols, "n", parts)))
    assert(m.schema.exists(_.fieldNames.contains(Merge.commitCol)))
    val empty = TableState.load(spark, FaultFs.tmpDir("tablestate_none_"))
    assert(!empty.hasData && empty.schema.isEmpty && empty.keySpec.isEmpty)
    assert(empty.gates === ((KeyIndex.minFilesToProbe,
      KeyIndex.minBytesToProbe)))
  }
}
