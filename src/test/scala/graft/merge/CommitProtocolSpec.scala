package graft.merge

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The commit protocol, checked the same way at every write entry
  * point: after one operation the timeline holds exactly one new
  * recorded entry, no claim/plan/rollback/staging residue is left
  * behind, `graft_fsck` reports nothing to fix, and the recorded
  * `files_added`/`files_removed` lists are exactly the change in the
  * table's data-file listing (base files plus MOR delta files). */
class CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("k")
  private val parts = Seq("part")

  private def rows(ks: Range, part: String): DataFrame =
    ks.map(k => (k.toLong, part, k.toLong * 7 % 13, s"v$k"))
      .toDF("k", "part", "n", "v")

  private def keys(ks: Seq[Int], part: String): DataFrame =
    ks.map(k => (k.toLong, part)).toDF("k", "part")

  /** Three versioned commits: partitions a and b, then disjoint keys in
    * a, so partition a holds several small files. */
  private def versionedTable(path: String): Unit = {
    Merge.upsert(spark, rows(0 until 20, "a")
      .union(rows(0 until 10, "b")), path, keyCols, "n", parts)
    Merge.upsert(spark, rows(100 until 120, "a"), path, keyCols,
      "n", parts)
    Merge.upsert(spark, rows(200 until 220, "a"), path, keyCols,
      "n", parts)
    ()
  }

  private def morTable(path: String): Unit = {
    MorTable.upsert(spark, rows(0 until 20, "a").union(rows(0 until 10, "b")),
      path, keyCols, "n", parts)
    ()
  }

  /** One versioned entry point: how to build the table it acts on, the
    * operation itself, and whether the operation adopts files that
    * predate the timeline (bootstrap records every resident file as
    * added, and writes no key spec). */
  private case class Case(name: String, setup: String => Unit,
      op: String => Unit, adopts: Boolean = false)

  private val cases = Seq(
    Case("Merge.upsertVersioned", versionedTable, p =>
      Merge.upsert(spark, rows(10 until 30, "a"), p, keyCols, "n",
        parts): Unit),
    Case("Merge.upsertOrderedVersioned", versionedTable, p =>
      Merge.upsertOrdered(spark, rows(5 until 25, "b"), p, keyCols,
        "n", parts): Unit),
    Case("Merge.deleteVersioned", versionedTable, p =>
      Merge.delete(spark, keys(Seq(1, 2, 105), "a"), p, keyCols,
        parts): Unit),
    Case("Merge.insertOverwriteVersioned", versionedTable, p =>
      Merge.insertOverwrite(spark, rows(50 until 55, "a"), p,
        keyCols, "n", parts): Unit),
    Case("Merge.compactVersioned", versionedTable, p =>
      assert(Merge.compact(spark, p, parts, keyCols) > 0,
        "nothing compacted — the case would prove nothing")),
    Case("Merge.clusterZOrderVersioned", versionedTable, p =>
      assert(Merge.clusterZOrder(spark, p, parts, Seq("k", "n"))
        > 0)),
    Case("Merge.insert", versionedTable, p =>
      Merge.insert(rows(300 until 305, "a"), p, parts, Nil, null,
        dedup = false): Unit),
    Case("Merge.bulkInsert", versionedTable, p =>
      Merge.bulkInsert(rows(300 until 320, "c"), p, parts, keyCols,
        targetFileBytes = 1L << 20, maxFiles = 4): Unit),
    Case("Merge.bootstrap",
      p => rows(0 until 20, "a").union(rows(0 until 10, "b"))
        .write.partitionBy("part").parquet(p),
      p => Merge.bootstrap(spark, p, parts): Unit, adopts = true),
    Case("MorTable.upsert (base)", _ => (), p =>
      MorTable.upsert(spark, rows(0 until 20, "a"), p, keyCols, "n",
        parts): Unit),
    Case("MorTable.upsert (delta)", morTable, p =>
      MorTable.upsert(spark, rows(10 until 30, "a"), p, keyCols, "n",
        parts): Unit),
    Case("MorTable.delete", morTable, p =>
      MorTable.delete(spark, keys(Seq(1, 2), "a"), p): Unit),
    Case("MorTable.compact",
      p => {
        morTable(p)
        MorTable.upsert(spark, rows(10 until 30, "a"), p, keyCols, "n", parts)
        MorTable.delete(spark, keys(Seq(3), "b"), p)
        ()
      },
      p => assert(MorTable.compact(spark, p) > 0)))

  /** Table-relative data files: the root namespace plus MOR deltas. */
  private def listing(path: String): Set[String] = {
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new Path(path))
    def walk(p: Path): Seq[Path] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath)
      }
    (walk(root) ++ walk(new Path(root, "_graft_deltas")))
      .map(Merge.relativize(root, _)).toSet
  }

  private def timelineNames(path: String): Seq[String] = {
    val dir = new java.io.File(path, "_graft_commits")
    if (!dir.exists()) Nil else dir.listFiles().map(_.getName).toSeq
  }

  private def recorded(path: String): Set[String] =
    timelineNames(path).filter(_.matches("""\d+\.json""")).toSet

  private def filesUnder(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Nil
    else dir.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) f +: filesUnder(f) else Seq(f))

  cases.foreach { c =>
    test(s"commit protocol: ${c.name}") {
      val path = tmpDir("commit_protocol") + "/t"
      c.setup(path)
      val entriesBefore = recorded(path)
      val filesBefore = if (c.adopts) Set.empty[String] else listing(path)
      c.op(path)
      val filesAfter = listing(path)

      val fresh = recorded(path) -- entriesBefore
      assert(fresh.size === 1, s"new recorded entries: $fresh")
      val residue = timelineNames(path)
        .filter(n => n.endsWith(".inflight") || n.endsWith(".plan"))
      assert(residue.isEmpty, s"timeline residue: $residue")
      val rolledBack = filesUnder(new java.io.File(path, "_graft_rollback"))
      assert(rolledBack.isEmpty, s"rollback residue: $rolledBack")
      val table = new java.io.File(path)
      val staging = table.getParentFile.listFiles().map(_.getName)
        .filter(n => n.startsWith(table.getName) && n.contains("_staging_"))
      assert(staging.isEmpty, s"staging residue: ${staging.toSeq}")

      // bootstrap adopts a layout no keyed write produced: the absent
      // key spec is the one finding that is not the protocol's to fix
      val findings = Fsck.report(spark, path).filter { case (check, st, _) =>
        st != "ok" && st != "skip" && !(c.adopts && check == "key_spec")
      }
      assert(findings.isEmpty, s"fsck findings: $findings")

      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val src = scala.io.Source.fromFile(new java.io.File(
        new java.io.File(path, "_graft_commits"), fresh.head))
      val entry = try org.json4s.jackson.JsonMethods.parse(src.mkString)
        finally src.close()
      val added = (entry \ "files_added").extract[Seq[String]]
      val removed = (entry \ "files_removed").extract[Seq[String]]
      assert(added.toSet === filesAfter -- filesBefore)
      assert(removed.toSet === filesBefore -- filesAfter)
      assert(added.size === added.toSet.size && removed.size ===
        removed.toSet.size, "a file listed twice")
      assert(added.nonEmpty || removed.nonEmpty,
        "the operation moved no file — the case would prove nothing")
    }
  }
}
