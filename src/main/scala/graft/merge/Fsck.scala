package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Read-only table integrity REPORT — the `graft_fsck` procedure's
  * engine (Delta's `FSCK`/Hudi's `metadata validate` shape, scoped to
  * what this format can actually get wrong). One row per check,
  * `(check_name, status, detail)`, statuses `ok` / `warn` / `skip` /
  * `fail` (a metadata file the table cannot be read without is
  * unreadable).
  * Strictly metadata-priced: directory listings, timeline entries, the
  * key/schema/savepoint records, and parquet FOOTERS — never a data
  * scan, so an operator can fsck a 100 TB table for pennies. Strictly
  * read-only: fsck names what [[Merge.vacuum]] / [[Merge.rollback]] /
  * [[MorTable.compact]] would fix, it never touches the table (the
  * operator rules on crash residue, the same reasoning that keeps
  * vacuum manual).
  *
  * Checks:
  *  - `staging`: leaked `<table>_staging_*` recovery copies next to
  *    the table (a crashed commit's table-sized residue — vacuum's
  *    detection without its sweep).
  *  - `commit_timeline`: recorded / inflight / foreign entries in
  *    `_graft_commits/`. An `.inflight` marker is an issued id whose
  *    commit never recorded — rollback's target; foreign entries are
  *    non-timeline junk the id issuer ignores.
  *  - `key_spec`: the key spec ([[TableState]]) every keyed write
  *    lands (procedures derive partition/key columns from it).
  *  - `schema_meta`: the recorded logical schema (what lets evolved
  *    tables read old files null-filled).
  *  - `savepoints`: every pin references a recorded commit id.
  *  - `mor_deltas`: on MOR, live delta files and UNRECORDED delta ids
  *    (crash residue the snapshot read filters; compaction clears);
  *    `fail` when the MOR spec is unreadable (every MOR read and write
  *    refuses until it is repaired).
  *  - `footer_row_count`: the table's exact footer-summed row count —
  *    informational on COW (the driver oracle cross-checks it against
  *    the relational count), `skip` on a MOR table with live deltas
  *    (base footers are incomplete there — the graft_count refusal).
  */
object Fsck {

  def report(spark: SparkSession, path: String)
      : Seq[(String, String, String)] = {
    val fs = Merge.fsFor(spark, path)
    val table = new Path(path.stripSuffix("/"))

    val leaks = {
      val parent = table.getParent
      if (parent == null || !fs.exists(parent)) 0
      else fs.listStatus(parent).count(
        _.getPath.getName.startsWith(s"${table.getName}_staging_"))
    }
    val staging =
      ("staging", if (leaks == 0) "ok" else "warn", s"leaks=$leaks")

    val listing = Timeline.list(spark, path)
    val recordedIds = listing.recorded.map(_.id).toSet
    val inflight = listing.inflight
    val foreign = listing.foreign
    val timeline = ("commit_timeline",
      if (inflight == 0 && foreign == 0) "ok" else "warn",
      s"recorded=${recordedIds.size} inflight=$inflight foreign=$foreign")

    val (st, corruptMor) = TableState.loadChecked(spark, path)
    val keySpec = st.keySpec match {
      case Some(sp) => ("key_spec", "ok",
        s"partition=${sp.partitionCols.mkString(",")} " +
          s"keys=${sp.keyCols.mkString(",")}")
      case None => ("key_spec", "warn", "absent — no keyed write recorded")
    }

    val schemaMeta = st.schema match {
      case Some(_) => ("schema_meta", "ok", "recorded")
      case None => ("schema_meta", "warn", "absent")
    }

    val sps = Merge.savepoints(spark, path)
    val unrecordedSps = sps.filterNot(recordedIds.contains)
    val savepoints = ("savepoints",
      if (unrecordedSps.isEmpty) "ok" else "warn",
      s"pinned=${sps.size} unrecorded=${unrecordedSps.size}")

    val mor =
      if (corruptMor.nonEmpty)
        ("mor_deltas", "fail", corruptMor.get.getMessage)
      else if (st.mor.isEmpty) ("mor_deltas", "ok", "cow table")
      else {
        val live = MorTable.liveDeltas(st).size
        val unrecorded = listing.unrecorded.size
        ("mor_deltas", if (unrecorded == 0) "ok" else "warn",
          s"live=$live unrecorded=$unrecorded")
      }

    val footer =
      if (corruptMor.nonEmpty)
        ("footer_row_count", "skip",
          "unreadable MOR spec — base footers may be incomplete")
      else if (MorTable.liveDeltas(st).nonEmpty)
        ("footer_row_count", "skip",
          "mor with live deltas — base footers incomplete")
      else {
        val (rows, _) = StatsPruning.footerRowCount(spark, path)
        ("footer_row_count", "ok", s"rows=$rows")
      }

    Seq(timeline, footer, keySpec, mor, savepoints, schemaMeta, staging)
      .sortBy(_._1)
  }
}
