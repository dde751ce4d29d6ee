package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.merge.{Merge, TableState}

/** SQL table-valued functions over the engine's table metadata — the
  * Athena-shaped surface in two halves:
  *
  * OBSERVABILITY — `SELECT * FROM graft_commits('<path>')` (Delta's
  * `DESCRIBE HISTORY` / Hudi's `call show_commits` analogue) returns
  * the recorded commit timeline (commit_ts, n_rows, partitions) — the
  * same rows [[Merge.commits]] serves to the DataFrame API (q22
  * oracles them) — and `graft_savepoints('<path>')`, the pinned commit
  * ids. Resolution-time cost is one metadata listing, never a data
  * scan, so an analyst can audit a 100 TB table's write history for
  * free. Cheap pure reads resolve eagerly; `graft_count`/`graft_stats`
  * are pure too but their footer sweep is a distributed metadata JOB,
  * so they defer to execution like the procedures — EXPLAIN stays
  * free however big the table.
  *
  * MAINTENANCE PROCEDURES — `graft_compact`, `graft_clean`,
  * `graft_zorder`, `graft_vacuum`, `graft_savepoint`, `graft_restore`
  * (Hudi's `call run_compaction` / `call create_savepoint` / Iceberg's
  * `CALL rewrite_data_files` shape, expressed as table functions
  * because Spark SQL has no native CALL). Each resolves to a
  * [[LeafRunnableCommand]], so the side effect runs at EXECUTION, not
  * resolution: `EXPLAIN SELECT * FROM graft_compact(...)` (which
  * analyzes under `CommandExecutionMode.SKIP`) and `CREATE VIEW` over
  * a procedure leave the table untouched — the r10 advice finding,
  * spec-pinned in GraftSqlSpec. A plain `SELECT` executes the command
  * eagerly at Dataset creation (Spark's `EagerlyExecuteCommands`),
  * preserving procedure semantics; re-running a statement re-runs the
  * procedure, which every one of these ops makes safe by contract
  * (content-invariant, and a second pass finds nothing to rewrite /
  * sweep). Argument-shape errors still fail at resolution (they are
  * literal-parse errors); table-state errors (no recorded key spec)
  * fail at execution, where the table is first consulted. */
object GraftTableFunctions {

  val commitsName = "graft_commits"

  def commitsBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val path = exprs match {
      case Seq(Literal(s: UTF8String, _: StringType)) => s.toString
      case _ => throw new IllegalArgumentException(
        s"$commitsName(path) expects exactly one string literal argument")
    }
    Merge.commits(SparkSession.active, path).queryExecution.logical
  }

  private def strLit(e: Expression, usage: String): String = e match {
    case Literal(s: UTF8String, _: StringType) => s.toString
    case _ => throw new IllegalArgumentException(usage)
  }

  /** The shared corpus resolver every row-level path-taking SQL
    * function reads through. `spark.read.parquet` skips `_`-prefixed
    * directories, so on a MERGE_ON_READ table it silently analyzes the
    * stale base — delta rows and tombstones under `_graft_deltas/` are
    * invisible (the exact trap [[refuseLiveMorDeltas]] closes for the
    * footer-metadata functions). Row-level functions don't need the
    * refusal: they can serve the SNAPSHOT view, so a MOR path resolves
    * to [[graft.merge.MorTable.read]] (base ∪ live deltas, one per-key
    * argmax, tombstones gone — and a delta-free MOR short-circuits to
    * the plain base read), a graft COW table reads through its
    * recorded schema (exact types + null-fill across additive
    * evolution), and a plain parquet directory reads raw, byte-for-byte
    * what these functions always did. Resolution-time cost is
    * filesystem metadata only (marker-file existence, delta listing) —
    * never a Spark job — so the EXPLAIN-stays-lazy contract of
    * [[dupSpansBuilder]]/[[gopherBuilder]] holds on every branch. */
  private[sql] def resolveCorpus(spark: SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    val st = TableState.load(spark, path)
    if (st.mor.isEmpty && st.schema.isEmpty) spark.read.parquet(path)
    else Merge.readState(spark, st, None)
  }

  private val intTypes: Seq[DataType] =
    Seq(IntegerType, LongType, ShortType)

  private def longLit(e: Expression, usage: String): Long = e match {
    case Literal(n, t) if intTypes.contains(t) => n.toString.toLong
    case _ => throw new IllegalArgumentException(usage)
  }

  val compactName = "graft_compact"

  /** `SELECT * FROM graft_compact('<path>'[, target_file_bytes])` —
    * small-file compaction. Partition and key columns come from the
    * table's recorded key spec (written by every keyed op), so the
    * analyst names only the table. Returns one row
    * of stats: (compacted_files, files_after). Idempotent: a second
    * run finds no small-file candidates and rewrites nothing
    * (compacted_files = 0). */
  def compactBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$compactName(path[, target_file_bytes]) expects a " +
      "string literal path and an optional integral literal byte target"
    exprs match {
      case Seq(p) => GraftCompactCommand(strLit(p, usage), 128L << 20)
      case Seq(p, t) =>
        GraftCompactCommand(strLit(p, usage), longLit(t, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val cleanName = "graft_clean"

  /** `SELECT * FROM graft_clean('<path>', retain_last)` — retention
    * sweep of the versioned history ([[Merge.clean]]): drop
    * reconstruction snapshots older than the newest `retain_last`
    * commits, never sweeping past a savepoint. Returns one row:
    * (removed_snapshots, commits_remaining). Re-running sweeps
    * nothing further (the floor only rises). */
  def cleanBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$cleanName(path, retain_last) expects a string " +
      "literal path and an integral literal retention count"
    exprs match {
      case Seq(p, n) => GraftCleanCommand(strLit(p, usage),
        longLit(n, usage).toInt)
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val zorderName = "graft_zorder"

  /** `SELECT * FROM graft_zorder('<path>', 'col1,col2'[,
    * target_file_bytes])` — z-order clustering as a procedure
    * ([[Merge.clusterZOrder]]); partition columns come from the
    * recorded key spec, the interleave columns from the argument.
    * Content-invariant by the q24 law — only the file layout (and so
    * the footer-stats pruning selectivity) changes. Returns one row:
    * (clustered_files, files_after). */
  def zorderBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$zorderName(path, zcols[, target_file_bytes]) " +
      "expects a string literal path, a comma-separated string literal " +
      "column list, and an optional integral literal byte target"
    exprs match {
      case Seq(p, z) =>
        GraftZOrderCommand(strLit(p, usage), strLit(z, usage), 128L << 20)
      case Seq(p, z, t) =>
        GraftZOrderCommand(strLit(p, usage), strLit(z, usage),
          longLit(t, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val savepointsName = "graft_savepoints"

  /** `SELECT * FROM graft_savepoints('<path>')` — the pinned commit
    * ids, ascending ([[Merge.savepoints]]). Observability, like
    * `graft_commits`: a metadata listing of `_graft_history/`, resolved
    * eagerly because pure reads have nothing to defer. */
  def savepointsBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$savepointsName(path) expects exactly one string " +
      "literal argument"
    val path = exprs match {
      case Seq(p) => strLit(p, usage)
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = SparkSession.active
    import spark.implicits._
    Merge.savepoints(spark, path).toDF("commit_ts")
      .queryExecution.logical
  }

  val snapshotName = "graft_snapshot"

  /** `SELECT * FROM graft_snapshot('<path>'[, commit_ts])` — read a
    * path-addressed graft table from SQL: the current state, or the
    * as-of snapshot when a commit id is given ([[Merge.readAsOf]] —
    * time travel WITHOUT catalog registration, the path-based
    * complement of `VERSION AS OF`). A pure read: resolves eagerly to
    * the same plan the DataFrame API serves, so pruning/pushdown
    * behave identically. MOR tables resolve through the MOR readers
    * on BOTH branches (current → snapshot view, as-of → the delta-
    * aware replay) — `Merge.readTable`/`Merge.readAsOf` see only the
    * base namespace, the [[resolveCorpus]] stale-base trap. */
  def snapshotBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$snapshotName(path[, commit_ts]) expects a string " +
      "literal path and an optional integral literal commit id"
    val spark = SparkSession.active
    val df = exprs match {
      case Seq(p) => resolveCorpus(spark, strLit(p, usage))
      case Seq(p, c) => Merge.readState(spark,
        TableState.load(spark, strLit(p, usage)),
        Some(longLit(c, usage)))
      case _ => throw new IllegalArgumentException(usage)
    }
    df.queryExecution.logical
  }

  val filesName = "graft_files"

  /** `SELECT * FROM graft_files('<path>')` — the table's current data
    * files with their sizes (Delta's `DESCRIBE DETAIL` / Hudi's
    * `call show_fsview_all` analogue): one row per live file,
    * (file, bytes), paths relative to the table root. On a MOR table
    * the live DELTA files are listed too (`_graft_deltas/...` rows) —
    * they are live data of the table, and an operator sizing storage
    * or a compaction from a base-only listing would silently
    * under-count (the same `_`-prefix invisibility as the
    * [[resolveCorpus]] trap). Metadata-only — a file listing plus
    * statuses, no data scan. */
  def filesBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$filesName(path) expects exactly one string literal " +
      "argument"
    val path = exprs match {
      case Seq(p) => strLit(p, usage)
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = SparkSession.active
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(root).toUri
    val base = Merge.readTable(spark, path).inputFiles.toSeq
    val deltas = graft.merge.MorTable.liveDeltaFiles(spark, path)
      .map(_._1)
    val rows = (base ++ deltas).sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val rel = rootUri.relativize(fs.makeQualified(p).toUri).getPath
      (rel, fs.getFileStatus(p).getLen)
    }
    rows.toDF("file", "bytes").queryExecution.logical
  }

  val countName = "graft_count"

  /** `SELECT * FROM graft_count('<path>')` — the table's EXACT row
    * count from parquet footer metadata ([[graft.merge.StatsPruning
    * .footerRowCount]]): one row (n_rows, n_files), zero data IO.
    * Parquet footers record exact per-file record counts and a COW
    * table's live files hold exactly its live rows, so this equals
    * `SELECT count(*)` — at 100 TB, a metadata-priced answer to the
    * most common analyst question. Footer reads distribute above the
    * StatsPruning threshold, so the sweep is a metadata JOB — which is
    * why this resolves to a [[LeafRunnableCommand]] like the
    * procedures: `EXPLAIN` on a 100 TB table must not launch it.
    * COW tables only; a MOR table with live deltas REFUSES loudly
    * rather than answer with its base-only count (delta rows and
    * tombstones are merge inputs the base footers never see) —
    * compact first, or `count(*)` over the snapshot view. */
  def countBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$countName(path) expects exactly one string literal " +
      "argument"
    exprs match {
      case Seq(p) => GraftCountCommand(strLit(p, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val statsName = "graft_stats"

  /** `SELECT * FROM graft_stats('<path>', 'col1,col2')` — exact
    * per-column statistics from parquet footer metadata alone
    * ([[graft.merge.StatsPruning.columnStats]]): one row per named
    * column, `(column, n_rows, n_nulls, min_value, max_value, exact)`,
    * zero data IO — the ANALYZE-grade answer at metadata price that a
    * 100 TB table makes worth having. Footers record exact null counts
    * and min/max per column chunk and a COW table's live files hold
    * exactly its live rows, so for data columns the aggregated row IS
    * `count(*) / count(col) / min(col) / max(col)`; hive partition
    * columns answer from directory values (string-ordered bounds).
    * Bounds render in the comparison domain (integers plainly, DATE as
    * epoch days, TIMESTAMP as epoch micros, strings as themselves);
    * a column whose footers lack usable stats emits nulls with
    * `exact = false` rather than a guess. Like [[countBuilder]], the
    * footer sweep is a (metadata-priced but distributed) job, so it
    * defers to a [[LeafRunnableCommand]] — `EXPLAIN` stays free — and
    * a MOR table with live deltas refuses loudly rather than report
    * base-only statistics. */
  def statsBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$statsName(path, cols) expects a string literal path " +
      "and a comma-separated string literal column list"
    val (path, colsCsv) = exprs match {
      case Seq(p, c) => (strLit(p, usage), strLit(c, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
    val cols = colsCsv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    if (cols.isEmpty) throw new IllegalArgumentException(
      s"$statsName: empty column list")
    GraftStatsCommand(path, cols)
  }

  val dupSpansName = "graft_dup_spans"

  /** `SELECT * FROM graft_dup_spans('<path>'[, n[, id_col,
    * text_col]])` — d25's exact duplicated-span detection opened to
    * the SQL analyst: per document, the positions whose n-gram recurs
    * anywhere in the corpus and the merged token mass those spans
    * cover ([[graft.dedup.Dedup.dupSpans]]), over any parquet
    * directory of (id, text) rows — graft-managed tables resolve
    * through [[resolveCorpus]], so a MOR table is analyzed at its
    * snapshot view, never its stale base. Resolution builds the LAZY
    * plan only (pure transformations — the corpus-sized gram shuffle
    * runs when the statement executes, so EXPLAIN stays free); the
    * x42 key shares d25's DuckDB oracle verbatim. */
  def dupSpansBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$dupSpansName(path[, n[, id_col, text_col]]) expects " +
      "a string literal path, an optional integral gram size, and " +
      "optional id/text column name literals"
    val (path, n, idCol, textCol) = exprs match {
      case Seq(p) => (strLit(p, usage), 8, "doc_id", "text")
      case Seq(p, g) =>
        (strLit(p, usage), longLit(g, usage).toInt, "doc_id", "text")
      case Seq(p, g, i, t) => (strLit(p, usage), longLit(g, usage).toInt,
        strLit(i, usage), strLit(t, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = SparkSession.active
    graft.dedup.Dedup.dupSpans(resolveCorpus(spark, path), idCol, textCol, n)
      .queryExecution.logical
  }

  val gopherName = "graft_gopher_rules"

  /** `SELECT * FROM graft_gopher_rules('<path>'[, id_col, text_col])`
    * — t12's Gopher document-quality rules opened to the SQL analyst
    * ([[graft.text.TextAnalysis.gopherRules]]): per document, the rule
    * features and the keep verdict, over any parquet directory of
    * (id, text) rows ([[resolveCorpus]]: MOR tables serve their
    * snapshot view). Lazy plan at resolution, like
    * [[dupSpansBuilder]]; the x43 key shares t12's oracle verbatim. */
  def gopherBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$gopherName(path[, id_col, text_col]) expects a " +
      "string literal path and optional id/text column name literals"
    val (path, idCol, textCol) = exprs match {
      case Seq(p) => (strLit(p, usage), "doc_id", "text")
      case Seq(p, i, t) =>
        (strLit(p, usage), strLit(i, usage), strLit(t, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = SparkSession.active
    graft.text.TextAnalysis
      .gopherRules(resolveCorpus(spark, path), idCol, textCol)
      .queryExecution.logical
  }

  val deconName = "graft_decon_report"

  /** `SELECT * FROM graft_decon_report('<corpus>', '<eval>'[, id_col,
    * text_col])` — benchmark decontamination from SQL
    * ([[graft.dedup.Dedup.contaminationReport]]): per corpus document
    * the distinct-shingle total, the count shared with ANY eval-set
    * document, and the overlap fraction a curation pass thresholds
    * ("drop > 10%, flag > 1%"). Both paths resolve through
    * [[resolveCorpus]] (a merge-managed eval set or corpus serves its
    * snapshot view). Lazy plan at resolution like [[dupSpansBuilder]];
    * the x49 key shares d13's oracle verbatim. */
  def deconBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$deconName(corpus_path, eval_path[, id_col, " +
      "text_col]) expects two string literal paths and optional " +
      "id/text column name literals"
    val (cPath, ePath, idCol, textCol) = exprs match {
      case Seq(c, e) => (strLit(c, usage), strLit(e, usage),
        "doc_id", "text")
      case Seq(c, e, i, t) => (strLit(c, usage), strLit(e, usage),
        strLit(i, usage), strLit(t, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = SparkSession.active
    graft.dedup.Dedup.contaminationReport(
      resolveCorpus(spark, cPath), resolveCorpus(spark, ePath),
      idCol, textCol).queryExecution.logical
  }

  val annTopKName = "graft_ann_topk"

  /** `SELECT * FROM graft_ann_topk('<index>', '<queries>', k,
    * n_probe)` — ANN serving from SQL: top-k cosine neighbors for
    * every query vector in the parquet at `queries` (vec_id,
    * embedding), against a persisted IVF or IVF-PQ index (the layout
    * is detected from the stored `codebooks/` dir, never declared by
    * the caller). A [[LeafRunnableCommand]]: probe selection runs a
    * |queries|-sized job the moment the statement executes — and a
    * result set bounded at k×|queries| rows is exactly what a command
    * node wants to return — while EXPLAIN stays free. Shares the
    * s12/s17 serve collapse oracles (x44/x45). */
  def annTopKBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$annTopKName(index_path, queries_path, k, n_probe) " +
      "expects two string literal paths and two integral literals"
    exprs match {
      case Seq(p, q, kk, np) => GraftAnnTopKCommand(strLit(p, usage),
        strLit(q, usage), longLit(kk, usage).toInt,
        longLit(np, usage).toInt)
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val annDriftName = "graft_ann_drift"

  /** `SELECT * FROM graft_ann_drift('<index>')` — the index staleness
    * statistic from SQL ([[graft.similarity.Similarity.ivfDriftStats]],
    * which reads the layout from the index): per stored centroid, the
    * holdings count and the displacement of the (reconstruction) mean
    * on the 10^6 integer grid — the number an operator compares to a
    * retrain bar without leaving the SQL console. Command node: the
    * means aggregate is a job; the report is |centroids| rows. Shares
    * s15's oracle (x46). */
  def annDriftBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$annDriftName(index_path) expects exactly one string " +
      "literal argument"
    exprs match {
      case Seq(p) => GraftAnnDriftCommand(strLit(p, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val fsckName = "graft_fsck"

  /** `SELECT * FROM graft_fsck('<path>')` — the read-only table
    * integrity report ([[graft.merge.Fsck]]): staging leaks, timeline
    * residue, key/schema records, savepoint references, MOR delta
    * residue, footer row count — one `(check_name, status, detail)`
    * row per check, statuses ok/warn/skip/fail. Metadata-priced (listings
    * + footers, no data scan) but still a distributed footer job on a
    * big table, so it defers to execution like graft_count; strictly
    * read-only — it NAMES what vacuum/rollback/compact would fix and
    * never touches the table. */
  def fsckBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$fsckName(path) expects exactly one string literal " +
      "argument"
    exprs match {
      case Seq(p) => GraftFsckCommand(strLit(p, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val vacuumName = "graft_vacuum"

  /** `SELECT * FROM graft_vacuum('<path>')` — sweep leaked staging
    * siblings ([[Merge.vacuum]]): the table-sized recovery copies a
    * crashed commit can leave next to the table. Deliberately manual
    * (a staging dir is a recovery copy until the operator rules on the
    * commit), hence a procedure. Returns one row:
    * (removed_staging, files_after). Idempotent: a second run finds
    * nothing to sweep. */
  def vacuumBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$vacuumName(path) expects exactly one string literal " +
      "argument"
    exprs match {
      case Seq(p) => GraftVacuumCommand(strLit(p, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val savepointName = "graft_savepoint"

  /** `SELECT * FROM graft_savepoint('<path>', commit_ts)` — pin commit
    * `commit_ts` against [[Merge.clean]] (Hudi's savepoint): while the
    * pin exists the cleaner never raises the history floor past it, so
    * `VERSION AS OF commit_ts` and `graft_restore` stay serviceable
    * however small the retention window gets. Returns one row:
    * (pinned_commit, savepoints_total). */
  def savepointBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$savepointName(path, commit_ts) expects a string " +
      "literal path and an integral literal commit id"
    exprs match {
      case Seq(p, c) =>
        GraftSavepointCommand(strLit(p, usage), longLit(c, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val restoreName = "graft_restore"

  /** `SELECT * FROM graft_restore('<path>', commit_ts)` — physically
    * revert the table to commit `commit_ts` ([[Merge.restoreTo]]):
    * later commits' files un-published, their retired predecessors
    * restored from history, their ids tombstoned. The disaster-recovery
    * procedure (Hudi's `call rollback_to_savepoint` / Delta's
    * `RESTORE TABLE ... TO VERSION AS OF` shape). Returns one row:
    * (restored_to, commits_remaining). Re-running is a no-op (no
    * commits remain past the target). */
  def restoreBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$restoreName(path, commit_ts) expects a string " +
      "literal path and an integral literal commit id"
    exprs match {
      case Seq(p, c) =>
        GraftRestoreCommand(strLit(p, usage), longLit(c, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val refreshViewName = "graft_refresh_view"

  /** `SELECT * FROM graft_refresh_view('<view>')` — advance an
    * incremental view to its source's head purely from the change
    * stream ([[graft.merge.IncrementalView.refresh]]: O(changed rows),
    * never a source rescan). A [[LeafRunnableCommand]] like every
    * procedure — EXPLAIN and CREATE VIEW over it refresh nothing; the
    * returned row is the cursor movement (src_ts_before,
    * src_ts_after), and re-running when the source hasn't moved is a
    * no-op that returns equal cursors. Completes the operator console
    * the fsck/compact/clean family started: build the view once from
    * the DataFrame API, keep it fresh from the SQL console. */
  def refreshViewBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$refreshViewName(view_path) expects exactly one " +
      "string literal argument"
    exprs match {
      case Seq(p) => GraftRefreshViewCommand(strLit(p, usage))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  val readViewName = "graft_read_view"

  /** `SELECT * FROM graft_read_view('<view>')` — the view's live
    * groups ([[graft.merge.IncrementalView.readView]]: tombstoned
    * groups hidden, group cols + exact-decimal sum + count). Lazy
    * plan at resolution like [[dupSpansBuilder]]; the x48 key drives
    * the whole IVM loop from SQL and shares x08's oracle. */
  def readViewBuilder(exprs: Seq[Expression]): LogicalPlan = {
    val usage = s"$readViewName(view_path) expects exactly one " +
      "string literal argument"
    val path = exprs match {
      case Seq(p) => strLit(p, usage)
      case _ => throw new IllegalArgumentException(usage)
    }
    graft.merge.IncrementalView.readView(SparkSession.active, path)
      .queryExecution.logical
  }

  private[sql] def specOrFail(spark: SparkSession, name: String,
      path: String): graft.merge.KeySpec =
    TableState.load(spark, path).keySpec.getOrElse(
      throw new IllegalArgumentException(
        s"$name: no recorded key spec at $path — the procedure derives " +
          "its partition/key columns from the key spec every keyed " +
          "write records"))

  private[sql] def statsRow(names: (String, String)): Seq[Attribute] =
    Seq(AttributeReference(names._1, LongType, nullable = false)(),
      AttributeReference(names._2, LongType, nullable = false)())

  /** The footer-metadata guard: a MOR table with live deltas must not
    * answer from base footers — delta rows and tombstones are merge
    * inputs the footers never see, so the base-only figure is silently
    * wrong (the [[Merge.readChanges]] refusal discipline). COW,
    * bootstrap, evolved, and fully-compacted MOR tables pass. */
  private[sql] def refuseLiveMorDeltas(spark: SparkSession, name: String,
      path: String): Unit =
    require(!graft.merge.MorTable.hasLiveDeltas(spark, path),
      s"$path is a MERGE_ON_READ table with live deltas — $name answers " +
        "from base-file footer metadata, which never sees delta rows or " +
        "tombstones (they are merge inputs, not merged rows); compact to " +
        "fold deltas into base first, or aggregate over the snapshot view")
}

object GraftAnnTopKCommand {
  /** Conf key bounding the command's driver-side result set. */
  val capConf = "spark.graft.sql.annTopK.maxResultRows"
  val defaultCap = 1000000L
}

/** ANN serve as a command (see [[GraftTableFunctions.annTopKBuilder]]):
  * the probe job runs at execution, the k×|queries|-bounded result
  * returns as the command's rows — bounded for real by
  * [[GraftAnnTopKCommand.capConf]] (default 10^6), refusing loudly
  * when the product would flood the driver. */
case class GraftAnnTopKCommand(indexPath: String, queriesPath: String,
    k: Int, nProbe: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("rank", LongType, nullable = false)(),
    AttributeReference("corpus_id", LongType, nullable = false)(),
    AttributeReference("cos_sim",
      org.apache.spark.sql.types.DoubleType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val queries = GraftTableFunctions.resolveCorpus(spark, queriesPath)
    // A command node RETURNS its rows through the driver, so the
    // result set must be driver-sized by contract: cap k×|queries|
    // before serving (the queries count is one narrow column scan at
    // execution). An online batch of 10^6 queries belongs in the
    // DataFrame API (ivfTopKServed writes wherever the caller points
    // it), not a SQL literal result.
    val cap = spark.conf.getOption(GraftAnnTopKCommand.capConf)
      .map(_.toLong).getOrElse(GraftAnnTopKCommand.defaultCap)
    val nQueries = queries.count()
    require(k.toLong * nQueries <= cap,
      s"graft_ann_topk would materialize k=$k × $nQueries queries = " +
        s"${k.toLong * nQueries} rows on the driver (cap $cap). Serve " +
        "large batches through the DataFrame API " +
        "(Similarity.ivfTopKServed) and write the " +
        s"result out, or raise ${GraftAnnTopKCommand.capConf}")
    graft.similarity.Similarity.ivfTopKServed(spark, indexPath, queries,
      k, nProbe).orderBy("query_id", "rank").collect().toSeq
  }
}

/** Index staleness report as a command (see
  * [[GraftTableFunctions.annDriftBuilder]]). */
case class GraftAnnDriftCommand(indexPath: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("cid", LongType, nullable = false)(),
    AttributeReference("n_vecs", LongType, nullable = false)(),
    AttributeReference("drift_e6", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.similarity.Similarity.ivfDriftStats(spark, indexPath)
      .collect().toSeq
}

/** The incremental-view refresh as a command (see
  * [[GraftTableFunctions.refreshViewBuilder]]): the change-stream
  * apply runs at execution; the row is the cursor movement. */
case class GraftRefreshViewCommand(viewPath: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("src_ts_before", "src_ts_after"))
  override def run(spark: SparkSession): Seq[Row] = {
    val beforeRow = graft.merge.Merge.readTable(spark, viewPath)
      .agg(org.apache.spark.sql.functions.max("src_ts")).collect()(0)
    if (beforeRow.isNullAt(0))
      throw new IllegalStateException(
        s"graft_refresh_view: view at $viewPath has no rows, so no " +
          "src_ts cursor — was it created over an empty source? " +
          "rebuild the view once the source has data")
    val before = beforeRow.getLong(0)
    val after = graft.merge.IncrementalView.refresh(spark, viewPath)
    Seq(Row(before, after))
  }
}

/** The integrity report as a command (see
  * [[GraftTableFunctions.fsckBuilder]]): EXPLAIN stays free, the
  * checks run at execution, the report is a handful of rows. */
case class GraftFsckCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("check_name", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)(),
    AttributeReference("detail", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.merge.Fsck.report(spark, path).map {
      case (c, s, d) => Row(c, s, d)
    }
}

/** Footer-exact row count, deferred to execution: the footer sweep
  * distributes above the StatsPruning threshold, and EXPLAIN on a
  * 100 TB table must not launch a metadata job. */
case class GraftCountCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("n_rows", "n_files"))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTableFunctions.refuseLiveMorDeltas(spark,
      GraftTableFunctions.countName, path)
    val (rows, files) = graft.merge.StatsPruning.footerRowCount(spark, path)
    Seq(Row(rows, files))
  }
}

/** Footer-exact per-column statistics, deferred to execution (same
  * reasoning as [[GraftCountCommand]]). */
case class GraftStatsCommand(path: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = true)(),
    AttributeReference("n_rows", LongType, nullable = false)(),
    AttributeReference("n_nulls", LongType, nullable = true)(),
    AttributeReference("min_value", StringType, nullable = true)(),
    AttributeReference("max_value", StringType, nullable = true)(),
    AttributeReference("exact", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftTableFunctions.refuseLiveMorDeltas(spark,
      GraftTableFunctions.statsName, path)
    graft.merge.StatsPruning.columnStats(spark, path, cols).map { s =>
      Row(s.column, s.nRows, s.nNulls.map(Long.box).orNull,
        s.minValue.orNull, s.maxValue.orNull, s.exact)
    }
  }
}

/** The compaction rewrite, deferred to execution (see the object
  * scaladoc for why resolution must stay side-effect-free). */
case class GraftCompactCommand(path: String, targetFileBytes: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("compacted_files", "files_after"))
  override def run(spark: SparkSession): Seq[Row] = {
    val spec = GraftTableFunctions.specOrFail(spark,
      GraftTableFunctions.compactName, path)
    val n = Merge.compact(spark, path, spec.partitionCols, spec.keyCols,
      targetFileBytes = targetFileBytes, maxFiles = 1 << 20)
    val after = Merge.readTable(spark, path).inputFiles.length.toLong
    Seq(Row(n, after))
  }
}

/** Retention sweep, deferred to execution. */
case class GraftCleanCommand(path: String, retainLast: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("removed_snapshots", "commits_remaining"))
  override def run(spark: SparkSession): Seq[Row] = {
    val removed = Merge.clean(spark, path, retainLast)
    val remaining = Merge.commits(spark, path).count()
    Seq(Row(removed, remaining))
  }
}

/** Staging-leak sweep, deferred to execution. */
case class GraftVacuumCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("removed_staging", "files_after"))
  override def run(spark: SparkSession): Seq[Row] = {
    val removed = Merge.vacuum(spark, path)
    val after = Merge.readTable(spark, path).inputFiles.length.toLong
    Seq(Row(removed, after))
  }
}

/** Savepoint pin, deferred to execution (EXPLAIN must not pin). */
case class GraftSavepointCommand(path: String, commitTs: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("pinned_commit", "savepoints_total"))
  override def run(spark: SparkSession): Seq[Row] = {
    Merge.savepoint(spark, path, commitTs)
    Seq(Row(commitTs, Merge.savepoints(spark, path).size.toLong))
  }
}

/** Physical revert, deferred to execution (EXPLAIN must not revert). */
case class GraftRestoreCommand(path: String, commitTs: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("restored_to", "commits_remaining"))
  override def run(spark: SparkSession): Seq[Row] = {
    Merge.restoreTo(spark, path, commitTs)
    Seq(Row(commitTs, Merge.commits(spark, path).count()))
  }
}

/** Z-order clustering rewrite, deferred to execution. */
case class GraftZOrderCommand(path: String, zColsCsv: String,
    targetFileBytes: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftTableFunctions.statsRow(("clustered_files", "files_after"))
  override def run(spark: SparkSession): Seq[Row] = {
    val zCols = zColsCsv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    require(zCols.nonEmpty,
      s"${GraftTableFunctions.zorderName}: empty z-order column list")
    val spec = GraftTableFunctions.specOrFail(spark,
      GraftTableFunctions.zorderName, path)
    val n = Merge.clusterZOrder(spark, path, spec.partitionCols, zCols,
      targetFileBytes = targetFileBytes)
    val after = Merge.readTable(spark, path).inputFiles.length.toLong
    Seq(Row(n, after))
  }
}
