package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomMaybe, DotProduct, NormalizeNfc}

/** SparkSessionExtensions entry point: enables the engine's SQL
  * surface — the native `graft_*` scalar functions, the table functions
  * and the MERGE / time-travel rules — for any session via
  * `spark.sql.extensions=graft.GraftExtensions`
  * ([[SessionTuning]] sets it for every session the engine builds).
  * The DataFrame builders (`VectorFunctions.dotProduct`, …) wrap the
  * expressions directly and need no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL mutation surface: MERGE INTO over catalog-registered graft
    // tables (the write half of the Athena-shaped contract; reads are
    // plain SELECT over the v1 relation)
    ext.injectPostHocResolutionRule(graft.sql.ResolveGraftMerge.apply)
    // SQL time travel: VERSION AS OF over graft tables resolves to the
    // engine's as-of snapshot. Injected into the HINTS batch (which
    // runs before the resolution batch) because Spark's own
    // ResolveRelations throws UNSUPPORTED_FEATURE.TIME_TRAVEL for v1
    // relations eagerly — the swap must happen before that rule ever
    // sees the node; ours needs nothing resolved (it reads the catalog
    // directly off the unresolved identifier)
    ext.injectHintResolutionRule(graft.sql.ResolveGraftTimeTravel.apply)
    ext.injectFunction((
      FunctionIdentifier(functions.VectorFunctions.dotName),
      new ExpressionInfo(classOf[DotProduct].getName,
        functions.VectorFunctions.dotName),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(functions.BloomFunctions.maybeName),
      new ExpressionInfo(classOf[BloomMaybe].getName,
        functions.BloomFunctions.maybeName),
      (children: Seq[Expression]) => BloomMaybe(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(functions.TextFunctions.nfcName),
      new ExpressionInfo(classOf[NormalizeNfc].getName,
        functions.TextFunctions.nfcName),
      (children: Seq[Expression]) => NormalizeNfc(children.head)))
    ext.injectFunction((
      FunctionIdentifier(functions.ChunkFunctions.cdcName),
      new ExpressionInfo(classOf[functions.CdcBounds].getName,
        functions.ChunkFunctions.cdcName),
      functions.ChunkFunctions.builder _))
    // timeline observability: SELECT * FROM graft_commits('<path>')
    ext.injectTableFunction((
      FunctionIdentifier(graft.sql.GraftTableFunctions.commitsName),
      new ExpressionInfo(graft.sql.GraftTableFunctions.getClass.getName,
        graft.sql.GraftTableFunctions.commitsName),
      graft.sql.GraftTableFunctions.commitsBuilder))
    // pure reads: graft_savepoints (pinned commits), graft_snapshot
    // (path-based current/as-of read), graft_files (live data files),
    // graft_count (exact count(*) from parquet footers, zero data IO),
    // graft_stats (exact per-column stats from footers, zero data IO)
    Seq(
      (graft.sql.GraftTableFunctions.savepointsName,
        graft.sql.GraftTableFunctions.savepointsBuilder _),
      (graft.sql.GraftTableFunctions.snapshotName,
        graft.sql.GraftTableFunctions.snapshotBuilder _),
      (graft.sql.GraftTableFunctions.filesName,
        graft.sql.GraftTableFunctions.filesBuilder _),
      (graft.sql.GraftTableFunctions.countName,
        graft.sql.GraftTableFunctions.countBuilder _),
      (graft.sql.GraftTableFunctions.statsName,
        graft.sql.GraftTableFunctions.statsBuilder _),
      // the curation/dedup pipeline surface for the Athena-shaped
      // analyst: duplicated-span detection and Gopher quality rules
      // over any (id, text) parquet path — lazy plans, EXPLAIN-free
      (graft.sql.GraftTableFunctions.dupSpansName,
        graft.sql.GraftTableFunctions.dupSpansBuilder _),
      (graft.sql.GraftTableFunctions.gopherName,
        graft.sql.GraftTableFunctions.gopherBuilder _),
      (graft.sql.GraftTableFunctions.deconName,
        graft.sql.GraftTableFunctions.deconBuilder _),
      // ANN serving + index observability for the same persona:
      // top-k over a persisted IVF/IVF-PQ index, drift report
      (graft.sql.GraftTableFunctions.annTopKName,
        graft.sql.GraftTableFunctions.annTopKBuilder _),
      (graft.sql.GraftTableFunctions.annDriftName,
        graft.sql.GraftTableFunctions.annDriftBuilder _),
      // read-only table integrity report (names what vacuum/rollback/
      // compact would fix; never touches the table)
      (graft.sql.GraftTableFunctions.fsckName,
        graft.sql.GraftTableFunctions.fsckBuilder _),
      // incremental-view console: read the live groups (lazy) and
      // advance the view from its source's change stream (command)
      (graft.sql.GraftTableFunctions.readViewName,
        graft.sql.GraftTableFunctions.readViewBuilder _),
      (graft.sql.GraftTableFunctions.refreshViewName,
        graft.sql.GraftTableFunctions.refreshViewBuilder _)
    ).foreach { case (name, builder) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(graft.sql.GraftTableFunctions.getClass.getName,
          name),
        builder))
    }
    // maintenance procedures (execution-time commands — EXPLAIN and
    // CREATE VIEW over them stay side-effect-free):
    //   SELECT * FROM graft_compact('<path>'[, bytes])
    //   SELECT * FROM graft_clean('<path>', retain_last)
    //   SELECT * FROM graft_zorder('<path>', 'c1,c2'[, bytes])
    //   SELECT * FROM graft_vacuum('<path>')
    //   SELECT * FROM graft_savepoint('<path>', commit_ts)
    //   SELECT * FROM graft_restore('<path>', commit_ts)
    Seq(
      (graft.sql.GraftTableFunctions.compactName,
        graft.sql.GraftTableFunctions.compactBuilder _),
      (graft.sql.GraftTableFunctions.cleanName,
        graft.sql.GraftTableFunctions.cleanBuilder _),
      (graft.sql.GraftTableFunctions.zorderName,
        graft.sql.GraftTableFunctions.zorderBuilder _),
      (graft.sql.GraftTableFunctions.vacuumName,
        graft.sql.GraftTableFunctions.vacuumBuilder _),
      (graft.sql.GraftTableFunctions.savepointName,
        graft.sql.GraftTableFunctions.savepointBuilder _),
      (graft.sql.GraftTableFunctions.restoreName,
        graft.sql.GraftTableFunctions.restoreBuilder _)
    ).foreach { case (name, builder) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(graft.sql.GraftTableFunctions.getClass.getName,
          name),
        builder))
    }
  }
}
