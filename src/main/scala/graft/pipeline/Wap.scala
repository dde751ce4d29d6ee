package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.merge.Merge
import Expectations.Expectation

/** Write-audit-publish — the WAP pattern (popularized by Netflix on
  * Iceberg; Databricks' "commit-then-audit" is the same move): a batch
  * is STAGED as a real versioned commit, the RESULTING SNAPSHOT is
  * audited with declarative expectations, and the commit stays
  * published only if every rule holds — otherwise the table is
  * restored to its pre-stage commit, so a bad batch can never become
  * durable state. Auditing the post-merge snapshot (not the raw batch)
  * is the point: table-level invariants — key uniqueness after merge,
  * no regression of aggregate floors, referential bounds — only exist
  * AFTER the merge algebra has run.
  *
  * Isolation caveat, stated honestly: this engine's timeline has no
  * branches, so between stage and rollback a concurrent reader can see
  * the staged commit (same window Hudi's commit-then-audit has). The
  * single-pipeline writer (the reference's `max_concurrent_runs=1`
  * world) never observes it; full reader isolation would stage to a
  * branch, which is the natural next step on this timeline layout.
  *
  * Scale shape: the audit is ONE aggregate scan of the snapshot
  * ([[Expectations.report]]'s single-pass conditional sums); the
  * rollback is metadata-only ([[Merge.restoreTo]] — O(files touched by
  * the staged commit), no data rewrite).
  */
object Wap {

  /** Outcome of one WAP cycle: the staged commit id, whether it was
    * published (kept), and the per-rule audit report (already
    * materialized — the decision consumed it). */
  final case class WapResult(stagedCommit: Long, published: Boolean,
      report: DataFrame)

  /** Stage `batch` as a versioned upsert into `path`, audit the
    * resulting snapshot against `rules`, keep the commit iff all rules
    * pass — otherwise restore the table to its pre-stage state.
    * Requires an existing published commit (the restore anchor). */
  def writeAuditPublish(s: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String], precombine: String,
      partitionCols: Seq[String], rules: Seq[Expectation]): WapResult = {
    val beforeRow = Merge.commits(s, path).agg(max("commit_ts")).head()
    require(!beforeRow.isNullAt(0),
      s"WAP needs a published base commit at $path to restore to")
    val before = beforeRow.getLong(0)
    val staged = Merge.upsert(s, batch, path, keyCols,
      precombine, partitionCols)
    // An audit that THROWS (bad rule, transient job failure) must not
    // leave the staged — possibly poisoned — commit durable: the
    // contract is "a bad batch can never become durable state", and
    // that includes the error path, not just the rules-fail path.
    // plan-building throws too (a rule naming a missing column fails at
    // analysis, before any job runs) — it must be inside the guard
    val (rep, rows) =
      try {
        val r = Expectations.report(Merge.readTable(s, path), rules)
        (r, r.collect()) // materialize the verdict ONCE; rows = evidence
      } catch {
        case e: Throwable =>
          Merge.restoreTo(s, path, before)
          throw e
      }
    val ok = rows.forall(_.getAs[Boolean]("pass"))
    if (!ok) Merge.restoreTo(s, path, before)
    import scala.jdk.CollectionConverters._
    WapResult(staged, ok,
      s.createDataFrame(rows.toSeq.asJava, rep.schema))
  }
}
