package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming incremental pull over a merge table's commit timeline —
  * the engine's analogue of Hudi's incremental streaming read (Hudi
  * 0.10's DeltaStreamer-style `hoodie.datasource.query.type=
  * incremental` consumed as a stream), which is how a downstream
  * pipeline follows a 100 TB table without ever rescanning it.
  *
  * Spark-first composition, no custom `Source`: the COMMIT RECORDS are
  * the stream. [[commitStream]] is a plain file stream over the
  * `_graft_commits` dir's `.json` entries (each recorded commit is one
  * tiny JSON file,
  * written complete-or-absent by the timeline), so checkpointing,
  * at-least-once delivery, `Trigger.AvailableNow` draining and resume
  * come from Structured Streaming's file source — the same pattern the
  * order pipeline uses for queue control records (`StreamLoader`).
  * [[foreachIncrement]] turns each micro-batch of commit records into
  * the rows those commits own (`_commit_ts IN (batch ids)`, a
  * stat-pruned scan like `readBetween`) and hands them to the caller.
  *
  * Every consumer here is a finite drain ([[graft.util.StreamTuning.drain]],
  * partitions sized by the table's bytes): it delivers the commits
  * recorded so far and returns; a later call with the same checkpoint
  * delivers only the commits that landed since. A failed batch
  * surfaces as the query's `StreamingQueryException`.
  *
  * Semantics (exactly Hudi's incremental caveats, stated honestly):
  *
  *  - A row appears stamped with the commit that LAST wrote it. If a
  *    later commit overwrites a row before the consumer drains the
  *    earlier one, the row arrives once, under the later commit — the
  *    increments compose to the current table state, not a full CDC
  *    history (deletes don't stream; COW keeps no before-images).
  *  - Batch boundaries don't change the union of what is delivered:
  *    commit ids partition the table's rows, and each micro-batch
  *    pulls exactly the rows owned by its ids at read time.
  *  - At-least-once across crashes (the file-source checkpoint can
  *    replay an uncommitted batch); consumers writing to merge tables
  *    get effective exactly-once from keyed upserts, like StreamLoader.
  *
  * Single-writer applies to the TABLE, not consumers: any number of
  * incremental streams (each with its own checkpoint) can tail one
  * table concurrently.
  */
object IncrementalStream {

  /** The commit timeline as an unbounded stream: one row per recorded
    * commit, as commits land. Foreign junk in `_graft_commits/` (the
    * timeline tolerates it) streams as all-null rows and is filtered;
    * `.plan`/`.inflight`/`.rolledback` residue never matches the glob.
    * The table (and so its `_graft_commits/` dir) must exist — a
    * streaming source cannot start on a nonexistent path. */
  def commitStream(spark: SparkSession, path: String): DataFrame = {
    val dir = Timeline.dir(path)
    require(Merge.fsFor(spark, path).exists(dir),
      s"no commit timeline at $dir — the table has no commits yet " +
        "(write to it before tailing it)")
    spark.readStream
      .schema(Timeline.recordSchema)
      .option("pathGlobFilter", "*.json")
      .json(dir.toString)
      .filter(col("commit_ts").isNotNull && col("n_rows").isNotNull)
  }

  /** For every micro-batch of new commits, hand `f` the rows those
    * commits own (plus the sorted commit ids) and the batch id.
    *
    * The id filter is an explicit IN over THIS batch's ids (pushed to
    * the parquet scan), not a range: rollback gaps or out-of-order file
    * discovery can never smuggle a neighboring commit's rows into the
    * wrong batch. */
  def foreachIncrement(
      spark: SparkSession,
      path: String,
      checkpointDir: String)(
      f: (DataFrame, Seq[Long], Long) => Unit): Unit =
    drainCommits(spark, path, checkpointDir) { (ids, batchId) =>
      // MOR tables share the COW timeline but keep fresh rows in
      // delta files — pull increments from the SNAPSHOT view there
      // (winners stamped by their last writer, same ownership
      // contract), or a delta commit's rows would never stream
      val rows = Merge.readState(spark, TableState.load(spark, path),
        None).filter(col(Merge.commitCol).isin(ids: _*))
      f(rows, ids, batchId)
    }

  /** Streaming change-data-capture: like [[foreachIncrement]], but each
    * micro-batch hands `f` the CHANGES its commits applied
    * ([[Merge.readChanges]] rows — insert / update_preimage /
    * update_postimage / delete with a `_change_commit` stamp) instead
    * of the commits' current rows — the Delta-CDF-streaming analogue,
    * for consumers that must see deletes and before-images (audit
    * feeds, downstream invalidation, replicas).
    *
    * Changes are computed per exact commit id (`readChanges(id-1, id)`
    * for each id in THIS batch), never as one open range — a commit
    * that lands between the source's file listing and the change read
    * belongs to the NEXT batch, and a range read would deliver it
    * twice. Per-id reads stay cheap: each touches only its commit's
    * added + retired files.
    *
    * COW tables only, and the history window applies: if [[Merge.clean]]
    * sweeps a commit's pre-images before the consumer drains it, the
    * batch fails loudly
    * with the floor refusal rather than delivering partial changes —
    * size `clean`'s retention to the consumer's maximum lag, exactly
    * like Hudi's cleaner-vs-incremental-consumer contract. Same
    * at-least-once semantics as [[foreachIncrement]]. */
  def foreachChanges(
      spark: SparkSession,
      path: String,
      checkpointDir: String,
      keyCols: Seq[String])(
      f: (DataFrame, Seq[Long], Long) => Unit): Unit =
    drainCommits(spark, path, checkpointDir) { (ids, batchId) =>
      val changes = ids
        .map(id => Merge.readChanges(spark, path, id - 1, id, keyCols))
        .reduce(_.unionByName(_))
      f(changes, ids, batchId)
    }

  /** CDC replication: maintain `dstPath` as a live replica of
    * `srcPath` purely from the change stream — the proof that
    * [[foreachChanges]] carries EVERYTHING needed to reconstruct a
    * table (post-images apply as upserts, deletes as deletes, per
    * commit in commit order). At-least-once replay is safe by
    * construction: re-applying a commit's post-images upserts the same
    * rows to the same keys, and re-deleting absent keys is a no-op —
    * so the replica converges to the source state under any crash /
    * resume of the stream (effective exactly-once from keyed writes,
    * the same argument as StreamLoader).
    *
    * The replica's upserts and deletes are commits of its own timeline
    * — it has its own history, not the source's; consumers wanting the
    * source timeline should read the source. */
  def replicateTo(
      spark: SparkSession,
      srcPath: String,
      dstPath: String,
      checkpointDir: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String]): Unit =
    replicateTransformed(spark, srcPath, dstPath, checkpointDir, keyCols,
      precombine, partitionCols, identity)

  /** [[replicateTo]] with a ROW-LOCAL transform applied to every
    * post-image before it lands — a feature table / projection
    * maintained purely from the change stream, the map-only half of
    * incremental view maintenance ([[graft.merge.IncrementalView]] is
    * the aggregate half). Source deletes propagate by key, so the
    * feature table never serves rows whose source vanished — the
    * lineage-hygiene property a training-data feature store needs.
    *
    * `transform` contract (validated structurally per batch): it must
    * preserve `keyCols`, `partitionCols` and `precombine` (deletes
    * replay by key, upserts dedup by precombine), and it must be
    * row-local — each output row a function of its input row alone —
    * because it sees only each commit's changed rows, never the whole
    * table; an aggregate or join against the batch would compute over
    * a commit-sized slice and silently diverge. Same at-least-once →
    * exactly-once convergence as [[replicateTo]]: replaying a
    * transformed upsert or a keyed delete is a no-op. */
  def replicateTransformed(
      spark: SparkSession,
      srcPath: String,
      dstPath: String,
      checkpointDir: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String],
      transform: DataFrame => DataFrame): Unit =
    foreachChanges(spark, srcPath, checkpointDir,
      keyCols ++ partitionCols) { (ch, ids, _) =>
      val cached = ch.cache()
      try ids.foreach { id =>
        val c = cached.filter(col("_change_commit") === id)
        val ups0 = c.filter(col("_change_type")
          .isin("insert", "update_postimage"))
          .drop("_change_type", "_change_commit")
        val ups = transform(ups0)
        val required = keyCols ++ partitionCols :+ precombine
        val missing = required.filterNot(ups.columns.contains)
        require(missing.isEmpty,
          s"transform must preserve key/partition/precombine columns; " +
            s"missing: ${missing.mkString(", ")}")
        val dels = c.filter(col("_change_type") === "delete")
          .select((keyCols ++ partitionCols).map(col): _*)
        if (!ups.isEmpty)
          Merge.upsert(spark, ups, dstPath, keyCols, precombine,
            partitionCols)
        if (!dels.isEmpty)
          Merge.delete(spark, dels, dstPath, keyCols, partitionCols)
      } finally {
        cached.unpersist()
        ()
      }
    }

  /** Streaming incremental-view maintenance: the source's commit
    * stream drives [[IncrementalView.refresh]] — each micro-batch of
    * new commits triggers one cursor-advancing refresh, so the view
    * follows the source with per-commit-batch latency and O(changed
    * rows) work per trigger.
    *
    * The micro-batch CONTENT is deliberately unused: refresh reads its
    * own delta from the view's stamped cursor to the source head, which
    * makes the composition exactly-once under ANY stream behavior —
    * a re-delivered batch finds the cursor already advanced and
    * no-ops, a batch that groups several commits applies them as one
    * delta. The stream is purely a change-notification channel (the
    * same at-least-once-composes-to-exactly-once argument as
    * [[replicateTo]], but via the view's own idempotence instead of
    * keyed-write replay). */
  def maintainView(
      spark: SparkSession,
      srcPath: String,
      viewPath: String,
      checkpointDir: String): Unit =
    graft.util.StreamTuning.drain(spark, srcPath, checkpointDir) {
      commitStream(spark, srcPath).writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          IncrementalView.refresh(spark, viewPath)
          ()
        }
    }

  /** Drain `path`'s commit stream, handing `f` each non-empty
    * micro-batch's sorted commit ids and its batch id. */
  private def drainCommits(
      spark: SparkSession,
      path: String,
      checkpointDir: String)(
      f: (Seq[Long], Long) => Unit): Unit =
    graft.util.StreamTuning.drain(spark, path, checkpointDir) {
      commitStream(spark, path).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ids = batch.select("commit_ts")
            .collect().map(_.getLong(0)).distinct.sorted.toIndexedSeq
          if (ids.nonEmpty) f(ids, batchId)
        }
    }
}
