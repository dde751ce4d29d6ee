package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is configured: [[tuned]] holds
  * every setting that changes results or plans, [[local]] builds the
  * local session every main (Bench, Verify, Profile, Plans) and the
  * test fixture run on — optimization guide §2.2/§6.
  *
  * `canChangeCachedPlanOutputPartitioning=true` lets AQE's byte-based
  * partition coalescing see through `persist()`ed plans — above all
  * the merge path's cached deduped batches. With the stock `false`, a
  * cached plan pins its materialization to the static shuffle
  * partition count (32 here), and every consumer stage — including
  * every staged commit WRITE — inherits that fan-out: measured on
  * q18_upsert_replay at sf0.1 (graft.Profile + a file watcher), a
  * 3-commit replay of < 1 MB of data ran 825 tasks and left **176
  * parquet files averaging 958 bytes**; with the flag on it runs 43
  * tasks and leaves 6 files. The effect compounds, because every
  * later commit, key scan and snapshot read re-lists and re-opens
  * those files — the §6 small-files discipline.
  *
  * `coalescePartitions.parallelismFirst` is deliberately LEFT at its
  * stock `true`: Spark then coalesces toward
  * `max(totalBytes/defaultParallelism, minPartitionSize)` rather than
  * straight to the 64 MB advisory target, which keeps
  * byte-proportional parallelism on compute-dense small shuffles
  * (an A/B with `false` collapsed window/percentile/HLL reduce sides
  * to ONE partition and regressed q05 2.8×, q33 2.0×, q12b 1.5× at
  * sf0.1) while converging to exactly the advisory-sized behavior
  * once partitions are large — at cluster scale the two settings
  * agree. File-count-wise the cache flag alone already collapses the
  * KB-scale merge batches to single-partition writes.
  */
object SessionTuning {
  /** Match the streaming checkpoint manager to the checkpoint
    * filesystem (guide §7.3-class finding, root-caused by thread
    * dumps): the default FileContext-based manager's rename path on
    * the LOCAL filesystem goes through Hadoop's
    * `AbstractFileSystem.renameInternal` → `FileUtil.readLink`, which
    * FORKS a `readlink` process per checkpoint-file rename — with 32
    * state partitions × 4 join state stores × a delta file (plus its
    * checksum sibling) per micro-batch, every stateful drain pays
    * hundreds of process forks from a multi-GB JVM, and tasks
    * serialize behind them (all 32 task threads were parked in that
    * frame in 3 of 4 dumps). The FileSystem-based manager renames via
    * `File.renameTo` — same POSIX atomicity, no fork: e10's stateful
    * join drain drops 13.1→8.2 s (summed task time 266→99 s) with no
    * other change. HDFS/object-store deployments should override per
    * environment (that is exactly why Spark exposes the class as
    * config).
    *
    * This is the local-FS default; `SPARK_GRAFT_CKPT_MANAGER` overrides
    * it per deployment (exposed for CheckpointManagerSpec's
    * override-matrix pin). */
  private[graft] val defaultCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"

  /** Every setting that changes results or plans, as [[tuned]] applies
    * them. */
  private[graft] val settings: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      sys.env.getOrElse("SPARK_GRAFT_CKPT_MANAGER", defaultCheckpointManager),
    // UTC pin: timestamp formatting must not depend on host TZ (the
    // DuckDB oracle compares naive timestamps)
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // no-op on current MICROS-annotated testdata; lets the LongType
    // branch of Tables.events engage if NANOS-annotated data comes back
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")
  // deliberately NOT set: spark.sql.streaming.checkpoint.fileChecksum
  // .enabled stays at its stock default (true) — disabling it buys a
  // further ~25% on the stateful-join drains (e10 8.2→6.2 s measured)
  // but trades away 4.1's checkpoint-corruption detection; that is an
  // operator's call per deployment, not a bench default.

  /** [[settings]] on `b`. Callers add the master, parallelism and
    * anything deployment-specific. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    settings.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** The [[tuned]] session on `local[cpus]` with `cpus` shuffle
    * partitions, no UI and WARN logging. Its catalog warehouse is a
    * scratch dir of this JVM, so managed tables never land in the
    * working directory and two runs side by side never share one. */
  def local(cpus: Int): SparkSession = {
    val s = tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.util.Scratch.fresh("graft-warehouse-"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
