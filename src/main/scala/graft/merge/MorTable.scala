package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, StructField,
  StructType}

/** Merge-on-read table type — the OTHER Hudi table type
  * (`MERGE_ON_READ`; the reference pins `hudi-spark3-bundle_2.12:0.10.0`,
  * `glue/interactive.sh:12`, whose MOR shipped read-optimized and
  * snapshot query paths). [[Merge]] implements COPY_ON_WRITE, the type
  * the reference's load job configures (`glue/scripts/
  * load_transactions.py:64`): every upsert rewrites the matched base
  * files. MOR inverts the cost: a write APPENDS a small delta file set
  * and touches no base file at all, and the read pays a per-key merge
  * until [[compact]] folds the deltas back into base parquet.
  *
  * Why this is the 100 TB streaming-ingestion shape: a micro-batch of
  * 10k rows against a 100 TB table under COW rewrites every file group
  * the batch touches — potentially hundreds of 128 MB files for a
  * well-spread key batch, a multi-GB write per micro-batch. Under MOR
  * the same batch writes ~one small parquet file per touched partition
  * (cost O(batch), independent of table size), and compaction amortizes
  * the rewrite over many batches on a schedule the operator controls.
  * The trade is read cost: the snapshot view shuffles the
  * delta-touched partitions through one per-key window. Partitions with
  * no deltas are read with ZERO overhead (they bypass the merge
  * entirely), and a freshly compacted table reads exactly like COW.
  * The delta-touched partitions are the hive directories of the delta
  * files ([[Merge.partitionsOf]]): learning them runs no job.
  *
  * Physical layout (all metadata '_'-prefixed, so invisible to plain
  * parquet reads of the table root):
  *
  *  - base files: hive-partitioned parquet at the table root, written
  *    and maintained by the same staged durable commits as [[Merge]] —
  *    every base row carries its writer's `_commit_ts` stamp;
  *  - delta files: hive-partitioned parquet under `_graft_deltas/`,
  *    each row stamped `_commit_ts` = its delta commit id plus a
  *    `_is_deleted` tombstone flag (Hudi's `_hoodie_is_deleted`);
  *  - one shared commit timeline under `_graft_commits/` — base and
  *    delta commits interleave in one monotonic id sequence, so
  *    [[Merge.commits]] enumerates the full history and [[readSince]]
  *    pulls increments across both kinds;
  *  - the MOR spec in the table state (key columns, precombine
  *    column, partition columns), recorded at table creation so readers
  *    and table services need no out-of-band knowledge.
  *
  * Commit atomicity on the delta path: delta files are staged to a
  * sibling dir, the full plan lands in the `.plan` marker sibling
  * (complete-or-absent), files rename into `_graft_deltas/`, and ONLY
  * the timeline record makes them live — [[read]] filters delta rows to
  * recorded commit ids, so a crash mid-publish leaves invisible residue
  * that [[Merge.rollback]] reverses mechanically (same plan format,
  * same tombstoning), never a torn read.
  *
  * Semantics match [[Merge.upsert]] (OverwriteWithLatest batch-wins):
  * within a batch the max-precombine row per scoped key survives (O4);
  * across commits the latest commit wins a key. The snapshot view is
  * therefore a per-key argmax over `_commit_ts` with tombstones
  * filtered last — and after ANY sequence of upserts/deletes,
  * snapshot ≡ the COW table the same batches would have produced
  * (MorSpec's differential law, and the q27/q28 driver oracles).
  *
  * Time travel: [[readAsOf]] reconstructs any recorded boundary by
  * composing TWO namespace replays — the root namespace (base files;
  * [[Merge.snapshotAt]]'s generic listing-replay, which never sees
  * `_`-prefixed delta files) and the `_graft_deltas/` namespace (delta
  * files live at the as-of point; files consumed by a later compaction
  * read from that compaction's history dir) — then applying the same
  * per-key merge the live snapshot uses. This works because every MOR
  * byte movement is a RECORDED commit: delta publishes add files,
  * compaction retires consumed deltas and replaced base files through
  * the same commit plan ([[Merge.rollback]]/[[Merge.restoreTo]]
  * reverse it mechanically). Change capture ([[Merge.readChanges]])
  * stays refused on MOR — a delta commit's rows are merge INPUTS, not
  * post-images — compact first if CDC is needed. */
object MorTable {

  /** Reserved tombstone column (Hudi `_hoodie_is_deleted` analogue). */
  val deletedCol = "_is_deleted"

  private val deltaRel = "_graft_deltas"

  /** Table-level payload semantics, fixed at creation (Hudi's
    * `hoodie.datasource.write.payload.class`):
    *  - `latest` — OverwriteWithLatest: the newest COMMIT wins a key
    *    ([[Merge.upsert]] parity); deletes are unconditional.
    *  - `ordered` — DefaultHoodieRecordPayload: the max-PRECOMBINE row
    *    wins across everything ever written, ties to the newer commit
    *    ([[Merge.upsertOrdered]] parity — the late-data-safe streaming
    *    payload). Tombstones COMPETE: [[delete]] requires the
    *    precombine column in `keys`, and a tombstone whose precombine
    *    loses to the stored row leaves it standing (exactly Hudi's
    *    ordered-payload delete, and deliberately unlike the COW
    *    [[Merge.delete]], which is unconditional). */
  final case class MorSpec(
      keyCols: Seq[String], precombine: String, partitionCols: Seq[String],
      payload: String = "latest")

  /** True iff `path` is a MOR table currently carrying delta files
    * under `_graft_deltas/` — the state in which a base-only answer
    * (footer row counts, footer column stats) is silently wrong,
    * because delta rows and tombstones are merge INPUTS the base
    * footers never see. Crash residue counts as live here:
    * conservative refusal beats a maybe-wrong answer, and [[compact]]
    * clears both. Metadata-priced (the table-state load + one delta
    * listing), never a data scan. */
  def hasLiveDeltas(spark: SparkSession, path: String): Boolean =
    liveDeltaFiles(spark, path).nonEmpty

  /** The live delta files as (qualified path, bytes) — the listing
    * complement of [[hasLiveDeltas]] for observability surfaces
    * (`graft_files` lists them alongside base files: they are live
    * data of the table). Empty on a non-MOR path. */
  def liveDeltaFiles(spark: SparkSession, path: String)
      : Seq[(String, Long)] =
    liveDeltas(TableState.load(spark, path))
      .map(st => (st.getPath.toString, st.getLen))

  /** The live delta files (none on a COW table). */
  private[merge] def liveDeltas(st: TableState)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    if (st.mor.isEmpty) Nil
    else Merge.listDataStatuses(st.fs, new Path(st.root, deltaRel))

  /** The table's recorded MOR spec. Fails on a COW table. */
  private def morSpec(st: TableState): MorSpec = {
    require(st.mor.isDefined,
      s"${st.path} is not a MOR table (no MOR spec recorded) — Merge.* " +
        "reads/writes COW tables, MorTable.* this format")
    st.mor.get
  }

  /** The recorded schema — always includes `_commit_ts` (every write
    * stamps its rows). */
  private def recorded(st: TableState): StructType = st.schema.getOrElse(
    throw new IllegalStateException(
      s"MOR table ${st.path} has no recorded schema — was the base " +
        "commit interrupted? rerun the first upsert"))

  private def columns(s: StructType): Seq[(String, DataType)] =
    s.fields.map(f => (f.name, f.dataType)).toSeq

  /** The snapshot merge order for one payload: `latest` picks the
    * newest commit; `ordered` picks the max precombine, ties to the
    * newer commit. (`desc_nulls_last` on the stamp keeps any
    * pre-timeline base row — impossible for tables this object
    * created, but cheap insurance — from beating a stamped one.) */
  private def mergeOrder(sp: MorSpec): Seq[org.apache.spark.sql.Column] =
    if (sp.payload == "ordered")
      Seq(col(sp.precombine).desc_nulls_last,
        col(Merge.commitCol).desc_nulls_last)
    else Seq(col(Merge.commitCol).desc_nulls_last)

  /** Upsert a batch. First write creates the table: the key spec is
    * recorded and the batch lands as BASE parquet via the same staged
    * commit as [[Merge.upsert]]. Every later upsert
    * appends a delta commit — no base file is read or written
    * (MorSpec asserts base mtimes byte-for-byte untouched): within-batch
    * precombine dedup, `_commit_ts` stamp, staged publish into
    * `_graft_deltas/`, timeline record. Additive schema evolution works
    * as in COW: a batch carrying new columns widens the recorded
    * schema, and earlier rows read back null-filled. Returns the commit
    * id. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String]): Long =
    upsertImpl(spark, batch, path,
      MorSpec(keyCols, precombine, partitionCols, "latest"))

  /** [[upsert]] onto an `ordered`-payload table (creates one on first
    * write): the final state is the per-key precombine argmax over
    * everything ever written — invariant to batch boundaries and
    * arrival order, the safe payload for streaming ingestion with
    * late or replayed data ([[Merge.upsertOrdered]] parity). */
  def upsertOrdered(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String]): Long =
    upsertImpl(spark, batch, path,
      MorSpec(keyCols, precombine, partitionCols, "ordered"))

  private def upsertImpl(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      sp: MorSpec): Long = {
    val MorSpec(keyCols, precombine, partitionCols, _) = sp
    val st = TableState.load(spark, path)
    if (!st.hasData) {
      // spec first: it is '_'-prefixed (no data), and a crash between it
      // and the base commit leaves a retryable empty table, not a
      // spec-less one
      TableState.writeMor(st, sp)
      return Merge.upsert(spark, batch, path, keyCols, precombine,
        partitionCols)
    }
    val stored = morSpec(st)
    require(stored == sp,
      s"MOR spec mismatch at $path: table is $stored, caller passed $sp")
    val scoped = keyCols ++ partitionCols
    val deduped = Merge.precombineDedup(batch, scoped, precombine)
    Merge.versioned(spark, path) { cts =>
      val stamped = deduped.withColumn(Merge.commitCol, lit(cts))
      // widen the recorded schema BEFORE aligning, so a new column in
      // this batch survives the alignment and old rows null-fill
      val target = columns(recorded(
        Merge.updateSchemaMeta(spark, st, stamped.schema)))
      val body = Merge.alignTo(stamped, target)
        .withColumn(deletedCol, lit(false))
      publishDeltas(spark, path, body, stored, cts, deduped.schema)
    }
  }

  /** [[upsert]] over a single-column partition layout. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCol: String): Long =
    upsert(spark, batch, path, keyCols, precombine, Seq(partitionCol))

  /** Delete by key: appends a TOMBSTONE delta commit (`_is_deleted` =
    * true rows carrying only the scoped key, data columns null). No
    * base file is touched; the key vanishes from [[read]] immediately
    * and from [[readOptimized]] at the next [[compact]] — exactly
    * Hudi-MOR's delete visibility split. `keys` must carry the spec's
    * key + partition columns. Returns the commit id. */
  def delete(spark: SparkSession, keys: DataFrame, path: String): Long = {
    val st = TableState.load(spark, path)
    val sp = morSpec(st)
    val ordered = sp.payload == "ordered"
    if (ordered) require(keys.columns.contains(sp.precombine),
      s"ordered-payload MOR delete at $path needs the precombine column " +
        s"'${sp.precombine}' in keys — a tombstone competes by ordering " +
        "value (Hudi DefaultHoodieRecordPayload semantics)")
    val scoped = sp.keyCols ++ sp.partitionCols
    val k =
      if (ordered)
        Merge.precombineDedup(
          keys.select((scoped :+ sp.precombine).map(col): _*),
          scoped, sp.precombine)
      else keys.select(scoped.map(col): _*).distinct()
    Merge.versioned(spark, path) { cts =>
      val body = Merge.alignTo(k.withColumn(Merge.commitCol, lit(cts)),
        columns(recorded(st))).withColumn(deletedCol, lit(true))
      publishDeltas(spark, path, body, sp, cts, k.schema)
    }
  }

  /** Stage → plan → publish, the delta-path instance of the
    * [[Merge.commitFiles]] discipline, run inside the
    * [[Merge.versioned]] envelope (which records the commit). The
    * staged file names are final, so the plan (added under
    * `_graft_deltas/`, nothing removed) is known before any mutation
    * and [[Merge.rollback]] can reverse any crash window; the timeline
    * record is the commit point — until it lands, [[read]]'s
    * recorded-id filter keeps the rows invisible. A delta publish is a
    * pure ADD in the recorded plan — the as-of replay sees through it,
    * so history stays valid (no voiding). The touched partitions the
    * timeline records are the hive directories of the staged files,
    * read at the types of the caller's batch (`batch`), as a collect of
    * the batch renders them. */
  private def publishDeltas(
      spark: SparkSession,
      path: String,
      body: DataFrame,
      sp: MorSpec,
      cts: Long,
      batch: StructType)
      : (Merge.MergeStats, Option[Merge.CommitResult]) = {
    val obs = org.apache.spark.sql.Observation()
    val staged = Merge.stage(spark, body.observe(obs, count(lit(1)).as("n")),
      path, sp.partitionCols, "_mor_staging_", deltaRel, cts, Nil)
    Merge.publish(Merge.fsFor(spark, path), staged.moves)
    (Merge.MergeStats(obs.get("n").asInstanceOf[Long], Merge.partitionsOf(
      staged.added, sp.partitionCols, batch).map(Merge.renderPartition)),
      Some(Merge.CommitResult(staged.added, Nil, Some(staged.staging))))
  }

  /** Snapshot view (Hudi `_rt`): base ∪ live deltas, one per-key argmax
    * over `_commit_ts`, tombstones filtered last; building it runs no
    * job. Scale shape: the merge window shuffles ONLY the
    * delta-touched partitions — base rows in untouched partitions (the
    * overwhelming majority of a 100 TB table between compactions)
    * union straight through with no shuffle, and a table with no live
    * deltas short-circuits to the plain base read. Crash residue never
    * surfaces: delta rows are filtered to ids with a recorded timeline
    * entry (each delta file holds one `_commit_ts` value, so parquet
    * min/max stats prune whole residue files, not rows). */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, TableState.load(spark, path))

  private[merge] def read(spark: SparkSession, st: TableState): DataFrame = {
    val sp = morSpec(st)
    val base = Merge.readTable(spark, st)
    val files = liveDeltas(st).map(f => Merge.relativize(st.root, f.getPath))
    if (files.isEmpty) return base
    val m = mergeWindow(base, liveDeltaRows(spark, st), files, sp, recorded(st))
    m.untouched.unionByName(m.merged)
  }

  /** Delta rows read at the recorded schema plus the tombstone flag,
    * one read per resident root (`(delta namespace root, files)`),
    * crash residue (unrecorded commit ids) filtered out — the one delta
    * loader behind [[read]], [[readAsOf]] and [[compact]]. */
  private def deltaRows(spark: SparkSession, st: TableState,
      reads: Seq[(Path, Seq[String])]): DataFrame = {
    val schema = StructType(recorded(st).fields :+
      StructField(deletedCol, BooleanType))
    if (reads.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val raw = reads.map { case (root, files) =>
      spark.read.schema(schema).option("basePath", root.toString)
        .parquet(files: _*)
    }.reduce(_.unionByName(_))
    val bad = Timeline.list(spark, st.path).unrecorded
    if (bad.isEmpty) raw else raw.filter(!col(Merge.commitCol).isin(bad: _*))
  }

  /** Every live delta row (the whole delta namespace in one read). */
  private def liveDeltaRows(spark: SparkSession, st: TableState): DataFrame = {
    val dRoot = new Path(st.root, deltaRel).toString
    deltaRows(spark, st, Seq(new Path(dRoot) -> Seq(dRoot)))
  }

  /** The partitions the deltas touch, the base rows outside them, and
    * the per-key merge of the touched base rows with the deltas.
    * `merged` carries no tombstone flag. */
  private final case class Merged(touched: Seq[Seq[Any]],
      untouched: DataFrame, merged: DataFrame)

  /** base ∪ deltas per-key argmax with tombstones filtered last — the
    * one snapshot merge window, shared by [[read]], [[readAsOf]] and
    * [[compact]]. Only the delta-touched partitions shuffle; the rest
    * of base passes straight through. The touched partitions are the
    * hive directories of `deltaFiles` (table-relative), the files
    * `deltas` reads, so planning the window runs no job. A partition
    * only crash residue touches counts as touched: its base rows pass
    * through the window unchanged. */
  private def mergeWindow(base: DataFrame, deltas: DataFrame,
      deltaFiles: Seq[String], sp: MorSpec, target: StructType): Merged = {
    val cols = target.fieldNames.toSeq :+ deletedCol
    val touched = Merge.partitionsOf(deltaFiles, sp.partitionCols, target)
    val touchedPred =
      coalesce(Merge.partitionIn(sp.partitionCols, touched), lit(false))
    val flagged = base.withColumn(deletedCol, lit(false))
      .select(cols.map(col): _*)
    val contested = flagged.filter(touchedPred)
      .unionByName(deltas.select(cols.map(col): _*))
    val w = Window
      .partitionBy((sp.partitionCols ++ sp.keyCols).map(col): _*)
      .orderBy(mergeOrder(sp): _*)
    val merged = contested
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .filter(!col(deletedCol)).drop(deletedCol)
    Merged(touched, flagged.filter(!touchedPred).drop(deletedCol), merged)
  }

  /** MOR time travel: the snapshot as of recorded commit `asOf` —
    * base-at-asOf (the generic root-namespace replay,
    * [[Merge.snapshotAt]]) merged with the delta files LIVE at that
    * point (present then, not yet folded; deltas consumed by a later
    * compaction read back from that compaction's history dir). Same
    * floor discipline as COW: [[Merge.clean]] bounds retention. */
  def readAsOf(spark: SparkSession, path: String, asOf: Long): DataFrame =
    readAsOf(spark, TableState.load(spark, path), asOf)

  private[merge] def readAsOf(spark: SparkSession, st: TableState,
      asOf: Long): DataFrame = {
    val sp = morSpec(st)
    val base = Merge.snapshotAt(spark, st, asOf)
    val initial = liveDeltas(st)
      .map(f => Merge.relativize(st.root, f.getPath))
    // the commit plans name base AND delta retirements in one removed
    // list — keep only this namespace's entries
    val dmap = Merge.replayFileMap(spark, st.path, asOf, initial)
      .filter { case (rel, _) => rel.startsWith(deltaRel + "/") }
    // defensive row filter on top of the file replay: any rows stamped
    // past the as-of point
    val deltas = deltaRows(spark, st,
      Merge.residentGroups(st, asOf, dmap, deltaRel))
      .filter(col(Merge.commitCol) <= asOf)
    val m = mergeWindow(base, deltas, dmap.keys.toSeq, sp, recorded(st))
    m.untouched.unionByName(m.merged)
  }

  /** Read-optimized view (Hudi `_ro`): base files only — columnar speed,
    * staleness bounded by the compaction cadence. Identical to the
    * snapshot right after [[compact]]. */
  def readOptimized(spark: SparkSession, path: String): DataFrame =
    Merge.readTable(spark, path)

  /** Incremental pull across base and delta commits: snapshot rows whose
    * winning version was written after `sinceTs` (same contract as
    * [[Merge.readSince]] — deleted keys simply stop appearing). */
  def readSince(spark: SparkSession, path: String, sinceTs: Long)
      : DataFrame = {
    val st = TableState.load(spark, path)
    morSpec(st) // a COW table fails here, as in read
    Merge.readSince(spark, st, sinceTs)
  }

  /** Fold every live delta into base parquet — Hudi's MOR compaction.
    * Per delta-touched partition: compute the merged snapshot (stamps
    * pass through UNMODIFIED — incremental pulls are
    * compaction-invariant, the same contract as [[Merge.compact]]),
    * rewrite that partition's base via the staged durable commit
    * (tombstoned keys leave; a fully-deleted partition's dir drops),
    * with the folded delta files retiring through the SAME commit plan
    * as the replaced base files. Crash-safe at every window exactly
    * like any versioned commit: the plan lands before any mutation, a
    * crash anywhere is mechanically reversed by [[Merge.rollback]]
    * (consumed deltas restore from `_graft_rollback/`), and on success
    * everything retires to the commit's history dir — which is what
    * keeps pre-compaction snapshots ([[readAsOf]]) reconstructable.
    * Returns the number of delta files folded. */
  def compact(spark: SparkSession, path: String): Long = {
    val st = TableState.load(spark, path)
    val sp = morSpec(st)
    val (fs, tableRoot) = (st.fs, st.root)
    val deltaFiles = liveDeltas(st)
    if (deltaFiles.isEmpty) return 0L
    val m = mergeWindow(Merge.readTable(spark, st), liveDeltaRows(spark, st),
      deltaFiles.map(f => Merge.relativize(tableRoot, f.getPath)), sp,
      recorded(st))
    // key-clustered layout within each rewritten partition, same as
    // Merge.compact — keeps base parquet min/max stats selective
    val merged = m.merged
      .sortWithinPartitions((sp.partitionCols ++ sp.keyCols).map(col): _*)
    // consumed delta files are SUPERSEDED like the replaced base files:
    // they retire through the commit plan (crash → rollback restores
    // them; success → they move to this commit's history dir), which is
    // what keeps pre-compaction snapshots reconstructable
    val superseded = Merge.touchedFiles(st, sp.partitionCols, m.touched)
      .map(_.getPath.toString) ++ deltaFiles.map(_.getPath.toString)
    Merge.versioned(spark, path) { cts =>
      // compaction owns no rows (stamps pass through) — n_rows 0, like
      // a delete commit
      (Merge.MergeStats(0L, m.touched.map(Merge.renderPartition)),
        Some(Merge.commitFiles(spark, st, merged, sp.partitionCols,
          superseded, m.touched, dropEmptied = true, cts)))
    }
    // the retires left empty delta hive dirs behind — cosmetic sweep
    deltaFiles.foreach { f =>
      Merge.dropEmptiedDirs(fs, f.getPath.getParent,
        Merge.relativize(tableRoot, f.getPath).count(_ == '/') - 1)
    }
    deltaFiles.size.toLong
  }

  type Q = (SparkSession, String) => DataFrame

  /** Driver keys. Both replay the q18 batch algebra through the MOR
    * write path, so the DuckDB oracles are the SAME relational
    * recomputations the COW keys use — MOR is a physical-layout choice,
    * and these keys prove it is result-invisible. */
  val queries: Map[String, Q] = Map(
    // q27: base commit, delta commit, tombstone delete — read the
    // SNAPSHOT view with the deltas still live (base ∪ deltas through
    // the merge window). Oracle = the q18 two-batch + delete algebra.
    // x14: MOR time travel — after a compaction folds the first two
    // delta commits and a third lands, the query reads AS OF commit 2:
    // correct only if base-at-2 composes with the delta files the
    // compaction retired into history. Same expected state as q25
    // through the MOR write path.
    "x14_mor_time_travel" -> ((s, dir) => {
      val path = Merge.scratchTable("graft_x14_")
      val keyCols = Seq("okey")
      MorTable.upsert(s, Merge.replayBatch(s, dir, 0), path,
        keyCols, "pre", "part")
      val c2 = MorTable.upsert(s, Merge.replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      MorTable.compact(s, path)
      MorTable.upsert(s, Merge.replayBatch(s, dir, 2), path,
        keyCols, "pre", "part")
      MorTable.readAsOf(s, path, c2)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // WIDE key space (okey % 50000): the %500 MOR snapshot saturates at
    // sf1 (tombstones cover every key pair → empty view, vacuous 10x
    // evidence — see q18w); dense-key MOR merge/precombine density
    // stays covered by q28/x05/x14 and MorTableSpec.
    "q27_mor" -> ((s, dir) => {
      val path = Merge.scratchTable("graft_q27_")
      val keyCols = Seq("okey")
      MorTable.upsert(s, Merge.replayBatch(s, dir, 0, 50000), path,
        keyCols, "pre", "part")
      MorTable.upsert(s, Merge.replayBatch(s, dir, 1, 50000), path,
        keyCols, "pre", "part")
      MorTable.delete(s, Merge.replayBatch(s, dir, 0, 50000)
        .filter(org.apache.spark.sql.functions.col("pre") % 3 === 0)
        .select("okey", "part"), path)
      MorTable.read(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // q28: one more delta batch, then compaction folds everything into
    // base and the READ-OPTIMIZED view must equal the full merge state
    // (the x02 three-batch algebra) — staleness is exactly zero after
    // compaction.
    "q28_mor_compact" -> ((s, dir) => {
      val path = Merge.scratchTable("graft_q28_")
      val keyCols = Seq("okey")
      MorTable.upsert(s, Merge.replayBatch(s, dir, 0), path,
        keyCols, "pre", "part")
      MorTable.upsert(s, Merge.replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      MorTable.delete(s, Merge.replayBatch(s, dir, 0)
        .filter(org.apache.spark.sql.functions.col("pre") % 3 === 0)
        .select("okey", "part"), path)
      MorTable.upsert(s, Merge.replayBatch(s, dir, 2), path,
        keyCols, "pre", "part")
      MorTable.compact(s, path)
      MorTable.readOptimized(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x05: the x04 streaming-ingestion harness routed through MOR with
    // the ordered payload — each checkpointed micro-batch is one
    // O(batch) delta commit, and the SNAPSHOT view (live deltas, no
    // compaction) must equal the corpus-wide per-key precombine argmax
    // REGARDLESS of how the file source grouped micro-batches. Same
    // oracle as x04: the payload, not the storage layout, defines the
    // result.
    "x05_stream_mor" -> ((s, dir) => {
      val path = Merge.scratchTable("graft_x05_")
      val inDir = Merge.scratchTable("graft_x05in_")
      val rows = graft.Tables.orders(s, dir)
        .filter(org.apache.spark.sql.functions.col("o_orderkey") % 7 <= 2)
        .select(
          (org.apache.spark.sql.functions.col("o_orderkey") % 500)
            .as("okey"),
          org.apache.spark.sql.functions.col("o_orderstatus").as("part"),
          org.apache.spark.sql.functions.col("o_totalprice").as("price"),
          org.apache.spark.sql.functions.col("o_orderkey").as("pre"))
      rows.repartition(8).write.parquet(inDir)
      graft.util.StreamTuning.drain(s, inDir,
        Merge.scratchTable("graft_x05ckpt_")) {
        s.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", 3).parquet(inDir)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            MorTable.upsertOrdered(s, batch, path,
              Seq("okey"), "pre", Seq("part")): Unit
          }
      }
      MorTable.read(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }))

  val oracle: Map[String, String] = Map(
    "q27_mor" -> Merge.replaySqlMod(50000),
    "q28_mor_compact" -> Merge.oracle("x02_indexed_upsert"),
    "x05_stream_mor" -> Merge.oracle("x04_stream_upsert"),
    // the as-of-commit-2 state is the same 2-batch merge q25 pins —
    // MOR time travel must land on it through a compaction boundary
    "x14_mor_time_travel" -> Merge.oracle("x12_compact_versioned"))
}
