package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{BloomBits, BloomFunctions}

/** The record-key columns a merge table is keyed by — recorded once in
  * the table state ([[TableState]]; Hudi's `hoodie.properties` record-key
  * config analogue) so table services that don't take key arguments
  * (compaction, clustering) can still maintain the key index. */
case class KeySpec(keyCols: Seq[String], partitionCols: Seq[String]) {
  def scoped: Seq[String] = keyCols ++ partitionCols
}

/** File-level key index for merge tables — the engine's analogue of
  * Hudi's default BLOOM index (the reference runs Hudi 0.10, whose
  * upsert tags incoming records against candidate files via per-file
  * key bloom filters + ranges before reading any data).
  *
  * Why it exists: [[Merge.upsert]]/[[Merge.delete]] locate the file
  * groups containing matched keys with a column-pruned key scan of the
  * touched partitions. That scan is correct at any scale but costs
  * O(partition bytes) per commit — on a 100 TB table whose partitions
  * hold thousands of file groups, an upsert touching 10 files should
  * not read the key column of all 5,000. The index stores, per data
  * file, a bloom filter over `xxhash64` of the scoped key columns;
  * candidate files = bloom hits ∪ unindexed files, and only those are
  * key-scanned. Bloom false positives cost an extra file scan;
  * false negatives cannot occur (build and probe share
  * [[graft.functions.BloomBits]]).
  *
  * Design rules that keep the index ADVISORY — it can prune, never
  * corrupt:
  *
  *  - A data file with no index entry is always a candidate (tables
  *    predating the index, plain `insert` appends, entry-write
  *    failures: all degrade to the full key scan).
  *  - An index entry whose file is gone (crash between a commit's
  *    file deletes and its index entry, entries orphaned by
  *    [[Merge.rollback]] races) is dropped at probe time by
  *    intersecting with the actual listing — a phantom entry can
  *    never direct a read at a missing file.
  *  - Entries are written complete-or-absent (temp + rename, same as
  *    every other metadata write) AFTER the data commit publishes; an
  *    entry never claims files that were not durably committed first.
  *  - Hashes are computed over the STORED column types (probe casts
  *    the batch to them), and `xxhash64` hashes binary values — no
  *    string rendering, so session time zones and decimal formatting
  *    cannot skew build/probe parity.
  *
  * Storage: `_graft_index/<entry>.json`, JSON-lines; one entry file
  * per commit (named by `commit_ts`, so [[Merge.rollback]] can drop
  * it), plus [[compactIndex]]'s uniquely named snapshot. `add` lines
  * carry (file, partition dir, row count, base64 bloom); `rm` lines
  * tombstone a superseded file. Live index = adds minus rms — file
  * names are never reused, so ordering is irrelevant. The log grows by
  * one metadata file per commit; [[compactIndex]] folds it (called
  * from [[Merge.compact]]'s maintenance, or directly).
  *
  * Concurrency: index mutation is covered by the table's single-writer
  * contract (see [[Merge]] scaladoc) — there is no extra locking here.
  */
object KeyIndex {

  private def indexDir(path: String) = new Path(path, "_graft_index")

  private val entrySchema =
    "op STRING, f STRING, d STRING, n LONG, b STRING"

  /** Probe — and BUILD — only when the touched partitions hold more
    * data files than this. The probe costs ~3 fixed-latency driver jobs
    * (index read, live-name collect, bloom semi-join) regardless of
    * data size, while the full key scan costs one task per file; below
    * ~64 files the scan's task count is trivial at any file size. The
    * build side mirrors the gate (see [[recordCommit]]): entries nobody
    * would probe are not worth a footer-read + agg job per commit.
    * A table that needs other economics records its own gates
    * ([[setProbeGates]]). */
  val minFilesToProbe: Int = 64

  /** …and more data BYTES than this. File count alone is the wrong
    * break-even variable: the key scan's real cost is reading the key
    * columns of the candidate files (∝ bytes), while the probe's is
    * fixed — a partition of 96 × 100 KB files clears any count gate
    * yet key-scans in one trivial job, so indexing it charges every
    * commit several jobs to save nothing. Both gates must pass. The
    * default (4 GiB per touched-partition set) is a rough break-even:
    * below it the column-pruned key scan is seconds of one small job
    * even on a single node; above it the fixed-cost probe starts
    * winning, and keeps winning by more as partitions grow to TBs. */
  val minBytesToProbe: Long = 4L << 30

  /** Record PER-TABLE probe/build gate overrides. The constants
    * above are defaults; a table whose indexing economics are known —
    * a hot dimension point-looked-up constantly (gates 0/0: always
    * index, always probe) or a tiny config table (gates maxed: never
    * pay the index) — pins its own policy in table metadata, visible
    * to every session that touches it. Also what bench/spec keys use
    * to force the index arms at toy scale — a per-table policy cannot
    * leak into a concurrently running merge on another table. */
  def setProbeGates(spark: SparkSession, path: String,
      minFiles: Int, minBytes: Long): Unit =
    TableState.writeGates(spark, path, minFiles, minBytes)

  /** Record `spec` on the table's first keyed write; on a later keyed
    * write with a DIFFERENT spec, drop the whole index (unindexed
    * tables stay correct — they just scan) and say so. Returns the
    * state with what is recorded now: the index serves `spec` exactly
    * when that state records it. Column names containing commas cannot
    * be recorded (the spec is stored comma-joined) — such tables simply
    * run unindexed. */
  private[merge] def ensureSpec(st: TableState, spec: KeySpec): TableState = {
    if (spec.scoped.exists(_.contains(","))) return st
    st.keySpec match {
      case Some(existing) if existing == spec => st
      case Some(existing) =>
        System.err.println(s"[graft.merge] WARN: key spec changed on " +
          s"${st.path} (recorded ${existing.scoped.mkString("+")}, write " +
          s"uses ${spec.scoped.mkString("+")}); dropping the key index — " +
          "merges stay correct via full key scans")
        dropIndex(st)
      case None => TableState.writeKeySpec(st, spec)
    }
  }

  /** Remove the key spec and every index entry (the table reverts to
    * full key scans — always correct). */
  def drop(spark: SparkSession, path: String): Unit = {
    dropIndex(TableState.load(spark, path))
    ()
  }

  private def dropIndex(st: TableState): TableState = {
    st.fs.delete(indexDir(st.path), true)
    TableState.dropKeySpec(st)
  }

  private def entryName(cts: Long): String = f"$cts%020d.json"

  /** Drop the index entry of a rolled-back commit (its adds
    * were un-published, its rms restored — both must un-happen in the
    * index too). Missing entry = the commit crashed before writing one:
    * nothing to do. */
  private[merge] def dropEntry(spark: SparkSession, path: String,
      cts: Long): Unit = {
    Merge.fsFor(spark, path)
      .delete(new Path(indexDir(path), entryName(cts)), false)
    ()
  }

  /** Exact row count of a parquet file from its footer — driver-side
    * IO only, no Spark job (the same footer the commit's own writes
    * just produced; one round-trip per added file, the magnitude of the
    * publish renames themselves). */
  private def footerRows(spark: SparkSession, p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      r.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
    } finally r.close()
  }

  /** Write the index entry for a durably committed file change: bloom
    * stats per added file — filters sized from the largest file's
    * footer row count (driver IO), built in ONE column-pruned
    * aggregation job over only the newly written files — plus `rm`
    * tombstones for the superseded files. Tombstones are written only
    * into an existing index: file names are never reused, so before
    * the first `add` line there is nothing for them to cancel (and a
    * tombstone-only log would cost every compaction a fold job).
    * No-op when the table has no key spec. `schema` is the committed write's schema (what the
    * added files contain). */
  private[merge] def recordCommit(
      spark: SparkSession,
      st: TableState,
      schema: StructType,
      cts: Long,
      added: Seq[String],
      removed: Seq[String]): Unit = {
    val (fs, path, tableRoot) = (st.fs, st.path, st.root)
    val spec = st.keySpec.getOrElse(return)
    if (!spec.scoped.forall(schema.fieldNames.contains)) {
      System.err.println(s"[graft.merge] WARN: commit schema on $path " +
        s"lacks key-spec columns ${spec.scoped.mkString("+")}; added " +
        "files left unindexed (they will be key-scanned)")
      if (removed.isEmpty) return
    }
    // Build blooms only when the touched partitions clear BOTH probe
    // gates ([[minFilesToProbe]] file count AND [[minBytesToProbe]]
    // data bytes) — below them, candidateFiles never consults the
    // index, so building would charge every commit footer reads + one
    // agg job for entries nobody reads. Skipping is safe at any point
    // (unindexed files are always candidates); once a partition grows
    // past the gates, later commits index their files, and compactIndex
    // — compaction's maintenance moment — folds in the stragglers.
    val touchedDirs = (added ++ removed).map { rel =>
      rel.lastIndexOf('/') match {
        case -1 => ""
        case i => rel.substring(0, i)
      }
    }.distinct
    val touchedStatuses = touchedDirs.flatMap(d => Merge.listDataStatuses(fs,
      if (d.isEmpty) tableRoot else new Path(tableRoot, d)))
    val (gateFiles, gateBytes) = st.gates
    val gatesOpen = touchedStatuses.size > gateFiles &&
      touchedStatuses.map(_.getLen).sum > gateBytes
    val addLines: Seq[String] =
      if (added.isEmpty || !gatesOpen ||
          !spec.scoped.forall(schema.fieldNames.contains))
        Nil
      else {
        val addedAbs = added.map(f => new Path(tableRoot, f))
        val maxRows = addedAbs.map(p => footerRows(spark, p)).max
        val (m, k) = BloomBits.sizeFor(maxRows)
        val hash = xxhash64(spec.scoped.map(col): _*)
        val stats = spark.read.schema(schema).option("basePath", path)
          .parquet(addedAbs.map(_.toString): _*)
          .select(input_file_name().as("_f") +:
            spec.scoped.map(col): _*)
          .groupBy("_f")
          .agg(count(lit(1)).as("_n"),
            BloomFunctions.bloomAgg(hash, m, k).as("_b"))
          .collect()
        stats.toSeq.map { r =>
          val rel = Merge.relativize(tableRoot, fs.makeQualified(
            new Path(Merge.decodeFileName(r.getString(0)))))
          val dir = rel.lastIndexOf('/') match {
            case -1 => ""
            case i => rel.substring(0, i)
          }
          val b64 = java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]]("_b"))
          s"""{"op":"add","f":${Merge.jsonQuote(rel)},""" +
            s""""d":${Merge.jsonQuote(dir)},"n":${r.getAs[Long]("_n")},""" +
            s""""b":${Merge.jsonQuote(b64)}}"""
        }
      }
    val rmLines =
      if (!fs.exists(indexDir(path))) Nil
      else removed.map(f => s"""{"op":"rm","f":${Merge.jsonQuote(f)}}""")
    val lines = addLines ++ rmLines
    if (lines.isEmpty) return
    fs.mkdirs(indexDir(path))
    Merge.replaceSmallFile(fs,
      new Path(indexDir(path), entryName(cts)), lines.mkString("\n"))
  }

  /** The live index as a DataFrame (adds minus rm tombstones),
    * deduplicated by file name — duplicate add lines for one file (an
    * interrupted [[compactIndex]]) carry identical stats, so any one
    * wins. Returns None when the index has no entries. */
  private[merge] def liveEntries(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    val fs = Merge.fsFor(spark, path)
    val dir = indexDir(path)
    if (!fs.exists(dir)) return None
    val entryFiles = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(_.getPath.toString)
    if (entryFiles.isEmpty) return None
    val df = spark.read.schema(entrySchema).json(entryFiles: _*)
    val adds = df.filter(col("op") === "add").dropDuplicates("f")
    val rms = df.filter(col("op") === "rm").select("f").distinct()
    Some(adds.join(rms, Seq("f"), "left_anti"))
  }

  /** Candidate data files (table-relative) that may contain at least
    * one probe key, or None when the index cannot help and the caller
    * must key-scan all of `allFiles` (no spec / spec mismatch / no
    * entries / table below [[minFilesToProbe]]).
    *
    * `probe` must hold the scoped key columns AT THE STORED TYPES (the
    * caller casts) — hash parity with the build side depends on it.
    * `allFiles` is the actual listing of the touched partitions: files
    * it contains but the index does not are always candidates
    * (unindexed ⇒ scan); files the index claims but the listing lacks
    * are dropped (phantom ⇒ never read). */
  private[merge] def candidateFiles(
      spark: SparkSession,
      st: TableState,
      spec: KeySpec,
      touchedDirs: Seq[String],
      allFiles: Seq[String],
      allBytes: Long,
      probe: DataFrame): Option[Seq[String]] = {
    val (path, (gateFiles, gateBytes)) = (st.path, st.gates)
    if (!st.keySpec.contains(spec) || allFiles.size <= gateFiles ||
        allBytes <= gateBytes) return None
    val live = liveEntries(spark, path).getOrElse(return None)
      .filter(col("d").isin(touchedDirs: _*))
      .persist()
    try {
      val indexed = live.select("f").collect().map(_.getString(0)).toSet
      val unindexed = allFiles.filterNot(indexed)
      val hits = live
        .select(col("f"), unbase64(col("b")).as("_bloom"))
        .join(broadcast(probe.select(
          xxhash64(spec.scoped.map(col): _*).as("_h")).distinct()),
          BloomFunctions.bloomMaybe(col("_bloom"), col("_h")), "left_semi")
        .select("f").collect().map(_.getString(0))
      val listed = allFiles.toSet
      Some((hits.filter(listed) ++ unindexed).toIndexedSeq)
    } catch {
      // the index is ADVISORY: a damaged entry file (torn write,
      // checksum mismatch, foreign junk) must degrade to the full key
      // scan, never fail the merge that consulted it
      case e: Exception =>
        System.err.println(s"[graft.merge] WARN: key-index probe failed " +
          s"at $path (${e.getMessage}); falling back to the full key " +
          "scan — run KeyIndex.compactIndex (or drop) to repair")
        None
    } finally { live.unpersist(); () }
  }

  /** Read-path point lookup: the ABSOLUTE data-file paths that may
    * hold the single scoped key whose (key ∪ partition) columns are
    * all equality-pinned in `values`, plus the touched partition's
    * total file count — or None when the index cannot help (no spec,
    * not all scoped columns pinned, no recorded schema, or the
    * [[minFilesToProbe]]/[[minBytesToProbe]] gates say a plain scan is
    * cheaper). The DSv2 catalog scan's bloom arm (x33): the same
    * probe the merge side runs, with the touched dir derived from the
    * pinned partition values, so a point SELECT on a 100 TB keyed
    * table opens only the bloom-matched file groups. */
  def lookupFiles(spark: SparkSession, path: String,
      values: Map[String, Any]): Option[(Seq[String], Int)] = {
    val st = TableState.load(spark, path)
    val spec = st.keySpec.getOrElse(return None)
    if (spec.partitionCols.isEmpty) return None
    if (!spec.scoped.forall(values.contains)) return None
    val schema = st.schema.getOrElse(return None)
    val fieldType = schema.fields.map(f => f.name -> f.dataType).toMap
    if (!spec.scoped.forall(fieldType.contains)) return None
    val root = st.root
    val tuple = spec.partitionCols.map(values)
    val statuses = Merge.touchedFiles(st, spec.partitionCols, Seq(tuple))
    val allFiles = statuses.map(st => Merge.relativize(root, st.getPath))
    // probe at the STORED types — hash parity with the build side
    val probe = spark.range(1).select(spec.scoped.map(c =>
      lit(values(c)).cast(fieldType(c)).as(c)): _*)
    candidateFiles(spark, st, spec,
      Seq(Merge.partitionRelDir(spec.partitionCols, tuple)), allFiles,
      statuses.map(_.getLen).sum, probe)
      .map(kept =>
        (kept.map(f => new Path(root, f).toString), allFiles.size))
  }

  /** Fold the entry log into one snapshot entry: live adds survive, rm
    * tombstones and superseded entry files vanish. The new snapshot is
    * written before the old entries are deleted — a crash mid-fold
    * leaves duplicate or phantom adds, both handled at probe time
    * (dedup by file name; listing intersect). Returns the number of
    * entry files folded away. */
  def compactIndex(spark: SparkSession, path: String): Int = {
    val fs = Merge.fsFor(spark, path)
    val dir = indexDir(path)
    if (!fs.exists(dir)) return 0
    val old = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(_.getPath)
    if (old.size <= 1) return 0
    val live = liveEntries(spark, path) match {
      case None => return 0
      case Some(df) => df.collect()
    }
    val lines = live.toSeq.map { r =>
      val b = r.getAs[String]("b")
      s"""{"op":"add","f":${Merge.jsonQuote(r.getAs[String]("f"))},""" +
        s""""d":${Merge.jsonQuote(r.getAs[String]("d"))},""" +
        s""""n":${r.getAs[Long]("n")},"b":${Merge.jsonQuote(b)}}"""
    }
    Merge.replaceSmallFile(fs, new Path(dir, s"u${System.nanoTime()}.json"),
      if (lines.isEmpty) """{"op":"rm","f":""}""" else lines.mkString("\n"))
    old.foreach(p => fs.delete(p, false))
    old.size
  }
}
