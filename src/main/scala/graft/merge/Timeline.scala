package graft.merge

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit, max}

/** The commit timeline under `_graft_commits/` — the one module that
  * knows its format. Each issued commit id owns entries named by its
  * zero-padded id:
  *
  *  - `<id>.inflight` — the CLAIM, created exclusively before any data
  *    lands (Hudi's requested→inflight shape);
  *  - `<id>.plan` — the commit's file plan (staging dir, files added,
  *    files removed), landed complete-or-absent before any mutation so
  *    [[Merge.rollback]] can reverse any crash window;
  *  - `<id>.json` — the RECORD: the commit is durable once it lands,
  *    and the claim and plan go;
  *  - `<id>.rolledback` — the tombstone of a reversed commit;
  *  - `_head` — the highest id [[record]] or [[tombstone]] retired,
  *    where the next [[claim]] starts, so a claim costs the same on
  *    the thousandth commit as on the first.
  *
  * Crash order: claim → plan → data mutations → record → drop plan and
  * claim. An id is issued from its claim on and is never reissued, even
  * after a rollback or restore. Strictly numeric stems: any other name
  * in the directory (editor backup, `.crc` sibling on checksum
  * filesystems) is FOREIGN and ignored — one junk entry must not brick
  * every later write. `.plan` siblings are not timeline entries
  * either: they belong to their commit and go with it; nor is the
  * head, a hint the claim never trusts alone. */
private[merge] object Timeline {

  def dir(path: String): Path = new Path(path, "_graft_commits")

  val commitEntryRe = """^(\d+)\.(json|inflight|rolledback)$""".r

  private def entryFile(path: String, cts: Long, ext: String): Path =
    new Path(dir(path), f"$cts%020d.$ext")

  def recordFile(path: String, cts: Long): Path = entryFile(path, cts, "json")
  def claimFile(path: String, cts: Long): Path =
    entryFile(path, cts, "inflight")
  def planFile(path: String, cts: Long): Path = entryFile(path, cts, "plan")
  def tombstoneFile(path: String, cts: Long): Path =
    entryFile(path, cts, "rolledback")
  def headFile(path: String): Path = new Path(dir(path), "_head")

  /** A recorded entry's columns as Spark reads them — the
    * `graft_commits` table and the incremental commit stream. */
  val recordSchema = "commit_ts LONG, n_rows LONG, partitions STRING"

  /** One timeline entry: its id, kind (`json` | `inflight` |
    * `rolledback`) and file. */
  final case class Entry(id: Long, kind: String, file: Path)

  /** One listing of the timeline directory. `foreign` counts names that
    * are neither entries, `.plan` siblings, the head nor '.'-prefixed
    * filesystem metadata. */
  final case class Listing(entries: Seq[Entry], foreign: Int) {
    def recorded: Seq[Entry] = entries.filter(_.kind == "json")
    /** Every id the timeline has ever ISSUED — recorded commits,
      * inflight markers left by crashed runs, and rolled-back
      * tombstones. An id whose data may have been visible, even
      * transiently, must never be reissued. */
    def issued: Seq[Long] = entries.map(_.id)
    /** Issued but never recorded: the ids whose delta rows must never
      * surface. */
    def unrecorded: Seq[Long] = entries.filter(_.kind != "json").map(_.id)
    def inflight: Int = entries.count(_.kind == "inflight")
  }

  /** The timeline listing — metadata-sized (one tiny file per commit),
    * never a data scan. Empty when the table has no timeline. */
  def list(spark: SparkSession, path: String): Listing = {
    val fs = Merge.fsFor(spark, path)
    val d = dir(path)
    if (!fs.exists(d)) Listing(Nil, 0)
    else {
      val files = fs.listStatus(d).toSeq.map(_.getPath)
      val entries = files.flatMap(p => p.getName match {
        case commitEntryRe(id, kind) => Some(Entry(id.toLong, kind, p))
        case _ => None
      })
      val foreign = files.map(_.getName).count {
        case commitEntryRe(_, _) => false
        case n => !n.endsWith(".plan") && !n.startsWith(".") &&
          n != headFile(path).getName
      }
      Listing(entries, foreign)
    }
  }

  /** One recorded commit, parsed from its `.json` entry. Fields that
    * records written before them lack read as empty: no `wall_ms`
    * (the commit predates every instant), no file lists. */
  final case class Record(cts: Long, nRows: Long, wallMs: Option[Long],
      partitions: String, added: Seq[String], removed: Seq[String])

  private def readRecord(fs: FileSystem, e: Entry): Record = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(
      Merge.readSmallFile(fs, e.file))
    Record(e.id,
      (j \ "n_rows").extractOrElse[Long](0L),
      (j \ "wall_ms").extractOpt[Long],
      (j \ "partitions").extractOrElse[String](""),
      (j \ "files_added").extractOrElse[Seq[String]](Nil),
      (j \ "files_removed").extractOrElse[Seq[String]](Nil))
  }

  /** Recorded commits with id > `after`, ascending. Only the entries
    * after `after` are read (the stems carry the id), so a deep
    * timeline costs nothing to travel near its head. */
  def records(spark: SparkSession, path: String, after: Long = -1L)
      : Seq[Record] = {
    val fs = Merge.fsFor(spark, path)
    list(spark, path).recorded.filter(_.id > after).sortBy(_.id)
      .map(readRecord(fs, _))
  }

  /** The record of commit `cts`, if it is recorded. */
  def recordOf(spark: SparkSession, path: String, cts: Long)
      : Option[Record] = {
    val fs = Merge.fsFor(spark, path)
    val f = recordFile(path, cts)
    if (!fs.exists(f)) None else Some(readRecord(fs, Entry(cts, "json", f)))
  }

  /** The head's id; None when it is missing or unreadable. */
  private def readHead(fs: FileSystem, path: String): Option[Long] =
    try Some(Merge.readSmallFile(fs, headFile(path)).trim.toLong)
    catch {
      case _: java.io.IOException | _: NumberFormatException => None
    }

  /** Raise the head to `cts` (complete-or-absent, temp + rename); a
    * lower id leaves it alone. */
  private def advanceHead(fs: FileSystem, path: String, cts: Long): Unit =
    if (readHead(fs, path).forall(_ < cts))
      Merge.replaceSmallFile(fs, headFile(path), cts.toString)

  /** The first candidate for the next commit id: one past the head, so
    * a claim reads one small file instead of listing every commit. The
    * head is only a starting point — [[claimFrom]] skips any id already
    * issued, so a head left behind by a crash or a racing writer costs
    * a few extra stats, never a reused id. A table without a readable
    * head (written before the head existed, or damaged) falls back to
    * one listing. The timeline is the source of truth: it never
    * regresses, even when a delete() removes every surviving row of the
    * latest commit — a data-only max would then REUSE that commit id
    * and an incremental consumer tracking `readSince(last)` would
    * silently miss the reused commit's rows. Because an id is claimed
    * BEFORE its data lands, a crash mid-commit can't cause reuse — and
    * a timeline table never needs a data scan here, which at 100 TB
    * would be a full stamp-column read per commit. The scan remains
    * only as the one-time floor for tables stamped before the timeline
    * existed. */
  private def nextId(spark: SparkSession, path: String): Long = {
    val head = readHead(Merge.fsFor(spark, path), path)
    if (head.isDefined) return head.get + 1L
    val issued = list(spark, path).issued
    if (issued.nonEmpty) return issued.max + 1L
    val st = TableState.load(spark, path)
    val dataMax =
      if (!st.hasData) 0L
      else {
        val t = Merge.readTable(spark, st)
        if (!t.columns.contains(Merge.commitCol)) 0L
        else t.agg(coalesce(max(col(Merge.commitCol)), lit(0L)))
          .head().getLong(0)
      }
    dataMax + 1L
  }

  /** Claim the next commit id by creating its inflight marker with
    * `overwrite = false` — an EXCLUSIVE create, atomic on HDFS-like
    * stores. Of two racing writers exactly one owns each id;
    * the loser observes the collision and claims the next id, so two
    * batches can never land stamped with the same commit. (This
    * serializes id allocation only — concurrent DATA commits remain
    * excluded by the single-writer contract, see the [[Merge]]
    * scaladoc.)
    *
    * Object-store caveat: S3A's `create(path, overwrite = false)` is a
    * check-then-write, not an atomic exclusive create, so on S3 the
    * claim degrades to best-effort — serialize writers
    * externally there (the reference pipeline does exactly that via its
    * single-concurrency job setting). */
  def claim(spark: SparkSession, path: String): Long = {
    Merge.fsFor(spark, path).mkdirs(dir(path))
    claimFrom(spark, path, nextId(spark, path))
  }

  /** Atomic exclusive create of an empty claim marker. Hadoop's local
    * `create(path, overwrite = false)` is CHECK-THEN-TRUNCATE — two
    * racing claimants can both pass the exists check and both
    * "succeed" (the second truncates the first), sharing a commit id.
    * On local filesystems go through POSIX O_EXCL (`Files.createFile`),
    * which the kernel makes genuinely atomic; HDFS `create` is atomic
    * at the namenode already. The S3A degradation stays as documented
    * on [[claim]]. */
  private def createExclusive(fs: FileSystem, p: Path): Unit = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
        _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      java.nio.file.Files.createFile(local)
      ()
    case _ => fs.create(p, false).close()
  }

  /** The claim loop from a given candidate id (split out so specs can
    * drive the collision path deterministically). A failed exclusive
    * create counts as a collision whenever the id is provably ISSUED —
    * its marker, recorded entry, OR rolled-back tombstone exists — not
    * merely when the marker survives: the winning writer may complete
    * its commit and delete its marker between our failed create and
    * the check, and aborting then would misreport a healthy race as an
    * IO failure. */
  def claimFrom(spark: SparkSession, path: String, start: Long): Long = {
    val fs = Merge.fsFor(spark, path)
    var cts = start
    var claimed = false
    while (!claimed) {
      val id = cts
      // "retired" = this id completed (recorded) or died (tombstoned);
      // either way it has no marker left and must never be claimed —
      // a bare exclusive create would RESURRECT it
      def retired = fs.exists(recordFile(path, id)) ||
        fs.exists(tombstoneFile(path, id))
      if (retired) cts += 1
      else {
        val marker = claimFile(path, id)
        try {
          createExclusive(fs, marker)
          // a racing writer may have recorded/tombstoned this id between
          // the check and our create (rollback drops its marker AFTER
          // tombstoning): release the stale claim rather than keep a
          // dead id alive
          if (retired) {
            fs.delete(marker, false)
            cts += 1
          } else claimed = true
        } catch {
          // a collision and a genuine IO failure both surface as plain
          // IOException on some filesystems — any surviving trace of the
          // id having been issued proves another writer took it
          case e: java.io.IOException =>
            if (fs.exists(marker) || retired) cts += 1 else throw e
        }
      }
    }
    cts
  }

  /** Record commit `cts`, advance the head, then drop its plan and
    * claim. The record is complete-or-absent (temp + rename): it is
    * the unit a CONCURRENT incremental stream tails ([[IncrementalStream]]), so a
    * half-written record must never be observable — the dot-prefixed
    * temp sibling is invisible to both the listing and the stream's
    * glob. `wall_ms` is the commit's RECORD wall-clock, written once
    * and never rewritten — what `TIMESTAMP AS OF` resolves against
    * ([[Merge.commitAtWallClock]]). Subject to writer clock skew
    * (documented there); commit ids stay the only ordering the engine
    * trusts. */
  def record(spark: SparkSession, path: String, cts: Long,
      stats: Merge.MergeStats, files: Option[Merge.CommitResult]): Unit = {
    val fs = Merge.fsFor(spark, path)
    fs.mkdirs(dir(path))
    val parts = stats.partitions.sorted.mkString(",")
    val added = files.map(_.added).getOrElse(Nil)
    val removed = files.map(_.removed).getOrElse(Nil)
    val body = s"""{"commit_ts":$cts,"n_rows":${stats.nRows},""" +
      s""""wall_ms":${System.currentTimeMillis()},""" +
      s""""partitions":${Merge.jsonQuote(parts)},""" +
      s""""files_added":${Merge.jsonArray(added)},""" +
      s""""files_removed":${Merge.jsonArray(removed)}}"""
    Merge.replaceSmallFile(fs, recordFile(path, cts), body)
    advanceHead(fs, path, cts)
    fs.delete(planFile(path, cts), false)
    fs.delete(claimFile(path, cts), false)
  }

  /** A commit's file plan: its staging dir and table-relative files. */
  final case class Plan(staging: String, added: Seq[String],
      removed: Seq[String])

  /** Land the plan of commit `cts` in the claim's `.plan` sibling,
    * complete-or-absent (temp + rename). Kept SEPARATE from the claim
    * so the claim file is never rewritten after its exclusive create: a
    * crash mid-write can never corrupt (or momentarily drop) the claim
    * itself. */
  def writePlan(fs: FileSystem, path: String, cts: Long, plan: Plan): Unit =
    Merge.replaceSmallFile(fs, planFile(path, cts),
      s"""{"commit_ts":$cts,"staging":${Merge.jsonQuote(plan.staging)},""" +
        s""""files_added":${Merge.jsonArray(plan.added)},""" +
        s""""files_removed":${Merge.jsonArray(plan.removed)}}""")

  /** The raw plan of unrecorded commit `cts` and the file it came from:
    * the `.plan` sibling, or — written by earlier engine revisions —
    * the claim marker's own body. None = the commit crashed before its
    * plan landed, so nothing was touched. */
  def planSource(fs: FileSystem, path: String, cts: Long)
      : Option[(String, Path)] = {
    val plan = planFile(path, cts)
    if (fs.exists(plan)) Some((Merge.readSmallFile(fs, plan), plan))
    else {
      val marker = claimFile(path, cts)
      Some(Merge.readSmallFile(fs, marker)).filter(_.nonEmpty).map((_, marker))
    }
  }

  def parsePlan(body: String): Plan = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(body)
    Plan((j \ "staging").extract[String],
      (j \ "files_added").extract[Seq[String]],
      (j \ "files_removed").extract[Seq[String]])
  }

  /** Reverse id `cts` on the timeline: write its tombstone FIRST and
    * advance the head, then drop its plan, claim and record — the id
    * stays issued through every crash window, so it can never be
    * reused. */
  def tombstone(fs: FileSystem, path: String, cts: Long): Unit = {
    Merge.writeSmallFile(fs, tombstoneFile(path, cts), "")
    advanceHead(fs, path, cts)
    Seq(planFile(path, cts), claimFile(path, cts), recordFile(path, cts))
      .foreach(fs.delete(_, false))
  }
}
