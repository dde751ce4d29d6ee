package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental view maintenance: a grouped-aggregate table (sum +
  * count per group) kept in sync with a versioned merge table purely
  * from its change stream — never by rescanning the source.
  *
  * Why it exists: the canonical 100 TB reporting pattern is a small
  * aggregate (revenue per partition/bucket) over a huge mutable fact
  * table. Recomputing it per refresh costs a full source scan; this
  * module applies only the DELTA of each source commit, read via
  * [[Merge.readChanges]] (insert / update pre+post image / delete
  * rows), so a refresh costs O(changed rows) + an upsert into the
  * view — independent of source size. Sum and count are
  * self-maintainable aggregates: +row for insert/post-image, −row for
  * delete/pre-image; a group-membership change arrives as a pre-image
  * in the old group and a post-image in the new one, so both adjust
  * without special-casing. Sums run in exact decimal, so incremental
  * accumulation equals a from-scratch recompute bit-for-bit (IEEE
  * double addition would drift by fold order).
  *
  * Exactly-once without a side checkpoint: every refresh stamps its
  * rows with the source commit it applied (`src_ts`), so the
  * "what have I applied" cursor IS part of the view table's own
  * atomic commit. A refresh that crashes before its view commit
  * leaves the cursor untouched (clean retry after [[Merge.rollback]]
  * of the inflight commit, per the versioned-commit contract); one
  * that crashed after is already visible in max(src_ts) and is never
  * re-applied. There is no window where the delta is half-remembered.
  *
  * Groups that empty out are kept as `n_rows = 0` tombstone rows
  * (an upsert cannot remove rows, and removing them would need a
  * second commit — reopening the crash window); [[readView]] hides
  * them, and a later insert into the group resurrects the row in
  * place. Tombstones are bounded by the number of groups ever live.
  *
  * Constraints, by construction: the source must be a VERSIONED merge
  * table (the change stream is the input); the view is partitioned by
  * one of its group columns; group columns must be non-null (hive
  * partition pathing). Single writer per view, same as every merge
  * table.
  */
object IncrementalView {

  /** Stored exact-sum type: wide enough that 10^27 cents cannot
    * overflow — sums of DECIMAL(12,2) casts at any realistic scale. */
  private val sumType = DecimalType(30, 2)

  final case class ViewSpec(
      src: String,
      srcKeys: Seq[String],
      groupCols: Seq[String],
      sumCol: String,
      partitionCol: String) {
    require(groupCols.contains(partitionCol),
      s"partitionCol $partitionCol must be one of groupCols $groupCols")
    def keyCols: Seq[String] = groupCols.filterNot(_ == partitionCol)
  }

  private def specPath(viewPath: String) =
    new Path(viewPath, "_graft_view.json")

  private[merge] def readSpec(spark: SparkSession, viewPath: String)
      : ViewSpec = {
    val fs = Merge.fsFor(spark, viewPath)
    val p = specPath(viewPath)
    require(fs.exists(p), s"no incremental view at $viewPath (missing $p)")
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(Merge.readSmallFile(fs, p))
    ViewSpec(
      (j \ "src").extract[String],
      (j \ "src_keys").extract[Seq[String]],
      (j \ "group_cols").extract[Seq[String]],
      (j \ "sum_col").extract[String],
      (j \ "partition_col").extract[String])
  }

  /** The source's latest recorded commit — what a refresh can see. */
  private def srcHead(spark: SparkSession, src: String): Long = {
    val c = Merge.commits(spark, src)
    val ts = c.agg(max("commit_ts")).collect()(0)
    require(!ts.isNullAt(0),
      s"source $src has no recorded commits — incremental views need a " +
        "source with a timeline (write to it first)")
    ts.getLong(0)
  }

  private def aggOf(rows: DataFrame, spec: ViewSpec): DataFrame =
    rows.groupBy(spec.groupCols.map(col): _*)
      .agg(
        sum(coalesce(graft.Tables.dec(col(spec.sumCol)), lit(0)))
          .cast(sumType).as("sum_v"),
        count(lit(1)).as("n_rows"))

  /** Build the view from the source's CURRENT state (the one full
    * scan this view will ever do), record the spec, and stamp the
    * cursor. Returns the applied source commit. */
  def create(spark: SparkSession, srcPath: String, viewPath: String,
      srcKeys: Seq[String], groupCols: Seq[String], sumCol: String,
      partitionCol: String): Long = {
    val spec = ViewSpec(srcPath, srcKeys, groupCols, sumCol, partitionCol)
    val head = srcHead(spark, srcPath)
    val base = aggOf(Merge.readTable(spark, srcPath), spec)
      .withColumn("src_ts", lit(head))
    Merge.bulkInsert(base, viewPath, Seq(partitionCol), spec.keyCols,
      targetFileBytes = 128L * 1024 * 1024, maxFiles = 1 << 20)
    val body =
      s"""{"src":${Merge.jsonQuote(srcPath)},""" +
        s""""src_keys":[${srcKeys.map(Merge.jsonQuote).mkString(",")}],""" +
        s""""group_cols":[${groupCols.map(Merge.jsonQuote).mkString(",")}],""" +
        s""""sum_col":${Merge.jsonQuote(sumCol)},""" +
        s""""partition_col":${Merge.jsonQuote(partitionCol)}}"""
    Merge.replaceSmallFile(Merge.fsFor(spark, viewPath),
      specPath(viewPath), body)
    head
  }

  /** Apply every source commit after the view's cursor, as ONE
    * versioned upsert into the view. Returns the new cursor (the old
    * one if the source has nothing new — then nothing is written). */
  def refresh(spark: SparkSession, viewPath: String): Long = {
    val spec = readSpec(spark, viewPath)
    val appliedRow = Merge.readTable(spark, viewPath)
      .agg(max("src_ts")).collect()(0)
    require(!appliedRow.isNullAt(0),
      s"incremental view at $viewPath has no rows, so no src_ts " +
        "cursor — was it created over an empty source? rebuild the " +
        "view once the source has data")
    val applied = appliedRow.getLong(0)
    val head = srcHead(spark, spec.src)
    require(head >= applied, s"source ${spec.src} head $head is behind " +
      s"the view cursor $applied — was the source restored/rolled back? " +
      "rebuild the view")
    if (head == applied) return applied
    val ch = Merge.readChanges(spark, spec.src, applied, head, spec.srcKeys)
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), 1)
      .otherwise(-1)
    val delta = ch.groupBy(spec.groupCols.map(col): _*)
      .agg(
        sum(sign * coalesce(graft.Tables.dec(col(spec.sumCol)), lit(0)))
          .cast(sumType).as("_dsum"),
        sum(sign.cast("long")).as("_dn"))
      .persist()
    if (delta.limit(1).count() == 0) {
      // commits in range touched no rows: nothing to write, and the
      // cursor stays (re-reading an empty range is a no-op, not drift)
      delta.unpersist()
      return applied
    }
    try {
      // only the touched groups are read back and rewritten — the
      // refresh never scans the untouched remainder of the view
      val old = Merge.readTable(spark, viewPath)
        .select((spec.groupCols :+ "sum_v" :+ "n_rows").map(col): _*)
        .join(delta.select(spec.groupCols.map(col): _*),
          spec.groupCols, "left_semi")
      val next = delta.join(old, spec.groupCols.toSeq, "left")
        .select(
          spec.groupCols.map(col) ++ Seq(
            (coalesce(col("sum_v"), lit(0).cast(sumType)) + col("_dsum"))
              .cast(sumType).as("sum_v"),
            (coalesce(col("n_rows"), lit(0L)) + col("_dn")).as("n_rows"),
            lit(head).as("src_ts")): _*)
      Merge.upsert(spark, next, viewPath, spec.keyCols, "src_ts",
        Seq(spec.partitionCol))
    } finally { delta.unpersist(); () }
    head
  }

  /** The view as a relation: live groups only (tombstones hidden),
    * cursor column dropped. */
  def readView(spark: SparkSession, viewPath: String): DataFrame = {
    val spec = readSpec(spark, viewPath)
    Merge.readTable(spark, viewPath)
      .filter(col("n_rows") > 0)
      .select((spec.groupCols :+ "sum_v" :+ "n_rows").map(col): _*)
  }
}
