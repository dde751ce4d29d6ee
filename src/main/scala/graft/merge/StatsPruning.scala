package graft.merge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping from parquet footer statistics — the
  * engine's analogue of Delta/Hudi column-stats pruning, for range
  * predicates over merge-managed tables.
  *
  * Why it exists: Spark's parquet reader already skips ROW GROUPS via
  * pushed filters, but it only does so inside tasks it has already
  * scheduled — a selective range query over a 100 TB table still lists,
  * plans, and launches a task per file split, and each task opens the
  * footer just to discover it can skip everything. Pruning at PLAN time
  * from the same footer min/max stats removes those files from the scan
  * relation entirely: no splits, no tasks, no footer-open per task.
  * On a table laid out by [[Merge.bulkInsert]]/[[Merge.clusterZOrder]]
  * (range-partitioned by key, so per-file ranges are tight and
  * disjoint) a key-range query schedules O(matching files) tasks
  * instead of O(all files).
  *
  * Unlike an index, footer stats need no maintenance and exist for
  * every parquet file ever written — including plain-parquet tables
  * adopted via [[Merge.bootstrap]] — so pruning is available on any
  * graft table with zero metadata. The footer reads themselves are
  * metadata-magnitude IO (KB per file): driver-side below
  * [[distributeFooterReadsAbove]] files, one Spark map job above it
  * (100k footers ≈ a few hundred MB of metadata read in parallel —
  * far cheaper than scheduling 100k scan tasks to skip themselves).
  *
  * The pruning is ADVISORY and conservative — it can only drop a file
  * when the footer PROVES no row matches:
  *
  *  - A file whose footer lacks the column is KEPT. (Partition columns
  *    never appear in data files — their values come from directory
  *    names, which Spark's own partition pruning handles; a column
  *    added by additive schema evolution reads back null, which a
  *    range predicate rejects, but "absent" alone cannot distinguish
  *    the two cases, so we never prune on absence.)
  *  - A block with absent/empty statistics, or a physical type outside
  *    the supported comparison domains, keeps the file.
  *  - A file whose every block has recorded stats and holds only nulls
  *    is pruned (a range predicate is null-rejecting).
  *  - Otherwise the file survives iff [min, max] overlaps [lo, hi].
  *
  * Comparison domains: integral INT32/INT64 (plus DATE days and INT64
  * TIMESTAMP millis/micros/nanos, normalized to micros), FLOAT/DOUBLE,
  * and UTF8 binary. Numerics compare exactly through BigDecimal (a
  * double bound against an INT64 column must not lose bits above 2^53).
  * Strings compare via Java String ordering, which agrees with
  * parquet's unsigned-byte stats ordering on ASCII; non-ASCII bounds
  * may merely under-prune (both orders sort any truncated/padded stats
  * bound conservatively). INT96 timestamps carry no usable stats and
  * are never pruned on.
  *
  * Correctness does not depend on pruning at all: [[readPruned]]
  * re-applies the exact range predicate to the surviving files, so a
  * wrongly-kept file contributes nothing and the result equals the
  * unpruned scan (the driver's q36 oracle — a plain SQL filter —
  * checks exactly this equivalence).
  */
object StatsPruning {

  /** Above this many data files, footers are read in one Spark map job
    * instead of a driver loop. Operational knob; specs set 0 to force
    * the distributed path at toy scale. */
  @volatile var distributeFooterReadsAbove: Int = 2048

  /** A comparison bound: exact numeric (BigDecimal) or string. */
  private[merge] sealed trait Bound extends Serializable
  private[merge] final case class NumB(v: java.math.BigDecimal) extends Bound
  private[merge] final case class StrB(v: String) extends Bound

  private[merge] def toBound(v: Any): Bound = v match {
    case b: Byte => NumB(java.math.BigDecimal.valueOf(b.toLong))
    case s: Short => NumB(java.math.BigDecimal.valueOf(s.toLong))
    case i: Int => NumB(java.math.BigDecimal.valueOf(i.toLong))
    case l: Long => NumB(java.math.BigDecimal.valueOf(l))
    case f: Float => NumB(new java.math.BigDecimal(f.toDouble))
    case d: Double => NumB(new java.math.BigDecimal(d))
    case s: String => StrB(s)
    case t: java.sql.Timestamp =>
      // epoch micros, exactly (getTime carries millis; getNanos the
      // sub-second remainder)
      NumB(java.math.BigDecimal.valueOf(
        t.getTime / 1000 * 1000000L + t.getNanos.toLong / 1000))
    case d: java.sql.Date =>
      NumB(java.math.BigDecimal.valueOf(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate =>
      NumB(java.math.BigDecimal.valueOf(d.toEpochDay))
    case other => throw new IllegalArgumentException(
      s"unsupported bound type ${other.getClass.getName} — supported: " +
        "integral/floating numerics, String, java.sql.Timestamp/Date, " +
        "LocalDate")
  }

  private def cmp(a: Bound, b: Bound): Option[Int] = (a, b) match {
    case (NumB(x), NumB(y)) => Some(x.compareTo(y))
    case (StrB(x), StrB(y)) => Some(x.compareTo(y))
    case _ => None
  }

  /** Block-level stats range in a comparison domain, or the two
    * non-range outcomes. */
  private sealed trait BlockStats
  private final case class StatsRange(min: Bound, max: Bound) extends BlockStats
  private case object AllNull extends BlockStats
  private case object Unusable extends BlockStats

  /** Extract one block's (min, max) for `column` from already-parsed
    * footer metadata. Runs on executors in the distributed path — no
    * Spark classes beyond parquet-mr. */
  private def blockStats(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : BlockStats = {
    val stats: org.apache.parquet.column.statistics.Statistics[_] =
      cc.getStatistics
    if (stats == null || stats.isEmpty) return Unusable
    if (!stats.hasNonNullValue) return AllNull
    val pt = cc.getPrimitiveType
    val logical = pt.getLogicalTypeAnnotation
    def num(scale: Long => Long, lo: Long, hi: Long): BlockStats =
      StatsRange(NumB(java.math.BigDecimal.valueOf(scale(lo))),
        NumB(java.math.BigDecimal.valueOf(scale(hi))))
    pt.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT32 =>
        logical match {
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            Unusable
          case _ => // plain ints and DATE (epoch days) compare as longs
            val s = stats.asInstanceOf[
              org.apache.parquet.column.statistics.IntStatistics]
            num(identity, s.getMin.toLong, s.getMax.toLong)
        }
      case PrimitiveType.PrimitiveTypeName.INT64 =>
        val s = stats.asInstanceOf[
          org.apache.parquet.column.statistics.LongStatistics]
        logical match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            import LogicalTypeAnnotation.TimeUnit._
            ts.getUnit match {
              case MILLIS => num(_ * 1000L, s.getMin, s.getMax)
              case MICROS => num(identity, s.getMin, s.getMax)
              case NANOS => num(_ / 1000L, s.getMin, s.getMax)
            }
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            Unusable
          case _ => num(identity, s.getMin, s.getMax)
        }
      case PrimitiveType.PrimitiveTypeName.FLOAT =>
        val s = stats.asInstanceOf[
          org.apache.parquet.column.statistics.FloatStatistics]
        StatsRange(NumB(new java.math.BigDecimal(s.getMin.toDouble)),
          NumB(new java.math.BigDecimal(s.getMax.toDouble)))
      case PrimitiveType.PrimitiveTypeName.DOUBLE =>
        val s = stats.asInstanceOf[
          org.apache.parquet.column.statistics.DoubleStatistics]
        StatsRange(NumB(new java.math.BigDecimal(s.getMin)),
          NumB(new java.math.BigDecimal(s.getMax)))
      case PrimitiveType.PrimitiveTypeName.BINARY
          if logical.isInstanceOf[
            LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val s = stats.asInstanceOf[
          org.apache.parquet.column.statistics.BinaryStatistics]
        StatsRange(StrB(s.genericGetMin.toStringUsingUTF8),
          StrB(s.genericGetMax.toStringUsingUTF8))
      case _ => Unusable // INT96, FIXED_LEN, plain BINARY: no domain
    }
  }

  /** Whether `file` can be PROVEN to hold no row with
    * `column ∈ [lo, hi]` — one footer read, no data IO. */
  private def provablyEmpty(conf: Configuration, file: String,
      column: String, lo: Bound, hi: Bound): Boolean = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val r = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala
      val perBlock = blocks.map { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == column) match {
          case None => Unusable // column absent: partition col or pre-
          // evolution file — never prune on absence (see scaladoc)
          case Some(cc) => blockStats(cc)
        }
      }
      if (perBlock.contains(Unusable)) return false
      val ranges = perBlock.collect { case sr: StatsRange => sr }
      if (ranges.isEmpty) return blocks.nonEmpty // every block all-null
      ranges.forall { sr =>
        (cmp(sr.max, lo), cmp(sr.min, hi)) match {
          case (Some(a), Some(b)) => a < 0 || b > 0 // disjoint from [lo,hi]
          case _ => false // bound domain ≠ column domain: keep
        }
      }
    } finally r.close()
  }

  /** EXACT row count of the table at `path` from parquet footer
    * metadata alone — zero data IO. Parquet footers record each file's
    * exact record count, and a COW table's live files hold exactly its
    * live rows (upsert/delete rewrite victims out), so the footer sum
    * IS `count(*)` — the difference at 100 TB between a free answer
    * and a full-table scan. Same distribution discipline as the
    * pruning arm: driver loop below [[distributeFooterReadsAbove]]
    * files, one Spark map job above. Returns (rows, files). */
  def footerRowCount(spark: SparkSession, path: String): (Long, Long) = {
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new Path(path))
    val all = Merge.listDataStatuses(fs, root).map(_.getPath.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    def rowsOf(c: Configuration, f: String): Long = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), c))
      try r.getRecordCount finally r.close()
    }
    val total =
      if (all.size <= distributeFooterReadsAbove)
        all.map(f => rowsOf(conf, f)).sum
      else {
        import scala.jdk.CollectionConverters._
        val entries = conf.iterator().asScala
          .map(e => (e.getKey, e.getValue)).toArray
        val bc = spark.sparkContext.broadcast(entries)
        val slices = math.min(
          all.size / 64 + 1, spark.sparkContext.defaultParallelism * 4)
        spark.sparkContext.parallelize(all, math.max(slices, 1))
          .mapPartitions { files =>
            val c = new Configuration(false)
            bc.value.foreach { case (k, v) => c.set(k, v) }
            files.map(f => rowsOf(c, f))
          }.sum().toLong
      }
    (total, all.size.toLong)
  }

  /** The files of the table at `path` that may hold rows with
    * `column ∈ [lo, hi]` (absolute path strings), plus the total file
    * count — exposed so specs and operators can observe the prune
    * ratio. Driver-side footer loop below
    * [[distributeFooterReadsAbove]] files, one Spark map job above. */
  def pruneFiles(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): (Seq[String], Int) = {
    val loB = toBound(lo)
    val hiB = toBound(hi)
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new Path(path))
    val all = Merge.listDataStatuses(fs, root).map(_.getPath.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val kept =
      if (all.size <= distributeFooterReadsAbove)
        all.filterNot(f => provablyEmpty(conf, f, column, loB, hiB))
      else {
        // ship the conf as plain entries (Configuration itself is not
        // serializable); rebuilding it per partition is metadata-cheap
        import scala.jdk.CollectionConverters._
        val entries = conf.iterator().asScala
          .map(e => (e.getKey, e.getValue)).toArray
        val bc = spark.sparkContext.broadcast(entries)
        val slices = math.min(
          all.size / 64 + 1, spark.sparkContext.defaultParallelism * 4)
        spark.sparkContext.parallelize(all, math.max(slices, 1))
          .mapPartitions { files =>
            val c = new Configuration(false)
            bc.value.foreach { case (k, v) => c.set(k, v) }
            files.filterNot(f => provablyEmpty(c, f, column, loB, hiB))
          }.collect().toIndexedSeq
      }
    (kept, all.size)
  }

  /** Read `path` restricted to `column BETWEEN lo AND hi`, scanning
    * only the files whose footer stats admit a match. The predicate is
    * re-applied to the surviving files, so the result is exactly the
    * unpruned `readTable(...).filter(...)` — pruning only removes
    * tasks, never changes rows. */
  def readPruned(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val (kept, _) = pruneFiles(spark, path, column, lo, hi)
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    readKept(spark, path, kept).filter(pred)
  }

  /** The table relation restricted to an explicit kept-file list (a
    * [[pruneFiles]] result) — WITHOUT the range predicate, for callers
    * that re-apply their own exact filters (the DSv2 catalog scan). */
  def readKept(spark: SparkSession, path: String, kept: Seq[String])
      : DataFrame = {
    val st = TableState.load(spark, path)
    val schema = st.schema
    if (kept.isEmpty) {
      val s = schema.getOrElse(Merge.readTable(spark, st).schema)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    } else schema match {
      // basePath recovers hive partition columns from the dir names
      // of an explicit file list (same pattern as the upsert read)
      case Some(s) => spark.read.schema(s).option("basePath", path)
        .parquet(kept: _*)
      case None => spark.read.option("mergeSchema", "true")
        .option("basePath", path).parquet(kept: _*)
    }
  }

  /** One column's table-wide stats, aggregated from footers alone.
    * `exact = false` means some file's footer lacked usable statistics
    * for the column (absent/empty stats, unset null count, or a
    * physical type outside the comparison domains — INT96, decimals);
    * the counts/bounds are then emitted as unknown rather than lied
    * about. Bounds render in the column's COMPARISON domain: integers
    * plainly, DATE as epoch days, TIMESTAMP as epoch micros, strings
    * as themselves. */
  final case class ColumnStats(column: String, nRows: Long,
      nNulls: Option[Long], minValue: Option[String],
      maxValue: Option[String], exact: Boolean)

  /** Mergeable per-column accumulator over file footers. */
  private final case class ColAcc(nulls: Long, min: Option[Bound],
      max: Option[Bound], exact: Boolean) extends Serializable

  private def mergeBound(a: Option[Bound], b: Option[Bound], keepMin: Boolean)
      : (Option[Bound], Boolean) = (a, b) match {
    case (None, x) => (x, true)
    case (x, None) => (x, true)
    case (Some(x), Some(y)) => cmp(x, y) match {
      case Some(c) => (Some(if ((c <= 0) == keepMin) x else y), true)
      case None => (None, false) // mixed domains: unknown, not wrong
    }
  }

  private def mergeAcc(a: ColAcc, b: ColAcc): ColAcc = {
    val (mn, okN) = mergeBound(a.min, b.min, keepMin = true)
    val (mx, okX) = mergeBound(a.max, b.max, keepMin = false)
    ColAcc(a.nulls + b.nulls, mn, mx, a.exact && b.exact && okN && okX)
  }

  /** (file row count, per-column accumulators) for one footer. A column
    * ABSENT from the file's schema (written before additive evolution
    * added it) reads back null for every row — exactly `fileRows`
    * nulls, no bounds: that absence is EXACT, unlike absent statistics
    * on a present column. */
  private def fileColumnStats(conf: Configuration, file: String,
      cols: Seq[String]): (Long, Map[String, ColAcc]) = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val r = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val fileRows = blocks.map(_.getRowCount).sum
      val present = r.getFooter.getFileMetaData.getSchema
        .getFields.asScala.map(_.getName).toSet
      val accs = cols.map { c =>
        if (!present.contains(c))
          c -> ColAcc(fileRows, None, None, exact = true)
        else {
          val acc = blocks.foldLeft(ColAcc(0L, None, None, exact = true)) {
            (acc, b) =>
              b.getColumns.asScala.find(_.getPath.toDotString == c) match {
                case None => acc.copy(exact = false) // schema says present,
                // chunk missing: malformed enough to refuse exactness
                case Some(cc) =>
                  val stats = cc.getStatistics
                  if (stats == null || stats.isEmpty ||
                    !stats.isNumNullsSet)
                    acc.copy(exact = false)
                  else {
                    val withNulls =
                      acc.copy(nulls = acc.nulls + stats.getNumNulls)
                    if (!stats.hasNonNullValue) withNulls
                    else blockStats(cc) match {
                      case StatsRange(lo, hi) =>
                        val (mn, okN) = mergeBound(withNulls.min, Some(lo),
                          keepMin = true)
                        val (mx, okX) = mergeBound(withNulls.max, Some(hi),
                          keepMin = false)
                        ColAcc(withNulls.nulls, mn, mx,
                          withNulls.exact && okN && okX)
                      case _ => withNulls.copy(exact = false)
                    }
                  }
              }
          }
          c -> acc
        }
      }.toMap
      (fileRows, accs)
    } finally r.close()
  }

  private def render(b: Bound): String = b match {
    case NumB(v) => v.stripTrailingZeros.toPlainString
    case StrB(s) => s
  }

  /** EXACT per-column (rows, nulls, min, max) for the table at `path`,
    * from parquet footer metadata alone — zero data IO (the
    * `graft_stats` surface; ANALYZE-grade answers at metadata price).
    *
    * Three column classes, each answered from what actually records
    * its values:
    *  - data columns: footer null counts and min/max stats, merged
    *    across files in the comparison domains [[toBound]] defines;
    *    any file with unusable stats flips `exact` to false and the
    *    unknown fields emit as null rather than a guess.
    *  - hive PARTITION columns (from the table's recorded key spec,
    *    or — for a bare parquet dir with no spec — derived from the
    *    `k=v` directory segments, the same evidence Spark's reader
    *    infers them from; without that derivation a partition column
    *    would pass the schema check yet never appear in a footer and
    *    be reported as 100% null with exact=true, the r11 advice
    *    finding): values live in directory names, not footers —
    *    bounds are the string-ordered min/max over observed directory
    *    values. A `__HIVE_DEFAULT_PARTITION__` dir is the writer's
    *    NULL sentinel: its rows count as nulls (one extra footer pass
    *    over just those files — exact), never as the literal string.
    *  - a column absent from a file's schema (pre-evolution file)
    *    reads back null there: counted as exactly that file's rows.
    *
    * Unknown columns (in neither the table schema nor the partition
    * spec) throw. Footer reads distribute above
    * [[distributeFooterReadsAbove]], same as the pruning arm. */
  def columnStats(spark: SparkSession, path: String, cols: Seq[String])
      : Seq[ColumnStats] = {
    require(cols.nonEmpty, "columnStats: empty column list")
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new Path(path))
    val all = Merge.listDataStatuses(fs, root).map(_.getPath.toString)
    val rootStr = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    // `k=v` directory segments per file (decoded exactly once — see
    // the partition-value comment below for why NOT java.net.URI)
    val fileSegs: Seq[(String, Seq[(String, String)])] =
      all.map(f => f -> Merge.partitionSegments(
        if (f.startsWith(rootStr)) f.drop(rootStr.length) else f))
    val st = TableState.load(spark, path)
    val partitionCols = st.keySpec
      .map(_.partitionCols).getOrElse(
        fileSegs.flatMap(_._2.map(_._1)).distinct)
    val tableSchema = Merge.readTable(spark, st).schema.fieldNames.toSet
    val unknown = cols.filterNot(c =>
      tableSchema.contains(c) || partitionCols.contains(c))
    require(unknown.isEmpty,
      s"columnStats: unknown column(s) ${unknown.mkString(", ")} at " +
        s"$path — not in the table schema or recorded partition spec")
    val (partCols, dataCols) = cols.partition(partitionCols.contains)
    val conf = spark.sparkContext.hadoopConfiguration
    val (totalRows, merged): (Long, Map[String, ColAcc]) = {
      // even when only partition columns are asked for, the row count
      // still comes from footers — run the pass with an empty col list
      def combine(a: (Long, Map[String, ColAcc]),
          b: (Long, Map[String, ColAcc])): (Long, Map[String, ColAcc]) =
        (a._1 + b._1, dataCols.map { c =>
          c -> mergeAcc(a._2(c), b._2(c))
        }.toMap)
      val zero: (Long, Map[String, ColAcc]) =
        (0L, dataCols.map(_ -> ColAcc(0L, None, None, exact = true)).toMap)
      if (all.isEmpty) zero
      else if (all.size <= distributeFooterReadsAbove)
        all.map(f => fileColumnStats(conf, f, dataCols))
          .foldLeft(zero)(combine)
      else {
        import scala.jdk.CollectionConverters._
        val entries = conf.iterator().asScala
          .map(e => (e.getKey, e.getValue)).toArray
        val bc = spark.sparkContext.broadcast(entries)
        val colsB = dataCols
        val slices = math.min(
          all.size / 64 + 1, spark.sparkContext.defaultParallelism * 4)
        spark.sparkContext.parallelize(all, math.max(slices, 1))
          .mapPartitions { files =>
            val c = new Configuration(false)
            bc.value.foreach { case (k, v) => c.set(k, v) }
            files.map(f => fileColumnStats(c, f, colsB))
          }.fold(zero)(combine)
      }
    }
    // partition values from the directory segments of the live files.
    // Plain string prefix-stripping, NOT java.net.URI: both `all` and
    // the root come from Hadoop Path.toString (the decoded form), so
    // the stripped segments carry the ON-DISK names — raw spaces
    // intact, Spark's %xx escapes intact, decoded exactly once by
    // Merge.partitionSegments (Spark's own unescapePathName). Parsing
    // the decoded string as a URI would throw on URI-illegal chars (a
    // space in a partition value is legal on disk — Spark's
    // escapePathName leaves it raw).
    val partValues: Map[String, Seq[String]] =
      if (partCols.isEmpty) Map.empty
      else fileSegs.flatMap(_._2).groupBy(_._1).map { case (k, vs) =>
        // the __HIVE_DEFAULT_PARTITION__ sentinel (null here) is the
        // writer's encoding of NULL, not a value: it must never
        // surface as a literal bound
        k -> vs.map(_._2).filter(_ != null).distinct.sorted
      }
    // exact null counts for partition columns: the rows under each
    // column's null-sentinel dirs, from one footer pass over JUST
    // those files (normally zero — graft writers never emit one)
    val partNulls: Map[String, Long] = partCols.map { c =>
      val nullFiles = fileSegs.collect {
        case (f, segs) if segs.contains((c, null)) => f
      }
      c -> nullFiles.map(f => fileColumnStats(conf, f, Nil)._1).sum
    }.toMap
    cols.map { c =>
      if (partCols.contains(c)) {
        val vs = partValues.getOrElse(c, Nil)
        ColumnStats(c, totalRows, Some(partNulls(c)), vs.headOption,
          vs.lastOption, exact = true)
      } else {
        val a = merged(c)
        if (a.exact)
          ColumnStats(c, totalRows, Some(a.nulls),
            a.min.map(render), a.max.map(render), exact = true)
        else ColumnStats(c, totalRows, None, None, None, exact = false)
      }
    }
  }
}
