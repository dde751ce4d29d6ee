package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.merge.Merge

/** DataSource v2 catalog for graft tables — the multi-catalog,
  * native-planning front door the v1 `format("graft")` relation cannot
  * provide (the analogue of registering a Hudi/Delta catalog plugin;
  * the reference reaches the same ergonomics by hive-syncing its Hudi
  * tables into Glue, `terraform/glue.tf:119-122`). Register with:
  *
  * {{{
  *   spark.sql.catalog.<name>           = graft.sources.GraftCatalog
  *   spark.sql.catalog.<name>.warehouse = <warehouse root path>
  * }}}
  *
  * and every `<name>.<namespace>.<table>` identifier resolves through
  * Spark's own v2 resolution: `CREATE TABLE ... USING graft
  * PARTITIONED BY (...)`, `INSERT INTO`, `INSERT OVERWRITE`, plain
  * `SELECT`, and — natively, via the [[TableCatalog]] time-travel
  * overloads rather than this engine's hint-batch rewrite —
  * `VERSION AS OF` / `TIMESTAMP AS OF`. `MERGE INTO` / `UPDATE` /
  * `DELETE FROM` on catalog tables route to the same engine commands
  * as the v1 surface ([[graft.sql.ResolveGraftMerge]] matches the v2
  * relation too), so both surfaces share one mutation code path.
  *
  * Layout: `<warehouse>/<namespace dirs>/<table>` holds an ordinary
  * graft table (same bytes as `df.write.format("graft").save(dir)`);
  * `_graft_table` in the table dir records the table options (keys,
  * precombine, partition, op) exactly as the v1 surface
  * would receive them per-write. Catalog state is therefore pure
  * filesystem metadata — listable, copyable, and shared with any v1
  * reader pointed at the same path.
  *
  * Scale shape: every catalog operation is metadata-scale (directory
  * listing, a one-line marker file, a commit-log replay); scans and
  * writes delegate to the same engine plans as the v1 relation —
  * [[GraftSource.resolveView]] / [[GraftSource.write]] — so the
  * catalog boundary adds no data movement.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {
  import GraftCatalog._

  private var catName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog '$name' requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catName

  private def nsDir(ns: Seq[String]): Path =
    new Path((warehouse +: ns).mkString("/"))
  private def tableDir(ident: Identifier): Path =
    nsDir(ident.namespace().toIndexedSeq :+ ident.name())
  private def markerOf(dir: Path): Path = new Path(dir, Marker)

  // ---- tables ------------------------------------------------------

  override def tableExists(ident: Identifier): Boolean = {
    val m = markerOf(tableDir(ident))
    fs(m).exists(m)
  }

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val dir = nsDir(ns.toIndexedSeq)
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(ns)
    f.listStatus(dir).filter(_.isDirectory)
      .filter(st => f.exists(markerOf(st.getPath)))
      .map(st => Identifier.of(ns, st.getPath.getName))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val opts = tableOptions(properties)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"graft catalog tables support identity partitioning only " +
          s"(PARTITIONED BY (col, ...)), got: $t")
    } match {
      case Nil => GraftSource.cols(opts, "partition")
      case fromTransforms => fromTransforms
    }
    require(partCols.nonEmpty,
      "graft catalog table requires PARTITIONED BY (...) or " +
        "OPTIONS (partition 'col[,col...]')")
    // Hive layout serves partition columns LAST on read; requiring the
    // declared order to agree keeps CTAS / INSERT-by-position exact
    // instead of silently reordering what SELECT * returns.
    val trailing = schema.fieldNames.takeRight(partCols.size).toSeq
    require(trailing.map(_.toLowerCase) == partCols.map(_.toLowerCase),
      s"declare partition columns last: schema ends with " +
        s"(${trailing.mkString(", ")}) but partitioning is " +
        s"(${partCols.mkString(", ")})")
    // the engine's per-row commit stamp is served as a metadata column
    // ([[GraftTable.metadataColumns]]); a user column by the same name
    // would silently vanish from the logical schema — refuse instead
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(Merge.commitCol)),
      s"'${Merge.commitCol}' is a reserved graft metadata column")
    val dir = tableDir(ident)
    val persisted = opts ++ Map(
      "partition" -> partCols.mkString(","),
      "op" -> opts.getOrElse("op", "upsert"))
    val f = fs(dir)
    // the path may pre-exist with data (e.g. an existing v1 graft table
    // being registered) — a failed CREATE must never delete it
    val dirPreExisted = f.exists(dir)
    f.mkdirs(dir)
    // claim the marker FIRST with an EXCLUSIVE create: two racing
    // CREATE TABLEs serialize on the filesystem's atomic create-if-
    // absent instead of both passing a check-then-act tableExists
    // probe. Hadoop's LOCAL create(overwrite=false) is itself
    // check-then-act, so the file:// scheme claims via NIO O_EXCL;
    // distributed stores get the FS-native exclusive create.
    val out =
      try {
        f match {
          case _: org.apache.hadoop.fs.LocalFileSystem |
              _: org.apache.hadoop.fs.RawLocalFileSystem =>
            java.nio.file.Files.createFile(
              java.nio.file.Paths.get(markerOf(dir).toUri.getPath))
            f.create(markerOf(dir), true) // claimed above; reopen to write
          case other => other.create(markerOf(dir), false)
        }
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new TableAlreadyExistsException(ident)
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new TableAlreadyExistsException(ident)
        case _: java.io.IOException if f.exists(markerOf(dir)) =>
          throw new TableAlreadyExistsException(ident)
      }
    try {
      writeMarker(out, persisted)
      Merge.createEmptyTable(spark, dir.toString, schema)
    } catch {
      case e: Throwable =>
        // roll back ONLY artifacts this call created: the claimed
        // marker always, the directory only when it didn't pre-exist
        try f.delete(markerOf(dir), false) catch { case _: Throwable => () }
        if (!dirPreExisted) {
          try f.delete(dir, true) catch { case _: Throwable => () }
        }
        throw e
    }
    loadTable(ident)
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    new GraftTable(dir.toString,
      (catName +: ident.namespace().toIndexedSeq :+ ident.name())
        .mkString("."),
      readMarker(fs(dir), markerOf(dir)), asOf = None)
  }

  /** `VERSION AS OF v` — Spark's native time-travel resolution hands
    * the version string straight here; graft versions are the
    * timeline's numeric commit ids (`Merge.commits`). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    val commit =
      try version.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft VERSION AS OF expects a numeric commit id, " +
            s"got '$version'")
      }
    t.at(commit)
  }

  /** `TIMESTAMP AS OF t` — Spark passes epoch MICROseconds; resolved
    * against the per-commit recorded wall clock to the latest commit
    * at or before the instant (same contract as the v1 surface's
    * `asOfTimestamp` and SQL x29 — including its honesty caveat: the
    * wall clock is the writer's clock). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    t.at(Merge.commitAtWallClock(spark, t.path,
      Math.floorDiv(timestampMicros, 1000L)))
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val f = fs(dir)
    var props = readMarker(f, markerOf(dir))
    val added = Seq.newBuilder[StructField]
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"graft ALTER TABLE: nested ADD COLUMN not supported " +
            s"(${a.fieldNames().mkString(".")})")
        added += StructField(a.fieldNames()(0), a.dataType(),
          nullable = true)
      case s: TableChange.SetProperty =>
        props += (s.property() -> s.value())
      case r: TableChange.RemoveProperty =>
        props -= r.property()
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other " +
          "(ADD COLUMNS and table properties only)")
    }
    val newCols = added.result()
    if (newCols.nonEmpty)
      Merge.addColumns(spark, dir.toString, StructType(newCols))
    writeMarker(f.create(markerOf(dir), true), props)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      val dir = tableDir(ident)
      fs(dir).delete(dir, true)
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    val src = tableDir(from)
    val dst = tableDir(to)
    val f = fs(src)
    f.mkdirs(dst.getParent)
    require(f.rename(src, dst),
      s"graft catalog: rename $src -> $dst failed")
  }

  // ---- namespaces --------------------------------------------------

  private def isNamespaceDir(p: Path): Boolean = {
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory &&
      !f.exists(markerOf(p))
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.nonEmpty && isNamespaceDir(nsDir(ns.toIndexedSeq))

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).filter(_.isDirectory)
      .filter(st => !f.exists(markerOf(st.getPath)))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    val dir = nsDir(ns.toIndexedSeq)
    val f = fs(dir)
    if (!isNamespaceDir(dir)) throw new NoSuchNamespaceException(ns)
    f.listStatus(dir).filter(_.isDirectory)
      .filter(st => !f.exists(markerOf(st.getPath)))
      .map(st => ns :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(ns: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    util.Collections.emptyMap()
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val dir = nsDir(ns.toIndexedSeq)
    if (namespaceExists(ns)) throw new NamespaceAlreadyExistsException(ns)
    fs(dir).mkdirs(dir)
    ()
  }

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no metadata to alter")

  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    val dir = nsDir(ns.toIndexedSeq)
    val f = fs(dir)
    if (!cascade && f.listStatus(dir).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${ns.mkString(".")} is not empty (use CASCADE)")
    f.delete(dir, true)
  }
}

object GraftCatalog {
  /** Table marker file: presence marks a table dir (vs a namespace
    * dir); content is the table's write options, one `key=value` per
    * line — the exact map the v1 `format("graft")` writer takes. */
  private[sources] val Marker = "_graft_table"

  /** Reserved v2 catalog properties that are Spark bookkeeping, not
    * graft write options. */
  private val Reserved = Set(TableCatalog.PROP_PROVIDER,
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE,
    TableCatalog.PROP_COLLATION)

  /** CREATE TABLE properties → graft options: `OPTIONS (...)` arrive
    * prefixed with [[TableCatalog.OPTION_PREFIX]], `TBLPROPERTIES`
    * bare; both are accepted, reserved Spark keys dropped. */
  private def tableOptions(properties: util.Map[String, String])
      : Map[String, String] =
    properties.asScala.toMap.collect {
      case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.substring(TableCatalog.OPTION_PREFIX.length) -> v
      case (k, v) if !Reserved.contains(k) => k -> v
    }

  private def writeMarker(out: org.apache.hadoop.fs.FSDataOutputStream,
      props: Map[String, String]): Unit = {
    val body = props.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def readMarker(f: org.apache.hadoop.fs.FileSystem,
      marker: Path): Map[String, String] = {
    Merge.readSmallFile(f, marker).linesIterator.filter(_.contains("="))
      .map { line =>
        val i = line.indexOf('=')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
  }
}

/** A catalog-resolved graft table: [[SupportsRead]] through the public
  * [[V1Scan]] migration shim (the scan wraps the engine's own resolved
  * snapshot plan, so pushed filters and pruned columns reach the
  * parquet reader through Catalyst — identical bytes-read profile to
  * the v1 relation), [[SupportsWrite]] through [[V1Write]] into the
  * shared [[GraftSource.write]] dispatch. `asOf` pins a time-travel
  * snapshot (read-only).
  */
class GraftTable(val path: String, tableName: String,
    tableProps: Map[String, String], asOf: Option[Long])
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  /** The v1-shaped option map — what [[GraftSource.resolveView]],
    * [[GraftSource.write]] and the SQL mutation rules consume. */
  def parameters: Map[String, String] =
    tableProps ++ Map("path" -> path) ++
      asOf.map(c => "asOf" -> c.toString)

  private[sources] def at(commit: Long): GraftTable =
    new GraftTable(path, s"$tableName@$commit", tableProps, Some(commit))

  override def name(): String = tableName

  private lazy val resolvedSchema: StructType =
    GraftSource.resolveView(spark, parameters).schema

  // resolved (hive-layout) order: partition columns last — the same
  // order every SELECT returns; createTable enforces declared == this.
  // The engine's per-row commit stamp is NOT part of the logical
  // schema: it surfaces as a metadata column below (the DSv2-native
  // shape — `SELECT *` and INSERT see user columns only, while
  // `SELECT _commit_ts, ...` still works on request), so SQL writers
  // never have to name-dodge an internal column the way the v1 DDL
  // surface does.
  override lazy val schema: StructType =
    StructType(resolvedSchema.filterNot(_.name == Merge.commitCol))

  override def metadataColumns(): Array[MetadataColumn] =
    if (resolvedSchema.fieldNames.contains(Merge.commitCol))
      Array(new MetadataColumn {
        override def name: String = Merge.commitCol
        override def dataType: org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = true
        override def comment: String =
          "commit id that last wrote this row"
      })
    else Array.empty

  override def partitioning(): Array[Transform] =
    GraftSource.cols(tableProps, "partition").map(Expressions.identity)
      .toArray

  override def properties(): util.Map[String, String] =
    tableProps.asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val params = parameters
    new GraftScanBuilder(schema,
      () => GraftSource.resolveView(SparkSession.active, params), params)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"cannot write to a time-travel snapshot of $tableName")
    new GraftWriteBuilder(parameters)
  }
}

/** Standard v2 pushdown surface: translatable filters are recorded (and
  * later applied INSIDE the wrapped snapshot plan, where Catalyst
  * pushes them to the parquet scan); every filter is also returned as
  * post-scan so Spark's own Filter node keeps exact semantics for the
  * untranslatable remainder — the same split the v1 relation's
  * `unhandledFilters` declares. Column pruning narrows the projection
  * the same way. */
private[sources] class GraftScanBuilder(tableSchema: StructType,
    resolve: () => DataFrame, params: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftFilters.translate(f).isDefined)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftV1Scan(resolve, pushed, required, params)
}

private[sources] class GraftV1Scan(resolve: () => DataFrame,
    pushed: Array[Filter], required: StructType,
    params: Map[String, String]) extends V1Scan {

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft [pushed: ${pushed.mkString(", ")}] " +
      s"[read: ${required.fieldNames.mkString(", ")}]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftV1TableScan(context, resolve, pushed, required, params)
      .asInstanceOf[T]
}

private[sources] class GraftV1TableScan(ctx: SQLContext,
    resolve: () => DataFrame, pushed: Array[Filter],
    required: StructType, params: Map[String, String])
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = required

  override def buildScan(): RDD[Row] = {
    // plan-time file pruning when the pushed conjunction bounds a
    // column on both sides (CatalogStatsPrune) — falls back to the
    // full snapshot; every pushed filter is re-applied either way, so
    // pruning can only shrink IO, never change rows
    val base = CatalogStatsPrune
      .tryPrune(ctx.sparkSession, params, pushed)
      .getOrElse(resolve())
    // filter BEFORE projecting: a pushed filter column need not be in
    // the required set; empty projections (count-only) read no columns
    val filtered = pushed.flatMap(GraftFilters.translate)
      .foldLeft(base)((d, c) => d.filter(c))
    filtered.select(required.fieldNames.toIndexedSeq.map(col): _*).rdd
  }
}

/** INSERT INTO appends with the table's recorded `op` (upsert by
  * default); INSERT OVERWRITE / TRUNCATE map to the engine's
  * partition-scoped insert-overwrite — the SAME contract as the v1
  * surface's SaveMode.Overwrite (Hudi insert_overwrite: partitions
  * present in the incoming batch are replaced, others untouched).
  *
  * Because the engine's overwrite unit is the hive partition, a
  * filtered overwrite is honored only when the filter IS a partition
  * selection consistent with the batch (the static
  * `INSERT OVERWRITE t PARTITION (p = v)` shape): identity
  * equality on partition columns, verified at write time against the
  * incoming rows. Anything else (a non-partition column, a range, a
  * disjunction) cannot be expressed as replace-these-partitions and is
  * REFUSED rather than silently reinterpreted — an advertised
  * OVERWRITE_BY_FILTER that ignored its filter would delete rows the
  * condition never selected. */
private[sources] class GraftWriteBuilder(parameters: Map[String, String])
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {

  private var overwrite = false
  // (column, value) pins the write must prove against the batch
  private var pins: Seq[(String, Any)] = Nil

  private def partitionCols: Set[String] =
    GraftSource.cols(parameters, "partition").map(_.toLowerCase).toSet

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo}
    pins = filters.toSeq.flatMap {
      case _: AlwaysTrue => Nil
      case EqualTo(att, v) if partitionCols.contains(att.toLowerCase) =>
        Seq(att -> v)
      case EqualNullSafe(att, v)
          if partitionCols.contains(att.toLowerCase) && v != null =>
        Seq(att -> v)
      case f => throw new UnsupportedOperationException(
        s"graft overwrite supports only whole-table truncation or " +
          s"identity partition-column pins " +
          s"(INSERT OVERWRITE ... PARTITION (col = v)); cannot honor " +
          s"filter $f as a partition replacement")
    }
    overwrite = true; this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation(): InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, over: Boolean): Unit = {
          // every incoming row must sit inside the pinned partitions —
          // otherwise replace-batch-partitions would overwrite
          // partitions the filter never selected
          pins.foreach { case (att, v) =>
            val stray = data.where(!(col(att) <=> lit(v))).limit(1)
            require(stray.isEmpty,
              s"INSERT OVERWRITE pinned to $att = $v, but the batch " +
                s"contains rows outside that partition")
          }
          GraftSource.write(data.sparkSession.sqlContext,
            if (overwrite || over) SaveMode.Overwrite else SaveMode.Append,
            parameters, data)
        }
      }
  }
}
