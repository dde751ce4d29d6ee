package graft.merge

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  Expression, Literal, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform

/** Key-based table maintenance over a hive-partitioned parquet table —
  * the engine-native replacement for the reference's Hudi COPY_ON_WRITE
  * sink (`glue/scripts/load_transactions.py:61-80,117-122`; SURVEY §2.4).
  *
  * Semantics reproduced:
  *  - upsert (O1): incoming rows replace stored rows with the same key;
  *    `write_operation='upsert'` default per
  *    `terraform/aws_lambda_process_orders.tf:19`.
  *  - precombine dedup (O4): within one batch, duplicate keys resolved by
  *    max precombine field (`load_transactions.py:58,67`) — matching
  *    Hudi's OverwriteWithLatestAvroPayload, which dedups the *batch* by
  *    precombine and always lets the batch overwrite the table.
  *  - delete (O3): stored rows whose key appears in the batch are removed.
  *  - composite key (O5): `ComplexKeyGenerator` two-field record key.
  *  - schema evolution: a batch may CARRY NEW COLUMNS (Hudi's additive
  *    evolution; the reference's own `additional_columns` mechanism,
  *    `load_transactions.py:96-107`, makes "a later batch injects a new
  *    literal column" a normal workflow) — stored rows read back
  *    null-filled. A batch that DROPS stored columns still fails loudly.
  *
  * Scale design (100 TB): a COW upsert must rewrite as little as
  * possible. Write amplification is bounded at FILE-GROUP granularity,
  * exactly like Hudi COW:
  *  1. collect the batch's scoped keys (bounded by the batch size):
  *     they give the touched partitions, the empty-batch no-op and
  *     whether the precombine window must run (a key repeats). A write
  *     that collects no keys takes its partitions from the hive paths
  *     of the files it holds ([[partitionsOf]]), never from a job;
  *  2. a column-pruned key scan of only the touched partition dirs,
  *     filtered by membership in those keys, finds the parquet FILES
  *     that contain matched keys;
  *  3. only those files are read back and reconciled; every other file —
  *     including files in the SAME partition whose key range the batch
  *     missed — is left physically untouched (a hot partition no longer
  *     costs a partition-sized rewrite per row);
  *  4. the merged replacement rows are staged durably (written ONCE,
  *     hive-partitioned, in a staging sibling), the superseded files
  *     retired, and the staged files RENAMED into the table — on
  *     HDFS-like filesystems renames are metadata operations, so the
  *     data is never written twice. On object stores (S3A) rename is
  *     copy+delete: the publish step then re-copies the staged bytes
  *     and the partial-commit crash window widens accordingly (see
  *     [[commitFiles]]).
  * The reconcile itself is the same membership test negated, so the
  * only table-sized cost is the key scan of the touched partitions —
  * column-pruned to the key columns, which parquet serves from
  * dictionary/stats pages. A write is three jobs: collect, probe, write.
  *
  * ==Single-writer contract==
  * A merge-managed table admits ONE writer at a time (the reference
  * enforces the same serialization via `max_concurrent_runs = 1`,
  * `terraform/glue.tf:94-96`). Two concurrent file-group merges can
  * plan against the same stored file and each retire it; the engine
  * detects the violation (a superseded file that vanished mid-commit
  * fails the commit loudly, before any replacement lands) but does not
  * arbitrate it — serialize writers externally. Every write
  * additionally claims its commit id via an exclusive-create inflight
  * marker, so even racing writers can never stamp two batches with the
  * same commit id.
  */
object Merge {

  /** What a merge wrote: deduped batch row count + touched partition
    * tuples as [[renderPartition]] renders them (`1/x` for multi-level
    * partitioning, the bare value for the single-column common case) —
    * the commit-metadata payload for [[upsert]]. */
  final case class MergeStats(nRows: Long, partitions: Seq[String])

  /** The physical outcome of one durable commit: table-relative file
    * lists recorded in the commit metadata (rollback reverses exactly
    * these), plus the staging dir the caller sweeps after the commit
    * record lands (none for a metadata-only adoption). */
  private[merge] final case class CommitResult(
      added: Seq[String], removed: Seq[String], staging: Option[String])

  /** O4: within-batch dedup keeping the max-precombine row per key.
    * `tieBreak` makes the choice total when precombine itself ties (Hudi
    * picks an arbitrary winner; we pick a deterministic one). */
  def precombineDedup(
      batch: DataFrame,
      keyCols: Seq[String],
      precombine: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(precombine).desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** O5: ComplexKeyGenerator-style composite record key. */
  def compositeKey(keyCols: Seq[String]): Column =
    concat_ws(":", keyCols.map(col): _*)

  /** The key expressions `keys` normalized as Spark's hash joins and
    * aggregates normalize theirs (one NaN, -0.0 = 0.0); projected to an
    * UnsafeRow they compare by bytes (binary by content, null = null). */
  private def keyRow(keys: Seq[Expression]): Seq[Expression] =
    keys.map(GraftSqlBridge.normalizeKey)

  /** True where the key columns `children` hold one of `keys` (rows of
    * [[keyRow]] at the children's types): the build side of a hash join,
    * made on the driver and broadcast once, as a broadcast join's is. A
    * broadcast join of the collected keys would cost one more job per
    * use (the broadcast exchange collects even a LocalRelation with a
    * job). */
  private final case class KeyIn(children: Seq[Expression],
      keys: Broadcast[KeySet]) extends Expression with Predicate {
    @transient private lazy val project = UnsafeProjection.create(keyRow(children))
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = keys.value.contains(project(input))
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val row = GenerateUnsafeProjection.createCode(ctx, keyRow(children))
      val bc = ctx.addReferenceObj("keys", keys, classOf[Broadcast[_]].getName)
      ev.copy(code = code"""${row.code}
        |boolean ${ev.value} = ((${classOf[KeySet].getName}) $bc.value())
        |  .contains(${row.value});""".stripMargin,
        isNull = FalseLiteral)
    }
    override def toString: String =
      s"(${children.mkString(", ")}) IN ${keys.value.size} keys"
    override def simpleString(maxFields: Int): String = toString
    override def sql: String = toString
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): KeyIn = copy(children = c)
  }

  /** The key rows [[KeyIn]] broadcasts, packed into one array (each row
    * as its 8-byte size, then its bytes), so any serializer writes one
    * array: Java-serializing a set of 10⁶ rows, one object per key,
    * took seconds. The set over the packed rows is built where it is
    * first read. Not `private`: generated code names the class. */
  private[merge] final class KeySet(numFields: Int, rows: Seq[UnsafeRow])
      extends Serializable {
    private val packed = new Array[Byte](
      Math.toIntExact(rows.iterator.map(8L + _.getSizeInBytes).sum))
    rows.foldLeft(Platform.BYTE_ARRAY_OFFSET.toLong) { (at, r) =>
      Platform.putLong(packed, at, r.getSizeInBytes)
      r.writeToMemory(packed, at + 8)
      at + 8 + r.getSizeInBytes
    }
    @transient private lazy val set = {
      val keys = new java.util.HashSet[UnsafeRow]()
      var at = Platform.BYTE_ARRAY_OFFSET.toLong
      while (at < Platform.BYTE_ARRAY_OFFSET + packed.length) {
        val key = new UnsafeRow(numFields)
        key.pointTo(packed, at + 8, Platform.getLong(packed, at).toInt)
        keys.add(key)
        at += 8 + key.getSizeInBytes
      }
      keys
    }
    def size: Int = set.size
    def contains(key: UnsafeRow): Boolean = set.contains(key)
  }

  /** A keyed write's scoped keys in the one form [[KeyIn]] compares:
    * one normalized key row per batch row, in batch order, collected
    * once (bounded by the batch size). Whether a key repeats, the
    * touched partitions and the broadcast key set all read these rows;
    * only the distinct partition tuples become Scala values, for
    * directory names and the timeline. [[typed]] casts the rows to the
    * stored types on the driver, so neither it nor [[in]] runs a job. */
  private final case class BatchKeys(spark: SparkSession, schema: StructType,
      rows: Seq[UnsafeRow], partitionCols: Seq[String]) {
    private def cols = schema.fieldNames.toSeq
    private def ref(c: String): Expression =
      BoundReference(schema.fieldIndex(c), schema(c).dataType, true)
    private lazy val set = new KeySet(schema.size, rows)
    def repeats: Boolean = set.size < rows.size
    lazy val parts: Seq[Seq[Any]] = {
      val project = UnsafeProjection.create(partitionCols.map(ref))
      val distinct = scala.collection.mutable.LinkedHashSet.empty[UnsafeRow]
      rows.foreach { r =>
        val p = project(r)
        if (!distinct.contains(p)) distinct += p.copy()
      }
      val toScala = scalaValues(StructType(partitionCols.map(schema(_))))
      distinct.toSeq.map(toScala)
    }
    def typed(stored: StructType): BatchKeys =
      if (cols.forall(c => schema(c).dataType == stored(c).dataType)) this
      else {
        val tz = Some(SQLConf.get.sessionLocalTimeZone)
        val cast = UnsafeProjection.create(keyRow(cols.map(c =>
          Cast(ref(c), stored(c).dataType, tz))))
        BatchKeys(spark, StructType(cols.map(stored(_))),
          rows.map(r => cast(r).copy()), partitionCols)
      }
    /** Null-safe membership of a row's scoped key in these keys. */
    lazy val in: Column = GraftSqlBridge.column(KeyIn(cols.map(c =>
      GraftSqlBridge.expression(col(c).cast(schema(c).dataType))),
      spark.sparkContext.broadcast(set)))
  }

  /** The batch's [[BatchKeys]]: its scoped key columns, normalized in
    * the plan and collected as the plan's own UnsafeRows. */
  private def batchKeys(batch: DataFrame, spec: KeySpec): BatchKeys = {
    val keys = batch.select(spec.scoped.map(col): _*)
    val qe = keys.select(keyRow(keys.queryExecution.analyzed.output)
      .map(GraftSqlBridge.column): _*).queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    BatchKeys(batch.sparkSession, keys.schema,
      rows.toSeq.map(_.asInstanceOf[UnsafeRow]), spec.partitionCols)
  }

  /** Null-safe membership for the touched-partition filter: a plain
    * `isin` evaluates to NULL (= dropped) for null-partition rows, so a
    * batch touching the null partition would silently exclude its
    * stored rows from the rewrite — under delete() that turns into
    * destroying the whole __HIVE_DEFAULT_PARTITION__ directory instead
    * of removing one key. Single-column keeps the `isin` shape (one
    * InSet that partition pruning folds); multi-column becomes an OR of
    * per-tuple null-safe conjunctions — partition tuples are few, so
    * the predicate stays small. */
  private[merge] def partitionIn(partitionCols: Seq[String], parts: Seq[Seq[Any]])
      : Column =
    if (partitionCols.size == 1) {
      val vals = parts.map(_.head)
      val nonNull = vals.filterNot(_ == null)
      val base =
        if (nonNull.isEmpty) lit(false)
        else col(partitionCols.head).isin(nonNull: _*)
      if (vals.exists(_ == null)) base || col(partitionCols.head).isNull
      else base
    } else
      parts.map { tuple =>
        partitionCols.zip(tuple)
          .map { case (c, v) => col(c) <=> lit(v) }
          // zero partition columns: every row lives in the one
          // (empty-tuple) partition, so its membership test is TRUE —
          // an unpartitioned table's delete/upsert scopes to the
          // whole table, not to nothing
          .reduceOption(_ && _).getOrElse(lit(true))
      }.reduceOption(_ || _).getOrElse(lit(false))

  /** The Scala values `collect` returns for a row of `schema`. */
  private def scalaValues(schema: StructType): InternalRow => Seq[Any] =
    ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      .andThen(_.toSeq)

  // The hive partition path, both halves: a partition tuple renders to
  // `c=v` directories as Spark's partitioned writes render them, and a
  // file path parses back to the tuple Spark's partition discovery
  // reads from it.

  /** One hive path segment, rendered and escaped exactly as Spark's
    * partitioned writes do it: the value cast to a string in the
    * session time zone, null or empty → `__HIVE_DEFAULT_PARTITION__`. */
  private def partitionDirName(colName: String, v: Any): String = {
    val rendered = Cast(Literal(v), StringType,
      Some(SQLConf.get.sessionLocalTimeZone))
      .eval()
    ExternalCatalogUtils.getPartitionPathString(colName,
      Option(rendered).map(_.toString).orNull)
  }

  /** The table-relative directory of one partition tuple
    * (`pair=ADAGBP` or `day=2024-01-01/pair=ADAGBP`; "" for the empty
    * tuple of an unpartitioned table). */
  private[merge] def partitionRelDir(cols: Seq[String], vals: Seq[Any]): String =
    cols.zip(vals).map { case (c, v) => partitionDirName(c, v) }.mkString("/")

  /** The `c=v` directories of a relative file path as (column, value)
    * strings, unescaped as Spark's partition discovery unescapes them;
    * the `__HIVE_DEFAULT_PARTITION__` sentinel is null. The file name
    * and segments without `=` (`_graft_deltas`) are skipped. */
  private[merge] def partitionSegments(relPath: String): Seq[(String, String)] =
    relPath.split('/').dropRight(1).toSeq.filter(_.indexOf('=') > 0)
      .map { seg =>
        val Array(c, v) =
          seg.split("=", 2).map(ExternalCatalogUtils.unescapePathName)
        c -> (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else v)
      }

  /** The distinct partition tuples of `files` (table-relative paths) in
    * `partitionCols` order: each directory value cast to its column's
    * type in `schema` in the session time zone, as the Scala value
    * `collect` returns — what a distinct collect of the files' partition
    * columns gives, without the job. An unpartitioned table is one
    * (empty-tuple) partition, touched whatever the files. */
  private[merge] def partitionsOf(files: Seq[String],
      partitionCols: Seq[String], schema: StructType): Seq[Seq[Any]] =
    if (partitionCols.isEmpty) Seq(Seq.empty)
    else {
      val tz = Some(SQLConf.get.sessionLocalTimeZone)
      val toScala = scalaValues(StructType(partitionCols.map(schema(_))))
      files.map(partitionSegments(_).toMap).distinct.map { segs =>
        toScala(InternalRow.fromSeq(partitionCols.map { c =>
          require(segs.contains(c), s"no $c= directory in a path with $segs")
          Cast(Literal(segs(c)), schema(c).dataType, tz).eval()
        }))
      }.distinct
    }

  /** The directory of one partition tuple under `root`; the empty tuple
    * of an unpartitioned table is the root itself. */
  private[merge] def partitionDir(root: Path, cols: Seq[String],
      vals: Seq[Any]): Path = {
    val rel = partitionRelDir(cols, vals)
    if (rel.isEmpty) root else new Path(root, rel)
  }

  /** Human-readable partition tuple for commit metadata: raw values
    * joined by '/' (single-column renders as the bare value, matching
    * the pre-multi-level metadata format). */
  private[merge] def renderPartition(vals: Seq[Any]): String =
    vals.map(v => if (v == null) "__HIVE_DEFAULT_PARTITION__" else v.toString)
      .mkString("/")

  private[merge] def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.mkString finally src.close()
    } finally in.close()
  }

  private[merge] def writeSmallFile(fs: FileSystem, p: Path, body: String)
      : Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Crash-safe in-place metadata update: write a temp sibling, then
    * swap. `fs.create(p, true)` truncates FIRST — a JVM kill mid-write
    * would leave permanently corrupt JSON that fails every later read;
    * with the swap, the worst crash window leaves the file momentarily
    * absent, which readers treat as "no metadata" and degrade
    * gracefully (footer-merge fallback). */
  private[graft] def replaceSmallFile(fs: FileSystem, p: Path,
      body: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp${System.nanoTime()}")
    writeSmallFile(fs, tmp, body)
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"failed to move $tmp into place at $p")
  }

  /** Additive union of the recorded schema and this write's schema (a
    * field's FIRST recorded type wins — evolution adds columns, never
    * retypes them). The recorded schema only grows, so a write that adds
    * no field to the loaded one leaves the file alone. A write that does
    * add one unions with the file as it is NOW, not as loaded: a
    * concurrent writer may have recorded a column since this operation
    * began. Returns the state carrying what is recorded now. */
  private[merge] def updateSchemaMeta(spark: SparkSession, st: TableState,
      schema: StructType): TableState = {
    if (st.schema.exists(s => schema.fieldNames.forall(s.fieldNames.contains)))
      return st
    // when the recorded schema is missing OR unreadable, the base must
    // come from the actual files (footer merge), NOT the batch alone —
    // otherwise one plain insert after a metadata corruption would
    // re-record a NARROWER schema and hide (or, via compact, physically
    // drop) every evolved column the batch doesn't carry. The files are
    // read DIRECTLY (no hive-layout basePath), so the partition column
    // never goes through dir-name type inference — recording an
    // inferred int for a numeric-LOOKING string partition would
    // permanently retype it (first-recorded-type-wins); instead the
    // partition column joins from the incoming schema, which carries
    // its true type. A table that had no data before this operation
    // holds only this write's files, whose schema is `schema`.
    val base = TableState.rereadSchema(st).orElse {
      val dataFiles =
        if (!st.hasData) Nil
        else listDataStatuses(st.fs, st.root).map(_.getPath.toString)
      if (dataFiles.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(dataFiles: _*).schema)
    }
    val merged = base match {
      case None => schema
      case Some(old) =>
        StructType(old.fields ++
          schema.fields.filterNot(f => old.fieldNames.contains(f.name)))
    }
    // the schema file is the one metadata target CONCURRENT writers on
    // disjoint partitions both touch — a lost delete+rename race here
    // would hide the losing writer's evolved columns. Retry bounded:
    // re-read the winner's union and fold ours in (additive unions
    // commute, so any interleaving converges to the same field set).
    var attempts = 0
    var done: Option[TableState] = None
    var toWrite = merged
    while (done.isEmpty) {
      try done = Some(TableState.writeSchema(st, toWrite))
      catch {
        case _: java.io.IOException if attempts < 5 =>
          attempts += 1
          val theirs = TableState.rereadSchema(st)
          toWrite = theirs match {
            case None => toWrite
            case Some(t) => StructType(t.fields ++
              toWrite.fields.filterNot(f => t.fieldNames.contains(f.name)))
          }
      }
    }
    done.get
  }

  /** Create an EMPTY table: directory + recorded schema, no data files
    * (the `CREATE TABLE (cols...) USING graft` DDL shape — reads
    * resolve and return zero rows until the first write). */
  def createEmptyTable(spark: SparkSession, path: String,
      schema: StructType): Unit = {
    fsFor(spark, path).mkdirs(new Path(path))
    updateSchemaMeta(spark, TableState.load(spark, path), schema)
    ()
  }

  /** Additive schema evolution as an explicit DDL operation (the
    * `ALTER TABLE ... ADD COLUMNS` shape): appends `newCols` to the
    * recorded schema. Pure metadata — no data file is touched; rows
    * written before the evolution read the new columns as null.
    * Duplicate names fail loudly (ALTER semantics), unlike the
    * implicit write-side union which treats re-sent columns as
    * already-evolved. */
  def addColumns(spark: SparkSession, path: String,
      newCols: StructType): Unit = {
    val st = TableState.load(spark, path)
    val existing = st.schema.getOrElse(
      throw new IllegalArgumentException(
        s"ALTER TABLE ADD COLUMNS: no graft table recorded at $path"))
    val resolver = spark.sessionState.conf.resolver
    newCols.fields.foreach { f =>
      require(!existing.fields.exists(e => resolver(e.name, f.name)),
        s"ALTER TABLE ADD COLUMNS: column '${f.name}' already exists " +
          s"in ${existing.simpleString}")
    }
    updateSchemaMeta(spark, st, StructType(existing.fields ++ newCols.fields))
    ()
  }

  /** Read a merge-managed table. Prefers the recorded schema (exact
    * types + null-fill for files written before an additive evolution);
    * falls back to a parquet footer-merge for tables written by older
    * code. Plain `spark.read.parquet(path)` stays correct for tables
    * that never evolved — this is the general entry point. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    readTable(spark, TableState.load(spark, path))

  private[merge] def readTable(spark: SparkSession, st: TableState)
      : DataFrame =
    st.schema match {
      case Some(s) => spark.read.schema(s).parquet(st.path)
      case None => spark.read.option("mergeSchema", "true").parquet(st.path)
    }

  /** The one COW/MOR read dispatch: the current snapshot (`asOf` None)
    * or the snapshot as of a recorded commit. A MOR table merges its
    * live (or as-of) delta files over the base; a COW table reads its
    * base namespace. */
  private[graft] def readState(spark: SparkSession, st: TableState,
      asOf: Option[Long]): DataFrame = (st.mor, asOf) match {
    case (Some(_), None) => MorTable.read(spark, st)
    case (Some(_), Some(c)) => MorTable.readAsOf(spark, st, c)
    case (None, None) => readTable(spark, st)
    case (None, Some(c)) => snapshotAt(spark, st, c)
  }

  /** `input_file_name()` yields the URL-ENCODED path (a literal '%' in
    * a hive-escaped dir name arrives as "%25") and neither Path(String)
    * nor DataFrameReader decodes it — decode exactly once via the URI
    * constructor so both the FS delete and the file-list read resolve
    * the raw on-disk name. */
  private[merge] def decodeFileName(urlEncoded: String): String =
    new Path(new java.net.URI(urlEncoded)).toString

  /** Project `df` onto `target` columns: cast where present, null-fill
    * where absent (the read-side half of additive evolution). */
  private[merge] def alignTo(df: DataFrame, target: Seq[(String, DataType)])
      : DataFrame =
    df.select(target.map { case (n, t) =>
      if (df.columns.contains(n)) col(n).cast(t).as(n)
      else lit(null).cast(t).as(n)
    }: _*)

  /** Data files under `root`, recursively, skipping metadata entries
    * ('_'/'.'-prefixed at any level — `_SUCCESS`, `.crc` siblings,
    * `_graft_commits/`...). */
  private def listDataFiles(fs: FileSystem, root: Path): Seq[Path] =
    listDataStatuses(fs, root).map(_.getPath)

  /** [[listDataFiles]] with the full `FileStatus` (the byte sizes feed
    * the key-index probe/build gates). */
  private[merge] def listDataStatuses(fs: FileSystem, root: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) listDataStatuses(fs, st.getPath)
      else Seq(st)
    }

  private[merge] def relativize(root: Path, p: Path): String =
    root.toUri.relativize(p.toUri).getPath

  /** Drop a partition directory that holds no data, then any emptied
    * ancestors — up to `levels` levels, never the table root. The ONE
    * husk-prevention rule, shared by delete()'s emptied-partition sweep
    * and rollback's un-publish cleanup: a leaf whose only residents are
    * '_'/'.'-prefixed metadata (checksum siblings, temp files) counts
    * as emptied and is removed recursively; ancestors must be literally
    * empty. A surviving husk is worse than cosmetic — a table whose
    * only entry is an empty partition dir reads as "existing" and fails
    * schema inference on the next write. */
  private[merge] def dropEmptiedDirs(fs: FileSystem, leaf: Path, levels: Int): Unit = {
    var p = leaf
    var lv = levels
    var emptied = lv > 0 && fs.exists(p) && fs.listStatus(p).forall { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    while (emptied) {
      if (!fs.delete(p, true))
        throw new java.io.IOException(
          s"failed to drop emptied partition dir $p")
      p = p.getParent
      lv -= 1
      emptied = lv > 0 && fs.exists(p) && fs.listStatus(p).isEmpty
    }
  }

  /** Where a commit's retired (superseded) files wait between being
    * unlinked from the table and the commit record landing — the
    * crash-recovery copy [[rollback]] restores. '_'-prefixed, so
    * invisible to every read. */
  private[merge] def rollbackDir(path: String, cts: Long): Path =
    new Path(path, f"_graft_rollback/$cts%020d")

  /** Drop a commit's working state after it is durably recorded (or
    * fully rolled back): the staging sibling and, for a rolled-back
    * commit, the retired-file copy. A failed sweep must be VISIBLE —
    * each leaked dir holds real data and accumulates silently
    * otherwise. */
  private[merge] def sweepCommitScratch(fs: FileSystem, staging: String,
      rollback: Option[Path]): Unit = {
    val stagingPath = new Path(staging)
    if (fs.exists(stagingPath) && !fs.delete(stagingPath, true))
      System.err.println(
        s"[graft.merge] WARN: failed to remove staging dir $staging " +
          "after a successful commit; delete it manually")
    rollback.foreach { rb =>
      if (fs.exists(rb) && !fs.delete(rb, true))
        System.err.println(
          s"[graft.merge] WARN: failed to remove retired-file dir $rb " +
            "after a successful commit; delete it manually")
    }
  }

  /** Durable commit of a file-group merge, in three mechanical steps:
    *
    *  1. STAGE: write the replacement rows ONCE, hive-partitioned, into
    *     a staging sibling. The replacement exists durably before any
    *     stored file is touched, and the staged file names are the final
    *     table file names — so the full commit plan (files to add, files
    *     to remove) is known before any mutation, and is recorded in a
    *     plan sibling of the inflight marker ([[rollback]] reads it
    *     back).
    *  2. RETIRE: unlink each superseded file — MOVED under
    *     `_graft_rollback/<cts>/` (restorable). A superseded file that is
    *     already gone means a concurrent writer violated the
    *     single-writer contract: fail loudly here, before any
    *     replacement lands.
    *  3. PUBLISH: rename each staged file into the table. On HDFS-like
    *     filesystems renames are metadata operations — the merged data
    *     is written exactly once (the previous shape re-read staging
    *     and appended it, writing every merged row twice). On object
    *     stores (S3A) rename degrades to copy+delete: the staged bytes
    *     ARE rewritten and each publish is non-atomic, so the
    *     write-once claim and the narrow crash window below hold only
    *     on rename-atomic storage — operators on S3 should front the
    *     table with a rename-atomic committer or layer.
    *
    * A crash between 2 and 3 leaves the commit mechanically reversible
    * via [[rollback]] (the plan sibling holds the file lists, the
    * rollback dir holds the retired bytes), or completable by moving
    * the remaining staged files into place (the error message says
    * which).
    *
    * Only delete() can leave a touched partition with no files (a
    * batch-wins upsert always appends the batch's rows back), so the
    * emptied-directory sweep runs only when `dropEmptied` is set.
    *
    * The staging + rollback dirs are left in place — [[versioned]]
    * sweeps them AFTER the commit record lands, so every crash window
    * stays reversible. */
  private[merge] def commitFiles(
      spark: SparkSession,
      st: TableState,
      merged: DataFrame,
      partitionCols: Seq[String],
      supersededFiles: Seq[String],
      touched: Seq[Seq[Any]],
      dropEmptied: Boolean,
      cts: Long): CommitResult = {
    val (fs, path, tableRoot) = (st.fs, st.path, st.root)
    val removed = supersededFiles
      .map(f => relativize(tableRoot, fs.makeQualified(new Path(f))))
    val Staged(staging, moves, added) = stage(spark, merged, path,
      partitionCols, "_staging_", "", cts, removed)
    val rb = rollbackDir(path, cts)
    try {
      supersededFiles.foreach { f =>
        val p = new Path(f)
        if (!fs.exists(p))
          throw new java.io.IOException(
            s"superseded file $p vanished mid-commit — concurrent writer " +
              s"on $path? merge tables are single-writer (Merge scaladoc)")
        val dest = new Path(rb, relativize(tableRoot, fs.makeQualified(p)))
        fs.mkdirs(dest.getParent)
        if (!fs.rename(p, dest))
          throw new java.io.IOException(s"failed to retire superseded file $p")
      }
    } catch {
      // pre-publish failures: nothing new has landed; staging is the
      // clean recovery copy (and rollback() reverses any retires)
      case e: Throwable =>
        throw new RuntimeException(
          s"merge commit failed; staged merge result kept at $staging; " +
            s"rollback(path, $cts) restores the table", e)
    }
    try publish(fs, moves) catch {
      // a publish that dies mid-way has landed SOME replacement files —
      // the un-published remainder is still in staging, so the commit
      // can be completed (move the rest in) or reversed (rollback)
      case e: Throwable =>
        throw new RuntimeException(
          "merge publish PARTIALLY COMMITTED at " + path +
            s"; unpublished replacement files remain at $staging — " +
            s"rollback(path, $cts) reverses this commit, or moving the " +
            "remaining staged files into place completes it", e)
    }
    val recorded = try {
      if (dropEmptied) {
        touched.foreach { tuple =>
          // the data files were already removed one by one, so a
          // surviving dir here is empty — cosmetic, but its absence is
          // part of delete()'s contract
          dropEmptiedDirs(fs, partitionDir(tableRoot, partitionCols, tuple),
            partitionCols.size)
        }
      }
      updateSchemaMeta(spark, st, merged.schema)
    } catch {
      case e: Throwable =>
        throw new RuntimeException(
          "merge data COMMITTED, but post-commit maintenance " +
            s"(emptied-dir sweep / schema metadata) failed at $path — " +
            "do NOT re-apply any staging copy", e)
    }
    // key-index maintenance (advisory metadata): failure here must not
    // fail a DURABLY COMMITTED data change — new files simply stay
    // unindexed (always key-scanned) and stale entries are dropped at
    // probe time by the listing intersect, so a warn suffices.
    try KeyIndex.recordCommit(spark, recorded, merged.schema, cts, added,
      removed)
    catch {
      case e: Throwable =>
        System.err.println("[graft.merge] WARN: key-index update failed " +
          s"after a durable commit at $path (${e.getMessage}); new files " +
          "are unindexed until the next KeyIndex.compactIndex/compact")
    }
    CommitResult(added, removed, Some(staging))
  }

  /** A staged write: its staging sibling and, per staged file, the
    * move that publishes it plus its table-relative final name. */
  private[merge] final case class Staged(staging: String,
      moves: Seq[(Path, Path)], added: Seq[String])

  /** STAGE and PLAN: write `rows` once, hive-partitioned, into a fresh
    * staging sibling `<table><tag><nanos>`. The staged file names are
    * the final names (under `destRel` inside the table), so the full
    * plan is known before any mutation; it lands in the timeline's
    * plan SIBLING of the claim (complete-or-absent via temp+rename), so
    * rollback() after any later crash is mechanical.
    * The claim marker itself is never rewritten — it stays the original
    * exclusive-create through every crash window. */
  private[merge] def stage(spark: SparkSession, rows: DataFrame,
      path: String, partitionCols: Seq[String], tag: String,
      destRel: String, cts: Long, removed: Seq[String]): Staged = {
    val fs = fsFor(spark, path)
    val staging = path.stripSuffix("/") + s"$tag${System.nanoTime()}"
    rows.write.partitionBy(partitionCols: _*).mode(SaveMode.Overwrite)
      .parquet(staging)
    val stagingRoot = fs.makeQualified(new Path(staging))
    val tableRoot = fs.makeQualified(new Path(path))
    val destRoot =
      if (destRel.isEmpty) tableRoot else new Path(tableRoot, destRel)
    // a merge that leaves NO survivors stages zero data files — the
    // publish step is then a no-op and only the retire step acts
    val moves = listDataFiles(fs, stagingRoot).map { src =>
      (src, new Path(destRoot, relativize(stagingRoot, src)))
    }
    val added = moves.map { case (_, dest) => relativize(tableRoot, dest) }
    Timeline.writePlan(fs, path, cts, Timeline.Plan(staging, added, removed))
    Staged(staging, moves, added)
  }

  /** PUBLISH: rename each staged file into its final place. */
  private[merge] def publish(fs: FileSystem, moves: Seq[(Path, Path)])
      : Unit =
    moves.foreach { case (src, dest) =>
      fs.mkdirs(dest.getParent)
      if (!fs.rename(src, dest))
        throw new java.io.IOException(s"failed to publish $src to $dest")
    }

  /** The one commit envelope every write runs in: claim the next commit
    * id, run `op` under it (stamping, staging, planning and publishing
    * through [[commitFiles]]), record the commit, and only then retire
    * its scratch — the staging sibling is swept and the retired-file
    * copy becomes the commit's time-travel history, kept until
    * [[clean]] sweeps it. A crash anywhere inside `op` leaves the claim
    * (and, once written, the plan) for [[rollback]]; a crash after the
    * record leaves only scratch. Returns the commit id. */
  private[merge] def versioned(spark: SparkSession, path: String)(
      op: Long => (MergeStats, Option[CommitResult])): Long = {
    val cts = Timeline.claim(spark, path)
    val (stats, commit) = op(cts)
    Timeline.record(spark, path, cts, stats, commit)
    commit.foreach(c =>
      retireToHistory(fsFor(spark, path), path, cts, c.staging))
    cts
  }

  /** `batch` stamped with commit `cts` — the `_commit_ts` every row a
    * commit writes carries (a stamp the batch already has is replaced). */
  private def stamp(batch: DataFrame, cts: Long): DataFrame =
    batch.withColumn(commitCol, lit(cts))

  /** A commit that supersedes nothing (insert, bulkInsert, a keyed
    * write's first write): stage the stamped `rows(cts)`, record their
    * count and the partitions of the files they landed in (read at the
    * types of `batch`). */
  private def appendCommit(spark: SparkSession, st: TableState,
      partitionCols: Seq[String], batch: StructType)(
      rows: Long => DataFrame): Long =
    versioned(spark, st.path) { cts =>
      // n_rows is observed on the write plan itself (Observation metrics
      // count only successful tasks) — no separate count job
      val obs = org.apache.spark.sql.Observation()
      val res = commitFiles(spark, st,
        rows(cts).observe(obs, count(lit(1)).as("n")), partitionCols,
        supersededFiles = Nil, touched = Nil, dropEmptied = false, cts)
      (MergeStats(obs.get("n").asInstanceOf[Long],
        partitionsOf(res.added, partitionCols, batch).map(renderPartition)),
        Some(res))
    }

  /** O2: append (insert — combine-before-insert defaults off in the
    * reference, so no key reconciliation). Returns the commit id. */
  def insert(batch: DataFrame, path: String, partitionCol: String,
      keyCols: Seq[String] = Nil, precombine: String = null,
      dedup: Boolean = false): Long =
    insert(batch, path, Seq(partitionCol), keyCols, precombine, dedup)

  /** [[insert]] with a multi-level (hive-nested) partition layout. */
  def insert(batch: DataFrame, path: String, partitionCols: Seq[String],
      keyCols: Seq[String], precombine: String,
      dedup: Boolean): Long = {
    val spark = batch.sparkSession
    appendCommit(spark, TableState.load(spark, path), partitionCols,
      batch.schema) { cts =>
      val b = stamp(batch, cts)
      if (dedup) precombineDedup(b, keyCols, precombine) else b
    }
  }

  /** O2 bulk path: insert with TARGET-FILE-SIZE layout — the honest
    * parquet analogue of Hudi bulk_insert's small-file sizing. The batch
    * is range-repartitioned on (partition, key) so output tasks hold
    * contiguous key ranges: file count ≈ plan-size / targetFileBytes
    * regardless of row count, each hive partition's rows land in few
    * sorted files (clustered keys = effective parquet min/max pruning
    * for the later upserts' key scans), and no task writes one file per
    * partition value the way round-robin repartition would. With keys,
    * the table's key spec is recorded and the commit key-indexes the
    * files it adds (bulk_insert is the canonical way to prime a table
    * that upserts will then hit). Returns the commit id. */
  def bulkInsert(batch: DataFrame, path: String, partitionCol: String,
      keyCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxFiles: Int = 1 << 20): Long =
    bulkInsert(batch, path, Seq(partitionCol), keyCols, targetFileBytes,
      maxFiles)

  /** [[bulkInsert]] with a multi-level (hive-nested) partition layout. */
  def bulkInsert(batch: DataFrame, path: String, partitionCols: Seq[String],
      keyCols: Seq[String], targetFileBytes: Long, maxFiles: Int): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(maxFiles >= 1, "maxFiles must be >= 1")
    // sizeInBytes is a BigInt that Catalyst pins to Long.MaxValue (and
    // beyond, after join multiplications) when stats are unknown — do
    // the arithmetic in BigInt and clamp, or the Int conversion wraps
    // into a garbage (even non-positive) partition count
    val planBytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = ((planBytes / targetFileBytes) + 1)
      .min(BigInt(maxFiles)).max(BigInt(1)).toInt
    val layout = (partitionCols.map(col) ++ keyCols.map(col)).toIndexedSeq
    val spark = batch.sparkSession
    val loaded = TableState.load(spark, path)
    val st = if (keyCols.isEmpty) loaded
      else KeyIndex.ensureSpec(loaded, KeySpec(keyCols, partitionCols))
    appendCommit(spark, st, partitionCols, batch.schema)(cts =>
      stamp(batch, cts).repartitionByRange(nFiles, layout: _*))
  }

  /** O1: key-reconciled upsert at file-group granularity (see the
    * object scaladoc for the write-amplification argument). Record
    * identity is (key, partition) — Hudi's partition-scoped index
    * semantics: the same key in two partitions is two records.
    *
    * The batch is stamped with a fresh monotonic commit id, so
    * surviving stored rows keep the stamp of the commit that last wrote
    * THEM (exactly Hudi's per-record `_hoodie_commit_time` semantics
    * under OverwriteWithLatestAvroPayload). The commit is recorded in
    * the timeline only after the data commit succeeds — the timeline
    * lists durable commits. Returns the commit id, or 0 for an empty
    * batch, which claims no id and records nothing. Rows a table held
    * before its first stamped write read back with a NULL stamp
    * ("before the timeline") and never match an incremental pull. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCol: String): Long =
    upsert(spark, batch, path, keyCols, precombine, Seq(partitionCol))

  /** [[upsert]] over a multi-level (hive-nested) partition layout —
    * record identity becomes (key, full partition tuple), the Hudi
    * composite-key-generator partition-path analogue. */
  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String]): Long =
    upsertImpl(spark, batch, path, keyCols, precombine, partitionCols,
      ordered = false)

  /** O1 with ordered-payload semantics — Hudi's
    * `DefaultHoodieRecordPayload` (shipped in the pinned 0.10.0) vs the
    * default OverwriteWithLatest that [[upsert]] implements: a stored
    * row survives unless the incoming row's precombine is >= the stored
    * one (ties go to the incoming row, matching Hudi). This makes the
    * final table state a pure per-key argmax over everything ever
    * written — INVARIANT to batch boundaries and arrival order, which
    * is what makes it the safe payload for streaming ingestion where
    * late or replayed micro-batches must not regress a key (the
    * x04_stream_upsert driver key proves exactly that). Returns the
    * commit id (0 for an empty batch, as [[upsert]]). */
  def upsertOrdered(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String]): Long =
    upsertImpl(spark, batch, path, keyCols, precombine, partitionCols,
      ordered = true)

  /** Conditional merge — MERGE INTO semantics (Delta/Hudi's
    * WHEN MATCHED [AND cond] THEN UPDATE/DELETE, WHEN NOT MATCHED
    * [AND cond] THEN INSERT) composed from the existing primitives.
    *
    * The batch is precombine-deduped first (one candidate row per
    * scoped key — conditions are evaluated on the winning row), then
    * split three ways against the CURRENT target state:
    *
    *  - matched ∧ `whenMatchedDelete`          → the target row is deleted
    *  - matched ∧ ¬delete ∧ `whenMatchedUpdate`→ the target row is
    *    replaced by the source row (full-row update, the engine's
    *    upsert payload)
    *  - matched ∧ neither                      → the target row survives
    *    untouched (the source row is DISCARDED — this is what plain
    *    upsert cannot express)
    *  - not matched ∧ `whenNotMatchedInsert`   → the source row inserts
    *
    * Conditions reference the source row as `s.<col>` and (for the two
    * matched clauses) the target row as `t.<col>`; the insert condition
    * sees only `s.<col>`. `None` means the Delta defaults: never
    * delete, always update, always insert. Delete wins over update when
    * both conditions hold (clause order in SQL MERGE).
    *
    * Scale shape: the matched/not-matched split is ONE key-scoped join
    * against a partition-pruned read of only the batch-touched
    * partitions, then the work lands through [[delete]] +
    * [[upsert]] — whose own matched-FILE discovery (key scan or bloom
    * index) limits the rewrite to the file groups that actually hold
    * the affected keys. Applied as two mutations (a delete commit, then
    * an upsert commit), not one atomic commit: a crash between them
    * leaves the deletes applied and the updates/inserts not — visible
    * and re-runnable (the second application of the same merge is NOT
    * generally idempotent though: target rows updated by the first run
    * re-match with the new state). Single-writer, like every mutation
    * here. */
  def mergeInto(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String],
      whenMatchedDelete: Option[Column] = None,
      whenMatchedUpdate: Option[Column] = None,
      whenNotMatchedInsert: Option[Column] = None): Unit = {
    val scopedKeys = keyCols ++ partitionCols
    val srcCols = batch.columns.toSeq
    val deduped = precombineDedup(batch, scopedKeys, precombine)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val st = TableState.load(spark, path)
      if (!st.hasData) {
        // nothing can match: the merge degenerates to conditional insert
        val ins = whenNotMatchedInsert
          .map(c => deduped.alias("s").filter(c)).getOrElse(deduped)
          .select(srcCols.map(col): _*)
        upsert(spark, ins, path, keyCols, precombine, partitionCols)
        return
      }
      // holds every batch key on the driver for one job; the writes
      // below collect keys of the same batch in turn
      val parts = batchKeys(deduped, KeySpec(keyCols, partitionCols)).parts
      val target = readTable(spark, st)
        .filter(partitionIn(partitionCols, parts))
      val s = deduped.alias("s")
      val t = target.alias("t")
      val on = scopedKeys.map(k => col(s"s.$k") <=> col(s"t.$k"))
        .reduce(_ && _)
      // NULL-valued conditions are "not satisfied" (SQL MERGE clause
      // semantics): a null delete condition must fall through to the
      // update clause, not veto it
      val delCond = coalesce(whenMatchedDelete.getOrElse(lit(false)),
        lit(false))
      val updCond = whenMatchedUpdate.getOrElse(lit(true))
      val matched = s.join(t, on, "inner")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // materialize BOTH splits with lineage truncated before any
        // mutation: their plans read the target's current files, which
        // the delete commit below rewrites — a lazy plan evaluated
        // after it would chase vanished parquet paths
        val delKeys = matched.filter(delCond)
          .select(scopedKeys.map(k => col(s"s.$k").as(k)): _*)
          .localCheckpoint(true)
        val ins = whenNotMatchedInsert
          .foldLeft(s.join(t, on, "left_anti"))((df, c) => df.filter(c))
          .select(srcCols.map(c => col(s"s.$c").as(c)): _*)
        val upserts = matched.filter(!delCond && updCond)
          .select(srcCols.map(c => col(s"s.$c").as(c)): _*)
          .unionByName(ins)
          .localCheckpoint(true)
        // disjoint key sets (delete ⊥ update by construction, inserts
        // are not-matched), so ordering is content-irrelevant; delete
        // first keeps the table minimal between the two commits
        if (delKeys.limit(1).count() > 0)
          delete(spark, delKeys, path, keyCols, partitionCols)
        if (upserts.limit(1).count() > 0)
          upsert(spark, upserts, path, keyCols, precombine, partitionCols)
      } finally { matched.unpersist(); () }
    } finally { deduped.unpersist(); () }
  }

  /** What a keyed write (upsert / insertOverwrite) plans its rewrite
    * against: the batch keys at the stored types, the stored and target
    * schemas (stored columns plus the batch's additive ones), and
    * `newRows` — the stamped, deduped batch aligned to the target and
    * observed for the timeline's row count. */
  private final case class KeyedWrite(st: TableState, keys: BatchKeys,
      stored: StructType, target: Seq[(String, DataType)], spec: KeySpec,
      newRows: DataFrame)

  /** The shared frame of the keyed writes: record the key spec, take
    * the staged first write on a new table, collect the batch keys (job
    * 1), no-op on an empty batch, enforce the additive-evolution
    * contract — all before the commit id is claimed — then, under the
    * claim, precombine-dedup only when a key repeats and commit the
    * rows `plan` returns in place of the stored files it supersedes.
    * The batch is read twice (keys, rows): it is cached unless the
    * caller cached it, and only a cache made here is dropped here.
    * Returns the commit id, or 0 when the batch is empty. */
  private def keyedWrite(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String],
      op: String)(
      plan: KeyedWrite => (DataFrame, Seq[String])): Long = {
    val spec = KeySpec(keyCols, partitionCols)
    val owned = batch.storageLevel == StorageLevel.NONE
    if (owned) batch.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // record the table's key spec (first keyed write wins) so every
      // commit — including table services that take no keys — can
      // maintain the file-level key index
      val st = KeyIndex.ensureSpec(TableState.load(spark, path), spec)
      if (!st.hasData)
        // initial write: the same staged commit as every other write —
        // the staging + rename publish knows its added-file plan before
        // any file lands, so even a FIRST commit rolls back. No key
        // collect: a bulk load's keys need not fit the driver, so the
        // window always runs (dedup keeps every partition).
        return appendCommit(spark, st, partitionCols, batch.schema)(cts =>
          precombineDedup(stamp(batch, cts), spec.scoped, precombine))
      val keys = batchKeys(batch, spec)
      if (keys.rows.isEmpty) return 0L
      val stored = storedSchema(spark, st, partitionCols)
      // a batch may ADD columns (additive evolution) but never DROP
      // them: silently selecting the batch's columns out of a wider
      // stored schema would STRIP the extra columns from every
      // rewritten file
      val batchCols = batch.columns.toSeq :+ commitCol
      val missing = stored.fieldNames.toSet -- batchCols
      require(missing.isEmpty,
        s"$op batch schema mismatch vs stored table at $path: " +
          s"batch lacks ${missing.mkString(",")}")
      val typed = keys.typed(stored)
      versioned(spark, path) { cts =>
        val stamped = stamp(batch, cts)
        val deduped = if (!keys.repeats) stamped
          else precombineDedup(stamped, spec.scoped, precombine)
        val target: Seq[(String, DataType)] =
          (stored.fields ++ deduped.schema.fields
            .filterNot(f => stored.fieldNames.contains(f.name)))
            .map(f => f.name -> f.dataType).toIndexedSeq
        // n_rows is observed on the batch branch of the write plan
        // itself — no separate count job per commit
        val obs = org.apache.spark.sql.Observation()
        val (rows, superseded) = plan(KeyedWrite(st, typed, stored, target,
          spec, alignTo(deduped, target).observe(obs, count(lit(1)).as("n"))))
        val res = commitFiles(spark, st, rows, partitionCols, superseded,
          typed.parts, dropEmptied = false, cts)
        (MergeStats(obs.get("n").asInstanceOf[Long],
          keys.parts.map(renderPartition)), Some(res))
      }
    } finally if (owned) batch.unpersist()
  }

  /** The stored schema without listing the table: the recorded one,
    * nullable as a parquet read makes it; else read from the files. */
  private def storedSchema(spark: SparkSession, st: TableState,
      partitionCols: Seq[String]): StructType = GraftSqlBridge.asNullable(
    st.schema.filter(s => partitionCols.forall(s.fieldNames.contains))
      .getOrElse(readTable(spark, st).schema))

  /** `files` (table-relative or absolute), read with the stored schema;
    * `basePath` recovers the partition columns from the paths. */
  private def readFiles(spark: SparkSession, st: TableState,
      stored: StructType, files: Seq[String]): DataFrame =
    spark.read.schema(stored).option("basePath", st.path)
      .parquet(files.map(f => new Path(st.root, f).toString): _*)

  private[merge] def touchedFiles(st: TableState, partitionCols: Seq[String],
      parts: Seq[Seq[Any]]): Seq[org.apache.hadoop.fs.FileStatus] =
    parts.flatMap(t =>
      listDataStatuses(st.fs, partitionDir(st.root, partitionCols, t)))

  /** The data files of the touched partitions that hold at least one of
    * `keys` (at the stored types): one job, a column-pruned key scan of
    * only the touched partition directories filtered by null-safe key
    * membership, each task returning its distinct file names (no
    * broadcast, no shuffle). The list is driver-resident, bounded by the
    * key count — the driver-side COW planning Hudi does. The file-level
    * key index (when active) first prunes the candidates to the files
    * whose bloom may hold a key, plus unindexed files. */
  private def matchedFiles(spark: SparkSession, st: TableState,
      stored: StructType, spec: KeySpec, keys: BatchKeys)
      : IndexedSeq[String] = {
    val statuses = touchedFiles(st, spec.partitionCols, keys.parts)
    val allFiles = statuses.map(s => relativize(st.root, s.getPath))
    val candidates = KeyIndex.candidateFiles(spark, st, spec,
      keys.parts.map(partitionRelDir(spec.partitionCols, _)), allFiles,
      statuses.map(_.getLen).sum,
      GraftSqlBridge.localRelation(spark, keys.schema, keys.rows))
      .getOrElse(allFiles)
    if (candidates.isEmpty) IndexedSeq.empty
    else readFiles(spark, st, stored, candidates).filter(keys.in)
      .select(input_file_name()).as(Encoders.STRING)
      .mapPartitions(_.distinct)(Encoders.STRING)
      .collect().distinct.map(decodeFileName).toIndexedSeq
  }

  /** O1 at file-group granularity: only the files holding a batch key
    * are read back and rewritten; a batch that matches no stored key
    * is a pure insert. */
  private def upsertImpl(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String],
      ordered: Boolean): Long =
    keyedWrite(spark, batch, path, keyCols, precombine, partitionCols,
        "upsert") { w =>
      val matched = matchedFiles(spark, w.st, w.stored, w.spec, w.keys)
      val merged =
        if (matched.isEmpty) w.newRows // pure insert: nothing to rewrite
        else {
          // read ONLY the matched files; explicit schema (no footer
          // reads), basePath recovers the partition column from paths
          val matchedRows = readFiles(spark, w.st, w.stored, matched)
          if (ordered) {
            // ordered payload (DefaultHoodieRecordPayload): per key the
            // max-precombine row wins across stored ∪ batch, ties to
            // the batch. Same shuffle shape as the anti-join path —
            // the window partitions on the scoped key, and only the
            // matched files' rows (not the table) enter it. A losing
            // batch row leaves the stored row — and its original
            // `_commit_ts` stamp — untouched, so incremental pulls
            // never see a key a late batch failed to advance.
            precombineDedup(
              w.newRows.withColumn("_graft_src", lit(1))
                .unionByName(alignTo(matchedRows, w.target)
                  .withColumn("_graft_src", lit(0))),
              w.spec.scoped, precombine, tieBreak = Seq("_graft_src"))
              .drop("_graft_src")
          } else {
            // batch wins over stored for the same key (Hudi upsert
            // semantics: incoming overwrites regardless of precombine
            // comparison vs stored)
            w.newRows.unionByName(
              alignTo(matchedRows.filter(!w.keys.in), w.target))
          }
        }
      (merged, matched)
    }

  /** Metadata-only adoption of an existing PLAIN parquet layout into
    * the commit timeline — Hudi's METADATA_ONLY bootstrap: not one data
    * byte is rewritten; the adoption commit simply records every
    * current data file as added, so upserts/deletes, time
    * travel back to the adoption point, CDC and the incremental
    * streams all work from here on. The one-time cost is a single
    * column-pruned count (the timeline's n_rows), deliberate: adoption
    * happens once per table. The partitions come from the listing.
    *
    * Bootstrapped rows carry NO `_commit_ts` stamp (their files predate
    * the timeline; after the next write the column appears
    * and they read back null) — so incremental pulls exclude them, the
    * honest semantics for rows that predate the timeline: a consumer
    * starting from 0 sees every post-adoption change, and a snapshot
    * read sees everything. Refuses a path that already has a timeline.
    * Returns the adoption commit id. */
  def bootstrap(spark: SparkSession, path: String,
      partitionCols: Seq[String]): Long = {
    val st = TableState.load(spark, path)
    val (fs, tableRoot) = (st.fs, st.root)
    require(st.hasData, s"no data files at $path — nothing to bootstrap")
    require(!fs.exists(Timeline.dir(path)),
      s"$path already has a commit timeline — bootstrap adopts plain " +
        "layouts only")
    val files = listDataStatuses(fs, tableRoot)
      .map(st => relativize(tableRoot, st.getPath))
    val df = readTable(spark, st)
    partitionCols.foreach(c => require(df.columns.contains(c),
      s"partition column $c not present in the layout at $path"))
    val parts = partitionsOf(files, partitionCols, df.schema)
      .map(renderPartition)
    // declare the schema first: even a crash between here and the
    // commit record leaves only harmless metadata (and a tombstonable
    // inflight marker)
    updateSchemaMeta(spark, st, df.schema)
    versioned(spark, path) { _ =>
      (MergeStats(df.count(), parts), Some(CommitResult(files, Nil, None)))
    }
  }

  /** Partition replace — Hudi's INSERT_OVERWRITE, the backfill
    * primitive: every partition the batch touches is replaced WHOLESALE
    * by the batch's rows for it (within-batch precombine dedup applies;
    * stored rows are dropped without ever being read — no key scan, no
    * merge join, so backfill cost is the WRITE cost plus a metadata
    * listing, the property that makes reprocessing a bad day's
    * partition cheap at 100 TB). Untouched partitions are untouched
    * files. Same staged commit + additive-evolution contract as
    * [[upsert]]: the replaced partitions' files retire to
    * `_graft_history/`, so time travel, [[restoreTo]], [[readChanges]]
    * and the incremental/CDC streams all compose with backfills — a
    * partition replace surfaces in CDC as exactly its row-level effect
    * (kept keys update, vanished keys delete, new keys insert). Returns
    * the commit id (0 for an empty batch). */
  def insertOverwrite(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCol: String): Long =
    insertOverwrite(spark, batch, path, keyCols, precombine,
      Seq(partitionCol))

  /** [[insertOverwrite]] over a multi-level partition layout. */
  def insertOverwrite(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      precombine: String,
      partitionCols: Seq[String]): Long =
    keyedWrite(spark, batch, path, keyCols, precombine, partitionCols,
        "insertOverwrite") { w =>
      // EVERY data file in a touched partition is superseded — this is
      // a metadata listing, not a scan
      (w.newRows, touchedFiles(w.st, partitionCols, w.keys.parts)
        .map(_.getPath.toString))
    }

  /** O3: delete by key — file-group rewrite of only the parquet files
    * that contain a matched key; emptied partition dirs are dropped.
    * A timeline event like every write: the commit metadata names the
    * files it rewrote or removed, and the retired originals move into
    * `_graft_history/`, so [[readAsOf]] can see through it and
    * [[rollback]] can reverse a crashed one. A delete commit owns no
    * rows: `n_rows` is 0 in the timeline and no incremental pull ever
    * returns it — deleted rows simply stop appearing, Hudi's COW
    * caveat. Returns the commit id, or 0 when there is nothing to
    * delete from or no key to delete (no id claimed). */
  def delete(
      spark: SparkSession,
      keys: DataFrame,
      path: String,
      keyCols: Seq[String],
      partitionCol: String): Long =
    delete(spark, keys, path, keyCols, Seq(partitionCol))

  /** [[delete]] over a multi-level (hive-nested) partition layout. */
  def delete(
      spark: SparkSession,
      keys: DataFrame,
      path: String,
      keyCols: Seq[String],
      partitionCols: Seq[String]): Long = {
    val loaded = TableState.load(spark, path)
    if (!loaded.hasData) return 0L
    // key scope includes the partition path (Hudi ComplexKeyGenerator
    // semantics): a delete key only removes rows in ITS partition, never
    // a same-keyed row in another touched partition
    val spec = KeySpec(keyCols, partitionCols)
    val collected = batchKeys(keys, spec)
    if (collected.rows.isEmpty) return 0L
    val rendered = collected.parts.map(renderPartition)
    // same index-pruned candidate discovery as upsert (delete keys
    // are partition-scoped, i.e. exactly the indexed scoped key)
    val st = KeyIndex.ensureSpec(loaded, spec)
    val stored = storedSchema(spark, st, partitionCols)
    val typed = collected.typed(stored)
    val matched = matchedFiles(spark, st, stored, spec, typed)
    // a delete commit WRITES no rows (n_rows 0 in the timeline); its
    // effect is rows vanishing from every later read
    versioned(spark, path) { cts =>
      (MergeStats(0L, rendered),
        if (matched.isEmpty) None
        else Some(commitFiles(spark, st,
          readFiles(spark, st, stored, matched).filter(!typed.in),
          partitionCols, matched, typed.parts, dropEmptied = true, cts)))
    }
  }

  /** Small-file compaction — the Hudi clustering analogue, and the
    * necessary complement of file-group upserts: streaming micro-batches
    * append roughly one file per batch, and a 100 TB table fed that way
    * degrades into millions of tiny files (listing cost, scan task
    * overhead, dead parquet stats). Partitions carrying more parquet
    * files than their bytes justify (`> ceil(bytes/targetFileBytes)`)
    * are rewritten into target-sized files, range-laid-out on
    * (partition, key) so keys cluster — which is what keeps the upsert
    * key scan's parquet min/max pruning effective afterwards. Partitions
    * already compact are not read at all.
    *
    * Compaction is a table SERVICE on the timeline (Hudi's
    * compaction/clustering are timeline actions for the same reason).
    * The rewrite preserves every row's `_commit_ts` stamp, so the
    * commit owns NO rows: incremental pulls re-emit nothing, the CDC
    * stream classifies zero changes for it (every pre-image survives
    * into the post set with its old stamp), and [[diffSnapshots]]
    * across it is empty — while [[readAsOf]] before the compaction
    * still reconstructs the old small-file state from
    * `_graft_history/`, and [[rollback]]/[[restoreTo]] reverse it
    * mechanically like any other commit. Returns the number of small
    * files replaced (0 = nothing to do, no commit claimed). */
  def compact(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String],
      keyCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxFiles: Int = 1 << 20): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(maxFiles >= 1, "maxFiles must be >= 1")
    val st = TableState.load(spark, path)
    if (!st.hasData) return 0L
    val (files, totalBytes) =
      compactionCandidates(st.fs, path, partitionCols, targetFileBytes)
    if (files.isEmpty) return 0L
    // stamps ride along untouched: the read schema includes commitCol,
    // and no column is rewritten — preservation IS the no-CDC contract
    val rows = readFiles(spark, st, storedSchema(spark, st, partitionCols),
      files)
    val nFiles = math.min(totalBytes / targetFileBytes + 1, maxFiles.toLong)
      .toInt
    val layout = (partitionCols.map(col) ++ keyCols.map(col)).toIndexedSeq
    commitRewrite(spark, st, partitionCols,
      rows.repartitionByRange(nFiles, layout: _*), files)
  }

  /** Shared tail of every layout rewrite (compaction / clustering):
    * stage + publish the rewritten rows superseding `files` as a
    * recorded service commit (stats say 0 rows — bytes moved, not
    * state) with the retired originals preserved in `_graft_history/`,
    * then run index maintenance.
    *
    * A rewrite is ALSO the key index's maintenance moment: the
    * per-commit entry log folds into one snapshot, and files that
    * predate the index get indexed by riding through commitFiles. */
  private def commitRewrite(
      spark: SparkSession,
      st: TableState,
      partitionCols: Seq[String],
      rewritten: DataFrame,
      files: IndexedSeq[String]): Long = {
    val path = st.path
    versioned(spark, path) { cts =>
      (MergeStats(0L, Nil), Some(commitFiles(spark, st, rewritten,
        partitionCols, files, touched = Nil, dropEmptied = false, cts)))
    }
    try KeyIndex.compactIndex(spark, path)
    catch {
      case e: Exception => System.err.println(
        s"[graft.merge] WARN: key-index fold failed at $path " +
          s"(${e.getMessage}); the entry log keeps working, just longer")
    }
    files.length.toLong
  }

  /** Small-file candidate selection for [[compact]]: every leaf
    * partition holding more files than its byte size justifies
    * contributes all of them. A metadata listing — no data is read. */
  private def compactionCandidates(fs: FileSystem, path: String,
      partitionCols: Seq[String], targetFileBytes: Long)
      : (IndexedSeq[String], Long) = {
    // leaf partition dirs: one `col=value` level per partition column
    def leafDirs(root: Path, cols: Seq[String]): Seq[Path] = cols match {
      case Nil => Seq(root)
      case c +: rest => fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$c="))
        .flatMap(d => leafDirs(d.getPath, rest))
    }
    val candidates = leafDirs(new Path(path), partitionCols).flatMap { d =>
      val files = fs.listStatus(d)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
      val bytes = files.map(_.getLen).sum
      // Long division throughout — an Int conversion here wraps for
      // TB-scale partitions with small targets (the bulkInsert bug)
      val ideal = bytes / targetFileBytes + 1
      if (files.length > ideal) Some((files.map(_.getPath).toSeq, bytes))
      else None
    }
    (candidates.flatMap(_._1).map(_.toString).toIndexedSeq,
      candidates.map(_._2).sum)
  }

  /** Z-order clustering — the multi-column analogue of [[compact]]'s
    * linear key layout, and the clustering table service Hudi shipped
    * in exactly the release the reference pins (`hudi-spark3-bundle
    * _2.12:0.10.0`, `glue/interactive.sh:12` — 0.10.0 introduced
    * z-order/hilbert clustering). Every data file is rewritten so rows
    * are range-laid and sorted on the Morton interleave of `zCols`
    * ([[graft.scale.Scale.interleaveBits]]): each output file then
    * covers a hyper-rectangle of the zCols space, so parquet min/max
    * stats prune scans filtering on ANY subset of those columns — a
    * linear (a, b) sort layout serves only prefix predicates, and at
    * 100 TB the difference is reading 1/K of the files vs all of them
    * for a b-only predicate.
    *
    * Each zCol is normalized to a `bits`-wide non-negative cell index
    * from its observed min/max, both derived IN-PLAN (a broadcast
    * one-row aggregate, like the tf-idf corpus count) — the whole
    * service is one staged-commit job, no separate stats action. Rows,
    * including `_commit_ts` stamps, pass through untouched, so the
    * commit has the same contract as [[compact]]: it owns no rows (no
    * CDC, no incremental re-emission, empty [[diffSnapshots]]),
    * pre-cluster snapshots stay reconstructable from `_graft_history/`,
    * and rollback/restore reverse it mechanically — exactly Hudi 0.10's
    * clustering-as-timeline-action. Numeric zCols only — hash
    * non-numeric columns to a number first (e.g. `xxhash64`); silent
    * coercion of strings would z-order on dictionary ids the caller
    * never sees. Nulls collapse to cell 0. Returns the number of files
    * rewritten. */
  def clusterZOrder(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String],
      zCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxFiles: Int = 1 << 20): Long = {
    require(zCols.size >= 2,
      "z-order needs >= 2 columns (one column is a plain sort — use " +
        "compact's key layout for that)")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(maxFiles >= 1, "maxFiles must be >= 1")
    val st = TableState.load(spark, path)
    if (!st.hasData) return 0L
    val fs = st.fs
    val files = listDataFiles(fs, st.root).map(_.toString).toIndexedSeq
    if (files.isEmpty) return 0L
    val totalBytes = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val rows = readFiles(spark, st, storedSchema(spark, st, Nil), files)
    val bits = math.min(16, 63 / zCols.size)
    val cells = (1L << bits) - 1
    val statAggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"_zmin_$c"),
      max(col(c).cast("double")).as(s"_zmax_$c")))
    val stats = rows.agg(statAggs.head, statAggs.tail: _*)
    val cellCols = zCols.map { c =>
      val lo = col(s"_zmin_$c")
      val hi = col(s"_zmax_$c")
      // constant / all-null dimensions contribute nothing to the curve
      coalesce(
        when(hi > lo,
          floor((col(c).cast("double") - lo) / (hi - lo) * cells)
            .cast("long")),
        lit(0L))
    }
    val nFiles = math.min(totalBytes / targetFileBytes + 1, maxFiles.toLong)
      .toInt
    val layout =
      (partitionCols.map(col) :+ col("_zval").asc).toIndexedSeq
    val clustered = rows
      .crossJoin(broadcast(stats))
      .withColumn("_zval", graft.scale.Scale.interleaveBits(cellCols, bits))
      .repartitionByRange(nFiles, layout: _*)
      .sortWithinPartitions(layout: _*)
      .select(rows.columns.toIndexedSeq.map(col): _*)
    commitRewrite(spark, st, partitionCols, clustered, files)
  }

  /** Remove leaked staging siblings — the table-sized recovery copies a
    * failed (or failed-to-clean) commit leaves next to the table.
    * Deliberately MANUAL: a staging dir is a recovery copy until the
    * operator decides the commit outcome, so only run this when no
    * merge is running and no recovery is pending. Returns the number of
    * dirs removed. Stale `.inflight` timeline markers are NOT touched:
    * they are what keeps a crashed-but-landed commit's id from being
    * reissued, and their only cost is a skipped id. */
  def vacuum(spark: SparkSession, path: String): Long = {
    val fs = fsFor(spark, path)
    val table = new Path(path.stripSuffix("/"))
    val parent = table.getParent
    val stagingPrefix = s"${table.getName}_staging_"
    val staged =
      if (parent == null || !fs.exists(parent)) Seq.empty
      else fs.listStatus(parent).toSeq
        .filter(_.getPath.getName.startsWith(stagingPrefix))
    // count only what actually went away — reporting an undeletable
    // copy as "removed" defeats the visibility this op exists for
    staged.count { st =>
      val ok = fs.delete(st.getPath, true)
      if (!ok) System.err.println(
        s"[graft.merge] WARN: vacuum could not remove ${st.getPath}")
      ok
    }.toLong
  }

  // ---- commit timeline (incremental pull) ----

  /** Per-record commit-stamp column — the engine's `_hoodie_commit_time`
    * stand-in. A record carries the id of the commit that last wrote
    * it, which is what makes "what changed since commit X" answerable
    * (the Hudi timeline capability Athena users get via
    * `glue/interactive.sh:21-23`). */
  val commitCol = "_commit_ts"

  private[merge] def jsonQuote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private[merge] def jsonArray(xs: Seq[String]): String =
    xs.map(jsonQuote).mkString("[", ",", "]")

  /** Mechanically reverse a crashed (inflight) commit from
    * the plan recorded in the marker's `.plan` sibling: un-publish the
    * files it added, restore the files it retired (from the
    * `_graft_rollback/<cts>/` copy the commit made before touching
    * them), sweep its staging dir, and tombstone the marker
    * (`<cts>.rolledback`) so the id is never reissued. A RECORDED
    * commit refuses to roll back — it is durable history an incremental
    * consumer may already have read. Idempotent across its own crash
    * windows: every step checks before acting, so a rollback that dies
    * midway can simply be re-run. */
  def rollback(spark: SparkSession, path: String, cts: Long): Unit = {
    val fs = fsFor(spark, path)
    if (fs.exists(Timeline.recordFile(path, cts)))
      throw new IllegalStateException(
        s"commit $cts at $path is RECORDED — a completed commit cannot be " +
          "rolled back (incremental consumers may already depend on it)")
    if (!fs.exists(Timeline.claimFile(path, cts)))
      throw new IllegalArgumentException(
        s"no inflight commit $cts at $path — nothing to roll back")
    val tableRoot = fs.makeQualified(new Path(path))
    // drop the crashed commit's key-index entry FIRST: its add lines
    // point at files about to be un-published (phantom entries) and its
    // rm tombstones suppress files about to be restored. Missing entry
    // (crash before the index write) = no-op; orphaned stats for the
    // restored files just mean they are key-scanned until re-indexed.
    KeyIndex.dropEntry(spark, path, cts)
    // the plan lives in the `.plan` sibling; earlier engine revisions
    // wrote it into the marker BODY itself — honor both, or a crashed
    // commit from an old-format table would be tombstoned as
    // "claim-only" while its half-published mutations stand (and the
    // marker delete below would destroy the only plan copy). No plan in
    // either place = crash before the plan landed: nothing was touched
    // (the plan is written before any mutation), so only the claim
    // needs tombstoning.
    Timeline.planSource(fs, path, cts).foreach { case (body, src) =>
      val Timeline.Plan(staging, added, removed) =
        try Timeline.parsePlan(body)
        catch {
          case e: Exception =>
            // the plan is written complete-or-absent (temp+rename), so
            // an unparseable body means external damage — name the
            // manual remedy instead of a bare parse stack. The remedy
            // must NEVER delete the marker itself: the marker is the
            // id's last issued-trace, and without it the re-run can't
            // tombstone, so the id would be reissued (the never-reuse
            // invariant). Plan sibling → delete it; legacy marker-body
            // plan → truncate the marker back to the bare claim.
            val clearStep =
              if (src == Timeline.planFile(path, cts)) s"delete $src"
              else s"truncate $src to empty (the bare claim — do NOT " +
                "delete it)"
            throw new IllegalStateException(
              s"rollback: commit plan $src is unreadable — cannot " +
                s"mechanically reverse commit $cts at $path. Manual " +
                s"remedy: move every file under ${rollbackDir(path, cts)} " +
                "back to its table-relative path, remove any published " +
                "replacement files not in the timeline's recorded " +
                s"commits, then $clearStep and re-run rollback to " +
                "tombstone the id", e)
        }
      val rb = rollbackDir(path, cts)
      reverseFiles(fs, tableRoot, added, removed, rb, "rollback")
      sweepCommitScratch(fs, staging, Some(rb))
    }
    Timeline.tombstone(fs, path, cts)
  }

  /** Reverse one commit's file movements: un-publish the files it
    * `added`, move the files it `removed` back from `retired` (absent =
    * never retired, or already restored by an earlier run), then sweep
    * the partition directories the un-publish emptied (restores
    * repopulate shared ones) via the shared husk-prevention rule. Every
    * step checks before acting, so a reversal that dies midway can be
    * re-run. */
  private def reverseFiles(fs: FileSystem, tableRoot: Path,
      added: Seq[String], removed: Seq[String], retired: Path,
      op: String): Unit = {
    added.foreach { rel =>
      val p = new Path(tableRoot, rel)
      if (fs.exists(p) && !fs.delete(p, false))
        throw new java.io.IOException(s"$op: failed to un-publish $p")
    }
    removed.foreach { rel =>
      val src = new Path(retired, rel)
      if (fs.exists(src)) {
        val dest = new Path(tableRoot, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"$op: failed to restore $dest")
      }
    }
    added.foreach { rel =>
      dropEmptiedDirs(fs, new Path(tableRoot, rel).getParent,
        rel.count(_ == '/')) // partition dirs below the root
    }
  }

  /** The commit timeline as a DataFrame: one row per recorded commit —
    * (commit_ts, n_rows written, comma-joined sorted partition list).
    * Commit enumeration is what the reference's users get from Hudi's
    * timeline via Athena (`glue/interactive.sh:21-23`), beyond plain
    * "since X" pulls. Every write is one row; a delete's row says
    * `n_rows` 0 (it versions no rows — its effect is rows vanishing
    * from every subsequent read). */
  def commits(spark: SparkSession, path: String): DataFrame = {
    // RECORDED entries only: inflight markers, `.plan` siblings (which
    // carry a commit_ts and would surface as phantom rows), rolled-back
    // tombstones, AND foreign junk — even junk that happens to end in
    // .json — are all non-commits
    val recorded = Timeline.list(spark, path).recorded
    val reader = spark.read.schema(Timeline.recordSchema)
    if (recorded.isEmpty)
      reader.json(spark.emptyDataset(org.apache.spark.sql.Encoders.STRING))
    else reader.json(recorded.map(_.file.toString): _*)
  }

  /** Resolve a wall-clock instant to a commit id: the LATEST recorded
    * commit whose recorded `wall_ms` is ≤ `epochMs` — Hudi's
    * `as.of.instant` semantics (`glue/interactive.sh:12` pins the
    * release that accepts timestamps) on this timeline. Driver-side
    * metadata read (one tiny JSON per commit), no Spark job.
    *
    * Honesty notes, matching the [[Timeline.record]] caveat: `wall_ms` is
    * the RECORDING writer's clock — multi-writer clock skew can make
    * wall-clock order disagree with commit-id order, in which case the
    * resolution still returns the max commit ID among those recorded
    * at-or-before the instant (ids are the order the engine trusts).
    * Commits recorded before this field existed carry no `wall_ms` and
    * are treated as predating every instant (they did predate the
    * feature); a table with ONLY such commits resolves to its latest
    * legacy commit rather than refusing. */
  def commitAtWallClock(spark: SparkSession, path: String,
      epochMs: Long): Long = {
    val records = Timeline.records(spark, path)
    require(records.nonEmpty, s"no commit timeline at $path")
    val eligible = records.filter(_.wallMs.forall(_ <= epochMs)).map(_.cts)
    require(eligible.nonEmpty,
      s"no commit at $path recorded at or before epoch ms $epochMs " +
        s"(earliest recorded commit is later) — use VERSION AS OF, or a " +
        "later instant")
    eligible.max
  }

  /** Recorded wall clock (`wall_ms`) of commit `cts`, if the record
    * carries one (commits predating the field don't). Metadata read of
    * one tiny file. */
  def commitWallClock(spark: SparkSession, path: String,
      cts: Long): Option[Long] =
    Timeline.recordOf(spark, path, cts).flatMap(_.wallMs)

  /** Latest RECORDED commit id, driver-side (one dir listing, no Spark
    * job) — the polling primitive a streaming source's `getOffset`
    * calls every trigger. None when the table has no recorded commits.
    * Same strict numeric-stem rule as [[commits]]: inflight markers,
    * `.plan` siblings, tombstones and foreign junk never count. */
  def latestCommit(spark: SparkSession, path: String): Option[Long] =
    Timeline.list(spark, path).recorded.map(_.id).maxOption

  /** Incremental pull: rows last written by a commit AFTER `sinceTs`
    * (Hudi incremental-query semantics — deleted rows simply stop
    * appearing). On a MOR table the pull runs over the merged snapshot,
    * so rows whose winning version sits in a delta file count.
    * Partition/stat pruning applies: the stamp predicate is pushed to
    * the scan. */
  def readSince(spark: SparkSession, path: String, sinceTs: Long): DataFrame =
    readSince(spark, TableState.load(spark, path), sinceTs)

  /** The one since-filter behind both public pulls and
    * `format("graft")`'s `sinceCommit`. */
  private[graft] def readSince(spark: SparkSession, st: TableState,
      sinceTs: Long): DataFrame =
    readState(spark, st, None).filter(col(commitCol) > sinceTs)

  /** Incremental pull between two commits: rows last written by a
    * commit in (afterTs, untilTs]. */
  def readBetween(spark: SparkSession, path: String, afterTs: Long,
      untilTs: Long): DataFrame =
    readTable(spark, path)
      .filter(col(commitCol) > afterTs && col(commitCol) <= untilTs)

  // ---- time travel (Hudi `as.of.instant` analogue) ----
  // The reference pins hudi 0.10.0 (`glue/interactive.sh:12`), the
  // release that shipped time-travel queries. The engine's analogue:
  // every commit RETAINS the files it superseded under
  // `_graft_history/<cts>/` (a rename of the crash-recovery copy the
  // commit already made — no extra bytes written), and the recorded
  // commit metadata already names exactly which table-relative files
  // each commit added and removed. Any past snapshot is then a pure
  // METADATA reconstruction: start from the current listing and replay
  // the recorded commits backwards. Every write is a recorded commit,
  // so history stays whole until [[clean]] (Hudi's cleaner) bounds it:
  // each commit's superseded files stay in `_graft_history/` until
  // clean sweeps them, and below the floor clean raises [[readAsOf]]
  // refuses rather than serve a snapshot it cannot rebuild.

  private def historyRoot(path: String) = new Path(path, "_graft_history")

  private[merge] def historyDir(path: String, cts: Long): Path =
    new Path(historyRoot(path), f"$cts%020d")

  /** Oldest valid `asOf` — monotonic; raised by [[clean]] (history
    * swept past it). */
  private def floorFile(path: String) = new Path(historyRoot(path), "_floor")

  /** The oldest commit id [[readAsOf]] can still serve (0 = the full
    * recorded timeline is travelable). */
  def historyFloor(spark: SparkSession, path: String): Long =
    readFloor(fsFor(spark, path), path)

  private def readFloor(fs: FileSystem, path: String): Long = {
    val p = floorFile(path)
    if (!fs.exists(p)) 0L else readSmallFile(fs, p).trim.toLong
  }

  private def raiseFloor(fs: FileSystem, path: String, to: Long): Unit =
    if (to > readFloor(fs, path)) {
      fs.mkdirs(historyRoot(path))
      replaceSmallFile(fs, floorFile(path), to.toString)
    }

  /** Move a commit's retired-file copy from the rollback
    * scratch into durable history (a rename — metadata-priced on
    * HDFS-like stores), then sweep the staging sibling. Pure-insert
    * commits retire nothing and leave no history dir. */
  private[merge] def retireToHistory(fs: FileSystem, path: String, cts: Long,
      staging: Option[String]): Unit = {
    val rb = rollbackDir(path, cts)
    if (fs.exists(rb)) {
      fs.mkdirs(historyRoot(path))
      if (!fs.rename(rb, historyDir(path, cts)))
        System.err.println(
          s"[graft.merge] WARN: failed to move retired files $rb into " +
            s"history; commit $cts is not time-travelable past")
    }
    staging.foreach(sweepCommitScratch(fs, _, None))
  }

  private def savepointFile(path: String, cts: Long) =
    new Path(historyRoot(path), f"_savepoint_$cts%020d")

  /** Pin commit `cts` against [[clean]] — Hudi's savepoint: while the
    * pin exists, clean never raises the history floor past `cts`, so
    * `readAsOf(cts)` / `restoreTo(cts)` stay serviceable however small
    * the retention window gets (the disaster-recovery anchor). Requires
    * a recorded, still-travelable commit. */
  def savepoint(spark: SparkSession, path: String, cts: Long): Unit = {
    val fs = fsFor(spark, path)
    require(fs.exists(Timeline.recordFile(path, cts)),
      s"commit $cts is not recorded at $path — only recorded commits " +
        "can be savepointed")
    val floor = historyFloor(spark, path)
    if (cts < floor)
      throw new IllegalStateException(
        s"cannot savepoint commit $cts at $path: history floor is " +
          s"$floor — the snapshot is already gone")
    fs.mkdirs(historyRoot(path))
    writeSmallFile(fs, savepointFile(path, cts), cts.toString)
  }

  /** Release a savepoint; the next [[clean]] may sweep past it. */
  def releaseSavepoint(spark: SparkSession, path: String, cts: Long): Unit = {
    val fs = fsFor(spark, path)
    require(fs.exists(savepointFile(path, cts)),
      s"no savepoint at commit $cts for $path")
    fs.delete(savepointFile(path, cts), false)
    ()
  }

  /** The currently pinned commit ids, ascending. */
  def savepoints(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsFor(spark, path)
    val root = historyRoot(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("_savepoint_") =>
        n.stripPrefix("_savepoint_").toLong
    }.sorted
  }


  /** Time-travel read: the table exactly as of commit `asOf` (the
    * state AFTER that commit landed). Pure metadata reconstruction —
    * the current file listing, minus files later commits added, plus
    * files later commits retired into `_graft_history/` — then one
    * parquet read over the resulting file set (partition values
    * recovered from the hive layout of each file's resident base, so
    * partition pruning still applies). Rows carry their original
    * `_commit_ts` stamps (all ≤ `asOf`).
    *
    * Served with the CURRENT recorded schema: files written before an
    * additive evolution read back null-filled, exactly like a current
    * read of the same files (Hudi time travel reads through the latest
    * schema the same way).
    *
    * Fails loudly — never serves a wrong snapshot — when `asOf`
    * predates [[historyFloor]] (history cleaned past it). */
  def readAsOf(spark: SparkSession, path: String, asOf: Long): DataFrame = {
    val st = TableState.load(spark, path)
    require(st.mor.isEmpty,
      s"$path is a MERGE_ON_READ table — use MorTable.readAsOf (the " +
        "snapshot must merge base AND delta files at the as-of point)")
    snapshotAt(spark, st, asOf)
  }

  /** Replay the recorded file movements backwards from `initial`
    * (table-relative paths) to the state as of `asOf`: rel path → None
    * (resident in the table) | Some(c) (retired by commit c, resident
    * in its history dir). Shared by COW time travel and the MOR
    * delta-namespace replay — each caller supplies its namespace's
    * current listing and ignores map entries outside it (a MOR
    * compaction commit records base AND delta retirements in one
    * removed list). */
  private[merge] def replayFileMap(spark: SparkSession, path: String,
      asOf: Long, initial: Seq[String]): Map[String, Option[Long]] = {
    var files: Map[String, Option[Long]] =
      initial.map(_ -> (None: Option[Long])).toMap
    Timeline.records(spark, path, asOf).reverse.foreach { c =>
      files = files -- c.added
      files ++= c.removed.map(_ -> (Some(c.cts): Option[Long]))
    }
    files
  }

  private[merge] def requireAboveFloor(spark: SparkSession, path: String,
      asOf: Long): Unit = {
    require(asOf >= 0, s"asOf must be >= 0, got $asOf")
    val floor = historyFloor(spark, path)
    if (asOf < floor)
      throw new IllegalStateException(
        s"cannot time-travel to commit $asOf at $path: history floor is " +
          s"$floor (older snapshots were cleaned)")
  }

  /** The COW snapshot reconstruction (no MOR guard): ROOT-namespace
    * files only — `_`-prefixed dirs are skipped by the listing, and
    * any `_graft_deltas/` entries a MOR compaction's removed list
    * re-introduces are filtered back out, so on a MOR table this is
    * exactly the BASE at `asOf` (MorTable.readAsOf merges the delta
    * side on top). */
  private[merge] def snapshotAt(spark: SparkSession, st: TableState,
      asOf: Long): DataFrame = {
    val (fs, path, tableRoot) = (st.fs, st.path, st.root)
    requireAboveFloor(spark, path, asOf)
    // replay backwards: location = None → resident in the table,
    // Some(c) → retired by commit c, resident in its history dir
    val files = replayFileMap(spark, path, asOf,
      listDataFiles(fs, tableRoot).map(relativize(tableRoot, _)))
      .filter { case (rel, _) => !rel.startsWith("_") }
    val schema = st.schema.getOrElse(readTable(spark, st).schema)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // basePath recovers the partition column from the preserved hive
    // layout; explicit schema, no footer reads
    residentGroups(st, asOf, files, "").map { case (base, paths) =>
      spark.read.schema(schema).option("basePath", base.toString)
        .parquet(paths: _*)
    }.reduce(_.unionByName(_))
  }

  /** The root a replayed file lives under now: the table (`None`), or
    * the history dir of the commit that retired it — which must still
    * exist. */
  private[merge] def residentRoot(st: TableState, retiredBy: Option[Long],
      what: String): Path = retiredBy match {
    case None => st.root
    case Some(c) =>
      val h = historyDir(st.path, c)
      if (!st.fs.exists(h))
        throw new IllegalStateException(
          s"cannot $what at ${st.path}: commit $c's retired files are " +
            s"missing from $h (history damaged — was the directory " +
            "removed manually?)")
      st.fs.makeQualified(h)
  }

  /** A replayed file map ([[replayFileMap]]) as one read per resident
    * root (the table, then each contributing history dir): the
    * `basePath` of namespace `ns` under that root, and the absolute
    * file paths. */
  private[merge] def residentGroups(st: TableState, asOf: Long,
      files: Map[String, Option[Long]], ns: String)
      : Seq[(Path, Seq[String])] =
    files.toSeq.groupBy(_._2).toSeq.sortBy(_._1.getOrElse(-1L))
      .map { case (loc, grp) =>
        val root = residentRoot(st, loc, s"time-travel to commit $asOf")
        (if (ns.isEmpty) root else new Path(root, ns),
          grp.map { case (rel, _) => new Path(root, rel).toString })
      }

  /** Change-data-capture read: every row-level change applied by the
    * recorded commits in (afterTs, untilTs] — the Delta-CDF / Hudi
    * incremental-with-deletes shape, recovered purely from commit
    * metadata and the COW history, with NO change files written at
    * commit time and NO snapshot diffing at read time. Each commit's
    * changes derive from just the files it touched: post-images are the
    * rows in its added files stamped with its own commit id
    * (carried-over rows keep their older stamps, so the stamp filter
    * drops them at the scan), pre-images are the rows in the files it
    * retired to `_graft_history/<cts>/`. Joining the two on `keyCols`
    * classifies everything: post∖pre = insert, post∩pre = update
    * (pre- and post-image rows emitted), pre∖postAll = delete (postAll
    * = every row in the added files, so carried-over keys are not
    * mistaken for deletes). Cost scales with the commits' touched file
    * groups, never with table size.
    *
    * `keyCols` must be the FULL identifying key — for partition-scoped
    * keys (the [[upsert]] default) pass keyCols ++ partitionCols.
    *
    * Output = the table's columns (minus the `_commit_ts` stamp) plus
    * `_change_type` ∈ insert | update_preimage | update_postimage |
    * delete and `_change_commit` = the commit that applied the change;
    * deletes and update pre-images carry the pre-change payload.
    *
    * Like [[readAsOf]], requires `afterTs >= historyFloor` and refuses
    * rather than serving incomplete changes when history was cleaned.
    * [[readSince]] stays the cheap
    * path when deletes and pre-images don't matter. */
  def readChanges(spark: SparkSession, path: String, afterTs: Long,
      untilTs: Long, keyCols: Seq[String]): DataFrame = {
    val st = TableState.load(spark, path)
    require(st.mor.isEmpty,
      s"$path is a MERGE_ON_READ table — change capture is not " +
        "supported on MOR (a delta commit's rows are merge inputs, not " +
        "post-images; compact to fold deltas into base first)")
    require(afterTs >= 0 && untilTs > afterTs,
      s"need untilTs > afterTs >= 0, got ($afterTs, $untilTs]")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val floor = historyFloor(spark, path)
    if (afterTs < floor)
      throw new IllegalStateException(
        s"cannot read changes after commit $afterTs at $path: history " +
          s"floor is $floor (older pre-images were cleaned — see readAsOf)")
    val (fs, tableRoot) = (st.fs, st.root)
    val all = Timeline.records(spark, path, afterTs)
    val inRange = all.filter(_.cts <= untilTs)
    val schema = st.schema.getOrElse(readTable(spark, st).schema)
    val payloadCols = schema.fields.map(_.name).filterNot(_ == commitCol)
    keyCols.foreach(k => require(payloadCols.contains(k),
      s"key column $k not in table schema ${payloadCols.mkString(",")}"))
    // where does each in-range added file live NOW? resident in the
    // table unless a later recorded commit retired it into its history
    // dir (that later commit is > afterTs, so floor guarantees its
    // history is still present)
    val retiredBy: Map[String, Long] =
      all.flatMap(c => c.removed.map(_ -> c.cts)).toMap
    def histDirChecked(c: Long): Path =
      residentRoot(st, Some(c), "read changes")
    def readRels(rels: Seq[String], locate: String => Path): DataFrame =
      if (rels.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else rels.groupBy(locate).toSeq.sortBy(_._1.toString)
        .map { case (base, group) =>
          spark.read.schema(schema).option("basePath", base.toString)
            .parquet(group.map(r => new Path(base, r).toString): _*)
        }.reduce(_.unionByName(_))
    val perCommit = inRange.map { c =>
      val postAll = readRels(c.added, rel =>
        retiredBy.get(rel) match {
          case Some(later) if later > c.cts => histDirChecked(later)
          case _ => tableRoot
        })
      val pre = readRels(c.removed, _ => histDirChecked(c.cts))
      val post = postAll.filter(col(commitCol) === c.cts)
      val inserts = post.join(pre, keyCols, "left_anti")
        .withColumn("_change_type", lit("insert"))
      val updPost = post.join(pre, keyCols, "left_semi")
        .withColumn("_change_type", lit("update_postimage"))
      val updPre = pre.join(post, keyCols, "left_semi")
        .withColumn("_change_type", lit("update_preimage"))
      val deletes = pre.join(postAll, keyCols, "left_anti")
        .withColumn("_change_type", lit("delete"))
      inserts.unionByName(updPost).unionByName(updPre).unionByName(deletes)
        .withColumn("_change_commit", lit(c.cts))
    }
    val out =
      if (perCommit.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .withColumn("_change_type", lit(""))
          .withColumn("_change_commit", lit(0L))
          .limit(0)
      else perCommit.reduce(_.unionByName(_))
    out.select(payloadCols.map(col) :+ col("_change_type") :+
      col("_change_commit"): _*)
  }

  /** Snapshot diff between two recorded commits: one row per key whose
    * STATE differs at `toTs` vs `fromTs`, classified `insert` (absent →
    * present), `delete` (present → absent) or `update` (present at
    * both with any payload column changed). The anti-entropy primitive:
    * audit what a window of commits net-changed, reconcile a replica,
    * or review a backfill before publishing downstream.
    *
    * STATE-based, not event-based: a key deleted then re-inserted with
    * identical values nets to NO row here (its state is equal), while
    * [[readChanges]] reports both events — the two views agree on net
    * effect by construction (`TimeTravelSpec` pins this against the CDC
    * stream). `keyCols` must be the full identifying key, as in
    * [[readChanges]]. Across additive schema evolution the older
    * snapshot is null-aligned to the newer schema, so a value appearing
    * in an evolved column reads as `update` — the honest answer.
    *
    * Scale shape: both snapshots are plan-time file selections
    * ([[readAsOf]] — no data copied), and the diff is ONE full-outer
    * shuffle on the key struct; payload comparison rides the same
    * exchange as a null-safe struct equality, so cost is the two
    * snapshot scans plus one key-sized join regardless of how many
    * commits separate the snapshots. */
  def diffSnapshots(spark: SparkSession, path: String, fromTs: Long,
      toTs: Long, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(fromTs <= toTs, s"need fromTs <= toTs, got ($fromTs, $toTs)")
    val a0 = readAsOf(spark, path, fromTs).drop(commitCol)
    val b0 = readAsOf(spark, path, toTs).drop(commitCol)
    keyCols.foreach(c => require(b0.columns.contains(c),
      s"key column $c not present in the table at $path"))
    // additive evolution: align the older snapshot to the newer schema
    // (missing columns read null, so evolved values surface as updates)
    val a1 = alignTo(a0, b0.schema.map(f => f.name -> f.dataType))
    val valCols = b0.columns.filterNot(keyCols.contains).toSeq
    val left = a1.select(struct(keyCols.map(col): _*).as("_ka"),
      struct(valCols.map(col): _*).as("_va"))
    val right = b0.select(struct(keyCols.map(col): _*).as("_kb"),
      struct(valCols.map(col): _*).as("_vb"))
    left.join(right, col("_ka") <=> col("_kb"), "full_outer")
      .withColumn("change",
        when(col("_ka").isNull, "insert")
          .when(col("_kb").isNull, "delete")
          .when(!(col("_va") <=> col("_vb")), "update"))
      .filter(col("change").isNotNull)
      .withColumn("_k", coalesce(col("_ka"), col("_kb")))
      .select(keyCols.map(c => col(s"_k.$c").as(c)) :+ col("change"): _*)
  }

  /** Physical revert to the state as of commit `toTs` — Hudi's
    * savepoint-restore. Walks the recorded commits after `toTs` newest
    * first, un-publishing each one's added files, restoring its retired
    * files from `_graft_history/`, and tombstoning its id
    * (`.rolledback` — issued ids are never reissued, even reverted
    * ones). Unlike [[rollback]], which refuses recorded commits, this
    * IS the operator that deletes durable history: incremental
    * consumers that already read the reverted commits must themselves
    * be reset (exactly Hudi's restore caveat — their checkpoints point
    * at commits that no longer exist). The recorded schema is left as
    * is: columns added by reverted commits stay declared and read back
    * null-filled (additive evolution never retracts).
    *
    * Requires the whole revert range to be reconstructable
    * (`toTs >= historyFloor`, every reverted commit's history present)
    * and QUIESCED: an inflight commit after `toTs` must be
    * [[rollback]]ed first. Validates both before touching any file.
    * Idempotent across its own crash windows — every step checks
    * before acting, so a restore that dies midway can be re-run. */
  def restoreTo(spark: SparkSession, path: String, toTs: Long): Unit = {
    val floor = historyFloor(spark, path)
    if (toTs < floor)
      throw new IllegalStateException(
        s"cannot restore $path to commit $toTs: history floor is $floor " +
          "(see readAsOf — the revert range is no longer reconstructable)")
    val fs = fsFor(spark, path)
    val tableRoot = fs.makeQualified(new Path(path))
    val later = Timeline.records(spark, path, toTs).reverse
    // pre-validate the WHOLE range before any mutation: missing history
    // or a still-inflight commit must abort a zero-file-touched restore
    later.filter(_.removed.nonEmpty).foreach { c =>
      if (!fs.exists(historyDir(path, c.cts)))
        throw new IllegalStateException(
          s"cannot restore $path to commit $toTs: commit ${c.cts}'s " +
            s"retired files are missing from ${historyDir(path, c.cts)}")
    }
    Timeline.list(spark, path).issued.filter(_ > toTs).foreach { id =>
      if (fs.exists(Timeline.claimFile(path, id)))
        throw new IllegalStateException(
          s"cannot restore $path to commit $toTs: commit $id is still " +
            s"inflight — rollback(path, $id) it first")
    }
    later.foreach { c =>
      val h = historyDir(path, c.cts)
      reverseFiles(fs, tableRoot, c.added, c.removed, h, "restore")
      // the reverted commit's index entry points at files just removed
      KeyIndex.dropEntry(spark, path, c.cts)
      Timeline.tombstone(fs, path, c.cts)
      if (fs.exists(h)) fs.delete(h, true) // drained above; drop the husk
    }
  }

  /** The cleaner (Hudi's `hoodie.cleaner.commits.retained` analogue):
    * keep the retired-file history of the most recent `retainLast`
    * recorded commits, sweep everything older, and raise the floor so
    * [[readAsOf]] refuses what it can no longer serve. Bounds history
    * growth: without cleaning, a COW table's history holds every
    * superseded file version ever written. Returns the number of
    * history dirs removed. */
  def clean(spark: SparkSession, path: String, retainLast: Int): Long = {
    require(retainLast >= 1, "retainLast must be >= 1")
    val fs = fsFor(spark, path)
    val recorded = Timeline.list(spark, path).recorded.map(_.id).sorted
    if (recorded.size <= retainLast) return 0L
    // a savepoint caps the floor: clean retains AT LEAST the retention
    // window, and never sweeps a pinned snapshot
    val byRetention = recorded(recorded.size - retainLast - 1)
    val pinned = savepoints(spark, path)
    val floor =
      if (pinned.isEmpty) byRetention else math.min(byRetention, pinned.min)
    raiseFloor(fs, path, floor)
    val root = historyRoot(path)
    if (!fs.exists(root)) return 0L
    fs.listStatus(root).toSeq.count { st =>
      st.isDirectory && st.getPath.getName.forall(_.isDigit) &&
        st.getPath.getName.toLong <= floor && fs.delete(st.getPath, true)
    }.toLong
  }

  // ---- query inventory ----

  type Q = (SparkSession, String) => DataFrame

  /** Scratch table location for a replay query, removed at JVM exit (a
    * bench process runs each replay three times). Not removed eagerly:
    * the returned DataFrame's lineage reads the dir. */
  private[graft] def scratchTable(prefix: String): String =
    graft.util.Scratch.fresh(prefix) + "/table"

  /** Run `body` with AQE's post-shuffle partition coalescing OFF,
    * restoring the session value after. The compaction driver keys
    * (x12/x12w) use this around their SETUP commits: their subject is
    * the table service over a task-fragmented small-file layout — the
    * shape a high-parallelism production writer leaves — and the
    * session's coalescing writer (see [[graft.SessionTuning]]) would
    * otherwise land commits in one right-sized file per partition,
    * leaving `require(n > 0)` nothing to compact. Layout-only: the
    * committed ROWS are identical either way (both keys' oracles are
    * unchanged). */
  private[graft] def fragmented[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** Deterministic replay batch `b` over the orders table: rows whose
    * o_orderkey ≡ b (mod 7), keyed (okey = o_orderkey % 500, status
    * partition) with precombine o_orderkey. The % 500 fold makes ~4
    * same-key rows per batch, so within-batch precombine dedup (O4) is
    * genuinely exercised; precombine is unique (o_orderkey), so the
    * winner is total — no tie-break dependence. */
  private[graft] def replayBatch(spark: SparkSession, dir: String, b: Int,
      keyMod: Int = 500): DataFrame =
    graft.Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 7 === b)
      .select(
        (col("o_orderkey") % keyMod).as("okey"),
        col("o_orderstatus").as("part"),
        col("o_totalprice").as("price"),
        col("o_orderkey").as("pre"))

  /** q18: the full Hudi-semantics write path (O1 upsert ×2, O4
    * precombine dedup, O5 partition-scoped keys, O3 delete) replayed
    * against a scratch table, then read back — the driver's DuckDB
    * oracle recomputes the same last-writer-wins + anti-join algebra
    * relationally. This is the one SURVEY §2 capability that previously
    * had only spec coverage. */
  val queries: Map[String, Q] = Map(
    "q18_upsert_replay" -> ((s, dir) => {
      val path = scratchTable("graft_q18_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      // delete a subset of batch-0 keys (partition-scoped)
      delete(s, replayBatch(s, dir, 0).filter(col("pre") % 3 === 0)
        .select("okey", "part"), path, keyCols, "part")
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // q18w: the q18 replay over a WIDE key space (okey % 50000). At
    // driver scale it re-checks the same algebra; its reason to exist
    // is the 10x sf1 artifact, where the %500 scenario saturates (the
    // dense 1.5M-key data packs ~300 orders per (okey, part), the %3
    // delete covers every pair and the final table is EMPTY — 0 ≡ 0
    // proved nothing about upsert/delete at scale). Survivor density
    // here is scale-stable, so the sf1 row is real evidence.
    "q18w_upsert_replay_wide" -> ((s, dir) => {
      val path = scratchTable("graft_q18w_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000).filter(col("pre") % 3 === 0)
        .select("okey", "part"), path, keyCols, "part")
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // q18b: additive schema evolution end-to-end — batch 2 carries a
    // column batch 1 never had; stored batch-1 survivors read back
    // null-filled (the oracle recomputes the same NULL-filled union)
    "q18b_schema_evolution" -> ((s, dir) => {
      val path = scratchTable("graft_q18b_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1).withColumn("src", lit("b1")),
        path, keyCols, "pre", "part")
      readTable(s, path)
        .select("okey", "part", "price", "pre", "src")
        .orderBy("part", "okey")
    }),
    // q23: compaction is content-invariant — the q18 replay (whose
    // appends leave several files per partition) compacted to one file
    // per partition must still hash-match the same relational oracle.
    // WIDE key space (okey % 50000, the q18w recipe): dense %500 keys
    // saturate at sf1 (the %3 delete covers every (okey, part) pair and
    // the compacted table is EMPTY — 0 ≡ 0 proves nothing about
    // compaction at 10x). Dense-key compaction stays covered by q28 and
    // the Merge/MorTable specs; this key's law needs survivors.
    "q23_compact" -> ((s, dir) => {
      val path = scratchTable("graft_q23_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000).filter(col("pre") % 3 === 0)
        .select("okey", "part"), path, keyCols, "part")
      compact(s, path, Seq("part"), keyCols)
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x34: q23's compaction scenario driven through SQL — the
    // graft_compact('<path>') table-function procedure (partition/key
    // columns derived from the recorded key spec, no arguments beyond
    // the table). The key returns the table CONTENT after the SQL
    // compaction, sharing q23's WIDE replay oracle (okey % 50000 —
    // non-vacuous at sf1, see q23): the procedure must be
    // content-invariant; its stats row is spec-asserted.
    "x34_sql_compact" -> ((s, dir) => {
      val path = scratchTable("graft_x34_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000).filter(col("pre") % 3 === 0)
        .select("okey", "part"), path, keyCols, "part")
      s.sql(s"SELECT * FROM graft_compact('$path')").collect()
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x35: x26's retention scenario driven through SQL — the
    // graft_clean('<path>', retain_last) procedure. Cleaning sweeps
    // only reconstruction history; the CURRENT state must be
    // untouched, so the key shares x26's batch-wins replay oracle.
    // x47: the read-only integrity report over a healthy
    // replay — every check row is pinned by the oracle, and the
    // footer_row_count detail is cross-checked against the RELATIONAL
    // count of the same replay (footer sum == count(*), the x40 law
    // restated through the fsck surface). Corruption detection (leaks,
    // inflight residue, unrecorded deltas, dangling savepoints) is
    // spec-asserted in GraftSqlSpec, where file-level seeding is
    // observable.
    "x47_sql_fsck" -> ((s, dir) => {
      val path = scratchTable("graft_x47_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path, keyCols,
        "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path, keyCols,
        "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      s.sql(s"SELECT * FROM graft_fsck('$path') ORDER BY check_name")
    }),
    "x35_sql_clean" -> ((s, dir) => {
      val path = scratchTable("graft_x35_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      s.sql(s"SELECT * FROM graft_clean('$path', 1)").collect()
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x36: q24's z-order layout rewrite driven through SQL — the
    // graft_zorder('<path>', 'pk,sk') procedure (partition columns
    // from the recorded key spec, interleave columns named in the
    // call). Content-invariant by the q24 law, so the oracle is the
    // untouched relation.
    "x36_sql_zorder" -> ((s, dir) => {
      val path = scratchTable("graft_x36_")
      val rows = graft.Tables.lineitem(s, dir).select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        col("l_quantity").as("qty"), col("l_returnflag").as("part"))
      bulkInsert(rows, path, "part", keyCols = Seq("pk", "sk"),
        targetFileBytes = 1L << 20)
      s.sql(s"SELECT * FROM graft_zorder('$path', 'pk,sk', ${1L << 20})")
        .collect()
      readTable(s, path)
        .select("okey", "lnum", "pk", "sk", "qty", "part")
        .orderBy("okey", "lnum", "pk", "sk", "qty", "part")
    }),
    // x37: q26's disaster-recovery revert driven entirely through SQL —
    // savepoint the two-batch commit, CLEAN past it (the pin must cap
    // the floor; without it retention would sweep the revert range and
    // the restore would refuse), then physically restore. The plain
    // read of the reverted table shares q26's oracle: the two-batch
    // merge state, as if the delete and third upsert never happened.
    "x37_sql_restore" -> ((s, dir) => {
      val path = scratchTable("graft_x37_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      val c2 = upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      s.sql(s"SELECT * FROM graft_savepoint('$path', $c2)").collect()
      s.sql(s"SELECT * FROM graft_clean('$path', 1)").collect()
      s.sql(s"SELECT * FROM graft_restore('$path', $c2)").collect()
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x40: exact count(*) answered from parquet FOOTER metadata alone
    // (graft_count — zero data IO; at 100 TB the metadata-priced
    // answer to the most common analyst question). The wide replay
    // (two upserts + a delete, so live files reflect rewrites) must
    // produce the same count the oracle computes relationally — the
    // proof that a COW table's footer sum IS its row count.
    // x41: ANALYZE-grade per-column statistics from parquet FOOTER
    // metadata alone (graft_stats — zero data IO). The table carries an
    // injected-null column so the null count is non-vacuous, and asks
    // for one column of each class: a data long (okey), a nullable data
    // long (sk), and the hive partition column (part, answered from
    // directory values). The oracle computes the identical five
    // aggregates relationally — the proof that footer stats ARE the
    // table's stats on a COW layout.
    "x41_sql_stats" -> ((s, dir) => {
      val path = scratchTable("graft_x41_")
      val rows = graft.Tables.lineitem(s, dir).select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
        when(col("l_orderkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("l_suppkey")).as("sk"),
        col("l_returnflag").as("part"))
      bulkInsert(rows, path, "part", keyCols = Seq("okey", "lnum"),
        targetFileBytes = 1L << 20)
      s.sql(s"SELECT * FROM graft_stats('$path', 'okey,sk,part')")
        .orderBy("column")
    }),
    "x40_sql_count" -> ((s, dir) => {
      val path = scratchTable("graft_x40_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000).filter(col("pre") % 3 === 0)
        .select("okey", "part"), path, keyCols, "part")
      s.sql(s"SELECT n_rows FROM graft_count('$path')")
    }),
    // x39: q25's time travel driven through SQL WITHOUT catalog
    // registration — graft_snapshot('<path>', commit_ts), the
    // path-based complement of VERSION AS OF. Shares q25's oracle:
    // the as-of read must reconstruct the two-batch snapshot past the
    // delete and the third upsert.
    "x39_sql_snapshot" -> ((s, dir) => {
      val path = scratchTable("graft_x39_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      val c2 = upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      s.sql(
        s"""SELECT okey, part, price, pre
           |FROM graft_snapshot('$path', $c2)
           |ORDER BY part, okey""".stripMargin)
    }),
    // x38: the staging-leak sweep driven through SQL — the q18w replay
    // plus a manufactured recovery-copy leak (the table-sized sibling a
    // crashed commit leaves), swept by graft_vacuum. Content-invariant
    // by construction (vacuum touches only non-table siblings), so the
    // key shares the WIDE replay oracle (survivor density scale-stable,
    // keeping the sf1 row non-vacuous); the sweep itself and the stats
    // row are spec-asserted where file-level effects are observable.
    "x38_sql_vacuum" -> ((s, dir) => {
      val path = scratchTable("graft_x38_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000).filter(col("pre") % 3 === 0)
        .select("okey", "part"), path, keyCols, "part")
      val fs = fsFor(s, path)
      val t = new Path(path.stripSuffix("/"))
      val leaked = new Path(t.getParent, s"${t.getName}_staging_999")
      fs.mkdirs(leaked)
      writeSmallFile(fs, new Path(leaked, "part-junk.parquet"), "leak")
      s.sql(s"SELECT * FROM graft_vacuum('$path')").collect()
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // q24: z-order clustering is a pure LAYOUT service — the oracle is
    // the untouched relation (content invariance, the same contract
    // q23 checks for compact). The pruning benefit itself is asserted
    // in MergeSpec, where file-level effects are observable.
    "q24_zorder" -> ((s, dir) => {
      val path = scratchTable("graft_q24_")
      val rows = graft.Tables.lineitem(s, dir).select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        col("l_quantity").as("qty"), col("l_returnflag").as("part"))
      bulkInsert(rows, path, "part", keyCols = Seq("pk", "sk"),
        targetFileBytes = 1L << 20)
      clusterZOrder(s, path, Seq("part"), Seq("pk", "sk"),
        targetFileBytes = 1L << 20)
      readTable(s, path)
        .select("okey", "lnum", "pk", "sk", "qty", "part")
        .orderBy("okey", "lnum", "pk", "sk", "qty", "part")
    }),
    // q37: conditional merge end-to-end — batch 1 merged into the
    // batch-0 base with all three clauses live: matched sources with
    // pre%5=0 delete their target, the rest update only when the
    // incoming price beats the stored one (a source+target condition),
    // and not-matched sources insert only even keys. The oracle
    // recomputes the same three-way split relationally.
    "q37_merge_conditional" -> ((s, dir) => {
      val path = scratchTable("graft_q37_")
      upsert(s, replayBatch(s, dir, 0), path, Seq("okey"), "pre", "part")
      mergeInto(s, replayBatch(s, dir, 1), path, Seq("okey"), "pre",
        Seq("part"),
        whenMatchedDelete = Some(col("s.pre") % 5 === 0),
        whenMatchedUpdate = Some(col("s.price") > col("t.price")),
        whenNotMatchedInsert = Some(col("s.okey") % 2 === 0))
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // q36: footer-stats file skipping end-to-end — a key-range read
    // over a range-laid-out table must equal the plain relational
    // filter (the oracle), with the pruning itself asserted at file
    // level in StatsPruningSpec. bulkInsert's repartitionByRange gives
    // each file a tight okey range, so the BETWEEN scan schedules only
    // the overlapping files.
    "q36_stats_skipping" -> ((s, dir) => {
      val path = scratchTable("graft_q36_")
      val rows = graft.Tables.lineitem(s, dir).select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_returnflag").as("part"))
      bulkInsert(rows, path, "part", keyCols = Seq("okey"),
        targetFileBytes = 256L << 10)
      StatsPruning.readPruned(s, path, "okey", 1000L, 5000L)
        .select("okey", "lnum", "qty", "price", "part")
        .orderBy("okey", "lnum", "qty", "price", "part")
    }),
    // x02: the file-level key index end-to-end — the q18 replay plus a
    // compaction (which folds the index log and re-indexes every file)
    // and a post-compaction upsert whose matched-file discovery runs
    // through bloom candidate pruning (a TABLE-SCOPED 0/0 gate policy
    // forces build+probe even at toy file counts, without touching the
    // JVM-wide defaults any concurrent merge would observe). The
    // oracle recomputes the same algebra relationally — index pruning
    // must be result-invisible.
    "x02_indexed_upsert" -> ((s, dir) => {
      val path = scratchTable("graft_x02_")
      val keyCols = Seq("okey")
      KeyIndex.setProbeGates(s, path, 0, 0L)
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0).filter(col("pre") % 3 === 0)
        .select("okey", "part"), path, keyCols, "part")
      compact(s, path, Seq("part"), keyCols)
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x03: streaming incremental pull — three upserts, then
    // the commit-record stream drained AvailableNow into a parquet
    // sink. Batch boundaries can't change the union (each micro-batch
    // pulls exactly the rows its commit ids own at read time), so the
    // sink equals the stamped table state however the file source
    // groups the commit records; the oracle recomputes that state
    // relationally.
    "x03_incremental_stream" -> ((s, dir) => {
      val path = scratchTable("graft_x03_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      val sink = scratchTable("graft_x03sink_")
      IncrementalStream.foreachIncrement(s, path,
        scratchTable("graft_x03ckpt_")) { (inc, _, _) =>
        inc.write.mode("append").parquet(sink)
      }
      s.read.parquet(sink)
        .select(col("okey"), col("part"), col("price"), col("pre"),
          col(commitCol).as("commit_ts"))
        .orderBy("part", "okey")
    }),
    // q19: the commit timeline end-to-end — two upserts, then
    // an incremental pull since commit 1. The pull must return exactly
    // the rows OWNED by commit 2 (batch-2 winners), and none of the
    // batch-1 survivors whose keys batch 2 never touched — that
    // exclusion is what proves per-record stamps merge correctly.
    "q19_incremental_pull" -> ((s, dir) => {
      val path = scratchTable("graft_q19_")
      val keyCols = Seq("okey")
      val c1 = upsert(s, replayBatch(s, dir, 0), path,
        keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      readSince(s, path, c1)
        .select(col("okey"), col("part"), col("price"), col("pre"),
          col(commitCol).as("commit_ts"))
        .orderBy("part", "okey")
    }),
    // q22: timeline introspection + monotonicity under the nastiest
    // sequence — a delete that removes EVERY row stamped with the
    // latest commit. A data-derived next-commit would reuse id 2 and an
    // incremental consumer would silently miss the reused commit; the
    // metadata timeline issues 3 to the delete and 4 to the upsert
    // after it. Output = the commits() enumeration itself, relationally
    // recomputed by the oracle.
    "q22_timeline" -> ((s, dir) => {
      val path = scratchTable("graft_q22_")
      val keyCols = Seq("okey")
      val c1 = upsert(s, replayBatch(s, dir, 0), path,
        keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      // drop every surviving commit-2 row, then commit again
      delete(s, readSince(s, path, c1).select("okey", "part"),
        path, keyCols, "part")
      upsert(s, replayBatch(s, dir, 2), path,
        keyCols, "pre", "part")
      commits(s, path).orderBy("commit_ts")
    }),
    // x24: the same timeline read through the SESSION PARSER as a SQL
    // table function — SELECT * FROM graft_commits('<path>') (Delta
    // DESCRIBE HISTORY / Hudi show_commits shape, injected by
    // GraftExtensions). Identical replay to q22, so it shares q22's
    // oracle: the SQL surface must see exactly the API's timeline.
    // x27: BULK INSERT end-to-end — the initial-load op (Hudi
    // bulk_insert): range-laid target-size files, NO precombine dedup
    // (the batch lands verbatim, duplicates included — the documented
    // contract difference from upsert), read back identical to the
    // input relation. The file-size layout itself stays pinned in
    // MergeSpec; this driver key pins the CONTENT contract.
    "x27_bulk_insert" -> ((s, dir) => {
      val path = scratchTable("graft_x27_")
      bulkInsert(replayBatch(s, dir, 0), path, Seq("part"), Seq("okey"),
        targetFileBytes = 64L * 1024, maxFiles = 64)
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey", "pre")
    }),
    // x26: the CLEANER exercised end-to-end — three upserts,
    // then clean(retainLast = 1) sweeps the older commits' history.
    // Contract under oracle: cleaning reclaims HISTORY bytes only; the
    // current state must be bit-identical to the uncleaned replay (the
    // refusal semantics for as-of reads below the floor stay pinned in
    // TimeTravelSpec).
    // x28: write-audit-publish — the clean batches publish, the
    // poisoned batch stages, fails its snapshot audit and is rolled
    // back; the final table must equal the relational replay of ONLY
    // the published batches, and the post-rollback publish proves the
    // restored timeline keeps accepting commits
    "x28_wap" -> ((s, dir) => {
      import graft.pipeline.{Expectations, Wap}
      import Expectations.Expectation
      val path = scratchTable("graft_x28_")
      val keyCols = Seq("okey")
      val rules = Seq(
        Expectation("price_nonneg", col("price") >= 0),
        Expectation("key_present", col("okey").isNotNull))
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      val r1 = Wap.writeAuditPublish(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", Seq("part"), rules)
      require(r1.published, "clean batch 1 must publish")
      val dirty = replayBatch(s, dir, 2)
        .withColumn("price", -abs(col("price")))
      val r2 = Wap.writeAuditPublish(s, dirty, path,
        keyCols, "pre", Seq("part"), rules)
      require(!r2.published, "poisoned batch must be rolled back")
      val r3 = Wap.writeAuditPublish(s, replayBatch(s, dir, 3), path,
        keyCols, "pre", Seq("part"), rules)
      require(r3.published, "post-rollback clean batch must publish")
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    "x26_clean_retention" -> ((s, dir) => {
      val path = scratchTable("graft_x26_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      clean(s, path, retainLast = 1)
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    "x24_sql_commits" -> ((s, dir) => {
      val path = scratchTable("graft_x24_")
      val keyCols = Seq("okey")
      val c1 = upsert(s, replayBatch(s, dir, 0), path,
        keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      delete(s, readSince(s, path, c1).select("okey", "part"),
        path, keyCols, "part")
      upsert(s, replayBatch(s, dir, 2), path,
        keyCols, "pre", "part")
      s.sql(
        s"SELECT * FROM graft_commits('$path') ORDER BY commit_ts")
    }),
    // q25: time travel — the q18-style replay taken two commits PAST
    // the as-of point (a delete, then a third upsert), then
    // read back as of commit 2. The reconstruction must restore the
    // delete's victims from history AND drop commit 4's rewrites in
    // favor of their retired predecessors; the oracle recomputes the
    // two-batch merge state relationally. Reading the CURRENT state of
    // the same table is x02/x03's job — this key proves the past one.
    "q25_time_travel" -> ((s, dir) => {
      val path = scratchTable("graft_q25_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      val c2 = upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      readAsOf(s, path, c2)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // q26: savepoint-restore — the q25 replay physically REVERTED to
    // commit 2: commits 3 and 4's files un-published, their retired
    // predecessors restored from history, their ids tombstoned. The
    // PLAIN read of the restored table must equal the snapshot q25
    // only reads as-of.
    "q26_restore" -> ((s, dir) => {
      val path = scratchTable("graft_q26_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      val c2 = upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      upsert(s, replayBatch(s, dir, 2), path, keyCols, "pre", "part")
      restoreTo(s, path, c2)
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x07: CDC replication — the q29 3-commit source (two upserts + a
    // delete) replicated into a SECOND table purely from the
    // change stream. The replica's plain read must equal the q18
    // replay algebra (the source's final state) however the commit
    // stream batched the changes — the proof that the CDC feed carries
    // everything needed to reconstruct a table.
    // x13: TRANSFORMED replica — a feature view (price band + exact
    // cents) maintained purely from the change stream; the delete must
    // propagate so the feature table serves no vanished source rows
    // WIDE key space (okey % 50000): the %500 replay saturates at sf1
    // (delete covers every key pair, the view is empty — vacuous 10x
    // evidence); survivors here are scale-stable, see q18w.
    "x13_feature_view" -> ((s, dir) => {
      val path = scratchTable("graft_x13src_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path, keyCols,
        "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path, keyCols,
        "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      val dst = scratchTable("graft_x13dst_")
      IncrementalStream.replicateTransformed(s, path, dst,
        scratchTable("graft_x13ckpt_"), keyCols, "pre", Seq("part"),
        df => df.select(col("okey"), col("part"), col("pre"),
          floor(col("price") / 500).cast("long").as("band"),
          (graft.Tables.dec(col("price")) * 100).cast("long").as("cents")))
      readTable(s, dst)
        .select("okey", "part", "pre", "band", "cents")
        .orderBy("part", "okey")
    }),
    "x07_cdc_replica" -> ((s, dir) => {
      val path = scratchTable("graft_x07src_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      val dst = scratchTable("graft_x07dst_")
      IncrementalStream.replicateTo(s, path, dst,
        scratchTable("graft_x07ckpt_"), keyCols, "pre", Seq("part"))
      readTable(s, dst)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x07w: x07's CDC replication over the WIDE key space — the sf1
    // CDC evidence companion to q18w (the %500 replica was empty at
    // sf1 for the same saturation reason)
    "x07w_cdc_replica_wide" -> ((s, dir) => {
      val path = scratchTable("graft_x07wsrc_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0, 50000), path,
        keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1, 50000), path,
        keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0, 50000)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      val dst = scratchTable("graft_x07wdst_")
      IncrementalStream.replicateTo(s, path, dst,
        scratchTable("graft_x07wckpt_"), keyCols, "pre", Seq("part"))
      readTable(s, dst)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // q35: metadata-only bootstrap — a PLAIN parquet lake (batch 0
    // written raw, duplicates and all) adopted into the timeline, then
    // upserted against. The upsert must replace every stored row whose
    // key batch 1 carries (including raw duplicates of that key) and
    // leave the other raw rows byte-identical; the oracle recomputes
    // exactly that anti-join + union.
    "q35_bootstrap" -> ((s, dir) => {
      val path = scratchTable("graft_q35_")
      val keyCols = Seq("okey")
      replayBatch(s, dir, 0).write.partitionBy("part").parquet(path)
      bootstrap(s, path, Seq("part"))
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey", "pre")
    }),
    // q30: partition replace (INSERT_OVERWRITE) — the two-batch merge
    // state with partition F then backfilled wholesale from batch 2:
    // partition F must equal ONLY the deduped batch-2 F rows (stored F
    // rows vanish unread), every other partition must be byte-stable.
    // The oracle recomputes the replace relationally.
    "q30_insert_overwrite" -> ((s, dir) => {
      val path = scratchTable("graft_q30_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      insertOverwrite(s,
        replayBatch(s, dir, 2).filter(col("part") === "F"),
        path, keyCols, "pre", Seq("part"))
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x06: streaming CDC — the q29 replay's full change history (0, c3]
    // drained through the checkpointed commit stream, each micro-batch
    // delivering exactly its commit ids' changes. The union must equal
    // the batch readChanges over the whole range however the file
    // source grouped the commit records — commit 1's pure inserts plus
    // q29's update/insert/delete classes; the oracle recomputes all of
    // it relationally.
    "x06_stream_cdc" -> ((s, dir) => {
      val path = scratchTable("graft_x06_")
      val keyCols = Seq("okey")
      upsert(s, replayBatch(s, dir, 0), path, keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path, keyCols, "pre", "part")
      delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      val sink = scratchTable("graft_x06sink_")
      IncrementalStream.foreachChanges(s, path,
        scratchTable("graft_x06ckpt_"), Seq("okey", "part")) {
        (ch, _, _) => ch.write.mode("append").parquet(sink)
      }
      s.read.parquet(sink)
        .orderBy("_change_commit", "_change_type", "part", "okey")
    }),
    // q29: change-data-capture — the three-commit replay read back as
    // row-level changes in (c1, c3]: batch 2's upserts split into
    // inserts vs update pre/post-image pairs against the batch-1
    // state, and the delete's victims emitted with their
    // pre-change payload. The oracle recomputes every change class
    // relationally from the same batch algebra; nothing engine-side
    // may leak a carried-over row as a change.
    "q29_cdc" -> ((s, dir) => {
      val path = scratchTable("graft_q29_")
      val keyCols = Seq("okey")
      val c1 = upsert(s, replayBatch(s, dir, 0), path,
        keyCols, "pre", "part")
      upsert(s, replayBatch(s, dir, 1), path,
        keyCols, "pre", "part")
      val c3 = delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, keyCols, Seq("part"))
      readChanges(s, path, c1, c3, Seq("okey", "part"))
        .orderBy("_change_commit", "_change_type", "part", "okey")
    }),
    // x08: incremental view maintenance end-to-end — an aggregate
    // table built after the first source commit, then advanced to the
    // final state purely from the change stream (one refresh per
    // source commit: an update-heavy merge, then a delete). The oracle
    // recomputes the aggregate directly from the replayed final state,
    // so the incremental path must land on EXACTLY the from-scratch
    // answer (exact-decimal sums make that bit-for-bit).
    // WIDE key space (okey % 50000): non-vacuous sf1 evidence, see q18w
    "x08_incr_view" -> ((s, dir) => {
      val src = scratchTable("graft_x08s_")
      val vw = scratchTable("graft_x08v_")
      def b(i: Int): DataFrame = replayBatch(s, dir, i, 50000)
        .withColumn("bucket", col("okey") % 10)
      upsert(s, b(0), src, Seq("okey"), "pre", "part")
      IncrementalView.create(s, src, vw, srcKeys = Seq("okey", "part"),
        groupCols = Seq("part", "bucket"), sumCol = "price",
        partitionCol = "part")
      upsert(s, b(1), src, Seq("okey"), "pre", "part")
      IncrementalView.refresh(s, vw)
      delete(s, b(0).filter(col("pre") % 3 === 0)
        .select("okey", "part"), src, Seq("okey"), Seq("part"))
      IncrementalView.refresh(s, vw)
      IncrementalView.readView(s, vw)
        .select(col("part"), col("bucket"),
          graft.Tables.d(col("sum_v")).as("sum_v"), col("n_rows"))
        .orderBy("part", "bucket")
    }),
    // x48: x08's IVM loop driven from the SQL console — the refreshes
    // run through graft_refresh_view (a command node: EXPLAIN
    // refreshes nothing, each SELECT applies exactly the source
    // commits past the view's own cursor) and the final read through
    // graft_read_view; shares x08's oracle because the final relation
    // must be identical to the API-driven loop's.
    "x48_sql_ivm" -> ((s, dir) => {
      val src = scratchTable("graft_x48s_")
      val vw = scratchTable("graft_x48v_")
      def b(i: Int): DataFrame = replayBatch(s, dir, i, 50000)
        .withColumn("bucket", col("okey") % 10)
      upsert(s, b(0), src, Seq("okey"), "pre", "part")
      IncrementalView.create(s, src, vw, srcKeys = Seq("okey", "part"),
        groupCols = Seq("part", "bucket"), sumCol = "price",
        partitionCol = "part")
      upsert(s, b(1), src, Seq("okey"), "pre", "part")
      s.sql(s"SELECT * FROM graft_refresh_view('$vw')").collect()
      delete(s, b(0).filter(col("pre") % 3 === 0)
        .select("okey", "part"), src, Seq("okey"), Seq("part"))
      s.sql(s"SELECT * FROM graft_refresh_view('$vw')").collect()
      s.sql(s"SELECT part, bucket, CAST(sum_v AS DOUBLE) AS sum_v, " +
        s"n_rows FROM graft_read_view('$vw') ORDER BY part, bucket")
    }),
    // x09: STREAMING view maintenance — same source replay and final
    // aggregate as x08, but the refreshes are driven by draining the
    // checkpointed commit stream (batch grouping is the source's
    // choice; the cursor makes any grouping land on the same state).
    // WIDE key space (okey % 50000): non-vacuous sf1 evidence, see q18w
    "x09_stream_ivm" -> ((s, dir) => {
      val src = scratchTable("graft_x09s_")
      val vw = scratchTable("graft_x09v_")
      def b(i: Int): DataFrame = replayBatch(s, dir, i, 50000)
        .withColumn("bucket", col("okey") % 10)
      upsert(s, b(0), src, Seq("okey"), "pre", "part")
      IncrementalView.create(s, src, vw, srcKeys = Seq("okey", "part"),
        groupCols = Seq("part", "bucket"), sumCol = "price",
        partitionCol = "part")
      upsert(s, b(1), src, Seq("okey"), "pre", "part")
      delete(s, b(0).filter(col("pre") % 3 === 0)
        .select("okey", "part"), src, Seq("okey"), Seq("part"))
      IncrementalStream.maintainView(s, src, vw, scratchTable("graft_x09ck_"))
      IncrementalView.readView(s, vw)
        .select(col("part"), col("bucket"),
          graft.Tables.d(col("sum_v")).as("sum_v"), col("n_rows"))
        .orderBy("part", "bucket")
    }),
    // x11: snapshot diff — the 4-commit replay diffed from the
    // 2-upsert snapshot to head: batch-2-only keys read insert, keys
    // it overwrites read update (batch-wins rewrites every matched
    // key; precombine `pre` differs mod 7 so no rewrite is a no-op),
    // deleted keys not re-inserted by batch 2 read delete
    "x11_snapshot_diff" -> ((s, dir) => {
      val path = scratchTable("graft_x11_")
      upsert(s, replayBatch(s, dir, 0), path, Seq("okey"),
        "pre", "part")
      val c2 = upsert(s, replayBatch(s, dir, 1), path,
        Seq("okey"), "pre", "part")
      delete(s, replayBatch(s, dir, 0)
        .filter(col("pre") % 3 === 0).select("okey", "part"),
        path, Seq("okey"), Seq("part"))
      val c4 = upsert(s, replayBatch(s, dir, 2), path,
        Seq("okey"), "pre", "part")
      diffSnapshots(s, path, c2, c4, Seq("okey", "part"))
        .orderBy("part", "okey")
    }),
    // x12: recorded compaction — after the small-file rewrite, the
    // query time-travels BACK PAST the compaction commit to the
    // 2-upsert snapshot: the result is only correct if the compaction
    // retired (not destroyed) the old layout and owns no rows itself.
    // Same expected state as q25 through a physically different path.
    "x12_compact_versioned" -> ((s, dir) => {
      val path = scratchTable("graft_x12_")
      fragmented(s) {
        upsert(s, replayBatch(s, dir, 0), path, Seq("okey"),
          "pre", "part")
      }
      val c2 = fragmented(s) {
        upsert(s, replayBatch(s, dir, 1), path,
          Seq("okey"), "pre", "part")
      }
      fragmented(s) {
        delete(s, replayBatch(s, dir, 0)
          .filter(col("pre") % 3 === 0).select("okey", "part"),
          path, Seq("okey"), Seq("part"))
      }
      val n = compact(s, path, Seq("part"), Seq("okey"))
      require(n > 0, "x12 expects the replay layout to need compaction")
      readAsOf(s, path, c2)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x12w: x12's recorded-compaction time travel over the WIDE key
    // space (okey % 50000). x12's %500 scenario self-degenerates at
    // sf1 density (the saturated delete empties the table, compaction
    // finds nothing, its dead-assert fires by design) — this variant's
    // survivor density is scale-stable, so the 10x artifact gets a
    // real compaction-vs-time-travel row. Same law: travel back past
    // the compaction commit to the 2-upsert snapshot; correct only if
    // the rewrite retired (not destroyed) the old layout.
    "x12w_compact_versioned_wide" -> ((s, dir) => {
      val path = scratchTable("graft_x12w_")
      fragmented(s) {
        upsert(s, replayBatch(s, dir, 0, 50000), path, Seq("okey"),
          "pre", "part")
      }
      val c2 = fragmented(s) {
        upsert(s, replayBatch(s, dir, 1, 50000), path,
          Seq("okey"), "pre", "part")
      }
      fragmented(s) {
        delete(s, replayBatch(s, dir, 0, 50000)
          .filter(col("pre") % 3 === 0).select("okey", "part"),
          path, Seq("okey"), Seq("part"))
      }
      val n = compact(s, path, Seq("part"), Seq("okey"))
      require(n > 0, "x12w expects the replay layout to need compaction")
      readAsOf(s, path, c2)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // x04: streaming keyed ingestion with the ORDERED payload — the
    // replay corpus split into files and drained through a checkpointed
    // file stream, each micro-batch upserted with
    // precombine-vs-stored semantics. The file source's batch grouping
    // is NOT pinned (maxFilesPerTrigger bounds it, order is the
    // source's choice); the final state must be the per-key argmax over
    // the whole corpus REGARDLESS of how the stream batched it — which
    // is exactly the property that makes ordered upsert the safe
    // payload for late/replayed data. The oracle computes that argmax.
    "x04_stream_upsert" -> ((s, dir) => {
      val path = scratchTable("graft_x04_")
      val inDir = scratchTable("graft_x04in_")
      val rows = graft.Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 <= 2)
        .select(
          (col("o_orderkey") % 500).as("okey"),
          col("o_orderstatus").as("part"),
          col("o_totalprice").as("price"),
          col("o_orderkey").as("pre"))
      rows.repartition(8).write.parquet(inDir)
      graft.util.StreamTuning.drain(s, inDir,
        scratchTable("graft_x04ckpt_")) {
        s.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", 3).parquet(inDir)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            upsertOrdered(s, batch, path, Seq("okey"), "pre", Seq("part"))
            ()
          }
      }
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }),
    // e18: x04's replay through the NATIVE sink — no foreachBatch hop;
    // the sink routes every micro-batch through the same option-driven
    // write dispatch as df.write.format("graft"), with per-query
    // committed-batch stamping for replay idempotency (GraftSink)
    "e18_stream_sink" -> ((s, dir) => {
      val path = scratchTable("graft_e18_")
      val inDir = scratchTable("graft_e18in_")
      val rows = graft.Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 <= 2)
        .select(
          (col("o_orderkey") % 500).as("okey"),
          col("o_orderstatus").as("part"),
          col("o_totalprice").as("price"),
          col("o_orderkey").as("pre"))
      rows.repartition(8).write.parquet(inDir)
      graft.util.StreamTuning.drain(s, inDir,
        scratchTable("graft_e18ckpt_")) {
        s.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", 3).parquet(inDir)
          .writeStream
          .format("graft")
          .option("path", path)
          .option("op", "upsert_ordered")
          .option("keys", "okey")
          .option("precombine", "pre")
          .option("partition", "part")
      }
      readTable(s, path)
        .select("okey", "part", "price", "pre")
        .orderBy("part", "okey")
    }))

  /** DuckDB replay of the same algebra: per-batch dedup by max
    * precombine, batch-wins-over-stored merge, distinct-key anti-join
    * delete — each window/join mirrors one Merge stage. This is the
    * q18 replay algebra at the classic %500 key space. The compaction
    * keys (q23/x34) share [[replaySqlMod]](50000) instead:
    * content-invariance is the same law at any key width, and only the
    * wide space survives sf1 density (see q18w). */
  private[merge] val replaySql = replaySqlMod(500)

  /** The two-batch merge snapshot (the q25/x12 as-of state — the replay
    * algebra BEFORE the delete) at key space `okey = o_orderkey % mod`. */
  private[merge] def twoBatchSqlMod(mod: Int): String =
    s"""WITH raw AS (SELECT o_orderkey % $mod AS okey, o_orderstatus AS part,
      |               o_totalprice AS price, o_orderkey AS pre
      |             FROM orders),
      |b1 AS (SELECT okey, part, price, pre FROM (
      |         SELECT *, row_number() OVER (PARTITION BY okey, part
      |           ORDER BY pre DESC) AS rn
      |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
      |b2 AS (SELECT okey, part, price, pre FROM (
      |         SELECT *, row_number() OVER (PARTITION BY okey, part
      |           ORDER BY pre DESC) AS rn
      |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1)
      |SELECT okey, part, price, pre FROM (
      |  SELECT * FROM b2
      |  UNION ALL
      |  SELECT b1.okey, b1.part, b1.price, b1.pre FROM b1
      |  LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
      |  WHERE b2.pre IS NULL)
      |ORDER BY part, okey""".stripMargin

  /** The q18 replay algebra over `o_orderkey % mod` keys. mod=500 is
    * the classic scenario; mod=50000 (q18w/x07w) keeps the scenario
    * meaningful at 10x+ scale — with dense 1.5M-key data the %500
    * compression packs ~300 orders behind every (okey, part), the %3
    * delete then covers every pair and the final table is EMPTY (the
    * r10 verdict's vacuous-sf1-evidence finding); the wide key space
    * keeps survivor density scale-stable. */
  private[graft] def replaySqlMod(mod: Int): String =
    s"""WITH raw AS (SELECT o_orderkey % $mod AS okey, o_orderstatus AS part,
      |               o_totalprice AS price, o_orderkey AS pre
      |             FROM orders),
      |b1 AS (SELECT okey, part, price, pre FROM (
      |         SELECT *, row_number() OVER (PARTITION BY okey, part
      |           ORDER BY pre DESC) AS rn
      |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
      |b2 AS (SELECT okey, part, price, pre FROM (
      |         SELECT *, row_number() OVER (PARTITION BY okey, part
      |           ORDER BY pre DESC) AS rn
      |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
      |t2 AS (SELECT * FROM b2
      |       UNION ALL
      |       SELECT b1.okey, b1.part, b1.price, b1.pre FROM b1
      |       LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
      |       WHERE b2.pre IS NULL),
      |d AS (SELECT DISTINCT okey, part FROM raw
      |      WHERE pre % 7 = 0 AND pre % 3 = 0)
      |SELECT t2.okey, t2.part, t2.price, t2.pre
      |FROM t2 LEFT JOIN d ON t2.okey = d.okey AND t2.part = d.part
      |WHERE d.okey IS NULL
      |ORDER BY t2.part, t2.okey""".stripMargin

  private val oracle0: Map[String, String] = Map(
    "q18_upsert_replay" -> replaySql,
    // the wide-key variants run the same algebra over okey % 50000 —
    // the scale-stable sf1 evidence pair
    "q18w_upsert_replay_wide" -> replaySqlMod(50000),
    "x07w_cdc_replica_wide" -> replaySqlMod(50000),
    // the wide-key recorded-compaction time travel (see x12w): the
    // as-of-commit-2 snapshot = the two-batch merge state at mod 50000
    "x12w_compact_versioned_wide" -> twoBatchSqlMod(50000),
    // x47: the healthy-table report, row by row; footer_row_count's
    // detail recomputes the SAME replay relationally — the one check
    // whose value is data-derived on both sides
    "x47_sql_fsck" ->
      s"""SELECT * FROM (VALUES
         |  ('commit_timeline', 'ok', 'recorded=3 inflight=0 foreign=0'),
         |  ('footer_row_count', 'ok',
         |   'rows=' || CAST((SELECT COUNT(*) FROM (${replaySqlMod(50000)}))
         |              AS VARCHAR)),
         |  ('key_spec', 'ok', 'partition=part keys=okey'),
         |  ('mor_deltas', 'ok', 'cow table'),
         |  ('savepoints', 'ok', 'pinned=0 unrecorded=0'),
         |  ('schema_meta', 'ok', 'recorded'),
         |  ('staging', 'ok', 'leaks=0')
         |) AS t(check_name, status, detail)
         |ORDER BY check_name""".stripMargin,
    // compaction keys replay the WIDE algebra (sf1 non-vacuity)
    "q23_compact" -> replaySqlMod(50000),
    // the SQL-procedure compaction must be content-invariant too
    "x34_sql_compact" -> replaySqlMod(50000),
    // WAP replay: ONLY the published batches (0, 1, 3) fold through
    // the overwrite-latest chain — the audited-out batch 2 must leave
    // no trace
    "x28_wap" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b0 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |b3 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 3) WHERE rn = 1),
        |t2 AS (SELECT * FROM b1
        |       UNION ALL
        |       SELECT b0.okey, b0.part, b0.price, b0.pre FROM b0
        |       LEFT JOIN b1 ON b0.okey = b1.okey AND b0.part = b1.part
        |       WHERE b1.pre IS NULL),
        |t3 AS (SELECT * FROM b3
        |       UNION ALL
        |       SELECT t2.okey, t2.part, t2.price, t2.pre FROM t2
        |       LEFT JOIN b3 ON t2.okey = b3.okey AND t2.part = b3.part
        |       WHERE b3.pre IS NULL)
        |SELECT okey, part, price, pre FROM t3
        |ORDER BY part, okey""".stripMargin,
    // a CDC-maintained replica IS the source's final state
    "x07_cdc_replica" -> replaySql,
    // the row-local feature transform applied to the replay's final
    // state — the CDC-maintained feature view must agree with the
    // direct map over the source's end state
    "x13_feature_view" ->
      s"""SELECT okey, part, pre,
         |  CAST(FLOOR(price / 500) AS BIGINT) AS band,
         |  CAST(CAST(price AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |FROM (${replaySqlMod(50000)})
         |ORDER BY part, okey""".stripMargin,
    // the incrementally-maintained aggregate must equal the direct
    // aggregate of the replayed final state
    "x08_incr_view" ->
      s"""SELECT part, okey % 10 AS bucket,
         |  CAST(CAST(SUM(CAST(price AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sum_v,
         |  COUNT(*) AS n_rows
         |FROM (${replaySqlMod(50000)})
         |GROUP BY part, okey % 10
         |ORDER BY part, bucket""".stripMargin,
    // stream-driven refreshes land on the same state as x08's manual
    // ones — the cursor, not the batching, decides what applies
    "x09_stream_ivm" ->
      s"""SELECT part, okey % 10 AS bucket,
         |  CAST(CAST(SUM(CAST(price AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sum_v,
         |  COUNT(*) AS n_rows
         |FROM (${replaySqlMod(50000)})
         |GROUP BY part, okey % 10
         |ORDER BY part, bucket""".stripMargin,
    // the snapshot-vs-snapshot full-outer classification over the same
    // replay algebra: t2 = the 2-upsert snapshot, t4 = head after the
    // delete + batch-2 merge
    "x11_snapshot_diff" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |t2 AS (SELECT * FROM b2
        |       UNION ALL
        |       SELECT b1.* FROM b1
        |       LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |       WHERE b2.pre IS NULL),
        |d AS (SELECT DISTINCT okey, part FROM raw
        |      WHERE pre % 7 = 0 AND pre % 3 = 0),
        |t3 AS (SELECT t2.* FROM t2
        |       LEFT JOIN d ON t2.okey = d.okey AND t2.part = d.part
        |       WHERE d.okey IS NULL),
        |b3 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 2) WHERE rn = 1),
        |t4 AS (SELECT * FROM b3
        |       UNION ALL
        |       SELECT t3.* FROM t3
        |       LEFT JOIN b3 ON t3.okey = b3.okey AND t3.part = b3.part
        |       WHERE b3.pre IS NULL)
        |SELECT COALESCE(a.okey, b.okey) AS okey,
        |       COALESCE(a.part, b.part) AS part,
        |       CASE WHEN a.okey IS NULL THEN 'insert'
        |            WHEN b.okey IS NULL THEN 'delete'
        |            ELSE 'update' END AS change
        |FROM t2 a FULL JOIN t4 b ON a.okey = b.okey AND a.part = b.part
        |WHERE a.okey IS NULL OR b.okey IS NULL
        |   OR a.price <> b.price OR a.pre <> b.pre
        |ORDER BY part, okey""".stripMargin,
    // the q18 algebra extended by one more batch-wins merge (batch 2,
    // pre%7=2) applied after the delete — the state x02 replays on an
    // index-pruned table
    "x02_indexed_upsert" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |b3 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 2) WHERE rn = 1),
        |t2 AS (SELECT * FROM b2
        |       UNION ALL
        |       SELECT b1.okey, b1.part, b1.price, b1.pre FROM b1
        |       LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |       WHERE b2.pre IS NULL),
        |d AS (SELECT DISTINCT okey, part FROM raw
        |      WHERE pre % 7 = 0 AND pre % 3 = 0),
        |t2d AS (SELECT t2.* FROM t2
        |        LEFT JOIN d ON t2.okey = d.okey AND t2.part = d.part
        |        WHERE d.okey IS NULL),
        |t3 AS (SELECT * FROM b3
        |       UNION ALL
        |       SELECT t2d.okey, t2d.part, t2d.price, t2d.pre FROM t2d
        |       LEFT JOIN b3 ON t2d.okey = b3.okey AND t2d.part = b3.part
        |       WHERE b3.pre IS NULL)
        |SELECT okey, part, price, pre FROM t3
        |ORDER BY part, okey""".stripMargin,
    "q24_zorder" ->
      """SELECT l_orderkey AS okey, l_linenumber AS lnum,
        |       l_partkey AS pk, l_suppkey AS sk,
        |       l_quantity AS qty, l_returnflag AS part
        |FROM lineitem
        |ORDER BY okey, lnum, pk, sk, qty, part""".stripMargin,
    // the three-way MERGE split, restated relationally: m = matched
    // pairs, dels/ups by the clause conditions (delete wins), ins =
    // not-matched evens; final = untouched base ∪ updates ∪ inserts
    "q37_merge_conditional" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |m AS (SELECT b2.okey, b2.part, b2.price, b2.pre,
        |             b1.price AS tprice
        |      FROM b2 JOIN b1 ON b2.okey = b1.okey AND b2.part = b1.part),
        |dels AS (SELECT okey, part FROM m WHERE pre % 5 = 0),
        |ups AS (SELECT okey, part, price, pre FROM m
        |        WHERE pre % 5 <> 0 AND price > tprice),
        |ins AS (SELECT b2.okey, b2.part, b2.price, b2.pre FROM b2
        |        LEFT JOIN b1 ON b2.okey = b1.okey AND b2.part = b1.part
        |        WHERE b1.pre IS NULL AND b2.okey % 2 = 0),
        |kept AS (SELECT b1.okey, b1.part, b1.price, b1.pre FROM b1
        |         LEFT JOIN dels ON b1.okey = dels.okey AND b1.part = dels.part
        |         LEFT JOIN ups ON b1.okey = ups.okey AND b1.part = ups.part
        |         WHERE dels.okey IS NULL AND ups.okey IS NULL)
        |SELECT okey, part, price, pre FROM kept
        |UNION ALL SELECT okey, part, price, pre FROM ups
        |UNION ALL SELECT okey, part, price, pre FROM ins
        |ORDER BY part, okey""".stripMargin,
    // stats skipping must be result-invisible: the pruned read IS the
    // plain filter
    "q36_stats_skipping" ->
      """SELECT l_orderkey AS okey, l_linenumber AS lnum,
        |       l_quantity AS qty, l_extendedprice AS price,
        |       l_returnflag AS part
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 5000
        |ORDER BY okey, lnum, qty, price, part""".stripMargin,
    // evolution: batch-2 rows carry src='b1'; batch-1 survivors are
    // NULL-filled — exactly the read-back of a mixed-schema table
    "q18b_schema_evolution" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1)
        |SELECT okey, part, price, pre, src FROM (
        |  SELECT okey, part, price, pre, 'b1' AS src FROM b2
        |  UNION ALL
        |  SELECT b1.okey, b1.part, b1.price, b1.pre,
        |         CAST(NULL AS VARCHAR) AS src
        |  FROM b1 LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |  WHERE b2.pre IS NULL)
        |ORDER BY part, okey""".stripMargin,
    // the drained increments compose to the current stamped state:
    // batch 3 wins its keys, then batch-2 survivors, then batch-1
    // survivors — each row once, stamped by its last writer
    "x03_incremental_stream" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |b3 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 2) WHERE rn = 1)
        |SELECT okey, part, price, pre, commit_ts FROM (
        |  SELECT okey, part, price, pre, CAST(3 AS BIGINT) AS commit_ts
        |  FROM b3
        |  UNION ALL
        |  SELECT b2.okey, b2.part, b2.price, b2.pre,
        |         CAST(2 AS BIGINT) AS commit_ts
        |  FROM b2 LEFT JOIN b3 ON b2.okey = b3.okey AND b2.part = b3.part
        |  WHERE b3.pre IS NULL
        |  UNION ALL
        |  SELECT b1.okey, b1.part, b1.price, b1.pre,
        |         CAST(1 AS BIGINT) AS commit_ts
        |  FROM b1
        |  LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |  LEFT JOIN b3 ON b1.okey = b3.okey AND b1.part = b3.part
        |  WHERE b2.pre IS NULL AND b3.pre IS NULL)
        |ORDER BY part, okey""".stripMargin,
    // what changed since commit 1 == exactly the deduped batch-2 rows
    // (batch 2 overwrites or inserts every key it carries; everything
    // else keeps commit 1's stamp and must NOT appear)
    "q19_incremental_pull" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders)
        |SELECT okey, part, price, pre, CAST(2 AS BIGINT) AS commit_ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY okey, part
        |        ORDER BY pre DESC) AS rn
        |      FROM raw WHERE pre % 7 = 1)
        |WHERE rn = 1
        |ORDER BY part, okey""".stripMargin,
    // the timeline enumeration: replay batches 0 and 1 → commits 1 and
    // 2 with the DEDUPED row count and sorted distinct partitions; the
    // mid-sequence delete of batch 1's rows is commit 3, owning no rows
    // and touching batch 1's partitions; batch 2 → commit 4
    "q22_timeline" ->
      """WITH raw AS (SELECT o_orderkey % 7 AS b, o_orderkey % 500 AS okey,
        |               o_orderstatus AS part, o_orderkey AS pre
        |             FROM orders
        |             WHERE o_orderkey % 7 IN (0, 1, 2)),
        |d AS (SELECT b, COUNT(*) AS n_rows FROM (
        |        SELECT b, okey, part, row_number() OVER (
        |          PARTITION BY b, okey, part ORDER BY pre DESC) AS rn
        |        FROM raw) WHERE rn = 1 GROUP BY b),
        |p AS (SELECT b, string_agg(DISTINCT part, ',' ORDER BY part)
        |        AS partitions
        |      FROM raw GROUP BY b)
        |SELECT CAST(CASE WHEN d.b = 2 THEN 4 ELSE d.b + 1 END AS BIGINT)
        |         AS commit_ts, d.n_rows, p.partitions
        |FROM d JOIN p ON d.b = p.b
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(0 AS BIGINT), p.partitions
        |FROM p WHERE p.b = 1
        |ORDER BY commit_ts""".stripMargin,
    // the as-of-commit-2 snapshot = the two-batch merge state, before
    // the delete and the third upsert that q25 replays past
    // time travel across a RECORDED compaction lands on the same
    // 2-upsert snapshot as q25 — compaction moved bytes, not state
    "x12_compact_versioned" -> twoBatchSqlMod(500),
    "q25_time_travel" -> twoBatchSqlMod(500),
    // a restored table IS the as-of snapshot, read plainly — the same
    // two-batch merge state as q25
    "q26_restore" -> twoBatchSqlMod(500),
    // the adopted raw batch-0 rows (duplicates preserved) anti-joined
    // by batch-1's deduped keys, plus the batch-1 winners
    "q35_bootstrap" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |raw0 AS (SELECT okey, part, price, pre FROM raw WHERE pre % 7 = 0),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1)
        |SELECT okey, part, price, pre FROM (
        |  SELECT * FROM b2
        |  UNION ALL
        |  SELECT raw0.okey, raw0.part, raw0.price, raw0.pre FROM raw0
        |  LEFT JOIN b2 ON raw0.okey = b2.okey AND raw0.part = b2.part
        |  WHERE b2.pre IS NULL)
        |ORDER BY part, okey, pre""".stripMargin,
    // partition F replaced by batch 2's deduped F rows; the rest is the
    // untouched two-batch merge state
    "q30_insert_overwrite" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |t2 AS (SELECT * FROM b2
        |       UNION ALL
        |       SELECT b1.okey, b1.part, b1.price, b1.pre FROM b1
        |       LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |       WHERE b2.pre IS NULL),
        |b3f AS (SELECT okey, part, price, pre FROM (
        |          SELECT *, row_number() OVER (PARTITION BY okey, part
        |            ORDER BY pre DESC) AS rn
        |          FROM raw WHERE pre % 7 = 2 AND part = 'F') WHERE rn = 1)
        |SELECT okey, part, price, pre FROM (
        |  SELECT * FROM b3f
        |  UNION ALL
        |  SELECT * FROM t2 WHERE part <> 'F')
        |ORDER BY part, okey""".stripMargin,
    // the streamed change history = commit 1's pure inserts (the
    // deduped batch-0 rows) plus the q29 change classes, however the
    // commit stream batched them
    "x06_stream_cdc" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |t2 AS (SELECT * FROM b2
        |       UNION ALL
        |       SELECT b1.okey, b1.part, b1.price, b1.pre FROM b1
        |       LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |       WHERE b2.pre IS NULL),
        |d AS (SELECT DISTINCT okey, part FROM raw
        |      WHERE pre % 7 = 0 AND pre % 3 = 0),
        |ch AS (
        |  SELECT okey, part, price, pre,
        |         'insert' AS _change_type, CAST(1 AS BIGINT) AS _change_commit
        |  FROM b1
        |  UNION ALL
        |  SELECT b2.okey, b2.part, b2.price, b2.pre,
        |         CASE WHEN b1.pre IS NULL THEN 'insert'
        |              ELSE 'update_postimage' END,
        |         CAST(2 AS BIGINT)
        |  FROM b2 LEFT JOIN b1 ON b2.okey = b1.okey AND b2.part = b1.part
        |  UNION ALL
        |  SELECT b1.okey, b1.part, b1.price, b1.pre,
        |         'update_preimage', CAST(2 AS BIGINT)
        |  FROM b1 JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |  UNION ALL
        |  SELECT t2.okey, t2.part, t2.price, t2.pre,
        |         'delete', CAST(3 AS BIGINT)
        |  FROM t2 JOIN d ON t2.okey = d.okey AND t2.part = d.part)
        |SELECT okey, part, price, pre, _change_type, _change_commit
        |FROM ch
        |ORDER BY _change_commit, _change_type, part, okey""".stripMargin,
    // every change class recomputed relationally: commit 2 = batch 2
    // vs the batch-1 state (outer join splits inserts from updates,
    // update keys emit both images), commit 3 = the delete victims
    // with their pre-change payload from the two-batch merge state
    "q29_cdc" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders),
        |b1 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 0) WHERE rn = 1),
        |b2 AS (SELECT okey, part, price, pre FROM (
        |         SELECT *, row_number() OVER (PARTITION BY okey, part
        |           ORDER BY pre DESC) AS rn
        |         FROM raw WHERE pre % 7 = 1) WHERE rn = 1),
        |t2 AS (SELECT * FROM b2
        |       UNION ALL
        |       SELECT b1.okey, b1.part, b1.price, b1.pre FROM b1
        |       LEFT JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |       WHERE b2.pre IS NULL),
        |d AS (SELECT DISTINCT okey, part FROM raw
        |      WHERE pre % 7 = 0 AND pre % 3 = 0),
        |ch AS (
        |  SELECT b2.okey, b2.part, b2.price, b2.pre,
        |         CASE WHEN b1.pre IS NULL THEN 'insert'
        |              ELSE 'update_postimage' END AS _change_type,
        |         CAST(2 AS BIGINT) AS _change_commit
        |  FROM b2 LEFT JOIN b1 ON b2.okey = b1.okey AND b2.part = b1.part
        |  UNION ALL
        |  SELECT b1.okey, b1.part, b1.price, b1.pre,
        |         'update_preimage', CAST(2 AS BIGINT)
        |  FROM b1 JOIN b2 ON b1.okey = b2.okey AND b1.part = b2.part
        |  UNION ALL
        |  SELECT t2.okey, t2.part, t2.price, t2.pre,
        |         'delete', CAST(3 AS BIGINT)
        |  FROM t2 JOIN d ON t2.okey = d.okey AND t2.part = d.part)
        |SELECT okey, part, price, pre, _change_type, _change_commit
        |FROM ch
        |ORDER BY _change_commit, _change_type, part, okey""".stripMargin,
    // ordered-payload streaming ingestion converges to the per-key
    // precombine argmax over the whole corpus, however the stream
    // grouped it into micro-batches
    "x04_stream_upsert" ->
      """WITH raw AS (SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
        |               o_totalprice AS price, o_orderkey AS pre
        |             FROM orders WHERE o_orderkey % 7 <= 2)
        |SELECT okey, part, price, pre FROM (
        |  SELECT *, row_number() OVER (PARTITION BY okey, part
        |    ORDER BY pre DESC) AS rn
        |  FROM raw) WHERE rn = 1
        |ORDER BY part, okey""".stripMargin)

  /** x24 replays q22 exactly and reads the same timeline through SQL,
    * so the two keys share one oracle string. */
  val oracle: Map[String, String] =
    oracle0 +
      ("x24_sql_commits" -> oracle0("q22_timeline")) +
      // x48 drives x08's exact IVM loop from the SQL console
      // (graft_refresh_view advances the cursor, graft_read_view
      // emits the live groups) — same final relation, same oracle
      ("x48_sql_ivm" -> oracle0("x08_incr_view")) +
      // e18 replays x04's corpus through the NATIVE streaming sink
      // (writeStream.format("graft"), no foreachBatch hop) with the
      // same ordered payload — the final state must be the same
      // batch-geometry-invariant argmax, so the oracle is shared
      ("e18_stream_sink" -> oracle0("x04_stream_upsert")) +
      // bulk insert lands the batch VERBATIM — no dedup, duplicates
      // preserved; the oracle is the raw batch selection
      ("x27_bulk_insert" ->
        """SELECT o_orderkey % 500 AS okey, o_orderstatus AS part,
          |       o_totalprice AS price, o_orderkey AS pre
          |FROM orders WHERE o_orderkey % 7 = 0
          |ORDER BY part, okey, pre""".stripMargin) +
      // cleaning must be invisible in the current state: the oracle is
      // the plain 3-batch batch-wins replay (per-batch precombine
      // dedup, later commit replaces per key identity)
      ("x26_clean_retention" -> cleanRetentionSql) +
      // the SQL maintenance procedures are content-invariant, so each
      // shares the oracle of the API key whose scenario it replays:
      // x35 = x26's clean retention through graft_clean('path', 1),
      // x36 = q24's layout rewrite through graft_zorder('path', cols)
      ("x35_sql_clean" -> cleanRetentionSql) +
      ("x36_sql_zorder" -> oracle0("q24_zorder")) +
      // x37 = q26's savepoint-clean-restore chain through SQL (the
      // restored table IS the two-batch snapshot); x38 = the q18
      // replay with a staging leak swept by graft_vacuum (sweep is
      // content-invariant — it touches only non-table siblings)
      ("x37_sql_restore" -> oracle0("q26_restore")) +
      ("x38_sql_vacuum" -> replaySqlMod(50000)) +
      // x39 = q25's as-of snapshot through graft_snapshot('path', ts)
      ("x39_sql_snapshot" -> oracle0("q25_time_travel")) +
      // x40 = the wide replay's cardinality from footer metadata; the
      // oracle counts the same algebra relationally
      ("x40_sql_count" ->
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows FROM (
           |${replaySqlMod(50000)})""".stripMargin) +
      // x41 = footer-only column statistics; the oracle recomputes the
      // same five aggregates relationally over the identical projection
      // (incl. the injected nulls). Bounds cast to VARCHAR match the
      // engine's plain integer rendering; the partition column's bounds
      // are string-ordered in both (single-char flags).
      ("x41_sql_stats" ->
        """WITH t AS (
          |  SELECT l_orderkey AS okey, l_linenumber AS lnum,
          |         CASE WHEN l_orderkey % 11 = 0 THEN NULL
          |              ELSE l_suppkey END AS sk,
          |         l_returnflag AS part
          |  FROM lineitem)
          |SELECT * FROM (
          |  SELECT 'okey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
          |         CAST(count(*) - count(okey) AS BIGINT) AS n_nulls,
          |         CAST(min(okey) AS VARCHAR) AS min_value,
          |         CAST(max(okey) AS VARCHAR) AS max_value,
          |         TRUE AS exact
          |  FROM t
          |  UNION ALL
          |  SELECT 'sk', CAST(count(*) AS BIGINT),
          |         CAST(count(*) - count(sk) AS BIGINT),
          |         CAST(min(sk) AS VARCHAR), CAST(max(sk) AS VARCHAR), TRUE
          |  FROM t
          |  UNION ALL
          |  SELECT 'part', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
          |         min(part), max(part), TRUE
          |  FROM t)
          |ORDER BY "column"""".stripMargin)

  // lazy: referenced by the `oracle` val above its definition point —
  // a plain val would still be null when `oracle` is constructed
  private lazy val cleanRetentionSql =
    """WITH raw AS (SELECT o_orderkey % 7 AS b, o_orderkey % 500 AS okey,
      |               o_orderstatus AS part, o_totalprice AS price,
      |               o_orderkey AS pre
      |             FROM orders WHERE o_orderkey % 7 IN (0, 1, 2)),
      |d AS (SELECT b, okey, part, price, pre FROM (
      |   SELECT *, row_number() OVER (PARTITION BY b, okey, part
      |     ORDER BY pre DESC) AS rn
      |   FROM raw) WHERE rn = 1),
      |cur AS (SELECT okey, part, price, pre FROM (
      |   SELECT *, row_number() OVER (PARTITION BY okey, part
      |     ORDER BY b DESC) AS rn
      |   FROM d) WHERE rn = 1)
      |SELECT okey, part, price, pre FROM cur
      |ORDER BY part, okey""".stripMargin
}
