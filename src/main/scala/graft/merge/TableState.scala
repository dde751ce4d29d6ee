package graft.merge

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** One table's identity and recorded metadata, loaded ONCE per
  * operation and passed down (Hudi's meta client loads
  * `hoodie.properties` once per write the same way). `root` is the
  * qualified table root; `hasData` means the root holds an entry that
  * is not '_'/'.'-prefixed metadata; `gates` are the key index's
  * effective probe/build gates; `mor` is set exactly on MOR tables. */
private[graft] final case class TableState(
    fs: FileSystem,
    path: String,
    root: Path,
    hasData: Boolean,
    schema: Option[StructType],
    keySpec: Option[KeySpec],
    gates: (Int, Long),
    mor: Option[MorTable.MorSpec])

/** The only code that knows the four root sidecars: the authoritative
  * schema (only grows), the key spec of the first keyed write, the
  * per-table key-index gate override and the MOR spec (its presence
  * makes the table MOR). [[load]] lists the root once, which answers
  * `hasData` and which sidecars exist, then opens each present one
  * once. A corrupt schema, key spec or gate file warns and reads as
  * absent (each has a correct slower fallback); a corrupt MOR spec
  * fails, because reading a MOR table as COW serves the stale base.
  * Writers replace a sidecar via temp + rename and return the updated
  * state. Spark's listing skips '_'-prefixed names, so no sidecar is
  * visible to a plain parquet read. */
private[graft] object TableState {

  private val schemaName = "_graft_schema.json"
  private val keysName = "_graft_keys.json"
  private val gatesName = "_graft_index_gates.json"
  private val morName = "_graft_mor.json"

  private val defaultGates =
    (KeyIndex.minFilesToProbe, KeyIndex.minBytesToProbe)

  def load(spark: SparkSession, path: String): TableState = {
    val (st, corruptMor) = loadChecked(spark, path)
    corruptMor.foreach(e => throw e)
    st
  }

  /** [[load]] that hands back a corrupt MOR spec's error instead of
    * throwing it, the state then reading the spec as absent — for
    * [[Fsck]], which must report that damage, not fail on it. */
  def loadChecked(spark: SparkSession, path: String)
      : (TableState, Option[IllegalStateException]) = {
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new Path(path))
    val names =
      try fs.listStatus(root).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    def present(name: String): Option[Path] =
      if (names(name)) Some(new Path(root, name)) else None
    val mor = present(morName).map { p =>
      try Right(parseMor(Merge.readSmallFile(fs, p)))
      catch {
        case e: Exception => Left(new IllegalStateException(
          s"unreadable MOR spec at $p (${e.getMessage}) — the table " +
            "cannot be read or written until it is repaired", e))
      }
    }
    (TableState(fs, path, root,
      hasData = names.exists(n => !n.startsWith("_") && !n.startsWith(".")),
      schema = present(schemaName).flatMap(readSchema(fs, _)),
      keySpec = present(keysName).flatMap(p => lenient(fs, p, "key spec",
        "key index disabled for this operation")(parseKeySpec)),
      gates = present(gatesName).flatMap(p => lenient(fs, p,
        "index gate override", "using the defaults")(parseGates))
        .getOrElse(defaultGates),
      mor = mor.flatMap(_.toOption)),
      mor.flatMap(_.left.toOption))
  }

  /** Parse one optional sidecar; a corrupt file must not brick the
    * table, so it reads as absent and says so. */
  private def lenient[T](fs: FileSystem, p: Path, what: String,
      fallback: String)(parse: String => T): Option[T] =
    try Some(parse(Merge.readSmallFile(fs, p)))
    catch {
      case e: Exception =>
        System.err.println(s"[graft.merge] WARN: unreadable $what at $p " +
          s"(${e.getMessage}); $fallback")
        None
    }

  private def readSchema(fs: FileSystem, p: Path): Option[StructType] =
    lenient(fs, p, "schema metadata", "falling back to footer merge")(
      DataType.fromJson(_).asInstanceOf[StructType])

  private def json(body: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(body)

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def parseKeySpec(body: String): KeySpec = {
    val j = json(body)
    KeySpec(
      (j \ "key_cols").extract[String].split(',').toSeq.filter(_.nonEmpty),
      (j \ "partition_cols").extract[String].split(',').toSeq
        .filter(_.nonEmpty))
  }

  private def parseGates(body: String): (Int, Long) = {
    val j = json(body)
    ((j \ "min_files_to_probe").extract[Int],
      (j \ "min_bytes_to_probe").extract[Long])
  }

  private def parseMor(body: String): MorTable.MorSpec = {
    val j = json(body)
    MorTable.MorSpec(
      (j \ "key_cols").extract[Seq[String]],
      (j \ "precombine").extract[String],
      (j \ "partition_cols").extract[Seq[String]],
      // absent in tables created before payloads existed = latest
      (j \ "payload").extractOpt[String].getOrElse("latest"))
  }

  /** The recorded schema as it is on disk NOW, bypassing the loaded
    * state — what a write that adds a column unions into, since a
    * concurrent writer may have recorded one after the load. */
  def rereadSchema(st: TableState): Option[StructType] = {
    val p = new Path(st.root, schemaName)
    if (!st.fs.exists(p)) None else readSchema(st.fs, p)
  }

  def writeSchema(st: TableState, schema: StructType): TableState = {
    Merge.replaceSmallFile(st.fs, new Path(st.root, schemaName), schema.json)
    st.copy(schema = Some(schema))
  }

  def writeKeySpec(st: TableState, spec: KeySpec): TableState = {
    Merge.replaceSmallFile(st.fs, new Path(st.root, keysName),
      s"""{"key_cols":${Merge.jsonQuote(spec.keyCols.mkString(","))},""" +
        s""""partition_cols":${Merge.jsonQuote(
          spec.partitionCols.mkString(","))}}""")
    st.copy(keySpec = Some(spec))
  }

  /** Remove the key spec and the gate override (the key index's own
    * entries are [[KeyIndex.drop]]'s). */
  def dropKeySpec(st: TableState): TableState = {
    st.fs.delete(new Path(st.root, keysName), false)
    st.fs.delete(new Path(st.root, gatesName), false)
    st.copy(keySpec = None, gates = defaultGates)
  }

  def writeGates(spark: SparkSession, path: String, minFiles: Int,
      minBytes: Long): Unit =
    Merge.replaceSmallFile(Merge.fsFor(spark, path),
      new Path(path, gatesName),
      s"""{"min_files_to_probe":$minFiles,""" +
        s""""min_bytes_to_probe":$minBytes}""")

  def writeMor(st: TableState, sp: MorTable.MorSpec): TableState = {
    Merge.replaceSmallFile(st.fs, new Path(st.root, morName),
      s"""{"key_cols":${Merge.jsonArray(sp.keyCols)},""" +
        s""""precombine":${Merge.jsonQuote(sp.precombine)},""" +
        s""""partition_cols":${Merge.jsonArray(sp.partitionCols)},""" +
        s""""payload":${Merge.jsonQuote(sp.payload)}}""")
    st.copy(mor = Some(sp))
  }
}
