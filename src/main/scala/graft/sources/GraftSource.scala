package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.merge.{Merge, MorTable, TableState}

/** `format("graft")` — the engine's versioned merge tables behind the
  * standard DataFrame read/write surface, the re-expression of the
  * reference's `df.write.format("hudi").options(...)` entry point
  * (`glue/scripts/load_transactions.py:61-80,117-122`) on this engine.
  *
  * Read options:
  *  - (none): current snapshot — COW via the recorded schema, MOR via
  *    the base+delta merge.
  *  - `asOf` = commit id: time travel (COW and MOR).
  *  - `sinceCommit` / plus `untilCommit`: incremental pull of rows last
  *    written in `(since, until]` (versioned tables).
  *  - `changesAfter` + `changesUntil` + `keys`: CDC post/pre-image rows
  *    between two commits (COW).
  *  - `optimized` = true: MOR base files only (read-optimized view).
  *
  * Write options (Hudi option-name analogues in parens):
  *  - `op` = insert | bulk_insert | upsert | delete (hoodie operation;
  *    default upsert, matching `load_transactions.py:62`).
  *  - `keys`: comma-separated record key columns (recordkey.field).
  *  - `precombine`: ordering column for same-key ties (precombine.field).
  *  - `partition`: comma-separated hive partition columns
  *    (partitionpath.field).
  *  - every write is a commit on the table's timeline: it stamps its
  *    rows with `_commit_ts` and enables asOf / incremental / CDC reads.
  *  - SaveMode.Append applies `op`; SaveMode.Overwrite maps to the
  *    partition-scoped insert-overwrite (Hudi insert_overwrite).
  *
  * Scale note: this layer only resolves WHICH files/rows form the
  * requested view and then delegates scanning to the engine's plans —
  * projection and translatable filters are applied INSIDE the wrapped
  * plan (see [[GraftRelation.buildScan]]), so they reach the parquet
  * reader through Catalyst exactly as a direct `Merge.readTable` query
  * would; the relation boundary adds no extra materialization.
  */
class GraftSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  import GraftSource.pathOf

  /** `spark.readStream.format("graft")` — the NATIVE incremental
    * streaming read, the [[GraftSink]]'s mirror: offsets are COMMIT
    * IDS from the table's own timeline, and each micro-batch is
    * `Merge.readBetween` over the offset range — the same increments
    * [[graft.merge.IncrementalStream]] composes from the commit-file
    * stream, exposed as the one-line front door every table follower
    * expects (Hudi/Delta's streaming-read shape). Semantics are
    * IncrementalStream's, stated there honestly: rows arrive once,
    * stamped with the commit that LAST wrote them — increments compose
    * to current table state, not a CDC history. */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      Merge.readTable(sqlContext.sparkSession, pathOf(parameters)).schema))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(sqlContext, pathOf(parameters))

  /** `df.writeStream.format("graft")` — the NATIVE streaming sink (no
    * foreachBatch hop): every micro-batch lands through the same
    * option-driven write dispatch as the batch surface, so a stream
    * and a batch writer of the same options produce the same table.
    * Append and Update modes both map to the table's own `op` (for a
    * keyed table that is upsert — Update semantics by construction);
    * Complete would mean replace-per-batch and is refused. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode !=
      org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft streaming sink supports Append/Update output modes " +
        "(per-batch table replacement is not a merge op)")
    new GraftSink(sqlContext, parameters)
  }

  /** User-specified schema = the empty-`CREATE TABLE (cols...) USING
    * graft` DDL shape: record the schema so the table resolves (and
    * reads as zero rows) before its first write. An existing table
    * must agree on field names — a silent re-type would corrupt the
    * read path. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    TableState.load(spark, path).schema match {
      case None => Merge.createEmptyTable(spark, path, schema)
      case Some(rec) =>
        require(schema.fieldNames.forall(rec.fieldNames.contains),
          s"graft table at $path exists with schema ${rec.simpleString}; " +
            s"the declared schema ${schema.simpleString} adds unknown " +
            "columns (evolve via a write, not DDL)")
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    // Lazy snapshot resolution: the session catalog CACHES resolved
    // relations per table identifier, so a relation that pinned its
    // file list at creation would serve stale reads after any SQL
    // write (INSERT INTO / MERGE INTO). Re-resolving per scan keeps
    // every query on the current commit state; the cost is
    // metadata-scale (commit listing), not data-scale.
    new GraftRelation(sqlContext,
      () => GraftSource.resolveView(spark, parameters), parameters)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    GraftSource.write(sqlContext, mode, parameters, data)
    createRelation(sqlContext, parameters)
  }
}

object GraftSource {
  /** The graft options' one reader: `name` looked up case-insensitively
    * (the v1 source, the catalog tables and the SQL commands share it). */
  private[graft] def opt(parameters: Map[String, String], name: String)
      : Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v
    }

  /** A comma-separated column-list option, trimmed; empty if absent. */
  private[graft] def cols(parameters: Map[String, String], name: String)
      : Seq[String] =
    opt(parameters, name).toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)

  private[sources] def pathOf(parameters: Map[String, String]): String =
    opt(parameters, "path").getOrElse(
      throw new IllegalArgumentException(
        "graft source requires a path (load(path) or option(\"path\", ...))"))

  /** Resolve the DataFrame view the read options ask for — the shared
    * option→snapshot dispatch behind BOTH read surfaces: the v1
    * relation above and the DSv2 catalog tables
    * ([[GraftTable.newScanBuilder]]); one dispatch, so the two
    * surfaces can never disagree on what an option means. */
  private[sources] def resolveView(spark: org.apache.spark.sql
      .SparkSession, parameters: Map[String, String]): DataFrame = {
    val path = pathOf(parameters)
    val st = TableState.load(spark, path)
    val mor = st.mor.isDefined
    // `asOfTimestamp` (epoch millis OR an ISO-8601 instant) is the
    // API twin of SQL `TIMESTAMP AS OF`: resolved here to a commit id
    // via the recorded per-commit wall clock, then served by the same
    // snapshot read as `asOf` (Hudi's `as.of.instant` accepts both
    // forms too). Mutually exclusive with `asOf` — two different
    // answers to "which snapshot" must not silently pick one.
    val asOfTs = opt(parameters, "asOfTimestamp").map { raw =>
      val ms =
        try raw.trim.toLong
        catch {
          case _: NumberFormatException =>
            java.time.Instant.parse(raw.trim).toEpochMilli
        }
      Merge.commitAtWallClock(spark, path, ms)
    }
    val asOf = opt(parameters, "asOf").map(_.toLong) match {
      case Some(c) if asOfTs.isDefined =>
        throw new IllegalArgumentException(
          "asOf and asOfTimestamp are mutually exclusive " +
            s"(got asOf=$c and asOfTimestamp->commit ${asOfTs.get})")
      case other => other.orElse(asOfTs)
    }
    val since = opt(parameters, "sinceCommit").map(_.toLong)
    val changesAfter = opt(parameters, "changesAfter").map(_.toLong)
    (asOf, since, changesAfter) match {
      case (Some(ts), _, _) => Merge.readState(spark, st, Some(ts))
      case (None, Some(s0), _) =>
        opt(parameters, "untilCommit").map(_.toLong) match {
          case Some(s1) =>
            // Bounded incremental replays base-file history only; on a
            // MOR table rows whose winning version sits in unmerged
            // deltas would silently vanish — refuse rather than lie.
            if (mor) throw new IllegalArgumentException(
              "untilCommit is not supported on MOR tables: bounded " +
                "incremental reads replay base commits only and would " +
                "miss rows in unmerged delta files (compact first, or " +
                "use sinceCommit)")
            Merge.readBetween(spark, path, s0, s1)
          case None => Merge.readSince(spark, st, s0)
        }
      case (None, None, Some(a)) =>
        if (mor) throw new IllegalArgumentException(
          "changesAfter (CDC) is not supported on MOR tables: the CDC " +
            "reader diffs base commits only and would miss changes in " +
            "unmerged delta files (compact first)")
        val until = opt(parameters, "changesUntil").map(_.toLong).getOrElse(
          throw new IllegalArgumentException(
            "changesAfter requires changesUntil"))
        Merge.readChanges(spark, path, a, until, cols(parameters, "keys"))
      case _ =>
        if (mor && opt(parameters, "optimized").exists(_.toBoolean))
          MorTable.readOptimized(spark, path)
        else Merge.readState(spark, st, None)
    }
  }


  /** The option-driven write dispatch, shared by the
    * CreatableRelationProvider path (`df.write.format("graft")`) and
    * the SQL surface ([[GraftRelation.insert]] for `INSERT INTO`,
    * [[graft.sql.GraftMergeCommand]] for `MERGE INTO`). */
  private[graft] def write(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): Unit = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val op = opt(parameters, "op").getOrElse("upsert").toLowerCase
    val keys = cols(parameters, "keys")
    val parts = cols(parameters, "partition")
    val precombine = opt(parameters, "precombine").orNull
    require(parts.nonEmpty,
      "graft write requires option(\"partition\", \"col[,col...]\")")
    mode match {
      case SaveMode.Overwrite =>
        require(keys.nonEmpty && precombine != null,
          "overwrite (insert_overwrite) requires keys + precombine")
        Merge.insertOverwrite(spark, data, path, keys, precombine, parts)
      case SaveMode.Append => op match {
        case "insert" =>
          Merge.insert(data, path, parts, keys, precombine,
            dedup = keys.nonEmpty && precombine != null)
        case "bulk_insert" =>
          Merge.bulkInsert(data, path, parts, keys,
            targetFileBytes = opt(parameters, "targetFileBytes")
              .map(_.toLong).getOrElse(128L * 1024 * 1024),
            maxFiles = 1 << 20)
        case "upsert" =>
          require(keys.nonEmpty && precombine != null,
            "upsert requires keys + precombine")
          Merge.upsert(spark, data, path, keys, precombine, parts)
        case "upsert_ordered" =>
          // the ORDERED payload (stored row survives unless the
          // incoming precombine is >= it): per-key argmax over all
          // writes, invariant to batch boundaries and arrival order —
          // the safe op for streaming sinks replaying late data (x04)
          require(keys.nonEmpty && precombine != null,
            "upsert_ordered requires keys + precombine")
          Merge.upsertOrdered(spark, data, path, keys, precombine, parts)
        case "delete" =>
          require(keys.nonEmpty, "delete requires keys")
          Merge.delete(spark, data, path, keys, parts)
        case other => throw new IllegalArgumentException(
          s"unknown graft op '$other' " +
            "(insert|bulk_insert|upsert|upsert_ordered|delete)")
      }
      case SaveMode.ErrorIfExists | SaveMode.Ignore =>
        // Hadoop FS resolved for the path, not java.io.File — the latter
        // is always false for non-local URIs (hdfs://, s3a://), which
        // would turn ErrorIfExists into a silent append at cluster scale.
        val hPath = new org.apache.hadoop.fs.Path(path)
        val hFs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val exists = TableState.load(spark, path).schema.isDefined ||
          hFs.exists(hPath)
        if (exists && mode == SaveMode.ErrorIfExists)
          throw new IllegalStateException(s"graft table already exists: $path")
        if (!exists)
          Merge.insert(data, path, parts, keys, precombine,
            dedup = keys.nonEmpty && precombine != null)
    }
  }
}

/** The v1 micro-batch [[org.apache.spark.sql.execution.streaming
  * .Source]] behind `readStream.format("graft")`.
  *
  * Offsets are the table's own commit ids: `getOffset` is ONE driver
  * dir listing ([[Merge.latestCommit]] — no Spark job per trigger),
  * and `getBatch(s0, s1)` is `readBetween`'s stat-filtered scan of
  * rows last written by commits in (s0, s1] — O(changed rows), never
  * a table rescan, which is what lets a follower tail a 100 TB table.
  * The returned frame must be a STREAMING DataFrame
  * (MicroBatchExecution asserts it), built through the
  * [[org.apache.spark.sql.graftshim.GraftSqlBridge]] seam exactly as
  * FileStreamSource builds its batches.
  *
  * Requires a VERSIONED table (rows carry `_commit_ts`) — refused at
  * construction otherwise, matching IncrementalStream's contract. */
private[sources] class GraftStreamSource(sqlContext: SQLContext,
    path: String)
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset,
    SerializedOffset}

  private def spark = sqlContext.sparkSession

  override val schema: StructType = {
    val s = Merge.readTable(spark, path).schema
    require(s.fieldNames.contains(Merge.commitCol),
      s"graft streaming source requires a versioned table (rows carry " +
        s"${Merge.commitCol}); $path has no commit stamps — write it " +
        "through graft (every graft write stamps its rows)")
    s
  }

  private def value(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  override def getOffset: Option[V1Offset] =
    Merge.latestCommit(spark, path).map(LongOffset(_))

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : DataFrame = {
    val df = Merge.readBetween(spark, path,
      start.map(value).getOrElse(0L), value(end))
    org.apache.spark.sql.graftshim.GraftSqlBridge.asStreamingDataFrame(
      spark, df.queryExecution.toRdd, df.schema)
  }

  override def stop(): Unit = ()
}

/** The v1 micro-batch [[Sink]] behind `writeStream.format("graft")` —
  * the same provider seam Delta and Hudi shipped streaming writes
  * through before DSv2 StreamingWrite existed, and the right fit here
  * because graft's write path is a driver-orchestrated merge commit,
  * not per-task row writers.
  *
  * At-least-once handling: Structured Streaming re-delivers the last
  * micro-batch after a checkpoint recovery, so each committed batch id
  * is recorded per QUERY id in a `_graft_stream_txn/` sidecar
  * (complete-or-absent temp+rename, the recordCommit discipline) and
  * replayed ids are SKIPPED — the x04 stamp-the-ingest-id recipe. The
  * record lands after the write, so a crash exactly between the two
  * re-applies one batch; with the keyed ops that window is still
  * convergent (upsert re-applies the same per-key winners;
  * `upsert_ordered` is argmax-invariant by construction — the x04
  * contract), which is why the sink requires a keyed op and refuses
  * blind appends (`op=insert` would duplicate rows on that window). */
private[sources] class GraftSink(sqlContext: SQLContext,
    parameters: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  import org.apache.hadoop.fs.Path

  private val path = GraftSource.pathOf(parameters)

  locally {
    val op = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("op") => v.toLowerCase
    }.getOrElse("upsert")
    require(op == "upsert" || op == "upsert_ordered" || op == "delete",
      s"graft streaming sink requires a keyed, replay-convergent op " +
        s"(upsert|upsert_ordered|delete), got '$op': a blind append " +
        "would duplicate rows when a recovered micro-batch re-lands")
  }

  private def txnDir = new Path(path, "_graft_stream_txn")
  private def fs(spark: org.apache.spark.sql.SparkSession) =
    txnDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def queryId(spark: org.apache.spark.sql.SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("default")

  private[sources] def lastCommitted(
      spark: org.apache.spark.sql.SparkSession, qid: String): Option[Long] = {
    val f = fs(spark)
    val p = new Path(txnDir, qid)
    if (!f.exists(p)) None
    else Some(Merge.readSmallFile(f, p).trim.toLong)
  }

  private def record(spark: org.apache.spark.sql.SparkSession,
      qid: String, batchId: Long): Unit = {
    val f = fs(spark)
    f.mkdirs(txnDir)
    Merge.replaceSmallFile(f, new Path(txnDir, qid), batchId.toString)
  }

  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val qid = queryId(spark)
    if (lastCommitted(spark, qid).exists(_ >= batchId)) {
      System.err.println(
        s"[graft.sink] skipping replayed micro-batch $batchId " +
          s"(query $qid already committed it)")
      return
    }
    // the Dataset handed to a v1 sink wraps the incremental execution
    // and refuses batch actions; re-wrap its rows as a batch frame
    val batch = org.apache.spark.sql.graftshim.GraftSqlBridge
      .asBatchDataFrame(spark, data.queryExecution.toRdd, data.schema)
    GraftSource.write(sqlContext, SaveMode.Append, parameters, batch)
    record(spark, qid, batchId)
  }
}

/** Driver inventory for the format("graft") surface. */
object GraftSourceQueries {
  import org.apache.spark.sql.SparkSession
  import graft.Tables._

  type Q = (SparkSession, String) => DataFrame

  /** x17: the full reference write path (S12) through the standard
    * format API — two versioned upserts, then three views through
    * `spark.read.format("graft")`: the first-commit snapshot (asOf),
    * the current table, and the incremental pull since commit 1. The
    * aggregate uses only count + the precombine column, which makes it
    * invariant to which of two precombine-TIED duplicate rows the
    * engine keeps (tie winners differ only in non-aggregated columns).
    */
  val queries: Map[String, Q] = Map(
    "x17_datasource" -> { (s, dir) =>
      // fresh per run (versioned writes mutate the table — the write
      // path IS what this key measures), swept on JVM exit
      val t = graft.util.Scratch.fresh("graft_x17_") + "/table"
      val base = lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"), col("l_returnflag"))
      val b1 = base.filter(col("l_linenumber") <= 2)
      val b2 = base.filter(col("l_linenumber") === 2)
        .withColumn("l_extendedprice", col("l_extendedprice") + lit(0.25))
      def w(df: DataFrame): Unit = df.write.format("graft")
        .option("op", "upsert")
        .option("keys", "l_orderkey,l_linenumber")
        .option("precombine", "l_extendedprice")
        .option("partition", "l_returnflag")
        .mode(SaveMode.Append).save(t)
      w(b1); w(b2)
      // 2 commit ids — metadata-scale collect
      val c1 = Merge.commits(s, t).agg(org.apache.spark.sql.functions
        .min("commit_ts")).head.getLong(0)
      def agg(df: DataFrame, label: String): DataFrame =
        df.groupBy(col("l_returnflag"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
            graft.Tables.d(org.apache.spark.sql.functions.sum(
              graft.Tables.dec(col("l_extendedprice")))).as("total"))
          .withColumn("snap", lit(label))
          .select("snap", "l_returnflag", "n", "total")
      agg(s.read.format("graft").option("asOf", c1.toString).load(t), "c1")
        .unionAll(agg(s.read.format("graft").load(t), "current"))
        .unionAll(agg(s.read.format("graft")
          .option("sinceCommit", c1.toString).load(t), "incr"))
        .orderBy("snap", "l_returnflag")
    },

    /** x18: the SQL mutation surface end-to-end — `CREATE TABLE ...
      * USING graft` (CTAS), `MERGE INTO` with conditional DELETE +
      * UPDATE + INSERT clauses (executed by
      * [[graft.sql.GraftMergeCommand]] via the session extensions),
      * and `INSERT INTO` (the relation's upsert op) — then an
      * aggregate read back through plain SQL. The write half of the
      * reference's Athena-shaped contract (`README.md:203-204`,
      * `terraform/glue.tf:119-122` hive-syncs Hudi tables for exactly
      * this); the read half is q43. */
    "x18_sql_merge" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x18_") + "/table"
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x18_lineitem")
      s.sql("DROP TABLE IF EXISTS x18_target")
      s.sql(
        s"""CREATE TABLE x18_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x18_lineitem WHERE l_linenumber <= 2""".stripMargin)
      s.sql(
        """CREATE OR REPLACE TEMP VIEW x18_src AS
          |SELECT l_orderkey, l_linenumber,
          |       max(l_extendedprice) AS src_price,
          |       max(l_returnflag) AS src_flag
          |FROM x18_lineitem WHERE l_linenumber IN (2, 3)
          |GROUP BY 1, 2""".stripMargin)
      s.sql(
        """MERGE INTO x18_target t USING x18_src s
          |ON t.l_orderkey = s.l_orderkey
          |   AND t.l_linenumber = s.l_linenumber
          |WHEN MATCHED AND s.src_price < 2000 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET l_extendedprice = s.src_price + 1.0
          |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber,
          |  l_extendedprice, l_returnflag)
          |  VALUES (s.l_orderkey, s.l_linenumber, s.src_price, s.src_flag)
          |""".stripMargin)
      s.sql(
        """INSERT INTO x18_target
          |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
          |FROM x18_lineitem WHERE l_linenumber = 4""".stripMargin)
      s.sql(
        """SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
          |    AS total
          |FROM x18_target
          |GROUP BY l_returnflag, l_linenumber
          |ORDER BY l_returnflag, l_linenumber""".stripMargin)
    },

    /** x20: SQL `UPDATE` and `DELETE FROM` statements — the row-level
      * commands an Athena-shaped analyst issues besides MERGE
      * (reference `README.md:203-204`). Both execute key-scoped
      * through [[graft.sql.GraftUpdateCommand]] /
      * [[graft.sql.GraftDeleteCommand]]: only file groups holding
      * matching rows rewrite. */
    "x20_sql_update_delete" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x20_") + "/table"
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x20_lineitem")
      s.sql("DROP TABLE IF EXISTS x20_target")
      s.sql(
        s"""CREATE TABLE x20_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x20_lineitem WHERE l_linenumber <= 2""".stripMargin)
      s.sql(
        """UPDATE x20_target SET l_extendedprice = l_extendedprice * 2
          |WHERE l_linenumber = 2 AND l_extendedprice < 3000""".stripMargin)
      s.sql(
        "DELETE FROM x20_target WHERE l_returnflag = 'N' AND l_linenumber = 1")
      s.sql(
        """SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
          |    AS total
          |FROM x20_target
          |GROUP BY l_returnflag, l_linenumber
          |ORDER BY l_returnflag, l_linenumber""".stripMargin)
    },

    /** x22: `ALTER TABLE ... ADD COLUMNS` — additive schema evolution
      * as SQL DDL ([[graft.sql.GraftAddColumnsCommand]]): O(1) metadata
      * on both the recorded schema and the session catalog, never a
      * rewrite. Pre-evolution rows read the new columns as null; the
      * post-evolution INSERT carries them. The aggregate separates the
      * two generations via the evolved marker column. */
    "x22_sql_alter_add" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x22_") + "/table"
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x22_lineitem")
      s.sql("DROP TABLE IF EXISTS x22_target")
      s.sql(
        s"""CREATE TABLE x22_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x22_lineitem WHERE l_linenumber = 1""".stripMargin)
      s.sql(
        """ALTER TABLE x22_target
          |ADD COLUMNS (l_discount DOUBLE, batch_src STRING)""".stripMargin)
      // column order follows the evolved relation: data columns, the
      // two new columns, then the partition column (which Spark's
      // parquet read always resolves last)
      s.sql(
        """INSERT INTO x22_target
          |SELECT l_orderkey, l_linenumber, l_extendedprice,
          |       l_discount, 'evolved', l_returnflag
          |FROM x22_lineitem WHERE l_linenumber = 2""".stripMargin)
      s.sql(
        """SELECT l_returnflag,
          |  coalesce(batch_src, 'original') AS src,
          |  COUNT(*) AS n, COUNT(l_discount) AS n_disc,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
          |    AS total,
          |  CAST(CAST(SUM(CAST(coalesce(l_discount, 0) AS DECIMAL(4,2)))
          |    AS STRING) AS DOUBLE) AS total_disc
          |FROM x22_target
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin)
    },

    /** x25: SQL `INSERT OVERWRITE` — the backfill statement: every
      * partition the incoming batch touches is replaced WHOLESALE
      * through the relation's insert-overwrite op (no key scan, no
      * merge join), untouched partitions keep their files. The
      * Athena-shaped analyst's partition-refresh verb, completing the
      * INSERT INTO / MERGE / UPDATE / DELETE statement family. */
    "x25_sql_insert_overwrite" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x25_") + "/table"
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x25_lineitem")
      s.sql("DROP TABLE IF EXISTS x25_target")
      s.sql(
        s"""CREATE TABLE x25_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x25_lineitem WHERE l_linenumber <= 2""".stripMargin)
      // backfill ONE partition ('A') with corrected lnum=1 rows: the
      // A-partition drops its lnum=2 rows wholesale; N/R keep both.
      // +1000.0 keeps two-decimal exactness (a fractional multiplier
      // could land between cents and split on rounding mode)
      s.sql(
        """INSERT OVERWRITE x25_target
          |SELECT l_orderkey, l_linenumber, l_extendedprice + 1000.0,
          |       l_returnflag
          |FROM x25_lineitem
          |WHERE l_returnflag = 'A' AND l_linenumber = 1""".stripMargin)
      s.sql(
        """SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
          |    AS total
          |FROM x25_target
          |GROUP BY l_returnflag, l_linenumber
          |ORDER BY l_returnflag, l_linenumber""".stripMargin)
    },

    /** x23: SQL time travel — `VERSION AS OF` against a versioned graft
      * table ([[graft.sql.ResolveGraftTimeTravel]]): the commit-1
      * snapshot and the current state aggregated side by side from one
      * SQL statement. The versioned insert goes through the named-column
      * INSERT (the `_commit_ts` meta column is engine-stamped). */
    "x23_sql_time_travel" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x23_") + "/table"
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x23_lineitem")
      s.sql("DROP TABLE IF EXISTS x23_target")
      s.sql(
        s"""CREATE TABLE x23_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x23_lineitem WHERE l_linenumber = 1""".stripMargin)
      val c1 = graft.merge.Merge.commits(s, t)
        .agg(org.apache.spark.sql.functions.max(col("commit_ts")))
        .head.getLong(0)
      s.sql(
        """INSERT INTO x23_target
          |  (l_orderkey, l_linenumber, l_extendedprice, l_returnflag)
          |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
          |FROM x23_lineitem WHERE l_linenumber = 2""".stripMargin)
      s.sql(
        s"""SELECT 'c1' AS snap, l_returnflag, COUNT(*) AS n,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
           |    AS total
           |FROM x23_target VERSION AS OF $c1
           |GROUP BY 1, 2
           |UNION ALL
           |SELECT 'current', l_returnflag, COUNT(*),
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
           |FROM x23_target
           |GROUP BY 1, 2
           |ORDER BY snap, l_returnflag""".stripMargin)
    },

    /** x29: `TIMESTAMP AS OF` — x23's exact shape, but the commit-1
      * snapshot is addressed by its RECORDED WALL CLOCK instead of its
      * id ([[graft.merge.Merge.commitAtWallClock]] resolves the
      * instant; Hudi's `as.of.instant`). Shares x23's oracle verbatim:
      * resolving an instant must be indistinguishable from naming the
      * version. */
    "x29_sql_time_travel_ts" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x29_") + "/table"
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x29_lineitem")
      s.sql("DROP TABLE IF EXISTS x29_target")
      s.sql(
        s"""CREATE TABLE x29_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x29_lineitem WHERE l_linenumber = 1""".stripMargin)
      val c1 = graft.merge.Merge.commits(s, t)
        .agg(org.apache.spark.sql.functions.max(col("commit_ts")))
        .head.getLong(0)
      val w1 = graft.merge.Merge.commitWallClock(s, t, c1)
        .getOrElse(sys.error(s"commit $c1 carries no wall clock"))
      // the instant addresses c1 INCLUSIVELY — make sure the next
      // commit cannot record within the same millisecond (metadata
      // wait, bounded by ~2 ms; real commits are seconds apart)
      while (System.currentTimeMillis() <= w1 + 1) Thread.sleep(1)
      s.sql(
        """INSERT INTO x29_target
          |  (l_orderkey, l_linenumber, l_extendedprice, l_returnflag)
          |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
          |FROM x29_lineitem WHERE l_linenumber = 2""".stripMargin)
      // session TZ is UTC in every entrypoint; format the instant there
      val lit = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(w1))
      s.sql(
        s"""SELECT 'c1' AS snap, l_returnflag, COUNT(*) AS n,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
           |    AS total
           |FROM x29_target TIMESTAMP AS OF '$lit'
           |GROUP BY 1, 2
           |UNION ALL
           |SELECT 'current', l_returnflag, COUNT(*),
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
           |FROM x29_target
           |GROUP BY 1, 2
           |ORDER BY snap, l_returnflag""".stripMargin)
    },

    /** x32: plan-time stats pruning reached from plain SQL — a
      * range-clustered v1 table ([[Merge.bulkInsert]]: tight disjoint
      * per-file okey ranges) is REGISTERED in the DSv2 catalog
      * (CREATE TABLE over the pre-existing path, the adopted-table
      * path createTable explicitly supports), then queried with a
      * BETWEEN through the catalog: the pushed conjunction bounds
      * okey on both sides, so [[CatalogStatsPrune]] resolves the scan
      * to only the overlapping files (file-level assert in
      * [[GraftCatalogSpec]]). The oracle is the plain relational
      * filter — pruning must be result-invisible. */
    "x32_catalog_prune" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cat.warehouse",
        graft.util.Scratch.cached("graft_cat_warehouse",
          "graft_cat_wh_")(_ => ()))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.bench")
      s.sql("DROP TABLE IF EXISTS graft_cat.bench.li32")
      val warehouse = s.conf.get("spark.sql.catalog.graft_cat.warehouse")
      val path = s"$warehouse/bench/li32"
      val rows = graft.Tables.lineitem(s, dir).select(
        col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_returnflag").as("part"))
      graft.merge.Merge.bulkInsert(rows, path, "part",
        keyCols = Seq("okey"), targetFileBytes = 256L << 10)
      // declared keys must MATCH the key spec the bulkInsert above
      // recorded in the table state (keys=okey): the bloom arm reads
      // only the recorded spec, and a divergent declaration would mask
      // any future declared-vs-recorded validation (r10 advice)
      s.sql(
        """CREATE TABLE graft_cat.bench.li32 (
          |  okey BIGINT, lnum INT, qty DOUBLE, price DOUBLE, part STRING)
          |USING graft
          |PARTITIONED BY (part)
          |OPTIONS (keys 'okey')""".stripMargin)
      s.sql(
        """SELECT okey, lnum, qty, price, part
          |FROM graft_cat.bench.li32
          |WHERE okey BETWEEN 1000 AND 5000
          |ORDER BY okey, lnum, qty, price, part""".stripMargin)
    },

    /** e21: the native streaming READ end-to-end — three key-DISJOINT
      * versioned upsert commits, then `readStream.format("graft")`
      * drained with AvailableNow through a parquet-per-batch sink.
      * Disjoint keys mean no cross-commit overwrites, so the drained
      * union equals the table's current state and the oracle is one
      * per-(key, partition) precombine dedup over all batches. */
    "e21_stream_source" -> { (s, dir) =>
      val path = graft.util.Scratch.fresh("graft_e21_")
      val outDir = graft.util.Scratch.fresh("graft_e21o_")
      val rows = graft.Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 <= 2)
        .select(
          (col("o_orderkey") % 500).as("okey"),
          col("o_totalprice").as("price"),
          col("o_orderkey").as("pre"),
          col("o_orderstatus").as("part"))
      (0 until 3).foreach { b =>
        graft.merge.Merge.upsert(s,
          rows.filter(col("okey") % 3 === b), path,
          Seq("okey"), "pre", "part")
        ()
      }
      graft.util.StreamTuning.drain(s, path,
        graft.util.Scratch.fresh("graft_e21c_")) {
        s.readStream.format("graft").load(path)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            batch.write.mode(SaveMode.Overwrite)
              .parquet(s"$outDir/b=$bid")
          }
      }
      s.read.parquet(outDir)
        .select("okey", "price", "pre", "part")
        .orderBy("part", "okey")
    },

    /** e22: table REPLICATION from the two native streaming halves
      * composed — `readStream.format("graft")` tailing the source's
      * commit timeline into `writeStream.format("graft")` upserting a
      * replica, no foreachBatch anywhere. Incremental rows arrive
      * stamped by their last-writer commit and keyed upsert makes
      * re-delivery convergent, so the replica equals the source state
      * after every drain — CDC-less replication by commit tailing,
      * with exactly-once effect from keyed idempotence (the sink's
      * per-query batch stamping + the x04 contract). The replica
      * orders `upsert_ordered` by the DELIVERED COMMIT STAMP
      * (`_commit_ts` renamed to the payload column `src_commit`), not
      * the business precombine: the source's own semantics are
      * batch-wins (a later commit may lower a key's precombine), and
      * commit order — monotone by construction — is the only ordering
      * key under which replayed or out-of-order increments converge to
      * the source state for EVERY workload (the r10 advice finding:
      * precombine-ordered replication silently diverges on a
      * precombine regression; spec-pinned with a two-drain regression
      * in GraftSourceSpec). */
    "e22_stream_replica" -> { (s, dir) =>
      val src = graft.util.Scratch.fresh("graft_e22src_")
      val dst = graft.util.Scratch.fresh("graft_e22dst_")
      val rows = graft.Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 <= 2)
        .select(
          (col("o_orderkey") % 500).as("okey"),
          col("o_totalprice").as("price"),
          col("o_orderkey").as("pre"),
          col("o_orderstatus").as("part"))
      // three commits, the LAST overwriting keys from the first two —
      // the replica must reflect batch-wins, not just a union
      (0 until 3).foreach { b =>
        graft.merge.Merge.upsert(s,
          rows.filter(col("pre") % 3 === b), path = src,
          keyCols = Seq("okey"), precombine = "pre",
          partitionCol = "part")
        ()
      }
      graft.util.StreamTuning.drain(s, src,
        graft.util.Scratch.fresh("graft_e22c_")) {
        s.readStream.format("graft").load(src)
          .withColumnRenamed(graft.merge.Merge.commitCol, "src_commit")
          .writeStream
          .format("graft")
          .option("path", dst)
          .option("op", "upsert_ordered")
          .option("keys", "okey")
          .option("precombine", "src_commit")
          .option("partition", "part")
      }
      graft.merge.Merge.readTable(s, dst)
        .select("okey", "price", "pre", "part")
        .orderBy("part", "okey")
    },

    /** e24: a STREAM-STREAM interval join fed by TWO native graft
      * sources in one query — clicks and purchases land in separate
      * keyed tables (independent commit timelines), each tailed by its
      * own `readStream.format("graft")` with independently tracked
      * offsets, joined by [[graft.streaming.EventStreams.intervalJoin]]
      * (watermarked, `StreamingSymmetricHashJoin` — Catalyst's stateful
      * join, not a batch shim) and drained AvailableNow. At 100 TB the
      * shape is two followers tailing two tables' O(changed rows)
      * increments into a bounded-state join — no rescans of either
      * side. Oracle: the same interval join done relationally over the
      * events rows each table holds. */
    "e24_stream_join_native" -> { (s, dir) =>
      val clicksT = graft.util.Scratch.fresh("graft_e24c_")
      val buysT = graft.util.Scratch.fresh("graft_e24p_")
      val outDir = graft.util.Scratch.fresh("graft_e24o_")
      val ev = graft.Tables.events(s, dir)
        .withColumn("part", (col("user_id") % 8).cast("string"))
      // two commits per side: the sources must tail a timeline, not a
      // single snapshot
      Seq(("click", clicksT), ("purchase", buysT)).foreach {
        case (kind, path) =>
          val side = ev.filter(col("event_type") === kind)
          (0 until 2).foreach { b =>
            graft.merge.Merge.upsert(s,
              side.filter(col("event_id") % 2 === b), path,
              Seq("event_id"), "value", "part")
            ()
          }
      }
      def tail(path: String) =
        s.readStream.format("graft").load(path)
          .drop(graft.merge.Merge.commitCol)
      val joined = graft.streaming.EventStreams.intervalJoin(
        tail(clicksT), tail(buysT))
      graft.util.StreamTuning.drain(s, clicksT,
        graft.util.Scratch.fresh("graft_e24k_")) {
        joined.writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            batch.write.mode(SaveMode.Overwrite)
              .parquet(s"$outDir/b=$bid")
          }
      }
      s.read.parquet(outDir)
        .select("l_id", "r_id", "user_id", "l_ts", "r_ts")
        .orderBy("l_id", "r_id")
    },

    /** x33: point lookups through the catalog probe the file-level
      * BLOOM key index — [[CatalogStatsPrune]]'s second arm. Two
      * upsert commits (index entries per data file, gates forced at
      * toy scale) build an UNCLUSTERED layout where footer min/max
      * spans the partition but only some files hold a given key; a
      * `WHERE okey = k AND part = 'v'` SELECT then reads only the
      * bloom-matched files (file-level assert in [[GraftCatalogSpec]]).
      * The oracle replays the upsert dedup relationally and filters —
      * index pruning must be result-invisible. */
    "x33_catalog_bloom_lookup" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cat.warehouse",
        graft.util.Scratch.cached("graft_cat_warehouse",
          "graft_cat_wh_")(_ => ()))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.bench")
      s.sql("DROP TABLE IF EXISTS graft_cat.bench.li33")
      val warehouse = s.conf.get("spark.sql.catalog.graft_cat.warehouse")
      val path = s"$warehouse/bench/li33"
      val rows = graft.Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 <= 2)
        .select(
          (col("o_orderkey") % 500).as("okey"),
          col("o_totalprice").as("price"),
          col("o_orderkey").as("pre"),
          col("o_orderstatus").as("part"))
      // force both index arms at toy scale with a TABLE-SCOPED gate
      // policy (recorded in the table state before the first
      // commit, so builds index and probes consult it) — not by
      // mutating the JVM-wide default vars, which would leak into any
      // concurrently running merge (the r10 advice finding)
      graft.merge.KeyIndex.setProbeGates(s, path, 0, 0L)
      graft.merge.Merge.upsert(s, rows.filter(col("pre") % 2 === 0),
        path, Seq("okey"), "pre", "part")
      graft.merge.Merge.upsert(s, rows.filter(col("pre") % 2 === 1),
        path, Seq("okey"), "pre", "part")
      s.sql(
        """CREATE TABLE graft_cat.bench.li33 (
          |  okey BIGINT, price DOUBLE, pre BIGINT, part STRING)
          |USING graft PARTITIONED BY (part)
          |OPTIONS (keys 'okey', precombine 'pre')""".stripMargin)
      s.sql(
        """SELECT okey, price, pre, part FROM graft_cat.bench.li33
          |WHERE okey = 123 AND part = 'O'
          |ORDER BY okey, price, pre, part""".stripMargin)
    },

    /** x31: the DSv2 catalog front door ([[GraftCatalog]]) end-to-end —
      * `CREATE NAMESPACE` / `CREATE TABLE ... PARTITIONED BY` through
      * the registered [[org.apache.spark.sql.connector.catalog
      * .TableCatalog]], two `INSERT INTO` upsert commits, then the
      * commit-1 snapshot via NATIVE `VERSION AS OF` resolution
      * (Spark's `loadTable(ident, version)`, no hint-batch rewrite)
      * unioned with the current snapshot. x17's replay semantics minus
      * the incremental arm, so the oracle re-derives the same algebra.
      * The catalog + warehouse are session/JVM-pinned (catalog plugins
      * are cached by name); the key drops and recreates its table so
      * bench re-runs in one JVM stay deterministic. */
    "x31_catalog_table" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cat.warehouse",
        graft.util.Scratch.cached("graft_cat_warehouse",
          "graft_cat_wh_")(_ => ()))
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x31_lineitem")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.bench")
      s.sql("DROP TABLE IF EXISTS graft_cat.bench.li")
      s.sql(
        """CREATE TABLE graft_cat.bench.li (
          |  l_orderkey BIGINT, l_linenumber INT,
          |  l_extendedprice DOUBLE, l_returnflag STRING)
          |USING graft
          |PARTITIONED BY (l_returnflag)
          |OPTIONS (keys 'l_orderkey,l_linenumber',
          |         precombine 'l_extendedprice')""".stripMargin)
      s.sql(
        """INSERT INTO graft_cat.bench.li
          |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
          |FROM x31_lineitem WHERE l_linenumber <= 2""".stripMargin)
      s.sql(
        """INSERT INTO graft_cat.bench.li
          |SELECT l_orderkey, l_linenumber, l_extendedprice + 0.25,
          |       l_returnflag
          |FROM x31_lineitem WHERE l_linenumber = 2""".stripMargin)
      val warehouse = s.conf.get("spark.sql.catalog.graft_cat.warehouse")
      val c1 = graft.merge.Merge.commits(s, s"$warehouse/bench/li")
        .agg(org.apache.spark.sql.functions.min(col("commit_ts")))
        .head.getLong(0)
      s.sql(
        s"""SELECT 'c1' AS snap, l_returnflag, COUNT(*) AS n,
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
           |    AS total
           |FROM graft_cat.bench.li VERSION AS OF $c1
           |GROUP BY 1, 2
           |UNION ALL
           |SELECT 'current', l_returnflag, COUNT(*),
           |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
           |FROM graft_cat.bench.li
           |GROUP BY 1, 2
           |ORDER BY snap, l_returnflag""".stripMargin)
    })

  /** The oracle replays both upserts relationally: per-batch precombine
    * dedup over (keys, partition) identity, then batch-2-wins key
    * replacement — c1 = commit-1 state, current = after commit 2,
    * incr = rows last written by commit 2. */
  val oracle: Map[String, String] = Map(
    // the natively-fed stream-stream interval join == the same join
    // done relationally (e06's law, with each side tailed from its own
    // keyed table's commit timeline)
    "e24_stream_join_native" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id,
        |       l.user_id AS user_id, l.ts AS l_ts, r.ts AS r_ts
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR
        |ORDER BY l_id, r_id""".stripMargin,
    "x17_datasource" ->
      """WITH b1 AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_linenumber <= 2),
        |d1 AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |    ORDER BY l_extendedprice DESC) AS rn FROM b1) WHERE rn = 1),
        |b2 AS (
        |  SELECT l_orderkey, l_linenumber,
        |         l_extendedprice + 0.25 AS l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_linenumber = 2),
        |d2 AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |    ORDER BY l_extendedprice DESC) AS rn FROM b2) WHERE rn = 1),
        |cur AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM d2
        |  UNION ALL
        |  SELECT d1.l_orderkey, d1.l_linenumber, d1.l_extendedprice,
        |         d1.l_returnflag
        |  FROM d1 WHERE NOT EXISTS (
        |    SELECT 1 FROM d2
        |    WHERE d2.l_orderkey = d1.l_orderkey
        |      AND d2.l_linenumber = d1.l_linenumber
        |      AND d2.l_returnflag = d1.l_returnflag))
        |SELECT 'c1' AS snap, l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total
        |FROM d1 GROUP BY 1, 2
        |UNION ALL
        |SELECT 'current', l_returnflag, COUNT(*),
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |FROM cur GROUP BY 1, 2
        |UNION ALL
        |SELECT 'incr', l_returnflag, COUNT(*),
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |FROM d2 GROUP BY 1, 2
        |ORDER BY snap, l_returnflag""".stripMargin,

    /** Replays CTAS (per-(keys,partition) precombine dedup), the MERGE
      * (first-match-wins: delete when src_price<2000, else update
      * +1.0; unmatched source keys insert), and the trailing INSERT
      * INTO (upsert of the lnum=4 batch — pure inserts, deduped the
      * same way), then the same aggregate. */
    "x18_sql_merge" ->
      """WITH tgt0 AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice,
        |           l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber <= 2) WHERE rn = 1),
        |src AS (
        |  SELECT l_orderkey, l_linenumber,
        |         max(l_extendedprice) AS src_price,
        |         max(l_returnflag) AS src_flag
        |  FROM lineitem WHERE l_linenumber IN (2, 3) GROUP BY 1, 2),
        |ins4 AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice,
        |           l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber = 4) WHERE rn = 1),
        |merged AS (
        |  SELECT t.l_orderkey, t.l_linenumber,
        |         CASE WHEN s.l_orderkey IS NOT NULL
        |              THEN s.src_price + 1.0
        |              ELSE t.l_extendedprice END AS l_extendedprice,
        |         t.l_returnflag
        |  FROM tgt0 t LEFT JOIN src s
        |    ON t.l_orderkey = s.l_orderkey
        |   AND t.l_linenumber = s.l_linenumber
        |  WHERE s.l_orderkey IS NULL OR s.src_price >= 2000
        |  UNION ALL
        |  SELECT s.l_orderkey, s.l_linenumber, s.src_price, s.src_flag
        |  FROM src s WHERE NOT EXISTS (
        |    SELECT 1 FROM tgt0 t
        |    WHERE t.l_orderkey = s.l_orderkey
        |      AND t.l_linenumber = s.l_linenumber)
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM ins4)
        |SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total
        |FROM merged
        |GROUP BY l_returnflag, l_linenumber
        |ORDER BY l_returnflag, l_linenumber""".stripMargin,

    /** CTAS dedup, then the UPDATE's conditional doubling and the
      * DELETE's partition+linenumber cut, then the same aggregate. */
    "x20_sql_update_delete" ->
      """WITH tgt0 AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice,
        |           l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber <= 2) WHERE rn = 1),
        |updated AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_linenumber = 2 AND l_extendedprice < 3000
        |              THEN l_extendedprice * 2
        |              ELSE l_extendedprice END AS l_extendedprice,
        |         l_returnflag
        |  FROM tgt0),
        |final AS (
        |  SELECT * FROM updated
        |  WHERE NOT (l_returnflag = 'N' AND l_linenumber = 1))
        |SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total
        |FROM final
        |GROUP BY l_returnflag, l_linenumber
        |ORDER BY l_returnflag, l_linenumber""".stripMargin,

    /** CTAS dedup of the lnum=1 generation (no discount/marker — they
      * read as null after the ALTER), the evolved lnum=2 insert
      * (deduped the same way, carrying both new columns), then the
      * generation-splitting aggregate. Identities are disjoint across
      * the two batches (l_linenumber is a key), so current state is the
      * plain union. */
    "x22_sql_alter_add" ->
      """WITH g1 AS (
        |  SELECT l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_extendedprice, l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber = 1) WHERE rn = 1),
        |g2 AS (
        |  SELECT l_extendedprice, l_returnflag, l_discount
        |  FROM (
        |    SELECT l_extendedprice, l_returnflag, l_discount,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber = 2) WHERE rn = 1),
        |cur AS (
        |  SELECT l_returnflag, CAST(NULL AS DOUBLE) AS l_discount,
        |         'original' AS src, l_extendedprice FROM g1
        |  UNION ALL
        |  SELECT l_returnflag, l_discount, 'evolved', l_extendedprice
        |  FROM g2)
        |SELECT l_returnflag, src, COUNT(*) AS n,
        |  COUNT(l_discount) AS n_disc,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total,
        |  CAST(CAST(SUM(CAST(coalesce(l_discount, 0) AS DECIMAL(4,2)))
        |    AS STRING) AS DOUBLE) AS total_disc
        |FROM cur
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    /** CTAS dedup, then the A-partition replaced wholesale by the
      * deduped backfill batch; N/R partitions untouched. */
    "x25_sql_insert_overwrite" ->
      """WITH tgt0 AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice,
        |           l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber <= 2) WHERE rn = 1),
        |bf AS (
        |  SELECT l_orderkey, l_linenumber,
        |         l_extendedprice + 1000.0 AS l_extendedprice,
        |         l_returnflag
        |  FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice,
        |           l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem
        |    WHERE l_returnflag = 'A' AND l_linenumber = 1) WHERE rn = 1),
        |final AS (
        |  SELECT * FROM tgt0 WHERE l_returnflag <> 'A'
        |  UNION ALL
        |  SELECT * FROM bf)
        |SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total
        |FROM final
        |GROUP BY l_returnflag, l_linenumber
        |ORDER BY l_returnflag, l_linenumber""".stripMargin,

    /** The c1 snapshot is the deduped lnum=1 generation; current is the
      * union with the deduped lnum=2 insert (identities disjoint —
      * l_linenumber is a record key). */
    "x23_sql_time_travel" -> timeTravelOracle,

    /** x29 shares x23's oracle VERBATIM: `TIMESTAMP AS OF` resolving
      * the recorded instant must be indistinguishable from `VERSION AS
      * OF` naming the commit — a drift between the two paths breaks
      * the hash. */
    "x29_sql_time_travel_ts" -> timeTravelOracle,

    /** The replica must equal the SOURCE state: batch b = pre % 3,
      * later batches win on the (key, partition) identity, precombine
      * max within a batch — one lexicographic (batch, pre) argmax. */
    "e22_stream_replica" ->
      """WITH raw AS (
        |  SELECT o_orderkey % 500 AS okey, o_totalprice AS price,
        |         o_orderkey AS pre, o_orderstatus AS part
        |  FROM orders WHERE o_orderkey % 7 <= 2),
        |d AS (SELECT okey, price, pre, part FROM (
        |  SELECT *, row_number() OVER (PARTITION BY okey, part
        |    ORDER BY (pre % 3) DESC, pre DESC) AS rn FROM raw)
        |  WHERE rn = 1)
        |SELECT okey, price, pre, part FROM d
        |ORDER BY part, okey""".stripMargin,

    /** Key-disjoint commits collapse to one global dedup: the drained
      * stream union must equal the table's current state. */
    "e21_stream_source" ->
      """WITH raw AS (
        |  SELECT o_orderkey % 500 AS okey, o_totalprice AS price,
        |         o_orderkey AS pre, o_orderstatus AS part
        |  FROM orders WHERE o_orderkey % 7 <= 2),
        |d AS (SELECT okey, price, pre, part FROM (
        |  SELECT *, row_number() OVER (PARTITION BY okey, part
        |    ORDER BY pre DESC) AS rn FROM raw) WHERE rn = 1)
        |SELECT okey, price, pre, part FROM d
        |ORDER BY part, okey""".stripMargin,

    /** The q18/x04 replay algebra (per-batch precombine dedup, batch-2
      * wins over stored on the (key, partition) identity), then the
      * point filter — the bloom probe must be result-invisible. */
    "x33_catalog_bloom_lookup" ->
      """WITH raw AS (
        |  SELECT o_orderkey % 500 AS okey, o_totalprice AS price,
        |         o_orderkey AS pre, o_orderstatus AS part
        |  FROM orders WHERE o_orderkey % 7 <= 2),
        |b1 AS (SELECT okey, price, pre, part FROM (
        |  SELECT *, row_number() OVER (PARTITION BY okey, part
        |    ORDER BY pre DESC) AS rn FROM raw WHERE pre % 2 = 0)
        |  WHERE rn = 1),
        |b2 AS (SELECT okey, price, pre, part FROM (
        |  SELECT *, row_number() OVER (PARTITION BY okey, part
        |    ORDER BY pre DESC) AS rn FROM raw WHERE pre % 2 = 1)
        |  WHERE rn = 1),
        |cur AS (
        |  SELECT * FROM b2
        |  UNION ALL
        |  SELECT b1.* FROM b1 WHERE NOT EXISTS (
        |    SELECT 1 FROM b2
        |    WHERE b2.okey = b1.okey AND b2.part = b1.part))
        |SELECT okey, price, pre, part FROM cur
        |WHERE okey = 123 AND part = 'O'
        |ORDER BY okey, price, pre, part""".stripMargin,

    /** bulk_insert is a raw append (no precombine dedup), so the
      * catalog read through the pruned scan must equal the plain
      * relational filter — q36's oracle verbatim, now reached from
      * SQL through the DSv2 catalog instead of the readPruned API. */
    "x32_catalog_prune" ->
      """SELECT l_orderkey AS okey, l_linenumber AS lnum,
        |       l_quantity AS qty, l_extendedprice AS price,
        |       l_returnflag AS part
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 5000
        |ORDER BY okey, lnum, qty, price, part""".stripMargin,

    /** x17's replay algebra without the incremental arm: d1 = commit-1
      * state (per-(keys,partition) precombine dedup of batch 1), cur =
      * after the batch-2 upsert (batch-2-wins key replacement). */
    "x31_catalog_table" ->
      """WITH b1 AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_linenumber <= 2),
        |d1 AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |    ORDER BY l_extendedprice DESC) AS rn FROM b1) WHERE rn = 1),
        |b2 AS (
        |  SELECT l_orderkey, l_linenumber,
        |         l_extendedprice + 0.25 AS l_extendedprice, l_returnflag
        |  FROM lineitem WHERE l_linenumber = 2),
        |d2 AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |    ORDER BY l_extendedprice DESC) AS rn FROM b2) WHERE rn = 1),
        |cur AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM d2
        |  UNION ALL
        |  SELECT d1.l_orderkey, d1.l_linenumber, d1.l_extendedprice,
        |         d1.l_returnflag
        |  FROM d1 WHERE NOT EXISTS (
        |    SELECT 1 FROM d2
        |    WHERE d2.l_orderkey = d1.l_orderkey
        |      AND d2.l_linenumber = d1.l_linenumber
        |      AND d2.l_returnflag = d1.l_returnflag))
        |SELECT 'c1' AS snap, l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total
        |FROM d1 GROUP BY 1, 2
        |UNION ALL
        |SELECT 'current', l_returnflag, COUNT(*),
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |FROM cur GROUP BY 1, 2
        |ORDER BY snap, l_returnflag""".stripMargin)

  private lazy val timeTravelOracle: String =
      """WITH g1 AS (
        |  SELECT l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_extendedprice, l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber = 1) WHERE rn = 1),
        |g2 AS (
        |  SELECT l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_extendedprice, l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber = 2) WHERE rn = 1),
        |cur AS (
        |  SELECT * FROM g1 UNION ALL SELECT * FROM g2)
        |SELECT 'c1' AS snap, l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total
        |FROM g1 GROUP BY 1, 2
        |UNION ALL
        |SELECT 'current', l_returnflag, COUNT(*),
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |FROM cur GROUP BY 1, 2
        |ORDER BY snap, l_returnflag""".stripMargin
}

/** The read-side relation: wraps the resolved snapshot/incremental
  * DataFrame and replays Spark's column pruning + translatable filters
  * into that plan, where Catalyst pushes them down to the parquet scan.
  * Filters we can't translate are reported unhandled, so the outer plan
  * re-applies them — correctness never depends on the translation.
  *
  * `parameters` are the resolved data-source options (for a catalog
  * table, `CREATE TABLE ... USING graft OPTIONS (...)` persists them
  * and Spark hands them back on every resolution) — they carry the
  * table's identity contract (path, keys, precombine, partition), which
  * is what lets the SQL mutation surface (`INSERT INTO` via
  * [[insert]], `MERGE INTO` via [[graft.sql.GraftMergeCommand]]) write
  * through the same option-driven dispatch as the DataFrame API. */
class GraftRelation(override val sqlContext: SQLContext,
    resolve: () => DataFrame,
    val parameters: Map[String, String] = Map.empty)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  // schema is stable across commits (additive evolution widens it only
  // through writes, which refresh the catalog entry) — resolve once.
  // The engine's per-row commit stamp is not a user column (the catalog
  // table serves it as a metadata column): an unnamed INSERT must not
  // have to supply it
  override lazy val schema: StructType =
    StructType(resolve().schema.filterNot(_.name == Merge.commitCol))

  /** `INSERT INTO` (append) / `INSERT OVERWRITE` on a catalog-registered
    * graft table: the append op is the table's recorded `op` option
    * (upsert by default), so SQL inserts land exactly like
    * `df.write.format("graft").mode(Append)` would. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    GraftSource.write(sqlContext,
      if (overwrite) SaveMode.Overwrite else SaveMode.Append,
      parameters, data)

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot(f => translate(f).isDefined)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // fresh snapshot per scan — see the lazy-resolution note above
    val filtered = filters.flatMap(translate)
      .foldLeft(resolve())((d, c) => d.filter(c))
    // projection AFTER filtering: a filter column need not be in
    // requiredColumns. Empty projection (count-only scans) yields
    // zero-field rows, which Spark counts without reading columns.
    filtered.select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }

  private def translate(f: Filter): Option[Column] =
    GraftFilters.translate(f)
}

/** Plan-time file pruning for DSv2 catalog scans: when a pushed filter
  * conjunction bounds a column on BOTH sides (point lookup, BETWEEN,
  * `>= lo AND <= hi`), the plain-snapshot scan resolves to ONLY the
  * parquet files whose footer [min, max] overlaps the bound —
  * [[graft.merge.StatsPruning]]'s q36 machinery reached from SQL with
  * no API call. On a range-laid-out 100 TB table this is the
  * difference between scheduling O(matching files) and O(all files)
  * tasks for a selective query.
  *
  * Conservative by construction:
  *  - engages only for the CURRENT snapshot of a COW table — time
  *    travel, incremental, CDC and MOR reads have their own resolution
  *    (and MOR deltas are not footer-prunable) — and only when some
  *    column is bounded on both sides;
  *  - of several lower (upper) bounds on a column it uses any one:
  *    a looser bound only keeps more files;
  *  - correctness never depends on it: the caller re-applies every
  *    pushed filter to the pruned relation, and [[StatsPruning]] keeps
  *    any file it cannot prove empty. */
private[sources] object CatalogStatsPrune {

  /** (kept files, total files) of the last engaged pruning in this
    * JVM — spec/diagnostic observability only, never read by the
    * engine. */
  @volatile var lastPruned: Option[(Int, Int)] = None

  private val travelKeys = Set("asof", "asoftimestamp", "sincecommit",
    "untilcommit", "changesafter", "changesuntil", "optimized")

  def tryPrune(spark: org.apache.spark.sql.SparkSession,
      params: Map[String, String], pushed: Array[Filter])
      : Option[DataFrame] = {
    if (params.keys.exists(k => travelKeys.contains(k.toLowerCase)))
      return None
    val path = GraftSource.pathOf(params)
    if (TableState.load(spark, path).mor.isDefined) return None
    val los = scala.collection.mutable.Map.empty[String, Any]
    val his = scala.collection.mutable.Map.empty[String, Any]
    pushed.foreach {
      case EqualTo(c, v) if v != null =>
        los.getOrElseUpdate(c, v); his.getOrElseUpdate(c, v); ()
      case GreaterThan(c, v) if v != null =>
        los.getOrElseUpdate(c, v); ()
      case GreaterThanOrEqual(c, v) if v != null =>
        los.getOrElseUpdate(c, v); ()
      case LessThan(c, v) if v != null =>
        his.getOrElseUpdate(c, v); ()
      case LessThanOrEqual(c, v) if v != null =>
        his.getOrElseUpdate(c, v); ()
      case _ => ()
    }
    // bloom arm (x33): a full scoped-key point lookup (key AND
    // partition columns all equality-pinned) probes the file-level
    // bloom index — finer than footer min/max on unclustered layouts,
    // where every file's key RANGE spans the partition but only a few
    // files actually HOLD the key
    val eqs = pushed.collect {
      case EqualTo(c, v) if v != null => c -> v }.toMap
    val bloom = graft.merge.KeyIndex.lookupFiles(spark, path, eqs)
    // stats arm (x32): any column bounded on both sides
    val both = los.keySet.intersect(his.keySet)
    val stats = both.toSeq.sorted.headOption.map { c =>
      graft.merge.StatsPruning.pruneFiles(spark, path, c, los(c), his(c))
    }
    (bloom, stats) match {
      case (Some((bKept, total)), Some((sKept, _))) =>
        // both engaged: a file must survive BOTH proofs to be read
        val kept = bKept.toSet.intersect(sKept.toSet).toSeq.sorted
        lastPruned = Some((kept.length, total))
        Some(graft.merge.StatsPruning.readKept(spark, path, kept))
      case (Some((bKept, total)), None) =>
        lastPruned = Some((bKept.length, total))
        Some(graft.merge.StatsPruning.readKept(spark, path, bKept))
      case (None, Some((sKept, total))) =>
        lastPruned = Some((sKept.length, total))
        Some(graft.merge.StatsPruning.readKept(spark, path, sKept))
      case (None, None) => None
    }
  }
}

/** sources.Filter → Column for the standard predicate algebra; None
  * for anything unknown (stays with the outer plan). Shared by the v1
  * relation's buildScan and the DSv2 scan builder so both surfaces
  * push exactly the same predicate set into the wrapped plan. */
private[sources] object GraftFilters {
  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- translate(l); rc <- translate(r))
      yield lc && rc
    case Or(l, r) => for (lc <- translate(l); rc <- translate(r))
      yield lc || rc
    case Not(c) => translate(c).map(!_)
    case _ => None
  }
}
