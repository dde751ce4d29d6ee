package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.Model
import graft.load.LoadTransactions
import graft.merge.Merge

/** Incremental mode (SURVEY §2.5, §7 phase 5): the queue-driven
  * process/load hop of the reference
  * (SQS → process-orders Lambda → Glue run per file,
  * `terraform/aws_sqs.tf:1-5`, `cmd/process_orders/main.go:117-282`)
  * as ONE Structured Streaming query.
  *
  * - Source: `readStream` over the completed-transaction JSON drop dir
  *   (T2 — the file drop stands in for the queue; at-least-once comes
  *   from the checkpoint, which also plays T3's message-ack role).
  * - Transform: the exact batch load transform, reused per micro-batch.
  * - Sink: `foreachBatch` → the §2.4 upsert merge (the Glue hop is
  *   in-process — the process-boundary was a serverless artifact).
  * - Failure routing (T5): a failing micro-batch's rows are diverted to
  *   a dead-letter parquet dir with the error message attached, and the
  *   stream continues — the analogue of the reference's SNS DLQ topic.
  * - `Trigger.AvailableNow` gives deterministic drain-and-stop runs
  *   (test parity with the reference's one-shot Lambda invocations);
  *   `max_concurrent_runs = 1` (T6) is native: micro-batches serialize.
  *
  * Scale: each micro-batch reconciles against only the parquet files
  * whose keys it touches (file-group COW, see [[graft.merge.Merge]]),
  * and `compactEvery` lets the loader pay its own small-file
  * maintenance; the source lists incrementally (`maxFilesPerTrigger`
  * governs batch size at high arrival rates).
  *
  * Every micro-batch and every compaction is a commit on the table's
  * timeline, so the loaded table serves time travel, incremental pulls
  * and CDC like any other. Each commit keeps the files it superseded in
  * the table's `_graft_history/` until [[graft.merge.Merge.clean]]
  * runs; the loader runs no cleaner itself.
  */
object StreamLoader {

  final case class Args(
      inputDir: String,
      tablePath: String,
      checkpointDir: String,
      deadLetterDir: String,
      additionalColumns: Map[String, String] = Map.empty,
      maxFilesPerTrigger: Option[Int] = None,
      /** On-success notification dir (the reference routes success to an
        * SNS topic next to the DLQ one,
        * `terraform/aws_lambda_execute_orders.tf:43-57`); None = off. */
      successDir: Option[String] = None,
      /** Compact the table after every N committed micro-batches — the
        * one-file-per-batch append pattern fragments a streaming table,
        * and at scale the loader must pay its own maintenance. None =
        * off. */
      compactEvery: Option[Int] = None,
      targetFileBytes: Long = 128L * 1024 * 1024,
      /** MERGE_ON_READ ingestion ([[graft.merge.MorTable]]): each
        * micro-batch appends an O(batch) delta commit instead of
        * rewriting the matched file groups — the write-cost shape a
        * 100 TB table needs under a steady micro-batch stream. Readers
        * use `MorTable.read` (snapshot) / `readOptimized`;
        * `compactEvery` folds the accumulated deltas into base on the
        * same cadence COW uses for small-file maintenance. */
      mergeOnRead: Boolean = false)

  /** Build (not start) the streaming query. */
  def query(spark: SparkSession, args: Args): StreamingQuery = {
    // validate BEFORE the stream starts: a zero interval would throw
    // inside foreachBatch ((batchId+1) % 0) after the table commit but
    // before the checkpoint commit — a permanently wedged stream
    args.compactEvery.foreach(n =>
      require(n >= 1, s"compactEvery must be >= 1, got $n"))
    val reader = spark.readStream
      .schema(Model.orderCompleteRawSchema)
    val src = args.maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .json(args.inputDir)

    src.writeStream
      .option("checkpointLocation", args.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persisted for the batch's lifetime: the transform feeds the
        // merge (key collect and write, both served by this cache), the
        // dead-letter write AND the success notification — without it
        // each action would re-run the transform over the source files
        val df = LoadTransactions.transform(batch, args.additionalColumns)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val committed =
            try {
              upsertInto(spark, df, args)
              true
            } catch {
              case e: Exception => // T5: dead-letter the batch, keep going
                df.withColumn("_error", lit(e.toString))
                  .withColumn("_batch_id", lit(batchId))
                  .write.mode("append").parquet(args.deadLetterDir)
                false
            }
          // periodic maintenance AFTER the commit: a failed compaction
          // must neither dead-letter the batch (its data is committed)
          // nor stop the stream — the next pass retries naturally
          if (committed) args.compactEvery.foreach { n =>
            if ((batchId + 1) % n == 0)
              try {
                if (args.mergeOnRead)
                  graft.merge.MorTable.compact(spark, args.tablePath)
                else
                  Merge.compact(spark, args.tablePath,
                    Seq(LoadTransactions.partitionCol),
                    LoadTransactions.keyCols, args.targetFileBytes)
              } catch {
                case e: Exception => System.err.println(
                  s"[stream-loader] compaction after batch $batchId failed: $e")
              }
          }
          // T5 success half: one notification record per committed
          // micro-batch (the reference's on-success SNS publish) — tiny
          // control rows, not a copy of the data. OUTSIDE the merge
          // try/catch: a failed notification must not dead-letter a batch
          // the table already committed (replaying the DLQ would
          // re-apply committed rows)
          if (committed) args.successDir.foreach { dir =>
            try df.agg(count(lit(1)).as("n_rows"),
                concat_ws(",", sort_array(collect_set(col("pair"))))
                  .as("pairs"))
              .withColumn("_batch_id", lit(batchId))
              .write.mode("append").parquet(dir)
            catch {
              case e: Exception =>
                System.err.println(
                  s"[stream-loader] success notification for batch $batchId failed: $e")
            }
          }
        } finally df.unpersist()
        ()
      }
      .start()
  }

  /** Drain everything currently in the input dir, then stop. */
  def runAvailableNow(spark: SparkSession, args: Args): Unit = {
    val q = query(spark, args)
    q.awaitTermination()
  }

  /** T5 recovery: re-apply dead-lettered batches through the SAME merge
    * path, then clear the replayed files. Rows are upserted, so a batch
    * that half-loaded before dead-lettering is safe to replay (the
    * reference's DLQ consumer gets the same at-least-once contract from
    * key-reconciled writes). Returns the number of rows replayed.
    *
    * The file list is captured BEFORE the upsert and only those files
    * are deleted after it commits — rows dead-lettered concurrently are
    * kept for the next replay. */
  def replayDeadLetters(spark: SparkSession, args: Args): Long = {
    val dlqPath = new org.apache.hadoop.fs.Path(args.deadLetterDir)
    val fs = dlqPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dlqPath)) return 0L
    val files = fs.listStatus(dlqPath).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty) return 0L
    val dlq = spark.read.parquet(files.map(_.toString).toIndexedSeq: _*)
    val rows = dlq.drop("_error", "_batch_id")
    val n = rows.count()
    upsertInto(spark, rows, args)
    files.foreach(f => fs.delete(f, false))
    n
  }

  /** The table write, dispatched on table type: COW rewrites the
    * matched file groups; MOR appends a delta commit. Either is one
    * commit on the table's timeline, and both are key-reconciled, so
    * the at-least-once replay contract holds either way. */
  private def upsertInto(spark: SparkSession, df: DataFrame, args: Args)
      : Unit =
    if (args.mergeOnRead)
      graft.merge.MorTable.upsert(spark, df, args.tablePath,
        LoadTransactions.keyCols, LoadTransactions.precombine,
        Seq(LoadTransactions.partitionCol)): Unit
    else
      Merge.upsert(spark, df, args.tablePath,
        LoadTransactions.keyCols, LoadTransactions.precombine,
        LoadTransactions.partitionCol): Unit
}
