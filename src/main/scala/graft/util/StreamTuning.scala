package graft.util

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Data-derived shuffle/state partitioning for streaming drains
  * (optimization guide §2.2 applied to stateful streams).
  *
  * A stateful streaming query pins its STATE partition count to
  * `spark.sql.shuffle.partitions` at query start, and every micro-batch
  * then pays a fixed per-partition, per-store cost — load the store,
  * write a delta file plus its checksum sibling, commit — regardless of
  * how much state actually exists. AQE cannot help: state partitioning
  * must stay stable across batches, so streaming aggregations/joins are
  * exempt from partition coalescing. Measured on e10_late_outer_join at
  * sf0.1 (graft.Profile): five micro-batch stages of 32 tasks burning
  * 86 s of summed task time on < 1 MB of state — per-partition store
  * overhead, not compute.
  *
  * The fix is the same discipline AQE applies to batch shuffles — size
  * partitions by BYTES, not by core count: derive the stream's shuffle
  * partitions from the input directory's size at [[bytesPerPart]]
  * (1 MB) per partition, clamped to [1, session shuffle.partitions].
  * At bench scale a few-MB drain gets 1-3 state partitions (store
  * count drops 10-32×); at production scale the byte quota saturates
  * the clamp and the partitioning is exactly what the session would
  * have used — nothing here is local-mode-specific. An input whose
  * size cannot be read (or reads as empty, e.g. a source that is not
  * a file tree) keeps the session value. The quota is measured: over
  * the 34 streaming keys at sf0.1 on 32 cores, against a control
  * forced to the session's 32 partitions, the total went 144.8 →
  * 128.2 s (e10 0.53×, its summed task time 86.2 → 5.3 s), while a
  * 4 MB quota (one partition) collapsed the CPU-dense state operators
  * (e16 2.54 → 3.70 s, e04 2.66 → 2.93 s).
  *
  * The conf is lowered only across query CONSTRUCTION + `.start()`:
  * `StreamingQueryManager.startQuery` clones the session, and the
  * clone's captured conf (plus the OffsetSeqMetadata it checkpoints)
  * is what every micro-batch's stateful plan uses — so the stream
  * keeps the adapted partitioning for its whole life while the OUTER
  * session's conf is restored before the first foreachBatch body runs.
  * That split is measured, not stylistic: an A/B that kept the outer
  * conf lowered for the whole drain regressed every foreachBatch body
  * that does real merge/view work through the outer session (x09
  * maintainView 4.88→5.43 s, e27's in-body retrain +2 s) while the
  * stateful drains won; restoring after start keeps both.
  *
  * Every finite stream in the engine runs through [[drain]]: sized
  * partitions, `Trigger.AvailableNow`, a checkpoint, start, await. The
  * conf window is held under one lock per session, so threads that
  * drain on a shared session neither capture each other's partition
  * count nor restore a stale value; the await runs outside the lock.
  * `StreamLoader` keeps its own query: its checkpoint outlives a drain
  * and its input dir grows with every drop.
  *
  * Results are partition-count-independent by construction (hash
  * aggregation, watermark semantics and join matching do not depend on
  * how keys are sharded).
  */
object StreamTuning {
  private val confKey = "spark.sql.shuffle.partitions"

  /** Input bytes per state partition. */
  private[util] val bytesPerPart: Long = 1L << 20

  /** Recursive byte size of a directory (0 when unreadable/absent). */
  def dirBytes(spark: SparkSession, dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case NonFatal(_) => 0L }

  /** The partition count a drain over `inputDir` should run with: the
    * session value when the input size is unreadable or zero. */
  def streamPartitions(spark: SparkSession, inputDir: String): Int = {
    val session =
      try spark.conf.get(confKey).toInt catch { case NonFatal(_) => 32 }
    val bytes = dirBytes(spark, inputDir)
    if (bytes <= 0) session
    else math.min(session.toLong,
      (bytes + bytesPerPart - 1) / bytesPerPart).toInt
  }

  private val locks = new java.util.WeakHashMap[SparkSession, Object]

  private def lockOf(spark: SparkSession): Object = locks.synchronized {
    locks.computeIfAbsent(spark, _ => new Object)
  }

  /** Build and `.start()` a streaming query inside `mk` with shuffle
    * partitions sized from `inputDir`; the session value is restored
    * as soon as `mk` returns (the started query's cloned session keeps
    * the adapted value for every micro-batch — see the object doc). */
  private def startAdapted[T](spark: SparkSession, inputDir: String)(
      mk: => T): T = lockOf(spark).synchronized {
    val before = spark.conf.getOption(confKey)
    spark.conf.set(confKey, streamPartitions(spark, inputDir).toString)
    try mk
    finally before match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  /** Drain what `writer` reads, as it stands now, and return: the
    * writer is built with partitions sized from `sizedBy`'s bytes,
    * started `AvailableNow` with its checkpoint at `checkpoint`, and
    * awaited. A failed batch surfaces as the query's
    * `StreamingQueryException`. */
  def drain(spark: SparkSession, sizedBy: String, checkpoint: String)(
      writer: => DataStreamWriter[Row]): Unit =
    startAdapted(spark, sizedBy) {
      writer.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .start()
    }.awaitTermination()

  /** A drain input of ordered file drops, built once per `key` in this
    * JVM ([[Scratch.cached]]: the content is a function of the key) and
    * returned as its `in` dir: batch i lands as one file whose mtime is
    * pinned STRICTLY after batch i-1's. The file source orders batches
    * by mtime and clock granularity can tie, so without the pin a late
    * batch (an event-drain sentinel, say) could be read first. Read it
    * with `maxFilesPerTrigger=1` to get one micro-batch per drop. */
  def orderedDrops(spark: SparkSession, key: String, prefix: String)(
      batches: => Seq[DataFrame]): String =
    Scratch.cached(key, prefix) { base =>
      val bs = batches
      val in = new org.apache.hadoop.fs.Path(base, "in")
      bs.head.coalesce(1).write.parquet(in.toString)
      val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def names = fs.listStatus(in).map(_.getPath.getName).toSet
      val maxMtime = fs.listStatus(in).map(_.getModificationTime).max
      var known = names
      bs.drop(1).zipWithIndex.foreach { case (b, i) =>
        b.coalesce(1).write.mode("append").parquet(in.toString)
        fs.listStatus(in)
          .filterNot(st => known.contains(st.getPath.getName))
          .foreach(st =>
            fs.setTimes(st.getPath, maxMtime + (i + 1) * 60000L, -1))
        known = names
      }
    } + "/in"
}
