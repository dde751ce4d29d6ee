package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Epoch nanoseconds from a monotonic source, so harness spans and the
  * epoch-millisecond stamps of Spark and streaming events share a clock. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

object Intervals {
  /** Length of the union of `[start, end)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        total += math.max(0L, curE - curS)
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, attrs: Map[String, String])

/** In-memory span recorder. Disabled in untraced runs: `span` then only
  * evaluates its body. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def current: Int = open.headOption.getOrElse(-1)

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      val start = Clock.now()
      open = id :: open
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, start, Clock.now(), attrs.toMap)
      }
    }

  /** Record a span measured elsewhere (streaming phases, Spark jobs). */
  def add(parent: Int, name: String, start: Long, end: Long,
      attrs: (String, String)*): Unit =
    if (enabled) {
      spans += Span(nextId, parent, name, start, end, attrs.toMap)
      nextId += 1
    }

  /** Spans recorded since `mark` (an earlier `spans.length`). */
  def since(mark: Int): Seq[Span] = spans.drop(mark).toSeq

  /** Writes one span per line, with its self time: its length minus the
    * part of it that its children cover. */
  def dump(path: java.nio.file.Path): Unit = {
    val children = spans.groupBy(_.parent)
    val lines = spans.sortBy(_.start).map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(s.start, c.start), math.min(s.end, c.end))).toSeq
      val self = math.max(0L, s.end - s.start - Intervals.unionNs(kids))
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":$self,"attrs":$attrs}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** One Spark job as seen by the listener: epoch-ms bounds and the long
  * call site (the user stack that submitted it). */
final case class JobSpan(id: Int, startMs: Long, var endMs: Long,
    callSite: String)

/** Cumulative engine counters at one instant. */
final case class Snap(jobs: Int, tasks: Long, taskMs: Long, shuffle: Long,
    input: Long, readOps: Long, listOps: Long, writeOps: Long,
    bytesWritten: Long, gcMs: Long)

/** Engine-wide counters for the traced run, read outside engine code: a
  * SparkListener for jobs and tasks, filesystem counts, the JVM's GC
  * beans and the block manager's storage report. */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobSpan]
  private var tasks = 0L
  private var taskMs = 0L
  private var shuffleBytes = 0L
  private var inputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val cs = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.long"))).getOrElse("")
    jobsById(e.jobId) = JobSpan(e.jobId, e.time, -1L, cs)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  spark.sparkContext.addSparkListener(this)

  /** Operation counts from the counting local filesystem; bytes written
    * from Hadoop's FileSystem statistics. */
  private def fsTotals: (Long, Long, Long, Long) =
    (FsOps.reads.sum, FsOps.lists.sum, FsOps.writes.sum,
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .map(_.getBytesWritten).sum)

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def snap(): Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (r, l, w, b) = fsTotals
    synchronized(Snap(jobsById.size, tasks, taskMs, shuffleBytes, inputBytes,
      r, l, w, b, gcMs))
  }

  def jobsSince(s: Snap): Seq[JobSpan] =
    synchronized(jobsById.values.drop(s.jobs).toSeq)

  /** Storage memory held by persisted blocks, in MiB. */
  def cachedMb: Double = spark.sparkContext.getRDDStorageInfo
    .map(_.memSize).sum / 1048576.0

  /** Per-operation engine metrics between two snapshots. */
  def delta(a: Snap, b: Snap, startNs: Long, endNs: Long): Map[String, Double] = {
    val jobs = jobsSince(a).filter(_.endMs >= 0)
    val gap = (endNs - startNs) / 1e6 - unionMs(jobs, startNs, endNs)
    Map(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.task_ms" -> (b.taskMs - a.taskMs).toDouble,
      "spark.shuffle_bytes" -> (b.shuffle - a.shuffle).toDouble,
      "spark.input_bytes" -> (b.input - a.input).toDouble,
      "spark.driver_gap_ms" -> math.max(0.0, gap),
      "spark.cached_mb" -> cachedMb,
      "fs.read_ops" -> (b.readOps - a.readOps).toDouble,
      "fs.list_ops" -> (b.listOps - a.listOps).toDouble,
      "fs.write_ops" -> (b.writeOps - a.writeOps).toDouble,
      "fs.bytes_written" -> (b.bytesWritten - a.bytesWritten).toDouble,
      "jvm.gc_ms" -> (b.gcMs - a.gcMs).toDouble)
  }

  /** Length in ms of the union of the jobs' spans, clipped to the window. */
  def unionMs(jobs: Seq[JobSpan], startNs: Long, endNs: Long): Double =
    Intervals.unionNs(jobs.map(j => (math.max(Clock.fromEpochMs(j.startMs), startNs),
      math.min(Clock.fromEpochMs(j.endMs), endNs)))) / 1e6
}
