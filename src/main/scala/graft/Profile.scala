package graft

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Builder-side measurement harness (optimization guide §1): run a
  * comma-separated key list (args(0)) against a data dir (args(1),
  * default sf0.1) under the SAME session config as [[Bench]], with a
  * listener that splits each key's wall time into Spark-job count,
  * summed task time, shuffle bytes and driver-side gap — the number
  * that tells a driver-bound pipeline (many tiny sequential jobs,
  * metadata ops) apart from an executor-bound one (few fat stages).
  *
  * Never run by the round driver; purely a diagnosis tool, so it may
  * hard-code local conveniences the bench must not. */
object Profile {
  private class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    @volatile var inputBytes = 0L
    @volatile var jobTimeMs = 0L // sum of job wall spans (overlaps not merged)
    private val jobStart = mutable.Map[Int, Long]()
    // per-stage rollup: stageId -> (name, tasks, taskTimeMs)
    val stageAgg = mutable.Map[Int, (String, Int, Long)]()
    private val stageName = mutable.Map[Int, String]()
    // SQL execution id -> the engine frame that started it
    private val execSite = mutable.Map[Long, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execSite(s.executionId) = engineFrame(s.details)
          .getOrElse(s.description)
      }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
      // AQE submits a query's stages from a thread pool, so a stage's
      // own call site names the pool; the job's SQL execution names
      // the engine step
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => execSite.get(id.toLong))
      e.stageInfos.foreach(si =>
        stageName(si.stageId) = site.getOrElse(si.name))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobTimeMs += e.time - t0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        shufRead += m.shuffleReadMetrics.totalBytesRead
        inputBytes += m.inputMetrics.bytesRead
        val sid = e.stageId
        val (n, c, t) = stageAgg.getOrElse(sid,
          (stageName.getOrElse(sid, "?"), 0, 0L))
        stageAgg(sid) = (n, c + 1, t + m.executorRunTime)
      }
    }
  }

  /** The first graft frame of a call site's long form: the engine step
    * that started a SQL execution. */
  private def engineFrame(longForm: String): Option[String] =
    longForm.linesIterator.find(_.startsWith("graft."))

  /** Block until every event already posted to the listener bus has
    * reached its listeners (`waitUntilEmpty` is `private[spark]`, public
    * in bytecode). */
  private[graft] def drainListenerBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** Cumulative JVM GC millis (driver == executors in local mode). */
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SessionTuning.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.shuffle.partitions").foreach(k =>
      println(s"[conf] $k = ${spark.conf.getOption(k).getOrElse("<unset>")}"))
    val registry = SparkEntry.queries
    // warmup pass at smoke scale, same as the builder bench regime
    keys.foreach { k =>
      try registry(k)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    println(f"${"key"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"taskT_s"}%8s ${"jobT_s"}%7s ${"gap_s"}%7s " +
      f"${"gc_s"}%6s ${"shufW_MB"}%9s ${"shufR_MB"}%9s ${"in_MB"}%8s")
    keys.foreach { k =>
      val acc = new Acc
      spark.sparkContext.addSparkListener(acc)
      spark.sparkContext.setJobDescription(s"profile:$k")
      val gc0 = gcMs
      val t0 = System.nanoTime()
      registry(k)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(acc)
      val gap = wall - acc.jobTimeMs / 1e3
      println(f"$k%-28s $wall%8.2f ${acc.jobs}%5d ${acc.stages}%6d " +
        f"${acc.tasks}%6d ${acc.taskTimeMs / 1e3}%8.2f " +
        f"${acc.jobTimeMs / 1e3}%7.2f $gap%7.2f $gc%6.2f " +
        f"${acc.shufWrite / 1e6}%9.1f ${acc.shufRead / 1e6}%9.1f " +
        f"${acc.inputBytes / 1e6}%8.1f")
      acc.stageAgg.toSeq.sortBy(-_._2._3).take(8).foreach {
        case (sid, (name, n, t)) =>
          println(f"    stage $sid%5d $n%5d tasks ${t / 1e3}%8.2f s  " +
            name.take(90))
      }
    }
    spark.stop()
  }
}
