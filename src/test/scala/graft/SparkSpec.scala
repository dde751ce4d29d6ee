package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all engine specs.
  *
  * One session per suite (getOrCreate reuses the JVM-wide session, so the
  * whole `sbt test` run shares a single SparkContext). It is the session
  * the mains build ([[SessionTuning.local]]) on 4 cores, so the specs
  * run the configuration that ships — with one addition: in every
  * session of the test JVM codegen does not fall back to the
  * interpreted path, so an engine expression whose generated code does
  * not compile fails its spec instead of logging.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** sf0.001 testdata dir (smoke scale). */
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The Spark jobs that start, on any thread, while `body` runs. The
    * listener bus is drained before the listener joins (no earlier job
    * is counted) and before the count is read (no late event is
    * missed). */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Profile.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      Profile.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // as a JVM property it reaches the SparkContext's conf, so every
    // session of the test JVM inherits it, `newSession()`s included
    sys.props("spark.sql.codegen.fallback") = "false"
    SessionTuning.local(4)
  }
}
