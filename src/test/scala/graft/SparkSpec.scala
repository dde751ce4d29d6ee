package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all engine specs.
  *
  * One session per suite (getOrCreate reuses the JVM-wide session, so the
  * whole `sbt test` run shares a single SparkContext). It is the session
  * the mains build ([[SessionTuning.local]]) on 4 cores, so the specs
  * run the configuration that ships.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** sf0.001 testdata dir (smoke scale). */
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  lazy val session: SparkSession = SessionTuning.local(4)
}
