package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** A local filesystem under its own scheme (`faultfs:///tmp/...`) that
  * counts open / stat / list / create / mkdirs / rename / delete per
  * path and fails an op whose path matches a pattern the test set
  * ([[FaultFs.failing]]). A failed mkdirs, rename or delete returns
  * false (Hadoop's way of reporting those); a failed open, stat, list or
  * create throws. Rename is counted and matched by its destination.
  * `stat` is `getFileStatus`: `exists` is one, and the local
  * `listStatus` stats every child it returns, so a listing's metadata
  * cost shows in the stat counts of the children.
  *
  * Installed per session through `fs.faultfs.impl`, the seam Spark's own
  * suites use for instrumented filesystems. The counters and the fault
  * pattern are JVM-wide, so a test that reads them must not run other
  * `faultfs` work at the same time. */
final class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.uri

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FaultFs.throwIfFailing("open", f)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    FaultFs.throwIfFailing("stat", f)
    super.getFileStatus(f)
  }

  // both overloads: the local filesystem implements each directly, and
  // creates missing parents through the one-argument form
  override def mkdirs(f: Path): Boolean =
    !FaultFs.hit("mkdirs", f) && super.mkdirs(f)

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    !FaultFs.hit("mkdirs", f) && super.mkdirs(f, permission)

  override def listStatus(f: Path): Array[FileStatus] = {
    FaultFs.throwIfFailing("list", f)
    super.listStatus(f)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : FSDataOutputStream = {
    FaultFs.throwIfFailing("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFs.throwIfFailing("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean =
    !FaultFs.hit("rename", dst) && super.rename(src, dst)

  override def delete(p: Path, recursive: Boolean): Boolean =
    !FaultFs.hit("delete", p) && super.delete(p, recursive)
}

object FaultFs {
  val scheme = "faultfs"
  private val uri = URI.create(s"$scheme:///")

  private val counts = new ConcurrentHashMap[(String, String), LongAdder]
  @volatile private var fault: Option[(String, scala.util.matching.Regex)] =
    None

  /** Register the scheme on the session's Hadoop configuration. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$scheme.impl", classOf[FaultFs].getName)

  /** A fresh directory under the temp dir, as a `faultfs` path. */
  def tmpDir(prefix: String): String =
    s"$scheme://" + java.nio.file.Files.createTempDirectory(prefix)

  /** Count one `op` on `p`; true when the op must fail. */
  private def hit(op: String, p: Path): Boolean = {
    val local = p.toUri.getPath
    counts.computeIfAbsent((op, local), _ => new LongAdder).increment()
    fault.exists { case (o, re) => o == op && re.findFirstIn(local).isDefined }
  }

  private def throwIfFailing(op: String, p: Path): Unit =
    if (hit(op, p))
      throw new java.io.IOException(s"injected $op failure at $p")

  /** How many times `op` ran on a path accepted by `select` (paths are
    * local, without the scheme) since the last [[reset]]. */
  def count(op: String)(select: String => Boolean): Long = {
    var n = 0L
    counts.forEach { (k, v) => if (k._1 == op && select(k._2)) n += v.sum }
    n
  }

  def reset(): Unit = counts.clear()

  /** Run `body` with every `op` on a path matching `pattern` failing. */
  def failing[T](op: String, pattern: String)(body: => T): T = {
    fault = Some((op, pattern.r))
    try body finally fault = None
  }
}
