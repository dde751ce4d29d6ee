package perfbench

import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Filesystem operation counts of the traced run. Hadoop's local
  * filesystem counts bytes but not operations in its statistics, so the
  * traced run installs this counting local filesystem for `file:` paths
  * (`spark.hadoop.fs.file.impl`). */
object FsOps {
  val reads = new LongAdder  // open, getFileStatus
  val lists = new LongAdder  // listStatus
  val writes = new LongAdder // create, mkdirs, rename, delete
}

final class CountingRawLocalFileSystem extends RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsOps.reads.increment(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsOps.reads.increment(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsOps.lists.increment(); super.listStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsOps.writes.increment()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsOps.writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsOps.writes.increment(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsOps.writes.increment(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FsOps.writes.increment(); super.delete(p, recursive)
  }
}

final class CountingLocalFileSystem
    extends LocalFileSystem(new CountingRawLocalFileSystem)
