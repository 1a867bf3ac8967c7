package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the metadata and data operations the
  * engine issues (opens, creates, renames, deletes, listings, status
  * probes, directory creations). Installed as the `file:` scheme in traced
  * runs only; the tracer attributes the counts to the innermost span. */
class CountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.ops.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.ops.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFileSystem.ops.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingFileSystem.ops.incrementAndGet(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.ops.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.ops.incrementAndGet(); super.getFileStatus(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingFileSystem.ops.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val ops = new AtomicLong
}
