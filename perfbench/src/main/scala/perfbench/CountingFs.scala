package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting metadata and data operations as the
  * engine issues them. Traced runs install it as `fs.file.impl`; Hadoop's
  * own statistics do not count local listings and status calls. The
  * streaming checkpoint goes through `FileContext` and is not counted. */
class CountingFs extends LocalFileSystem {
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.reads.incrementAndGet(); super.open(p, bufferSize)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.reads.incrementAndGet(); super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    CountingFs.reads.incrementAndGet(); super.getFileStatus(p)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFs.writes.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CountingFs.writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    CountingFs.writes.incrementAndGet(); super.mkdirs(p)
  }
}

object CountingFs {
  val reads = new AtomicLong
  val writes = new AtomicLong
}
