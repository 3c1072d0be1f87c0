package perfbench

import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `FileSystem` with call counters, installed as `fs.file.impl`
  * in traced runs only. Hadoop's own statistics count bytes on the local
  * file system but no operations, and metadata calls (status probes,
  * listings, creates, renames, deletes) are what the snapshot commit
  * protocol and the partition cache spend their time on. Streaming
  * checkpoints go through Hadoop's `FileContext` API and are not seen
  * here. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def getFileStatus(p: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(p, bufferSize)
  }
  override protected def openFileWithOptions(p: Path, params: OpenFileParameters)
      : CompletableFuture[FSDataInputStream] = {
    reads.incrementAndGet(); super.openFileWithOptions(p, params)
  }
  override def getFileBlockLocations(st: FileStatus, start: Long, len: Long) = {
    reads.incrementAndGet(); super.getFileBlockLocations(st, start, len)
  }
  override def listStatus(p: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(p) }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(p, recursive) }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(p, perm) }
}

object CountingLocalFs {
  /** Status probes, opens and block-location lookups. */
  val reads = new AtomicLong
  /** Directory listings (Hadoop counts these as large read ops). */
  val lists = new AtomicLong
  /** Creates, deletes, renames and mkdirs. */
  val writes = new AtomicLong
}
