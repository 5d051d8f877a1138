package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with per-call counters. Hadoop's statistics
  * for the `file` scheme count bytes but not operations, so traced runs
  * install this as `fs.file.impl` (a Hadoop deployment setting) to count
  * opens, creates, renames, deletes and listings. Untraced runs use the
  * stock file system. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    if (f.getName.endsWith(".parquet")) dataOpens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] = {
    lists.incrementAndGet()
    super.globStatus(p, filter)
  }
}

object CountingFs {
  val opens = new AtomicLong
  val dataOpens = new AtomicLong
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val lists = new AtomicLong

  def snapshot(): Map[String, Long] = Map(
    "open" -> opens.get, "data_open" -> dataOpens.get,
    "create" -> creates.get, "rename" -> renames.get,
    "delete" -> deletes.get, "list" -> lists.get)
}
