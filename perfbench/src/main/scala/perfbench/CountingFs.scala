package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` file system with a count per kind of metadata call.
  * Traced runs install it as `fs.file.impl`, so every Hadoop call the
  * engine makes on local paths (the lake's listings, commits, renames and
  * deletes) is counted without touching engine code. Untraced runs use the
  * stock `LocalFileSystem`.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    nList.incrementAndGet(); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    nList.incrementAndGet(); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    nList.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    nStatus.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    nCreate.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    nCreate.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    nRename.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    nDelete.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFs {
  val nList, nStatus, nCreate, nRename, nDelete = new AtomicLong

  /** (list, create, rename, delete, status) call counts so far. */
  def snapshot(): Seq[Long] =
    Seq(nList, nCreate, nRename, nDelete, nStatus).map(_.get)

  /** Bytes written through any `file:` file system so far. */
  def bytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}
