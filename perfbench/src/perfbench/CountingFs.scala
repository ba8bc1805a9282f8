package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}

/** The local `file` filesystem with call counters: registered for the
  * benchmark JVM through `conf/core-site.xml` (`fs.file.impl`), so every
  * Hadoop FileSystem client in the process, Spark's and graft's alike,
  * goes through it. Clients of the FileContext API (Spark's streaming
  * checkpoint logs) go through its twin,
  * `org.apache.hadoop.fs.local.CountingLocalFs`, into the same counters.
  * Only the outermost call of a nested chain counts (a
  * `listLocatedStatus` that lists through `listStatus` is one list op).
  * Bytes come from Hadoop's own per-scheme statistics, see [[FsStats]]. */
final class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(f: Path): Array[FileStatus] =
    counted(ListOp)(super.listStatus(f))
  override def listLocatedStatus(f: Path) =
    counted(ListOp)(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path) =
    counted(ListOp)(super.listStatusIterator(f))
  override def open(f: Path, bufferSize: Int) =
    counted(OpenOp)(super.open(f, bufferSize))
  override def create(f: Path,
                      permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) =
    counted(CreateOp)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted(RenameOp)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(DeleteOp)(super.delete(f, recursive))
}

object CountingFs {
  val ListOp = 0
  val OpenOp = 1
  val CreateOp = 2
  val RenameOp = 3
  val DeleteOp = 4
  val Names: Seq[String] = Seq("list", "open", "create", "rename", "delete")

  private val ops = new AtomicLongArray(Names.length)
  private val depth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }

  def counted[A](kind: Int)(body: => A): A = {
    val d = depth.get()
    if (d(0) == 0) ops.incrementAndGet(kind)
    d(0) += 1
    try body finally d(0) -= 1
  }

  /** Calls so far, by kind, in [[Names]] order. */
  def snapshot(): Array[Long] = Array.tabulate(Names.length)(ops.get)
}

/** Process-wide filesystem counters: call counts from [[CountingFs]] plus
  * the bytes Hadoop's statistics saw read and written under `file`
  * (these include checksum side files, i.e. what reaches the disk). */
object FsStats {
  final case class Snap(ops: Array[Long], readBytes: Long, writeBytes: Long) {
    def -(o: Snap): Snap = Snap(ops.zip(o.ops).map { case (a, b) => a - b },
      readBytes - o.readBytes, writeBytes - o.writeBytes)
    def +(o: Snap): Snap = Snap(ops.zip(o.ops).map { case (a, b) => a + b },
      readBytes + o.readBytes, writeBytes + o.writeBytes)
    def totalOps: Long = ops.sum
  }
  val Zero: Snap = Snap(Array.fill(CountingFs.Names.length)(0L), 0L, 0L)

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    import scala.jdk.CollectionConverters._
    val file = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Snap(CountingFs.snapshot(), file.map(_.getBytesRead).sum,
      file.map(_.getBytesWritten).sum)
  }
}
