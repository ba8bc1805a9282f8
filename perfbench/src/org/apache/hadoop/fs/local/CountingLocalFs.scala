package org.apache.hadoop.fs.local

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream,
  FSDataOutputStream, FileStatus, LocatedFileStatus, Options, Path,
  RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import perfbench.CountingFs._

/** The local `file` filesystem of Hadoop's FileContext API, counting
  * calls into the same counters as [[perfbench.CountingFs]]. Spark's
  * streaming offset and commit logs go through FileContext, which never
  * consults `fs.file.impl`; `conf/core-site.xml` installs this class as
  * `fs.AbstractFileSystem.file.impl`. (LocalFs's constructors are
  * package-private, hence this package.) */
final class CountingLocalFs(uri: URI, conf: Configuration)
    extends LocalFs(uri, conf) {

  override def listStatus(f: Path): Array[FileStatus] =
    counted(ListOp)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(ListOp)(super.listLocatedStatus(f))
  override def open(f: Path): FSDataInputStream =
    counted(OpenOp)(super.open(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(OpenOp)(super.open(f, bufferSize))
  override def createInternal(f: Path, flag: EnumSet[CreateFlag],
                              permission: FsPermission, bufferSize: Int,
                              replication: Short, blockSize: Long,
                              progress: Progressable,
                              checksumOpt: Options.ChecksumOpt,
                              createParent: Boolean): FSDataOutputStream =
    counted(CreateOp)(super.createInternal(f, flag, permission, bufferSize,
      replication, blockSize, progress, checksumOpt, createParent))
  override def renameInternal(src: Path, dst: Path): Unit =
    counted(RenameOp)(super.renameInternal(src, dst))
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    counted(RenameOp)(super.renameInternal(src, dst, overwrite))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(DeleteOp)(super.delete(f, recursive))
}
