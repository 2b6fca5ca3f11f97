package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system, checksums included, whose `setPermission`
  * does not fork a process. [[graft.GraftSession]] registers it for the
  * `file` scheme.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a child process, and a Parquet write calls it for
  * every directory and file it creates: the committer's setup, each
  * part file, `_SUCCESS` and each `.crc`, about 16 processes per small
  * table. Everything but `setPermission` is Hadoop's own.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` with `setPermission` through
  * `Files.setPosixFilePermissions`. A permission the nine rwx bits cannot
  * express (the sticky bit), or a platform without POSIX attributes,
  * goes to Hadoop's own implementation.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = Bits.collect { case (bit, perm) if (mode & bit) != 0 => perm }.toSet.asJava
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

object NioRawLocalFileSystem {
  /** Each rwx permission and its mode bit: owner read is 0400, others
    * execute 0001, in the enum's order. */
  private val Bits: Seq[(Int, PosixFilePermission)] =
    PosixFilePermission.values().toSeq.zipWithIndex.map { case (p, i) => (0x100 >> i) -> p }
}
