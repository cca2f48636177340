package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of every GraftSession: Hadoop's checksummed
  * LocalFileSystem (`.crc` files, and `FileSystem.getLocal`'s cast, keep
  * working) over a RawLocalFileSystem whose `setPermission` runs
  * in-process.
  *
  * Without the `libhadoop` native library, RawLocalFileSystem forks a
  * `chmod` process for every file create and every mkdirs — about 2.5 ms
  * each, and a micro-batch's checkpoint log entries and parquet write made
  * dozens of them. Here a mode within 0777 is set through
  * `Files.setPosixFilePermissions` (the same chmod(2), followed links and
  * all); a mode with the sticky, setuid or setgid bit takes Hadoop's own
  * path unchanged.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  /** The permission set of a mode within 0777. PosixFilePermission's
    * declaration order is owner rwx, group rwx, others rwx: mode bit 8
    * down to bit 0. */
  private def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (perm, i) if (mode & (1 << (8 - i))) != 0 => perm }.toSet.asJava

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixPermissions(mode))
    }
  }
}
