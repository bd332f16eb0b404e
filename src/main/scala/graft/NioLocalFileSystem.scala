package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem [[GraftSession]] installs: Hadoop's
  * checksummed `LocalFileSystem` over a raw local FileSystem whose
  * `setPermission` sets the nine rwx bits through `java.nio` instead
  * of forking `chmod`. Without `libhadoop` the stock raw FileSystem
  * forks one `chmod` per file and directory it creates, the `.crc`
  * sidecar included (costs and the safety argument: see GraftSession).
  *
  * Everything else is the stock class: `ChecksumFileSystem` still
  * writes and verifies the `.crc` sidecars, and the mode set is the
  * one the stock class would have passed to `chmod`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  // declaration order: owner rwx, group rwx, others rwx — bit 0400 down to 0001
  private val Rwx = PosixFilePermission.values.toIndexedSeq

  /** The nine rwx bits of `mode` as a nio permission set. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- 0 until 9 if (mode & (0x100 >> i)) != 0) s.add(Rwx(i))
    s
  }

  /** `RawLocalFileSystem` with a fork-free `setPermission`. A mode
    * with bits above 0777 (the sticky bit) and a filesystem without
    * POSIX attributes take the stock path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode)): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
