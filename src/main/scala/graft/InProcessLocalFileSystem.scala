package graft

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system (same `.crc` sidecars, same
  * on-disk layout) over [[InProcessLocalFileSystem.Raw]], which sets
  * permission bits without forking.
  *
  * Without native Hadoop IO, `RawLocalFileSystem.setPermission` runs a
  * `chmod` process, and every `create` calls it: twice per
  * `LocalFileSystem` file (the data file and its `.crc`). Each
  * checkpoint log entry, `mkdirs` and DLQ parquet file paid that, about
  * 3 ms per fork; `create` + `close` of a 1-byte file measured 4.1–4.6
  * ms with the stock class and 0.11–0.12 ms with this one (4-core
  * host, 400 files, best of 3).
  * [[GraftSession.tune]] installs it as `fs.file.impl`. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessLocalFileSystem.Raw)

object InProcessLocalFileSystem {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode` as NIO permissions. `values` runs
    * OWNER_READ … OTHERS_EXECUTE, i.e. from mode bit 8 down to bit 0. */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }

  /** `RawLocalFileSystem` whose `setPermission` writes a plain rwx mode
    * with `Files.setPosixFilePermissions`, the same `chmod(2)` the
    * forked command makes. A mode NIO cannot express (the sticky bit)
    * and a platform without POSIX attributes keep the stock path. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, permissions(mode))
    }
  }
}
