package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session (registered once, as
  * `fs.file.impl`, in [[graft.Tables.sessionConfs]]).
  *
  * It is Hadoop's checksummed `LocalFileSystem`, so `.crc` sidecars are
  * still written and still verified on read; only the raw layer below it
  * differs, in [[NioRawLocalFileSystem.setPermission]]. Without Hadoop's
  * native library the stock raw layer forks a `chmod` process for every
  * created file, every `.crc` sidecar and every directory; a parquet write
  * with `partitionBy` pays that once per file and once per directory. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets a plain `rwxrwxrwx` mode in-process.
  *
  * The result is the stock one, bit for bit. GNU `chmod 0755` keeps a
  * directory's setuid/setgid bits, which `setPosixFilePermissions` would
  * clear, and `setPosixFilePermissions` cannot set the sticky bit. So a
  * requested mode with a bit outside 0777, a path whose current mode has
  * one (e.g. a subdirectory of a setgid directory), or a store without
  * POSIX attributes takes the stock `chmod` path. Errors are the NIO ones, an
  * `IOException` naming the path (`NoSuchFileException` for a missing
  * one). */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~Rwx) != 0 || !setInProcess(pathToFile(p).toPath, mode))
      super.setPermission(p, permission)
  }

  /** false, having changed nothing, when the current mode has a special
    * bit or the store keeps no POSIX mode. */
  private def setInProcess(file: java.nio.file.Path, mode: Int): Boolean =
    try {
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (current & Special) == 0 && { Files.setPosixFilePermissions(file, posix(mode)); true }
    } catch { case _: UnsupportedOperationException => false }
}

object NioRawLocalFileSystem {
  private val Rwx = 0x1ff // 0777
  private val Special = 0xe00 // 07000: setuid, setgid, sticky

  /** `PosixFilePermission.values` is declared owner-read first, i.e. from
    * bit 8 of the mode down to bit 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(perm)
    }
    s
  }
}
