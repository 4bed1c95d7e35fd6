package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session (registered once, as
  * `fs.file.impl`, in [[graft.Tables.sessionConfs]]).
  *
  * It is Hadoop's checksummed `LocalFileSystem`, so `.crc` sidecars are
  * still written and still verified on read; only the raw layer below it
  * differs, in [[NioRawLocalFileSystem.setPermission]] and
  * [[NioRawLocalFileSystem.getFileLinkStatus]]. Without Hadoop's native
  * library the stock raw layer forks a `chmod` process for every created
  * file, every `.crc` sidecar and every directory (a parquet write with
  * `partitionBy` pays that once per file and once per directory), and a
  * `readlink` process for every link-status lookup, which streaming
  * checkpoints make through `FileContext`. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The same filesystem for Hadoop's `FileContext` API, which streaming
  * state and checkpoints are written through (registered as
  * `fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` and `RawLocalFs`
  * over [[NioRawLocalFileSystem]]. Both bind `file:///`, as the stock ones. */
final class NioLocalFs(uri: java.net.URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

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

  /** The stock link status, with the link read by NIO instead of a forked
    * `readlink` (`FileUtil.readLink`). As in the stock code the link is
    * read at `new File(f.toString)`, so a scheme-qualified path never reads
    * as a link and gets the status of what it points at. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new java.io.File(f.toString).toPath
    val target = if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
    val st =
      try {
        val s = getFileStatus(f)
        if (target.isEmpty) s
        else new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup,
          new Path(target), f)
      } catch {
        // a dangling link: the stock status of a link whose target is gone
        case _: java.io.FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
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
