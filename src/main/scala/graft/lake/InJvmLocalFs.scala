package graft.lake

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` FileSystem with its two forking primitives run
  * inside the JVM. Without the native `libhadoop`, RawLocalFileSystem forks
  * `chmod` for every file, `.crc` sidecar and directory it creates, and
  * `readlink` for every `getFileLinkStatus` — FileContext pays four of those
  * per rename. Each fork costs milliseconds on a JVM with a large heap, which
  * made them the bulk of a small micro-batch's fixed cost. Every other
  * method, and everything left on disk (bytes, checksums, mode bits), is
  * the parent's.
  */
class InJvmRawLocalFileSystem extends RawLocalFileSystem {
  /** `chmod` with the caller's bits, which its callers have already
    * umask-applied, as they do for the shell `chmod`. Cases whose result
    * could differ from the shell's go to the parent: bits beyond
    * owner/group/other rwx, a target that carries setuid/setgid (`chmod`
    * keeps a directory's), and a filesystem without POSIX attributes.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || // 0777
        !InJvmRawLocalFileSystem.chmod(pathToFile(p).toPath, mode))
      super.setPermission(p, permission)
  }

  /** A path that is not a symlink has the same link status as its plain
    * status (what the parent returns after its `readlink` fork); a real
    * symlink still goes to the parent.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object InJvmRawLocalFileSystem {
  /** Sets `mode` on `file` unless the file carries setuid/setgid (06000)
    * or its filesystem has no POSIX attributes; false = not done.
    */
  private def chmod(file: java.nio.file.Path, mode: Int): Boolean =
    try {
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Integer].intValue
      (current & 0xc00) == 0 && {
        Files.setPosixFilePermissions(file, posixBits(mode))
        true
      }
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException => false
    }

  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString("rwxrwxrwx".zipWithIndex.map { case (c, i) =>
      if ((mode & (0x100 >> i)) != 0) c else '-'
    }.mkString)
}

/** Hadoop's checksummed `file:` FileSystem (`LocalFileSystem`) over
  * [[InJvmRawLocalFileSystem]]. The engine binds it for its own local roots
  * (see [[TableIO.fileSystem]]).
  */
class InJvmLocalFileSystem extends LocalFileSystem(new InJvmRawLocalFileSystem)

/** The raw `file:` AbstractFileSystem over [[InJvmRawLocalFileSystem]],
  * built the way Hadoop builds its `RawLocalFs` (whose constructor is
  * package-private).
  */
class InJvmRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InJvmRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true

  /** An overwrite-rename of a plain file onto a plain file, or onto a free
    * name in an existing directory, is the raw FS's `rename`: ONE
    * `rename(2)`, which replaces the destination atomically. The inherited
    * default reads both link statuses, then DELETES the destination and
    * renames — a window with nothing at `dst` (for `snapshot.json`: no
    * table at all). Directories, symlinks, a missing source and the
    * no-overwrite case keep the default and its checks.
    */
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    def local(p: Path) = fsImpl.asInstanceOf[RawLocalFileSystem].pathToFile(p).toPath
    def plainFile(p: java.nio.file.Path) = Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS)
    val (s, d) = (local(src), local(dst))
    if (overwrite && src != dst && plainFile(s) && (plainFile(d) ||
        Files.notExists(d, LinkOption.NOFOLLOW_LINKS) && Files.isDirectory(d.getParent))) {
      if (!fsImpl.rename(src, dst)) throw new IOException(s"rename $src to $dst failed")
    } else super.renameInternal(src, dst, overwrite)
  }
}

/** Hadoop's checksummed `file:` AbstractFileSystem (`LocalFs`) over
  * [[InJvmRawLocalFs]]: what the engine's FileContext renames go through.
  */
class InJvmLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InJvmRawLocalFs(uri, conf))
