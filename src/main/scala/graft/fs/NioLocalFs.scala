package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its shell-outs. Without
  * `libhadoop.so`, `RawLocalFileSystem` forks `chmod` for every file and
  * directory it creates, `ls -ld` for every status whose permission is
  * read, and `readlink` for every FileContext rename. Here `setPermission`
  * is one `chmod` syscall and a status is one `lstat` through the `unix`
  * attribute view (the `posix` view hides the sticky bit, which `ls -ld`
  * reports). Hadoop's own code still serves symlinks, a sticky bit to
  * set, and a platform without the `unix` view. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0x3ff
    if (!unixView || mode > 0x1ff) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(mode.toShort).toString))
  }

  override def getFileStatus(f: Path): FileStatus = status(f).getOrElse(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus = status(f).getOrElse(super.getFileLinkStatus(f))

  /** A directory's children each go through [[getFileStatus]]. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  /** The status of `f` from one `lstat`, or None when Hadoop's own call
    * should answer: `f` is a symlink, or the `lstat` failed other than
    * with ENOENT (a path under a plain file, ENOTDIR, is "does not exist"
    * there). */
  private def status(f: Path): Option[FileStatus] = if (!unixView) None else {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath, Attrs, LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist")
        case _: FileSystemException => return None
      }
    val mode = a.get("mode").asInstanceOf[Int]
    if ((mode & IfMt) == IfLnk) None
    else Some(new FileStatus(
      a.get("size").asInstanceOf[Long], (mode & IfMt) == IfDir, 1, getDefaultBlockSize(f),
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      new FsPermission((mode & 0x3ff).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[UserPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)))
  }
}

object NioRawLocalFileSystem {
  private val Attrs = "unix:mode,size,lastModifiedTime,lastAccessTime,owner,group"
  // st_mode file-type mask and the symlink and directory types (octal 0170000, 0120000, 0040000)
  private val IfMt = 0xf000
  private val IfLnk = 0xa000
  private val IfDir = 0x4000
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** `file:` for the `FileSystem` API: Hadoop's checksummed `LocalFileSystem`
  * over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file:` for FileContext: Hadoop's `LocalFs` (`ChecksumFs` over a raw
  * delegate), with [[NioRawLocalFileSystem]] as the delegate. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
