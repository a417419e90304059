package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files, LinkOption}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its permission and status calls
  * done in-process.
  *
  * Without Hadoop's native library, stock [[RawLocalFileSystem]] forks
  * `chmod` for every `setPermission` (so for every `create` and
  * `mkdirs` with a mode) and `ls -ld` / `readlink` for every permission
  * or link read; one streaming trigger's state-store and WAL commits
  * make dozens of these. The three overrides read and write the same
  * fields through java.nio's `unix` attribute view, one `stat` each,
  * whose `mode` carries the sticky bit too. On a platform without that
  * view they are stock. Streams, rename, delete and listing are
  * inherited, so files, modes and `.crc` files on disk are unchanged.
  * These classes are loaded by name from the Hadoop configuration
  * ([[GraftSession.withDefaults]]), hence top-level.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView) super.setPermission(p, permission)
    else Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Int.box(permission.toShort & ModeBits))

  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f) else status(f, attrs(f))

  /** Stock semantics: a symlink reports its target's fields, is not a
    * directory, and carries its qualified target; a dangling one reports
    * zeros and the default mode. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (!unixView) super.getFileLinkStatus(f)
    else {
      val a = attrs(f, LinkOption.NOFOLLOW_LINKS)
      if (!a.get("isSymbolicLink").asInstanceOf[Boolean]) status(f, a)
      else {
        val path = qualified(f)
        val target = FSLinkResolver.qualifySymlinkTarget(getUri, path,
          new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString))
        val t = try getFileStatus(f) catch {
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", null)
        }
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
          t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, path)
      }
    }

  /** One `stat` (`lstat` with NOFOLLOW_LINKS); like stock, any failure
    * to stat the path means it does not exist. */
  private def attrs(f: Path, opts: LinkOption*): java.util.Map[String, AnyRef] =
    try Files.readAttributes(pathToFile(f).toPath, Attrs, opts: _*)
    catch {
      case e: FileSystemException =>
        throw new FileNotFoundException(s"File $f does not exist").initCause(e)
    }

  private def status(f: Path, a: java.util.Map[String, AnyRef]): FileStatus =
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, getDefaultBlockSize(f),
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      new FsPermission((a.get("mode").asInstanceOf[Int] & ModeBits).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      qualified(f))

  private def qualified(f: Path): Path =
    new Path(pathToFile(f).getPath).makeQualified(getUri, getWorkingDirectory)
}

object NioRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  /** Sticky bit and rwx for user, group, other: octal 1777, what
    * `FsPermission` models. */
  private val ModeBits = 0x3ff
  private val Attrs =
    "unix:size,isDirectory,isSymbolicLink,lastModifiedTime,lastAccessTime,mode,owner,group"
}

/** `fs.file.impl`: Hadoop's checksummed local filesystem (`.crc` files
  * kept) over [[NioRawLocalFileSystem]]. It must stay a
  * [[LocalFileSystem]]: `FileSystem.getLocal` casts to that class. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** Hadoop's rename contract: an existing file is never replaced (the
    * rename returns false). Stock `LocalFileSystem` replaces it; the
    * class Spark's jars otherwise register for `file:`, Hive's
    * `ProxyLocalFileSystem`, has this same guard. */
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side, which
  * Spark's checkpoint WAL and HDFS-backed state store write through.
  * Hadoop's `LocalFs`, over [[NioRawLocalFileSystem]] instead of
  * `RawLocalFileSystem`; like `LocalFs` it ignores `uri` and serves
  * `file:///`.
  *
  * One change from `LocalFs`: `open(f)` verifies the `.crc` like
  * `open(f, bufferSize)`. `ChecksumFs` inherits the one-argument form
  * from `FilterFs`, which opens the raw file unchecked, and that is
  * the form Spark reads offset logs, commit logs and state-store files
  * with. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

/** Hadoop's `RawLocalFs` (whose constructors are package-private), with
  * its four overrides, delegating to [[NioRawLocalFileSystem]]. */
private[graft] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
