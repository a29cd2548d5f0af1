package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files, Path => JPath}
import java.nio.file.attribute.FileTime
import java.security.Principal
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the shell-outs.
  *
  * Without libhadoop, stock `RawLocalFileSystem` starts a process for
  * every `setPermission` (`chmod`), every `getFileLinkStatus`
  * (`readlink`, twice per FileContext rename) and the first permission
  * read of every status (`ls -ld`).  Every file a session writes pays
  * for them: parquet part files, committer and Hive warehouse dirs,
  * streaming offset/commit logs and state-store deltas.  This class
  * does the same three things through `java.nio.file`:
  *
  *  - `setPermission` writes the mode, sticky bit included, through
  *    the `unix:mode` attribute (one `chmod(2)` call);
  *  - `getFileLinkStatus` answers a non-link with `getFileStatus` and
  *    hands a real symlink to the stock code;
  *  - `getFileStatus`/`listStatus` read the mode, uid and gid with the
  *    size and times in one `stat` (owner and group names are looked
  *    up once per id).
  *
  * Everything else is the stock class: create/open/rename/delete, the
  * umask applied before `setPermission`, and the atomic rename.  On a
  * JVM without the `unix` attribute view, permissions and statuses
  * come from the stock code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView) super.setPermission(p, permission)
    else Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0x3ff))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f)
    else try {
      val file = pathToFile(f)
      val p = file.toPath
      val a = Files.readAttributes(p, statAttrs)
      def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      new FileStatus(
        a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
        1, getDefaultBlockSize(f), time("lastModifiedTime"), time("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
        name(owners, a.get("uid"), p, "posix:owner"),
        name(groups, a.get("gid"), p, "posix:group"),
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    } catch {
      // as with the stock `File.exists` check, ENOENT, ENOTDIR and
      // EACCES all mean "does not exist"
      case _: FileSystemException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }

  // a directory's children already go through getFileStatus; the stock
  // code gives a plain file a lazily forking status of its own
  override def listStatus(f: Path): Array[FileStatus] =
    if (unixView && pathToFile(f).isFile) Array(getFileStatus(f))
    else super.listStatus(f)
}

object NioRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val statAttrs = "unix:mode,uid,gid,size,isDirectory,lastModifiedTime,lastAccessTime"

  // uid/gid -> name, looked up once: the lookup costs several stats
  private val owners, groups = new ConcurrentHashMap[Integer, String]
  private def name(names: ConcurrentHashMap[Integer, String], id: AnyRef, p: JPath,
      attr: String): String =
    names.computeIfAbsent(id.asInstanceOf[Integer],
      _ => Files.getAttribute(p, attr).asInstanceOf[Principal].getName)
}

/** `fs.file.impl`: stock checksummed `LocalFileSystem` (`.crc` files
  * and all) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's raw local FS over [[NioRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs`, whose constructor hard-wires the stock class. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the stock `ChecksumFs` shape of
  * Hadoop's `LocalFs`, over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
