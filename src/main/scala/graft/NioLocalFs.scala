package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.FileTime
import java.security.Principal
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its permission and status calls
  * on java.nio. Without libhadoop (Spark ships without it) the stock
  * class launches a `chmod` process for every permission it sets (each
  * create and mkdir routes its permission through `setPermission`) and
  * `ls -ld`/`readlink` processes for every permission or link status
  * it reads: ~3 ms a launch, 25-40 ms for one checkpoint create+rename.
  *
  * A status here is built from one stat call and carries, up front,
  * what the stock status reports: `File.length()` (directories too),
  * the same times and qualified path, and the `ls -ld` permission
  * (sticky bit included, from the unix view's mode), owner and group.
  * Missing paths and paths under a regular file raise
  * FileNotFoundException, as the stock class does. A permission is set
  * through the unix view's mode, one native chmod with the sticky bit
  * included. Only a file store without a unix attribute view keeps the
  * stock calls. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  // Raw's status reads its block size once too, not per call: the
  // cached FileSystem and its conf are shared by every task thread
  private lazy val blockSize = getDefaultBlockSize(new Path(getUri))

  override def setPermission(p: Path, permission: FsPermission): Unit =
    try Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(permission.toShort & ModeBits))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileStatus(f: Path): FileStatus =
    try {
      val file = pathToFile(f)
      status(stat(file, follow = true).getOrElse(throw notFound(f)), file)
    } catch { case _: UnsupportedOperationException => super.getFileStatus(f) }

  /** A symlink's status is its target's, marked as a file and carrying
    * the link target qualified against the link's directory; a dangling
    * link gets the stock placeholder status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    try {
      val file = pathToFile(f)
      val own = stat(file, follow = false).getOrElse(throw notFound(f))
      if (!own.link) status(own, file)
      else {
        val target = new Path(Files.readSymbolicLink(file.toPath).toString)
        val st = stat(file, follow = true) match {
          case Some(s) => new FileStatus(s.len, false, 1, blockSize,
            s.mtime, s.atime, s.perm, s.owner, s.group, target, f)
          case None => new FileStatus(0, false, 0, 0, 0, 0,
            FsPermission.getDefault, "", "", target, f)
        }
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
        st
      }
    } catch { case _: UnsupportedOperationException => super.getFileLinkStatus(f) }

  private def status(s: Stat, file: File): FileStatus =
    new FileStatus(s.len, s.dir, 1, blockSize, s.mtime, s.atime, s.perm,
      s.owner, s.group, new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
}

private object NioRawLocalFileSystem {
  final case class Stat(len: Long, dir: Boolean, link: Boolean, mtime: Long,
      atime: Long, perm: FsPermission, owner: String, group: String)

  // 0x3ff = 01777: the nine permission bits and the sticky bit
  val ModeBits = 0x3ff

  private val Attrs =
    "unix:size,isDirectory,isSymbolicLink,lastModifiedTime,lastAccessTime,mode,uid,gid"

  // uid/gid -> name as `ls -ld` prints it. Resolving a name reads the
  // user or group database, which costs more than the stat itself, so
  // names are cached by id, as Hadoop's native stat caches them.
  private val users, groups = new ConcurrentHashMap[Int, String]()

  /** None when the path does not resolve: missing, under a regular file,
    * a link loop or unreadable, which is when `File.exists` is false. */
  def stat(file: File, follow: Boolean): Option[Stat] = try {
    val opts = if (follow) Nil else Seq(LinkOption.NOFOLLOW_LINKS)
    val a = Files.readAttributes(file.toPath, Attrs, opts: _*)
    def ms(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def is(k: String) = a.get(k).asInstanceOf[Boolean]
    def name(names: ConcurrentHashMap[Int, String], id: String, attr: String) =
      names.computeIfAbsent(a.get(id).asInstanceOf[Int], _ =>
        Files.getAttribute(file.toPath, attr, opts: _*).asInstanceOf[Principal].getName)
    Some(Stat(a.get("size").asInstanceOf[Long], is("isDirectory"),
      is("isSymbolicLink"), ms("lastModifiedTime"), ms("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & ModeBits).toShort),
      name(users, "uid", "posix:owner"), name(groups, "gid", "posix:group")))
  } catch { case _: FileSystemException => None }

  def notFound(f: Path) = new FileNotFoundException(s"File $f does not exist")
}

/** Hadoop's checksummed local filesystem for the FileSystem API
  * (parquet and text scans and writes, file-source listing) over
  * [[NioRawLocalFileSystem]]; [[GraftSession]] registers it. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's checksummed local filesystem for the FileContext API over
  * [[NioRawLocalFileSystem]]; [[GraftSession]] registers it. Spark's
  * checkpoint manager writes through this API: offset and commit logs,
  * state changelogs, RocksDB uploads. */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's RawLocalFs with the raw filesystem swapped. */
private[graft] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they take; the OS decides
  override def isValidName(src: String): Boolean = true
}
