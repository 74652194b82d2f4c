package graft.sources

import java.io.{DataOutput, File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal,
  PosixFileAttributeView, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FileSystem, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with every permission, owner and symlink
  * operation done in-process through `java.nio.file`.
  *
  * Without Hadoop's native library (`libhadoop`) the stock
  * `RawLocalFileSystem` forks a shell command for each of them: `chmod` for
  * every file or directory it creates with a permission, `ls -ld` the first
  * time a status's permission, owner or group is read, and `readlink` for
  * every link status (four per `FileContext` rename). Every Spark file
  * write, the streaming offset/commit/metadata logs and the engine's own
  * sinks go through those calls. Measured on a 4-core host in a JVM
  * holding an 800 MB live heap: a checksummed create + close of a one-byte
  * file takes 3.0-3.1 ms over the stock class and 0.11-0.13 ms over this
  * one, a `FileContext` create + rename 13.1-13.3 ms against 0.24-0.25 ms,
  * and starting `true` alone 1.2 ms.
  *
  * Results match the stock class (LocalFileSystemsSpec holds the two side
  * by side): a status takes length, directory flag and mtime from
  * `java.io.File` and loads permission, owner and group lazily, in one
  * attribute read that follows symlinks (stock runs `ls -ld` on the
  * canonical path) through the `unix` view (`PosixFileAttributes` has no
  * sticky bit). A link's own status reads its target with
  * `Files.readSymbolicLink`; unlike stock, that also holds for a qualified
  * `file:` path, whose URI string stock hands to `readlink` and so never
  * reports a link (the `FileContext` path always qualifies).
  *
  * The binding is the classpath `core-site.xml` (`fs.file.impl` for
  * [[GraftLocalFileSystem]], `fs.AbstractFileSystem.file.impl` for
  * [[GraftLocalFs]]); no caller names these classes. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  /** `chmod` with stock's 4-digit octal mode: every bit an `FsPermission`
    * holds (rwx and sticky) is written, and a directory keeps its setuid
    * and setgid bits, as chmod(1) keeps them. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    orNotFound(p) {
      val file = pathToFile(p).toPath
      val now = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val kept = if ((now & 0xf000) == 0x4000) now & 0xc00 else 0
      Files.setAttribute(file, "unix:mode", Int.box(kept | permission.toShort))
    }

  override def setOwner(p: Path, username: String, groupname: String): Unit = {
    if (username == null && groupname == null)
      throw new IOException("username == null && groupname == null")
    val file = pathToFile(p).toPath
    val lookup = file.getFileSystem.getUserPrincipalLookupService
    val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
    orNotFound(p) {
      if (username != null) view.setOwner(lookup.lookupPrincipalByName(username))
      if (groupname != null)
        view.setGroup(lookup.lookupPrincipalByGroupName(groupname))
    }
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    if (!file.exists()) throw new FileNotFoundException(s"File $f does not exist")
    new GraftLocalFileStatus(file, blockSize, this)
  }

  /** Stock lists a directory through `getFileStatus`; only a plain file's
    * own listing builds the forking status directly. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (file.exists() && !file.isDirectory)
      Array(new GraftLocalFileStatus(file, blockSize, this))
    else super.listStatus(f)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath,
        fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Stock's link status: a link reports its target's length, mtime,
    * permission and owner, and the unqualified path it was asked for; a
    * dangling link reports zeros. */
  private def linkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    val target =
      if (Files.isSymbolicLink(link))
        Some(new Path(Files.readSymbolicLink(link).toString))
      else None
    try {
      val st = getFileStatus(f)
      target.fold(st)(t => new FileStatus(st.getLen, false, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        st.getPermission, st.getOwner, st.getGroup, t, f))
    } catch {
      case e: FileNotFoundException => target match {
        case Some(t) => new FileStatus(0, false, 0, 0, 0, 0,
          FsPermission.getDefault, "", "", t, f)
        case None => throw e
      }
    }
  }

  private def orNotFound[T](p: Path)(body: => T): T =
    try body catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist")
    }
}

/** A local file's status whose permission, owner and group are read on
  * first use, as stock's `DeprecatedRawLocalFileStatus` does, but without
  * a child process. An empty owner means "not loaded yet". */
private[sources] final class GraftLocalFileStatus(file: File, blockSize: Long,
    fs: FileSystem) extends FileStatus(file.length(), file.isDirectory, 1,
    blockSize, file.lastModified(), GraftLocalFileStatus.accessTime(file),
    null, null, null,
    new Path(file.getPath).makeQualified(fs.getUri, fs.getWorkingDirectory)) {

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
  override def write(out: DataOutput): Unit = { load(); super.write(out) }

  private def load(): Unit = if (super.getOwner.isEmpty) {
    try {
      val a = Files.readAttributes(file.toPath, "unix:mode,owner,group")
      val mode = a.get("mode").asInstanceOf[Int]
      // rwx for user, group and other plus the sticky bit: what stock
      // parses out of `ls -ld` (setuid/setgid show only as an exec bit)
      setPermission(new FsPermission((mode & 0x3ff).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
    } catch {
      case _: NoSuchFileException => // deleted since listed: stock's defaults
        setPermission(null); setOwner(null); setGroup(null)
    }
  }
}

private[sources] object GraftLocalFileStatus {
  def accessTime(f: File): Long =
    try Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
      .lastAccessTime.toMillis
    catch {
      case _: IOException => throw new FileNotFoundException(s"File $f does not exist")
    }
}

/** `fs.file.impl`: Hadoop's checksummed local filesystem (`.crc` sidecars
  * handled by Hadoop's own `ChecksumFileSystem`) over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {

  /** Refuses an existing destination file (returns false) as HDFS does.
    * Without this binding the `file` scheme resolved, through Hadoop's
    * service registry, to hive-exec's `ProxyLocalFileSystem`, which adds
    * exactly this to `LocalFileSystem`; the engine's commit renames
    * (KvTextSource, SnapshotStreamingSink) treat a false rename as a lost
    * commit, so the refusal stays. */
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` binding Spark's
  * streaming checkpoint log writes through: Hadoop's `LocalFs` shape, a
  * `ChecksumFs` over a `DelegateToFileSystem` of
  * [[GraftRawLocalFileSystem]]. Like `LocalFs` it ignores the URI it is
  * given and serves `file:///`. */
class GraftLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]]. */
private[sources] class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
