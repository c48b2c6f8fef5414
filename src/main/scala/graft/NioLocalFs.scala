package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption}
import java.nio.file.attribute.{FileTime, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without shell processes. Without the
  * `libhadoop` native library, Hadoop starts a `chmod` process for every
  * `setPermission` and `readlink` plus `ls -ld` for every
  * `getFileLinkStatus` — that is, for every file create, every mkdir and
  * every FileContext rename, so for every checkpoint log, state-store and
  * durable-store file. These two calls go through `java.nio` here (one
  * `chmod(2)`, one `lstat(2)`); the rare cases Hadoop's own code models
  * differently (setuid/setgid/sticky modes, symlinks) still take it. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~NioRawLocalFileSystem.RwxBits) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))

  /** Field for field what Hadoop's status for a regular file or directory
    * reports (length, directory flag, block size, times, mode including the
    * sticky bit, owner, group, qualified path), read with one `lstat`. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath, NioRawLocalFileSystem.Attrs,
        LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    if (a.get("isSymbolicLink") == java.lang.Boolean.TRUE) super.getFileLinkStatus(f)
    else new FileStatus(
      a.get("size").asInstanceOf[java.lang.Long],
      a.get("isDirectory") == java.lang.Boolean.TRUE,
      1, getDefaultBlockSize(f),
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      new FsPermission((a.get("mode").asInstanceOf[Integer] &
        NioRawLocalFileSystem.ModeBits).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[UserPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }
}

object NioRawLocalFileSystem {
  private val RwxBits = 0x1ff // 0777
  private val ModeBits = 0x3ff // 01777: what Hadoop's FsPermission keeps
  private val Attrs =
    "unix:mode,size,isDirectory,isSymbolicLink,lastModifiedTime,lastAccessTime,owner,group"
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (`.crc`
  * sidecars written and verified) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's FileContext `LocalFs`
  * (a `ChecksumFs`) with the raw layer swapped for [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf, new NioRawLocalFileSystem))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with one fix:
  * a file renamed with OVERWRITE onto an existing file replaces it with
  * one `rename(2)`. The inherited version deletes the destination first,
  * so a reader can find it missing (`MaintenanceLease`'s atomic renewal
  * relies on it never being missing). Every other case (a directory, a
  * symlink, a missing destination, a path onto itself) keeps the
  * inherited checks. */
class NioRawLocalFs(uri: URI, conf: Configuration, raw: NioRawLocalFileSystem)
    extends DelegateToFileSystem(uri, raw, conf, "file", false) {

  override def getUriDefaultPort(): Int = -1

  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true

  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    val s = raw.pathToFile(src).toPath
    val d = raw.pathToFile(dst).toPath
    if (overwrite && s != d && Files.isRegularFile(s, LinkOption.NOFOLLOW_LINKS) &&
        Files.isRegularFile(d, LinkOption.NOFOLLOW_LINKS))
      Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
    else super.renameInternal(src, dst, overwrite)
  }
}
