package graft

import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, with the two calls that start a child
  * process done in-process. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` runs `chmod` and
  * `getFileLinkStatus` runs `readlink`, ~5 ms of wall time each; a
  * streaming micro-batch makes ~35 of them (checkpoint temp-file
  * creates, metadata-log renames, checkpoint `mkdirs`, the parquet
  * writers). Here both are the same system calls made through
  * `java.nio.file`. Every case whose outcome those calls could make
  * differ from Hadoop's goes to Hadoop's own code: a symlink, the
  * sticky bit, a setuid/setgid bit already on the path (GNU `chmod`
  * keeps those on a directory, `chmod(2)` clears them), and a file
  * store without a POSIX view. Rename, delete, create and the checksum
  * files stay Hadoop's code. `GraftSession.recommendedConf` selects it
  * for `file:` through both of Hadoop's APIs: [[GraftLocalFileSystem]]
  * for `FileSystem`, [[GraftLocalFs]] for `FileContext`. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !plainMode(file)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, GraftRawLocalFileSystem.posix(permission))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** Not a symlink and no setuid/setgid bit, read with one `lstat`.
    * A path that cannot be read this way (missing, or a store without
    * the `unix` view) is left to Hadoop, so it fails as Hadoop does. */
  private def plainMode(file: java.nio.file.Path): Boolean =
    try {
      val a = Files.readAttributes(file, "unix:mode,isSymbolicLink",
        LinkOption.NOFOLLOW_LINKS)
      !a.get("isSymbolicLink").asInstanceOf[Boolean] &&
        (a.get("mode").asInstanceOf[Int] & GraftRawLocalFileSystem.SetIdBits) == 0
    } catch {
      case _: java.io.IOException | _: UnsupportedOperationException => false
    }
}

object GraftRawLocalFileSystem {
  private val SetIdBits = 0x0c00 // 06000: setuid, setgid

  /** The rwx bits of `permission`; `PosixFilePermission`'s order is
    * owner r,w,x, group r,w,x, others r,w,x, high bit first. */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (1 << (8 - i))) != 0 => p }.toSet.asJava
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]]. A subclass, not a `FilterFileSystem`,
  * because `FileSystem.getLocal` casts to `LocalFileSystem`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {

  /** `FileSystem.rename`'s contract: `false` onto an existing file.
    * `LocalFileSystem` replaces the file (`File.renameTo`); the class
    * Hadoop's service loader picks for `file:` with Spark's jars
    * (Hive's `ProxyLocalFileSystem`) refuses, and so does this one, so
    * `Publish` still fails loud on a rename onto a file. */
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** Hadoop's `RawLocalFs` (whose constructor is package-private) over
  * [[GraftRawLocalFileSystem]], with the same overrides. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side that
  * Spark's streaming checkpoint manager uses: Hadoop's `LocalFs`
  * (checksums over the raw delegate) over [[GraftRawLocalFs]]. Like
  * `LocalFs`, it ignores the URI it is given for `file:///`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
