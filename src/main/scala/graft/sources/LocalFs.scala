package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process spawns.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` — which every create and mkdir calls — and
  * `readlink` for every `getFileLinkStatus`, which FileContext calls
  * on both sides of every rename: ~10 forks at ~3 ms each for every
  * streaming offset, commit or state file. This class makes the same
  * system calls in-process; everything else, the `.crc` sidecars and
  * rename atomicity included, is Hadoop's own code. `core-site.xml`
  * registers it for the `file` scheme on both API entry points. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) with the same bits. A mode NIO cannot express (the
    * sticky bit) keeps Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's declaration order is rwxrwxrwx, high bit first
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  /** lstat(2) instead of `readlink`: a path that is not a symlink gets
    * `getFileStatus`, which is what Hadoop returns when `readlink`
    * prints nothing; a real symlink keeps Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed FileSystem API (graftlines, parquet).
  * Without the key, the last `file` service registration on the
  * classpath wins; with Spark's jars that is hive-exec's
  * `ProxyLocalFileSystem`, a filter over Hadoop's `LocalFileSystem`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]], same overrides. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("deprecated in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext API
  * (Spark's checkpoint file manager, the HDFS-backed state store). Like
  * Hadoop's `LocalFs`, it ignores the URI: the local FS has one. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))
