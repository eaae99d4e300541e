package graft.source

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its per-file shell processes.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` starts a `chmod`
  * process for every permission it sets (each create and mkdir) and a
  * `readlink` process for every link-status lookup (on both sides of each
  * FileContext rename: every streaming offset, commit and state file, and
  * its checksum file). Both calls go through `java.nio` here instead. A
  * sticky bit and a real symbolic link keep Hadoop's own path, so their
  * semantics are unchanged.
  *
  * `GraftSession` registers it for both Hadoop entry points: this class for
  * `FileSystem` (parquet writes, mkdirs, RocksDB uploads) and
  * [[LocalFs.Context]] for `FileContext` (Spark's default streaming
  * checkpoint manager).
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `FileContext` pair, mirroring Hadoop's `local.RawLocalFs` and
    * `local.LocalFs` (whose constructors are package-private) over [[Raw]].
    * Hadoop instantiates [[Context]] through its `(URI, Configuration)`
    * constructor; as in `local.LocalFs`, the URI is always `file:///`. */
  class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))
}
