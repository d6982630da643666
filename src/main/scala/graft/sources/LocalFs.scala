package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with two methods moved from a child
  * process to a syscall.
  *
  * Without libhadoop (`NativeIO.isAvailable` false), the stock
  * `RawLocalFileSystem` forks `chmod` for every file or directory it
  * creates with a permission (`setPermission`) and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls several times
  * per atomic rename: about 10 processes per checkpoint file a
  * streaming trigger writes (offset and commit logs, state changelogs
  * and snapshots). This subclass makes the same calls through
  * `java.nio.file`:
  *  - `setPermission` sets the 9 rwx bits with
  *    `Files.setPosixFilePermissions` (following links, as `chmod`
  *    does); a permission with any higher bit (sticky), which NIO
  *    cannot set, takes the stock path.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what the stock code returns after an
  *    empty `readlink`; a symlink takes the stock path.
  *
  * Checksums, rename atomicity and the permission bits on disk are
  * unchanged. `core-site.xml` (in this program's resources, loaded by
  * every Hadoop `Configuration`) binds the `file:` scheme to
  * [[NioLocalFileSystem]] (`FileSystem` API) and [[NioLocalFs]]
  * (`FileContext` API), the two wrappers Hadoop resolves by scheme. */
class RawNioFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` over
  * [[RawNioFileSystem]], as `LocalFileSystem` is over
  * `RawLocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new RawNioFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed local
  * `AbstractFileSystem` (`FileContext` API) over [[RawNioFileSystem]],
  * as Hadoop's `LocalFs` is over `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawNioFs(uri, conf))

/** Hadoop's `RawLocalFs` with [[RawNioFileSystem]] underneath; the
  * overrides are `RawLocalFs`'s own. */
class RawNioFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawNioFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
