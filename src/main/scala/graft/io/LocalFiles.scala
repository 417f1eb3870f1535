package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its process forks. With no
  * libhadoop on the machine, `RawLocalFileSystem` runs `chmod` for every
  * create and mkdir, and `readlink` for every link-status lookup: four per
  * FileContext rename, the way every streaming checkpoint log commits. A
  * fork costs about 2 ms; the same call through java.nio about 10 µs.
  * A symlink, a sticky bit or a filesystem without POSIX permissions goes
  * to Hadoop's own code. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if ((permission.toShort & ~0x1ff) != 0 ||
        Files.getFileAttributeView(path, classOf[PosixFileAttributeView]) == null)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed local filesystem (same `.crc`
  * files) over [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext twin the streaming
  * checkpoint logs use: Hadoop's `LocalFs` (a `ChecksumFs` over
  * `RawLocalFs`) with [[NoForkRawLocalFileSystem]] underneath. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
    // RawLocalFs's overrides
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
