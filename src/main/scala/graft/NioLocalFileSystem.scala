package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`file:`), with file modes set
  * in process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and a write calls it for every data file, every
  * `.crc` companion and every directory level it creates. Setting the
  * same mode through `java.nio` forks nothing. Checksums and every
  * other behaviour are the stock `LocalFileSystem`'s. Registered as
  * `fs.file.impl` by [[LocalDirs.configure]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets plain `rwx` modes
  * with `Files.setPosixFilePermissions` (same bits as the `chmod` it
  * replaces). A mode NIO cannot express (the sticky bit) goes to the
  * stock implementation. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
