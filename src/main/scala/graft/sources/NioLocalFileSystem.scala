package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's checksummed
  * [[LocalFileSystem]] over [[NioRawLocalFileSystem]].
  * [[graft.GraftSession.build]] installs it as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local filesystem, with permissions set through
  * `java.nio` instead of a forked process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a child process, and a write calls it for every
  * `_temporary` directory, part file, `.crc` and `_SUCCESS` it makes:
  * about 3 ms a file against microseconds here. The mode bits set are
  * the same; like the native library's chmod(2), this sets exactly the
  * given mode. A sticky bit (which `PosixFilePermission` cannot carry)
  * or a filesystem with no POSIX attribute view goes to `super`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort.toInt
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ … OTHERS_EXECUTE: mode bits 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (1 << (8 - i))) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
}
