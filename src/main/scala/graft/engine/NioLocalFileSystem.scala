package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/**
 * Hadoop's raw local filesystem with a fork-free `setPermission`.
 *
 * Without the native `libhadoop`, `RawLocalFileSystem.setPermission` runs
 * `chmod <mode> <path>` in a child process, and Hadoop calls it for every
 * file, `.crc` file and directory level a write creates — about two dozen
 * forks per crawl generation, on the commit path. This sets the same
 * permission bits through `java.nio` (one chmod(2) call, no process).
 *
 * It defers to Hadoop's own path whenever the result could differ:
 *  - native IO is available (Hadoop then makes the syscall itself);
 *  - the sticky bit is requested (`PosixFilePermission` cannot express it);
 *  - the target already carries setuid, setgid or sticky bits (GNU `chmod`
 *    with a four-digit octal mode keeps a directory's setuid/setgid bits,
 *    chmod(2) clears them — a directory created under a setgid parent
 *    inherits that bit);
 *  - the store has no `unix` attribute view (not a POSIX filesystem).
 */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (NativeIO.isAvailable || permission.getStickyBit || !plainMode(f))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
  }

  /** `f` has none of the setuid, setgid and sticky bits (octal 7000), on a
    * store with a `unix` attribute view. */
  private def plainMode(f: java.nio.file.Path): Boolean =
    try (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
    catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
}

/** The checksummed `file:` filesystem (`.crc` files, as Hadoop's stock
  * [[LocalFileSystem]]) over [[NioRawLocalFileSystem]]. Named by class in
  * [[Checkpoint.writeOptions]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
