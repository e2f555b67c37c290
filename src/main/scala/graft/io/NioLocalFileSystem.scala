package graft.io

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local (`file:`) filesystem with an in-process `chmod`.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process, and it is called for every file
  * created (twice with the `.crc` sidecar) and every directory made: one
  * process start, about 5 ms, per created file or directory. This
  * filesystem applies the same mode with `Files.setPosixFilePermissions`
  * instead. Layout, modes, checksums and every other call are Hadoop's.
  * It defers to Hadoop's own `setPermission` when native IO is loaded
  * (already in-process), when the filesystem is not POSIX, and when the
  * requested or the current mode carries a setuid, setgid or sticky bit,
  * which the NIO permission set cannot express (`chmod 0755` keeps a
  * directory's setgid bit; NIO would clear it).
  *
  * [[graft.GraftSession.builder]] registers it as `fs.file.impl`. Hadoop's
  * `FileSystem` cache keeps the first `file:` instance a JVM creates, so
  * the setting applies only when the session is built before any other
  * `file:` FileSystem is.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The session setting that registers this filesystem for `file:`. */
  val ConfKey = "spark.hadoop.fs.file.impl"
  val ClassName: String = classOf[NioLocalFileSystem].getName

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = permission.toShort & 0x0fff
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0 ||
          currentMode(file).forall(m => (m & ~0x1ff) != 0))
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, permissions(mode))
    }
  }

  /** The file's `st_mode` permission bits, or None off POSIX. */
  private def currentMode(file: JPath): Option[Int] =
    try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0x0fff)
    catch { case _: UnsupportedOperationException => None }

  /** `PosixFilePermission` lists owner, group and others' read, write and
    * execute in mode-bit order, from 0400 down to 0001.
    */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}
