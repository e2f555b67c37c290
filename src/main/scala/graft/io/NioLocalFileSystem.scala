package graft.io

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
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
  * `file:` FileSystem is. Hadoop's other filesystem API, `FileContext`,
  * which Structured Streaming writes its checkpoints through, gets the
  * same raw filesystem from [[NioLocalFs]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The session setting that registers this filesystem for `file:`. */
  val ConfKey = "spark.hadoop.fs.file.impl"
  val ClassName: String = classOf[NioLocalFileSystem].getName

  /** The session setting that registers [[NioLocalFs]] for `file:`
    * `FileContext`s. `FileContext` caches no filesystem, so this one
    * applies to every `FileContext` made after it is set.
    */
  val FileContextConfKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"
  val FileContextClassName: String = classOf[NioLocalFs].getName

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = permission.toShort & 0x0fff
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0 ||
          currentMode(file).forall(m => (m & ~0x1ff) != 0))
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, permissions(mode))
    }

    /** Hadoop reads the link target of `new File(f.toString)` with a
      * `readlink` child process, and returns the plain status when it
      * reads none: always for a `file:` URI path, which names no file
      * relative to the working directory. This asks NIO whether that
      * path is a symbolic link and defers to Hadoop only when it is.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(Paths.get(f.toString)))
        super.getFileLinkStatus(f)
      else getFileStatus(f)
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

/** Hadoop's `FileContext` filesystem for `file:` (`LocalFs`: checksums
  * over a raw local filesystem) with [[NioLocalFileSystem.Raw]] as the
  * raw filesystem, so a `FileContext` create, mkdir or rename starts no
  * `chmod` or `readlink` process either. Hadoop's own `RawLocalFs`
  * cannot be given another raw filesystem (its constructors are
  * package-private), so [[NioLocalFs.Raw]] repeats its four overrides.
  * Registered by [[graft.GraftSession.builder]] as
  * `fs.AbstractFileSystem.file.impl`, which `FileContext` instantiates
  * through this `(URI, Configuration)` constructor.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioLocalFileSystem.Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
