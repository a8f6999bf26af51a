package graft.fs

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that sets permission bits in-process. Without
  * libhadoop (as with Spark's Hadoop client jars) its parent forks a
  * `chmod` for every file a write creates and every directory it
  * creates with a mode. This sets the same bits with
  * `Files.setPosixFilePermissions`, and leaves to `super` what NIO
  * cannot do as `chmod` does: a sticky bit; a directory carrying
  * setuid/setgid (`chmod 0755` keeps those bits, NIO clears them); a
  * platform without the posix and unix attribute views. Selected per
  * write by [[graft.io.Writers.sink]]; LocalFsSpec pins bit parity.
  */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (permission.getStickyBit || !LocalFs.posix || LocalFs.setIdDir(f))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f,
      PosixFilePermissions.fromString(permission.toString))
  }
}

object LocalFs {
  private val posix = Set("posix", "unix")
    .subsetOf(FileSystems.getDefault.supportedFileAttributeViews.asScala)

  private def setIdDir(f: java.nio.file.Path): Boolean = Files.isDirectory(f) &&
    (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xC00) != 0 // 06000
}

/** Hadoop's default `LocalFileSystem` (`.crc` sidecars) over [[LocalFs]]. */
class ChecksumLocalFs extends LocalFileSystem(new LocalFs)
