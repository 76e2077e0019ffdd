package graft.etl

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** `file:` file system that sets permissions without starting a process.
  *
  * Without libhadoop (`NativeIO` unavailable) Hadoop's
  * `RawLocalFileSystem.setPermission` runs `chmod` through `Shell` —
  * one fork per created file and per `mkdirs`, ~7 ms each. Every sink
  * task file, commit-protocol marker, streaming metadata log entry and
  * state-store delta pays it. This class sets the same mode bits with
  * `Files.setPosixFilePermissions` instead, and defers to Hadoop
  * whenever libhadoop is loaded, the platform is not POSIX, or the mode
  * carries bits beyond `rwxrwxrwx` (sticky), so a cluster with
  * libhadoop sees no change. Registered as `fs.file.impl` by
  * `graft.Session.local`; it extends `LocalFileSystem` because
  * `FileSystem.getLocal` casts to it.
  *
  * Without that setting, a class path holding Spark's Hive jars serves
  * `file:` with Hive's `ProxyLocalFileSystem` (hive-exec registers it as
  * a service), which differs from Hadoop's only in refusing a rename
  * onto an existing file. `LocalFs` keeps Hadoop's rename, which
  * replaces the file.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private lazy val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private val bits = PosixFilePermission.values // OWNER_READ .. OTHERS_EXECUTE

  /** The `rwxrwxrwx` bits of `mode` as a NIO permission set. */
  private def toPosix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) set.add(bits(i)))
    set
  }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || !posix || (mode & ~0x1ff) != 0)
        super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(mode)): Unit
    }
  }
}
