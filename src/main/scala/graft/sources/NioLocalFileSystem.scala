package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

/** Hadoop's checksummed `LocalFileSystem`, with `setPermission` done by
  * `java.nio.file.Files.setPosixFilePermissions` instead of a forked
  * `chmod`.
  *
  * Without the native-hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a child process, and every file and directory a write
  * creates goes through it: a few milliseconds per file. The mode bits
  * set here are the same (Hadoop's umask, `fs.permissions.umask-mode`,
  * is applied before `setPermission` is called); a mode with the sticky
  * bit, which has no NIO form, and a filesystem without POSIX attributes
  * keep Hadoop's path.
  *
  * A write opts in through its per-write Hadoop options,
  * [[NioLocalFileSystem.writeOptions]]: `fs.file.impl` is read only for
  * `file:` paths, and the disabled cache keeps the instance out of the
  * JVM-wide `FileSystem` cache every other `file:` access shares.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The options that route one `DataFrameWriter` write's local files
    * through this filesystem.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val done = (mode & ~0x1ff) == 0 &&
        (try { Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode)); true }
        catch { case _: UnsupportedOperationException => false })
      if (!done) super.setPermission(p, permission)
    }
  }

  /** The permission set of the low nine bits of `mode` (`0644` →
    * `rw-r--r--`): `PosixFilePermission`'s constants run from owner read
    * (bit 8) down to others execute (bit 0).
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.toSeq
      .filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava
}
