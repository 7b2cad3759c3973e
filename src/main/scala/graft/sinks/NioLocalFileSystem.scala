package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, except that a plain rwx mode is
  * set in-process. Without libhadoop, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file and directory it creates (a new file in a
  * new directory: the file, its `.crc` and each new parent), about 5 ms
  * each; a partitioned write of a few hundred small files spends most of
  * its task time there. Modes and `.crc` files are exactly the stock ones.
  *
  * A write selects it with [[WriteOptions]], which Spark merges into that
  * write's Hadoop conf only; no session or SparkContext conf is touched and
  * non-`file:` paths are unaffected.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** DataFrameWriter options that route the write's `file:` paths through
    * this filesystem. The cache is disabled because the cached `file:`
    * instance is keyed by scheme and user, not by conf, so it would be the
    * stock one.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  class Raw extends RawLocalFileSystem {
    /** Sets exactly the mode's rwx bits through `java.nio`. A mode with a
      * sticky bit, or a store without POSIX attributes, takes Hadoop's own
      * path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
