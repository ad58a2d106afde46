package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's checksummed
  * `LocalFileSystem` over a raw filesystem that sets permission bits
  * in-process. Without a loaded native Hadoop library,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and the
  * local filesystem calls it for every file and directory it creates:
  * 18 processes for a 4-shard Parquet write plus read-back (attempt
  * directories, part files, their `.crc` sidecars, `_SUCCESS`), each
  * with its own stderr-reader thread. This class sets the same nine
  * bits through `java.nio.file.Files.setPosixFilePermissions`; nothing
  * else changes (checksums, `.crc` sidecars, the commit protocol, the
  * umask applied before the call).
  *
  * [[graft.GraftSession.builder]] registers it as
  * `spark.hadoop.fs.file.impl`, so every engine write to a `file:` path
  * takes it. Hadoop caches one `file:` instance per JVM and user: an
  * instance created before the first engine session (through a bare
  * `new Configuration()`) stays the stock one, which is correct and only
  * slower.
  */
final class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  final class Raw extends RawLocalFileSystem {

    /** The nine permission bits in-process, following symbolic links as
      * `chmod` does. A mode with the sticky bit, and a file store without
      * POSIX attributes, take Hadoop's own path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
