package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The engine's `file://` FileSystem: Hadoop's checksummed
  * [[LocalFileSystem]] (`.crc` siblings and all) over a raw layer whose
  * `setPermission` is an in-process call. Without `libhadoop`,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and it runs on
  * every `create` and `mkdirs` — ~2000 forks per `cdc_ingest` JVM in
  * perfbench, each one on an executor task thread. `GraftSession` installs
  * it as `fs.file.impl`; the permission bits written are the same.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** NIO `chmod`. Falls back to Hadoop's own path when the native library
      * is loaded (no fork there) or for the sticky bit, which POSIX
      * permission sets cannot express. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit)
        super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
  }
}
