package graft.etl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system the Caliper JSON sink writes through.
  *
  * Without `libhadoop` (no `NativeIO`), `RawLocalFileSystem.setPermission`
  * runs a shell `chmod` for every file and directory Hadoop creates with
  * a permission — several processes per attempt directory of the sink.
  * This subclass sets the same, already umask-applied mode bits with
  * `Files.setPosixFilePermissions`, which starts no process. A sticky-bit
  * mode has no `PosixFilePermission` spelling, so it keeps the stock path.
  *
  * Being raw (not a `ChecksumFileSystem`), it writes no `.crc` sidecars.
  */
class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

object NioLocalFileSystem {

  /** Per-write options routing `file:` paths through this class. The cache
    * switch is needed because `FileSystem.get` would otherwise hand back
    * the session's cached `LocalFileSystem`; other schemes are unaffected.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
