package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The `file:` file system of every session (`GraftSession` sets it as
  * `fs.file.impl`): Hadoop's checksummed `LocalFileSystem` whose raw
  * file system sets permissions through `java.nio`.
  *
  * Without libhadoop (`NativeIO.isAvailable` false, as on stock JVM
  * installs), `RawLocalFileSystem.setPermission` forks a `chmod`
  * process for every file, `.crc` file and directory it creates — about
  * a hundred per lake day at ~1.5 ms each. The mode written is the same
  * one `chmod` would write; a mode beyond the nine rwx bits (sticky,
  * setuid, setgid) still goes to `chmod`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  // PosixFilePermission's order is OWNER_READ .. OTHERS_EXECUTE, i.e.
  // mode bits 0400 down to 0001
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (1 << (8 - i)) }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        Bits.collect { case (perm, bit) if (mode & bit) != 0 => perm }
          .toSet.asJava)
    }
  }
}
