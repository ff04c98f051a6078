package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, minus the process it forks per
  * permission change.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a new process, and the local file system calls it for
  * every file (data and `.crc`) and directory it creates: 117 forks in one
  * medallion refresh and 663 in a one-season backfill, at 1.3–2.6 ms each
  * from a JVM with a 1 GB heap, inside write tasks and job commits. Here
  * the permission is set through `java.nio` instead, from the nine
  * permission bits of `FsPermission.toShort`, after the same umask. A mode
  * with the sticky, setuid or setgid bit, which `java.nio` cannot set, and
  * a file store without POSIX permissions keep Hadoop's own path.
  *
  * Registered for the `file` scheme by [[graft.core.GraftSession.local]]. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** `PosixFilePermission`'s declaration order is the rwxrwxrwx order of
    * the mode bits, highest first. */
  private val ModeBits = PosixFilePermission.values.toSeq.reverse.zipWithIndex

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        ModeBits.foreach { case (perm, bit) =>
          if ((mode & (1 << bit)) != 0) perms.add(perm)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      }
    }
  }
}
