package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system with permissions set by a system call. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, once for every file, checksum file and directory a
  * write creates; this one sets the same permission bits through
  * `java.nio`. `TripleStore` selects it per write through writer options.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

object NoForkLocalFileSystem {

  /** Calls of the fork-free `setPermission`, in this JVM. */
  private[graft] val setPermissionCalls = new AtomicLong

  // bit i of FsPermission.toShort, lowest first (the sticky bit has no
  // PosixFilePermission; store writes never set it)
  private val bits = {
    import PosixFilePermission._
    Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
      GROUP_EXECUTE, GROUP_WRITE, GROUP_READ,
      OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
  }

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      setPermissionCalls.incrementAndGet()
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.indices.foreach(i => if ((mode & (1 << i)) != 0) perms.add(bits(i)))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}
