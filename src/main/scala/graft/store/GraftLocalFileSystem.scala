package graft.store

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem graft's writes go through: Hadoop's checksummed
  * local FS, with permissions set through java.nio.
  *
  * Without the native Hadoop library, the stock local FS sets the mode of
  * every file it creates (and of its `.crc` file, and of every directory
  * it makes) by forking a `chmod` process (`RawLocalFileSystem.setPermission`
  * → `Shell.execCommand`): two or three forks per written data file, on
  * the write task's critical path. This one sets the same bits, the
  * requested permission with the conf's umask applied, with
  * `Files.setPosixFilePermissions`, falling back to the stock path for
  * the sticky bit, which java.nio cannot set, or a file system without
  * POSIX permissions.
  *
  * [[GraftLocalFileSystem.pin]] selects it in a job conf. */
final class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        // `toString` is the symbolic mode, `rw-r--r--`, when no sticky bit is set
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** Resolve `file:` paths opened with `conf` to this FS. Hadoop caches
    * one FileSystem per scheme, authority and user, whatever the conf
    * asking, so a `fs.file.impl` set after the first `file:` FS exists
    * would go unseen: the conf also bypasses that cache, and every
    * `getFileSystem` with it builds its own (cheap) instance. */
  def pin(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }
}
