package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem with one change: permissions
  * are set through java.nio, inside the JVM.
  *
  * Without Hadoop's native IO library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and Hadoop calls it for every file a write
  * creates and for every directory `mkdirs` makes with a mode: each
  * checkpoint file a stream commits per micro-batch, each parquet part
  * file, its `.crc` sibling and the committer's `_temporary` tree.
  * [[GraftSession.builder]] installs this class as `fs.file.impl`, so
  * every local write of a graft session, batch or stream, forks none.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` whose only override is `setPermission`. The
    * bits nio cannot express (the sticky bit), and stores without POSIX
    * attributes, go to Hadoop's own implementation.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL)
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, rwx); () }
        catch {
          case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      }
  }
}
