package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of a graft session ([[graft.GraftSession]]
  * sets `fs.file.impl` to it): Hadoop's checksummed local file system
  * over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local file system with a `java.nio` `setPermission`.
  * Without libhadoop, Hadoop's own forks a `chmod` process for every
  * file and directory a write creates (about 1.5 ms of wall and of
  * child CPU each). A mode NIO cannot express (the sticky bit) and a
  * file store without POSIX attributes fall back to Hadoop's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
