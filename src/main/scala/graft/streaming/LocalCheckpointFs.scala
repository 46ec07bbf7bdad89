package graft.streaming

import java.io.File
import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` [[org.apache.hadoop.fs.AbstractFileSystem]] stream
  * checkpoints run on: Hadoop's `LocalFs` (a `ChecksumFs` over
  * `RawLocalFs`) with two methods of its raw file system answered in
  * Java instead of by a child process. Without `libhadoop.so`,
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates and `readlink` twice per `FileContext` rename; a stream's
  * offsets and commits logs and every state-store delta go through
  * exactly those calls, so those forks were most of a trigger's
  * checkpoint cost. `.crc` sidecars, rename semantics and permissions
  * are Hadoop's (LocalCheckpointFsSpec compares against `LocalFs`).
  * [[Streams.withStreamShards]] scopes it in through
  * `fs.AbstractFileSystem.file.impl` around every stream start. */
final class LocalCheckpointFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new LocalCheckpointFs.Raw(conf))

object LocalCheckpointFs {
  /** `RawLocalFs`, over [[NoForkLocalFileSystem]]. */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NoForkLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private[streaming] final class NoForkLocalFileSystem extends RawLocalFileSystem {
    /** The nine mode bits through NIO; a sticky bit, or a store without
      * POSIX attributes, keeps Hadoop's `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort.toInt
        val perms = new java.util.HashSet[attribute.PosixFilePermission]()
        attribute.PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
        }
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, perms); () }
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }

    /** Hadoop asks `readlink` about `new File(f.toString)`, which for a
      * qualified path is the `file:/…` string and never a link, so the
      * empty answer makes it return `getFileStatus(f)`. Same answer
      * here without the fork; a real link at that name keeps Hadoop's
      * path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
