package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Local files written without process launches. Without
  * `libhadoop.so`, Hadoop's `RawLocalFileSystem` forks `chmod` for
  * every file and directory it creates and `readlink` twice per
  * `FileContext` rename, so a small write costs more in forks than in
  * I/O. [[NoForkRawFileSystem]] answers those two calls in Java, and
  * each of Hadoop's two local faces is rebuilt over it:
  * [[NoForkFileSystem]] (`LocalFileSystem`, which parquet writes,
  * commit protocols and `_SUCCESS` markers use) and [[NoForkFs]]
  * (`LocalFs`, which checkpoint file managers open through
  * `FileContext`). `.crc` sidecars, rename semantics and permissions
  * are Hadoop's (LocalFilesSpec compares both faces against Hadoop's).
  * [[scoped]] puts both on a session's `file:` scheme around a write. */
object LocalFiles {

  /** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus`
    * answered without a child process. */
  final class NoForkRawFileSystem extends RawLocalFileSystem {
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

  /** The `FileSystem` face: Hadoop's checksummed `LocalFileSystem`
    * over [[NoForkRawFileSystem]], so `FileSystem.getLocal`'s cast
    * still holds. */
  final class NoForkFileSystem extends LocalFileSystem(new NoForkRawFileSystem)

  /** The `FileContext` face: Hadoop's `LocalFs`, a `ChecksumFs` over
    * `RawLocalFs`, rebuilt over [[NoForkRawFileSystem]]. */
  final class NoForkFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** `RawLocalFs`'s four overrides, over [[NoForkRawFileSystem]]. */
  private final class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NoForkRawFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The session keys [[scoped]] sets. They name the `file:` scheme
    * only, so HDFS and object stores keep their own file systems. The
    * session's `file:` `FileSystem` is cached JVM-wide before any graft
    * code runs, and the cache key ignores the class, so the face is
    * reached with the cache off for the scope: the cached instance
    * stays Hadoop's and is never replaced. */
  private val keys = Seq(
    "fs.AbstractFileSystem.file.impl" -> classOf[NoForkFs].getName,
    "fs.file.impl" -> classOf[NoForkFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Open scopes per session, and the values its keys had before the
    * first of them. */
  private val open =
    collection.mutable.Map.empty[SparkSession, (Int, Seq[(String, Option[String])])]

  /** Run `body` with `s`'s `file:` scheme on the no-fork faces; the
    * keys' previous values come back when the last open scope on `s`
    * ends, also when `body` throws. Scopes nest and may overlap across
    * threads. A streaming query keeps the keys it cloned at start(),
    * so scoping the start covers its checkpoint and its sink. */
  def scoped[T](s: SparkSession)(body: => T): T = {
    open.synchronized {
      open(s) = open.get(s) match {
        case Some((n, prev)) => (n + 1, prev)
        case None =>
          val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
          keys.foreach { case (k, v) => s.conf.set(k, v) }
          (1, prev)
      }
    }
    try body
    finally open.synchronized {
      val (n, prev) = open(s)
      if (n > 1) open(s) = (n - 1, prev)
      else {
        open -= s
        prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      }
    }
  }

  /** Delete a file or directory tree (missing paths are a no-op). */
  private[graft] def deleteRec(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
  }
}
