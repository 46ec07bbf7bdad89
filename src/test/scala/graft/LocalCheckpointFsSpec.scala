package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import jdk.jfr.consumer.RecordedEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{Ev, LocalCheckpointFs, Streams}

/** Stream checkpoints on `file:` launch no process through the
  * `FileContext` path, and [[LocalCheckpointFs]] keeps Hadoop
  * `LocalFs`'s file semantics: permissions, `.crc` sidecars, rename
  * without overwrite and link status. */
class LocalCheckpointFsSpec extends SparkSpec {

  /** Processes started from under Hadoop's `FileContext` local file
    * system (checkpoint and state-store files), as their commands. */
  private def contextForks(starts: Seq[RecordedEvent]): Seq[String] =
    starts.filter(_.getStackTrace.getFrames.stream().anyMatch(
      _.getMethod.getType.getName == "org.apache.hadoop.fs.DelegateToFileSystem"))
      .map(_.getString("command"))

  test("a stateful stream run to its table forks no process for its checkpoint") {
    val (rows, starts) = tools.Profile.processStarts(run("stream_fold").count())
    assert(rows > 0)
    val forks = contextForks(starts)
    assert(forks.isEmpty, s"${forks.size} checkpoint forks, e.g. ${forks.take(3)}")
  }

  test("foreachBatchSink's query keeps the no-fork file system after start() returns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.foreachBatchSink(input.toDS().toDF(), tempDir("graft_febatch_fs").getPath)
    val (_, starts) = tools.Profile.processStarts {
      input.addData(Ev(1, new java.sql.Timestamp(0L), 1, "click", 1.0))
      q.processAllAvailable()
    }
    q.stop()
    val forks = contextForks(starts)
    assert(forks.isEmpty, s"${forks.size} checkpoint forks, e.g. ${forks.take(3)}")
    assert(!spark.conf.getOption("fs.AbstractFileSystem.file.impl")
      .contains(classOf[LocalCheckpointFs].getName), "the session value must be restored")
  }

  private def context(impl: Class[_]): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
    FileContext.getFileContext(new URI("file:///"), conf)
  }

  /** Per file system: a created dir and file, the file's sidecar, and
    * a link to the file, under a dir of its own. */
  private def layout(fc: FileContext, root: java.io.File): Unit = {
    val p = new Path(root.toURI)
    fc.mkdir(new Path(p, "d"), FsPermission.getDirDefault, true)
    for (name <- Seq("f", "g")) {
      val out = fc.create(new Path(p, name), EnumSet.of(CreateFlag.CREATE),
        CreateOpts.createParent())
      out.write(Array[Byte](1, 2, 3))
      out.close()
    }
    Files.createSymbolicLink(Paths.get(root.getPath, "link"), Paths.get(root.getPath, "f"))
    ()
  }

  test("LocalCheckpointFs matches Hadoop's LocalFs on permissions, sidecars, renames and links") {
    val impls = Seq(classOf[LocalFs], classOf[LocalCheckpointFs])
    val roots = impls.map(c => tempDir(s"graft_fs_${c.getSimpleName}"))
    val fcs = impls.map(context)
    fcs.zip(roots).foreach { case (fc, r) => layout(fc, r) }
    def perms(r: java.io.File, name: String) = Files.getPosixFilePermissions(Paths.get(r.getPath, name))
    for (name <- Seq("d", "f")) assert(perms(roots(0), name) == perms(roots(1), name), name)
    roots.foreach(r => assert(new java.io.File(r, ".f.crc").isFile, r))
    fcs.zip(roots).foreach { case (fc, r) =>
      intercept[FileAlreadyExistsException] {
        fc.rename(new Path(r.toURI.resolve("f")), new Path(r.toURI.resolve("g")))
      }
    }
    val links = fcs.zip(roots).map { case (fc, r) =>
      val st = fc.getFileLinkStatus(new Path(r.toURI.resolve("link")))
      (st.isSymlink, st.isFile, st.getLen, st.getPath.getName, st.getPermission)
    }
    assert(links(0) == links(1))
  }
}
