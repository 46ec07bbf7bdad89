package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import jdk.jfr.consumer.RecordedEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.{LocalFiles, Tables}
import graft.streaming.{Ev, LiveStore, Streams}

/** Data and checkpoint files on `file:` launch no `chmod` or
  * `readlink`, and both faces of [[LocalFiles]] keep Hadoop's local
  * file semantics: permissions, `.crc` sidecars, renames and link
  * status. */
class LocalFilesSpec extends SparkSpec {

  private val scopeKeys =
    Seq("fs.AbstractFileSystem.file.impl", "fs.file.impl", "fs.file.impl.disable.cache")

  /** The `chmod` and `readlink` processes among `starts`, with who
    * started each. */
  private def fileForks(starts: Seq[RecordedEvent]): Seq[String] =
    starts.map(e => e.getString("command") -> tools.Profile.starter(e))
      .filter { case (c, _) => c.startsWith("chmod") || c.startsWith("readlink") }
      .map { case (c, by) => s"$c from $by" }

  private def assertNoFileForks(what: String)(body: => Unit): Unit = {
    val forks = fileForks(tools.Profile.processStarts(body)._2)
    assert(forks.isEmpty, s"$what: ${forks.size} forks, e.g. ${forks.take(3)}")
  }

  test("a second call of each ingest stream op forks no chmod or readlink") {
    for (op <- Seq("stream_fold", "es_live_store", "stream_dedup", "stream_command_dedup")) {
      assert(run(op).count() > 0, op)
      assertNoFileForks(op)(assert(run(op).count() > 0, op))
    }
  }

  test("a second stream_view_maintain call, with its bucketed dimension table, forks no chmod or readlink") {
    assert(run("stream_view_maintain").count() > 0)
    assertNoFileForks("stream_view_maintain")(assert(run("stream_view_maintain").count() > 0))
  }

  test("LiveStore upserts past compactEvery, and their compaction, fork no chmod or readlink") {
    import spark.implicits._
    val dir = tempDir("graft_files_store").getPath + "/store"
    val n = LiveStore.compactEvery + 2
    assertNoFileForks("upserts") {
      for (id <- 0 until n) LiveStore.upsert(Seq(
        Ev(id.toLong, new java.sql.Timestamp(id * 1000L), id % 3L, "click", 1.0)).toDF(),
        id.toLong, dir)
    }
    assert(new java.io.File(dir).list().exists(_.startsWith("base_v")), "no compaction ran")
    assert(LiveStore.lookup(spark, dir, 1L).collect()
      .map(_.getAs[Long]("n_events")).toSeq == Seq((0 until n).count(_ % 3 == 1).toLong))
  }

  test("Tables.buildOnce forks no chmod or readlink") {
    val path = tempDir("graft_files_build").getPath + "/built"
    assertNoFileForks("buildOnce")(Tables.buildOnce(path)(spark.range(10).toDF()))
    assert(Tables.read(spark, path).count() == 10)
  }

  test("foreachBatchSink's query keeps the no-fork file system after start() returns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val before = scopeKeys.map(spark.conf.getOption)
    val q = Streams.foreachBatchSink(input.toDS().toDF(), tempDir("graft_febatch_fs").getPath)
    assert(scopeKeys.map(spark.conf.getOption) == before, "the session values must be restored")
    try assertNoFileForks("foreachBatchSink") {
      input.addData(Ev(1, new java.sql.Timestamp(0L), 1, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
  }

  test("the scope restores its keys when its body throws and leaves the JVM's FileSystem cache alone") {
    val root = new URI("file:///")
    val cached = FileSystem.get(root, spark.sessionState.newHadoopConf())
    spark.conf.set("fs.file.impl.disable.cache", "false")
    try {
      val before = scopeKeys.map(spark.conf.getOption)
      var inside: FileSystem = null
      intercept[IllegalStateException](LocalFiles.scoped(spark) {
        LocalFiles.scoped(spark)(())
        inside = FileSystem.get(root, spark.sessionState.newHadoopConf())
        throw new IllegalStateException("body failed")
      })
      assert(inside.isInstanceOf[LocalFiles.NoForkFileSystem])
      assert(!(inside eq cached))
      assert(scopeKeys.map(spark.conf.getOption) == before)
      assert(FileSystem.get(root, spark.sessionState.newHadoopConf()) eq cached)
      assert(FileSystem.get(root, new Configuration()) eq cached)
    } finally spark.conf.unset("fs.file.impl.disable.cache")
  }

  /** A `FileSystem` of class `impl` on `file:`, outside the JVM cache,
    * as `FileSystem.getLocal` returns it. */
  private def fileSystem(impl: Class[_]): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl.getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    FileSystem.getLocal(conf)
  }

  test("the FileSystem face matches Hadoop's LocalFileSystem and is what getLocal returns") {
    val impls = Seq(classOf[LocalFileSystem], classOf[LocalFiles.NoForkFileSystem])
    val fss = impls.map(fileSystem)
    fss.zip(impls).foreach { case (fs, c) => assert(fs.getClass == c) }
    val roots = impls.map(c => tempDir(s"graft_fs_${c.getSimpleName}"))
    def file(r: java.io.File, name: String) = new Path(r.toURI.resolve(name))
    val outcomes = fss.zip(roots).map { case (fs, r) =>
      fs.mkdirs(file(r, "d/e"))
      fs.mkdirs(file(r, "x"), new FsPermission("750"))
      for ((name, b) <- Seq("f" -> 1, "g" -> 2, "h" -> 3)) {
        val out = fs.create(file(r, name))
        out.write(Array.fill[Byte](3)(b.toByte))
        out.close()
      }
      fs.setPermission(file(r, "h"), new FsPermission("640"))
      def perms(name: String) = Files.getPosixFilePermissions(Paths.get(r.getPath, name))
      val created = Seq("d", "d/e", "x", "f", "h").map(perms)
      val crc = new java.io.File(r, ".f.crc").isFile
      val renamed = fs.rename(file(r, "f"), file(r, "g"))
      val left = r.list().toSet
      val g = Files.readAllBytes(Paths.get(r.getPath, "g")).toSeq
      (created, crc, renamed, left, g)
    }
    assert(outcomes(0) == outcomes(1))
    assert(outcomes(1)._2, "the .crc sidecar must be written")
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

  test("the FileContext face matches Hadoop's LocalFs on permissions, sidecars, renames and links") {
    val impls = Seq(classOf[LocalFs], classOf[LocalFiles.NoForkFs])
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
