package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Ev, LiveStore}

/** The stream-maintained queryable store: point lookups must work — and
  * be shard-pruned — WHILE ingestion runs; the final snapshot must
  * equal the batch KTable over the same events; upsert I/O must scale
  * with the BATCH's key count (not the store's); and readers must never
  * observe a half-committed write. */
class LiveStoreSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

  private def dataFiles(dir: java.io.File): Map[String, Long] = {
    def rec(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(rec)
      else Seq(f)
    rec(dir).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty)
        .foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  private def storeDir(prefix: String): String =
    tempDir(prefix).getPath + "/store"

  test("point lookup mid-stream reflects each ingested prefix; final snapshot = batch KTable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft_livestore")
    val dir = root.getPath + "/store"
    val input = MemoryStream[Ev]
    val q = input.toDS().toDF().writeStream
      .option("checkpointLocation", tempDir("graft_checkpoint").getPath)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        LiveStore.upsert(b, id, dir)
      }
      .outputMode("update").start()

    // batch 1: two users; user 7 ends on a purchase
    val b1 = Seq(
      Ev(1, ts(0), 7, "signup", 0.0), Ev(2, ts(1), 7, "purchase", 12.34),
      Ev(3, ts(0), 23, "click", 1.0)) // user 23 shares shard 7 with user 7
    input.addData(b1: _*)
    q.processAllAvailable()

    val mid = LiveStore.lookup(spark, dir, 7L).collect()
    assert(mid.length == 1)
    assert(mid(0).getAs[String]("last_type") == "purchase")
    assert(mid(0).getAs[Double]("last_value") == 12.34)
    assert(mid(0).getAs[Long]("n_events") == 2L)
    // at-least-once redelivery: replaying an already-committed batch id
    // must be a no-op (n_events would otherwise double-count)
    LiveStore.upsert(b1.toDF(), 0L, dir)
    assert(LiveStore.lookup(spark, dir, 7L).collect()(0).getAs[Long]("n_events") == 2L)

    val filesAfterB1 = dataFiles(new java.io.File(dir))

    // batch 2: user 7 gets a newer event; a THIRD user lands elsewhere.
    // user 23 is NOT in this batch — it must survive untouched.
    val b2 = Seq(
      Ev(4, ts(5), 7, "error", 3.5),
      Ev(5, ts(2), 8, "view", 9.99))
    input.addData(b2: _*)
    q.processAllAvailable()

    // THE SCALE CONTRACT (the reference's RocksDB point-write analog):
    // batch 2 wrote exactly one delta dir holding exactly its own keys;
    // every file that existed before the batch is byte-identical after.
    val filesAfterB2 = dataFiles(new java.io.File(dir))
    assert(filesAfterB1.forall { case (p, len) => filesAfterB2.get(p).contains(len) },
      "an upsert must never rewrite existing store files")
    val newFiles = filesAfterB2.keySet -- filesAfterB1.keySet
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("delta_b1")),
      s"batch 2 should land only under delta_b1, got: $newFiles")
    assert(spark.read.parquet(s"$dir/delta_b1").count() == 2L,
      "the delta must hold exactly the batch's distinct keys")

    val mid2 = LiveStore.lookup(spark, dir, 7L).collect()
    assert(mid2(0).getAs[String]("last_type") == "error")
    assert(mid2(0).getAs[Long]("n_events") == 3L)
    // untouched key absent from the batch survives (merge-on-read)
    val k23 = LiveStore.lookup(spark, dir, 23L).collect()
    assert(k23.length == 1 && k23(0).getAs[Long]("n_events") == 1L)

    // the point read is pruned to user 7's shard: in a copy of the store
    // whose every other shard file is garbage, the lookup still answers,
    // while a snapshot, which opens every file, fails
    val copy = root.getPath + "/pruned"
    copyTree(new java.io.File(dir), new java.io.File(copy))
    val others = dataFiles(new java.io.File(copy)).keys.filterNot(_.contains("/shard=7/"))
    assert(others.nonEmpty, "the pruning check needs a second shard")
    others.foreach(p => java.nio.file.Files.write(java.nio.file.Paths.get(p), Array[Byte](1, 2, 3)))
    val pruned = LiveStore.lookup(spark, copy, 7L).collect()
    assert(pruned.toSeq == LiveStore.lookup(spark, dir, 7L).collect().toSeq)
    assert(pruned(0).getAs[String]("last_type") == "error")
    intercept[Exception](LiveStore.snapshot(spark, copy).collect())

    q.stop()

    // final snapshot == batch KTable over the union of all events
    val all = (b1 ++ b2).toDF()
    val want = graft.streaming.Streams.latestStateAgg(all)
    val got = LiveStore.snapshot(spark, dir)
      .select(want.columns.map(col): _*)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)

    // compaction folds base+deltas to one base with the same contents.
    // Retired inputs stay on disk for ONE grace cycle (an in-flight
    // scan that planned over the old roots must be able to drain) but
    // are INVISIBLE to any new reader — the snapshot comes from the
    // new base alone.
    def storeDirs() = Option(new java.io.File(dir).listFiles()).get
      .filter(_.isDirectory).map(_.getName).toSet
    LiveStore.compact(spark, dir, purgeTombstones = false)
    val dirsNow = storeDirs()
    assert(dirsNow.exists(_.startsWith("base_v")),
      s"compaction should publish a new base: $dirsNow")
    assert(dirsNow.exists(_.startsWith("delta_b")),
      s"retired deltas must survive the grace cycle for in-flight scans: $dirsNow")
    val got2 = LiveStore.snapshot(spark, dir).select(want.columns.map(col): _*)
    assert(got2.except(want).count() == 0 && want.except(got2).count() == 0)
    // the NEXT compaction cycle drains the grace period: retired dirs
    // are physically deleted, contents unchanged
    LiveStore.compact(spark, dir, purgeTombstones = false)
    val dirsAfter = storeDirs()
    assert(!dirsAfter.exists(_.startsWith("delta_b")),
      s"the next cycle must delete dirs retired a cycle ago: $dirsAfter")
    val got3 = LiveStore.snapshot(spark, dir).select(want.columns.map(col): _*)
    assert(got3.except(want).count() == 0 && want.except(got3).count() == 0)
    ()
  }

  test("a crash between staging write and rename is invisible to readers and heals on replay") {
    import spark.implicits._
    val root = tempDir("graft_livestore_kill")
    val dir = root.getPath + "/store"
    val b0 = Seq(Ev(1, ts(0), 7, "signup", 0.0), Ev(2, ts(1), 9, "click", 1.0))
    LiveStore.upsert(b0.toDF(), 0L, dir)

    // simulate the crash: batch 1's staging dir exists (half-written —
    // here: a stale full copy plus junk) but the atomic rename never ran
    val staging = new java.io.File(dir, "_staging_delta_b1")
    new java.io.File(staging, "shard=7").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staging, "shard=7/part-junk.parquet").toPath,
      Array[Byte](1, 2, 3))

    // readers never see the uncommitted write
    val snap = LiveStore.snapshot(spark, dir)
    assert(snap.count() == 2L)
    assert(snap.filter(col("user_id") === 7L).collect()(0).getAs[Long]("n_events") == 1L)

    // the source redelivers batch 1: the replay discards the garbage
    // staging dir and commits cleanly, exactly once
    val b1 = Seq(Ev(3, ts(2), 7, "purchase", 5.0))
    LiveStore.upsert(b1.toDF(), 1L, dir)
    LiveStore.upsert(b1.toDF(), 1L, dir) // second redelivery: no-op
    val after = LiveStore.snapshot(spark, dir)
    assert(after.filter(col("user_id") === 7L).collect()(0).getAs[Long]("n_events") == 2L)
    assert(!staging.exists, "a committed batch must leave no staging dir behind")
    ()
  }

  test("an empty batch publishes nothing, does not count toward compactEvery, and leaves its id free") {
    import spark.implicits._
    val dir = storeDir("graft_livestore_empty")
    val n = LiveStore.compactEvery
    for (id <- 0 until n)
      LiveStore.upsert(Seq(Ev(id.toLong, ts(id), id % 3L, "click", 1.0)).toDF(), id.toLong, dir)
    LiveStore.upsert(Seq.empty[Ev].toDF(), n.toLong, dir)
    val names = new java.io.File(dir).list().toSet
    assert(!names.contains(s"delta_b$n"), names)
    assert(!names.exists(_.startsWith("_staging_")), names)
    assert(!names.exists(_.startsWith("base_v")), s"the empty batch ran a compaction: $names")
    // the id is still free: its redelivery with rows publishes, and
    // that delta is the one past compactEvery
    LiveStore.upsert(Seq(Ev(100L, ts(20), 1L, "purchase", 2.0)).toDF(), n.toLong, dir)
    val after = new java.io.File(dir).list().toSet
    assert(after.contains(s"delta_b$n") && after.contains(s"base_v$n"), after)
    assert(LiveStore.lookup(spark, dir, 1L).collect().map(_.getAs[Long]("n_events")).toSeq ==
      Seq((0 until n).count(_ % 3 == 1).toLong + 1L))
  }

  test("keys -3 and 13 share shard 13 of a 16-shard store and both look up") {
    import spark.implicits._
    val dir = storeDir("graft_livestore_neg")
    LiveStore.upsert(Seq(
      Ev(1, ts(0), -3, "signup", 0.0), Ev(2, ts(1), -3, "purchase", 4.5),
      Ev(3, ts(0), 13, "click", 1.0)).toDF(), 0L, dir)
    assert(LiveStore.storeShards(dir) == 16)
    assert(new java.io.File(dir, "delta_b0").list().toSet.filter(_.startsWith("shard=")) ==
      Set("shard=13"), "upsert shards with pmod: -3 lands in shard 13")
    val neg = LiveStore.lookup(spark, dir, -3L).collect()
    assert(neg.length == 1)
    assert(neg(0).getAs[Long]("user_id") == -3L && neg(0).getAs[Long]("n_events") == 2L)
    assert(neg(0).getAs[String]("last_type") == "purchase" && neg(0).getAs[Double]("last_value") == 4.5)
    val pos = LiveStore.lookup(spark, dir, 13L).collect()
    assert(pos.length == 1 && pos(0).getAs[String]("last_type") == "click")
  }

  test("lookup equals the snapshot filtered to its key, over a base and live deltas") {
    import spark.implicits._
    val dir = storeDir("graft_livestore_eq")
    val batches = Seq(
      Seq(Ev(1, ts(0), 7, "signup", 0.0), Ev(2, ts(1), 23, "click", 1.25),
        Ev(3, ts(2), -3, "view", 2.0), Ev(4, ts(3), 40, "purchase", 19.99)),
      Seq(Ev(5, ts(4), 7, "purchase", 12.34), Ev(6, ts(4), 13, "click", 0.5)),
      Seq(Ev(7, ts(5), 23, "view", 3.0), Ev(8, ts(6), -3, "purchase", 7.77),
        Ev(9, ts(2), 40, "click", 1.0)), // out of order: older than 40's purchase
      Seq(Ev(10, ts(9), 7, "error", 3.5), Ev(11, ts(9), 8, "signup", 0.0)))
    batches.take(2).zipWithIndex.foreach { case (b, i) => LiveStore.upsert(b.toDF(), i, dir) }
    LiveStore.compact(spark, dir, purgeTombstones = false)
    batches.zipWithIndex.drop(2).foreach { case (b, i) => LiveStore.upsert(b.toDF(), i, dir) }
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("base_v1") && names.contains("delta_b2") && names.contains("delta_b3"),
      s"want a base and two live deltas: $names")

    val snap = LiveStore.snapshot(spark, dir)
    val keys = snap.select("user_id").as[Long].collect().toSeq.sorted
    assert(keys == Seq(-3L, 7L, 8L, 13L, 23L, 40L))
    keys.foreach { k =>
      val got = LiveStore.lookup(spark, dir, k)
      val want = snap.filter(col("user_id") === k)
      assert(got.schema == want.schema, s"key $k")
      assert(got.collect().toSeq == want.collect().toSeq, s"key $k")
    }
    // key 7's latest event is tombstone-typed; the live store keeps it
    assert(LiveStore.lookup(spark, dir, 7L).collect()(0).getAs[String]("last_type") == "error")
    val absent = LiveStore.lookup(spark, dir, 999L)
    assert(absent.schema == snap.schema && absent.collect().isEmpty)
  }

  test("a lookup sees a delta published just before it and the new base right after a compaction") {
    import spark.implicits._
    val dir = storeDir("graft_livestore_fresh")
    def looked(k: Long) = LiveStore.lookup(spark, dir, k).collect().toSeq
    def filtered(k: Long) =
      LiveStore.snapshot(spark, dir).filter(col("user_id") === k).collect().toSeq
    LiveStore.upsert(Seq(Ev(1, ts(0), 7, "click", 1.0)).toDF(), 0L, dir)
    assert(looked(7L).map(_.getAs[Long]("n_events")) == Seq(1L))
    assert(looked(23L).isEmpty)
    // each publish is seen by the next lookup, in the shard it touches
    LiveStore.upsert(Seq(Ev(2, ts(1), 7, "view", 2.0)).toDF(), 1L, dir)
    assert(looked(7L).map(_.getAs[Long]("n_events")) == Seq(2L))
    LiveStore.upsert(Seq(Ev(3, ts(2), 23, "purchase", 3.0)).toDF(), 2L, dir)
    assert(looked(23L).map(_.getAs[String]("last_type")) == Seq("purchase"))
    LiveStore.upsert(Seq(Ev(4, ts(3), 23, "error", 0.0)).toDF(), 3L, dir)
    assert(looked(23L).map(_.getAs[String]("last_type")) == Seq("error"))
    Seq(7L, 23L).foreach(k => assert(looked(k) == filtered(k), s"key $k"))
    // the cleaner folds the four deltas into base_v3 without key 23,
    // whose latest record is a tombstone, and deletes the deltas
    LiveStore.compact(spark, dir, purgeTombstones = true)
    assert(new java.io.File(dir).list().toSet.filter(_.matches("(base_v|delta_b).*")) ==
      Set("base_v3"))
    assert(looked(23L).isEmpty)
    assert(looked(7L) == filtered(7L) && looked(7L).map(_.getAs[Long]("n_events")) == Seq(2L))
  }

  test("a lookup reads only the row groups whose user_id stats can hold its key") {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    // 400 keys of shard 7 in a 16-shard store, two events each
    val keys = (0 until 400).map(i => 7L + 16L * i)
    val src = storeDir("graft_livestore_rg_src")
    LiveStore.upsert(keys.zipWithIndex.flatMap { case (k, i) =>
      Seq(Ev(2L * i, ts(0), k, "click", 1.0), Ev(2L * i + 1, ts(1), k, "purchase", i / 4.0))
    }.toDF(), 0L, src)
    // the same rows as one base file, sorted by key, 50 rows a row group
    val dir = storeDir("graft_livestore_rg")
    spark.read.parquet(s"$src/delta_b0").repartition(1).sortWithinPartitions("shard", "user_id")
      .write.options(graft.sources.LocalFiles.writeOptions)
      .option("parquet.block.row.count.limit", "50")
      .partitionBy("shard").parquet(s"$dir/base_v0")
    val file = dataFiles(new java.io.File(dir)).keys.toSeq match {
      case Seq(f) => new java.io.File(f)
      case fs => fail(s"want one data file: $fs")
    }
    val blocks = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toURI), spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.asScala.toSeq finally r.close()
    }
    assert(blocks.size == 8, s"want 8 row groups, got ${blocks.size}")
    val key = keys(123)
    def holds(b: org.apache.parquet.hadoop.metadata.BlockMetaData) = {
      val st: org.apache.parquet.column.statistics.Statistics[_] =
        b.getColumns.asScala.find(_.getPath.toDotString == "user_id").get.getStatistics
      st.genericGetMin.asInstanceOf[java.lang.Long] <= key &&
        key <= st.genericGetMax.asInstanceOf[java.lang.Long]
    }
    val (kept, others) = blocks.partition(holds)
    assert(kept.size == 1)
    // every other row group's bytes become garbage; the footer stays.
    // The checksum sidecar goes, or every read would fail its check.
    val out = new java.io.RandomAccessFile(file, "rw")
    try others.foreach { b =>
      out.seek(b.getStartingPos)
      out.write(Array.fill(b.getCompressedSize.toInt)(0x5a.toByte))
    } finally out.close()
    assert(new java.io.File(file.getParent, s".${file.getName}.crc").delete())
    val want = LiveStore.snapshot(spark, src).filter(col("user_id") === key).collect().toSeq
    assert(want.map(_.getAs[Double]("last_value")) == Seq(123 / 4.0))
    assert(LiveStore.lookup(spark, dir, key).collect().toSeq == want)
    intercept[Exception](LiveStore.snapshot(spark, dir).collect())
  }

  test("a lookup equals the filtered snapshot under every parquet timestamp output type") {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.io.LocalInputFile
    // sub-second and pre-1970 times too: the lookup converts them with
    // Spark's row materializer, the snapshot with Spark's vectorized reader
    val batches = Seq(
      Seq(Ev(1, ts(0), 7, "signup", 0.0), Ev(2, new Timestamp(1704067200123L), -3, "click", 1.25),
        Ev(3, Timestamp.valueOf("1850-06-01 12:00:00.5"), 40, "view", 2.0)),
      Seq(Ev(4, new Timestamp(1704067260987L), 7, "purchase", 12.34),
        Ev(5, ts(3), -3, "error", 0.5)))
    val physical = Map("INT96" -> "INT96", "TIMESTAMP_MICROS" -> "INT64 TIMESTAMP(MICROS,true)",
      "TIMESTAMP_MILLIS" -> "INT64 TIMESTAMP(MILLIS,true)")
    for ((outputType, mts) <- physical) {
      val dir = storeDir(s"graft_livestore_ts_$outputType")
      withConf("spark.sql.parquet.outputTimestampType" -> outputType) {
        batches.zipWithIndex.foreach { case (b, i) => LiveStore.upsert(b.toDF(), i, dir) }
      }
      val file = dataFiles(new java.io.File(dir)).keys.head
      val schema = {
        val r = ParquetFileReader.open(new LocalInputFile(java.nio.file.Paths.get(file)))
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
      val written = schema.getType(schema.getFieldIndex("mts")).asPrimitiveType()
      assert(Seq(Some(written.getPrimitiveTypeName.name), Option(written.getLogicalTypeAnnotation))
        .flatten.mkString(" ") == mts, outputType)
      val snap = LiveStore.snapshot(spark, dir)
      for (k <- Seq(7L, -3L, 40L, 999L)) {
        val want = snap.filter(col("user_id") === k).collect().toSeq
        assert(want.nonEmpty == (k != 999L), s"$outputType key $k")
        assert(LiveStore.lookup(spark, dir, k).collect().toSeq == want, s"$outputType key $k")
      }
      // a file that is not parquet in the key's shard dir fails the lookup
      val shard7 = new java.io.File(dir, "delta_b1/shard=7")
      java.nio.file.Files.write(new java.io.File(shard7, "part-junk.parquet").toPath,
        Array[Byte](1, 2, 3))
      intercept[Exception](LiveStore.lookup(spark, dir, 7L).collect())
    }
  }

  test("warm lookups read nothing through Hadoop's file system") {
    import spark.implicits._
    import org.apache.hadoop.fs.FileSystem
    import scala.jdk.CollectionConverters._
    val dir = storeDir("graft_livestore_nohadoop")
    LiveStore.upsert(Seq(Ev(1, ts(0), 7, "click", 1.0), Ev(2, ts(1), 23, "view", 2.0)).toDF(), 0L, dir)
    LiveStore.upsert(Seq(Ev(3, ts(2), 7, "purchase", 3.0)).toDF(), 1L, dir)
    def looked() = LiveStore.lookup(spark, dir, 7L).collect().map(_.getAs[Long]("n_events")).toSeq
    assert(looked() == Seq(2L))
    // the `file` scheme's read counters (bytes, ops), as Hadoop keeps them
    def reads(): Map[String, Long] =
      Option(FileSystem.getGlobalStorageStatistics.get("file")).toSeq
        .flatMap(_.getLongStatistics.asScala)
        .filter(_.getName.toLowerCase.contains("read")).map(l => l.getName -> l.getValue).toMap
    val before = reads()
    assert(before.nonEmpty, "the upserts' commit reads no Hadoop counter")
    (1 to 20).foreach(_ => assert(looked() == Seq(2L)))
    assert(reads() == before)
  }
}
