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
}
