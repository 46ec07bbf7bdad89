package graft

/** Optimization round r14: sizing laws introduced by the measured
  * optimizations — streaming state shards derived from split-source
  * row mass instead of a flat constant.
  */
class Round17Spec extends SparkSpec {

  test("stateShardsFor sizes state shards from measured per-batch mass") {
    import graft.streaming.Streams
    // bench-scale batches (33k events / 5k docs): the 2-shard floor —
    // never 1, so cross-shard state merge stays exercised
    assert(Streams.stateShardsFor(Some(1L), 32) == 2)
    assert(Streams.stateShardsFor(Some(33000L), 32) == 2)
    assert(Streams.stateShardsFor(Some(500000L), 32) == 2)
    // ~500k rows/shard beyond the floor
    assert(Streams.stateShardsFor(Some(1000001L), 32) == 3)
    // sf100-scale batches: wanted width caps at the session default —
    // production parallelism belongs to the session config
    assert(Streams.stateShardsFor(Some(33000000L), 32) == 32)
    assert(Streams.stateShardsFor(Some(33000000L), 256) == 66)
    // unknown mass (e.g. the broker-backed source): the historical
    // flat default, unchanged behavior
    assert(Streams.stateShardsFor(None, 32) == 8)
  }

  test("row-scale state lifts the shard count above the input rule") {
    import graft.streaming.Streams
    // the stream_command_dedup finding: 73k state keys at the input
    // rule's 2 shards measured addBatch 2.1 s/batch vs 0.65 s at 8 —
    // state maintenance is O(state) work that parallelizes with
    // shards, budgeted at ~10k keys/shard
    assert(Streams.stateShardsFor(Some(33000L), 32, Some(73000L)) == 8)
    assert(Streams.stateShardsFor(Some(33000L), 32, Some(100000L)) == 10)
    // tiny state never drags the count below the input rule
    assert(Streams.stateShardsFor(Some(33000L), 32, Some(500L)) == 2)
    // and the cap still wins at scale
    assert(Streams.stateShardsFor(Some(33000000L), 32, Some(1000000000L)) == 32)
  }

  test("live-store shard layout derives from source mass and is store metadata") {
    import graft.streaming.LiveStore
    // sizing law: ~500k rows/shard, min 2, session cap; unknown mass
    // keeps the historical 16 (direct-upsert stores, e.g. this spec's)
    assert(LiveStore.storeShardsFor(None, 32) == 16)
    assert(LiveStore.storeShardsFor(Some(100000L), 32) == 2)
    assert(LiveStore.storeShardsFor(Some(1000001L), 32) == 3)
    assert(LiveStore.storeShardsFor(Some(100000000L), 32) == 32)
    // the modulus is STORE metadata: a recorded layout is read back by
    // any later session; an unmarked store keeps the default
    val root = tempDir("graft_shards")
    assert(LiveStore.storeShards(root.getPath + "/unmarked") == 16)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root.getPath, "_nshards"), "5")
    assert(LiveStore.storeShards(root.getPath) == 5)
  }

  test("withStreamShards sizes from the started frame's file-source mass") {
    import graft.streaming.{Ev, Streams}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val root = tempDir("graft_mass")
    try {
      spark.conf.set(key, "32")
      // a split dir of 3 files, 3,000,006 footer rows ⇒ 1,000,002
      // rows/batch ⇒ 3 shards (a constant column keeps the files tiny)
      val dir = s"$root/split"
      spark.range(0L, 3000006L, 1L, Streams.sourceBatches)
        .select(lit(0).as("x")).write.parquet(dir)
      val big = splitFrame(dir)
      var seen = -1
      Streams.withStreamShards(spark, big) { seen = spark.conf.get(key).toInt }
      assert(seen == 3)
      // row-scale state: the total mass is the state-key estimate
      Streams.withStreamShards(spark, big, rowScaleState = true) {
        seen = spark.conf.get(key).toInt
      }
      assert(seen == 32)
      assert(spark.conf.get(key) == "32", "the session width must be restored")
      // a frame with no file source has unknown mass: the flat default,
      // never what the previous file-source run measured
      val mem = MemoryStream[Ev].toDF()
      assert(Streams.sourceRows(spark, mem).isEmpty)
      Streams.withStreamShards(spark, mem) { seen = spark.conf.get(key).toInt }
      assert(seen == 8)
    } finally spark.conf.set(key, prev)
  }

  private def splitFrame(dir: String) =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  test("every split source's started frame carries its footer row mass") {
    import graft.streaming.Streams
    import graft.sources.Tables
    // None here would silently fall back to the flat 8 shards
    val maxOk = Tables.maxIdFromStats(spark, s"$sf/lineitem.parquet", "l_orderkey",
      Tables.lineitem(spark, sf))
    val docs = Streams.docSplitSource(spark, sf)
    val idx = Streams.idxDeltaSplitSource(spark, sf)
    val li = Streams.liDeltaSplitSource(spark, sf, maxOk * 4 / 5)
    for ((name, dir, frame) <- Seq(
        ("events", Streams.splitSource(spark, sf), Streams.eventStream(spark, sf).toDF()),
        ("docs", docs, spark.readStream.schema(Tables.documents(spark, sf).schema)
          .option("maxFilesPerTrigger", "1").parquet(docs)),
        ("idx-delta", idx, splitFrame(idx)),
        ("li-delta", li, splitFrame(li)))) {
      val rows = spark.read.parquet(dir).count()
      assert(rows > 0, name)
      assert(Streams.sourceRows(spark, frame) == Some(rows), name)
    }
  }
}
