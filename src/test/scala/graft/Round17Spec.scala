package graft

/** Optimization round r14: sizing laws introduced by the measured
  * optimizations — streaming state shards derived from split-source
  * row mass instead of a flat constant.
  */
class Round17Spec extends SparkSpec {

  test("a stream's state shards size from the started frame's file-source mass") {
    import graft.streaming.{Ev, Streams}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val root = tempDir("graft_mass")
    withConf(key -> "32") {
      // a split dir of 3 files, 3,000,006 footer rows ⇒ 1,000,002
      // rows/batch ⇒ 3 shards (a constant column keeps the files tiny)
      val dir = s"$root/split"
      spark.range(0L, 3000006L, 1L, Streams.sourceBatches)
        .select(lit(0).as("x")).write.parquet(dir)
      val big = splitFrame(dir)
      assert(Streams.stateShards(big, rowScaleState = false) == 3)
      // the query's own session runs at that width; the caller's keeps 32
      val seen = collection.mutable.Set.empty[String]
      Streams.drain(big, s"$root/checkpoint", "append", rowScaleState = false) {
        (batch, _) => seen += batch.sparkSession.conf.get(key)
      }
      assert(seen == Set("3"))
      assert(spark.conf.get(key) == "32", "the caller's width must stay as it was")
      // row-scale state: the total mass is the state-key estimate
      assert(Streams.stateShards(big, rowScaleState = true) == 32)
      // a frame with no file source has unknown mass: the flat default,
      // never what the previous file-source run measured
      val mem = MemoryStream[Ev].toDF()
      assert(Streams.sourceRows(spark, mem).isEmpty)
      assert(Streams.stateShards(mem, rowScaleState = false) == 8)
    }
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
