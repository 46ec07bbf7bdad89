package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{AccountState, Ev, Streams}

/** The surge loop under true streaming conditions: incremental batches
  * through flatMapGroupsWithState must converge to the batch fold. */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

  test("incremental stream fold equals batch fold over the same events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = Streams.foldEvents(input.toDS()).writeStream
      .option("checkpointLocation", tempDir("graft_checkpoint").getPath)
      .format("memory").queryName("fold_test").outputMode("update").start()
    // batch 1: user 1 signs up and buys; user 2 errors
    input.addData(
      Ev(1, ts(0), 1, "signup", 10.0),
      Ev(2, ts(1), 1, "purchase", 5.00),
      Ev(3, ts(2), 2, "error", 2.50))
    q.processAllAvailable()
    // batch 2: more activity for both users
    input.addData(
      Ev(4, ts(3), 1, "purchase", 1.25),
      Ev(5, ts(4), 2, "signup", 0.0))
    q.processAllAvailable()
    q.stop()
    val finalStates = spark.table("fold_test")
      .groupBy("user_id")
      .agg(max_by(struct(col("balance_c"), col("n_purchases"), col("n_events"),
        col("last_ts_s")), col("n_events")).as("s"))
      .select("user_id", "s.balance_c", "s.n_purchases", "s.n_events", "s.last_ts_s")
      .as[AccountState].collect().map(s => s.user_id -> s).toMap
    assert(finalStates(1L) == AccountState(1, 1000 + 500 + 125, 2, 3, ts(3).getTime / 1000))
    assert(finalStates(2L) == AccountState(2, -250 + 1000, 0, 2, ts(4).getTime / 1000))
  }

  test("stream_fold query equals batch es_state_fold at sf0.001") {
    val streamed = run("stream_fold").collect().map(_.toSeq).toSet
    val batch = run("es_state_fold").collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream_latest equals batch es_latest_state") {
    val streamed = run("stream_latest").collect().map(_.toSeq).toSet
    val batch = run("es_latest_state").collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream dedup drops duplicate event ids across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val deduped = input.toDS().toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
    val q = deduped.writeStream
      .option("checkpointLocation", tempDir("graft_checkpoint").getPath)
      .format("memory").queryName("dedup_test")
      .outputMode("append").start()
    input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(1, ts(0), 1, "click", 1.0))
    q.processAllAvailable()
    input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(1), 1, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_test").count() == 2)
  }

  test("driver event source replays as sourceBatches chronological micro-batches") {
    // every stream_* oracle entry must run the MULTI-batch path: the
    // split source feeds one file per trigger, in time order (the
    // watermarked dedup would drop a whole batch delivered behind an
    // already-advanced watermark)
    var seen = List.empty[(Long, Long, Long, Long)] // (batchId, rows, minTs, maxTs)
    val q = Streams.eventStream(spark, "/root/testdata/sf0.001").toDF().writeStream
      .option("checkpointLocation", tempDir("graft_checkpoint").getPath)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val agg = b.agg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts"))),
          org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")))).collect()(0)
        seen ::= ((id, agg.getLong(0), agg.getLong(1), agg.getLong(2)))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val ordered = seen.reverse
    assert(ordered.map(_._1) == (0L until Streams.sourceBatches.toLong).toList,
      s"expected ${Streams.sourceBatches} micro-batches, got $ordered")
    assert(ordered.forall(_._2 > 0L), s"every batch must carry rows: $ordered")
    ordered.sliding(2).foreach {
      case List(a, b) =>
        assert(a._4 <= b._3, s"batches must be chronological: $a then $b")
      case _ =>
    }
  }
}
