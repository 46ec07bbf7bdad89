package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Ev, Streams}

/** Passivation (state timeout), streaming session windows, and the
  * foreachBatch transactional sink. */
class StreamingAdvancedSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

  test("state passivates via event-time timeout and emits final state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.foldWithPassivation(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("passivation_test")
      .outputMode("append").start()
    // user 5 is active at t0..t1, then silent; a later event from
    // another user advances the watermark far past 5's timeout
    input.addData(Ev(1, ts(0), 5, "signup", 0.0), Ev(2, ts(1), 5, "purchase", 2.0))
    q.processAllAvailable()
    input.addData(Ev(3, ts(600), 6, "click", 1.0))
    q.processAllAvailable()
    input.addData(Ev(4, ts(1200), 6, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("passivation_test")
      .filter(col("user_id") === 5).collect()
    assert(emitted.length == 1, "passivated state should be emitted exactly once")
    assert(emitted(0).getAs[Long]("balance_c") == 1200L)
    assert(emitted(0).getAs[Long]("n_events") == 2L)
  }

  test("streaming session windows close after the gap and match batch sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.sessionCounts(input.toDS().toDF(), "30 minutes")
      .writeStream.format("memory").queryName("session_test")
      .outputMode("append").start()
    input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(10), 1, "click", 1.0),
      Ev(3, ts(50), 1, "click", 1.0)) // second session (gap 40 min > 30)
    q.processAllAvailable()
    input.addData(Ev(4, ts(300), 2, "click", 1.0)) // advance watermark, close sessions
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("session_test")
      .filter(col("user_id") === 1)
      .collect().map(r => r.getAs[Long]("sess_start_s") -> r.getAs[Long]("sess_n")).toMap
    assert(sessions == Map(ts(0).getTime / 1000 -> 2L, ts(50).getTime / 1000 -> 1L))
  }

  test("foreachBatch sink lands each micro-batch atomically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_febatch").toString
    val input = MemoryStream[Ev]
    val q = Streams.foreachBatchSink(input.toDS().toDF(), dir)
    input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(1), 2, "view", 2.0))
    q.processAllAvailable()
    input.addData(Ev(3, ts(2), 3, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val all = spark.read.parquet(s"$dir/batch_*")
    assert(all.count() == 3)
    assert(all.select("event_id").distinct().count() == 3)
  }
}
