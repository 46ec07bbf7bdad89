package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.api.{Account, AccountModel, GraftEngine, Keyed}
import graft.streaming.Ev

/** The surge programming model on Spark: replay, sequential command
  * processing, and streaming state through the typed engine. */
class GraftEngineSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

  private def engine = {
    import spark.implicits._
    new GraftEngine(AccountModel)
  }

  test("replayState folds events in (ts, event_id) order per aggregate") {
    import spark.implicits._
    val evs = Seq(
      Ev(2, ts(1), 7, "purchase", 5.00), // arrives "before" signup in the input
      Ev(1, ts(0), 7, "signup", 0.0),
      Ev(3, ts(2), 7, "purchase", 4.00)).toDS()
    val st = engine.replayState(evs).collect().map(k => k.aggregateId -> k.state).toMap
    // ordered fold: signup(+1000) → purchase(−500) → purchase(−400)
    assert(st(7L) == Account(100L, 2L, 3L))
  }

  test("processCommands applies commands sequentially per aggregate") {
    import spark.implicits._
    val snapshot = Seq(Keyed(1L, Account(1000L, 0L, 1L))).toDS()
    val cmds = Seq(
      Ev(10, ts(1), 1, "purchase", 6.00), // accepted, balance 1000→400
      Ev(11, ts(2), 1, "purchase", 5.00), // rejected (400 < 500)
      Ev(12, ts(3), 1, "purchase", 4.00), // accepted, 400→0
      Ev(13, ts(1), 2, "purchase", 0.50)  // no snapshot state → rejected
    ).toDS()
    val out = engine.processCommands(snapshot, cmds).collect()
      .map(o => o.command.event_id -> o.accepted).toMap
    assert(out == Map(10L -> true, 11L -> false, 12L -> true, 13L -> false))
  }

  test("streamingState converges to batch replay across incremental batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = engine.streamingState(input.toDS()).writeStream
      .option("checkpointLocation", tempDir("graft_checkpoint").getPath)
      .format("memory").queryName("engine_stream").outputMode("update").start()
    input.addData(Ev(1, ts(0), 9, "signup", 0.0))
    q.processAllAvailable()
    input.addData(Ev(2, ts(1), 9, "purchase", 3.00))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("engine_stream").as[Keyed[Account]].collect()
      .maxBy(_.state.n_events)
    assert(last == Keyed(9L, Account(700L, 1L, 2L)))
  }

  test("api_replay query matches engine semantics on real data") {
    val df = run("api_replay")
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("user_id", "balance_c", "n_purchases", "n_events"))
  }
}
