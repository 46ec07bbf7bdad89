package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Ev

/** Stream-stream interval join: each purchase stream event joins the
  * signup stream within a bounded event-time window — both sides'
  * state is watermark-bounded (the join Spark runs with two
  * watermarked buffers, surge's cross-aggregate correlation case). */
class StreamJoinSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

  test("purchases join signups within the event-time interval") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val signups = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val sdf = signups.toDS().toDF()
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val pdf = purchases.toDS().toDF()
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = pdf.join(sdf,
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 2 HOURS"))
    val q = joined.writeStream
      .option("checkpointLocation", tempDir("graft_checkpoint").getPath)
      .format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    signups.addData(Ev(1, ts(0), 1, "signup", 0.0), Ev(2, ts(0), 2, "signup", 0.0))
    purchases.addData(
      Ev(10, ts(30), 1, "purchase", 1.0),   // within 2h of user 1's signup
      Ev(11, ts(300), 2, "purchase", 1.0),  // 5h after user 2's signup → no match
      Ev(12, ts(40), 3, "purchase", 1.0))   // user 3 never signed up → no match
    q.processAllAvailable()
    q.stop()
    val matched = spark.table("ssjoin_test").select("event_id").collect().map(_.getLong(0)).toSet
    assert(matched == Set(10L))
  }
}
