package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.functions.Multimodal
import graft.streaming.Ev

/** A Kafka record shape: key/value bytes + topic metadata. */
final case class KRecord(key: Array[Byte], value: Array[Byte], topic: String,
    timestamp: Timestamp)

/** C3: Kafka-shaped ingestion — byte key/value envelopes (exactly what
  * the Kafka source emits) parsed into typed events, and the
  * mapPartitions decoder slot (X3 plumbing). */
class IngestionSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

  test("byte envelopes parse into typed events and fold through the engine") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rec(e: Ev): KRecord = KRecord(
      e.user_id.toString.getBytes("UTF-8"),
      s"""{"event_id":${e.event_id},"ts":"${e.ts}","user_id":${e.user_id},"event_type":"${e.event_type}","value":${e.value}}"""
        .getBytes("UTF-8"),
      "events", e.ts)
    val input = MemoryStream[KRecord]
    // the exact transform a Kafka readStream gets — THE decoder the
    // format("kafka") wiring uses, not a spec-local copy
    val parsed = graft.streaming.KafkaWire.decode(input.toDS().toDF())
    val folded = graft.streaming.Streams.foldEvents(parsed)
    val q = folded.writeStream
      .option("checkpointLocation", tempDir("graft_checkpoint").getPath)
      .format("memory").queryName("kafka_shape_test")
      .outputMode("update").start()
    input.addData(rec(Ev(1, ts(0), 3, "signup", 0.0)), rec(Ev(2, ts(1), 3, "purchase", 2.50)))
    q.processAllAvailable()
    q.stop()
    val st = spark.table("kafka_shape_test").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("balance_c")).toMap
    assert(st == Map(3L -> 1250L))
  }

  test("kafka wire records with the connector's full 7-column schema decode losslessly") {
    import spark.implicits._
    val wire = graft.streaming.KafkaWire.wireSchema
    // a static frame carrying EXACTLY the kafka source's record shape
    // (key/value + topic/partition/offset/timestamp/timestampType)
    val events = Seq(Ev(10, ts(0), 7, "view", 1.25), Ev(11, ts(2), 8, "error", -0.5))
    val rows = events.zipWithIndex.map { case (e, i) =>
      org.apache.spark.sql.Row(
        e.user_id.toString.getBytes("UTF-8"),
        s"""{"event_id":${e.event_id},"ts":"${e.ts}","user_id":${e.user_id},"event_type":"${e.event_type}","value":${e.value}}"""
          .getBytes("UTF-8"),
        "events", 0, i.toLong, e.ts, 0)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), wire)
    assert(df.schema == wire)
    val decoded = graft.streaming.KafkaWire.decode(df)
    // the decoder's output schema IS the Ev stream schema every
    // stream_* operator consumes (names + types; from_json output is
    // nullable where the case-class encoder pins primitives non-null)
    assert(decoded.schema.map(f => f.name -> f.dataType) ==
      implicitly[org.apache.spark.sql.Encoder[Ev]].schema
        .map(f => f.name -> f.dataType))
    assert(decoded.collect().toSet == events.toSet, "wire round-trip lost a field")
  }

  test("graft.stream.source=kafka routes eventStream to the kafka source lookup") {
    try {
      spark.conf.set("graft.stream.source", "kafka")
      spark.conf.set("graft.kafka.servers", "broker:9092")
      // no connector jar ships in this sandbox, so reaching the kafka
      // DataSource lookup IS the proof the flag switched transports —
      // the failure must be the missing kafka source, nothing earlier
      val e = intercept[Exception] {
        graft.streaming.Streams.eventStream(spark, sf)
      }
      assert(e.getMessage.toLowerCase.contains("kafka"),
        s"expected the kafka source lookup to be reached, got: ${e.getMessage}")
    } finally {
      spark.conf.unset("graft.stream.source")
      spark.conf.unset("graft.kafka.servers")
    }
    // and with the flag unset the file transport still serves
    assert(graft.streaming.Streams.eventStream(spark, sf).isStreaming)
  }

  test("mapPartitions decoder slot is deterministic and covers every doc") {
    val decoded = Multimodal.decodePartitions(spark, sf).collect()
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(decoded.length == total)
    assert(decoded.forall(f => f.width >= 64 && f.checksum.length == 32))
    val again = Multimodal.decodePartitions(spark, sf).collect()
    assert(decoded.map(_.checksum).sorted.sameElements(again.map(_.checksum).sorted))
  }
}
