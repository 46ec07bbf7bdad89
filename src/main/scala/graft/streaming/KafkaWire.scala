package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** C8: the Kafka wiring behind [[Streams.eventStream]] — the same
  * typed event stream read from a real broker instead of the
  * split-file stand-in. Selected per session by config:
  *
  *   graft.stream.source=kafka
  *   graft.kafka.servers=host1:9092,host2:9092
  *   graft.kafka.topic=events                    (the default)
  *
  * One flag switches every stream_* operator's source; nothing above
  * the envelope changes (reference:
  * modules/common/src/main/scala/surge/kafka/KafkaConsumer.scala —
  * consumers subscribe and decode, all query semantics live above the
  * record envelope). The sandbox has neither a broker nor the
  * spark-sql-kafka connector jar, so the data path cannot run here;
  * what the specs pin instead:
  *  - [[decode]] — the wire-schema → Ev transform — is the SAME
  *    function the C3 byte-envelope spec drives end-to-end through a
  *    MemoryStream, so a broker swap changes only record transport;
  *  - [[wireSchema]]/[[envelopeSchema]] are contract-pinned
  *    (DataContractSpec) exactly like the driver tables;
  *  - selecting the kafka source actually routes there (the spec
  *    asserts the source lookup is reached).
  */
object KafkaWire {

  /** The fixed record schema Spark's kafka source emits — every
    * version of the connector has shipped exactly these seven
    * columns. */
  val wireSchema: StructType = StructType.fromDDL(
    "key BINARY, value BINARY, topic STRING, partition INT, offset LONG, " +
      "timestamp TIMESTAMP, timestampType INT")

  /** The value-bytes envelope: one UTF-8 JSON document per event —
    * the same shape E9's outbox serializes and the C3 spec feeds. */
  val envelopeSchema: StructType = StructType.fromDDL(
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")

  /** Wire records → typed events: value bytes → UTF-8 string →
    * from_json against the pinned envelope schema. Works identically
    * on the real kafka source output, a MemoryStream of kafka-shaped
    * records, or a static frame — the transform carries no source
    * dependence. */
  def decode(wire: DataFrame): Dataset[Ev] = {
    val s = wire.sparkSession
    import s.implicits._
    wire
      .select(from_json(col("value").cast("string"), envelopeSchema).as("e"))
      .select("e.*").as[Ev]
  }

  /** The broker-backed stream: subscribe + decode. Requires the
    * spark-sql-kafka connector on the classpath and a reachable
    * broker — fails loudly at source lookup otherwise. */
  def readStream(s: SparkSession): Dataset[Ev] = {
    val servers = s.conf.getOption("graft.kafka.servers").getOrElse(
      throw new IllegalArgumentException(
        "graft.stream.source=kafka requires graft.kafka.servers"))
    val topic = s.conf.getOption("graft.kafka.topic").getOrElse("events")
    decode(s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load())
  }
}
