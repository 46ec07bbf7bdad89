package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** C1/C2: table loaders expose the expected schemas; csv/json sinks
  * round-trip with explicit schemas. */
class SourcesSpec extends SparkSpec {

  test("all ten tables load with their documented key columns") {
    val keyCols = Map(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    keyCols.foreach { case (t, k) =>
      val df = if (t == "events") Tables.events(spark, sf) else Tables.load(spark, sf, t)
      assert(df.columns.contains(k), s"$t missing $k")
      assert(df.count() > 0, s"$t empty")
    }
  }

  test("events ts survives the nanos conversion with microsecond precision") {
    val ts = Tables.events(spark, sf).select(max("ts")).collect()(0).getTimestamp(0)
    assert(ts.getTime > 1704067200000L) // after 2024-01-01
  }

  test("csv round-trip preserves the projection") {
    val dir = tempDir("graft_csv").toString
    val src = Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema("c_custkey LONG, c_name STRING, c_acctbal DOUBLE").csv(dir)
    assert(back.collect().map(_.toSeq).toSet == src.collect().map(_.toSeq).toSet)
  }

  test("json round-trip preserves the event envelope") {
    val dir = tempDir("graft_json").toString
    val src = Tables.events(spark, sf).select("event_id", "user_id", "event_type", "value")
    src.write.mode("overwrite").json(dir)
    val back = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE").json(dir)
    assert(back.collect().map(_.toSeq).toSet == src.collect().map(_.toSeq).toSet)
  }
}
