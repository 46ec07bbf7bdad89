package graft

import java.sql.Timestamp
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.sources.Tables
import graft.streaming.{Ev, LiveStore}

/** `Tables.read` takes the schema from one driver-side footer read
  * instead of Spark's inference job. It must give exactly the schema
  * `spark.read.parquet` gives, on every table shape graft reads, and
  * building its frame must launch no Spark job. */
class TablesReadSpec extends SparkSpec {

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def plain(paths: String*) = spark.read.parquet(paths: _*)

  private def sameSchema(paths: String*): Unit =
    assert(Tables.read(spark, paths: _*).schema == plain(paths: _*).schema, paths)

  private def tmp(prefix: String): String =
    tempDir(prefix).getPath

  /** Spark jobs started while `body` runs, drained on both sides. */
  private def jobsDuring[T](body: => T): Int = {
    val bridge = org.apache.spark.graftbridge.ListenerBridge
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    bridge.waitUntilEmpty(spark.sparkContext, 30000L)
    spark.sparkContext.addSparkListener(l)
    try { body; bridge.waitUntilEmpty(spark.sparkContext, 30000L); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("footer schema equals Spark's inferred schema on every test table, nanosAsLong on and off") {
    for (v <- Seq("true", "false"); t <- Tables.names)
      withConf(nanosKey -> v) { sameSchema(s"$sf/$t.parquet") }
  }

  test("a LiveStore root written with partitionBy(shard) keeps its discovered shard column") {
    import spark.implicits._
    val dir = tmp("graft_read_live") + "/store"
    LiveStore.upsert(Seq(Ev(1, new Timestamp(0L), 7, "click", 1.0),
      Ev(2, new Timestamp(60000L), 23, "purchase", 2.5)).toDF(), 0L, dir)
    val root = new java.io.File(dir).listFiles().filter(_.getName == "delta_b0").head.getPath
    sameSchema(root)
    assert(Tables.read(spark, root).schema.fieldNames.last == "shard")
  }

  test("a multi-path batch read takes the first file by full path, not by argument order") {
    import spark.implicits._
    val root = tmp("graft_read_batches")
    // b_2..b_9 carry `low`, b_10 and b_11 `high`: sorted by path,
    // b_10's file comes first, so Spark's schema has `high` only
    (2 to 11).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .withColumn(if (i >= 10) "high" else "low", lit(i))
        .write.parquet(s"$root/b_$i")
    }
    val paths = (2 to 11).map(i => s"$root/b_$i")
    sameSchema(paths: _*)
    assert(Tables.read(spark, paths: _*).schema.fieldNames.toSeq == Seq("id", "v", "high"))
    // with schema merging on, every file counts, as in Spark's read
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      sameSchema(paths: _*)
      assert(Set("low", "high").subsetOf(Tables.read(spark, paths: _*).schema.fieldNames.toSet))
    }
  }

  test("events ts in all three physical forms reads as Spark reads it, nanosAsLong on and off") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val root = tmp("graft_read_ts")
    val base = spark.range(3).select(col("id").as("event_id"),
      timestamp_micros(col("id") * 1000000L).as("ts"), col("id").as("user_id"),
      lit("click").as("event_type"), (col("id") * 1.5).as("value"))
    base.write.parquet(s"$root/micros_utc")
    base.withColumn("ts", col("ts").cast(TimestampNTZType)).write.parquet(s"$root/micros_ntz")
    val msg = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |}""".stripMargin)
    new java.io.File(s"$root/nanos").mkdirs()
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$root/nanos/part-0.parquet")).withType(msg).build()
    try (0 until 3).foreach { i =>
      w.write(new SimpleGroupFactory(msg).newGroup().append("event_id", i.toLong)
        .append("ts", i * 1000000000L).append("user_id", i.toLong)
        .append("event_type", "click").append("value", i * 1.5))
    } finally w.close()
    for (v <- Seq("true", "false"); form <- Seq("micros_utc", "micros_ntz", "nanos"))
      withConf(nanosKey -> v) {
        val p = s"$root/$form"
        val ours = Try(Tables.read(spark, p).schema)
        val spark0 = Try(plain(p).schema)
        // nanos without nanosAsLong has no Spark type: both sides refuse it
        assert(ours.isSuccess == spark0.isSuccess, s"$form nanosAsLong=$v: $ours vs $spark0")
        if (ours.isSuccess) assert(ours.get == spark0.get, s"$form nanosAsLong=$v")
      }
    withConf(nanosKey -> "true") {
      assert(Tables.normalizeTs(Tables.read(spark, s"$root/nanos")).schema ==
        Tables.normalizeTs(Tables.read(spark, s"$root/micros_ntz")).schema)
    }
  }

  test("a directory without data files fails with Spark's own error class") {
    val empty = tmp("graft_read_empty")
    def errorClass(f: => Any): String = {
      val e = intercept[org.apache.spark.sql.AnalysisException](f)
      e.getCondition
    }
    assert(errorClass(Tables.read(spark, empty)) == errorClass(plain(empty)))
  }

  test("building Tables.read frames and a LiveStore lookup launches no Spark job") {
    import spark.implicits._
    val dir = tmp("graft_read_jobs") + "/store"
    LiveStore.upsert(Seq(Ev(1, new Timestamp(0L), 7, "click", 1.0)).toDF(), 0L, dir)
    LiveStore.upsert(Seq(Ev(2, new Timestamp(60000L), 7, "purchase", 2.5)).toDF(), 1L, dir)
    assert(jobsDuring(Tables.names.foreach(t => Tables.read(spark, s"$sf/$t.parquet"))) == 0)
    assert(jobsDuring(LiveStore.lookup(spark, dir, 7L)) == 0)
    var got = Seq.empty[Long]
    assert(jobsDuring {
      got = LiveStore.lookup(spark, dir, 7L).collect().map(_.getAs[Long]("n_events")).toSeq
    } == 0)
    assert(got == Seq(2L))
  }

  test("src/main reads parquet only through Tables.read") {
    // the one plain read left is Tables.read's no-data-file fallback
    val call = java.util.regex.Pattern.quote("read" + ".parquet(").r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    val counts = hits.map(f => f.getFileName.toString ->
      call.findAllIn(java.nio.file.Files.readString(f)).size)
      .filter(_._2 > 0)
    assert(counts == Seq("Tables.scala" -> 1))
  }
}
