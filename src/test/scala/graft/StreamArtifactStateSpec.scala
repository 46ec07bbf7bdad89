package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.udf
import graft.sources.Tables
import graft.streaming.{Ev, Streams}

/** Stream queries share the executor's default artifact state, so a
  * stream's tasks reuse the classes earlier streams generated instead
  * of compiling them again under a per-query class loader; the
  * caller's session keeps its own setting. */
class StreamArtifactStateSpec extends SparkSpec {

  private val isolationKey = "spark.sql.artifact.isolation.enabled"

  test("two streams started through Streams.start run their tasks under one class loader") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loader = udf(() => System.identityHashCode(Thread.currentThread.getContextClassLoader))
      .asNondeterministic()
    def taskLoaders(): Set[Int] = {
      val input = MemoryStream[Ev]
      val out = tempDir("graft_stream_loader").getPath
      val q = Streams.foreachBatchSink(input.toDS().toDF().select(loader().as("cl")), out,
        s"$out/_checkpoint")
      try {
        input.addData(Ev(1, new java.sql.Timestamp(0L), 1, "click", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      Tables.read(spark, s"$out/batch_0").as[Int].collect().toSet
    }
    val first = taskLoaders()
    val second = taskLoaders()
    assert(first.size == 1 && first == second, s"first $first, second $second")
  }

  test("a second back-to-back stream_fold call compiles at most 2 classes") {
    assert(run("stream_fold").count() > 0)
    val before = tools.Profile.compiles()
    assert(run("stream_fold").count() > 0)
    val compiled = tools.Profile.compiles() - before
    assert(compiled <= 2, s"$compiled classes compiled")
  }

  test("a second pass over the ingest stream ops and a join op compiles at most 2 classes") {
    // ~110 distinct generated classes, more than Spark's default code
    // cache of 100 holds: with it, each later pass compiled ~50 again
    val pass = Seq("stream_fold", "es_live_store", "stream_dedup", "stream_command_dedup",
      "q5_multijoin")
    pass.foreach(op => assert(run(op).count() > 0, op))
    val before = tools.Profile.compiles()
    pass.foreach(op => assert(run(op).count() > 0, op))
    val compiled = tools.Profile.compiles() - before
    assert(compiled <= 2, s"$compiled classes compiled")
  }

  test("a stream leaves the caller's isolation setting untouched, also when the sink throws") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def drain(sink: org.apache.spark.sql.DataFrame => Unit) = {
      val input = MemoryStream[Ev]
      input.addData(Ev(1, new java.sql.Timestamp(0L), 1, "click", 1.0))
      Streams.drain(input.toDS().toDF(), tempDir("graft_stream_isolation").getPath,
        "append", rowScaleState = false)((batch, _) => sink(batch))
    }
    try for (caller <- Seq(None, Some("true"), Some("false"))) {
      caller.fold(spark.conf.unset(isolationKey))(spark.conf.set(isolationKey, _))
      // an unset key reads as Spark's default
      val prev = spark.conf.getOption(isolationKey)
      assert(prev == caller.orElse(Some("true")))
      var seen = ""
      drain(batch => seen = batch.sparkSession.conf.get(isolationKey))
      assert(seen == "false")
      assert(spark.conf.getOption(isolationKey) == prev)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        drain(_ => throw new IllegalStateException("sink failed")))
      assert(spark.conf.getOption(isolationKey) == prev)
    } finally spark.conf.unset(isolationKey)
  }
}
