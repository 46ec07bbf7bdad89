package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A/B probe of the streaming state-store provider at production
  * state cardinality — the measurement behind the
  * `graft.stream.stateStore=rocksdb` scale posture (VERDICT r9 #2).
  *
  * The probe stream is exactly-once admission keyed by `event_id`:
  * one state entry PER EVENT, never evicted (no watermark), so state
  * size tracks the LOG, not a bounded key universe — the reference's
  * message-id dedup contract (surge keys its KTable state by
  * aggregate/message id and backs it with RocksDB by default,
  * modules/common/src/main/scala/surge/kafka/streams/CustomRocksDBConfigSetter.scala:32)
  * and the one streaming shape that provably cannot live on executor
  * heap at 100 TB. Spark's default HDFSBackedStateStoreProvider holds
  * every key of every retained version in an on-heap map; the RocksDB
  * provider keeps the working set on local disk with block-cache heap
  * on top.
  *
  * Usage: runMain graft.tools.StateScaleProbe <sfDir> [outJson] [cpus]
  * GRAFT_STATESTORE=rocksdb selects the provider (default = heap).
  * Emits one JSON line: provider, wall, rows admitted, and the final
  * batch's state-operator metrics (numRowsTotal, memoryUsedBytes,
  * custom RocksDB metrics) plus the JVM heap budget — so the
  * "state > heap" claim is a recorded number, not an estimate.
  */
object StateScaleProbe {

  /** One state entry per event_id over the full event log. */
  private[tools] def admitStream(
      s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.eventStream(s, d).toDF()
      .dropDuplicates("event_id")

  /** Run the probe stream to completion; returns (rows admitted,
    * state rows, state memory bytes, custom metrics json, batches). */
  private def runProbe(s: SparkSession, d: String)
      : (Long, Long, Long, String, Int) = {
    var rows = 0L
    var batches = 0
    var stateRows = 0L
    var stateMem = 0L
    var custom = "{}"
    val stream = admitStream(s, d)
    graft.streaming.Streams.withStreamShards(s, stream) {
      val q = stream.writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            // count batches HERE: recentProgress is a bounded ring
            // buffer (default 100 entries), so long runs undercount if
            // read off the progress log (ADVICE r10)
            val n = b.count()
            rows += n
            if (n > 0) batches += 1
            ()
        }
        .outputMode("append")
        .start()
      q.processAllAvailable()
      // recentProgress is a bounded ring buffer; the LAST entry with a
      // state operator carries the final cumulative state metrics
      q.recentProgress.reverseIterator
        .find(_.stateOperators.nonEmpty)
        .foreach { p =>
          val so = p.stateOperators.head
          stateRows = so.numRowsTotal
          stateMem = so.memoryUsedBytes
          custom = scala.jdk.CollectionConverters
            .MapHasAsScala(so.customMetrics).asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""$k":${v.longValue}""" }
            .mkString("{", ",", "}")
        }
      q.stop()
    }
    (rows, stateRows, stateMem, custom, batches)
  }

  /** Small summary DataFrame so the SAME probe is runnable as a
    * ScaleSmoke subset entry (`stream_state_scale`). */
  def summary(s: SparkSession, d: String): DataFrame = {
    val (rows, stateRows, stateMem, _, batches) = runProbe(s, d)
    val provider = s.conf.getOption("graft.stream.stateStore")
      .getOrElse("heap")
    import s.implicits._
    Seq((provider, rows, stateRows, stateMem, batches))
      .toDF("provider", "rows_admitted", "state_rows",
        "state_memory_bytes", "batches")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_scale/sf10")
    val outJson =
      if (args.length > 1) args(1) else "/tmp/state_scale.json"
    val spark = graft.GraftSession(
      if (args.length > 2) args(2).toInt else graft.GraftSession.defaultCores)
    val provider = spark.conf.getOption("graft.stream.stateStore")
      .getOrElse("heap")

    val t0 = System.nanoTime()
    val (rows, stateRows, stateMem, custom, batches) =
      runProbe(spark, sfDir)
    val wall = (System.nanoTime() - t0) / 1e9
    val line =
      f"""{"probe":"stream_state_scale","provider":"$provider","sf_dir":"$sfDir","wall_s":$wall%.1f,"rows_admitted":$rows,"state_rows":$stateRows,"state_memory_bytes":$stateMem,"batches":$batches,"jvm_max_heap_bytes":${Runtime.getRuntime.maxMemory},"custom_metrics":$custom}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outJson),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
