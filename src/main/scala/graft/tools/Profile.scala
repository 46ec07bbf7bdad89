package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Times ops back to back in ONE [[graft.GraftSession]], the bench's
  * execution shape: each op runs `reps` times, in the order listed,
  * with the cache cleared before every call (as Bench clears it
  * between groups). Each call prints its wall time, row count and
  * Spark job count; the job count is deterministic where wall time on
  * a shared host swings 2-4×, so it is the mechanism signal for "fewer
  * jobs" changes. `compiles=` counts the classes Spark's code
  * generator compiled during the call, on the driver and in local
  * executors (`CodegenMetrics`; a cache hit compiles nothing), the
  * deterministic signal for "generated code reused" changes. Next to
  * it, each call prints the child processes it launched (a JFR
  * `jdk.ProcessStart` recording per call), by command and by the code
  * that started it ([[starter]]): Hadoop's local file
  * system forks `chmod`/`readlink` where no `libhadoop.so` is loaded
  * and a write runs outside `LocalFiles.scoped`. Stream ops also print
  * each micro-batch's `durationMs` breakdown (triggerExecution = total; queryPlanning / getBatch /
  * addBatch / walCommit / commitOffsets split it) and state-shard
  * counts. An op is any registered name or a `ScaleSmoke.extraQueries`
  * variant.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <reps> <op>...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val ops = args.drop(2).toSeq
    def lookup(op: String) =
      ScaleSmoke.extraQueries.get(op).orElse(graft.SparkEntry.queries.get(op))
    val unknown = ops.filter(lookup(_).isEmpty)
    require(unknown.isEmpty, s"unknown op(s): ${unknown.mkString(", ")}")
    val spark = graft.GraftSession()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val shards = p.stateOperators.map(_.numShufflePartitions).mkString(",")
        println(s"[profile]   batch=${p.batchId} rows=${p.numInputRows} " +
          s"stateShards=[$shards] " +
          s"durations=${new java.util.TreeMap[String, java.lang.Long](p.durationMs)}")
      }
    })
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    // session + FS warm-up, so the first call is not charged for them
    graft.sources.Tables.lineitem(spark, sfDir).count()
    def drain(): Unit =
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000L)
    drain(); jobs.set(0)
    for (op <- ops; rep <- 1 to reps) {
      spark.sharedState.cacheManager.clearCache()
      val c0 = compiles()
      val t0 = System.nanoTime()
      val (n, starts) = processStarts(lookup(op).get(spark, sfDir).count())
      val secs = (System.nanoTime() - t0) / 1e9
      val compiled = compiles() - c0
      // the call's job and batch events are on the async listener bus
      drain()
      val byCommand = starts
        .groupBy(e => (e.getString("command").takeWhile(_ != ' '), starter(e)))
        .map { case ((c, by), es) => s"$c ${es.size} from $by" }.toSeq.sorted.mkString(", ")
      println(f"[profile] $op rep$rep: $secs%.2f s rows=$n jobs=${jobs.getAndSet(0)} " +
        s"compiles=$compiled forks=${starts.size} [$byCommand]")
    }
    spark.stop()
  }

  /** Classes Spark's code generator has compiled in this JVM so far. */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Who launched a process: the first frame of its stack outside the
    * JDK and Hadoop's `Shell`, as `Class.method` (`?` without a stack). */
  def starter(e: RecordedEvent): String = {
    import scala.jdk.CollectionConverters._
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(_.getMethod)
      .find { m =>
        val t = m.getType.getName
        !t.startsWith("java.") && !t.startsWith("jdk.") &&
          !t.startsWith("org.apache.hadoop.util.Shell")
      }
      .fold("?")(m => s"${m.getType.getName}.${m.getName}")
  }

  /** `body`'s value and the `jdk.ProcessStart` events (with stack
    * traces) of every process the JVM launched while it ran. */
  def processStarts[T](body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = body
      rec.stop()
      val f = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
      try {
        rec.dump(f)
        import scala.jdk.CollectionConverters._
        (out, RecordingFile.readAllEvents(f).asScala.toSeq)
      } finally java.nio.file.Files.delete(f)
    } finally rec.close()
  }
}
