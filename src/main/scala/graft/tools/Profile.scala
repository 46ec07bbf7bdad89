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
  * and a write misses `LocalFiles.writeOptions`. Stream ops also print
  * each micro-batch's `durationMs` breakdown (triggerExecution = total; queryPlanning / getBatch /
  * addBatch / walCommit / commitOffsets split it) and state-shard
  * counts. An op is any registered name or a `ScaleSmoke.extraQueries`
  * variant.
  *
  * The `lookup` mode times `LiveStore.lookup` step by step instead
  * ([[lookups]]).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <reps> <op>...
  *        runMain graft.tools.Profile <sfDir> <reps> lookup <roots>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    if (args.lift(2).contains("lookup")) {
      val spark = graft.GraftSession()
      try lookups(spark, sfDir, reps, args.lift(3).fold(5)(_.toInt))
      finally spark.stop()
      return
    }
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

  /** Builds the `es_live_store` store of `sfDir`, compacts it to one
    * base and upserts slices of the event log as deltas until it has
    * `roots` live roots, then times `reps` lookups of its keys twice
    * (the first round warms the JIT and the session's lookup pieces)
    * and prints the second round's median per step: listing the key's
    * shard files, reading them (the pieces included), the fold and
    * decode into the returned frame, and the caller's `collect()`. */
  def lookups(spark: org.apache.spark.sql.SparkSession, sfDir: String, reps: Int,
      roots: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.streaming.LiveStore
    require(1 <= roots && roots <= 1 + LiveStore.compactEvery,
      s"roots must be 1..${1 + LiveStore.compactEvery}: more deltas compact")
    graft.SparkEntry.queries("es_live_store")(spark, sfDir).count()
    val dir = s"${graft.sources.Tables.workDir(spark)}/livestore"
    LiveStore.compact(spark, dir, purgeTombstones = false)
    val events = graft.sources.Tables.events(spark, sfDir)
    // batch ids past every id the stream committed
    (1 until roots).foreach(i => LiveStore.upsert(
      events.filter(pmod(col("event_id"), lit(roots - 1)) === i - 1), 1000L + i, dir))
    val keys = events.select("user_id").distinct().orderBy("user_id").collect().map(_.getLong(0))
    def round(): (Seq[Array[Double]], Int) = {
      val steps = Seq.fill(4)(new Array[Double](reps))
      var files = 0
      for (rep <- 0 until reps) {
        val key = keys(rep % keys.length)
        val t0 = System.nanoTime()
        val found = LiveStore.shardFiles(dir, key)
        val t1 = System.nanoTime()
        val pieces = LiveStore.piecesFor(spark)
        val rows = found.flatMap(pieces.read(_, key))
        val t2 = System.nanoTime()
        val df = LiveStore.answer(spark, pieces, key, rows)
        val t3 = System.nanoTime()
        df.collect()
        val t4 = System.nanoTime()
        Seq(t0, t1, t2, t3, t4).sliding(2).zip(steps).foreach { case (Seq(a, b), s) =>
          s(rep) = (b - a) / 1e6
        }
        files += found.size
      }
      (steps, files)
    }
    round()
    val (steps, files) = round()
    def median(xs: Array[Double]) = xs.sorted.apply(xs.length / 2)
    val Seq(listing, read, decode, collect) = steps.map(median)
    println(f"[profile] lookup roots=$roots keys=${keys.length} reps=$reps " +
      f"files/lookup=${files.toDouble / reps}%.2f median ms: listing=$listing%.3f " +
      f"read=$read%.3f decode=$decode%.3f collect=$collect%.3f " +
      f"total=${median(Array.tabulate(reps)(i => steps.map(_(i)).sum))}%.3f")
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
        // a dump holds the events of every recording running beside
        // this one (a JVM-wide -XX:StartFlightRecording), not just ours
        (out, RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart"))
      } finally java.nio.file.Files.delete(f)
    } finally rec.close()
  }
}
