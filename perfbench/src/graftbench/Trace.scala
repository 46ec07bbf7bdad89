package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and counter records, written out as JSON lines when
  * the run ends. Times are epoch milliseconds: the benchmark's own
  * clocks carry microsecond precision, Spark's listener times are
  * whole milliseconds. */
final class Trace(val traced: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val records = new ConcurrentLinkedQueue[String]()

  def emit(kind: String, fields: (String, Any)*): Unit =
    records.add(Trace.json((("k" -> kind) +: fields).toMap))

  /** The call every job, trigger and planner execution started while
    * it runs belongs to: the benchmark is a single closed-loop client,
    * so "running now" is exact (graft.Bench's runId → op map). */
  val currentCall = new AtomicLong(-1L)

  def writeTo(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Path.of(path))
    try records.asScala.foreach { r => w.write(r); w.newLine() } finally w.close()
  }

  /** Micro-batch progress. The untraced run keeps only what the
    * end-to-end batch latency needs; the traced run keeps every
    * trigger phase and the state operators. */
  final class Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    private val runToCall = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      runToCall.put(e.runId, currentCall.get())
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val call = Option(runToCall.get(p.runId)).map(_.longValue()).getOrElse(-1L)
      val base = Seq("call" -> call, "run" -> p.runId.toString, "batch" -> p.batchId,
        "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "ms" -> d.getOrElse("triggerExecution", 0L), "rows" -> p.numInputRows)
      if (!traced) emit("trigger", base: _*)
      else emit("trigger", base ++ Seq(
        "phases" -> d.toMap,
        "state" -> p.stateOperators.toSeq.map(s => Map(
          "commit_ms" -> s.commitTimeMs, "update_ms" -> s.allUpdatesTimeMs,
          "rows_total" -> s.numRowsTotal, "memory_bytes" -> s.memoryUsedBytes,
          "shards" -> s.numShufflePartitions))): _*)
    }
  }

  /** Jobs, stages and task metrics, summed per job. */
  final class Scheduler extends SparkListener {
    private final class JobAcc(val id: Int, val call: Long, val group: String, val t0: Long) {
      @volatile var t1: Long = -1L
      val sums = new Array[Long](Trace.TaskFields.size)
      var stages = 0
    }
    private val jobs = new ConcurrentHashMap[Int, JobAcc]()
    private val stageToJob = new ConcurrentHashMap[Int, JobAcc]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val call = props.flatMap(p => Option(p.getProperty(Trace.CallProp)))
        .map(_.toLong).getOrElse(-1L)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val acc = new JobAcc(e.jobId, call, group, e.time)
      jobs.put(e.jobId, acc)
      e.stageIds.foreach(s => stageToJob.put(s, acc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageToJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        // Spark UI's scheduler delay: task time not spent running,
        // deserializing or shipping the result
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        val v = Array(1L, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime, delay,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.outputMetrics.recordsWritten)
        j.synchronized(v.indices.foreach(i => j.sums(i) += v(i)))
      }

    def dump(): Unit = jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
      j.synchronized {
        emit("job", Seq("id" -> j.id, "call" -> j.call, "group" -> j.group,
          "t0" -> j.t0, "t1" -> (if (j.t1 < 0) j.t0 else j.t1), "stages" -> j.stages) ++
          Trace.TaskFields.zip(j.sums.toSeq): _*)
      }
    }
  }

  /** Planner phases of every finished query execution, attributed to
    * the call by the time its analysis started. */
  final class Planner extends QueryExecutionListener {
    private def rec(qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        emit("plan", "t0" -> ph.values.map(_.startTimeMs).min, "ok" -> ok,
          "phases" -> ph.map { case (k, v) => k -> v.durationMs })
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe, ok = false)
  }

  private var scheduler: Option[Scheduler] = None

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(new Progress)
    if (traced) {
      val s = new Scheduler
      spark.sparkContext.addSparkListener(s)
      spark.listenerManager.register(new Planner)
      scheduler = Some(s)
    }
  }

  /** Let every posted listener event reach the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000L)

  def finish(spark: SparkSession, path: String): Unit = {
    drain(spark)
    scheduler.foreach(_.dump())
    writeTo(path)
  }
}

object Trace {
  val CallProp = "graftbench.call"

  /** Task metrics summed per job, in the order Scheduler collects them. */
  val TaskFields: Seq[String] = Seq("tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
    "launch_delay_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "output_rows")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(value: Any): String = mapper.writeValueAsString(value)
}
