package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{FileSourceScanExec, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.streaming.LiveStore

/** One benchmark run in its own JVM: set up, measure closed-loop passes
  * for the requested seconds, and record every timed call with its
  * output check. Arguments are `key=value` pairs (see run.py).
  *
  * Only public entry points of the program are timed:
  * `SparkEntry.queries(name)`, `LiveStore.upsert` and `LiveStore.lookup`.
  */
object Main {
  /** `ingest`'s event log: 100k events on 1,500 aggregates, one of them
    * taking 10% of the events, so a micro-batch holds about 33k. The
    * per-trigger fixed cost still dominates (a pass takes about 15%
    * longer than with 10k-event batches), but less of a trigger is
    * hand-offs between threads, the part that stretches most when the
    * host is busy. */
  val IngestLog = Sizes(events = 100000, users = 1500, hotPct = 10)

  /** `serve`'s event log: 30k events on 450 aggregates, 10% on one. */
  val ServeLog = Sizes(events = 30000, users = 450, hotPct = 10)

  /** `ingest`'s stream ops, one state mechanism each (see README). */
  val IngestOps = Seq("stream_fold", "es_live_store", "stream_dedup", "stream_command_dedup")

  // `serve`'s traffic: each upsert lands 2k new events, then 3 lookups
  // follow on keys that hit the hot aggregate 20% of the time; 8 warm-up
  // lookups settle the JIT
  val UpsertEvents = 2000
  val LookupsPerUpsert = 3
  val LookupHotPct = 20
  val WarmLookups = 8

  /** Fewest timed passes a run measures, whatever `seconds` says. p60,
    * the reported tail, then has at least 10 samples beyond it on both
    * workloads (26 micro-batches, 27 lookups; perfbench/metrics.py). */
  val IngestPasses = 2
  val ServePasses = 1

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val trace = new Trace(a("trace") == "1")
    val runDir = a("run_dir")
    val t0 = trace.nowMs()
    val spark = SparkSession.builder()
      .master(s"local[${a("cpus")}]")
      .config("spark.sql.shuffle.partitions", a("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("graft.workdir", s"$runDir/graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.install(spark)
    trace.emit("setup", "phase" -> "session", "t0" -> t0, "t1" -> trace.nowMs())

    def runner(sz: Sizes) = new Runner(spark, trace, runDir, a("seed").toLong, sz)
    val seconds = a("seconds").toDouble
    a("workload") match {
      case "ingest" => runner(IngestLog).ingest(seconds)
      case "serve" => runner(ServeLog).serve(seconds)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    trace.finish(spark, s"$runDir/trace.jsonl")
    spark.stop()
  }
}

/** Output fingerprint: row count plus order-independent sum and xor of
  * each row's hash over its binary (UnsafeRow) form. */
final case class Fp(n: Long, sum: Long, xor: Long)

final class Runner(spark: SparkSession, trace: Trace, runDir: String, seed: Long, sz: Sizes) {
  import Main._

  private val dataDir = s"$runDir/data"
  private val outDir = s"$runDir/out"
  private val callIds = new AtomicLong()

  /** Executes the DataFrame once, fully, as one SQL execution: every
    * output row is projected to its binary form and hashed. */
  def fingerprint(df: DataFrame): Fp = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("graftbench.fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L; var s = 0L; var x = 0L
        it.foreach { r =>
          val u = proj(r)
          val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1; s += h; x ^= h
        }
        Iterator.single((n, s, x))
      }.collect()
    }
    Fp(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).foldLeft(0L)(_ ^ _))
  }

  /** One timed call: `build` produces the DataFrame (for a stream op it
    * runs the stream), `act` executes it and returns whether the output
    * is right. A throw is a failed call. `extra` fields are read after
    * the call, so they can carry what it observed. */
  private def call(pass: Int, name: String, kind: String, extra: => Seq[(String, Any)] = Nil)(
      build: => DataFrame)(act: DataFrame => Boolean): Unit = {
    val id = callIds.incrementAndGet()
    trace.currentCall.set(id)
    spark.sparkContext.setLocalProperty(Trace.CallProp, id.toString)
    val t0 = trace.nowMs()
    var tb = t0
    var df: Option[DataFrame] = None
    val ok = try {
      df = Some(build)
      tb = trace.nowMs()
      act(df.get)
    } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] call $name failed: $e")
        false
    }
    val t1 = trace.nowMs()
    if (df.isEmpty) tb = t1
    spark.sparkContext.setLocalProperty(Trace.CallProp, null)
    trace.currentCall.set(-1L)
    trace.emit("call", Seq("id" -> id, "pass" -> pass, "name" -> name, "kind" -> kind,
      "t0" -> t0, "tb" -> tb, "t1" -> t1, "ok" -> ok) ++ extra: _*)
  }

  private def phase(name: String)(body: => Unit): Unit = {
    val t0 = trace.nowMs()
    body
    trace.emit("setup", "phase" -> name, "t0" -> t0, "t1" -> trace.nowMs())
  }

  private def endPass(pass: Int, t0: Double): Unit = {
    val t1 = trace.nowMs()
    trace.drain(spark)
    // heap in use after a full collection: what the run keeps live
    System.gc()
    val rt = Runtime.getRuntime
    trace.emit("pass", "pass" -> pass, "t0" -> t0, "t1" -> t1,
      "heap_mb" -> (rt.totalMemory() - rt.freeMemory()) / 1048576.0)
  }

  /** Ends the warm-up, then runs whole timed passes until `seconds`
    * have passed and at least `minPasses` ran. */
  private def measure(seconds: Double, minPasses: Int)(runPass: Int => Unit): Unit = {
    endPass(-1, trace.nowMs())
    val deadline = trace.nowMs() + seconds * 1000
    var pass = 0
    while (trace.nowMs() < deadline || pass < minPasses) {
      val t0 = trace.nowMs()
      runPass(pass)
      endPass(pass, t0)
      pass += 1
    }
  }

  private def generate(): Unit = phase("generate")(Gen.events(spark, seed, sz, dataDir))

  /** Reference output of an op: its warm-up result is written for the
    * DuckDB oracle check, read back and fingerprinted; every timed call
    * must reproduce that fingerprint. */
  private def reference(op: String, df: DataFrame): Fp = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$op")
    fingerprint(spark.read.parquet(s"$outDir/$op"))
  }

  private def writeOracles(ops: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$outDir/oracle_sql.json"),
      Trace.json(ops.flatMap(o => sql.get(o).map(o -> _)).toMap))
  }

  /** `ingest`: passes over `IngestOps`. The warm-up is one
    * cold pass that records the reference outputs. */
  def ingest(seconds: Double): Unit = {
    generate()
    writeOracles(IngestOps)
    val refs = mutable.Map.empty[String, Fp]
    def runPass(pass: Int): Unit = IngestOps.foreach { op =>
      call(pass, op, "op")(SparkEntry.queries(op)(spark, dataDir)) { df =>
        refs.get(op).contains(fingerprint(df))
      }
    }
    phase("warmup") {
      IngestOps.foreach { op =>
        call(-1, op, "op")(SparkEntry.queries(op)(spark, dataDir)) { df =>
          refs(op) = reference(op, df)
          true
        }
      }
    }
    measure(seconds, IngestPasses)(runPass)
  }

  // ---- serve: LiveStore lookups while upserts land ----

  private final case class St(pk: (Long, Long), eventType: String, value: Double,
      mtsUs: Long, n: Long)

  private val expected = mutable.HashMap.empty[Long, St]

  private def fold(e: Ev): Unit = {
    val prev = expected.get(e.userId)
    val pk = (e.tsMicros, e.eventId)
    val latest = prev.forall(p => Ordering[(Long, Long)].gt(pk, p.pk))
    expected(e.userId) = St(
      if (latest) pk else prev.get.pk,
      if (latest) e.eventType else prev.get.eventType,
      if (latest) e.value else prev.get.value,
      math.max(e.tsMicros, prev.map(_.mtsUs).getOrElse(Long.MinValue)),
      prev.map(_.n).getOrElse(0L) + 1)
  }

  private def expectedRow(key: Long): Seq[Row] = expected.get(key).toSeq.map { s =>
    Row(key, Math.floorDiv(s.mtsUs, 1000000L), s.eventType, s.value, s.n)
  }

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def newestBase(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("base_v"))
      .map(_.getName.stripPrefix("base_v").toLong).maxOption.getOrElse(-1L)

  /** Bytes of the store's live roots: the newest base and the deltas
    * past it (the roots a lookup scans). */
  private def liveBytes(dir: String): Long = {
    val v = newestBase(dir)
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).filter { f =>
      f.getName == s"base_v$v" ||
        (f.getName.startsWith("delta_b") && f.getName.stripPrefix("delta_b").toLong > v)
    }.map(size).sum
  }

  def serve(seconds: Double): Unit = {
    generate()
    writeOracles(Seq("es_live_store"))
    val dir = s"${graft.sources.Tables.workDir(spark)}/livestore"
    var nextBatch = graft.streaming.Streams.sourceBatches.toLong
    var nextKey = 0L
    def lookup(pass: Int): Unit = {
      val key = if (Gen.hmodL(100, seed, 91, nextKey) < LookupHotPct) Gen.HotUser
        else Gen.hmodL(sz.users, seed, 92, nextKey)
      nextKey += 1
      var scans = -1
      call(pass, "lookup", "lookup", Seq("key" -> key, "roots" -> scans))(
        LiveStore.lookup(spark, dir, key)) { df =>
        val got = df.collect().toSeq
        if (trace.traced)
          scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size
        got == expectedRow(key)
      }
    }
    def upsert(pass: Int): Unit = {
      val id = nextBatch
      nextBatch += 1
      // a batch of later events: ids past the log, times after its window
      val span = 3600L * 1000000L
      val evs = (0 until UpsertEvents).map { i =>
        Gen.event(seed, sz, sz.events + id * UpsertEvents + i,
          Gen.Epoch2024us + Gen.WindowUs + id * span, span)
      }
      val before = newestBase(dir)
      var compacted = false
      call(pass, "upsert", "upsert", Seq("batch" -> id, "compacted" -> compacted))(
        spark.createDataFrame(java.util.Arrays.asList(
          evs.map(e => Row(e.eventId, e.tsMicros, e.userId, e.eventType, e.value)): _*),
          evSchema).select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("user_id"), col("event_type"), col("value"))) { df =>
        LiveStore.upsert(df, id, dir)
        compacted = newestBase(dir) != before
        true
      }
      evs.foreach(fold)
    }
    // one round per upsert; a pass is one compaction cycle of rounds, so
    // every pass sees the same read fan-in, 1 to 1 + compactEvery roots
    def round(pass: Int): Unit = {
      upsert(pass)
      (0 until LookupsPerUpsert).foreach(_ => lookup(pass))
    }
    phase("warmup") {
      call(-1, "es_live_store", "op")(SparkEntry.queries("es_live_store")(spark, dataDir)) { df =>
        reference("es_live_store", df)
        true
      }
      spark.read.parquet(s"$dataDir/events.parquet")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")),
          col("user_id"), col("event_type"), col("value"))
        .collect().foreach(r =>
          fold(Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
      // upserts bring the store to the start of a compaction cycle;
      // lookups on the freshly compacted store settle the JIT
      while (nextBatch <= LiveStore.compactEvery) upsert(-1)
      (0 until WarmLookups).foreach(_ => lookup(-1))
    }
    measure(seconds, ServePasses) { pass =>
      (0 to LiveStore.compactEvery).foreach(_ => round(pass))
      if (trace.traced)
        trace.emit("store", "pass" -> pass, "bytes" -> liveBytes(dir), "keys" -> expected.size)
    }
  }
}
