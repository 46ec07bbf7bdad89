package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryListener}
import graft.{GraftSession, Op, OpFamily, Sizing}
import graft.sources.{LocalFiles, Tables}
import graft.sources.LocalFiles.deleteRec
import graft.sources.Tables.cents

/** An event-log record (the Kafka-record analog). */
final case class Ev(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Aggregate state for the account fold — surge's `State` in
  * `SurgeProcessingModel[State, Msg, Event]`. */
final case class AccountState(
    user_id: Long, balance_c: Long, n_purchases: Long, n_events: Long,
    last_ts_s: Long)

/** One sensor reading held in streaming-EWMA state. The timestamp is
  * kept at FULL microsecond precision — the batch/oracle recency rank
  * orders by full-precision ts, and a millisecond-truncated key would
  * pick a different top-20 on any same-millisecond collision. */
final case class Reading(ts_us: Long, event_id: Long, c: Long)

/** Streaming-EWMA state: the key's 20 most recent readings. */
final case class EwmaState(buf: Seq[Reading])

/** One event-log-tail entry held in streaming top-n state. */
final case class TailEv(ts_us: Long, event_id: Long, event_type: String)

/** Streaming top-n state: the key's n most recent events — bounded at
  * any stream length, the stream twin of the TopKPerKey heaps. */
final case class TailState(buf: Seq[TailEv])

/** stream_latest_n emission — schema-identical to the batch E15 view. */
final case class TailOut(user_id: Long, event_id: Long, event_type: String, ts_s: Long)

/** Streaming-EWMA emission — schema-identical to the batch M2 metric. */
final case class EwmaOut(user_id: Long, n_used: Long, ewma_scaled: Long, ewma: Double)

/** Per-key silence-tracking state for the W17 stream twin: the last
  * seen event time plus three counters — O(1) per key at any stream
  * length. */
final case class GapState(last_us: Long, n: Long, max_gap: Long, n_sla: Long)

/** stream_gaps emission — schema-identical to the batch W17 view. */
final case class GapOut(user_id: Long, n_events: Long, max_gap_us: Long, n_sla_gaps: Long)

/** Per-key audit-chain state: the rolling md5 head + chain length —
  * O(1) per key at any stream length. */
final case class ChainState(head: String, n: Long)

/** stream_audit_chain emission — schema-identical to the batch E26. */
final case class ChainOut(user_id: Long, n_events: Long, chain_head: String)

/** Per-key pathing state: the last two event types — O(1) per key. */
final case class PathState(e1: String, e2: String)

/** One emitted 3-step path (aggregated to the B7 grid by the harness). */
final case class PathOut(user_id: Long, step1: String, step2: String, step3: String)

/** Structured-Streaming re-expression of surge's core loop.
  *
  * Reference: surge keeps one `PersistentActor` per aggregate, routed by
  * `hash(aggregateId) % partitions`
  * (`modules/common/src/main/scala/surge/kafka/KafkaPartitionShardRouterActor.scala`),
  * folding events into state and materializing the latest state to a
  * compacted topic/KTable. Here the per-aggregate "actor" is the
  * per-key state slot of `flatMapGroupsWithState`, sharded by the same
  * hash partitioning but elastic across executors — at 1000 executors
  * each holds `keys/1000` state entries in the state store, checkpointed
  * incrementally (RocksDB-backed in production configs).
  *
  * The batch twins of these live in [[graft.operators.EventSourcing]];
  * identical semantics, verified against the same DuckDB oracles.
  */
object Streams extends OpFamily {

  private def centsL(v: Double): Long = math.round(v * 100)

  /** Surge `applyAsync`: fold this batch of events (ordered by ts,
    * event_id) into the aggregate's state. */
  def applyEvents(uid: Long, prior: Option[AccountState], evs: Seq[Ev]): AccountState = {
    val st = prior.getOrElse(AccountState(uid, 0L, 0L, 0L, Long.MinValue))
    evs.sortBy(e => (e.ts.getTime, e.event_id)).foldLeft(st) { (acc, e) =>
      val delta = e.event_type match {
        case "purchase" => centsL(e.value)
        case "error"    => -centsL(e.value)
        case "signup"   => 1000L
        case _          => 0L
      }
      AccountState(uid, acc.balance_c + delta,
        acc.n_purchases + (if (e.event_type == "purchase") 1 else 0),
        acc.n_events + 1,
        math.max(acc.last_ts_s, math.floorDiv(e.ts.getTime, 1000L)))
    }
  }

  /** E7: stateful streaming fold (one state slot per aggregate). */
  def foldEvents(ds: Dataset[Ev]): Dataset[AccountState] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[AccountState, AccountState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[AccountState]) =>
          val next = applyEvents(uid, state.getOption, it.toSeq)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** How many micro-batches every streaming driver query runs through:
    * the source is split into this many files and fed one per trigger,
    * so cross-batch state merge, last-batch-wins output dedup, and the
    * live store's replay marker are all exercised under the DuckDB
    * oracle — not just by MemoryStream specs. */
  val sourceBatches = 3

  private val splitCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Split the events table into [[sourceBatches]] CHRONOLOGICAL files
    * (built once per session+dataset). Chronology between files is the
    * one ordering constraint the operators have: every stateful op here
    * merges across batches commutatively, but a watermarked stage
    * (stream_dedup) would drop a whole batch that arrived >1h behind
    * the watermark a later-data batch had already advanced. Ascending
    * names AND mtimes make the file source replay them in order.
    * Cache key = the full TARGET path (workDir is session-specific): a
    * second session in this JVM with a different scratch root must
    * build its own split, not reuse a path another session owns. */
  private[graft] def splitSource(s: SparkSession, d: String): String = {
    val target = s"${Tables.workDir(s)}/events_split_" +
      Tables.datasetTag(d)
    splitCache.computeIfAbsent(target, base => {
      // Write the split files ALREADY normalized (Tables.normalizeTs →
      // TimestampType micros) so the readStream schema carries a real
      // event-time type: watermarks reject TIMESTAMP_NTZ, and the raw
      // parquet has shipped as nanos-int64 AND µs-NTZ across testdata
      // generations.
      writeSplitFiles(base, Tables.stableCheckpoint(
        Tables.events(s, d)
          .repartitionByRange(sourceBatches, col("ts"), col("event_id"))
          .withColumn("_p", spark_partition_id())
        )) // one shuffle, then three cheap filters
      base
    })
  }

  /** Streaming source over the driver's events table, delivered as
    * [[sourceBatches]] chronological micro-batches. Default transport
    * is the split-file source; `graft.stream.source=kafka` switches
    * every stream_* operator to the broker-backed [[KafkaWire]] path
    * (same typed Ev stream, same decoder contract) without touching
    * any operator. */
  def eventStream(s: SparkSession, d: String): Dataset[Ev] = {
    import s.implicits._
    if (s.conf.getOption("graft.stream.source").contains("kafka"))
      KafkaWire.readStream(s)
    else {
      // The split files are written post-normalization, so their schema
      // (ts: TimestampType micros) IS the stream schema — no per-arrival
      // conversion here.
      val src = splitSource(s, d)
      val stream = s.readStream.schema(Tables.read(s, src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      stream.select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
    }
  }

  /** `graft.stream.stateStore=rocksdb` swaps every stateful stream_*
    * operator onto Spark's in-box RocksDBStateStoreProvider — the
    * 100 TB posture. The default HDFSBackedStateStoreProvider keeps
    * every key's state ON HEAP per state shard; at production key
    * cardinality (the reference keys state by aggregate id — its
    * KTable is RocksDB-backed by default for exactly this reason,
    * surge/kafka/streams/CustomRocksDBConfigSetter.scala:32) the
    * per-executor state working set must live off-heap with heap only
    * as cache, which is precisely RocksDB's contract. Provider class
    * is read at query start, so setting it on the stream's child
    * session ([[start]]) covers every operator without touching any of
    * them; results are provider-invisible
    * (StreamStateStoreSpec re-proves op-level parity, and a full
    * Verify+parity run under the flag is the round-10 evidence). */
  private val stateStoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // ---- state shard sizing from MEASURED source mass (opt round r14) ----
  // Every stateful operator creates one state store PER SHARD and
  // commits it EVERY micro-batch (delta file + crc + rename on the
  // checkpoint FS), and the foreachBatch sink writes one parquet part
  // per shard per batch — so the per-trigger floor scales linearly
  // with the shard count while the per-shard work at bench scale is
  // tens of thousands of rows. The measured cost per file was process
  // launches, not I/O: without `libhadoop.so` Hadoop's local FS forked
  // `chmod` per created file and `readlink` twice per rename. The
  // checkpoint files and the sink's parquet parts now go through
  // [[LocalFiles.writeOptions]] and fork nothing, so a shard costs its I/O.
  // The old flat default (8) was itself a measured cut from the
  // session width (stream_latest 4.1 → 2.1 s),
  // but it is a CONSTANT — the exact defect class the R32 bucket
  // count fix (r13 verdict item 1) removed elsewhere. Shards now size
  // from the started frame's file-source row mass (parquet footer
  // counts — bounded metadata, cached per source dir), under the
  // repo-wide ~500k rows/partition rule: min 2 (cross-shard state
  // merge stays exercised), capped at the session shuffle default so
  // production widths still derive from the session, never a local
  // constant. Measured at sf0.1 (33k rows/batch ⇒ 2 shards):
  // stream_latest addBatch ~650 → ~380 ms/batch, warm medians
  // 3.3 → 2.8 s solo; the win grows under checkpoint-FS pressure
  // (4x fewer files, so 4x fewer forks, per trigger).
  private val massCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def footerRows(s: SparkSession, dir: String): Option[Long] = {
    val rows = massCache.computeIfAbsent(dir,
      p => Long.box(Tables.rowCountFromStats(s, p).getOrElse(-1L))).longValue()
    if (rows >= 0) Some(rows) else None
  }

  /** TOTAL footer row mass of the file sources a streaming frame reads
    * (each dir counted once — a self-join reads one source twice).
    * None when the frame has no file source (the broker transport, a
    * MemoryStream) or a source dir is unlistable: unknown mass. */
  private[graft] def sourceRows(s: SparkSession, df: Dataset[_]): Option[Long] = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val rows = df.queryExecution.analyzed
      .collect { case r: StreamingRelation => r.dataSource.options.get("path") }
      .flatten.distinct.map(footerRows(s, _))
    if (rows.nonEmpty && rows.forall(_.isDefined)) Some(rows.flatten.sum) else None
  }

  // RocksDB CHANGELOG checkpointing (round 11): by default the RocksDB
  // provider snapshots the full state store to the checkpoint every
  // batch; with changelog checkpointing each batch uploads only the
  // batch's state DELTA and periodic snapshots bound replay length —
  // the Spark analog of the reference rebuilding a died instance's
  // KTable from the Kafka changelog topic rather than re-reading the
  // log (surge/kafka/streams/AggregateStateStoreKafkaStreams.scala:35).
  // Set per stream run under `graft.stream.rocksdbChangelog=true`
  // (rocksdb provider only); StreamRestartSpec proves restore +
  // no-replay + equal output under it.
  private val rocksChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** The state shard count [[start]] runs `df` at: [[Sizing.stateShardsFor]]
    * over its MEASURED per-batch row mass (its file sources' footer
    * rows over [[sourceBatches]]), capped at its session's shuffle
    * width, so production widths still grow with throughput. */
  private[graft] def stateShards(df: Dataset[_], rowScaleState: Boolean): Int = {
    val s = df.sparkSession
    val total = sourceRows(s, df)
    val perBatch = total.map(r => math.max(1L, (r + sourceBatches - 1) / sourceBatches))
    Sizing.stateShardsFor(perBatch, s.conf.get("spark.sql.shuffle.partitions").toInt,
      if (rowScaleState) total else None)
  }

  /** Start `df` through the `foreachBatch` `sink`, in output `mode`,
    * checkpointed at `checkpoint` — the one place graft starts a stream.
    * The query runs on a [[GraftSession.child]] of `df`'s session, so
    * the caller's session never sees the settings it runs under:
    *
    *  - the state shard count ([[stateShards]]): a stateful operator
    *    creates that many state stores, each committing files EVERY
    *    micro-batch (at bench scale that fan-out was ~half a stream's
    *    wall-clock: stream_latest 4.1 → 2.1 s warm when a flat 32
    *    became a flat 8); `rowScaleState` marks ops that keep a state
    *    key per source row, whose total source mass is the state-key
    *    estimate;
    *  - the RocksDB provider and its changelog checkpointing, when the
    *    caller asks for them;
    *  - [[LocalFiles.writeOptions]], so the query's files on `file:`
    *    (source, offsets and commits logs, state-store deltas, stream
    *    metadata, sink parts) fork no process per file;
    *  - `conf`, the op's own settings.
    *
    * Spark keeps stream listeners per session, so the child gets the
    * caller's and they see the query as before. It also puts the
    * child's stream listener bus on the context's listener bus for
    * good; that comes off once the query has ended and its last event
    * is delivered, from a thread of its own (see
    * [[ListenerBridge.removeBusOf]]). */
  def start(df: Dataset[_], checkpoint: String, mode: String, rowScaleState: Boolean,
      conf: (String, String)*)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val s = df.sparkSession
    val rocks =
      if (!s.conf.getOption("graft.stream.stateStore").contains("rocksdb")) Nil
      else (stateStoreKey -> rocksProvider) +:
        (if (s.conf.getOption("graft.stream.rocksdbChangelog").contains("true"))
          Seq(rocksChangelogKey -> "true") else Nil)
    val shards = "spark.sql.shuffle.partitions" -> stateShards(df, rowScaleState).toString
    val c = GraftSession.child(s, (shards +: rocks) ++ LocalFiles.writeOptions ++ conf: _*)
    s.streams.listListeners().foreach(c.streams.addListener)
    c.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        scala.concurrent.Future(ListenerBridge.removeBusOf(s.sparkContext, this))(
          scala.concurrent.ExecutionContext.global)
        ()
      }
    })
    ColumnBridge.rebind(c, df).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(mode)
      .foreachBatch(sink)
      .start()
  }

  /** [[start]], process everything available, stop. Returns the
    * stopped query; its `recentProgress` stays readable. */
  def drain(df: Dataset[_], checkpoint: String, mode: String, rowScaleState: Boolean,
      conf: (String, String)*)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = start(df, checkpoint, mode, rowScaleState, conf: _*)(sink)
    try q.processAllAvailable() finally q.stop()
    q
  }

  /** [[drain]] from a fresh checkpoint at `checkpoint`, deleted after
    * the stop: for ops that run their source from the start on every
    * call. */
  private[graft] def drainFresh(df: Dataset[_], checkpoint: String, mode: String,
      rowScaleState: Boolean, conf: (String, String)*)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val dir = new java.io.File(checkpoint)
    deleteRec(dir)
    try drain(df, checkpoint, mode, rowScaleState, conf: _*)(sink) finally deleteRec(dir)
  }

  /** Run a streaming DF to completion through a `foreachBatch` parquet
    * sink — the PRODUCTION sink shape (each micro-batch lands
    * atomically as one directory keyed by batch id; nothing
    * accumulates in driver memory, so the same harness works at any
    * result size) — and read the landed result back. State shards size
    * from `df` itself (see [[start]]).
    *
    * complete mode: each batch is the full result ⇒ read the last
    * batch. update/append: batches are deltas ⇒ read their union
    * (exactly the contents a memory sink would have accumulated). */
  def runToTable(s: SparkSession, df: DataFrame, name: String, mode: String,
      rowScaleState: Boolean = false): DataFrame = {
    val dir = new java.io.File(s"${Tables.workDir(s)}/sink_$name")
    deleteRec(dir)
    drainFresh(df, s"${Tables.workDir(s)}/checkpoint_$name", mode, rowScaleState) {
      (batch, id) => batch.write.mode("overwrite").parquet(s"$dir/b_$id")
    }
    val batches = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("b_")).sortBy(_.getName.stripPrefix("b_").toLong)
    require(batches.nonEmpty, s"streaming query $name produced no batches")
    if (mode == "complete") Tables.read(s, batches.last.getPath)
    else
      // union of delta batches, each row tagged with its batch id so
      // multi-batch runs can keep each key's LAST emission (n-based
      // max_by ties across batches once a key's state stops changing)
      Tables.read(s, batches.map(_.getPath): _*)
        .withColumn("_batch_id",
          regexp_extract(input_file_name(), "/b_(\\d+)/", 1).cast("long"))
  }

  // E7 as a driver-verifiable query: fold the whole log through the
  // streaming path; oracle identical to the batch fold (es_state_fold).
  private def streamFold(s: SparkSession, d: String): DataFrame = {
    val folded = foldEvents(eventStream(s, d)).toDF()
    val t = runToTable(s, folded, "graft_stream_fold", "update")
    // update mode emits one row per key per batch — keep the row from
    // each key's LAST batch (batch ids are unique, so the argmax is
    // well-defined at any batch count; tiny one-row-per-key harness
    // table, max_by(struct) is fine here)
    t.groupBy("user_id")
      .agg(max_by(struct(col("balance_c"), col("n_purchases"), col("n_events"),
        col("last_ts_s")), col("_batch_id")).as("st"))
      .select(col("user_id"), col("st.balance_c"), col("st.n_purchases"),
        col("st.n_events"), col("st.last_ts_s"))
  }

  // E8: streaming KTable — latest-state store maintained as a streaming
  // aggregation (complete mode = the compacted-topic snapshot). Same
  // packed-decimal argmax as the batch E1 ([[graft.operators.Packed]]):
  // the stateful streaming agg keeps a fixed-width buffer per key
  // instead of the SortAggregate the max_by(struct,…) form plans.
  private[graft] def latestStateAgg(df: DataFrame): DataFrame = {
    import graft.operators.EventSourcing
    EventSourcing.decodeState(EventSourcing.packedState(df))
  }

  private def streamLatest(s: SparkSession, d: String): DataFrame =
    runToTable(s, latestStateAgg(eventStream(s, d).toDF()),
      "graft_stream_latest", "complete")

  // W5: streaming tumbling-window aggregation.
  private def streamWindow(s: SparkSession, d: String): DataFrame = {
    val agg = eventStream(s, d).toDF()
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_c"))
      .select(unix_timestamp(col("w.start")).as("bucket_s"), col("event_type"),
        col("n"), col("sum_c"))
    runToTable(s, agg, "graft_stream_window", "complete")
  }

  // W6: streaming dedup on event id with watermarked state expiry.
  private def streamDedup(s: SparkSession, d: String): DataFrame = {
    val deduped = eventStream(s, d).toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
    // dropDuplicates keeps a state key PER EVENT (row-scale state —
    // the stream_command_dedup finding): shards size from the state
    // estimate, not just the batch input
    runToTable(s, deduped, "graft_stream_dedup", "append", rowScaleState = true)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
  }

  /** M2's dyadic EWMA over a key's last-20 readings, evaluated from the
    * bounded state buffer — exact int64, identical to the batch closed
    * form (rd = recency rank, the oldest reading is the seed with
    * exponent n−1; every term is c·2^(19−e)). */
  def ewmaOf(uid: Long, buf: Seq[Reading]): EwmaOut = {
    val n = buf.size
    var scaled = 0L
    var i = 0
    while (i < n) {
      val rd = i + 1
      val e = if (rd == n) n - 1 else rd
      scaled += buf(i).c * (1L << (19 - e))
      i += 1
    }
    EwmaOut(uid, n.toLong, scaled, scaled.toDouble / 524288.0 / 100.0)
  }

  /** Streaming twin of the M2 sensor: surge's metrics are continuously
    * updated per-sensor statistics
    * (`modules/metrics/src/main/scala/surge/metrics/Sensor.scala`
    * `record(value)` → `Metric.update`); here each key's
    * `flatMapGroupsWithState` slot holds the 20 most recent readings
    * (bounded state — same expiry discipline as
    * `ExponentiallyWeightedMovingAverage`'s decay) and every
    * micro-batch emits the refreshed EWMA. */
  def ewmaStream(ds: Dataset[Ev]): Dataset[EwmaOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[EwmaState]) =>
          val prior = state.getOption.map(_.buf).getOrElse(Seq.empty)
          val incoming = it.map { e =>
            val i = e.ts.toInstant
            Reading(i.getEpochSecond * 1000000L + i.getNano / 1000L,
              e.event_id, centsL(e.value))
          }.toSeq
          // most-recent-first by (µs ts, event_id), truncated to 20 —
          // bounded per-key state at any stream length
          val buf = (prior ++ incoming)
            .sortBy(r => (-r.ts_us, -r.event_id)).take(20)
          state.update(EwmaState(buf))
          Iterator.single(ewmaOf(uid, buf))
      }
  }

  // W17's streaming twin `stream_gaps`: the silence detector as the
  // LIVE health monitor it is in production — a stream that stops
  // signaling IS the failure, so this number only means anything while
  // the monitor runs. O(1) state per key (last seen µs + three
  // counters); each micro-batch folds its slice in (µs, event_id)
  // order onto the carried state. Chronological batches keep
  // cross-batch order, and same-µs ties straddling a batch boundary
  // contribute zero-gaps in any order — the folded gap multiset is
  // exactly the batch lag-window's. Oracle = W17's ⇒ batch/stream
  // parity.
  private[graft] def gapStream(ds: Dataset[Ev]): Dataset[GapOut] = {
    import ds.sparkSession.implicits._
    val slaUs = graft.operators.Windows.gapSlaUs
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[GapState]) =>
          var st = state.getOption.getOrElse(GapState(0L, 0L, 0L, 0L))
          val evs = it.map { e =>
            val i = e.ts.toInstant
            (i.getEpochSecond * 1000000L + i.getNano / 1000L, e.event_id)
          }.toArray.sorted
          for ((us, _) <- evs) {
            if (st.n > 0L) {
              val gap = us - st.last_us
              st = GapState(us, st.n + 1L, math.max(st.max_gap, gap),
                st.n_sla + (if (gap >= slaUs) 1L else 0L))
            } else st = GapState(us, 1L, 0L, 0L)
          }
          state.update(st)
          Iterator.single(GapOut(uid, st.n, st.max_gap, st.n_sla))
      }
  }

  private def streamGaps(s: SparkSession, d: String): DataFrame = {
    val out = gapStream(eventStream(s, d)).toDF()
    val t = runToTable(s, out, "graft_stream_gaps", "update")
    // keep each key's emission from its LAST batch (the one that has
    // seen the whole log); tiny one-row-per-key harness table
    t.groupBy("user_id")
      .agg(max_by(struct(col("n_events"), col("max_gap_us"), col("n_sla_gaps")),
        col("_batch_id")).as("st"))
      .select(col("user_id"), col("st.n_events"), col("st.max_gap_us"),
        col("st.n_sla_gaps"))
  }

  // M2 twin as a driver-verifiable query; oracle = the batch metric_ewma
  // oracle, proving streaming/batch metric parity.
  // E26's streaming twin `stream_audit_chain`: the tamper-evidence
  // commitment maintained LIVE — each micro-batch extends every
  // touched aggregate's chain, so the notarizable head exists at all
  // times instead of once per offline sweep. The hash chain is a
  // LEFT FOLD, so O(1) state (head + length) suffices; the split
  // source's range partitioning on (ts, event_id) guarantees batches
  // arrive in exactly the order the batch op folds, making the
  // streamed head equal E26's byte-for-byte (oracle = E26's).
  def chainStream(ds: Dataset[Ev]): Dataset[ChainOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[ChainState, ChainOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[ChainState]) =>
          def md5Hex(x: String): String =
            java.security.MessageDigest.getInstance("MD5")
              .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val evs = it.toArray.sortBy { e =>
            val i = e.ts.toInstant
            (i.getEpochSecond * 1000000L + i.getNano / 1000L, e.event_id)
          }
          val st = state.getOption.getOrElse(ChainState(md5Hex(s"seed:$uid"), 0L))
          val next = evs.foldLeft(st) { (acc, e) =>
            ChainState(md5Hex(s"${acc.head}:${e.event_id}"), acc.n + 1)
          }
          state.update(next)
          Iterator.single(ChainOut(uid, next.n, next.head))
      }
  }

  private def streamAuditChain(s: SparkSession, d: String): DataFrame = {
    val out = chainStream(eventStream(s, d)).toDF()
    val t = runToTable(s, out, "graft_stream_audit_chain", "update")
    t.groupBy("user_id")
      .agg(max_by(struct(col("n_events"), col("chain_head")),
        col("_batch_id")).as("st"))
      .select(col("user_id"), col("st.n_events"), col("st.chain_head"))
  }

  // B7's streaming twin `stream_pathing`: the 3-step path matrix
  // maintained while events arrive. Each key's state is just its last
  // TWO event types (O(1)); every incoming event completes at most one
  // new trigram, emitted append-style exactly once. The split source's
  // (ts, event_id) range order makes the emitted trigram multiset
  // equal the batch lead()-window view, so the closing grid equals
  // B7's; oracle = B7's ⇒ batch/stream path parity.
  def pathStream(ds: Dataset[Ev]): Dataset[PathOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, PathOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[PathState]) =>
          val evs = it.toArray.sortBy { e =>
            val i = e.ts.toInstant
            (i.getEpochSecond * 1000000L + i.getNano / 1000L, e.event_id)
          }
          var st = state.getOption.getOrElse(PathState(null, null))
          val out = Seq.newBuilder[PathOut]
          evs.foreach { e =>
            if (st.e1 != null)
              out += PathOut(uid, st.e1, st.e2, e.event_type)
            st = PathState(st.e2, e.event_type)
          }
          state.update(st)
          out.result().iterator
      }
  }

  private def streamPathing(s: SparkSession, d: String): DataFrame = {
    val out = pathStream(eventStream(s, d)).toDF()
    runToTable(s, out, "graft_stream_pathing", "append")
      .groupBy("step1", "step2", "step3")
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("user_id")).as("n_users"))
  }

  private def streamEwma(s: SparkSession, d: String): DataFrame = {
    val out = ewmaStream(eventStream(s, d)).toDF()
    val t = runToTable(s, out, "graft_stream_ewma", "update")
    // keep each key's emission from its LAST batch — n_used would tie
    // at 20 across batches for active keys and pick arbitrarily
    t.groupBy("user_id")
      .agg(max_by(struct(col("n_used"), col("ewma_scaled"), col("ewma")),
        col("_batch_id")).as("st"))
      .select(col("user_id"), col("st.n_used"), col("st.ewma_scaled"), col("st.ewma"))
  }

  private val streamEwmaSql =
    """WITH b AS (
      |  SELECT user_id, CAST(round(value*100,0) AS BIGINT) AS c,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM events),
      |f AS (SELECT * FROM b WHERE rd <= 20),
      |g AS (SELECT *, count(*) OVER (PARTITION BY user_id) AS n FROM f)
      |SELECT user_id, CAST(max(n) AS BIGINT) AS n_used,
      |  CAST(sum(CAST(c * pow(2.0, 19 - (CASE WHEN rd = n THEN n - 1 ELSE rd END)) AS BIGINT)) AS BIGINT) AS ewma_scaled,
      |  CAST(sum(CAST(c * pow(2.0, 19 - (CASE WHEN rd = n THEN n - 1 ELSE rd END)) AS BIGINT)) AS DOUBLE)/524288.0/100.0 AS ewma
      |FROM g GROUP BY user_id""".stripMargin

  /** E15's event-log tail, CONTINUOUSLY maintained: each key's state
    * slot holds its n most recent events (bounded, like the batch
    * TopKPerKey heaps — never the full history), re-emitting the
    * refreshed tail every micro-batch. The CQRS "recent events beside
    * the state" view while ingestion runs. */
  def tailStream(ds: Dataset[Ev], n: Int): Dataset[TailOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[TailState, TailOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[TailState]) =>
          val prior = state.getOption.map(_.buf).getOrElse(Seq.empty)
          val incoming = it.map { e =>
            val i = e.ts.toInstant
            TailEv(i.getEpochSecond * 1000000L + i.getNano / 1000L,
              e.event_id, e.event_type)
          }.toSeq
          // most-recent-first by (SECOND, event_id) — E15's view keys
          // recency on epoch seconds, so the tie-break must match its
          // oracle's ORDER BY ts_s DESC, event_id (ascending id!)
          val buf = (prior ++ incoming)
            .sortBy(t => (-(t.ts_us / 1000000L), t.event_id)).take(n)
          state.update(TailState(buf))
          buf.iterator.map(t =>
            TailOut(uid, t.event_id, t.event_type, t.ts_us / 1000000L))
      }
  }

  // E15's streaming twin as a driver query: run the whole log through
  // the bounded-state tail, keep each key's LAST batch of emissions;
  // oracle = the batch es_latest_n oracle ⇒ batch/stream parity.
  private def streamLatestN(s: SparkSession, d: String): DataFrame = {
    val out = tailStream(eventStream(s, d), 5).toDF()
    val t = runToTable(s, out, "graft_stream_latest_n", "update")
    val lastBatch = t.groupBy("user_id")
      .agg(max(col("_batch_id")).as("_batch_id"))
    t.join(lastBatch, Seq("user_id", "_batch_id"))
      .select("user_id", "event_id", "event_type", "ts_s")
  }

  private val streamLatestNSql =
    """SELECT user_id, event_id, event_type, ts_s FROM (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id) AS rn
      |  FROM events)
      |WHERE rn <= 5""".stripMargin

  /** Surge actors passivate after idling (PersistentActor stop-on-idle)
    * — the streaming analog expires per-aggregate state via event-time
    * timeout: once the watermark passes last_event + gap, the final
    * state is emitted and the slot freed. Bounded state at any key
    * cardinality. */
  def foldWithPassivation(ds: Dataset[Ev], gapMinutes: Int): Dataset[AccountState] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AccountState, AccountState](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[AccountState]) =>
          if (state.hasTimedOut) {
            val finalState = state.get
            state.remove()
            Iterator.single(finalState)
          } else {
            val next = applyEvents(uid, state.getOption, it.toSeq)
            state.update(next)
            state.setTimeoutTimestamp(next.last_ts_s * 1000L + gapMinutes * 60000L)
            Iterator.empty
          }
      }
  }

  /** Streaming session windows — surge's advance-on-silence window
    * semantics natively in Structured Streaming. */
  def sessionCounts(df: DataFrame, gap: String): DataFrame =
    df.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("sess_n"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start_s"),
        col("sess_n"))

  /** Micro-batch transactional sink: each batch lands atomically as
    * one parquet directory keyed by batch id (the foreachBatch
    * exactly-once-per-batch pattern used for non-idempotent stores).
    * Started through [[start]], like every stream here. */
  def foreachBatchSink(df: DataFrame, outDir: String, checkpoint: String): StreamingQuery =
    start(df, checkpoint, "update", rowScaleState = false) {
      (batch, id) => batch.write.mode("overwrite").parquet(s"$outDir/batch_$id")
    }

  private val streamFoldSql =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value*100,0) AS BIGINT)
      |     WHEN event_type = 'error' THEN -CAST(round(value*100,0) AS BIGINT)
      |     WHEN event_type = 'signup' THEN 1000
      |     ELSE 0 END) AS BIGINT) AS balance_c,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  count(*) AS n_events,
      |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts_s
      |FROM events GROUP BY user_id""".stripMargin

  private val streamLatestSql =
    """SELECT user_id, CAST(floor(epoch(mts)) AS BIGINT) AS last_ts_s,
      |       last_type, last_value, n_events
      |FROM (
      |  SELECT user_id, event_type AS last_type, value AS last_value,
      |    max(ts) OVER (PARTITION BY user_id) AS mts,
      |    count(*) OVER (PARTITION BY user_id) AS n_events,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  private val streamWindowSql =
    """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_s, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS sum_c
      |FROM events GROUP BY 1, 2""".stripMargin

  private val streamDedupSql =
    """SELECT event_type, count(DISTINCT event_id) AS n FROM events GROUP BY 1""".stripMargin

  // W9's streaming twin: the matcher-count window agg runs on the
  // STREAMING engine (complete mode = surge's continuously-updated
  // signal state), the unpivot/side-effect stage is the same code as
  // batch; oracle = the batch signal_pattern oracle.
  private def streamSignal(s: SparkSession, d: String): DataFrame = {
    val agg = graft.operators.Windows.matcherCounts(eventStream(s, d).toDF())
    val t = runToTable(s, agg, "graft_stream_signal", "complete")
    graft.operators.Windows.matcherSignals(t)
  }

  // W11's streaming twin: the reference's supervisor is a LIVE loop —
  // `HealthSupervisorActor` keeps listening and issuing control
  // decisions while signals stream in
  // (`modules/common/src/main/scala/surge/internal/health/supervisor/HealthSupervisorActor.scala`).
  // The matcher-count window agg runs on the streaming engine (same
  // stage W10 streams); each refresh of the signal state feeds the same
  // registration join as batch W11; oracle = W11's ⇒ the continuous
  // supervision loop is proven bit-equal to the batch decision log.
  private def streamSupervision(s: SparkSession, d: String): DataFrame = {
    val agg = graft.operators.Windows.matcherCounts(eventStream(s, d).toDF())
    val t = runToTable(s, agg, "graft_stream_supervision", "complete")
    graft.operators.Windows.superviseDecisions(
      graft.operators.Windows.matcherSignals(t))
  }

  // W7 under the ORACLE: streaming session windows (advance-on-silence,
  // surge's window-advancer semantics) in COMPLETE mode — the engine
  // keeps all session state and re-emits the merged result per trigger,
  // so after the final trigger the session set IS the batch
  // gaps-and-islands result: sessions that straddle micro-batch
  // boundaries are merged by the session-window state store, which is
  // exactly the semantics the append-mode spec (StreamingAdvancedSpec)
  // can't prove against an oracle because its watermark never closes
  // the tail sessions. Oracle = W3's ⇒ batch/stream session parity.
  private def streamSession(s: SparkSession, d: String): DataFrame = {
    val agg = eventStream(s, d).toDF()
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("sess_n"), sum(cents(col("value"))).as("sum_c"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start_s"),
        col("sess_n"), col("sum_c"))
    runToTable(s, agg, "graft_stream_session", "complete")
  }

  // W14: stream-stream interval join under the ORACLE — W8's
  // cross-aggregate event-time correlation (purchase attributed to the
  // same user's views in the preceding 15 minutes), run on the real
  // driver source. Both sides carry a 1-hour watermark so the join
  // state is bounded: Spark evicts buffered rows once the watermark
  // passes their interval, which at 100 TB/day is the difference
  // between O(window) and O(stream) state. Emission is complete for an
  // INNER join (matches emit in the batch that finds them — only outer
  // joins withhold null-sides on the watermark) and the source's
  // chronological micro-batches keep every needed row above the
  // eviction line (batch i+1's rows are ≥ batch i's max event time,
  // while eviction trails the watermark = max ts − 1 h), so the
  // streamed pair set is provably the batch join's. Oracle = the plain
  // SQL interval self-join.
  private def streamJoin(s: SparkSession, d: String): DataFrame = {
    val purchases = eventStream(s, d).toDF()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = eventStream(s, d).toDF()
      .filter(col("event_type") === "view")
      .select(col("event_id").as("v_event_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 15 MINUTES"))
      .select(col("p_event_id"), col("v_event_id"), col("user_id"),
        (Tables.microsOf(col("p_ts")) - Tables.microsOf(col("v_ts"))).as("lag_us"))
    // A stream-stream join keeps FOUR state stores per shard
    // (keyWithIndex + keyWithNumValues, each side), so its per-trigger
    // commit fan-out is 4x a stateful aggregation's at any shard
    // count — the old flat-8 era halved it to an explicit 4 (measured
    // 5.1 -> 4.0 s warm at sf0.1). The mass-derived sizing in
    // Streams.start now lands BELOW that at bench scale (2 shards
    // for a 33k-row batch) and still scales with the measured source,
    // so the override is gone.
    runToTable(s, joined, "graft_stream_join", "append").drop("_batch_id")
  }

  private val streamJoinSql =
    """SELECT p.event_id AS p_event_id, v.event_id AS v_event_id, p.user_id,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
      |FROM events p JOIN events v
      |  ON v.user_id = p.user_id
      | AND p.event_type = 'purchase' AND v.event_type = 'view'
      | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 15 MINUTE""".stripMargin

  // M8's streaming twin: the catch-up dashboard surge's init BLOCKS on
  // is inherently a LIVE number — lag only means anything while the
  // consumer runs. The same one-hash-agg of conditional aggregates runs
  // on the streaming engine in complete mode (each refresh is the
  // current per-shard lag view); oracle = M8's ⇒ batch/stream parity.
  private def streamConsumerLag(s: SparkSession, d: String): DataFrame =
    runToTable(s,
      graft.operators.MetricsOps.consumerLagAgg(eventStream(s, d).toDF()),
      "graft_stream_consumer_lag", "complete")

  // M15's streaming twin: the ops heatmap is a dashboard tile — it
  // exists to be CURRENT. The same bounded-grid hash-agg runs on the
  // streaming engine in complete mode (each refresh repaints the whole
  // ≤|types|·24·10 grid — tiny, so complete mode costs nothing);
  // oracle = M15's ⇒ batch/stream heatmap parity.
  private def streamHeatmap(s: SparkSession, d: String): DataFrame =
    runToTable(s,
      graft.operators.MetricsOps.heatmapAgg(eventStream(s, d).toDF()),
      "graft_stream_heatmap", "complete")

  // M17's streaming twin `stream_downsample`: the TSDB roll-up as the
  // retention job actually runs it — candles maintained live while
  // raw points stream in, the fine-grained data free to expire behind
  // them. The WHOLE candle (open/close via packed-decimal argmin/
  // argmax, min/max/sum/count) is min/max/sum monoids, so the
  // streaming engine keeps O(1) state per (sensor, hour) cell and the
  // complete-mode emission equals the batch candle exactly; oracle =
  // M17's ⇒ batch/stream parity for every candle field.
  private def streamDownsample(s: SparkSession, d: String): DataFrame =
    runToTable(s,
      graft.operators.MetricsOps.downsampleAgg(eventStream(s, d).toDF()),
      "graft_stream_downsample", "complete")

  // E29's streaming twin `stream_command_dedup`: the idempotency gate
  // where it actually lives — in front of the live command stream. The
  // verdict per (aggregate, key) is a packed-decimal argmin plus an
  // attempt count — both commutative monoids, so the complete-mode
  // streaming agg keeps one fixed-width buffer per key and the final
  // emission equals the batch verdict exactly. The raw stream (with
  // the JSON envelope column the typed Ev projection drops) comes
  // straight off the split source; oracle = E29's ⇒ batch/stream
  // parity for every verdict field.
  private def streamCommandDedup(s: SparkSession, d: String): DataFrame = {
    val src = splitSource(s, d)
    val raw = s.readStream.schema(Tables.read(s, src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val agg = raw
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("idem_key"),
        col("ts"), col("event_id"))
      .groupBy("user_id", "idem_key")
      .agg(count(lit(1)).as("n_attempts"),
        min(graft.operators.Packed.latest(col("ts"), col("event_id"), lit(0L)))
          .as("pk"))
      .select(col("user_id"), col("idem_key"), col("n_attempts"),
        graft.operators.Packed.eventId(col("pk")).as("accepted_event_id"),
        (col("n_attempts") - 1).as("n_duplicates"))
    // state is a key per (user, idem_key) ≈ one per event — row-scale,
    // so shards size from the state estimate, not just batch input
    // (measured: addBatch 2.1 s/batch at the input rule's 2 shards vs
    // 0.65 s at 8 on the 73k-key sf0.1 state)
    runToTable(s, agg, "graft_stream_command_dedup", "complete",
      rowScaleState = true)
  }

  // M21's streaming twin `stream_availability`: the uptime roll-up as
  // the SLA dashboard serves it — LIVE. The corpus-collapsing stage
  // (the observed (sensor, day, hour) grid) is a complete-mode
  // streaming count agg (sum monoid, bounded grid); the day roll-up
  // repaints per refresh over that tiny grid, exactly the
  // stream_escalation pattern. Oracle = M21's ⇒ batch/stream
  // availability parity.
  private def streamAvailability(s: SparkSession, d: String): DataFrame = {
    val grid = runToTable(s,
      graft.operators.MetricsOps.observedHours(eventStream(s, d).toDF()),
      "graft_stream_availability", "complete")
    graft.operators.MetricsOps.availabilityRollup(
      grid.select("event_type", "day", "hr"))
  }

  // W21's streaming twin `stream_escalation`: the escalation board as
  // the on-call rotation actually watches it — LIVE. The corpus-scale
  // stage (the fired-hour grid) runs as a complete-mode streaming agg
  // (count per (aggregate, hour) is a sum monoid — O(1) state per
  // cell, bounded grid); the run resolution is W21's gaps-and-islands
  // over that TINY emitted grid, recomputed per refresh exactly as a
  // dashboard repaints. Oracle = W21's ⇒ batch/stream escalation
  // parity for every run and verdict.
  private def streamEscalation(s: SparkSession, d: String): DataFrame = {
    val grid = runToTable(s,
      graft.operators.Windows.firedGrid(eventStream(s, d).toDF()),
      "graft_stream_escalation", "complete")
    graft.operators.Windows.escalationRuns(
      grid.select("user_id", "hr", "n_errors"))
  }

  // M19's streaming twin `stream_forecast`: baseline scoring as live
  // monitoring actually runs it — the model is TRAINED offline (one
  // tiny batch agg over the historical train window, broadcast as a
  // static frame, the stream_anomaly pattern) and INCOMING eval-window
  // readings are graded against it continuously; each complete-mode
  // refresh re-emits the whole bounded (sensor, hod) error grid. The
  // stream replays the full log, so the stateless ts >= cut filter
  // inside the shared agg selects exactly the batch op's eval rows;
  // oracle = M19's ⇒ batch/stream parity for every error statistic.
  private def streamForecast(s: SparkSession, d: String): DataFrame = {
    // materialize the trained model ONCE per invocation: a static frame
    // referenced inside a streaming plan is RE-EXECUTED every
    // micro-batch (each trigger replans and re-runs the broadcast
    // side), so without the pin every batch paid the model's full
    // events scan + agg — O(corpus) per trigger for a bounded
    // (type, hour) grid that never changes during the run. At sf0.1 the
    // events table is ~3 MB so the solo A/B lands inside host noise
    // (warm addBatch ~0.7-0.9 s/batch both ways); the removed term is
    // the one that grows with the corpus. The same rule measured 2x on
    // stream_bloom_gate, whose static side hashes document TEXT.
    val model = Tables.stableCheckpoint(graft.operators.MetricsOps
      .forecastModel(Tables.events(s, d)))
    runToTable(s,
      graft.operators.MetricsOps.forecastEvalAgg(eventStream(s, d).toDF(), model),
      "graft_stream_forecast", "complete")
  }

  // M11's streaming twin: an SLO burn-rate page is only a page while
  // the monitor is RUNNING — the batch form is the audit, this is the
  // alert. The same one-conditional-hash-agg runs on the streaming
  // engine in complete mode (each refresh re-grades every (shard,
  // hour) against the budget, so a recovered window un-pages exactly
  // as the two-window rule intends); oracle = M11's ⇒ batch/stream
  // parity for the paging decision itself.
  private def streamSloBurn(s: SparkSession, d: String): DataFrame =
    runToTable(s,
      graft.operators.MetricsOps.sloBurnAgg(eventStream(s, d).toDF()),
      "graft_stream_slo_burn", "complete")

  // M13's streaming twin `stream_anomaly`: production anomaly alerting
  // scores INCOMING readings against a TRAINED baseline — the moments
  // come from the historical log (a one-off batch agg, tiny, broadcast
  // as a static frame), and each micro-batch runs the stateless
  // integer-exact 3-sigma filter over just its own rows (append mode,
  // zero streaming state). The source replays the same log the
  // baseline was trained on, so the emitted union is exactly the batch
  // op's flag set; oracle = M13's ⇒ batch/stream parity for the
  // paging verdicts themselves.
  private def streamAnomaly(s: SparkSession, d: String): DataFrame = {
    // materialize the trained moments ONCE per invocation — same
    // static-side-per-trigger re-execution as stream_forecast (see
    // there): unpinned, every micro-batch re-ran the full-events
    // moments agg just to rebuild an unchanged |types|-row broadcast.
    val baseline = Tables.stableCheckpoint(graft.operators.MetricsOps
      .anomalyMoments(Tables.events(s, d)))
    runToTable(s,
      graft.operators.MetricsOps.anomalyFlag(eventStream(s, d).toDF(), baseline),
      "graft_stream_anomaly", "append").drop("_batch_id")
  }

  // P19's streaming twin `stream_deciles`: the corpus length
  // distribution maintained LIVE while documents are ingested, with
  // the per-doc decile verdicts repainted per refresh — the curriculum
  // dashboard during an ingest run. The corpus-scale stage (the
  // bounded length GRID) is a complete-mode streaming count agg over
  // the arriving docs (sum monoid, O(1) state per distinct length);
  // the already-ingested base corpus contributes a STATIC grid merged
  // in by monoid append (the E13 snapshot+delta contract — streaming
  // unions with static frames are unsupported, grid⊕grid is the
  // monoid the design wants anyway); the verdict join runs THROUGH
  // Pipeline.decilesFromGrid — the literal batch code path — per
  // refresh. The split source replays every doc > t exactly once, so
  // base ⊕ streamed = the full corpus grid and the final repaint IS
  // the batch P19 result; oracle = P19's ⇒ batch/stream decile
  // parity for every document.
  private def streamDeciles(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Pipeline
    val t = graft.functions.Dedup.incThreshold(s, d)
    val baseGrid = Pipeline.docTok(s, d).filter(col("doc_id") <= t)
      .groupBy("n_tok").agg(count(lit(1)).as("c"))
    val streamedGrid = runToTable(s,
      s.readStream.schema(Tables.documents(s, d).schema)
        .option("maxFilesPerTrigger", "1").parquet(docSplitSource(s, d))
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("n_tok").agg(count(lit(1)).as("c")),
      "graft_stream_deciles", "complete")
    val grid = baseGrid.unionByName(streamedGrid)
      .groupBy("n_tok").agg(sum(col("c")).as("c"))
    Pipeline.decilesFromGrid(Pipeline.docTok(s, d), grid)
  }

  // D18's streaming twin `stream_bloom_gate` (D19): the Bloom-gated
  // exact-dup admission where it actually runs in production — in
  // front of the LIVE ingest stream. The base corpus's membership
  // bloom is built ONCE (bounded metadata, re-shipped as a literal —
  // the R27/D18 machinery) and probed INSIDE every micro-batch's
  // scan: bloom-negative docs are provably new and bypass the join
  // entirely (per batch, the join input is only the positive sliver),
  // bloom-positive docs pay the digest left-join against the static
  // base where FPs fall out exactly. The base index is IMMUTABLE
  // capital (built before the stream starts, never rebuilt per batch
  // — the stream_admit lesson); per-batch work is O(batch) hashing +
  // one sliver join. Append-mode emission: each doc is graded in
  // exactly the batch that carries it, so the accumulated sink is
  // byte-identical to the batch D18 verdict set and the oracle IS
  // D18's ⇒ batch/stream admission parity.
  private def streamBloomGate(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Dedup
    // the base index is PERSISTED capital (Dedup.bloomGateIndex): the
    // r14 form kept the unaggregated base frame in the streaming plan,
    // so EVERY micro-batch re-scanned + re-md5'd + re-aggregated the
    // prior corpus just to rebuild an immutable (h → dup_of) map — the
    // static-side-per-trigger rule. Now each batch reads the narrow
    // parquet index; the join hint is the same byte-gated law as batch.
    val idx = Dedup.bloomGateIndex(s, d)
    val hint = Dedup.bloomGateAttachHint(s, d)
    val might = Dedup.bloomMightOverH(idx)
    val stream = s.readStream.schema(Tables.documents(s, d).schema)
      .option("maxFilesPerTrigger", "1").parquet(docSplitSource(s, d))
      .select(col("doc_id"), md5(col("text")).as("h"))
    val positives = stream.filter(might)
      .join(idx.hint(hint), Seq("h"), "left")
      .select(col("doc_id"), col("dup_of"))
    val negatives = stream.filter(!might)
      .select(col("doc_id"), lit(null).cast("long").as("dup_of"))
    runToTable(s,
      positives.unionByName(negatives)
        .select(col("doc_id"),
          when(col("dup_of").isNotNull, "dup").otherwise("new").as("verdict"),
          col("dup_of")),
      "graft_stream_bloom_gate", "append").drop("_batch_id")
  }

  // D10's streaming twin `stream_admit`: the admission gate as the
  // LIVE ingest loop it is in production — new docs arrive in
  // micro-batches, each batch is graded against the PERSISTED
  // band+digest index, and the graded batch's signatures are APPENDED
  // so later batches see earlier ones (the LiveStore growth contract
  // applied to the dedup index; append-only, never a store rewrite —
  // the E16 lesson). Batches are ascending doc_id ranges, so for any
  // candidate pair doc_a < doc_b the earlier doc is already in the
  // store (or in the same batch) when the later one is graded — the
  // streamed verdict set is provably the batch D10 result, and the
  // oracle IS D10's. Per batch: O(batch) signature work + one
  // shuffle-hash probe; old docs are never re-signatured.
  private val docSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write a `_p`-tagged frame as [[sourceBatches]] single-parquet
    * split files with ascending modification times, so a
    * maxFilesPerTrigger=1 reader delivers them as ordered
    * micro-batches (the docSplitSource layout, shared by every
    * document-shaped split source). */
  private def writeSplitFiles(base: String, tagged: DataFrame): Unit = {
    new java.io.File(base).mkdirs()
    for (i <- 0 until sourceBatches) {
      val tmp = s"$base/_build_$i"
      tagged.filter(col("_p") === i).drop("_p").coalesce(1)
        .write.options(LocalFiles.writeOptions).mode("overwrite").parquet(tmp)
      val part = Option(new java.io.File(tmp).listFiles()).get
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val dst = new java.io.File(base, f"$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(1700000000000L + i * 60000L)
      deleteRec(new java.io.File(tmp))
    }
  }

  // cache key = full target path (session-specific workDir), like splitSource
  private[graft] def docSplitSource(s: SparkSession, d: String): String = {
    val target = s"${Tables.workDir(s)}/docs_split_" +
      Tables.datasetTag(d)
    docSplitCache.computeIfAbsent(target, base => {
      val t = graft.functions.Dedup.incThreshold(s, d)
      writeSplitFiles(base, Tables.stableCheckpoint(
        Tables.documents(s, d).filter(col("doc_id") > t)
          .repartitionByRange(sourceBatches, col("doc_id"))
          .withColumn("_p", spark_partition_id())))
      base
    })
  }

  // growing stores are per-invocation (append-only across the run's
  // batches, fresh seed on every op call — a rerun must not see the
  // previous run's appends)
  private val admitInvocations = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Append one micro-batch's index rows as a committed `delta_b<id>`
    * directory (staged write + atomic rename — the LiveStore pattern),
    * so the growth is IDEMPOTENT under foreachBatch's at-least-once
    * contract: a redelivered batch finds its committed dir and returns
    * instead of appending duplicate rows. Readers list the root
    * recursively; `_staging_*` stays invisible (underscore-prefixed
    * paths are filtered from every Spark file listing). */
  private[graft] def appendBatchOnce(df: DataFrame, root: String, id: Long): Unit = {
    val dst = new java.io.File(root, s"delta_b$id")
    // committed = the delta dir exists (possibly retired awaiting its
    // grace deletion) OR a compaction already folded this id into a base
    if (dst.exists() || liveGrowth(root)._1 >= id) return
    val stg = new java.io.File(root, s"_staging_b$id")
    deleteRec(stg)
    df.write.mode("overwrite").parquet(stg.getPath)
    java.nio.file.Files.move(stg.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  // ---- append-only growth store with bounded fan-in (round 11) ----
  //
  // The admission index's growth root accumulates one `delta_b<id>`
  // dir per micro-batch; without compaction every batch's merge-on-read
  // pays O(#deltas) listing + union fan-in — O(run length) per batch,
  // O(run²) over an unbounded ingest run. Same cure as LiveStore's
  // base_v machinery (cadence [[LiveStore.compactEvery]]), but simpler
  // semantics: rows are APPEND-ONLY, so compaction is a pure union
  // fold into `grown_v<upTo>` — no monoid merge, and verdicts are
  // invariant even under a replayed append of already-folded rows
  // (exact_of/near_of are min-aggregated over distinct pairs). Commit
  // discipline is LiveStore's: staged write + atomic rename; folded
  // inputs are RETIRED (outranked by the new base) and physically
  // deleted one compaction cycle later, so an in-flight scan that
  // planned over the old roots keeps its files.

  private def growSubdirs(root: String, prefix: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(f => (f.getName.stripPrefix(prefix).toLong, f)).toSeq.sortBy(_._1)

  /** Newest folded base version (-1 if none) and the LIVE roots:
    * newest `grown_v` + deltas past it. */
  private[graft] def liveGrowth(root: String): (Long, Seq[java.io.File]) = {
    val bases = growSubdirs(root, "grown_v")
    val v = bases.lastOption.map(_._1).getOrElse(-1L)
    (v, bases.lastOption.map(_._2).toSeq ++
      growSubdirs(root, "delta_b").collect { case (id, f) if id > v => f })
  }

  /** Dirs a previous compaction retired — deletable after one cycle. */
  private def staleGrowth(root: String): Seq[java.io.File] = {
    val bases = growSubdirs(root, "grown_v")
    val v = bases.lastOption.map(_._1).getOrElse(-1L)
    bases.dropRight(1).map(_._2) ++
      growSubdirs(root, "delta_b").collect { case (id, f) if id <= v => f }
  }

  private[graft] def readGrown(s: SparkSession, root: String): Option[DataFrame] = {
    val (_, live) = liveGrowth(root)
    if (live.isEmpty) None
    else Some(live.map(f => Tables.read(s, f.getPath)).reduce(_.unionByName(_)))
  }

  /** Fold live deltas into a new `grown_v<upTo>` once they exceed the
    * LiveStore cadence; bounded fan-in ≤ 1 + compactEvery + 1. */
  private[graft] def maybeCompactGrowth(s: SparkSession, root: String): Unit = {
    val (v, _) = liveGrowth(root)
    val deltas = growSubdirs(root, "delta_b").filter(_._1 > v)
    if (deltas.size <= LiveStore.compactEvery) return
    // grace drain: what the PREVIOUS compaction retired has had a full
    // cycle for in-flight scans to finish
    staleGrowth(root).foreach(deleteRec)
    val upTo = deltas.map(_._1).max
    val folded = readGrown(s, root).get
    val stg = new java.io.File(root, s"_staging_grown_v$upTo")
    deleteRec(stg)
    folded.write.mode("overwrite").parquet(stg.getPath)
    java.nio.file.Files.move(stg.toPath,
      new java.io.File(root, s"grown_v$upTo").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Base index ∪ this run's committed growth deltas. The base is the
    * IMMUTABLE signature of the pre-existing corpus — built once per
    * (session, dataset) via buildOnce, shared by every invocation (the
    * bench's three reps were each re-signaturing and re-writing the
    * whole old corpus; at production scale the base index is capital,
    * not per-run work). Only the growth root is per-invocation: a
    * rerun must not see a previous run's appends.
    *
    * `base` is the PRE-READ base DataFrame, constructed once per
    * invocation outside the foreachBatch loop: the round-11 stream_admit
    * attribution (SCALE.md "stream_admit per-batch cost, attributed")
    * found ~0.5 s/batch of driver-side gap between jobs, part of which
    * was re-listing + footer-schema-inferring the immutable base
    * parquet on EVERY batch — a per-batch re-plan of per-run capital.
    * Only the growth root (which genuinely changes between batches) is
    * re-listed per batch. */
  private def baseAndGrowth(s: SparkSession, base: DataFrame, growRoot: String): DataFrame =
    readGrown(s, growRoot) match {
      case Some(g) => base.unionByName(g)
      case None => base
    }

  private def streamAdmit(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Dedup
    val inv = admitInvocations.incrementAndGet()
    val t = Dedup.incThreshold(s, d)
    val old = Tables.documents(s, d).filter(col("doc_id") <= t)
    val dtag = Tables.datasetTag(d)
    val baseBands = s"${Tables.workDir(s)}/admit_base_bands_$dtag"
    val baseDigests = s"${Tables.workDir(s)}/admit_base_digests_$dtag"
    Tables.buildOnce(baseBands)(Dedup.bandRows(old))
    Tables.buildOnce(baseDigests)(
      old.select(col("doc_id"), md5(col("text")).as("h")))
    // read the immutable base index ONCE per invocation (see
    // baseAndGrowth) — the foreachBatch closure reuses these frames
    val baseBandsDf = Tables.read(s, baseBands)
    val baseDigestsDf = Tables.read(s, baseDigests)
    val tag = dtag + s"_$inv"
    val bandsPath = s"${Tables.workDir(s)}/admit_bands_$tag"
    val digestPath = s"${Tables.workDir(s)}/admit_digests_$tag"
    new java.io.File(bandsPath).mkdirs()
    new java.io.File(digestPath).mkdirs()
    val outDir = new java.io.File(s"${Tables.workDir(s)}/sink_stream_admit_$inv")
    val stream = s.readStream.schema(Tables.documents(s, d).schema)
      .option("maxFilesPerTrigger", "1").parquet(docSplitSource(s, d))
    val checkpoint = s"${Tables.workDir(s)}/checkpoint_stream_admit_$inv"
    drainFresh(stream, checkpoint, "append", rowScaleState = false) { (batch, id) =>
      val s2 = batch.sparkSession
      // NOTE (r15, measured-rejected restructure): committing the
      // signature deltas FIRST and reading the committed parquet
      // back for the grading joins (dropping both per-batch
      // stableCheckpoints) looked like strictly fewer jobs — it
      // measured MORE (56 vs 50 jobs/rep at sf0.1: the per-batch
      // read-side listing/footer jobs outweigh the two saved
      // checkpoint materializations) and no better on wall. The
      // pins stay.
      val bands = Tables.stableCheckpoint(Dedup.bandRows(batch.toDF()))
      val digests = Tables.stableCheckpoint(batch.toDF()
        .select(col("doc_id"), md5(col("text")).as("h")))
      val exact = digests.alias("n")
        .join(baseAndGrowth(s2, baseDigestsDf, digestPath).unionByName(digests).alias("o"),
          col("o.h") === col("n.h") && col("o.doc_id") < col("n.doc_id"))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(min(col("o.doc_id")).as("exact_of"))
      val near = baseAndGrowth(s2, baseBandsDf, bandsPath).unionByName(bands).alias("a")
        .join(bands.hint("shuffle_hash").alias("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .groupBy(col("doc_b").as("doc_id"))
        .agg(min(col("doc_a")).as("near_of"))
      batch.toDF().select(col("doc_id"), col("lang"))
        .join(exact.hint("shuffle_hash"), Seq("doc_id"), "left")
        .join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("exact_of").isNotNull, "exact_dup")
            .when(col("near_of").isNotNull, "near_dup")
            .otherwise("keep").as("verdict"),
          coalesce(col("exact_of"), col("near_of")).as("dup_of"))
        .write.mode("overwrite").parquet(s"$outDir/b_$id")
      // the graded batch is now part of the corpus: grow the index —
      // as a committed per-batch delta dir, so a redelivered batch
      // cannot append its rows twice
      appendBatchOnce(bands, bandsPath, id)
      appendBatchOnce(digests, digestPath, id)
      // bound the merge-on-read fan-in over an unbounded run (the
      // LiveStore cadence; a no-op until deltas exceed it)
      maybeCompactGrowth(s2, bandsPath)
      maybeCompactGrowth(s2, digestPath)
    }
    val batches = Option(outDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("b_")).map(_.getPath)
    require(batches.nonEmpty, "stream_admit produced no batches")
    Tables.read(s, batches.toIndexedSeq: _*)
  }

  // D21 `stream_index_maintain`: D20's maintained digest index kept
  // LIVE — the recrawl delta arrives as a stream of retire/upsert
  // ACTIONS (interleaved within every micro-batch: a changed doc's
  // retirement and its re-insert ride together, keyed to the same
  // doc_id), and the persisted index grows under it through the same
  // committed-delta-dir store as stream_admit (append idempotent
  // under foreachBatch's at-least-once redelivery — the delta dir IS
  // the replay marker; merge-on-read fan-in bounded by the LiveStore
  // compaction cadence). Retirement on an append-only store is
  // VERSIONED, never destructive: every appended row carries its
  // batch id, and a retire at seq b kills only index rows with
  // seq < b — so a changed doc's same-batch re-insert survives its
  // own retirement, a replayed append cannot resurrect a retired
  // row, and the rule is invariant under compaction's union-folds
  // (rows keep their seq through a fold). The final canonical view
  // (per digest: survivor count + min-id canon) must equal D20's
  // from-scratch rebuild — the oracle IS indexMaintainSql, so the
  // driver hash-compare proves the maintained-under-streaming law.
  private val idxMaintainInvocations =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def idxDeltaSplitSource(s: SparkSession, d: String): String = {
    val target = s"${Tables.workDir(s)}/idxdelta_split_" + Tables.datasetTag(d)
    docSplitCache.computeIfAbsent(target, base => {
      writeSplitFiles(base, Tables.stableCheckpoint(
        graft.functions.Dedup.indexDeltaActions(s, d)
          .repartitionByRange(sourceBatches, col("doc_id"))
          .withColumn("_p", spark_partition_id())))
      base
    })
  }

  /** Canonical view of base ∪ maintained growth store under the
    * versioned-retirement rule (shared with the redelivery spec). The
    * retire set is delta-sized, so it is the licensed shuffle-hash
    * build side; the base index never rewrites and only delta text
    * was ever hashed. */
  private[graft] def maintainedIndexView(s: SparkSession, base: DataFrame,
      root: String): DataFrame = {
    val delta = readGrown(s, root).getOrElse(
      sys.error(s"maintained index at $root has no committed growth"))
    val rows = base
      .select(col("doc_id"), col("h"), lit(-1L).as("seq"))
      .unionByName(delta.filter(col("action") === "upsert")
        .select(col("doc_id"), col("h"), col("seq")))
    val retires = delta.filter(col("action") === "retire")
      .groupBy("doc_id").agg(max(col("seq")).as("rseq"))
    rows.join(retires.hint("shuffle_hash"), Seq("doc_id"), "left")
      // strictly-older rows die; the same-batch re-insert (seq == rseq)
      // survives its own retirement — retire-then-upsert within a batch
      .filter(col("rseq").isNull || col("seq") >= col("rseq"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canon"))
  }

  // R32 `stream_view_maintain`: R31's materialized view maintained
  // LIVE — the arriving fact slice lands in micro-batches, each batch
  // aggregates its OWN join partials through exactly the batch view
  // body (structural parity) against the threshold-pruned dimension
  // delta, written ONCE per invocation as a bucket-sorted table (the
  // C9 layout — see the dimBuckets comment below; the r14 form
  // re-shuffled the raw dimension frame every batch), and the
  // partials append as committed delta dirs (replay
  // markers ⇒ idempotent under redelivery; LiveStore cadence bounds
  // fan-in). Because every view column is a commutative monoid in
  // exact cents, the final read is ONE bounded hash-agg over
  // base ∪ growth, batch boundaries invisible by algebra — the oracle
  // is R31's full recompute, so the driver hash-compare proves the
  // streamed IVM law end to end.
  private val viewMaintainInvocations =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def liDeltaSplitSource(s: SparkSession, d: String, t: Long): String = {
    val target = s"${Tables.workDir(s)}/lidelta_split_${Tables.datasetTag(d)}_$t"
    docSplitCache.computeIfAbsent(target, base => {
      // DIRECT split write — no stableCheckpoint, no coalesce(1): the
      // view partials are commutative monoids, so batch CONTENTS need
      // no cross-run pinning (unlike the order-sensitive admit split),
      // and at sf100 the checkpoint+1-task-funnel form of the writer
      // OOMs on the 120 M-row delta. One ranged write job, one file
      // per range partition, renamed with ascending mtimes.
      val tmp = s"$base/_build"
      Tables.lineitem(s, d).filter(col("l_orderkey") > t)
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
        .repartitionByRange(sourceBatches, col("l_orderkey"))
        .write.options(LocalFiles.writeOptions).mode("overwrite").parquet(tmp)
      val parts = Option(new java.io.File(tmp).listFiles()).get
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .sortBy(_.getName)
      for ((part, i) <- parts.zipWithIndex) {
        val dst = new java.io.File(base, f"$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1700000000000L + i * 60000L)
      }
      deleteRec(new java.io.File(tmp))
      base
    })
  }

  private def streamViewMaintain(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Relational
    val inv = viewMaintainInvocations.incrementAndGet()
    val li = Tables.lineitem(s, d)
    val maxOk = Tables.maxIdFromStats(s, s"$d/lineitem.parquet", "l_orderkey", li)
    val t = maxOk * 4 / 5
    // the SAME base capital as the batch R31 (shared per dataset)
    val path = s"${Tables.workDir(s)}/view_monthly_flag_" + Tables.datasetTag(d)
    Tables.buildOnce(path)(Relational.viewAgg(
      li.filter(col("l_orderkey") <= t),
      Tables.orders(s, d).filter(col("o_orderkey") <= t)))
    // C9 BUCKETED dimension (r12 verdict item 1 — the named-but-unbuilt
    // cure): the plain stream-static join re-paid the dimension
    // shuffle+sort EVERY micro-batch (measured at sf100: the 30 M-row
    // orders delta re-exchanged per batch). Writing the delta ONCE per
    // invocation as a bucket-SORTED table on the join key makes its
    // scan arrive hash-clustered AND per-bucket-ordered, so each
    // batch's join plans with ZERO exchange and ZERO sort on the
    // dimension side — only the arriving batch shuffles (to the bucket
    // count), the irreducible stream side. The pre-repartition to
    // exactly the bucket count gives ONE file per bucket (same murmur3
    // hash as the bucket spec), which is what lets the scan REPORT its
    // sort order — multi-file buckets would re-sort under SMJ. NOT a
    // shuffle_hash build: the delta is corpus-scaled, and a
    // corpus-scaled per-task hash relation OOMs under full core
    // occupancy (the CLAUDE.md rule) — bucket-sorted SMJ is the shape
    // that survives 100×. MEASURED at sf100 (scale/sf100_r15_bucketed
    // _view.json): per-batch exchange on the dimension side gone.
    // (Batch-side pre-aggregation remains a measured LOSS — 91.7 s vs
    // 46.0 s warm at sf100: with 3 return flags the partial's
    // cardinality is ~rows, it only adds a shuffle.)
    // Bucket count from MEASURED delta mass, never a constant (r13
    // verdict item 1 — the last hardcoded-parallelism value in a hot
    // plan; a fixed 16 caps the dimension scan AND the per-batch
    // stream-side repartition at 16 tasks at ANY scale: ~190 M rows
    // per SMJ task at 100x the sf100 delta). The delta's row count is
    // estimated from parquet FOOTER row counts times the key-range
    // fraction (orderkeys are ~uniform in [1, maxOk]; sizing tolerates
    // small nonuniformity) — zero scan, the maxIdFromStats discipline
    // — then ~500k rows/bucket, capped at the session default (the
    // CLAUDE.md sizing rule). The count-pinned repartition below keeps
    // the one-file-per-bucket invariant the sorted-scan ordering
    // depends on at every derived count.
    // double math for the fraction: r * t in int64 overflows for
    // billion-row tables with large keys; sizing needs ~2 digits
    val ordRows = Tables.rowCountFromStats(s, s"$d/orders.parquet")
    val estDelta = ordRows.map(r =>
      (r * ((maxOk - t).toDouble / maxOk)).toLong)
    val dimBuckets = Sizing.dimBucketsFor(
      estDelta, s.sessionState.conf.numShufflePartitions)
    val dimTable = s"view_dim_${Tables.datasetTag(d)}_$inv"
    // EXTERNAL table under the scratch root: a managed table would
    // land in spark.sql.warehouse.dir, which defaults to ./spark-
    // warehouse in the driver's cwd for Verify/Bench sessions
    val dimLoc = s"${Tables.workDir(s)}/$dimTable"
    Tables.orders(s, d).filter(col("o_orderkey") > t)
      .select("o_orderkey", "o_orderdate")
      .repartition(dimBuckets, col("o_orderkey"))
      .write.bucketBy(dimBuckets, "o_orderkey").sortBy("o_orderkey")
      .options(LocalFiles.writeOptions).option("path", dimLoc)
      .mode("overwrite").saveAsTable(dimTable)
    val root = s"${Tables.workDir(s)}/view_growth_" +
      Tables.datasetTag(d) + s"_$inv"
    new java.io.File(root).mkdirs()
    val srcDir = liDeltaSplitSource(s, d, t)
    val stream = s.readStream.schema(Tables.read(s, srcDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    // Spark stopped REPORTING sorted-bucket scan ordering by default
    // (SPARK-28632: wrong when a bucket spans files); the legacy flag
    // restores it and still verifies ONE file per bucket before
    // claiming order — which the count-pinned repartition above
    // guarantees. Set on the stream's child session: the query's
    // cloned session inherits it, nothing else in the JVM sees it.
    val checkpoint = s"${Tables.workDir(s)}/checkpoint_view_maintain_$inv"
    try drainFresh(stream, checkpoint, "append", rowScaleState = false,
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") { (batch, id) =>
      val s2 = batch.sparkSession
      appendBatchOnce(Relational.viewAgg(batch, s2.table(dimTable)), root, id)
      maybeCompactGrowth(s2, root)
    } finally {
      // table LOCATIONS outlive the per-JVM in-memory catalog
      // (LOCATION_ALREADY_EXISTS on rerun) — unique name per
      // invocation + drop + delete the location
      s.sql(s"DROP TABLE IF EXISTS $dimTable")
      deleteRec(new java.io.File(dimLoc))
    }
    Tables.read(s, path)
      .unionByName(readGrown(s, root).getOrElse(
        sys.error(s"view growth at $root is empty")))
      .groupBy("month", "l_returnflag")
      .agg(sum(col("sum_price_c")).as("sum_price_c"), sum(col("n")).as("n"))
  }

  private def streamIndexMaintain(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Dedup
    val inv = idxMaintainInvocations.incrementAndGet()
    val base = Dedup.digestIndexBase(s, d)
    val root = s"${Tables.workDir(s)}/idx_maintain_" +
      Tables.datasetTag(d) + s"_$inv"
    new java.io.File(root).mkdirs()
    val srcDir = idxDeltaSplitSource(s, d)
    val stream = s.readStream.schema(Tables.read(s, srcDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val checkpoint = s"${Tables.workDir(s)}/checkpoint_index_maintain_$inv"
    drainFresh(stream, checkpoint, "append", rowScaleState = false) { (batch, id) =>
      appendBatchOnce(batch.withColumn("seq", lit(id)), root, id)
      maybeCompactGrowth(batch.sparkSession, root)
    }
    maintainedIndexView(s, base, root)
  }

  override def ops: Seq[Op] = Seq(
    Op("stream_consumer_lag", streamConsumerLag,
      Some(graft.operators.MetricsOps.consumerLagSql)),
    Op("stream_heatmap", streamHeatmap,
      Some(graft.operators.MetricsOps.heatmapSql)),
    Op("stream_downsample", streamDownsample,
      Some(graft.operators.MetricsOps.downsampleSql)),
    Op("stream_forecast", streamForecast,
      Some(graft.operators.MetricsOps.forecastSql)),
    Op("stream_admit", streamAdmit, Some(graft.functions.Dedup.admitSql)),
    Op("stream_index_maintain", streamIndexMaintain,
      Some(graft.functions.Dedup.indexMaintainSql)),
    Op("stream_view_maintain", streamViewMaintain,
      Some(graft.operators.Relational.viewMaintainSql)),
    Op("stream_slo_burn", streamSloBurn,
      Some(graft.operators.MetricsOps.sloBurnSql)),
    Op("stream_anomaly", streamAnomaly,
      Some(graft.operators.MetricsOps.anomalySql)),
    Op("stream_supervision", streamSupervision,
      Some(graft.operators.Windows.signalSupervisionSql)),
    Op("stream_fold", streamFold, Some(streamFoldSql)),
    Op("stream_latest", streamLatest, Some(streamLatestSql)),
    Op("es_live_store", LiveStore.liveStore, Some(streamLatestSql)),
    // oracle = the batch es_compaction view ⇒ the stream-maintained
    // store plus its log-cleaner pass is proven bit-equal to batch
    // compaction of the same log
    Op("es_live_compaction", LiveStore.liveCompaction,
      Some(graft.operators.EventSourcing.compactedSql(""))),
    Op("stream_latest_n", streamLatestN, Some(streamLatestNSql)),
    Op("stream_window", streamWindow, Some(streamWindowSql)),
    Op("stream_session", streamSession,
      Some(graft.operators.Windows.sessionSql)),
    Op("stream_dedup", streamDedup, Some(streamDedupSql)),
    Op("stream_ewma", streamEwma, Some(streamEwmaSql)),
    Op("stream_gaps", streamGaps,
      Some(graft.operators.Windows.signalGapsSql)),
    Op("stream_audit_chain", streamAuditChain,
      Some(graft.operators.EventSourcing.auditChainSql)),
    Op("stream_pathing", streamPathing,
      Some(graft.operators.Behavioral.pathingSql)),
    Op("stream_command_dedup", streamCommandDedup,
      Some(graft.operators.EventSourcing.commandDedupSql)),
    Op("stream_escalation", streamEscalation,
      Some(graft.operators.Windows.signalEscalationSql)),
    Op("stream_availability", streamAvailability,
      Some(graft.operators.MetricsOps.availabilitySql)),
    Op("stream_join", streamJoin, Some(streamJoinSql)),
    Op("stream_deciles", streamDeciles,
      Some(graft.functions.Pipeline.corpusDecilesSql)),
    Op("stream_bloom_gate", streamBloomGate,
      Some(graft.functions.Dedup.bloomGateSql)),
    Op("stream_signal", streamSignal, Some(graft.operators.Windows.signalPatternSql)))
}
