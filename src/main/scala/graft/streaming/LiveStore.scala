package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, MessageColumnIO}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import graft.Sizing
import graft.operators.EventSourcing
import graft.sources.{LocalFiles, Tables}
import graft.sources.LocalFiles.deleteRec

/** The continuously-maintained queryable state store.
  *
  * Surge's KTable is not a batch artifact: the stream UPDATES it and
  * any aggregate's state is queryable by key at any moment
  * (`/root/reference/modules/common/src/main/scala/surge/kafka/streams/AggregateStateStoreKafkaStreams.scala`,
  * `SurgeAggregateStore.scala:31` `getAggregateBytes(aggregateId)`,
  * `KafkaStreamsKeyValueStore.scala`). graft's batch twin (E12) built
  * the sharded snapshot once; this maintains it FROM THE STREAM, with
  * the same I/O contract as the reference's RocksDB-backed store —
  * O(batch keys) per upsert, amortized background compaction:
  *
  *  - each micro-batch folds its events to packed per-key rows
  *    ([[EventSourcing.packedState]] — max packed (ts,event_id,payload),
  *    max ts, event count: every component a commutative-monoid merge)
  *    and APPENDS them as a `delta_b<batchId>` directory under the
  *    shard layout. Nothing existing is read or rewritten: upsert I/O
  *    scales with the BATCH's key count, not the store's (the RocksDB
  *    point-write analog — a 10⁹-key store ingests a 10³-key batch in
  *    10³-key time);
  *  - reads MERGE-ON-READ (the monoid makes merge order irrelevant).
  *    A snapshot or compaction folds base ∪ live deltas through ONE
  *    hash aggregate. A point lookup is `getAggregateBytes` while
  *    ingestion runs, answered from the files as surge answers it from
  *    its local store: the driver reads only the key's shard file of
  *    each live root, and of it only the row groups whose footer stats
  *    can hold the key, and folds those ≤ 1 + [[compactEvery]] rows
  *    with the same monoid in Scala — no Spark job. Each shard file
  *    is opened once, off the local file, and its records become rows
  *    through Spark's own row materializer; what depends on the session
  *    is built once per session, so a lookup broadcasts and analyses
  *    nothing;
  *  - when live deltas exceed [[compactEvery]], upsert folds them into
  *    a new `base_v<upToBatch>` — the RocksDB background-compaction
  *    analog that bounds read fan-in. E21's log-cleaner is the same
  *    pass with tombstone purge switched on.
  *
  * Every directory that readers can see is COMMITTED ATOMICALLY:
  * writers build `_staging_*` (invisible to [[Roots]]), then one
  * atomic rename publishes it (surge's producer commits state+events in
  * one Kafka transaction — `KafkaProducerActorImpl.scala:124,165,324`;
  * a filesystem rename is the one atomic primitive a parquet store
  * has). A crash between staging write and rename leaves only garbage
  * a replay deletes; a crash after rename makes the replay a detectable
  * no-op (the `delta_b<id>` dir already exists). Readers racing a
  * compaction replan from committed dirs only; the staging target is a
  * fresh path, so compaction never overwrites files under a plan it is
  * reading (no in-place-upsert trap, no checkpoint needed).
  */
object LiveStore {

  /** Default shard count for stores created without a recorded layout
    * (direct `upsert` callers, e.g. specs) — the historical constant. */
  val nShards = 16

  /** Max live delta dirs before an upsert folds them into a new base —
    * bounds merge-on-read fan-in (Kafka's `min.cleanable.dirty.ratio`
    * knob plays this role for the reference's compacted topic). */
  val compactEvery = 8

  // ---- store shard layout from MEASURED source mass (opt r15) ----
  // Every upsert writes one parquet file per (task, touched shard dir)
  // plus its crc sidecar, `_temporary` dirs and `_SUCCESS` marker.
  // [[LocalFiles.writeOptions]] keep each of those from forking a `chmod`
  // (no `libhadoop.so`), but every file still costs a create, a commit
  // rename and a listing entry for every later read. At the
  // flat 16 shards a 2-task bench batch commits ~32 tiny files per
  // trigger to carry ~500 keys — the same constant-fan-out defect
  // class the r14 state-shard sizing removed. The layout now derives
  // from the source stream's TOTAL footer row mass at store creation
  // (`Sizing.storeShardsFor`) and is RECORDED in the store dir
  // (`_nshards`), because the modulus is store METADATA: upsert and
  // lookup on an existing store must use the count it was created
  // with, whatever session reads it later. Absent marker = the
  // historical 16 (pre-existing stores, direct-upsert specs).
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  /** Record a newly created store's shard count (idempotent). */
  private def recordShards(dir: String, n: Int): Unit = {
    new java.io.File(dir).mkdirs()
    val f = new java.io.File(dir, "_nshards")
    if (!f.exists())
      java.nio.file.Files.writeString(f.toPath, n.toString)
    shardCache.put(dir, Int.box(n))
    ()
  }

  /** The store's shard modulus: the recorded layout, else the default. */
  private[graft] def storeShards(dir: String): Int =
    shardCache.computeIfAbsent(dir, p => {
      val f = new java.io.File(p, "_nshards")
      Int.box(
        if (f.exists()) java.nio.file.Files.readString(f.toPath).trim.toInt
        else nShards)
    }).intValue()

  private def shardOf(dir: String, c: Column) =
    pmod(c, lit(storeShards(dir).toLong))

  /** One listing of a store dir: its bases and its deltas, each
    * sorted by version. `_staging_*` and `_retired_*` dirs are neither:
    * uncommitted writes are invisible to every reader by construction. */
  private final case class Roots(bases: Seq[(Long, java.io.File)],
      deltas: Seq[(Long, java.io.File)]) {
    /** The newest base's version, -1 without a base. */
    val version: Long = bases.lastOption.fold(-1L)(_._1)

    /** The deltas past the newest base. */
    def liveDeltas: Seq[(Long, java.io.File)] = deltas.filter(_._1 > version)

    /** The committed, live store roots: newest base + deltas past it.
      * Dirs RETIRED by a compaction are invisible here, but stay on
      * disk for one grace cycle — see [[stale]]. */
    def live: Seq[java.io.File] = bases.lastOption.map(_._2).toSeq ++ liveDeltas.map(_._2)

    /** Dirs a PREVIOUS compaction retired: every base but the newest,
      * and deltas already folded into it. New readers never list them
      * ([[live]] filters by version), but a scan that planned over
      * the old roots may still be draining — so retirement is deferred
      * one full compaction cycle instead of deleting inputs the moment
      * the new base lands (deleting eagerly would hand an in-flight scan
      * a FileNotFoundException; planning-time atomicity alone doesn't
      * cover execution). */
    def stale: Seq[java.io.File] =
      bases.dropRight(1).map(_._2) ++ deltas.filter(_._1 <= version).map(_._2)
  }

  private def roots(dir: String): Roots = {
    val dirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).toSeq
    def versioned(prefix: String) = dirs.filter(_.getName.startsWith(prefix))
      .map(f => (f.getName.stripPrefix(prefix).toLong, f)).sortBy(_._1)
    Roots(versioned("base_v"), versioned("delta_b"))
  }

  /** base ∪ live deltas, one scan per root (a multi-path read would
    * try to infer ONE partition scheme across the roots and reject the
    * delta_b / base_v dir names). Fan-in ≤ 1 + compactEvery. */
  private def readPacked(s: SparkSession, live: Seq[java.io.File]): Option[DataFrame] =
    live.map(f => Tables.read(s, f.getPath)).reduceOption(_.unionByName(_))

  /** The commutative-monoid fold — base rows and any number of delta
    * rows merge through ONE hash aggregate, in any order. [[mergedKey]]
    * is the same monoid over one key's rows, for [[lookup]]. */
  private def merged(df: DataFrame): DataFrame =
    df.groupBy("user_id", "shard") // shard is functionally dependent
      .agg(max(col("pk")).as("pk"), max(col("mts")).as("mts"),
        sum(col("n_events")).as("n_events"))

  /** [[merged]] over one key's rows in Scala: max pk, max mts, sum
    * n_events, each skipping nulls as Spark's max and sum do. No rows
    * give no row. */
  private def mergedKey(key: Long, rows: Seq[InternalRow]): Option[InternalRow] = {
    def present(i: Int) = rows.filterNot(_.isNullAt(i))
    val pk = present(1).map(_.getDecimal(1, 38, 0)).maxOption
    val mts = present(2).map(_.getLong(2)).maxOption
    val n = present(3).map(_.getLong(3)).reduceOption(_ + _)
    Option.when(rows.nonEmpty)(
      InternalRow(key, pk.orNull, mts.map(Long.box).orNull, n.map(Long.box).orNull))
  }

  /** A store file's columns as `publish` writes them (without the
    * `shard` partition column) and as every reader sees them: a file
    * read makes each column nullable. */
  private val packedSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("pk", DecimalType(38, 0)),
    StructField("mts", TimestampType), StructField("n_events", LongType)))

  private val packedCols = (packedSchema.fieldNames.toSeq :+ "shard").map(col)

  /** Write `df` as a store root at `to`, forking no process per file. */
  private def writePacked(df: DataFrame, to: java.io.File): Unit =
    df.select(packedCols: _*).write.options(LocalFiles.writeOptions)
      .mode("overwrite").partitionBy("shard").parquet(to.getPath)

  /** Stage `df` and publish it as `dir/name`. With `skipEmpty`, a
    * write that landed no `shard=` dir (no rows) is deleted instead
    * and nothing is published; returns whether `name` was published. */
  private def publish(df: DataFrame, dir: String, name: String,
      skipEmpty: Boolean = false): Boolean = {
    val staging = new java.io.File(dir, s"_staging_$name")
    deleteRec(staging)
    writePacked(df, staging)
    if (skipEmpty && !Option(staging.list()).exists(_.exists(_.startsWith("shard=")))) {
      deleteRec(staging)
      false
    } else {
      java.nio.file.Files.move(staging.toPath, new java.io.File(dir, name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    }
  }

  /** Merge one micro-batch of raw events into the store, exactly once
    * per batch id: foreachBatch is AT-LEAST-once (a crash between the
    * delta commit and the offset commit redelivers the batch), and
    * while the max-merged pk/mts components would absorb a replay, the
    * summed n_events would double-count — so the committed `delta_b<id>`
    * directory IS the idempotence marker: a replayed id finds its dir
    * and returns. Cost per call: one packedState agg over the batch +
    * one write of the batch's keys, a single job. The store is never
    * read, and its dir is listed once. An empty batch learns it is
    * empty from that write: it publishes no delta and triggers no
    * compaction. */
  def upsert(batch: DataFrame, batchId: Long, dir: String): Unit = {
    val s = batch.sparkSession
    new java.io.File(dir).mkdirs()
    val before = roots(dir)
    val alreadyCommitted = before.deltas.exists(_._1 == batchId) ||
      before.version >= batchId // folded into a base already
    if (alreadyCommitted) return
    if (!publish(
      EventSourcing.packedState(batch).withColumn("shard", shardOf(dir, col("user_id"))),
      dir, s"delta_b$batchId", skipEmpty = true)) return // an empty batch
    // trigger on LIVE deltas only, this one included — retired ones
    // awaiting their grace deletion don't add read fan-in
    if (before.liveDeltas.size + 1 > compactEvery)
      compact(s, dir, purgeTombstones = false)
  }

  /** Fold base + live deltas into a new base and retire the inputs —
    * the background-compaction pass that bounds merge-on-read fan-in.
    * With `purgeTombstones` it is E21's log-cleaner: keys whose LATEST
    * record is a tombstone leave the store physically. Purging only
    * here — never per batch — is correctness-critical under
    * out-of-order delivery: a tombstoned key must stay in the store AS
    * a tombstone row, or an out-of-order EARLIER record arriving in a
    * later batch would resurrect the key the tombstone killed. */
  private[graft] def compact(s: SparkSession, dir: String,
      purgeTombstones: Boolean): Unit = {
    // drain the grace period: dirs the PREVIOUS compaction retired have
    // had a full cycle for in-flight scans to finish — delete them now
    val r = roots(dir)
    r.stale.foreach(deleteRec)
    val deltas = r.liveDeltas
    if (deltas.isEmpty && !(purgeTombstones && r.bases.nonEmpty)) return
    val upTo = (r.bases.lastOption.map(_._1).toSeq ++ deltas.map(_._1)).max
    val folded = merged(readPacked(s, r.live).get)
    val kept =
      if (purgeTombstones)
        folded.filter(
          pmod(graft.operators.Packed.payload(col("pk")), lit(10L)) =!= tombstoneCode)
      else folded
    val target = new java.io.File(dir, s"base_v$upTo")
    if (target.exists) {
      // re-compaction of an already-folded base (the cleaner running
      // right after a periodic pass consumed every delta): the target
      // name is taken, so stage the result, step the old base aside,
      // and publish. Only the post-stream cleaner reaches this branch —
      // no concurrent reader exists in the aside window.
      val staging = new java.io.File(dir, s"_staging_base_v$upTo")
      deleteRec(staging)
      writePacked(kept, staging)
      val retired = new java.io.File(dir, s"_retired_base_v$upTo")
      deleteRec(retired)
      java.nio.file.Files.move(target.toPath, retired.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(staging.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      deleteRec(retired)
    } else publish(kept, dir, s"base_v$upTo")
    // inputs are now RETIRED, not deleted: the new base outranks them so
    // no new reader lists them, while a scan that planned over the old
    // roots keeps its files until the NEXT compaction's grace drain. (A
    // reader planning mid-publish sees either (old base + deltas) or
    // the new base — both merge to the same rows.) The log-CLEANER pass
    // (tombstone purge) is the exception: it runs post-stream with no
    // concurrent readers by contract, and "physically purges dead keys"
    // must mean the store's FILES — so it drains its own inputs now.
    if (purgeTombstones) roots(dir).stale.foreach(deleteRec)
  }

  private val tombstoneCode = 1L // evTypes.indexOf("error")

  /** What every lookup on one session shares, built once per session
    * and again when its SQL conf changes (the conf it was built under
    * is `conf`):
    *
    *  - the read: the Hadoop conf carrying the schema converter's keys
    *    as Spark's parquet reader sets them, the converter built from
    *    it, the session's rebase modes and its INT96 conversion zone.
    *    Per file schema, the requested schema and its `ColumnIO` are
    *    built once too ([[layout]]): both are immutable, so every
    *    file of that schema, on every thread, shares them;
    *  - the decode: `decodeState` analysed over the packed schema once.
    *    The analysed plan is a stack of `Project`s (`CollapseProject`
    *    keeps the two apart, since `pay` is used twice); their bound
    *    projections run on the 0 or 1 merged row, under a lock, since a
    *    projection reuses its output row. `output` is the decoded
    *    schema's attributes.
    *
    * Nothing here refers to the session or to store contents. */
  private[graft] final class LookupPieces(val conf: Map[String, String],
      hadoop: Configuration, rebase: ParquetOptions, int96Zone: Option[java.time.ZoneId],
      val output: Seq[Attribute], projections: Seq[UnsafeProjection]) {
    private val converter = new ParquetToSparkSchemaConverter(hadoop)
    private val layouts =
      new java.util.concurrent.ConcurrentHashMap[(String, MessageType), (MessageType, MessageColumnIO)]()

    /** The requested schema of a file of `schema` written by `createdBy`,
      * clipped as `ParquetReadSupport.init` clips it (vectorized reader
      * off), and its `ColumnIO`, which depends on the writer too. */
    private def layout(createdBy: String, schema: MessageType): (MessageType, MessageColumnIO) =
      layouts.computeIfAbsent((createdBy, schema), _ => {
        val requested = ParquetReadSupport.getRequestedSchema(schema, packedSchema, hadoop, false)
        (requested, new ColumnIOFactory(createdBy).getColumnIO(requested, schema, true))
      })

    /** The rows of key `key` in local parquet file `f`. The file is
      * opened once, straight off the local file system: its footer's
      * `user_id` stats pick the row groups that can hold the key (a row
      * group without them is kept), and only those are read. Records
      * become rows through Spark's own row materializer, the one
      * `ParquetReadSupport.prepareForRead` builds for Spark's
      * non-vectorized read, so decimal and timestamp conversion stay
      * Spark's: rebase specs come from the footer metadata under the
      * session's read modes, and INT96 values are converted to the
      * session time zone where `spark.sql.parquet.int96TimestampConversion`
      * asks for it and the writer is not parquet-mr. A file that is not
      * parquet fails the open. */
    def read(f: java.io.File, key: Long): Seq[InternalRow] = {
      // read options per file, from the session's Hadoop conf: they
      // carry parquet-mr's codec factory, whose decompressors are cached
      // unsynchronized and released when the reader closes
      val in = ParquetFileReader.open(new LocalInputFile(f.toPath),
        HadoopReadOptions.builder(hadoop).build())
      try {
        val meta = in.getFooter.getFileMetaData
        val kv = meta.getKeyValueMetaData
        val (requested, io) = layout(meta.getCreatedBy, meta.getSchema)
        // the materializer holds the row being assembled: one per file
        val materializer = ParquetBridge.materializer(requested, packedSchema, converter,
          int96Zone.filterNot(_ => Option(meta.getCreatedBy).exists(_.startsWith("parquet-mr"))),
          DataSourceUtils.datetimeRebaseSpec(kv.get, rebase.datetimeRebaseModeInRead),
          DataSourceUtils.int96RebaseSpec(kv.get, rebase.int96RebaseModeInRead))
        in.setRequestedSchema(requested)
        in.getRowGroups.asScala.toSeq.zipWithIndex.flatMap { case (g, i) =>
          if (!mayHold(g, key)) Nil
          else {
            val records = io.getRecordReader(in.readRowGroup(i), materializer, FilterCompat.NOOP)
            // the materializer reuses its row: copy each kept one before the next read
            Iterator.fill(g.getRowCount.toInt)(records.read())
              .filter(r => !r.isNullAt(0) && r.getLong(0) == key).map(_.copy()).toVector
          }
        }
      } finally in.close()
    }

    def decode(row: InternalRow): InternalRow = synchronized {
      projections.foldLeft(row)((r, p) => p(r)).copy()
    }
  }

  /** Whether row group `g`'s `user_id` stats can hold `key`; a row
    * group without them can. */
  private def mayHold(g: BlockMetaData, key: Long): Boolean =
    g.getColumns.asScala.find(_.getPath.toDotString == "user_id").forall { c =>
      val st: Statistics[_] = c.getStatistics
      st == null || !st.hasNonNullValue || (
        st.genericGetMin.asInstanceOf[java.lang.Long] <= key &&
          key <= st.genericGetMax.asInstanceOf[java.lang.Long])
    }

  private def buildPieces(s: SparkSession, conf: Map[String, String]): LookupPieces = {
    val decoded = EventSourcing.decodeState(ColumnBridge.dataFrame(s,
      LocalRelation(DataTypeUtils.toAttributes(packedSchema)))).queryExecution.analyzed
    def stack(p: LogicalPlan): List[UnsafeProjection] = p match {
      case Project(list, child) => UnsafeProjection.create(list, child.output) :: stack(child)
      case _: LocalRelation => Nil
      case other => sys.error(s"decodeState analysed to ${other.nodeName}, not a projection")
    }
    val sql = s.sessionState.conf
    val hadoop = s.sessionState.newHadoopConf()
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.NESTED_SCHEMA_PRUNING_ENABLED,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED, SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)
      .foreach(e => hadoop.setBoolean(e.key, sql.getConf(e)))
    new LookupPieces(conf, hadoop,
      new ParquetOptions(Map.empty[String, String], sql),
      Option.when(sql.isParquetINT96TimestampConversion)(
        DateTimeUtils.getZoneId(sql.sessionLocalTimeZone)),
      decoded.output, stack(decoded).reverse)
  }

  /** Per session, weakly: a collected session's pieces go with it. */
  private val lookupPieces = new java.util.WeakHashMap[SparkSession, LookupPieces]()

  /** The session's [[LookupPieces]], rebuilt when its SQL conf changed. */
  private[graft] def piecesFor(s: SparkSession): LookupPieces = {
    val conf = s.sessionState.conf.getAllConfs
    Option(lookupPieces.synchronized(lookupPieces.get(s))).filter(_.conf == conf)
      .getOrElse {
        val p = buildPieces(s, conf)
        lookupPieces.synchronized(lookupPieces.put(s, p))
        p
      }
  }

  /** The data files of `key`'s shard in each live root of store `dir`:
    * one listing of the store dir, then one of each root's
    * `shard=<floorMod(key, n)>` dir (the modulus `upsert`'s pmod
    * writes with, negative keys included). */
  private[graft] def shardFiles(dir: String, key: Long): Seq[java.io.File] = {
    val live = roots(dir).live
    if (live.isEmpty) sys.error(s"live store at $dir has no committed data")
    val shard = s"shard=${Math.floorMod(key, storeShards(dir).toLong)}"
    live.flatMap(r => Option(new java.io.File(r, shard).listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  /** `key`'s rows folded through [[mergedKey]], decoded, as a local
    * relation on fresh attributes, so `collect()` runs no job. */
  private[graft] def answer(s: SparkSession, pieces: LookupPieces, key: Long,
      rows: Seq[InternalRow]): DataFrame =
    ColumnBridge.analyzedFrame(s, LocalRelation(pieces.output.map(_.newInstance()),
      mergedKey(key, rows).map(pieces.decode).toSeq))

  /** Point lookup BY KEY, read on the driver with no Spark job. Each
    * live root contributes only its key's shard files ([[shardFiles]]);
    * no other shard's file is opened. Each of those is opened once, off
    * the local file, and of it only the row groups whose footer
    * `user_id` stats can hold the key are read, through Spark's row
    * materializer ([[LookupPieces.read]]). What the read and the
    * decode take from the session is built once, in its
    * [[LookupPieces]]: a call broadcasts nothing, analyses nothing and
    * reads nothing through Hadoop's file system. The
    * ≤ 1 + [[compactEvery]] rows of the key fold and decode in
    * [[answer]]. Listing, footers and rows are read on every call. */
  def lookup(s: SparkSession, dir: String, key: Long): DataFrame = {
    val pieces = piecesFor(s)
    answer(s, pieces, key, shardFiles(dir, key).flatMap(pieces.read(_, key)))
  }

  /** Full decoded snapshot (the read-side view of the whole store):
    * merge-on-read in one hash aggregate, then decode. */
  def snapshot(s: SparkSession, dir: String): DataFrame =
    EventSourcing.decodeState(merged(
      readPacked(s, roots(dir).live).getOrElse(
        sys.error(s"live store at $dir has no committed data"))))

  private def runStoreTo(s: SparkSession, d: String, dir: String): Unit = {
    deleteRec(new java.io.File(dir))
    shardCache.remove(dir)
    val src = Streams.eventStream(s, d).toDF()
    // pin the fresh store's shard layout from the source's measured
    // total mass (the _nshards marker)
    recordShards(dir, Sizing.storeShardsFor(Streams.sourceRows(s, src),
      s.sessionState.conf.numShufflePartitions))
    Streams.drainFresh(src, s"${dir}_checkpoint", "update", rowScaleState = false)(
      upsert(_, _, dir))
  }

  /** E21 `es_live_compaction`: tombstone DELETE semantics on the live
    * store — the full compacted-topic lifecycle, continuously: while
    * the stream runs, tombstones flow through the same append-only
    * upsert as every record and MASK their key (a Kafka consumer's
    * view of a compacted topic before the cleaner runs); afterwards
    * the log-cleaner pass ([[compact]] with purge) physically drops
    * dead keys. Final store contents = the batch es_compaction oracle. */
  private[graft] def liveCompaction(s: SparkSession, d: String): DataFrame = {
    val dir = s"${Tables.workDir(s)}/livecompact"
    runStoreTo(s, d, dir)
    compact(s, dir, purgeTombstones = true)
    EventSourcing.decodeCompacted(
      readPacked(s, roots(dir).live).get.select(col("user_id"), col("pk")))
  }

  /** Driver query: maintain the store from the event stream, then
    * return the final snapshot — which must equal the batch KTable
    * (E1's oracle), proving the upsert path bit-exact. */
  private[graft] def liveStore(s: SparkSession, d: String): DataFrame = {
    val dir = s"${Tables.workDir(s)}/livestore"
    runStoreTo(s, d, dir)
    snapshot(s, dir)
  }
}
