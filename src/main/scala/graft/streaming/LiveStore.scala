package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
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
  *    each live root and folds those ≤ 1 + [[compactEvery]] rows with
  *    the same monoid in Scala — no Spark job;
  *  - when live deltas exceed [[compactEvery]], upsert folds them into
  *    a new `base_v<upToBatch>` — the RocksDB background-compaction
  *    analog that bounds read fan-in. E21's log-cleaner is the same
  *    pass with tombstone purge switched on.
  *
  * Every directory that readers can see is COMMITTED ATOMICALLY:
  * writers build `_staging_*` (invisible to [[livePaths]]), then one
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
  // (~500k rows/shard, min 2 so multi-shard pruning stays exercised,
  // capped at the session default) and is RECORDED in the store dir
  // (`_nshards`), because the modulus is store METADATA: upsert and
  // lookup on an existing store must use the count it was created
  // with, whatever session reads it later. Absent marker = the
  // historical 16 (pre-existing stores, direct-upsert specs).
  private[graft] def storeShardsFor(totalRows: Option[Long], sessionMax: Int): Int =
    totalRows match {
      case None => nShards
      case Some(r) => Streams.widthFor(r, 2, sessionMax)
    }

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

  private def subdirs(dir: String, prefix: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)).toSeq

  private def deltaDirs(dir: String): Seq[(Long, java.io.File)] =
    subdirs(dir, "delta_b")
      .map(f => (f.getName.stripPrefix("delta_b").toLong, f)).sortBy(_._1)

  private def baseDirOf(dir: String): Option[(Long, java.io.File)] =
    subdirs(dir, "base_v")
      .map(f => (f.getName.stripPrefix("base_v").toLong, f)).sortBy(_._1).lastOption

  /** The committed, live store roots: newest base + deltas past it.
    * `_staging_*` dirs are never listed — uncommitted writes are
    * invisible to every reader by construction. Dirs RETIRED by a
    * compaction (older bases, deltas at or below the newest base's
    * version) are equally invisible here, but stay on disk for one
    * grace cycle — see [[staleDirs]]. */
  private def livePaths(dir: String): Seq[String] = {
    val base = baseDirOf(dir)
    val v = base.map(_._1).getOrElse(-1L)
    base.map(_._2.getPath).toSeq ++
      deltaDirs(dir).collect { case (id, f) if id > v => f.getPath }
  }

  /** Dirs a PREVIOUS compaction retired: every base but the newest,
    * and deltas already folded into it. New readers never list them
    * ([[livePaths]] filters by version), but a scan that planned over
    * the old roots may still be draining — so retirement is deferred
    * one full compaction cycle instead of deleting inputs the moment
    * the new base lands (deleting eagerly would hand an in-flight scan
    * a FileNotFoundException; planning-time atomicity alone doesn't
    * cover execution). */
  private def staleDirs(dir: String): Seq[java.io.File] = {
    val v = baseDirOf(dir).map(_._1).getOrElse(-1L)
    subdirs(dir, "base_v").filter(_.getName.stripPrefix("base_v").toLong < v) ++
      deltaDirs(dir).collect { case (id, f) if id <= v => f }
  }

  /** base ∪ live deltas, one scan per root (a multi-path read would
    * try to infer ONE partition scheme across the roots and reject the
    * delta_b / base_v dir names). Fan-in ≤ 1 + compactEvery. */
  private def readPacked(s: SparkSession, dir: String): Option[DataFrame] = {
    val paths = livePaths(dir)
    if (paths.isEmpty) None
    else Some(paths.map(p => Tables.read(s, p)).reduce(_.unionByName(_)))
  }

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
    if (skipEmpty && subdirs(staging.getPath, "shard=").isEmpty) {
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
    * read. An empty batch learns it is empty from that write: it
    * publishes no delta and triggers no compaction. */
  def upsert(batch: DataFrame, batchId: Long, dir: String): Unit = {
    val s = batch.sparkSession
    new java.io.File(dir).mkdirs()
    val alreadyCommitted = new java.io.File(dir, s"delta_b$batchId").exists ||
      baseDirOf(dir).exists(_._1 >= batchId) // folded into a base already
    if (alreadyCommitted) return
    if (!publish(
      EventSourcing.packedState(batch).withColumn("shard", shardOf(dir, col("user_id"))),
      dir, s"delta_b$batchId", skipEmpty = true)) return // an empty batch
    // trigger on LIVE deltas only — retired ones awaiting their grace
    // deletion don't add read fan-in
    val v = baseDirOf(dir).map(_._1).getOrElse(-1L)
    if (deltaDirs(dir).count(_._1 > v) > compactEvery)
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
    staleDirs(dir).foreach(deleteRec)
    val base = baseDirOf(dir)
    val deltas = deltaDirs(dir).filter { case (id, _) => id > base.map(_._1).getOrElse(-1L) }
    if (deltas.isEmpty && !(purgeTombstones && base.isDefined)) return
    val upTo = (base.map(_._1).toSeq ++ deltas.map(_._1)).max
    val folded = merged(readPacked(s, dir).get)
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
    if (purgeTombstones) staleDirs(dir).foreach(deleteRec)
  }

  private val tombstoneCode = 1L // evTypes.indexOf("error")

  /** Point lookup BY KEY, read on the driver with no Spark job. Each
    * live root contributes only its `shard=<floorMod(key, n)>` data
    * files (the modulus `upsert`'s pmod writes with, negative keys
    * included); no other shard's file is opened. Spark's own parquet
    * reader reads them with the key filter pushed down, so row groups
    * skip by their stats and decimal and timestamp conversion stay
    * Spark's. The ≤ 1 + [[compactEvery]] rows of the key fold through
    * [[mergedKey]], and the 0 or 1 row decodes over a local relation,
    * which the optimizer folds: `collect()` runs no job either. */
  def lookup(s: SparkSession, dir: String, key: Long): DataFrame = {
    val roots = livePaths(dir)
    if (roots.isEmpty) sys.error(s"live store at $dir has no committed data")
    val shard = s"shard=${Math.floorMod(key, storeShards(dir).toLong)}"
    val files = roots.flatMap(r =>
      Option(new java.io.File(r, shard).listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(s, packedSchema,
      new StructType(), packedSchema, Seq(org.apache.spark.sql.sources.EqualTo("user_id", key)),
      Map("returning_batch" -> "false"), s.sessionState.newHadoopConf())
    val rows = files.flatMap { f =>
      read(PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(new org.apache.hadoop.fs.Path(f.toURI)),
        0L, f.length(), Array.empty, f.lastModified(), f.length()))
        .filter(r => !r.isNullAt(0) && r.getLong(0) == key).map(_.copy())
    }
    EventSourcing.decodeState(ColumnBridge.dataFrame(s,
      LocalRelation(DataTypeUtils.toAttributes(packedSchema), mergedKey(key, rows).toSeq)))
  }

  /** Full decoded snapshot (the read-side view of the whole store):
    * merge-on-read in one hash aggregate, then decode. */
  def snapshot(s: SparkSession, dir: String): DataFrame =
    EventSourcing.decodeState(merged(
      readPacked(s, dir).getOrElse(
        sys.error(s"live store at $dir has no committed data"))))

  private def runStoreTo(s: SparkSession, d: String, dir: String): Unit = {
    deleteRec(new java.io.File(dir))
    shardCache.remove(dir)
    val src = Streams.eventStream(s, d).toDF()
    // pin the fresh store's shard layout from the source's measured
    // total mass (the _nshards marker — see storeShardsFor)
    recordShards(dir, storeShardsFor(Streams.sourceRows(s, src),
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
      readPacked(s, dir).get.select(col("user_id"), col("pk")))
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
