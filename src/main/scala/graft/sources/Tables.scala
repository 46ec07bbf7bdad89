package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Schema-checked loaders for the driver-generated test tables, and
  * graft's one parquet reader, [[read]].
  *
  * Every parquet read in graft goes through [[read]]: it takes the
  * schema from ONE footer read on the driver, so building the frame
  * launches no Spark job (Spark's own inference runs one per read).
  * Column pruning and filter pushdown still land on the parquet scan
  * (verify with `.explain("formatted")` → `ReadSchema` /
  * `PushedFilters`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** The one parquet reader: Spark's plain parquet read of `paths`
    * without its schema-inference job. Spark's
    * `ParquetUtils.inferSchema` reads footers in a distributed job,
    * even for one file with `mergeSchema` off. This reads the footer
    * Spark would pick on the driver instead: `_common_metadata`, else
    * `_metadata`, else the first data file of ALL `paths` sorted by
    * full path (Spark's `splitFiles` order), so a table whose files
    * disagree keeps the schema it reads with today. The footer is
    * converted with the converter flags of Spark's
    * `mergeSchemasInParallel`, taken from the session conf at call
    * time (`nanosAsLong`, NTZ inference). Partition columns
    * (LiveStore's `shard=`) are still discovered and appended by
    * Spark. With no data file at all, or with schema merging on, the
    * plain read runs, so its errors and merged schemas are Spark's
    * own. No cache: a footer is bounded metadata, and a rewritten
    * directory is read afresh. */
  def read(s: SparkSession, paths: String*): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.parquet._
    val c = s.sessionState.conf
    val leaves =
      if (c.isParquetSchemaMergingEnabled) Nil
      else paths.flatMap(leafFiles(s, _, sparkListed)).map(_._1).sorted
    def named(n: String) = leaves.find(new Path(_).getName == n)
    named(commonMetadata).orElse(named(metadata))
      .orElse(leaves.find(f => !summaryNames(new Path(f).getName))) match {
      case None => s.read.parquet(paths: _*)
      case Some(f) =>
        val p = new Path(f)
        val footer = ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            p, s.sessionState.newHadoopConf()),
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
        s.read.schema(ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(p, footer), converter))
          .parquet(paths: _*)
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** The events table's `ts` has shipped in THREE parquet physical
    * forms across driver testdata generations, and the engine contract
    * is one canonical arrival type: TimestampType at microsecond
    * precision, interpreted under the UTC session.
    *
    *  - TIMESTAMP(NANOS): Spark has no native type — read as int64
    *    nanos (`nanosAsLong`) and convert with exact integer division
    *    (micros = nanos div 1000, matching DuckDB's nanos→micros
    *    truncation). Never divide these in doubles: 1.7e18 ns exceeds
    *    2^53.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TimestampNTZType. Cast to TimestampType — under the UTC
    *    session the wall-clock micros map 1:1 to epoch micros, so the
    *    cast is value-preserving and the DuckDB `epoch_us(ts)` oracle
    *    is unchanged.
    *  - TIMESTAMP(MICROS, adjusted): already TimestampType, pass
    *    through.
    *
    * Anything else fails loudly — silent type drift cost 14 operators
    * a round (see VERDICT r6). */
  def normalizeTs(raw: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema(tsCol).dataType match {
      case LongType =>
        raw.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.$tsCol arrived as unsupported type $other — " +
          "extend Tables.normalizeTs for the new testdata generation")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // Set on the caller's session, not on a child: parquet planning
    // reads the key from the session that plans the scan, which is the
    // caller's, and callers build their own sessions (perfbench does),
    // so GraftSession cannot set it for them.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Money/value columns carry 2 decimals; all cross-engine-verified
    * arithmetic is done in integer cents so sums are exact (int64) and
    * independent of summation order — bit-identical at any parallelism
    * and in any engine. */
  def cents(c: Column): Column = round(c * lit(100), 0).cast("long")

  /** The engine-neutral T5 md5 bucket of string `x`: md5(salt ++ x)'s
    * first 8 hex digits as a long, mod `mod` (the oracles' SQL form). */
  def md5Bucket(x: Column, salt: String, mod: Long): Column =
    conv(substring(md5(if (salt.isEmpty) x else concat(lit(salt), x)), 1, 8),
      16, 10).cast("long") % mod

  /** Fixed-point e4 / e6 scalings for multi-factor money expressions
    * (price*(1-disc) has 4 decimals, *(1+tax) has 6). */
  def e4(c: Column): Column = round(c * lit(10000), 0).cast("long")
  def e6(c: Column): Column = round(c * lit(1000000), 0).cast("long")

  /** Epoch seconds (UTC session) — the cross-engine-stable time key. */
  def epochS(c: Column): Column = unix_timestamp(c)

  /** Epoch MICROseconds — the one µs-extraction call site in main
    * source. Every packed key / lag / watermark-adjacent computation
    * routes through here, so the next testdata type drift (nanos ↔
    * µs-NTZ ↔ µs, see [[normalizeTs]]) is a one-line fix rather than a
    * five-file sweep. Input must already be normalized TimestampType. */
  def microsOf(c: Column): Column = unix_micros(c)

  /** Session-scoped scratch root for snapshots/sinks. Keyed by the
    * Spark applicationId (overridable via `graft.workdir`) so two
    * concurrent sessions on one host (e.g. `sbt test` beside
    * `graft.Verify`) never race overwrite-against-read on a shared
    * path. Every root is deleted on JVM exit — appId-keyed dirs are
    * fresh per run and would otherwise accumulate in /tmp forever. */
  def workDir(s: SparkSession): String = {
    val dir = s.conf.getOption("graft.workdir")
      .getOrElse(s"/tmp/graft_${s.sparkContext.applicationId}")
    registerCleanup(dir)
    dir
  }

  /** Lineage cut for iterative/multi-consumer frames, with a FAULT
    * TOLERANCE switch. Default = `localCheckpoint` (blocks held by
    * executors — the fast path, fine on local[*] where executor loss
    * means JVM death anyway). Under `graft.checkpoint.reliable=true`
    * the cut is a parquet round-trip through [[workDir]] instead:
    * blocks live on the (shared) filesystem, so losing an EXECUTOR
    * mid-computation costs a stage retry, never the job. The
    * `localCheckpoint` contract explicitly permits an irrecoverable
    * "Checkpoint block rdd_N_M not found" job failure when the
    * executor holding a truncated-lineage block dies; in the
    * standalone worker-kill campaign (SCALE.md §cluster) default mode
    * happened to survive every kill because the surviving executors
    * held the blocks a retried stage needed — luck of block
    * placement, not a guarantee, and the luck shrinks with executor
    * count (1000 executors ⇒ every partition range is somewhere
    * fatal). Reliable mode is the 100 TB posture; surge survives the
    * analogous node loss by rebuilding state from the Kafka changelog
    * — surge/kafka/streams/AggregateStateStoreKafkaStreams.scala.
    * The parquet form is eager regardless of `eager` (a write IS an
    * action); iterative loops pay one extra tiny-table job per round
    * in reliable mode, the documented price of cluster durability. */
  private val ckptSeq = new java.util.concurrent.atomic.AtomicLong()
  def stableCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    if (s.conf.getOption("graft.checkpoint.reliable").contains("true")) {
      // Reliable mode's entire promise is that checkpoint blocks live
      // on a filesystem EVERY node can read. On a multi-host cluster a
      // host-local workDir (the /tmp default, or any file:/ path)
      // breaks that silently: executors commit their part files to
      // their OWN local disks, the driver-side read-back sees only the
      // driver's, and the mode meant to survive executor loss loses
      // rows instead. Fail fast — a wrong-but-loud config beats a
      // quiet wrong answer. (local[*] masters share one filesystem by
      // construction, so the default stays valid there; the measured
      // standalone-cluster runs set graft.workdir explicitly.)
      val wd = workDir(s)
      val scheme = new org.apache.hadoop.fs.Path(wd).toUri.getScheme
      if (!s.sparkContext.isLocal && (scheme == null || scheme == "file") &&
          !s.conf.getOption("graft.workdir.assumeShared").contains("true"))
        throw new IllegalStateException(
          s"graft.checkpoint.reliable=true with a host-local workDir '$wd' on a " +
            "non-local master: executors would write checkpoint parts to their own " +
            "local filesystems and the read-back would silently drop rows. Point " +
            "graft.workdir at a shared filesystem (hdfs://, s3a://, nfs mount), or " +
            "set graft.workdir.assumeShared=true if the file: path IS a shared mount.")
      val path = s"$wd/ckpt_${ckptSeq.incrementAndGet()}"
      df.write.options(LocalFiles.writeOptions).mode("overwrite").parquet(path)
      read(s, path)
    } else df.localCheckpoint(eager)
  }

  /** Collision-resistant, CONTENT-AWARE tag for persisted per-dataset
    * paths under [[workDir]] (split sources, band/digest indexes, the
    * ANN layouts). The old `Integer.toHexString(d.hashCode)` had two
    * silent-corruption modes once `graft.workdir` is overridden to a
    * shared root: a 32-bit String.hashCode collision between two
    * dataset paths, and REGENERATED data under the same path — both
    * would serve a stale index with no error. The tag is md5 over the
    * canonical path PLUS a directory fingerprint (file count, total
    * bytes, max mtime), so either change flips the tag and the index
    * rebuilds. The walk is driver-side metadata only (the testdata
    * dirs hold tens of files); non-local paths fall back to the
    * path-only digest. */
  def datasetTag(d: String): String = {
    val canon =
      try new java.io.File(d).getCanonicalPath
      catch { case _: java.io.IOException => d }
    def rec(f: java.io.File): (Long, Long, Long) =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .foldLeft((0L, 0L, 0L)) { case ((n, b, m), c) =>
            val (cn, cb, cm) = rec(c)
            (n + cn, b + cb, math.max(m, cm))
          }
      else (1L, f.length(), f.lastModified())
    val (n, bytes, mtime) = rec(new java.io.File(canon))
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$canon|$n|$bytes|$mtime".getBytes("UTF-8"))
    md.take(8).map(b => f"$b%02x").mkString
  }

  /** Recursive data-file listing: (path, bytes) of every file under
    * `dir`, hidden (`_`/`.`-prefixed) names excluded. Directories are
    * walked as Spark's file index walks them ([[leafFiles]]). */
  def listDataFiles(s: SparkSession, dir: String): Seq[(String, Long)] =
    leafFiles(s, dir, n => !n.startsWith("_") && !n.startsWith("."))

  private val commonMetadata = "_common_metadata"
  private val metadata = "_metadata"
  private val summaryNames = Set(commonMetadata, metadata)

  /** The names Spark's file index lists and descends into
    * (`HadoopFSUtils.shouldFilterOutPathName`): hidden names are
    * dropped, except `k=v` partition dirs and the parquet summary
    * files, which schema inference prefers. */
  private def sparkListed(n: String): Boolean =
    !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")) ||
      n.startsWith(commonMetadata) || n.startsWith(metadata)

  /** (path, bytes) of the files under `dir` whose names pass `keep`,
    * descending only into the directories Spark's file index descends
    * into ([[sparkListed]]), so an in-flight `_temporary` or
    * `_staging_` dir is never table data. A single-FILE path lists
    * itself. LOCAL paths walk java.io directly: Hadoop's
    * LocalFileSystem is a ChecksumFileSystem whose recursive
    * `listFiles` pays a per-located-status penalty that this host's
    * FS turns into 10-20 ms PER FILE — measured 4.4-6.8 s to list the
    * 320-file compaction store vs 6 ms for the plain walk, which made
    * the FS census the DOMINANT term of corpus_compaction_exec's warm
    * rep. Non-local schemes keep the Hadoop listing (with the
    * session's conf). Unlistable/missing paths return Nil. */
  private def leafFiles(s: SparkSession, dir: String,
      keep: String => Boolean): Seq[(String, Long)] = {
    val scheme = new org.apache.hadoop.fs.Path(dir).toUri.getScheme
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    if (scheme == null || scheme == "file") {
      def rec(f: java.io.File): Unit =
        if (f.isFile) { // a single-FILE table path lists itself
          if (keep(f.getName)) buf += ((f.getPath, f.length()))
        } else
          Option(f.listFiles()).foreach(_.foreach { c =>
            if (c.isDirectory) { if (sparkListed(c.getName)) rec(c) }
            else if (keep(c.getName)) buf += ((c.getPath, c.length()))
          })
      rec(new java.io.File(dir.stripPrefix("file:")))
      buf.toSeq
    } else
      try {
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(s.sessionState.newHadoopConf())
        def rec(st: org.apache.hadoop.fs.FileStatus): Unit =
          if (st.isDirectory) fs.listStatus(st.getPath).foreach { c =>
            if (!c.isDirectory || sparkListed(c.getPath.getName)) rec(c)
          }
          else if (keep(st.getPath.getName)) buf += ((st.getPath.toString, st.getLen))
        rec(fs.getFileStatus(root))
        buf.toSeq
      } catch { case _: java.io.IOException => Nil }
  }

  /** MAX of an int64 column from parquet FOOTER STATISTICS — a
    * metadata-only read that touches no row group. The snapshot/delta
    * split points (D9's incremental threshold, S8's drift halves) need
    * one scalar, max(id); deriving it with `agg(max(...))` costs a
    * full extra table scan per call — at 100 TB that scalar is more
    * expensive than some of the queries it parameterizes. Footers are
    * read in a JOB (one task per file batch), so a corpus with
    * thousands of files stays off the driver. Falls back to the scan
    * aggregate if any footer lacks statistics for the column
    * (testdata and every Spark/pyarrow writer in play records them;
    * the fallback keeps third-party parquet correct, not just fast). */
  def maxIdFromStats(s: SparkSession, dir: String, column: String,
      fallback: => DataFrame): Long = {
    import scala.jdk.CollectionConverters._
    def scanMax: Long = fallback.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col(column))).head.getLong(0)
    // listing via listDataFiles (scheme-aware; a non-local or
    // unconfigured-scheme path lists Nil and falls back to the scan
    // aggregate — the advertised behavior)
    val hconf = s.sessionState.newHadoopConf()
    val files: Seq[String] =
      listDataFiles(s, dir).map(_._1).filter(_.endsWith(".parquet"))
    if (files.isEmpty) return scanMax
    val sconf = new SerializableHadoopConf(hconf)
    // per file: None = a row group is missing stats for the column
    //   (poisons the whole pass → scan fallback);
    // Some(None) = ZERO row groups (a legitimate empty part-file,
    //   e.g. a pyarrow or empty-partition write — contributes no max
    //   but must not poison or crash);
    // Some(Some(v)) = footer max.
    val perFile: Seq[Option[Option[Long]]] = s.sparkContext
      .parallelize(files, math.min(files.size, 64).max(1))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), sconf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val maxes = r.getFooter.getBlocks.asScala.toSeq.map { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == column)
              .map(_.getStatistics)
              .filter(st => st != null && st.hasNonNullValue && !st.isEmpty)
              .collect { case st: org.apache.parquet.column.statistics.LongStatistics =>
                st.getMax
              }
          }
          if (maxes.exists(_.isEmpty)) None else Some(maxes.flatten.maxOption)
        } finally r.close()
      }
      .collect().toSeq
    if (perFile.exists(_.isEmpty)) scanMax
    else {
      val vals = perFile.flatten.flatten
      if (vals.isEmpty) scanMax else vals.max
    }
  }

  /** Total ROW COUNT of a parquet table from FOOTER metadata — the
    * row-count sibling of [[maxIdFromStats]]. Block row counts are
    * mandatory parquet metadata (present whether or not any column
    * records statistics), so unlike the max-id read there is no
    * per-column fallback — only an unlistable path returns None.
    * Footers are read in a job, keeping thousand-file corpora off the
    * driver. Used to SIZE parallelism (e.g. R32's bucketed-dimension
    * bucket count) where a full count() scan per invocation would cost
    * more than the scalar is worth at 100 TB. */
  def rowCountFromStats(s: SparkSession, dir: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val hconf = s.sessionState.newHadoopConf()
    val files: Seq[String] =
      listDataFiles(s, dir).map(_._1).filter(_.endsWith(".parquet"))
    if (files.isEmpty) return None
    val sconf = new SerializableHadoopConf(hconf)
    Some(s.sparkContext
      .parallelize(files, math.min(files.size, 64).max(1))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), sconf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }
      .collect().sum)
  }

  /** Total bytes of a table's data files — driver-side METADATA only
    * (Hadoop FS listing with the session conf, no row groups touched).
    * The corpus-proportional operators size their shuffle width from
    * this: `spark.sql.shuffle.partitions` is a throughput config, not
    * a data-volume one, and a fixed 32 at sf100 means each task
    * aggregates ~450 MB of token stream and spills (the measured
    * text_perplexity sf100 reading: 14.5 GB spilled, linear but paid
    * in disk for a config). Returns 0 on an unlistable path — callers
    * fall back to the session default. */
  def dirBytes(s: SparkSession, dir: String): Long =
    listDataFiles(s, dir).map(_._2).sum

  /** [[graft.Sizing.volumePartitions]] over the bytes of the table at `dir`. */
  def volumePartitions(s: SparkSession, dir: String): Int =
    graft.Sizing.volumePartitions(dirBytes(s, dir), s.sessionState.conf.numShufflePartitions)

  /** Build-once materialization with an ATOMIC commit — for persisted
    * index layouts (ANN buckets/cells/codes, the incremental dedup band
    * index). The dataset is written to an underscore-prefixed staging
    * dir (invisible to readers) and published by one atomic rename; a
    * per-path lock makes a concurrent caller that loses the race BLOCK
    * until the winner's rename lands instead of reading a half-written
    * path. A crash mid-build leaves only invisible staging garbage that
    * the next call overwrites. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def buildOnce(path: String, partitionCols: Seq[String] = Nil)(
      build: => DataFrame): Unit = {
    val dst = new java.io.File(path)
    if (dst.exists()) return
    val lock = buildLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!dst.exists()) {
        val stg = new java.io.File(dst.getParentFile, "_staging_" + dst.getName)
        LocalFiles.deleteRec(stg)
        val df = build
        val w = df.write.options(LocalFiles.writeOptions).mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(stg.getPath)
        java.nio.file.Files.move(stg.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      }
    }
  }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def registerCleanup(dir: String): Unit =
    if (cleanupRegistered.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        LocalFiles.deleteRec(new java.io.File(dir))))
      ()
    }
}

/** Java-serializable carrier for a Hadoop Configuration (the class
  * itself is a non-serializable Writable) so footer-reading tasks see
  * the SESSION's conf — credentials, filesystem impls, S3A settings —
  * instead of a fresh `new Configuration()` that only knows local
  * defaults. Same shape as Spark's private[spark]
  * SerializableConfiguration. */
private[graft] class SerializableHadoopConf(
    @transient private var conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}
