package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALE evidence run (VERDICT r7 item #1): execute the headline
  * operators against a DataGen-synthesized dataset ~100x the certified
  * sf0.1, and MEASURE what the repo previously claimed by construction:
  *
  *   - wall time, cold and warm (medians are meaningless for one-shot
  *     cold runs; we report both samples);
  *   - actual shuffle read/write and input volumes per query, off the
  *     stage-completion listener — "one shuffle on the right key" as
  *     bytes, not prose;
  *   - the exchange counts of each plan at sf10, diffed against the
  *     committed sf0.001 golden file (tools/shuffle_golden.tsv): a
  *     plan whose SHAPE changes with data volume would show up here;
  *   - the skew kill-test (item #9): the DataGen events table gives
  *     user 7 ~10% of all rows, so the unsalted E2 fold's reduce side
  *     has a celebrity key; A4 `es_fold_salted` must not be slower —
  *     and the same pair for the join side (q3_join vs q3_salted).
  *
  * Usage: runMain graft.tools.ScaleSmoke <scaleDir> [outJson] [cpus]
  * Emits one JSON line per query plus a summary, and writes the whole
  * run to outJson (default /tmp/scale_smoke.json) for SCALE.md.
  */
object ScaleSmoke {

  /** Accumulates executor-side volume metrics between resets. */
  private final class VolumeListener extends SparkListener {
    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    @volatile var input = 0L
    @volatile var recordsRead = 0L
    @volatile var spill = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          input += m.inputMetrics.bytesRead
          recordsRead += m.inputMetrics.recordsRead
          spill += m.diskBytesSpilled
        }
      }
    def reset(): Unit = synchronized {
      shuffleWrite = 0; shuffleRead = 0; input = 0; recordsRead = 0; spill = 0
    }
  }

  // the ~20 headliners the verdict names, plus both skew pairs and the
  // ANN/dedup chains whose indexes dominate a real corpus build
  val headliners: Seq[String] = Seq(
    // event-sourcing core (hot user 7 stresses these)
    "es_latest_state", "es_state_fold", "es_fold_salted", "es_changelog",
    "es_compaction", "es_replay_asof",
    // relational (broadcast + skew pair)
    "q1_agg", "q3_join", "q3_salted", "q5_multijoin", "q18_having",
    // windows / metrics / behavior
    "win_session", "signal_threshold", "metric_stats", "behavior_transitions",
    // text / dedup / corpus chains
    "text_quality", "text_tokens", "dedup_exact", "dedup_minhash_lsh",
    "dedup_clusters", "corpus_export", "corpus_interleave",
    // vector path (hot LSH bucket). knn_graph self-sizes its plane
    // count from the corpus (12 at 200k vectors); knn_graph_p12 pins
    // the same config explicitly for the before/after record.
    "ann_lsh", "ann_ivfpq", "knn_graph", "knn_graph_p12",
    // breadth: one representative per remaining family — the decimal
    // anomaly arithmetic at real volume, the CC closure, the verified
    // pair consumers over the persisted overlap table, the iterative
    // BPE trainer, the multi-topic outbox write, the funnel capstone
    "behavior_anomaly", "dedup_semantic", "ngram_jaccard",
    "dedup_containment", "vocab_bpe_merge", "text_perplexity",
    "es_outbox_routed", "corpus_funnel", "retention",
    "metric_percentile",
    // r12 corpus operators (each built scale-first; HH is the
    // zero-corpus-exchange two-pass, deciles the bounded-grid 2-scan)
    "vocab_heavy_hitters", "corpus_deciles", "corpus_domain_cap",
    "sample_uniform",
    // r13 lake-maintenance / model-scoring tier
    "text_quality_model", "corpus_delta", "corpus_compaction_plan",
    "layout_zorder", "ann_scalar_quant",
    // streaming representative (micro-batch floor + state scale)
    "stream_fold", "stream_admit", "stream_bloom_gate")

  /** Scale-sized variants of config-pinned operators (the driver
    * oracle pins their small-corpus configs; these are the settings a
    * 100x corpus calls for). */
  val extraQueries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      // state-store A/B probe: one state entry PER EVENT (never
      // evicted), run under GRAFT_STATESTORE=rocksdb vs default heap —
      // the provider posture evidence (StateScaleProbe has the
      // metric-rich standalone main)
      "stream_state_scale" -> ((s, dir) => StateScaleProbe.summary(s, dir)),
      // a PURE-PROJECTION op under the probe's bare count() action is
      // column-pruned to a parquet-footer row count — the scoring never
      // executes (measured: 0.16 s "cold" for 5 M docs, finding 17).
      // The honest probe aggregates the op's OUTPUT.
      "text_quality_model_scored" -> ((s, dir) =>
        graft.functions.TextAnalysis.qualityModelScored(s, dir)),
      // the fixed-12-plane twin of knn_graph_scaled: pins the config
      // the sf10 narrative compares against (12 = planesFor(200k)), so
      // the before/after record survives future self-sizing changes
      "knn_graph_p12" -> ((s, dir) =>
        graft.functions.Similarity.knnGraphWith(s, dir, 12)),
      "knn_graph_scaled" -> ((s, dir) => {
      // corpus-sized plane count (12 at the sf10 smoke's 200k vectors)
      val n = graft.sources.Tables.maxIdFromStats(
        s, s"$dir/embeddings.parquet", "vec_id",
        graft.sources.Tables.embeddings(s, dir)) + 1
      graft.functions.Similarity.knnGraphWith(
        s, dir, graft.Sizing.planesFor(n))
    }),
      // knn_recall at the corpus-sized plane count — the op itself
      // grades the ORACLE-pinned 8-plane graph (its static SQL), which
      // at probe corpora means quadratically overgrown buckets; the
      // 100 TB path self-sizes the planes exactly like knn_graph_scaled
      // the S16 amortization pair: the two-tier's per-corpus-row
      // projection is one-time (1024 multiplies), so at the oracle's 5
      // queries brute force wins; at production-like query counts the
      // 4× per-candidate advantage dominates. Same md5-free
      // deterministic thinning on both sides (~200 of 2 M vectors as
      // queries), same k — the pair measures exactly the crossover.
      "ann_two_tier_scaled" -> ((s, dir) =>
        graft.functions.Similarity.annTwoTierWith(s, dir,
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("vec_id")),
            org.apache.spark.sql.functions.lit(10000L)) === 0L, 50, 10)),
      "cosine_topk_scaled" -> ((s, dir) =>
        graft.functions.Similarity.bruteTopKWith(s, dir,
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("vec_id")),
            org.apache.spark.sql.functions.lit(10000L)) === 0L, 10)),
      // the ~1000-query pair: past the measured crossover
      "ann_two_tier_scaled_1k" -> ((s, dir) =>
        graft.functions.Similarity.annTwoTierWith(s, dir,
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("vec_id")),
            org.apache.spark.sql.functions.lit(2000L)) === 0L, 50, 10)),
      // the composed tier (S18) at the same ~1000-query point — the
      // bucket cuts tier-1 candidates ~256×, so this is the
      // composition's own wall-clock beside the flat pair above
      "ann_lsh_two_tier_scaled_1k" -> ((s, dir) =>
        graft.functions.Similarity.annLshTwoTierWith(s, dir,
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("vec_id")),
            org.apache.spark.sql.functions.lit(2000L)) === 0L, 50, 10)),
      "cosine_topk_scaled_1k" -> ((s, dir) =>
        graft.functions.Similarity.bruteTopKWith(s, dir,
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("vec_id")),
            org.apache.spark.sql.functions.lit(2000L)) === 0L, 10)),
      "knn_recall_scaled" -> ((s, dir) => {
      val n = graft.sources.Tables.maxIdFromStats(
        s, s"$dir/embeddings.parquet", "vec_id",
        graft.sources.Tables.embeddings(s, dir)) + 1
      graft.functions.Similarity.knnRecallWith(
        s, dir, graft.Sizing.planesFor(n))
    }))

  /** One z-order write-probe measurement: a point predicate over one
    * physical layout, with the records and bytes the scan really read. */
  final case class ZorderCell(layout: String, pred: String, rows: Long,
      recordsRead: Long, bytesRead: Long, wallS: Double)

  /** R29 physically written (scale/sf10_zorder_write_r14.json):
    * layout_zorder PLANS the z-order file assignment; this writes it —
    * 256 real parquet files — beside the append-order counterfactual at
    * the same file count, then runs the two point predicates over BOTH
    * layouts and reports the records and bytes actually read after
    * parquet footer-stats row-group pruning. Round14Spec runs it at
    * sf0.001 and pins the pruning ratio. */
  def zorderWriteProbe(s: SparkSession, d: String, outRoot: String): Seq[ZorderCell] = {
    graft.sources.LocalFiles.deleteRec(new java.io.File(outRoot))
    val zdir = s"$outRoot/zorder"
    val adir = s"$outRoot/append"
    // the z layout: one directory per planned z-file, rows grouped by
    // assignment so every physical file's footer min/max IS the R29
    // envelope; the counterfactual: same row set, same file count,
    // arrival (orderkey) order — the layout a plain append produces
    graft.operators.Relational.withZfile(s, d)
      .repartition(256, col("zfile"))
      .write.mode("overwrite").partitionBy("zfile").parquet(zdir)
    graft.sources.Tables.lineitem(s, d)
      .repartitionByRange(256, col("l_orderkey"))
      .write.mode("overwrite").parquet(adir)
    val li = graft.sources.Tables.lineitem(s, d)
    val maxP = graft.sources.Tables.maxIdFromStats(s, s"$d/lineitem.parquet", "l_partkey", li)
    val maxS = graft.sources.Tables.maxIdFromStats(s, s"$d/lineitem.parquet", "l_suppkey", li)
    val preds: Seq[(String, DataFrame => DataFrame)] = Seq(
      "l_partkey" -> ((df: DataFrame) => df.filter(col("l_partkey") === lit(2 * maxP / 3))),
      "l_suppkey" -> ((df: DataFrame) => df.filter(col("l_suppkey") === lit(maxS / 3))))
    val vol = new VolumeListener
    s.sparkContext.addSparkListener(vol)
    try {
      for {
        (layout, dir) <- Seq("zorder" -> zdir, "append" -> adir)
        (pred, f) <- preds
      } yield {
        s.sharedState.cacheManager.clearCache()
        vol.reset()
        val t0 = System.nanoTime()
        // a real aggregate collect — never a bare count, which a
        // footer row-count or OptimizeOneRowPlan can satisfy without
        // touching the data (the round-13 vacuous-probe lesson)
        val rows = f(graft.sources.Tables.read(s, dir))
          .agg(count(lit(1)), sum(col("l_quantity"))).head().getLong(0)
        val wall = (System.nanoTime() - t0) / 1e9
        // deterministic drain of the async listener bus — a fixed
        // sleep races under host load (stage events from this cell
        // could be wiped by the next cell's reset() or attributed to
        // it, flaking Round14Spec's 4x pruning assertion)
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilEmpty(s.sparkContext, 30000L)
        ZorderCell(layout, pred, rows, vol.recordsRead, vol.input, wall)
      }
    } finally s.sparkContext.removeSparkListener(vol)
  }

  /** The S16 high-dimension fixture (scale/sf100_twotier_hd256_r16.json):
    * a deterministic SIGN-BLOCK expansion of the embeddings table —
    * output block k is the source vector with per-(k, dim) md5-derived
    * sign flips, so for every pair dot_hd = factor · dot_64 and the
    * QUANTIZED cosine is bit-identical to the 64-d cosine (sign flips
    * commute with quantize; the ×factor scaling cancels exactly in IEEE
    * — powers of two). Ground truth is therefore KNOWN (brute top-k at
    * 256-d equals brute top-k at 64-d, pinned by Round16Spec), while
    * per-pair multiply and byte cost are exactly factor×. */
  def hdSign(k: Int, i: Int): Float = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"hd:$k:$i".getBytes("UTF-8"))
    if (((h(0) >> 7) & 1) == 0) 1f else -1f
  }

  /** 64-d → factor·64-d sign-block expansion (see [[hdSign]]). */
  def expandHd(df: DataFrame, factor: Int, srcDims: Int = 64): DataFrame =
    df.withColumn("embedding", concat((0 until factor).map { k =>
      val signs = array((0 until srcDims).map(i => lit(hdSign(k, i))): _*)
      zip_with(col("embedding"), signs, (x, s) => (x * s).cast("float"))
    }: _*))

  /** Build the HD dataset under the session work dir (source dirs may
    * be read-only) if absent; returns its dir. */
  def ensureHd(s: SparkSession, srcDir: String, factor: Int): String = {
    import graft.sources.Tables
    val hdDir = s"${Tables.workDir(s)}/hd${factor * 64}_" + Tables.datasetTag(srcDir)
    Tables.buildOnce(s"$hdDir/embeddings.parquet")(
      expandHd(graft.sources.Tables.read(s, s"$srcDir/embeddings.parquet"), factor))
    hdDir
  }

  def main(args: Array[String]): Unit = {
    val scaleDir = args.headOption.getOrElse("/tmp/graft_scale/sf10")
    val outJson = if (args.length > 1) args(1) else "/tmp/scale_smoke.json"
    // optional comma-list: run just these queries (index builds are
    // skipped — each op's buildOnce pays its own build inside cold_s)
    val subset: Set[String] =
      if (args.length > 3) args(3).split(',').map(_.trim).toSet else Set.empty
    // GRAFT_MASTER switches the SAME smoke onto a standalone cluster
    // (the multi-JVM evidence runs); GRAFT_RELIABLE=true turns on
    // filesystem-backed lineage cuts so executor loss is survivable
    // (both read by GraftSession)
    val spark = graft.GraftSession(
      if (args.length > 2) args(2).toInt else graft.GraftSession.defaultCores)
    val vol = new VolumeListener
    spark.sparkContext.addSparkListener(vol)

    val golden: Map[String, graft.PlanCensus.Counts] =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(graft.PlanCensus.goldenPath)))
        graft.PlanCensus.readGolden()
      else Map.empty

    def mb(b: Long): Double = b / 1e6

    // session + FS warm-up so query 1's cold number is the QUERY cold,
    // not JVM/codegen start (partial datasets — e.g. a documents-only
    // probe generation — fall back to the documents table)
    // a missing table surfaces as AnalysisException OR a wrapped
    // FileNotFoundException depending on when the listing happens
    try { graft.sources.Tables.lineitem(spark, scaleDir).count(); () }
    catch { case scala.util.control.NonFatal(_) =>
      graft.sources.Tables.documents(spark, scaleDir).count(); () }

    // one-time persisted index builds, timed as their own evidence rows
    // (at 100 TB these are the capital cost of the vector/dedup stack)
    val indexNames =
      if (subset.nonEmpty) Seq.empty[String]
      else Seq("dedup_clusters", "ann_lsh", "ann_ivf", "ann_pq",
        "ann_ivfpq", "dedup_incremental", "corpus_export", "dedup_exact_join")
    val indexRows = indexNames.map { n =>
      vol.reset()
      val t0 = System.nanoTime()
      val ok = try { graft.SparkEntry.queries(n)(spark, scaleDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[scale] INDEX-BUILD FAILED $n: ${e.getMessage}"); false }
      val s = (System.nanoTime() - t0) / 1e9
      val line = f"""{"phase":"index_build","query":"$n","ok":$ok,"cold_s":$s%.2f,"shuffle_write_mb":${mb(vol.shuffleWrite)}%.1f,"shuffle_read_mb":${mb(vol.shuffleRead)}%.1f,"input_mb":${mb(vol.input)}%.1f,"spill_mb":${mb(vol.spill)}%.1f}"""
      println(line); line
    }

    // a subset may name ANY SparkEntry query (not just headliners) —
    // e.g. the dedup_exact_join index build probed as a plain query.
    // Unknown names are reported and dropped UP FRONT: the lookup
    // below sits outside the per-query try, so a typo would otherwise
    // abort the whole smoke run with a NoSuchElementException.
    val known = subset.filter(n =>
      extraQueries.contains(n) || graft.SparkEntry.queries.contains(n))
    (subset -- known).toSeq.sorted.foreach(n =>
      println(s"""{"phase":"query","query":"$n","ok":false,"error":"unknown query name"}"""))
    // the headliner list itself gets the same guard: a headliner whose
    // registry entry was renamed/removed must drop with a loud row, not
    // abort the whole smoke (r13: knn_graph_p12's lost extras entry
    // killed the full run 13 minutes in)
    val knownHeadliners = headliners.filter(n =>
      extraQueries.contains(n) || graft.SparkEntry.queries.contains(n))
    headliners.filterNot(knownHeadliners.contains).foreach(n =>
      println(s"""{"phase":"query","query":"$n","ok":false,"error":"unknown query name"}"""))
    val toRun =
      if (subset.isEmpty) knownHeadliners
      else knownHeadliners.filter(known) ++
        known.toSeq.sorted.filterNot(headliners.contains)
    val queryRows = toRun.map { n =>
      spark.sharedState.cacheManager.clearCache()
      val fn = extraQueries.getOrElse(n, graft.SparkEntry.queries(n))
      // GRAFT_COLD_ONLY also skips the plan probe: CONSTRUCTING an
      // op's DataFrame runs its eager capital jobs (a closure op's
      // whole pair pipeline materializes inside stableCheckpoint), so
      // plan-cell + timed run = the full pipeline TWICE — at sf100
      // that alone doubled the shuffle scratch and filled the disk
      // (measured: the sf30 event log shows the 12 band-join input
      // stages duplicated, 25.1 GB written for a 12.5 GB query).
      val coldOnly = sys.env.get("GRAFT_COLD_ONLY").contains("true")
      // a cold-only batch query's plan cell is SKIPPED, not "stream" —
      // mislabeling dropped golden-drift detection silently (ADVICE r10)
      var planCell =
        if (n.startsWith("stream_")) "\"plan\":\"stream\""
        else "\"plan\":\"skipped_cold_only\""
      if (!n.startsWith("stream_") && !coldOnly) {
        val (sh, re, bc) = graft.PlanCensus.exchanges(
          fn(spark, scaleDir).queryExecution.executedPlan.toString)
        val drift = golden.get(n) match {
          case Some(g) if g != ((sh, re, bc)) => s""","golden_drift":"${g} -> (${sh},${re},${bc})""""
          case Some(_) => ""","golden_drift":null"""
          case None => ""
        }
        planCell = s""""shuffles":$sh,"reused":$re,"broadcasts":$bc$drift"""
      }
      def once(): (Boolean, Double, Long) = {
        vol.reset()
        val t0 = System.nanoTime()
        // force the op's OWN plan, not a count() rewrite of it: a bare
        // count() is vacuous for a pure-projection op (column-pruned to
        // a parquet-footer row count) AND for a global aggregate
        // (OptimizeOneRowPlan folds the count to 1 without evaluating
        // the aggregates) — scale finding 17, measured: 0.16 s / 0.99 s
        // "cold" for a 5 M-doc scorer whose real cost is 40.5 s.
        // toRdd.count() materializes every InternalRow of the plan as
        // the driver's parquet dump would, with nothing collected.
        val rows = try fn(spark, scaleDir).queryExecution.toRdd.count()
        catch { case e: Throwable =>
          System.err.println(s"[scale] FAILED $n: ${e.getMessage}")
          return (false, (System.nanoTime() - t0) / 1e9, -1L)
        }
        ((true, (System.nanoTime() - t0) / 1e9, rows))
      }
      val (ok1, cold, rows) = once()
      val volCold = (vol.shuffleWrite, vol.shuffleRead, vol.input, vol.spill)
      // GRAFT_COLD_ONLY skips the warm re-run: at sf100 a heavy op's
      // shuffle files (~40 GB for the dedup_semantic closure) live
      // until JVM exit, so cold+warm would double the disk footprint
      // past what the sandbox has free. warm_s = -1 marks the skip.
      val (ok2, warm, _) =
        if (!ok1) (false, -1.0, -1L)
        else if (coldOnly) (true, -1.0, -1L)
        else once()
      val line = f"""{"phase":"query","query":"$n","ok":${ok1 && ok2},"rows":$rows,"cold_s":$cold%.2f,"warm_s":$warm%.2f,"shuffle_write_mb":${mb(volCold._1)}%.1f,"shuffle_read_mb":${mb(volCold._2)}%.1f,"input_mb":${mb(volCold._3)}%.1f,"spill_mb":${mb(volCold._4)}%.1f,$planCell}"""
      println(line); line
    }

    val all = (indexRows ++ queryRows).mkString("[", ",\n", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), all + "\n")
    println(s"[scale] wrote $outJson")
    spark.stop()
  }
}
