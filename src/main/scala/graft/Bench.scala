package graft

object Bench {
  /** Parse a committed driver BENCH_r*.json artifact into
    * (control_sec, sf, queries-in-seconds). The driver artifact wraps
    * the bench log tail as ONE ESCAPED JSON STRING — every quote in
    * the tail arrives as the two characters `\"` — so the query/control
    * regexes must run over the UNESCAPED text (the r13 advice finding:
    * matched against the raw file they return nothing, control_prev /
    * epoch_ratio were silently always null and movers always empty —
    * a false "no regressions" for every real mover). The artifact's
    * own top-level `"sf": 0.1` field is OUTER JSON (unescaped quotes),
    * so it is read off the raw text where the escaped tail cannot
    * shadow it. Factored out of main so BenchParseSpec can pin the
    * parse against a real committed artifact. */
  private[graft] def parsePrevBench(
      raw: String): (Option[Double], Option[Double], Map[String, Double]) = {
    val txt = raw.replace("\\\"", "\"")
    val sfPrev = """"sf"\s*:\s*([0-9.]+)""".r
      .findFirstMatchIn(raw).map(_.group(1).toDouble)
    val prevControl = """"control_sec":([0-9.]+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toDouble)
    // the committed artifact keeps only the log TAIL, which truncates
    // the full-precision (seconds) queries map — but the budget-aware
    // compact line (ms ints, slowest-first) survives whole. Parse
    // both; ms wins where present, and meta keys are filtered by name.
    val meta = Set("value", "sf", "control_sec", "control_prev",
      "epoch_ratio", "ratio", "epoch_norm", "queries_omitted_fastest",
      "n", "rc", "cpus", "batches", "trigger_ms", "add_batch_ms",
      "planning_ms", "wal_ms")
    val secQ = """"([a-z0-9_]+)":([0-9]+\.[0-9]+)""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap -- meta
    val msPart = txt.indexOf("\"queries_unit\":\"ms\"") match {
      case -1 => ""
      case i => txt.substring(i)
    }
    val msQ = """"([a-z0-9_]+)":([0-9]+)[,}]""".r
      .findAllMatchIn(msPart)
      .map(m => m.group(1) -> m.group(2).toDouble / 1000).toMap -- meta
    (prevControl, sfPrev, (secQ -- msQ.keys) ++ msQ)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Warm up the JVM/codegen/FS paths so the first timed query isn't
    // charged for session start (~3 s otherwise), then PRE-BUILD every
    // persisted index (ANN buckets/cells/codes, the dedup band index,
    // the CC label table) so timed queries measure the QUERY, not the
    // session's one-time index construction — r6 recorded ann_lsh at
    // 12× and corpus_export at 2.9× their warm medians because the
    // cold build landed inside the first (and only) timed sample.
    graft.sources.Tables.lineitem(spark, sfDir).count()
    graft.sources.Tables.events(spark, sfDir).groupBy("event_type").count().collect()
    val warmups = Seq("dedup_clusters", "ann_lsh", "ann_ivf", "ann_pq",
      "ann_ivfpq", "dedup_incremental", "corpus_export", "dedup_exact_join",
      "ngram_jaccard") // builds the persisted pairOverlap table
    warmups.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      }
    }
    // Per-stream-op floor attribution (verdict r8 stretch item): a
    // StreamingQueryListener accumulates each op's micro-batch
    // durationMs breakdown so BENCH readers can split a stream op's
    // wall-time into floor (queryPlanning + walCommit/commitOffsets,
    // fixed per batch) vs real work (addBatch = scan+shuffle+state+
    // sink) without re-running tools.Profile. onQueryStarted is
    // documented synchronous with DataStreamWriter.start(), so the
    // runId→op map taken there is exact even though progress events
    // arrive on the async listener bus.
    val currentOp = new java.util.concurrent.atomic.AtomicReference[String]("warmup")
    val runToOp = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val floorAgg = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        runToOp.put(e.runId, currentOp.get)
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val op = runToOp.getOrDefault(e.progress.runId, "unknown")
        val d = e.progress.durationMs
        val a = floorAgg.computeIfAbsent(op, _ => new Array[Long](5))
        a.synchronized {
          a(0) += 1
          a(1) += d.getOrDefault("triggerExecution", 0L)
          a(2) += d.getOrDefault("addBatch", 0L)
          a(3) += d.getOrDefault("queryPlanning", 0L)
          a(4) += d.getOrDefault("walCommit", 0L) + d.getOrDefault("commitOffsets", 0L)
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    // ---- HOST-EPOCH CONTROL (r12 verdict item 5) ----
    // Three consecutive rounds needed a manual attribution pass to
    // separate host-speed epochs from code regressions (r10/r11/r12:
    // byte-identical untouched ops moving a uniform ratio). The method
    // is now IN the artifact: a FROZEN control computation — never
    // edit it; its byte-identity across rounds is the whole point —
    // is timed in the same JVM, and the per-query movers vs the
    // previous committed BENCH_r*.json are auto-annotated with the
    // epoch-normalized ratio. A mover whose epoch_norm ≈ 1 is the
    // host; a mover whose epoch_norm stays high is code.
    import org.apache.spark.sql.functions._
    def controlOnce(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      graft.sources.Tables.read(spark, s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_extendedprice")
        .groupBy((col("l_orderkey") % 1024).as("g"))
        // decimal(38,0) sum — raw int64 hash sums overflow under ANSI
        // mode (the ClusterProbe fingerprint rule)
        .agg(sum(xxhash64(col("l_orderkey"), col("l_partkey"),
          col("l_extendedprice")).cast("decimal(38,0)")).as("h"),
          count(lit(1)).as("n"))
        .agg(sum(col("h")), sum(col("n"))).head()
      (System.nanoTime() - t0) / 1e9
    }
    val controlSec = Seq(controlOnce(), controlOnce(), controlOnce()).sorted.apply(1)

    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      currentOp.set(name)
      // Ops that cache() shared frames (dedup, signal_correlation,
      // contamination) would otherwise leave their InMemoryRelations
      // pinned in the storage pool for the REST of the 186-query run —
      // r7 measured stream_slo_burn at 5.9 s inside the bench vs 2.4 s
      // in a clean session, pure memory-pressure contamination. Clear
      // BETWEEN query groups only: rep 1 rebuilds the op's own cache,
      // reps 2-3 still measure it warm.
      spark.sharedState.cacheManager.clearCache()
      def once(): Double = {
        val t0 = System.nanoTime()
        // a throw is a FAILURE, never a timing — r6's 14 broken queries
        // masqueraded as 50 ms "results" because the catch was silent
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            if (failed.add(name))
              System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // median of 3 in-process reps, unconditionally — host timings
      // swing up to 3× run-to-run, and the old ">8 s → single sample"
      // shortcut recorded exactly the cold outliers it should have
      // discarded. The warm-up pre-builds above keep rep 1 from paying
      // index construction, so three reps stay affordable.
      val samples = Seq(once(), once(), once()).sorted
      name -> samples(1)
    }.filterNot { case (name, _) => failed.contains(name) }
    def f(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Let the async listener bus drain before snapshotting (progress
    // events for the final op's last batches can lag behind q.stop()):
    // a fixed sleep is a race under host load, so poll until the
    // aggregate batch count is STABLE across two consecutive 100 ms
    // reads (bounded at 5 s) — deterministic for any lag the bus
    // actually has. Then emit per-op batch counts and the floor split,
    // all in ms. The "warmup" bucket (pre-build streams) is dropped.
    locally {
      import scala.jdk.CollectionConverters._
      def snap(): Long = floorAgg.asScala.values.map(a => a.synchronized(a(0))).sum
      var prev = -1L
      var cur = snap()
      val deadline = System.nanoTime() + 5000000000L
      while (cur != prev && System.nanoTime() < deadline) {
        Thread.sleep(100); prev = cur; cur = snap()
      }
    }
    val floor = {
      import scala.jdk.CollectionConverters._
      floorAgg.asScala.toSeq.filterNot(_._1 == "warmup").sortBy(_._1).map {
        case (op, a) => a.synchronized {
          s""""$op":{"batches":${a(0)},"trigger_ms":${a(1)},"add_batch_ms":${a(2)},"planning_ms":${a(3)},"wal_ms":${a(4)}}"""
        }
      }.mkString("{", ",", "}")
    }
    // auto-attribution vs the last committed round artifact: parse its
    // flat queries map + control (regex — no JSON lib on the offline
    // resolver), ratio every common query, and flag >1.35x movers with
    // the epoch-normalized ratio when the previous artifact carries a
    // control sample (rounds before r13 don't — movers then report
    // the raw ratio with epoch_norm null)
    val epochJson = {
      val prevFile = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName).lastOption
      prevFile match {
        case None => """{"control_sec":%s,"vs":null}""".format(f(controlSec))
        case Some(pf) =>
          val (prevControl, sfPrev, prevQ) =
            parsePrevBench(java.nio.file.Files.readString(pf.toPath))
          val epochRatio = prevControl.map(controlSec / _)
          // a previous artifact at a DIFFERENT scale factor would flag
          // every query as a bogus mover (or mask real ones) — cross-sf
          // ratios are meaningless, so movers is null with an explicit
          // marker (the r13 advice low finding)
          val curSf = "[0-9.]+$".r.findFirstIn(
            sfDir.replaceAll("/$", "").replaceAll(".*sf", ""))
            .map(_.toDouble)
          val sfMatches = (sfPrev, curSf) match {
            case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
            case _ => false
          }
          val moversJson = if (!sfMatches) "null" else {
            val movers = results.flatMap { case (name, cur) =>
              prevQ.get(name).collect {
                // sub-50 ms entries are harness noise, not signal
                case prev if prev >= 0.05 && cur / prev > 1.35 =>
                  val ratio = cur / prev
                  val norm = epochRatio.map(e => ratio / e)
                  s""""$name":{"ratio":${f(ratio)},"epoch_norm":${norm.map(f).getOrElse("null")}}"""
              }
            }
            s"{${movers.mkString(",")}}"
          }
          s"""{"control_sec":${f(controlSec)},"vs":"${pf.getName}",""" +
            s""""control_prev":${prevControl.map(f).getOrElse("null")},""" +
            s""""epoch_ratio":${epochRatio.map(f).getOrElse("null")},""" +
            s""""sf_mismatch":${!sfMatches},""" +
            s""""movers":$moversJson}"""
      }
    }
    val sfNum = "[0-9.]+$".r.findFirstIn(sfDir.replaceAll("/$", "").replaceAll(".*sf", "")).getOrElse("0")
    val fullLine =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","sf":$sfNum,"sf_dir":"$sfDir","failed":$failedArr,"epoch":$epochJson,"stream_floor":$floor,"queries":$qs}"""
    // full-precision line first, for complete logs…
    println(fullLine)
    // …and as repo artifacts, so nothing downstream depends on log
    // captures at all. BENCH_LAST.json holds exactly the contract line
    // (full queries map, seconds) as its only line — the r14 verdict's
    // "robustly extractable" requirement: no committed BENCH_r*.json
    // ever carried a non-null driver-parsed field, because the line
    // only ever existed inside an sbt-decorated, tail-truncated log.
    java.nio.file.Files.writeString(
      java.nio.file.Path.of("BENCH_LOCAL.json"), fullLine + "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of("BENCH_LAST.json"), fullLine + "\n")
    spark.stop()
    // The harness keeps only the LAST ~2000 chars of output; the
    // full-precision line is ~6k chars and its HEAD (with the total)
    // gets cut, and sbt appends its own ~76-char success line. So the
    // LAST line printed is a budget-aware compact twin — SAME contract
    // shape (seconds, 3 decimals), slowest queries first, capped so
    // line + sbt trailer fit the 2000-char tail whole; the count of
    // dropped (fastest) entries is self-described and the full map is
    // in BENCH_LOCAL.json / BENCH_LAST.json. (Until r14 this line was
    // integer-MILLISECOND values — a unit deviation from the declared
    // contract that a strict parser reading "queries" as seconds would
    // misread 1000x; timing methodology itself is unchanged.)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    for ((k, v) <- results.sortBy(-_._2)) {
      val e = "\"" + k + "\":" + f(v)
      if (used + e.length + 1 <= 1700) { buf += e; used += e.length + 1 }
    }
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","sf":$sfNum,"failed":$failedArr,"control_sec":${f(controlSec)},"queries_unit":"sec","queries_omitted_fastest":${results.size - buf.size},"queries":{${buf.mkString(",")}}}""")
  }
}
