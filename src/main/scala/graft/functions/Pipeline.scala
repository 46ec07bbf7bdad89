package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, OpFamily, Sizing}
import graft.sources.Tables

/** End-to-end training-data pipeline steps on top of the dedup /
  * quality / cluster building blocks — the operators that turn
  * "analysis over documents" into "a corpus you can ship to training".
  *
  *  - P1 `decontaminate`: flag training docs whose 3-gram shingles
  *    overlap an evaluation/benchmark set (here: doc_id < 20 stands in
  *    for the benchmark corpus). At 100 TB the benchmark shingle set is
  *    tiny relative to the corpus, so the overlap probe is a BROADCAST
  *    join against the full corpus scan — one pass, no shuffle of the
  *    big side.
  *  - P2 `corpus_export`: the deliverable — the training corpus after
  *    (a) near-dup cluster resolution keeps one doc per cluster,
  *    (b) decontamination drops benchmark-overlapping docs,
  *    (c) a minimum-length gate. One query, every stage verified
  *    against the same DuckDB oracle as its standalone operator.
  */
object Pipeline extends OpFamily {

  private val benchMax = 20L  // doc_id < 20 = the stand-in benchmark set
  private val contamMin = 5L  // ≥ 5 shared shingles ⇒ contaminated
  private val minTokens = 10L // corpus-export length gate

  /** (doc_id ≥ benchMax, n_shared, contaminated) for every corpus doc.
    * Persisted once per (session, dataset) via buildOnce: FOUR
    * operators consume this frame (P1 directly, P2 corpus_export, P11
    * corpus_funnel, P18 the threshold sweep), and at sf10 each cold
    * consumer was re-running the O(corpus tokens) shingle pass + the
    * broadcast benchmark probe from scratch (corpus_funnel alone paid
    * 91 s cold). Like pairLabels, the verdict frame is capital: built
    * by whichever consumer arrives first, read as plain parquet by the
    * rest. */
  private def contamination(s: SparkSession, d: String): DataFrame = {
    val path = s"${Tables.workDir(s)}/contam_${Tables.datasetTag(d)}"
    Tables.buildOnce(path)(contaminationBuild(s, d))
    Tables.read(s, path)
  }

  private def contaminationBuild(s: SparkSession, d: String): DataFrame = {
    // both branches (bench set + corpus probe) consume the same shingle
    // explode — materialize it once instead of running the O(corpus
    // tokens) pass twice (the D3 checkpoint-the-shingles move)
    val sh = Dedup.shingled(s, d).cache()
    val bench = sh.filter(col("doc_id") < benchMax).select("s").distinct()
    val corp = sh.filter(col("doc_id") >= benchMax).distinct()
    val hits = corp.join(broadcast(bench), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    Tables.documents(s, d).filter(col("doc_id") >= benchMax).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= contamMin).as("contaminated"))
  }

  private val contaminationCtes =
    s"""${Dedup.shingleCte},
       |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id < $benchMax),
       |csh AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id >= $benchMax),
       |hits AS (SELECT doc_id, count(*) AS n_shared FROM csh JOIN bsh USING (s) GROUP BY 1)""".stripMargin

  private def decontaminateSql =
    s"""WITH $contaminationCtes
       |SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
       |  COALESCE(h.n_shared, 0) >= $contamMin AS contaminated
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id >= $benchMax""".stripMargin

  // P10 `decontaminate_report`: the quantitative form of P1 — per
  // corpus doc, the FRACTION of its distinct shingles that appear in
  // the benchmark set (what decontamination reviews actually publish:
  // an absolute shared-shingle count says little for long docs). The
  // fraction is an exact e4 integer (n_shared·10000 div n_shingles) so
  // it hash-compares across engines; the flag pages at ≥ 5% overlap.
  // Same scale shape as P1: one shingle pass feeds both the per-doc
  // denominator agg and the broadcast benchmark probe; the two tiny
  // per-doc aggregates come back via shuffle-hash-hinted left joins
  // (the E19/R17 shape — never sort the doc side).
  private val contamFracE4 = 500L // page at ≥ 5% benchmark overlap

  private def contaminationReport(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingled(s, d).cache()
    val bench = sh.filter(col("doc_id") < benchMax).select("s").distinct()
    val corp = sh.filter(col("doc_id") >= benchMax).distinct()
    val counts = corp.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = corp.join(broadcast(bench), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    Tables.documents(s, d).filter(col("doc_id") >= benchMax).select(col("doc_id"))
      .join(counts.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(hits.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_e4", expr(
        "CASE WHEN n_shingles = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_shared * 10000) div n_shingles END"))
      .withColumn("contaminated", col("overlap_e4") >= contamFracE4)
  }

  private def contaminationReportSql =
    s"""WITH $contaminationCtes,
       |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY 1),
       |v AS (
       |  SELECT d.doc_id, COALESCE(c.n_shingles, 0) AS n_shingles,
       |    COALESCE(h.n_shared, 0) AS n_shared
       |  FROM documents d
       |  LEFT JOIN cnt c ON c.doc_id = d.doc_id
       |  LEFT JOIN hits h ON h.doc_id = d.doc_id
       |  WHERE d.doc_id >= $benchMax),
       |e AS (
       |  SELECT doc_id, n_shingles, n_shared,
       |    CASE WHEN n_shingles = 0 THEN 0
       |         ELSE (n_shared * 10000) // n_shingles END AS overlap_e4
       |  FROM v)
       |SELECT doc_id, n_shingles, n_shared, overlap_e4,
       |  overlap_e4 >= $contamFracE4 AS contaminated
       |FROM e""".stripMargin

  // P2: docs ≥ benchMax that survive dedup (cluster min), are clean of
  // benchmark overlap, and pass the length gate.
  private def corpusExport(s: SparkSession, d: String): DataFrame = {
    val labels = Clusters.pairLabels(s, d)
    val contam = contamination(s, d)
    Tables.documents(s, d)
      .filter(col("doc_id") >= benchMax)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lab"), col("doc_id")))
      .filter(col("cluster_id") === col("doc_id")) // keep = cluster min
      .join(contam.select(col("doc_id"), col("contaminated")), Seq("doc_id"))
      .filter(!col("contaminated") && col("n_tok") >= minTokens)
      .select("doc_id", "cluster_id", "n_tok")
  }

  // The closure CTEs already define tok/tk/sh, so the contamination
  // CTEs past the shingle stage are appended without re-deriving them.
  private def corpusExportSql =
    s"""WITH RECURSIVE ${Clusters.closureCtes},
       |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id < $benchMax),
       |csh AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id >= $benchMax),
       |hits AS (SELECT doc_id, count(*) AS n_shared FROM csh JOIN bsh USING (s) GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(c.cid, d.doc_id) AS cluster_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
       |FROM documents d
       |LEFT JOIN cl c ON c.node = d.doc_id
       |LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id >= $benchMax
       |  AND COALESCE(c.cid, d.doc_id) = d.doc_id
       |  AND COALESCE(h.n_shared, 0) < $contamMin
       |  AND len(string_split(d.text, ' ')) >= $minTokens""".stripMargin

  // P12 `benchmark_leakage`: decontamination's TRANSPOSE — per
  // benchmark doc, how many corpus docs it leaked into (≥ contamMin
  // shared shingles), the worst overlap, and the total shared mass.
  // P1/P10 answer "is this training doc dirty"; an eval owner asks the
  // dual: "which of MY items are compromised, and how badly" — that
  // decides whether the benchmark score is still meaningful at all.
  // Pair-level counts keep the benchmark side BROADCAST (it is tiny at
  // any corpus scale), the corpus side streams through one shingle
  // pass unshuffled until the per-(bench,corpus-doc) hash-agg; bench
  // docs with no confirmed leaks still appear with zeros (left join,
  // shuffle-hash hinted — the tiny aggregated side builds the table).
  private def benchmarkLeakage(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingled(s, d)
    val bench = sh.filter(col("doc_id") < benchMax)
      .select(col("doc_id").as("bdoc"), col("s")).distinct()
    val corp = sh.filter(col("doc_id") >= benchMax).distinct()
    val pairs = corp.join(broadcast(bench), "s")
      .groupBy("bdoc", "doc_id").agg(count(lit(1)).as("shared"))
    val perBench = pairs.filter(col("shared") >= contamMin)
      .groupBy("bdoc").agg(
        count(lit(1)).as("n_docs_hit"),
        max(col("shared")).as("max_shared"),
        sum(col("shared")).as("total_shared"))
    Tables.documents(s, d).filter(col("doc_id") < benchMax)
      .select(col("doc_id").as("bdoc"))
      .join(perBench.hint("shuffle_hash"), Seq("bdoc"), "left")
      .select(col("bdoc"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        coalesce(col("total_shared"), lit(0L)).as("total_shared"))
  }

  private def benchmarkLeakageSql =
    s"""WITH $contaminationCtes,
       |bsh2 AS (SELECT DISTINCT doc_id AS bdoc, s FROM sh WHERE doc_id < $benchMax),
       |pairs AS (
       |  SELECT b.bdoc, c.doc_id, count(*) AS shared
       |  FROM csh c JOIN bsh2 b ON b.s = c.s
       |  GROUP BY 1, 2),
       |pb AS (
       |  SELECT bdoc, count(*) AS n_docs_hit,
       |    max(shared) AS max_shared,
       |    CAST(sum(shared) AS BIGINT) AS total_shared
       |  FROM pairs WHERE shared >= $contamMin GROUP BY 1)
       |SELECT d.doc_id AS bdoc,
       |  COALESCE(pb.n_docs_hit, 0) AS n_docs_hit,
       |  COALESCE(pb.max_shared, 0) AS max_shared,
       |  COALESCE(pb.total_shared, 0) AS total_shared
       |FROM documents d LEFT JOIN pb ON pb.bdoc = d.doc_id
       |WHERE d.doc_id < $benchMax""".stripMargin

  // P11 `corpus_funnel`: the pipeline's survival dashboard — docs AND
  // tokens remaining after each gate (raw → dedup survivors →
  // decontaminated → exported), the first artifact any corpus review
  // asks for ("where did the data go?"). All four stages are
  // conditional sums over ONE pass of the per-doc flag frame (the same
  // labels/contamination joins P2 runs), folded in a single hash-agg
  // to one row and unpivoted with stack() — no per-stage scans, no
  // union of four aggregates. Stage predicates nest (each stage ⊆ the
  // previous), so the funnel is monotone by construction.
  private def corpusFunnel(s: SparkSession, d: String): DataFrame = {
    val labels = Clusters.pairLabels(s, d)
    val contam = contamination(s, d)
    val flags = Tables.documents(s, d)
      .filter(col("doc_id") >= benchMax)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(labels.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("survivor", coalesce(col("lab"), col("doc_id")) === col("doc_id"))
      .join(contam.select(col("doc_id"), col("contaminated")).hint("shuffle_hash"),
        Seq("doc_id"))
      .withColumn("clean", !col("contaminated"))
      .withColumn("long_enough", col("n_tok") >= minTokens)
    flags.agg(
        count(lit(1)).as("d1"), sum(col("n_tok")).as("t1"),
        sum(when(col("survivor"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("survivor"), col("n_tok")).otherwise(0L)).as("t2"),
        sum(when(col("survivor") && col("clean"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("survivor") && col("clean"), col("n_tok")).otherwise(0L)).as("t3"),
        sum(when(col("survivor") && col("clean") && col("long_enough"), 1L)
          .otherwise(0L)).as("d4"),
        sum(when(col("survivor") && col("clean") && col("long_enough"), col("n_tok"))
          .otherwise(0L)).as("t4"))
      .selectExpr(
        "stack(4, " +
          "CAST(1 AS BIGINT), 'raw', d1, t1, " +
          "CAST(2 AS BIGINT), 'dedup', d2, t2, " +
          "CAST(3 AS BIGINT), 'decontaminated', d3, t3, " +
          "CAST(4 AS BIGINT), 'exported', d4, t4) " +
          "AS (stage_ord, stage, n_docs, n_tokens)")
  }

  private def corpusFunnelSql =
    s"""WITH RECURSIVE ${Clusters.closureCtes},
       |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id < $benchMax),
       |csh AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id >= $benchMax),
       |hits AS (SELECT doc_id, count(*) AS n_shared FROM csh JOIN bsh USING (s) GROUP BY 1),
       |f AS (
       |  SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       |    COALESCE(c.cid, d.doc_id) = d.doc_id AS survivor,
       |    COALESCE(h.n_shared, 0) < $contamMin AS clean,
       |    len(string_split(d.text, ' ')) >= $minTokens AS long_enough
       |  FROM documents d
       |  LEFT JOIN cl c ON c.node = d.doc_id
       |  LEFT JOIN hits h ON h.doc_id = d.doc_id
       |  WHERE d.doc_id >= $benchMax),
       |g AS (
       |  SELECT count(*) AS d1, CAST(sum(n_tok) AS BIGINT) AS t1,
       |    CAST(sum(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT) AS d2,
       |    CAST(sum(CASE WHEN survivor THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
       |    CAST(sum(CASE WHEN survivor AND clean THEN 1 ELSE 0 END) AS BIGINT) AS d3,
       |    CAST(sum(CASE WHEN survivor AND clean THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
       |    CAST(sum(CASE WHEN survivor AND clean AND long_enough THEN 1 ELSE 0 END) AS BIGINT) AS d4,
       |    CAST(sum(CASE WHEN survivor AND clean AND long_enough THEN n_tok ELSE 0 END) AS BIGINT) AS t4
       |  FROM f)
       |SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage, d1 AS n_docs, t1 AS n_tokens FROM g
       |UNION ALL SELECT CAST(2 AS BIGINT), 'dedup', d2, t2 FROM g
       |UNION ALL SELECT CAST(3 AS BIGINT), 'decontaminated', d3, t3 FROM g
       |UNION ALL SELECT CAST(4 AS BIGINT), 'exported', d4, t4 FROM g""".stripMargin

  // P3 `corpus_shard`: token-budget packing — the step AFTER export
  // that lays the corpus out as training shards: within each language,
  // docs (in deterministic doc_id order) are packed into consecutive
  // shards of ≤ `shardTokens` tokens (a doc starting inside a shard's
  // budget belongs to it, so shard boundaries never split a doc and
  // every shard except the last is ≥ budget−max_doc tokens full).
  //
  // shard = floor(prefix_tokens_before_doc / budget), so the only hard
  // part is an exact per-language prefix sum. The naive form — one
  // cumsum window per language — sorts EACH LANGUAGE ON ONE REDUCER
  // (with a handful of languages at 100 TB that is the whole corpus
  // through 5 tasks). Instead the prefix sum is two-phase:
  //   1. bucket docs by doc_id range; per-(lang, range) token sums are
  //      one hash-agg;
  //   2. a cumsum window over that TINY (lang × ranges) table gives
  //      each range its starting offset (driver-scale work);
  //   3. the within-range cumsum window sorts only a bounded range,
  //      parallel across ranges.
  // Exactly the plan a distributed exclusive-scan runs; all int64.
  private val shardTokens = 2000L
  private val rangeSize = 100L // doc_ids per range bucket

  /** (doc_id, lang, n_tok, before) — each doc's exact per-language
    * exclusive token prefix sum, via the two-phase scan above. Shared
    * by P3 (shard assignment) and P6 (sequence packing). */
  /** Two-phase exclusive per-lang prefix scan over an arbitrary
    * (doc_id, lang, n_tok) frame — range-bucketed so no single-task
    * per-lang sort exists at any scale; shared by the original-corpus
    * packers (P3/P6) and the post-strip pack (P29, which feeds the
    * CLEANED token counts through the same law). */
  private def prefixedOver(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // feeds the offsets aggregate AND the final join probe —
    // materialize once so the scan + O(tokens) split runs one time
    val docs = docsIn
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr(s"doc_id div $rangeSize").as("rb"))
      .cache()
    val offsets = docs.groupBy("lang", "rb")
      .agg(sum(col("n_tok")).as("range_tok"))
      .withColumn("offset",
        coalesce(sum(col("range_tok")).over(
          Window.partitionBy("lang").orderBy("rb")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "rb", "offset")
    val wIn = Window.partitionBy("lang", "rb").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(offsets, Seq("lang", "rb"))
      .withColumn("before", col("offset") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("before"))
  }

  private def prefixed(s: SparkSession, d: String): DataFrame =
    prefixedOver(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok")))

  private def corpusShard(s: SparkSession, d: String): DataFrame =
    prefixed(s, d).select(col("doc_id"), col("lang"), col("n_tok"),
      expr(s"before div $shardTokens").as("shard"))

  private def corpusShardSql =
    s"""SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |  COALESCE(CAST(sum(len(string_split(text, ' '))) OVER (
       |    PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |    // $shardTokens AS shard
       |FROM documents""".stripMargin

  // P9 `corpus_interleave`: the deterministic GLOBAL TRAINING ORDER —
  // every pretraining run shuffles its corpus, and a reproducible run
  // needs that shuffle to be a pure function of the data, not of the
  // partitioning or the engine. Order = (md5(doc_id), doc_id): a
  // uniform, engine-neutral permutation that interleaves languages and
  // sources by construction. The naive row_number() over the full
  // order is a single-reducer global sort; this is the P3 move
  // instead — 65536 hash-prefix buckets (lexicographic prefix ⇒ bucket
  // order IS hash order), per-bucket counts → a cumsum over the tiny
  // ≤65536-row offsets table, and a bounded within-bucket rank. Global
  // position = bucket offset + local rank, exactly the distributed
  // exclusive scan a 100 TB shuffle job runs. Bucket width sets the
  // rank stage's parallelism AND its per-reducer sort size: 4 hex
  // chars ⇒ ~1.5 GB per bucket at 100 TB (2 chars would cap the stage
  // at 256 reducers of ~400 GB each), while the offsets side stays a
  // trivially-broadcast single-partition cumsum.
  private def corpusInterleave(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bk", substring(col("h"), 1, 4))
      .cache()
    val offsets = docs.groupBy("bk").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum(col("n")).over(Window.orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bk", "off")
    val wIn = Window.partitionBy("bk").orderBy("h", "doc_id")
    docs.join(broadcast(offsets), "bk")
      .withColumn("pos", col("off") + row_number().over(wIn) - 1L)
      .select(col("doc_id"), col("lang"), col("pos"))
  }

  private val corpusInterleaveSql =
    """SELECT doc_id, lang,
      |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
      |FROM documents""".stripMargin

  // P8 `corpus_manifest`: the INTEGRITY artifact shipped beside the
  // shards — per (lang, shard): doc/token counts, id range, and an
  // order-exact md5 over the member doc_id list. This is what a
  // training job validates before reading a shard (did every doc
  // arrive? in the agreed order? from the agreed id range?) and what
  // makes reruns comparable across engines/partitionings. The member
  // list per shard is BOUNDED by the token budget (≤ shardTokens docs),
  // so the sorted-list digest is O(budget) per group — a manifest over
  // a 100 TB corpus is one hash-agg whose groups never exceed the
  // shard size by construction.
  private def corpusManifest(s: SparkSession, d: String): DataFrame =
    corpusShard(s, d)
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
        expr("md5(concat_ws(',', transform(sort_array(collect_list(doc_id)), x -> cast(x as string))))")
          .as("content_sha"))

  private def corpusManifestSql =
    s"""WITH sh AS (
       |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    COALESCE(CAST(sum(len(string_split(text, ' '))) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      // $shardTokens AS shard
       |  FROM documents)
       |SELECT lang, shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS content_sha
       |FROM sh GROUP BY 1, 2""".stripMargin

  // P6 `corpus_pack`: pack-and-chunk — the step that turns the corpus
  // into the TRAINING EXAMPLES themselves: within each language, docs
  // (deterministic doc_id order) are concatenated and chunked into
  // fixed `seqTokens`-token sequences, docs SPANNING sequence
  // boundaries (standard LLM pretraining packing — no padding waste,
  // unlike P3's shard layout which never splits a doc). Output is one
  // SEGMENT row per (sequence, doc): which token range of the doc
  // lands at which offset of which sequence — exactly the index a
  // sequence-assembly job reads. All arithmetic on the P3 exclusive
  // scan's exact int64 prefix: seq_first = before div B, seq_last =
  // (before+n_tok-1) div B, one `explode(sequence(...))` per doc —
  // O(segments) output work, no extra shuffle beyond the scan's own.
  private val seqTokens = 512L

  private def corpusPack(s: SparkSession, d: String): DataFrame = {
    prefixed(s, d)
      .withColumn("seq_id", explode(expr(
        s"sequence(before div $seqTokens, (before + n_tok - 1) div $seqTokens)")))
      .select(col("lang"), col("seq_id"), col("doc_id"),
        greatest(lit(0L), col("seq_id") * seqTokens - col("before")).as("doc_from"),
        least(col("n_tok"), (col("seq_id") + 1L) * seqTokens - col("before")).as("doc_to"),
        greatest(lit(0L), col("before") - col("seq_id") * seqTokens).as("seq_from"))
      .withColumn("n_span", col("doc_to") - col("doc_from"))
  }

  private val corpusPackSql =
    s"""WITH p AS (
       |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    COALESCE(CAST(sum(len(string_split(text, ' '))) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before
       |  FROM documents),
       |e AS (
       |  SELECT lang, doc_id, n_tok, before,
       |    unnest(range(before // $seqTokens, (before + n_tok - 1) // $seqTokens + 1)) AS seq_id
       |  FROM p)
       |SELECT lang, seq_id, doc_id,
       |  greatest(0, seq_id * $seqTokens - before) AS doc_from,
       |  least(n_tok, (seq_id + 1) * $seqTokens - before) AS doc_to,
       |  greatest(0, before - seq_id * $seqTokens) AS seq_from,
       |  least(n_tok, (seq_id + 1) * $seqTokens - before)
       |    - greatest(0, seq_id * $seqTokens - before) AS n_span
       |FROM e""".stripMargin

  // P4 `corpus_mix`: language-mixture rebalancing — the data-mixing
  // step that sets per-language sampling rates before export (training
  // mixtures deliberately flatten the natural language distribution so
  // head languages don't drown the tail). Rates are EXACT integers:
  // rate_e4(lang) = (10000 · n_min) div n_lang — the flatten-to-tail
  // mixture (every language downsampled toward the smallest one's
  // volume) — and the keep decision is the same md5-bucket gate the
  // stratified sampler uses, so the subset is reproducible across runs,
  // engines, and partitionings. Plan shape at 100 TB: the rate table is
  // one tiny hash-agg (|langs| rows) BROADCAST back onto the corpus
  // scan — one pass over the big side, no shuffle.
  private def corpusMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    // global-window min over the |langs|-row aggregate (NOT the corpus):
    // attaches n_min without the one-row cross join a scalar-subquery
    // formulation plans as BroadcastNestedLoopJoin
    val rates = counts
      .withColumn("n_min",
        min(col("n_lang")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("lang"), expr("(10000 * n_min) div n_lang").as("rate_e4"))
    val bucket = Tables.md5Bucket(col("text"), "mix:", 10000)
    docs.join(broadcast(rates), "lang")
      .select(col("doc_id"), col("lang"), bucket.as("bucket_e4"), col("rate_e4"))
      .filter(col("bucket_e4") < col("rate_e4"))
  }

  // P13 `corpus_split`: the deterministic train/validation/test
  // assignment (90/5/5) every training run needs before anything else.
  // The split key is a salted content hash, NOT doc_id or a random()
  // draw: reruns, engines, and partitionings agree byte-for-byte, and
  // a re-crawled duplicate of a training document can never leak into
  // the held-out splits (same bytes ⇒ same bucket — the leakage mode
  // row-id splits silently have). Pure projection over one scan: zero
  // shuffles, trivially 100 TB-safe.
  private def corpusSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        Tables.md5Bucket(col("text"), "split:", 10000).as("bucket_e4"))
      .withColumn("split",
        when(col("bucket_e4") < 9000, "train")
          .when(col("bucket_e4") < 9500, "validation")
          .otherwise("test"))

  private val corpusSplitSql =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST(list_sum(list_transform(range(1, 9), i ->
      |      (strpos('0123456789abcdef', substr(md5('split:' || text), CAST(i AS INT), 1)) - 1)
      |        * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % 10000 AS bucket_e4
      |  FROM documents)
      |SELECT doc_id, lang, bucket_e4,
      |  CASE WHEN bucket_e4 < 9000 THEN 'train'
      |       WHEN bucket_e4 < 9500 THEN 'validation'
      |       ELSE 'test' END AS split
      |FROM b""".stripMargin

  private val corpusMixSql =
    """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
      |m AS (SELECT min(n_lang) AS n_min FROM c),
      |r AS (SELECT lang, CAST((10000 * n_min) // n_lang AS BIGINT) AS rate_e4 FROM c, m),
      |b AS (
      |  SELECT doc_id, lang,
      |    CAST(list_sum(list_transform(range(1, 9), i ->
      |      (strpos('0123456789abcdef', substr(md5('mix:' || text), CAST(i AS INT), 1)) - 1)
      |        * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % 10000 AS bucket_e4
      |  FROM documents)
      |SELECT b.doc_id, b.lang, b.bucket_e4, r.rate_e4
      |FROM b JOIN r USING (lang)
      |WHERE b.bucket_e4 < r.rate_e4""".stripMargin

  // P7 `corpus_upsample`: the upsampling HALF of data mixing — P4
  // flattens head languages DOWN toward the tail; real recipes also
  // repeat tail languages UP toward the head (multi-epoch for the
  // tail). Expected copies per doc of language l = n_max / n_l,
  // realized EXACTLY in integers: base = n_max div n_l copies for
  // every doc, plus one extra when the doc's deterministic md5 bucket
  // falls under frac_e4 = ((n_max mod n_l)·10000) div n_l — so each
  // language's expected exported volume is n_max docs with zero FP
  // anywhere, reproducible across runs/engines/partitionings (same
  // gate as P4/T5). Output is one row per COPY (doc_id, lang, copy)
  // — the physical repeat layout a shard-writer consumes. Plan: tiny
  // per-language count agg BROADCAST onto one corpus pass + one
  // O(output) explode; no shuffle of the big side.
  private def corpusUpsample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val rates = counts
      .withColumn("n_max",
        max(col("n_lang")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("lang"),
        expr("n_max div n_lang").as("base"),
        expr("((n_max % n_lang) * 10000) div n_lang").as("frac_e4"))
    val bucket = Tables.md5Bucket(col("text"), "up:", 10000)
    docs.join(broadcast(rates), "lang")
      .select(col("doc_id"), col("lang"),
        (col("base") + when(bucket < col("frac_e4"), 1L).otherwise(0L)).as("n_copies"))
      .withColumn("copy", explode(expr("sequence(1L, n_copies)")))
      .select("doc_id", "lang", "copy")
  }

  private val corpusUpsampleSql =
    """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
      |m AS (SELECT max(n_lang) AS n_max FROM c),
      |r AS (SELECT lang, CAST(n_max // n_lang AS BIGINT) AS base,
      |        CAST(((n_max % n_lang) * 10000) // n_lang AS BIGINT) AS frac_e4
      |      FROM c, m),
      |b AS (
      |  SELECT doc_id, lang,
      |    CAST(list_sum(list_transform(range(1, 9), i ->
      |      (strpos('0123456789abcdef', substr(md5('up:' || text), CAST(i AS INT), 1)) - 1)
      |        * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % 10000 AS bucket_e4
      |  FROM documents),
      |n AS (
      |  SELECT b.doc_id, b.lang,
      |    r.base + CASE WHEN b.bucket_e4 < r.frac_e4 THEN 1 ELSE 0 END AS n_copies
      |  FROM b JOIN r USING (lang))
      |SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy
      |FROM n""".stripMargin

  // P5 `corpus_filter`: the QUALITY GATE — one keep/drop verdict per
  // document with the first failing rule as the reason code, combining
  // the pipeline's quality signals (length, intra-doc repetition,
  // corpus-rare bigrams, stopword density). This is the filter pass a
  // real pipeline runs between cleaning and export; reason codes are
  // what its operators monitor (a spike in `repetitive` means a spammy
  // crawl slice arrived). Every rule is an exact integer cross-multiply
  // — no FP thresholds to disagree across engines — and rule ORDER is
  // the tie-break: the first failing rule names the reason.
  private def corpusFilter(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val base = Tables.documents(s, d).select(col("doc_id"),
      size(toks).cast("long").as("n_tok"),
      size(filter(toks, t => t.isInCollection(Seq("the", "a")))).cast("long").as("n_stop"))
    val rep = TextAnalysis.repetition(s, d)
      .select(col("doc_id"), col("n_total").as("n_tri"), col("n_distinct").as("n_tri_d"))
    val rar = TextAnalysis.rarity(s, d).select(col("doc_id"), col("n_bi"), col("n_rare"))
    val joined = base.join(rep, Seq("doc_id"), "left").join(rar, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_tri_d"), lit(0L)).as("n_tri_d"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
    val reason =
      when(col("n_tok") < 30, "too_short")                          // length gate
        .when((col("n_tri") - col("n_tri_d")) * 20 > col("n_tri"), "repetitive") // dup-3-gram > 5%
        .when(col("n_rare") * 10 > col("n_bi"), "rare_heavy")       // rare-bigram > 10%
        .when(col("n_stop") * 20 < col("n_tok"), "low_stopword")    // stopword < 5%
    joined.select(col("doc_id"), col("n_tok"), reason.as("reason"))
      .withColumn("keep", col("reason").isNull)
  }

  /** P5's verdict CTE chain ending in `v(doc_id, n_tok, reason)` —
    * shared with the source_quality report's oracle. */
  private val corpusFilterCtes =
    """base AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a'], t))) AS BIGINT) AS n_stop
      |  FROM documents),
      |t3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh3 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS s
      |        FROM t3 WHERE len(t) >= 3),
      |rep AS (SELECT doc_id, count(*) AS n_tri, count(DISTINCT s) AS n_tri_d FROM sh3 GROUP BY 1),
      |bi2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS s
      |        FROM t3 WHERE len(t) >= 2),
      |freq AS (SELECT s, count(*) AS cf FROM bi2 GROUP BY 1),
      |rar AS (SELECT b.doc_id, count(*) AS n_bi,
      |          CAST(sum(CASE WHEN f.cf < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      |        FROM bi2 b JOIN freq f ON b.s = f.s GROUP BY 1),
      |j AS (
      |  SELECT base.doc_id, base.n_tok, base.n_stop,
      |    COALESCE(rep.n_tri, 0) AS n_tri, COALESCE(rep.n_tri_d, 0) AS n_tri_d,
      |    COALESCE(rar.n_bi, 0) AS n_bi, COALESCE(rar.n_rare, 0) AS n_rare
      |  FROM base LEFT JOIN rep ON rep.doc_id = base.doc_id
      |            LEFT JOIN rar ON rar.doc_id = base.doc_id),
      |v AS (
      |  SELECT doc_id, n_tok,
      |    CASE WHEN n_tok < 30 THEN 'too_short'
      |         WHEN (n_tri - n_tri_d) * 20 > n_tri THEN 'repetitive'
      |         WHEN n_rare * 10 > n_bi THEN 'rare_heavy'
      |         WHEN n_stop * 20 < n_tok THEN 'low_stopword' END AS reason
      |  FROM j)""".stripMargin

  private val corpusFilterSql =
    s"""WITH $corpusFilterCtes
       |SELECT doc_id, n_tok, reason, reason IS NULL AS keep FROM v""".stripMargin

  // P14 `source_quality`: the per-SOURCE scorecard — for every crawl
  // source: volume (docs, tokens), exact-duplication rate, and the P5
  // quality-gate failure rate, both as exact e4 shares. This is the
  // table a data team reads to decide which sources to keep, re-crawl,
  // or drop ("is source X worth its storage?") — the per-source
  // transpose of the per-doc verdicts P5 and D1 already compute.
  // Plan: the dup probe is the T8 pre-aggregated shape (digest counts
  // hash-agg, shuffle-hash joined back — uniform md5 key, no skew);
  // the verdict join reuses P5's frame; one final hash-agg to
  // |sources| rows. The corpus is scanned, never sorted.
  private def sourceQuality(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dupCounts = docs.select(md5(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hn"))
      .filter(col("hn") > 1)
    val flags = docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text")).as("h"))
      .join(dupCounts.hint("shuffle_hash"), Seq("h"), "left")
    flags.join(corpusFilter(s, d).select(col("doc_id"), col("keep"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("hn").isNotNull, 1L).otherwise(0L)).as("n_dup"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_fail"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_dup"), col("n_fail"),
        expr("(10000 * n_dup) div n_docs").as("dup_share_e4"),
        expr("(10000 * n_fail) div n_docs").as("fail_share_e4"))
  }

  private val sourceQualitySql =
    s"""WITH $corpusFilterCtes,
       |hs AS (SELECT md5(text) AS h, count(*) AS hn FROM documents GROUP BY 1),
       |fl AS (
       |  SELECT d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       |    hs.hn > 1 AS is_dup, v.reason IS NULL AS keep
       |  FROM documents d
       |  JOIN hs ON hs.h = md5(d.text)
       |  JOIN v ON v.doc_id = d.doc_id),
       |g AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |    CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail
       |  FROM fl GROUP BY 1)
       |SELECT source, n_docs, n_tokens, n_dup, n_fail,
       |  CAST((10000 * n_dup) // n_docs AS BIGINT) AS dup_share_e4,
       |  CAST((10000 * n_fail) // n_docs AS BIGINT) AS fail_share_e4
       |FROM g""".stripMargin

  // P15 `corpus_token_budget`: quality-first budget selection — "I can
  // afford N training tokens per language; which documents make the
  // cut?" Docs are ranked by lexical diversity (distinct-token share,
  // exact e2 integer — the cheap quality proxy every curation pass
  // starts with) and admitted best-first until the per-language token
  // budget fills. Every doc is emitted with its cut position and the
  // kept verdict, so the op doubles as the budget-sensitivity report.
  //
  // Scale shape: the running token sum in quality order is the P3
  // exclusive scan with the score BAND as the range bucket — scores
  // are integers in [0,100], so the per-(lang, band) offsets aggregate
  // is ≤101 rows per language (tiny window), and the corpus-side
  // window partitions on (lang, band) — never a global sort, never a
  // single-partition window, exactly the structure that survives a
  // 100 TB corpus.
  private val budgetTokens = 2000L // per-language token budget

  private def corpusTokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_uniq"))
      .withColumn("div_e2", expr("(100 * n_uniq) div n_tok"))
      .withColumn("band", lit(100L) - col("div_e2")) // ascending = best-first
      .cache()
    val offsets = docs.groupBy("lang", "band")
      .agg(sum(col("n_tok")).as("band_tok"))
      .withColumn("offset",
        coalesce(sum(col("band_tok")).over(
          Window.partitionBy("lang").orderBy("band")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "band", "offset")
    val wIn = Window.partitionBy("lang", "band").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(offsets.hint("shuffle_hash"), Seq("lang", "band"))
      .withColumn("before", col("offset") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("lang"), col("div_e2"), col("n_tok"),
        col("before"), (col("before") < budgetTokens).as("kept"))
  }

  private val corpusTokenBudgetSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    CAST((100 * len(list_distinct(string_split(text, ' '))))
       |      // len(string_split(text, ' ')) AS BIGINT) AS div_e2
       |  FROM documents)
       |SELECT doc_id, lang, div_e2, n_tok,
       |  COALESCE(CAST(sum(n_tok) OVER (
       |    PARTITION BY lang ORDER BY 100 - div_e2, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before,
       |  COALESCE(CAST(sum(n_tok) OVER (
       |    PARTITION BY lang ORDER BY 100 - div_e2, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |    < $budgetTokens AS kept
       |FROM t""".stripMargin

  // P16 `corpus_card`: the DATA CARD — the one-column stat list that
  // fronts every published dataset (docs, tokens, chars, languages,
  // sources, exact-duplicate docs, mean doc length). P11's funnel
  // answers "where did the data go"; the card answers "what IS this
  // corpus" and is the artifact a consumer reads first. ONE corpus
  // scan: a single agg computes the sums and all three distinct
  // counts (Spark plans the multi-distinct through one Expand), the
  // dup count falls out as docs − distinct digests (uniform md5 key),
  // and stack() unpivots the one-row result — no per-stat scans.
  private def corpusCard(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("h"))
      .agg(count(lit(1)).as("d"), sum(col("n_tok")).as("t"),
        sum(col("n_chars")).as("ch"),
        countDistinct(col("lang")).as("nl"),
        countDistinct(col("source")).as("ns"),
        countDistinct(col("h")).as("nh"))
      .selectExpr(
        "stack(7, " +
          "'n_docs', d, " +
          "'n_tokens', t, " +
          "'n_chars', ch, " +
          "'n_langs', nl, " +
          "'n_sources', ns, " +
          "'n_exact_dup_docs', d - nh, " +
          "'mean_doc_tokens', t div d) " +
          "AS (stat, value)")

  private val corpusCardSql =
    """WITH b AS (
      |  SELECT count(*) AS d,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t,
      |    CAST(sum(length(text)) AS BIGINT) AS ch,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS nl,
      |    CAST(count(DISTINCT source) AS BIGINT) AS ns,
      |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS nh
      |  FROM documents)
      |SELECT 'n_docs' AS stat, d AS value FROM b
      |UNION ALL SELECT 'n_tokens', t FROM b
      |UNION ALL SELECT 'n_chars', ch FROM b
      |UNION ALL SELECT 'n_langs', nl FROM b
      |UNION ALL SELECT 'n_sources', ns FROM b
      |UNION ALL SELECT 'n_exact_dup_docs', d - nh FROM b
      |UNION ALL SELECT 'mean_doc_tokens', t // d FROM b""".stripMargin

  // P17 `corpus_eval_holdout`: the EVAL-SET builder — exactly 20 docs
  // per language, selected by a salted content-independent hash order.
  // Every training run needs a frozen held-out set; the selection must
  // be (a) stratified so small languages are represented, (b) a pure
  // function of the data so reruns/engines/partitionings freeze the
  // SAME set, (c) sort-free at corpus scale. The deterministic
  // md5-derived rank rides the custom TopKPerKey heap operator (one
  // hash shuffle on lang, bounded 20-entry heaps — the full-order
  // window form would sort every language's slice); oracle = the
  // row_number() window over the identical hash.
  private def evalHoldout(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("lang"), col("doc_id"),
      expr("cast(conv(substr(md5(concat('holdout:', cast(doc_id as string))), 1, 15), 16, 10) as bigint)")
        .as("hid"))
    graft.plans.TopK.topKPerKey(base, 20, "lang", "hid", "doc_id")
      .select("lang", "doc_id", "hid")
  }

  private val evalHoldoutSql =
    """WITH b AS (
      |  SELECT lang, doc_id,
      |    CAST(list_sum(list_transform(range(0, 15), i ->
      |      (strpos('0123456789abcdef',
      |         substr(md5('holdout:' || CAST(doc_id AS VARCHAR)), 1 + CAST(i AS INT), 1)) - 1)
      |        * CAST(pow(16, 14 - i) AS BIGINT))) AS BIGINT) AS hid
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY hid DESC, doc_id) AS rn FROM b)
      |SELECT lang, doc_id, hid FROM r WHERE rn <= 20""".stripMargin

  // P18 `corpus_contamination_sweep`: the decontamination THRESHOLD
  // sweep — before committing to "contaminated means ≥ 5 shared
  // shingles", what does each candidate threshold cost in docs and
  // tokens? (D13 is this table for the dedup threshold; P1's gate
  // deserves the same audit.) One pass over P1's per-doc hit frame
  // joined to token counts; the five thresholds are CONDITIONAL SUMS
  // in a single hash-agg unpivoted with stack() — no threshold
  // explode of the corpus, no non-equi join (the es_watermark_sweep
  // pattern). Shares exact e4.
  private val contamSweepTs: Seq[Long] = Seq(1L, 2L, 5L, 10L, 20L)

  private def contaminationSweep(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .filter(col("doc_id") >= benchMax)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(contamination(s, d).select("doc_id", "n_shared").hint("shuffle_hash"),
        Seq("doc_id"))
    val sums = contamSweepTs.flatMap(t => Seq(
      sum(when(col("n_shared") >= t, 1L).otherwise(0L)).as(s"d_$t"),
      sum(when(col("n_shared") >= t, col("n_tok")).otherwise(0L)).as(s"t_$t")))
    val agg = base.agg(count(lit(1)).as("n_docs"), sums: _*)
    agg.select(col("n_docs"), explode(array(contamSweepTs.map(t =>
        struct(lit(t).as("threshold"), col(s"d_$t").as("n_docs_flagged"),
          col(s"t_$t").as("n_tokens_flagged"))): _*)).as("e"))
      .select(col("e.threshold").as("threshold"),
        col("e.n_docs_flagged").as("n_docs_flagged"),
        col("e.n_tokens_flagged").as("n_tokens_flagged"),
        col("n_docs"),
        expr("(10000 * e.n_docs_flagged) div n_docs").as("flagged_e4"))
  }

  private def contaminationSweepSql =
    s"""WITH $contaminationCtes,
       |base AS (
       |  SELECT d.doc_id,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       |    COALESCE(h.n_shared, 0) AS n_shared
       |  FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |  WHERE d.doc_id >= $benchMax),
       |t AS (SELECT unnest([${contamSweepTs.mkString(", ")}]) AS threshold)
       |SELECT CAST(t.threshold AS BIGINT) AS threshold,
       |  CAST(sum(CASE WHEN n_shared >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged,
       |  CAST(sum(CASE WHEN n_shared >= t.threshold THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_flagged,
       |  count(*) AS n_docs,
       |  CAST((10000 * sum(CASE WHEN n_shared >= t.threshold THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS flagged_e4
       |FROM base CROSS JOIN t GROUP BY 1""".stripMargin

  // P19 `corpus_deciles`: EXACT global quantile bucketing — every doc
  // labeled with its corpus-wide length decile (the curriculum /
  // quality-stratification input: "train on the top half by length",
  // "hold deciles 0-1 out for the short-doc eval"). The naive form is
  // ntile() over a GLOBAL sort of the corpus (one task, and
  // tie-ORDER-dependent so not even deterministic); here the corpus
  // collapses to the bounded token-count GRID in one map-side-partial
  // hash-agg, the cumulative cutoffs are windows over that tiny grid
  // (single-task by design, ≤ |distinct lengths| rows — the E24
  // bounded-grid pattern), and the verdict broadcasts back onto the
  // scan. A doc's decile is a pure function of its length — exact,
  // tie-stable, engine-neutral: decile = (10 · |docs strictly
  // shorter|) div N.
  /** (doc_id, n_tok) projection shared with the streaming twin. */
  private[graft] def docTok(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))

  /** Length grid → per-doc decile resolution, shared with the
    * streaming twin (which maintains the grid live and repaints the
    * verdicts per refresh over THIS same code path — structural
    * batch/stream parity). `grid` must be (n_tok, c) with one row per
    * distinct length. */
  private[graft] def decilesFromGrid(docs: DataFrame, grid: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.orderBy("n_tok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = grid
      .withColumn("below", sum(col("c")).over(wOrd) - col("c"))
      .withColumn("total", sum(col("c")).over(Window.partitionBy()))
      .select("n_tok", "below", "total")
    docs.join(broadcast(cuts), Seq("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        expr("(10 * below) div total").as("decile"))
  }

  private def corpusDeciles(s: SparkSession, d: String): DataFrame = {
    val docs = docTok(s, d)
    decilesFromGrid(docs, docs.groupBy("n_tok").agg(count(lit(1)).as("c")))
  }

  private[graft] val corpusDecilesSql =
    """WITH sdoc AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |g AS (SELECT n_tok, count(*) AS c FROM sdoc GROUP BY 1),
      |cuts AS (SELECT n_tok,
      |    CAST(SUM(c) OVER (ORDER BY n_tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS below,
      |    CAST(SUM(c) OVER () AS BIGINT) AS total
      |  FROM g)
      |SELECT d.doc_id, d.n_tok, (10 * below) // total AS decile
      |FROM sdoc d JOIN cuts USING (n_tok)""".stripMargin

  // P20 `corpus_domain_cap`: the per-domain document cap (the
  // Gopher/FineWeb mixing rule — no source may contribute more than k
  // docs), decided by a salted content-hash rank so the survivors are
  // a deterministic uniform sample WITHIN each source. Planned by the
  // custom TopKPerKey operator: one hash shuffle on source, bounded
  // k-entry heaps, zero sort — the window form (row_number per source)
  // sorts every source's full document list, and a hot domain at
  // 100 TB is exactly where that sort explodes. Same salted-hash
  // family as T5/T23; 'cap:' salt keeps the three samples independent.
  private def domainCap(s: SparkSession, d: String): DataFrame = {
    val k = 15
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr("cast(conv(substr(md5(concat('cap:', cast(doc_id as string))), 1, 15), 16, 10) as bigint)").as("h"))
      .withColumn("nh", -col("h"))
    graft.plans.TopK.topKPerKey(base, k, "source", "nh", "doc_id")
      .select("doc_id", "source", "h")
  }

  private val domainCapSql =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    CAST(list_sum(list_transform(range(0, 15), i ->
      |      (strpos('0123456789abcdef', substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1 + CAST(i AS INT), 1)) - 1)
      |        * CAST(pow(16, 14 - i) AS BIGINT))) AS BIGINT) AS h
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn FROM b)
      |SELECT doc_id, source, h FROM r WHERE rn <= 15""".stripMargin

  // P22 `corpus_delta`: the recrawl DIFF — every corpus refresh starts
  // by answering "what changed since the last snapshot" so downstream
  // passes (signatures, indexes, shards) process only the delta instead
  // of re-running the whole pipeline. Two snapshot READS (derived
  // deterministically from the one test table: the old crawl misses
  // doc_id%10==7, the new one misses %10==3 and re-edited every %5==0
  // doc) are diffed by CONTENT HASH on the stable doc key, emitting
  // only added/removed/changed rows — the E19 changelog contract
  // applied to the corpus. The join is a full-outer on the unique
  // uniform doc_id: sort-merge scales linearly, and at 100 TB both
  // snapshots live bucketed by doc_id (the BucketedJoinSpec
  // counterfactual) so the diff runs shuffle-free — the plan property
  // that makes DAILY recrawl diffs affordable. unchanged rows (the
  // overwhelming mass) are filtered before anything leaves the join.
  private def corpusDelta(s: SparkSession, d: String): DataFrame = {
    val old = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), md5(col("text")).as("old_h"))
    val neu = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"), md5(
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("new_h"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .filter(col("old_h").isNull || col("new_h").isNull ||
        col("old_h") =!= col("new_h"))
      .select(col("doc_id"),
        when(col("old_h").isNull, "added")
          .when(col("new_h").isNull, "removed")
          .otherwise("changed").as("status"),
        col("old_h"), col("new_h"))
  }

  private val corpusDeltaSql =
    """WITH old AS (
      |  SELECT doc_id, md5(text) AS old_h FROM documents WHERE doc_id % 10 != 7),
      |neu AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS new_h
      |  FROM documents WHERE doc_id % 10 != 3)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       ELSE 'changed' END AS status,
      |  o.old_h, n.new_h
      |FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
      |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.old_h <> n.new_h""".stripMargin

  // P23 `corpus_compaction_plan`: the small-files maintenance pass —
  // a long-running ingest leaves each source's shard directory littered
  // with files far below the scan-efficient target (the classic lake
  // pathology: a 100 TB corpus in 10 MB files is 10^7 open/seek costs
  // per scan and a planner with 10^7 splits). The planner reads the
  // FILE MANIFEST (here derived: one "file" per (source, doc_id%64)
  // with its exact byte mass), orders each source's files
  // size-DESCENDING (first-fit-decreasing — big files anchor bins,
  // small ones fill them), and assigns out_file = exclusive-prefix-sum
  // div target: the deterministic, engine-neutral form of greedy
  // packing, window-expressible because the cumulative sum IS the bin
  // state. The corpus collapses to the bounded manifest grid in ONE
  // map-side-partial hash-agg; every window partitions by source, so
  // no single-task global sort exists at any scale (the P19 grid
  // discipline — the window input is |sources|·64 rows, not the
  // corpus).
  private val compactTarget = 2000L // target output-file bytes

  private def compactionPlan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val manifest = Tables.documents(s, d)
      .groupBy(col("source"), (col("doc_id") % 64).as("part"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    val w = Window.partitionBy("source").orderBy(col("bytes").desc, col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest
      .withColumn("before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .select(col("source"), col("part"), col("n_docs"), col("bytes"),
        expr(s"before div $compactTarget").as("out_file"))
  }

  private val compactionPlanSql =
    s"""WITH m AS (
       |  SELECT source, doc_id % 64 AS part, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS bytes
       |  FROM documents GROUP BY 1, 2)
       |SELECT source, part, n_docs, bytes,
       |  COALESCE(CAST(sum(bytes) OVER (
       |    PARTITION BY source ORDER BY bytes DESC, part
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |    // $compactTarget AS out_file
       |FROM m""".stripMargin

  // P28 `corpus_compaction_exec`: P23's plan EXECUTED (r13 verdict
  // item 4 — the planner existed, nothing physically rewrote the
  // files; this completes OPTIMIZE end-to-end the way R29 completed
  // layout). The corpus is rewritten into exactly the planned bins —
  // one physical parquet file per (source, out_file) — and the op
  // emits the rewrite's ACCEPTANCE report per source, every cell
  // computed from what actually landed on disk:
  //   n_files  — PHYSICAL file count (FS listing, bounded metadata:
  //              |planned bins| entries), which the oracle pins equal
  //              to P23's planned bin count — a bin split across two
  //              files or two bins merged into one both hash-mismatch;
  //   n_docs   — row count of the read-back corpus;
  //   doc_xor  — order-insensitive content fingerprint (bit_xor of
  //              md5-derived int64 over EVERY column), which the
  //              oracle recomputes from the ORIGINAL table — a
  //              dropped, duplicated, or mutated document flips it.
  // Scale shape: the plan is the bounded manifest grid (broadcast);
  // the rewrite is ONE corpus scan + one shuffle on (source, out_file)
  // — count-pinned-by-hash so each bin lands whole in one task ⇒ one
  // file (AQE coalescing merges whole partitions, never splits one);
  // the acceptance scan reads the rewritten corpus once. The rewrite
  // is persisted capital (a pure function of the dataset — the
  // D20/S2 discipline), so bench reps measure the acceptance scan.
  private def compactionExec(s: SparkSession, d: String): DataFrame = {
    val outDir = s"${Tables.workDir(s)}/compact_exec_" + Tables.datasetTag(d)
    Tables.buildOnce(outDir, Seq("source", "out_file")) {
      val plan = compactionPlan(s, d).select("source", "part", "out_file")
      Tables.documents(s, d)
        .withColumn("part", col("doc_id") % 64)
        .join(broadcast(plan), Seq("source", "part"))
        .drop("part")
        .repartition(col("source"), col("out_file"))
    }
    // physical file census off the FS listing — the same bounded
    // metadata read dirBytes does (Tables.listDataFiles: plain java.io
    // walk on local paths; Hadoop's ChecksumFileSystem recursive
    // listing measured 4.4-6.8 s for these 320 files on this host,
    // the dominant term of the op's warm rep); partition values here
    // are plain source names (no URL-escaping in play)
    val perSource = Tables.listDataFiles(s, outDir)
      .map(_._1).filter(_.endsWith(".parquet"))
      .map(p => p.split("/source=")(1).split("/")(0))
      .groupBy(identity).map { case (src, ps) => (src, ps.size.toLong) }
      .toSeq
    import s.implicits._
    val files = broadcast(perSource.toDF("source", "n_files"))
    Tables.read(s, outDir)
      .withColumn("env", concat_ws("|", col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(cast(conv(substring(md5(env), 1, 15), 16, 10) as bigint))")
          .as("doc_xor"))
      .join(files, Seq("source"))
      .select("source", "n_files", "n_docs", "doc_xor")
  }

  private val compactionExecSql =
    s"""WITH m AS (
       |  SELECT source, doc_id % 64 AS part, CAST(sum(n_chars) AS BIGINT) AS bytes
       |  FROM documents GROUP BY 1, 2),
       |p AS (
       |  SELECT source,
       |    COALESCE(CAST(sum(bytes) OVER (
       |      PARTITION BY source ORDER BY bytes DESC, part
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      // $compactTarget AS out_file
       |  FROM m),
       |f AS (SELECT source, count(DISTINCT out_file) AS n_files FROM p GROUP BY 1),
       |x AS (
       |  SELECT source, count(*) AS n_docs,
       |    bit_xor(CAST(list_sum(list_transform(range(1, 16), i ->
       |      (strpos('0123456789abcdef', substr(md5(env), CAST(i AS INT), 1)) - 1)
       |        * CAST(pow(16.0, 15 - i) AS BIGINT))) AS BIGINT)) AS doc_xor
       |  FROM (
       |    SELECT source, doc_id || '|' || lang || '|' || source || '|'
       |      || n_chars || '|' || text AS env
       |    FROM documents)
       |  GROUP BY 1)
       |SELECT x.source, f.n_files, x.n_docs, x.doc_xor
       |FROM x JOIN f ON x.source = f.source""".stripMargin

  // P24 `corpus_maintenance_report`: the day-2 OPERATIONS report the
  // lake-maintenance tier was built for — one oracle-checked op that
  // runs the whole trio over the SAME recrawl and reconciles it into
  // the numbers an operator signs off before promoting the refresh:
  //   stage 1  P22 delta        → added/removed/changed counts;
  //   stage 2  D20 index        → maintained digest-index size + ndv
  //                               (composes the REAL maintained index,
  //                               persisted capital and all — not a
  //                               recomputation);
  //   stage 3  P23 compaction   → the post-refresh small-files plan
  //                               (manifest parts, planned output
  //                               files, byte mass) over the NEW
  //                               snapshot (changed docs carry their
  //                               +5-char ' rev2' mass);
  //   stage 4  R30-style stats  → new-snapshot rows + source/lang ndv.
  // Every metric is an exact integer, so the whole report
  // hash-compares against a from-scratch DuckDB evaluation; the
  // reconciliation LAWS between stages (index_docs == stats_rows;
  // stats_rows == old_rows − removed + added) are spec-pinned — the
  // funnel-style audit that catches a maintenance pass dropping or
  // double-counting rows. Plan shape: four independent bounded
  // aggregates (each the underlying operator's own scale-certified
  // shape) unioned as one-row frames — no new corpus-sized joins.
  private def maintenanceReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deltaCounts = corpusDelta(s, d)
      .groupBy("status").agg(count(lit(1)).as("value"))
      .select(concat(lit("delta_"), col("status")).as("metric"), col("value"))
    val oldRows = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7)
      .agg(count(lit(1)).as("v"))
      .selectExpr("'old_rows' AS metric", "v AS value")
    val idx = graft.functions.Dedup.indexMaintain(s, d)
      .agg(sum(col("n_docs")).as("docs"), count(lit(1)).as("dig"))
      .selectExpr(
        "stack(2, 'index_docs', docs, 'index_digests', dig) AS (metric, value)")
    // the NEW snapshot: %10==3 removed; changed docs' text grew ' rev2'
    val neu = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 3)
      .select(col("source"), col("lang"), (col("doc_id") % 64).as("part"),
        (col("n_chars") +
          when(col("doc_id") % 5 === 0, 5L).otherwise(0L)).as("bytes"))
    val manifest = neu.groupBy("source", "part")
      .agg(sum(col("bytes")).as("bytes"))
    val w = Window.partitionBy("source").orderBy(col("bytes").desc, col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val plan = manifest
      .withColumn("before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("out_file", expr(s"before div $compactTarget"))
    // count ACTUAL planned files, not id space: out_file ids can
    // legitimately skip when one (source, part) mass exceeds the
    // target (the r13 relaxation), so sum(max_id + 1) would overcount
    // (the r12 advice finding)
    val compactFiles = plan.select("source", "out_file").distinct()
      .agg(count(lit(1)).as("files"))
      .selectExpr("'compact_out_files' AS metric", "files AS value")
    val compactMass = plan
      .agg(count(lit(1)).as("parts"), sum(col("bytes")).as("bytes"))
      .selectExpr(
        "stack(2, 'compact_parts', parts, 'compact_bytes', bytes) AS (metric, value)")
    val stats = neu.agg(count(lit(1)).as("rows"),
        countDistinct(col("source")).as("srcs"),
        countDistinct(col("lang")).as("langs"))
      .selectExpr("stack(3, 'stats_rows', rows, 'stats_sources', srcs, " +
        "'stats_langs', langs) AS (metric, value)")
    Seq(deltaCounts, oldRows, idx, compactFiles, compactMass, stats)
      .reduce(_ unionByName _)
  }

  private val maintenanceReportSql =
    s"""WITH old AS (
       |  SELECT doc_id, md5(text) AS old_h FROM documents WHERE doc_id % 10 != 7),
       |neu AS (
       |  SELECT doc_id, source, lang, doc_id % 64 AS part,
       |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS new_h,
       |    n_chars + CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END AS bytes
       |  FROM documents WHERE doc_id % 10 != 3),
       |delta AS (
       |  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
       |              WHEN n.doc_id IS NULL THEN 'removed'
       |              ELSE 'changed' END AS status
       |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
       |  WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.old_h <> n.new_h),
       |idx AS (SELECT new_h, count(*) AS n_docs FROM neu GROUP BY 1),
       |m AS (SELECT source, part, CAST(sum(bytes) AS BIGINT) AS bytes
       |      FROM neu GROUP BY 1, 2),
       |plan AS (
       |  SELECT source, part, bytes,
       |    COALESCE(CAST(sum(bytes) OVER (
       |      PARTITION BY source ORDER BY bytes DESC, part
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      // $compactTarget AS out_file
       |  FROM m)
       |SELECT 'delta_' || status AS metric, count(*) AS value FROM delta GROUP BY 1
       |UNION ALL SELECT 'old_rows', count(*) FROM old
       |UNION ALL SELECT 'index_docs', CAST(sum(n_docs) AS BIGINT) FROM idx
       |UNION ALL SELECT 'index_digests', count(*) FROM idx
       |UNION ALL SELECT 'compact_out_files', count(*)
       |  FROM (SELECT DISTINCT source, out_file FROM plan)
       |UNION ALL SELECT 'compact_parts', count(*) FROM plan
       |UNION ALL SELECT 'compact_bytes', CAST(sum(bytes) AS BIGINT) FROM plan
       |UNION ALL SELECT 'stats_rows', count(*) FROM neu
       |UNION ALL SELECT 'stats_sources', count(DISTINCT source) FROM neu
       |UNION ALL SELECT 'stats_langs', count(DISTINCT lang) FROM neu""".stripMargin

  // P25 `corpus_chunk`: fixed-window CHUNKING with overlap — the
  // context-window shaper every pretraining/RAG pipeline runs between
  // cleaning and packing (docs → 64-token windows at stride 48, so
  // consecutive chunks share a 16-token overlap and no token is lost
  // at a boundary). The chunk PLAN is pure integer arithmetic on the
  // token count: starts = k·48 for k = 0..max(0, (n−17) div 48) — a
  // tail start with ≤ 16 tokens left (n − k·48 ≤ overlap) is WHOLLY
  // inside the previous 64-token window, so emitting it would mint
  // fully-redundant short chunks that trivially collide across
  // documents and pollute D22's boilerplate rows (the r12 advice
  // finding); the last kept window still reaches n (48K + 64 ≥ n by
  // construction), so coverage stays total. Evaluated in-scan:
  // posexplode over the start sequence, `slice` on the split token
  // array, one md5 per chunk —
  // no shuffle anywhere, the op is embarrassingly parallel at any
  // corpus size (the explode's expansion is ≤ n/48 + 1 per doc,
  // LINEAR in the input, so per the round-12 rule it does NOT get a
  // corpus repartition). Chunk ids are (doc_id, k) — stable under
  // recrawl deltas, so downstream dedup/packing keys survive a
  // refresh. Every column is exact (counts, md5) ⇒ hash-compared.
  private val chunkSize = 64
  private val chunkStride = 48

  // private[graft]: D22 chunk-level dedup groups exactly these windows
  private[graft] def corpusChunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("n"),
        // greatest guards the short-doc case on BOTH engines the same
        // way (n ≤ 16): Spark `div` truncates toward zero, DuckDB `//`
        // floors — they disagree on negative operands, greatest(0, ·)
        // makes the disagreement unreachable
        posexplode(expr(
          s"sequence(0L, greatest(0L, (n - 1 - ${chunkSize - chunkStride}) div $chunkStride))")))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        (col("pos") * chunkStride.toLong).as("start_tok"),
        least(lit(chunkSize.toLong),
          col("n") - col("pos") * chunkStride.toLong).as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), col("pos") * chunkStride + 1, lit(chunkSize))))
          .as("h"))

  private[graft] val corpusChunkSql =
    s"""WITH b AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(0, greatest(0, (n - 1 - ${chunkSize - chunkStride}) // $chunkStride) + 1)) AS pos
       |  FROM b)
       |SELECT doc_id, CAST(pos AS BIGINT) AS chunk_id,
       |  pos * $chunkStride AS start_tok,
       |  least($chunkSize, n - pos * $chunkStride) AS n_tok,
       |  md5(array_to_string(list_slice(toks, CAST(pos * $chunkStride + 1 AS BIGINT),
       |    CAST(pos * $chunkStride + $chunkSize AS BIGINT)), ' ')) AS h
       |FROM c""".stripMargin

  // P26 `corpus_strip`: the chunk-granular boilerplate STRIP pass D22's
  // shared windows exist for — the P25→D22→strip loop closed. A token
  // is dropped iff ANY duplicated window covers it EXCEPT in the
  // window's canonical occurrence (lexicographically least
  // (doc_id, chunk_id) — D22's canon), so exactly one copy of every
  // shared span survives corpus-wide: headers/license blocks/nav
  // chrome collapse to their first sighting, unique prose is
  // untouched. Union-of-intervals semantics: overlapping dup windows
  // merge through array_distinct of their covered positions, computed
  // INSIDE the per-doc aggregate (ranges enter as ≤64-element
  // sequences; no row explosion). Per doc the op emits the exact
  // token ledger (n_tok_orig = n_kept + n_dropped — the conservation
  // law, spec-pinned corpus-wide) and the md5 of the cleaned text, so
  // the driver hash-compare pins the REWRITE itself, not just counts.
  // Scale shape: chunks stream zero-shuffle off the scan; the dup
  // windows are one hash-agg (D22) + one shuffle join on h; the
  // per-doc drop list is one hash-agg on doc_id over DUP rows only;
  // the final LEFT join attaches the (typically sparse) drop lists to
  // the corpus with a shuffle-hash build on the aggregated side (the
  // E19/R17/D10 rule) — the corpus itself is scanned once and never
  // sorted. Token filtering is O(tokens × dup-windows-in-doc) with
  // doc-bounded operands, in-scan.
  /** (doc_id, lang, toks, dp) — every document with its (possibly empty)
    * drop-position set attached by the cheapest licensed tier. The
    * per-doc drop lists are persisted CAPITAL (a pure function of the
    * data — the D20/S2 index discipline), and their re-attach to the
    * corpus is gated by MEASURED size (the bandProfile discipline):
    * the naive doc_id shuffle-join dragged the FULL CORPUS TEXT
    * across the wire for a sliver of affected docs (measured at
    * sf100: 3.2 GB shuffle / 30.7 s for 533 k dup occurrences over
    * 5 M docs). Tiers, cheapest first:
    *   (a) total drop positions fit a broadcast → ONE broadcast left
    *       join, the text NEVER shuffles;
    *   (b) else if the affected doc-id KEY SET fits a broadcast →
    *       SPLIT the corpus in-scan (broadcast semi/anti on doc_id):
    *       untouched docs pass straight through the scan with an
    *       empty drop set, only AFFECTED docs' text rides the
    *       drop-list shuffle-hash join (sf100: ~11 % of the corpus);
    *   (c) adversarial corpora (boilerplate at corpus scale) fall
    *       back to the full shuffle form.
    * Shared by P26 (the ledger + rewrite) and P27 (the post-strip
    * acceptance re-scan). */
  /** Join strategy for the drop-list attach in tiers (b)/(c): the
    * hash-build gate over the SAME byte estimate the broadcast gate
    * uses — a corpus-scaled drop set blows the per-task hash relation
    * under full core occupancy (MEASURED on the adversarial probe,
    * scale/strip_adversarial_r16.json: 4 M drop lists × 112 positions
    * ≈ 3.7 GB build ⇒ ~116 MB/task ⇒ "Can't acquire 134217728 bytes"
    * hash-relation abort at 5 M docs) and must sort-merge instead.
    * Pure so Round16Spec pins the law beside `Sizing.stripTier`'s. */
  private[graft] def stripAttachHint(
      nDupDocs: Long, nPos: Long, shufflePartitions: Int): String =
    Sizing.hashBuildHint(Sizing.stripBytes(nDupDocs, nPos), shufflePartitions)

  private def stripBase(s: SparkSession, d: String): DataFrame = {
    val dropPath = s"${Tables.workDir(s)}/strip_drop_" + Tables.datasetTag(d)
    Tables.buildOnce(dropPath) {
      // one-time build: dup occurrences = chunks ⋈ shared windows; the
      // shared side is an aggregated digest set (15 k rows at sf100) —
      // let the planner broadcast it from its own stats
      val dups = corpusChunk(s, d)
        .join(graft.functions.Dedup.dedupChunks(s, d), Seq("h"))
        .filter(!(col("doc_id") === col("canon_doc") &&
          col("chunk_id") === col("canon_chunk")))
      dups.groupBy("doc_id")
        .agg(array_sort(array_distinct(flatten(collect_list(
          sequence(col("start_tok"), col("start_tok") + col("n_tok") - 1)))))
          .as("drop_pos"))
    }
    val droppedP = Tables.read(s, dropPath)
    val prof = droppedP.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("drop_pos")).cast("long")), lit(0L)).as("n_pos"))
      .head()
    val (nDupDocs, nPos) = (prof.getLong(0), prof.getLong(1))
    val tier = Sizing.stripTier(nDupDocs, nPos)
    val attachHint = stripAttachHint(nDupDocs, nPos,
      s.sessionState.conf.numShufflePartitions)
    val docsT = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    def withDp(df: DataFrame): DataFrame = df
      .withColumn("dp", coalesce(col("drop_pos"),
        expr("CAST(array() AS ARRAY<BIGINT>)")))
      .select("doc_id", "lang", "toks", "dp")
    if (tier == 0)
      withDp(docsT.join(broadcast(droppedP), Seq("doc_id"), "left"))
    else if (tier == 1) {
      val keys = broadcast(droppedP.select("doc_id"))
      val untouched = docsT.join(keys, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("toks"),
          expr("CAST(array() AS ARRAY<BIGINT>)").as("dp"))
      val affected = withDp(docsT.join(keys, Seq("doc_id"))
        .join(droppedP.hint(attachHint), Seq("doc_id"), "left"))
      untouched.unionByName(affected)
    } else
      withDp(docsT.join(droppedP.hint(attachHint), Seq("doc_id"), "left"))
  }

  // Spark's filter lambda index is 0-based int; positions are 0-based
  // longs
  private val cleanToksExpr =
    "filter(toks, (x, i) -> NOT array_contains(dp, CAST(i AS BIGINT)))"

  private def corpusStrip(s: SparkSession, d: String): DataFrame =
    stripBase(s, d).select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tok_orig"),
      size(col("dp")).cast("long").as("n_dropped"),
      (size(col("toks")) - size(col("dp"))).cast("long").as("n_kept"),
      md5(concat_ws(" ", expr(cleanToksExpr))).as("clean_h"))

  // def, not val: the CTEs interpolate corpusChunkSql and the strip
  // SQLs are referenced from ops — a val here would be an init-order
  // trap if another object's val ever pulls it (the CLAUDE.md
  // null-embed rule)
  private def stripCtes: String =
    s"""chunks AS ($corpusChunkSql),
       |shr AS (
       |  SELECT h,
       |    CAST(min(CAST(doc_id AS HUGEINT) * 1000000000 + chunk_id) // 1000000000 AS BIGINT) AS canon_doc,
       |    CAST(min(CAST(doc_id AS HUGEINT) * 1000000000 + chunk_id) % 1000000000 AS BIGINT) AS canon_chunk
       |  FROM chunks GROUP BY 1 HAVING count(*) >= 2),
       |dups AS (
       |  SELECT c.doc_id, c.start_tok, c.n_tok
       |  FROM chunks c JOIN shr s ON c.h = s.h
       |  WHERE NOT (c.doc_id = s.canon_doc AND c.chunk_id = s.canon_chunk)),
       |dp AS (
       |  SELECT doc_id, list_sort(list_distinct(flatten(
       |    list(range(start_tok, start_tok + n_tok))))) AS drop_pos
       |  FROM dups GROUP BY 1),
       |b AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)""".stripMargin

  private def corpusStripSql: String =
    s"""WITH $stripCtes
       |SELECT b.doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tok_orig,
       |  CAST(COALESCE(len(drop_pos), 0) AS BIGINT) AS n_dropped,
       |  CAST(len(toks) - COALESCE(len(drop_pos), 0) AS BIGINT) AS n_kept,
       |  md5(array_to_string(list_filter(toks,
       |    (x, i) -> NOT list_contains(COALESCE(drop_pos, []), i - 1)), ' ')) AS clean_h
       |FROM b LEFT JOIN dp ON b.doc_id = dp.doc_id""".stripMargin

  // P27 `corpus_strip_verify`: the ACCEPTANCE re-scan the strip pass is
  // signed off on — re-run the chunk-granularity dup census (P25's
  // window plan + D22's digest grid) over the CLEANED corpus and emit
  // it beside the original's: one 2-row report (side, n_chunks,
  // n_shared, n_dup_occ). The law a strip must satisfy — duplicated
  // window MASS collapses (exactly one copy of each shared span
  // survives, modulo windows re-aligned by the removal) — becomes a
  // driver hash-compare plus a spec-pinned strict decrease. Documents
  // stripped to zero tokens drop out of the census on BOTH sides
  // (an empty window is not boilerplate). Scale shape: two chunk
  // streams (original + cleaned, both zero-shuffle in-scan), one
  // bounded digest hash-agg each — the strip machinery itself rides
  // the persisted drop-list capital.
  private def chunkCensus(tag: String, docs: DataFrame): DataFrame =
    docs.filter(size(col("toks2")) > 0)
      .withColumn("n", size(col("toks2")).cast("long"))
      .select(col("toks2"), col("n"),
        posexplode(expr(
          s"sequence(0L, greatest(0L, (n - 1 - ${chunkSize - chunkStride}) div $chunkStride))")))
      .select(md5(concat_ws(" ",
        slice(col("toks2"), col("pos") * chunkStride + 1, lit(chunkSize)))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_chunks"),
        coalesce(sum(when(col("cnt") >= 2, 1L)), lit(0L)).as("n_shared"),
        coalesce(sum(when(col("cnt") >= 2, col("cnt") - 1L)), lit(0L)).as("n_dup_occ"))
      .select(lit(tag).as("side"), col("n_chunks"), col("n_shared"), col("n_dup_occ"))

  private def corpusStripVerify(s: SparkSession, d: String): DataFrame = {
    val before = chunkCensus("before", Tables.documents(s, d)
      .select(split(col("text"), " ").as("toks2")))
    val after = chunkCensus("after", stripBase(s, d)
      .select(expr(cleanToksExpr).as("toks2")))
    before.unionByName(after)
  }

  private def stripCensusSql(tag: String, cte: String): String =
    s"""SELECT '$tag' AS side,
       |  CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS n_chunks,
       |  CAST(COALESCE(sum(CASE WHEN cnt >= 2 THEN 1 END), 0) AS BIGINT) AS n_shared,
       |  CAST(COALESCE(sum(CASE WHEN cnt >= 2 THEN cnt - 1 END), 0) AS BIGINT) AS n_dup_occ
       |FROM (
       |  SELECT md5(array_to_string(list_slice(toks2,
       |      CAST(pos * $chunkStride + 1 AS BIGINT),
       |      CAST(pos * $chunkStride + $chunkSize AS BIGINT)), ' ')) AS h,
       |    count(*) AS cnt
       |  FROM (
       |    SELECT toks2,
       |      unnest(range(0, greatest(0, (n - 1 - ${chunkSize - chunkStride}) // $chunkStride) + 1)) AS pos
       |    FROM (SELECT toks2, CAST(len(toks2) AS BIGINT) AS n FROM $cte
       |          WHERE len(toks2) > 0))
       |  GROUP BY 1)""".stripMargin

  private def corpusStripVerifySql: String =
    s"""WITH $stripCtes,
       |cleaned AS (
       |  SELECT list_filter(toks,
       |    (x, i) -> NOT list_contains(COALESCE(drop_pos, []), i - 1)) AS toks2
       |  FROM b LEFT JOIN dp ON b.doc_id = dp.doc_id),
       |orig AS (SELECT toks AS toks2 FROM b)
       |${stripCensusSql("before", "orig")}
       |UNION ALL
       |${stripCensusSql("after", "cleaned")}""".stripMargin

  // P29 `corpus_strip_pack`: the strip's DOWNSTREAM CONSUMER (r13
  // verdict item 6) — the cleaned corpus fed through P6's
  // pack-and-chunk, so the strip ledger provably reconciles with what
  // a training job would actually read: sum(n_span) over this segment
  // index == sum(n_kept) over P26's ledger, corpus-wide and per
  // language (the Round16Spec reconciliation law). Same segment
  // semantics as P6 (fixed 512-token sequences, docs span boundaries)
  // over CLEANED token counts; documents stripped to zero tokens
  // occupy no segment and drop out (their n_kept is 0, so the ledger
  // law still balances). Scale shape: stripBase's one corpus scan +
  // the two-phase range-bucketed prefix (no single-task per-lang
  // sort), then O(segments) explode — no new corpus-sized joins.
  private def corpusStripPack(s: SparkSession, d: String): DataFrame = {
    val cleaned = stripBase(s, d).select(col("doc_id"), col("lang"),
      (size(col("toks")) - size(col("dp"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
    prefixedOver(cleaned)
      .withColumn("seq_id", explode(expr(
        s"sequence(before div $seqTokens, (before + n_tok - 1) div $seqTokens)")))
      .select(col("lang"), col("seq_id"), col("doc_id"),
        greatest(lit(0L), col("seq_id") * seqTokens - col("before")).as("doc_from"),
        least(col("n_tok"), (col("seq_id") + 1L) * seqTokens - col("before")).as("doc_to"),
        greatest(lit(0L), col("before") - col("seq_id") * seqTokens).as("seq_from"))
      .withColumn("n_span", col("doc_to") - col("doc_from"))
  }

  private def corpusStripPackSql: String =
    s"""WITH $stripCtes,
       |cl AS (
       |  SELECT b.doc_id, b.lang,
       |    CAST(len(toks) - COALESCE(len(drop_pos), 0) AS BIGINT) AS n_tok
       |  FROM b LEFT JOIN dp ON b.doc_id = dp.doc_id),
       |pp AS (
       |  SELECT doc_id, lang, n_tok,
       |    COALESCE(CAST(sum(n_tok) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before
       |  FROM cl WHERE n_tok > 0),
       |e AS (
       |  SELECT lang, doc_id, n_tok, before,
       |    unnest(range(before // $seqTokens, (before + n_tok - 1) // $seqTokens + 1)) AS seq_id
       |  FROM pp)
       |SELECT lang, seq_id, doc_id,
       |  greatest(0, seq_id * $seqTokens - before) AS doc_from,
       |  least(n_tok, (seq_id + 1) * $seqTokens - before) AS doc_to,
       |  greatest(0, before - seq_id * $seqTokens) AS seq_from,
       |  least(n_tok, (seq_id + 1) * $seqTokens - before)
       |    - greatest(0, seq_id * $seqTokens - before) AS n_span
       |FROM e""".stripMargin

  override def ops: Seq[Op] = Seq(
    Op("corpus_strip", corpusStrip, Some(corpusStripSql)),
    Op("corpus_strip_pack", corpusStripPack, Some(corpusStripPackSql)),
    Op("corpus_strip_verify", corpusStripVerify, Some(corpusStripVerifySql)),
    Op("corpus_chunk", corpusChunk, Some(corpusChunkSql)),
    Op("corpus_maintenance_report", maintenanceReport, Some(maintenanceReportSql)),
    Op("corpus_delta", corpusDelta, Some(corpusDeltaSql)),
    Op("corpus_compaction_plan", compactionPlan, Some(compactionPlanSql)),
    Op("corpus_compaction_exec", compactionExec, Some(compactionExecSql)),
    Op("corpus_deciles", corpusDeciles, Some(corpusDecilesSql)),
    Op("corpus_domain_cap", domainCap, Some(domainCapSql)),
    Op("corpus_contamination_sweep", contaminationSweep, Some(contaminationSweepSql)),
    Op("corpus_eval_holdout", evalHoldout, Some(evalHoldoutSql)),
    Op("corpus_card", corpusCard, Some(corpusCardSql)),
    Op("corpus_token_budget", corpusTokenBudget, Some(corpusTokenBudgetSql)),
    Op("source_quality", sourceQuality, Some(sourceQualitySql)),
    Op("decontaminate", contamination, Some(decontaminateSql)),
    Op("decontaminate_report", contaminationReport, Some(contaminationReportSql)),
    Op("benchmark_leakage", benchmarkLeakage, Some(benchmarkLeakageSql)),
    Op("corpus_export", corpusExport, Some(corpusExportSql)),
    Op("corpus_funnel", corpusFunnel, Some(corpusFunnelSql)),
    Op("corpus_shard", corpusShard, Some(corpusShardSql)),
    Op("corpus_manifest", corpusManifest, Some(corpusManifestSql)),
    Op("corpus_interleave", corpusInterleave, Some(corpusInterleaveSql)),
    Op("corpus_pack", corpusPack, Some(corpusPackSql)),
    Op("corpus_split", corpusSplit, Some(corpusSplitSql)),
    Op("corpus_mix", corpusMix, Some(corpusMixSql)),
    Op("corpus_upsample", corpusUpsample, Some(corpusUpsampleSql)),
    Op("corpus_filter", corpusFilter, Some(corpusFilterSql)))
}
