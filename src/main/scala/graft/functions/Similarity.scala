package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, OpFamily, Sizing}
import graft.sources.Tables

/** Similarity search over embedding columns (north-star addition).
  *
  * All vector math is fixed-point: components are quantized to int64
  * thousandths, so dot products and norms are exact integers — results
  * are bit-identical across engines, summation orders, and partitioning
  * (a deliberate choice for cross-engine verifiability; see SURVEY §5).
  *
  * S1 is the brute-force baseline (broadcast the small query set, scan
  * the corpus once). S2 is the scale path: random-hyperplane LSH with
  * integer-arithmetic planes derived from (plane, dim) index hashing —
  * the corpus partitions by bucket and each probe touches one bucket.
  */
object Similarity extends OpFamily {

  /** float embedding → int64 thousandths. */
  def quantize(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(1000), 0).cast("long"))

  def quantizeSql(c: String): String =
    s"list_transform($c, x -> CAST(round(CAST(x AS DOUBLE)*1000, 0) AS BIGINT))"

  /** Exact int64 dot product — a custom codegen'd Catalyst expression
    * ([[graft.functions.expressions.LongDotProduct]]); the
    * `aggregate(zip_with(...))` composition is semantically identical
    * but interpreted and codegen-breaking. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(expressions.LongDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Σ v_i² (exact int64). */
  def sqNorm(v: Column): Column = dot(v, v)

  /** `array<bigint>` → 16-bit packed binary — the band-join wire
    * format ([[expressions.PackShorts]]): ~4× fewer shuffle bytes per
    * vector, dot products unchanged. Only valid when the dataset's
    * measured max|component| fits int16 (callers check their pack
    * profile; the kernel throws rather than truncate). */
  private[graft] def packShorts(v: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(expressions.PackShorts(ColumnBridge.expression(v)))
  }

  /** Exact int64 dot over two packed binaries — bit-identical to
    * [[dot]] over the unpacked arrays. */
  private[graft] def packedDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(expressions.PackedDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** cos(a,b) over packed vectors, exact int64 norms ride alongside. */
  private[graft] def cosinePacked(
      a: Column, b: Column, na: Column, nb: Column): Column =
    packedDot(a, b).cast("double") /
      sqrt(na.cast("double") * nb.cast("double"))

  /** Whether `df`'s quantized vector column `v` fits int16 lanes —
    * measured ONCE per (dataset, tag) and persisted as capital (the
    * bandProfile discipline: a pure function of the data must not be
    * re-measured per call). Empty or out-of-range data returns false
    * and callers keep the exact `array<bigint>` path. */
  private[graft] def packLicense(
      s: SparkSession, d: String, tag: String, df: => DataFrame): Boolean = {
    val path = s"${Tables.workDir(s)}/packmax_${tag}_" + Tables.datasetTag(d)
    Tables.buildOnce(path)(
      df.select(array_max(transform(col("v"), x => abs(x))).as("ma"))
        .agg(max(col("ma")).as("m")))
    val r = Tables.read(s, path).head()
    !r.isNullAt(0) && r.getLong(0) <= 32767L
  }

  def sqNormSql(v: String): String =
    s"CAST(list_sum(list_transform($v, x -> x * x)) AS BIGINT)"

  /** cos(a,b) = dot/(√(na·nb)) with exact int64 dot and norms. The
    * denominator multiplies the norms in DOUBLE, not int64: a
    * projected-lane norm (S15/S16 pnn) can reach ~6.6e10 for
    * non-unit-norm quantized vectors, so na*nb can exceed int64 and
    * throw under ANSI mode (the r13 advice finding). Each norm is
    * < 2^53, so its double image is exact and the IEEE multiply
    * rounds the exact product once — bit-identical to casting the
    * exact int64 product wherever that product fits, and never
    * overflowing where it doesn't. DuckDB mirrors the same algebra. */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b).cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  def cosineSql(a: String, b: String, na: String, nb: String): String =
    s"CAST(list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])) AS DOUBLE)" +
      s"/sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE))"

  /** Random-hyperplane LSH bucket (8 planes ⇒ 256 buckets). Plane
    * weights are small ints derived from the (plane, dim) index pair —
    * deterministic, engine-neutral, exact. Backed by the codegen'd
    * [[graft.functions.expressions.LshBucket]] kernel (one fused
    * integer loop; the compositional `aggregate(zip_with(...))` form is
    * interpreted and allocates per plane per row). */
  def lshBucket(v: Column): Column = lshBucket(v, 8, 0)

  /** Banded form: 2^planes buckets from band `band`'s disjoint plane
    * family. The plane count scales with the corpus (block size is
    * n/2^planes); OR-ing 2+ bands recovers the recall a single wider
    * band gives up. */
  def lshBucket(v: Column, planes: Int, band: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(expressions.LshBucket(ColumnBridge.expression(v), planes, band))
  }

  /** The compositional formula the kernel replaces — kept for the
    * equivalence spec. */
  private[graft] def lshBucketComposed(v: Column): Column =
    aggregate(sequence(lit(0L), lit(7L)), lit(0L), (acc, j) =>
      acc + when(
        aggregate(
          zip_with(v, sequence(lit(1L), lit(64L)),
            (x, dd) => x * ((j * lit(73856093L) + dd * lit(19349663L)) % 97 - 48)),
          lit(0L), (a, x) => a + x) >= 0,
        pow(lit(2.0), j).cast("long")).otherwise(lit(0L)))

  def lshBucketSql(v: String): String = lshBucketSql(v, 8, 0)

  def lshBucketSql(v: String, planes: Int, band: Int): String = {
    val base = band * planes
    s"CAST(list_sum(list_transform(range(0, $planes), j -> " +
      s"CASE WHEN list_sum(list_transform(range(1, 65), d -> " +
      s"$v[d] * ((($base + j)*73856093 + d*19349663) % 97 - 48))) >= 0 " +
      s"THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)) AS BIGINT)"
  }

  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nn", sqNorm(col("v")))

  private val quantizedCte =
    s"""q AS (SELECT vec_id, ${quantizeSql("embedding")} AS v FROM embeddings),
       |n AS (SELECT vec_id, v, ${sqNormSql("v")} AS nn FROM q)""".stripMargin

  // S1: brute-force cosine top-10 — queries (vec_id < 5) broadcast
  // against the corpus; one corpus scan, ranking window per query.
  private def cosineTopK(s: SparkSession, d: String): DataFrame = {
    // Same scale shape as knn_recall's ground truth (SCALE finding 14's
    // stacked lessons): cache the quantized corpus so the interpreted
    // quantize transform is not CollapseProject-inlined into the
    // expanding broadcast join; round-robin repartition the un-expanded
    // corpus (the join runs at parquet-SPLIT parallelism otherwise);
    // and rank via the TWO-PHASE TopK — the old row_number window
    // shuffled the entire |queries| × corpus score matrix into
    // |queries| tasks (5 keys: a hard skew ceiling at any corpus size).
    // The rn window afterwards orders ≤ 10·|queries| surviving rows.
    val all = quantized(s, d).cache()
    val queries = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn")))
    val corpus = all.filter(col("vec_id") >= 5)
      .repartition(s.sessionState.conf.numShufflePartitions)
    val scored = corpus.join(queries)
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    val top = graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(scored, 10, "q_id", "cos_sim", "vec_id"),
      10, "q_id", "cos_sim", "vec_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    top.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
  }

  private val cosineTopKSql =
    s"""WITH $quantizedCte,
       |x AS (
       |  SELECT q.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn FROM x)
       |SELECT q_id, vec_id, cos_sim, rn FROM r WHERE rn <= 10""".stripMargin

  /** Build-once ANN index layouts. A production ANN service never
    * re-derives buckets/cells/codes per query — the index is a persisted
    * table and the probe a pruned read (E12's snapshot pattern, X5's
    * index-row shape). Materialized once per (session, dataset) under
    * the scratch root; `parts` become PARTITION directories so a probe
    * joining on them prunes file listing to the probed buckets/cells
    * (dynamic partition pruning — spec-asserted). Partition columns are
    * written as INT: partition discovery reads them back as int, and a
    * probe key of the same type keeps the scan-side join key a bare
    * attribute — a cast there would defeat DPP. Built through
    * [[Tables.buildOnce]]: staged write + atomic rename behind a
    * per-path lock, so a concurrent caller blocks until the committed
    * index exists instead of racing a half-written path. */
  private def persistedIndex(s: SparkSession, d: String, name: String,
      parts: String*)(build: => DataFrame): DataFrame = {
    val path = s"${Tables.workDir(s)}/${name}_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path, parts)(build)
    Tables.read(s, path)
  }

  /** S1's brute-force ranking, persisted once per (session, dataset) —
    * the shared ground truth of every recall eval (S9, S13's probe
    * sweep, S17, S19). The exactJoinTruth/pairLabels capital
    * discipline: the truth is a pure function of the dataset, and each
    * eval invocation was re-running the full corpus×queries cosine
    * pass to rebuild the same ≤10·|queries| rows (ann_probe_sweep had
    * even grown an in-plan cache for it in r14 — now every consumer
    * reads 50 rows of parquet). The `cosine_topk` op itself still
    * computes brute force per invocation: that op IS the declared
    * exhaustive query. */
  private def annTruth(s: SparkSession, d: String): DataFrame =
    persistedIndex(s, d, "ann_truth")(cosineTopK(s, d))

  // S2: LSH-bucketed ANN — the bucket-partitioned index is built once;
  // a probe broadcast-joins its bucket and the scan prunes to the
  // probed bucket directories (1/256 of the corpus listed AND read).
  private def annLsh(s: SparkSession, d: String): DataFrame = {
    val all = quantized(s, d)
    val idx = persistedIndex(s, d, "lsh_idx", "bucket") {
      all.filter(col("vec_id") >= 5)
        .withColumn("bucket", lshBucket(col("v")).cast("int"))
    }
    val queries = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn"),
        lshBucket(col("v")).cast("int").as("bucket")))
    // two-phase TopK, not a |queries|-key window: the window form
    // shuffles every bucket-pruned candidate into one task per query —
    // a 5-task skew wall at any corpus size. Survivors (≤ 5·|Q| rows)
    // get their rn from a window that is now trivially small.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    val scored = idx.join(queries, Seq("bucket"))
      .select(col("q_id"), col("vec_id"), col("bucket").cast("long").as("bucket"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    graft.plans.TopK.topKPerKey(
        graft.plans.TopK.topKPerKeyLocal(scored, 5, "q_id", "cos_sim", "vec_id"),
        5, "q_id", "cos_sim", "vec_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
  }

  private val annLshSql =
    s"""WITH $quantizedCte,
       |bk AS (SELECT vec_id, v, nn, ${lshBucketSql("v")} AS bucket FROM n),
       |x AS (
       |  SELECT q.vec_id AS q_id, c.vec_id, q.bucket,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id < 5 AND c.vec_id >= 5),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn FROM x)
       |SELECT q_id, vec_id, bucket, cos_sim, rn FROM r WHERE rn <= 5""".stripMargin

  // S3: IVF — partition the corpus into k Voronoi cells around
  // deterministic sampled-k-means centroids ([[ivfCentroids]]); a probe
  // searches its `probes` nearest cells (probes/k of the corpus at
  // scale). All cell-assignment arithmetic is exact int64:
  // dist²(v,c) = |v|² + |c|² − 2·v·c.
  //
  // Corpus cell assignment is ONE TRUE hash aggregation: the
  // (dist2, cid) ordering packs into a single int64 (dist2·1024 + cid,
  // exact — dist2 ≤ 64·2000² ≈ 2.6e8 so the product stays far inside
  // int64), so the argmin is a plain `min` over a long — map-side
  // partial combine, fixed-width buffer, NO sort. (A `min_by` over a
  // struct LOOKS like the right call but its struct aggregation buffer
  // forces SortAggregate — a full sort of corpus×k; a row_number window
  // does the same. Verified via ExplainAudit.) The vector payload
  // re-attaches with a shuffled-hash join on vec_id — hash all the way
  // down.
  private val cellEnc = 1024L // packing base; supports k up to 1024

  /** IVF centroid init — sampled k-means-style, fully deterministic
    * and engine-neutral:
    *  1. multiplicative-hash sample of the corpus (uniform over ids —
    *     unlike the former "first k vectors", where adjacent ids can be
    *     correlated);
    *  2. k seeds = the k smallest-hash sample vectors (hash order ≈ a
    *     uniform random draw);
    *  3. one Lloyd refinement step over the sample: nearest-seed
    *     assignment via the same packed-min hash-agg the corpus
    *     assignment uses, then a per-cell per-dimension integer mean
    *     (round-half-away — identical in both engines).
    * k guidance: ≈√n cells balances probe work and cell size at ~√n
    * each. The sample is O(n/sampleMod) rows but the refinement output
    * is k vectors — driver-broadcastable at any corpus size (tune
    * sampleMod so the sample itself stays executor-friendly; the
    * single-task ranking window below runs on the SAMPLE, never the
    * corpus). */
  private[graft] def ivfCentroids(all: DataFrame, k: Int, sampleMod: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("h"), col("vec_id"))
    val sample = all
      .withColumn("h",
        pmod((col("vec_id") % lit(1000003L)) * lit(2654435761L), lit(1000000007L)))
      .filter(pmod(col("h"), lit(sampleMod)) === 0)
      .cache()
    val seeds = broadcast(sample
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select((col("rn") - 1).cast("long").as("cid"), col("v").as("cv"), col("nn").as("cnn")))
    val assign = sample.join(seeds)
      .select(col("vec_id"),
        ((col("nn") + col("cnn") - lit(2L) * dot(col("v"), col("cv"))) * lit(cellEnc)
          + col("cid")).as("pk"))
      .groupBy("vec_id").agg(min(col("pk")).as("pk"))
      .select(col("vec_id"), pmod(col("pk"), lit(cellEnc)).as("cid"))
    sample.join(assign, "vec_id")
      .select(col("cid"), posexplode(col("v")))
      .groupBy("cid", "pos")
      .agg(round(sum(col("col")).cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("m"))
      .groupBy("cid")
      .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
      .select(col("cid"),
        transform(array_sort(col("pm")), e => e.getField("m")).as("cv"))
      .withColumn("cnn", sqNorm(col("cv")))
  }

  private[graft] def ivf(s: SparkSession, d: String, k: Int, probes: Int): DataFrame = {
    require(k <= cellEnc, s"k=$k exceeds packing base $cellEnc")
    val all = quantized(s, d)
    // centroids AND the cell-partitioned corpus assignment are the
    // persisted index (built once); a probe reads its `probes` cell
    // directories only — partition pruning does the 1/k cut before a
    // single corpus byte is read
    val cent = broadcast(
      persistedIndex(s, d, s"ivf_cent_$k")(ivfCentroids(all, k, sampleMod = 4L)))
    val idx = persistedIndex(s, d, s"ivf_idx_$k", "cell") {
      val cellOf = all.join(cent)
        .select(col("vec_id"),
          ((col("nn") + col("cnn") - lit(2L) * dot(col("v"), col("cv"))) * lit(cellEnc)
            + col("cid")).as("pk"))
        .groupBy("vec_id").agg(min(col("pk")).as("pk"))
        .select(col("vec_id"), (col("pk") % lit(cellEnc)).cast("int").as("cell"))
      all.filter(col("vec_id") >= 5).join(cellOf.hint("shuffle_hash"), Seq("vec_id"))
        .select(col("vec_id"), col("v"), col("nn"), col("cell"))
    }
    val qcells = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn"))
      .join(cent)
      .select(col("q_id"), col("qv"), col("qnn"), col("cid"),
        (col("qnn") + col("cnn") - lit(2L) * dot(col("qv"), col("cv"))).as("dist2"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("dist2"), col("cid"))))
      .filter(col("rn") <= probes)
      .select(col("q_id"), col("qv"), col("qnn"), col("cid").cast("int").as("cell"))
    // two-phase TopK over the cell-probed candidates (same rationale
    // as annLsh — a |queries|-key window is a 5-task skew wall)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    val scored = idx.join(broadcast(qcells), Seq("cell"))
      .select(col("q_id"), col("vec_id"), col("cell").cast("long").as("cell"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    graft.plans.TopK.topKPerKey(
        graft.plans.TopK.topKPerKeyLocal(scored, 5, "q_id", "cos_sim", "vec_id"),
        5, "q_id", "cos_sim", "vec_id")
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= 5)
  }

  private def annIvf(s: SparkSession, d: String): DataFrame = ivf(s, d, 16, 1)

  // S6 `corpus_cluster`: the DATA-MIXING view of the same k-means —
  // cluster the whole embedding corpus into k domains and report each
  // cluster's size, share, and an exact membership signature (min id +
  // int64 norm sum pin WHICH vectors landed where, not just how many).
  // This is the report a mixture-balancing run (P4/P7) keys its rates
  // off when "language" is replaced by "embedding domain". Reuses the
  // persisted ivf_cent_16 centroids (one build serves ann_ivf AND this
  // op) and the same packed-min ONE-hash-agg assignment — corpus side
  // never sorts, centroid side broadcasts. share_e4 attaches via a
  // global window over the k-row aggregate (tiny by construction).
  private def corpusCluster(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val all = quantized(s, d)
    val cent = broadcast(
      persistedIndex(s, d, s"ivf_cent_$k")(ivfCentroids(all, k, sampleMod = 4L)))
    val assign = all.join(cent)
      .select(col("vec_id"), col("nn"),
        ((col("nn") + col("cnn") - lit(2L) * dot(col("v"), col("cv"))) * lit(cellEnc)
          + col("cid")).as("pk"))
      .groupBy("vec_id", "nn").agg(min(col("pk")).as("pk"))
      .select(col("vec_id"), col("nn"),
        (col("pk") % lit(cellEnc)).cast("long").as("cluster_id"))
    assign.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
        sum(col("nn")).as("sum_nn"))
      .withColumn("total", sum(col("n_vecs"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("share_e4", expr("(10000 * n_vecs) div total"))
      .drop("total")
  }

  // def, not val: ivfCellofCtes is declared below (beside the ann_ivf
  // oracle it also feeds) and vals initialize in declaration order
  private def corpusClusterSql =
    s"""WITH $ivfCellofCtes,
       |g AS (
       |  SELECT cell AS cluster_id, count(*) AS n_vecs,
       |    min(vec_id) AS min_vec, CAST(sum(nn) AS BIGINT) AS sum_nn
       |  FROM cellof GROUP BY 1)
       |SELECT cluster_id, n_vecs, min_vec, sum_nn,
       |  CAST((10000 * n_vecs) // (SELECT CAST(sum(n_vecs) AS BIGINT) FROM g) AS BIGINT) AS share_e4
       |FROM g""".stripMargin

  /** CTE chain ending in `cellof(vec_id, v, nn, cell)` — the full
    * deterministic IVF build (sample → seeds → one Lloyd step →
    * corpus assignment); shared by the ann_ivf and corpus_cluster
    * oracles so both pin the SAME clustering. */
  private val ivfCellofCtes =
    s"""$quantizedCte,
       |samp AS (
       |  SELECT vec_id, v, nn, ((vec_id % 1000003) * 2654435761) % 1000000007 AS h
       |  FROM n WHERE (((vec_id % 1000003) * 2654435761) % 1000000007) % 4 = 0),
       |seeds AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS cid, v AS cv, nn AS cnn FROM (
       |    SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn FROM samp)
       |  WHERE rn <= 16),
       |sd AS (
       |  SELECT s.vec_id, c.cid,
       |    s.nn + c.cnn - 2 * CAST(list_sum(list_transform(range(1, len(s.v)+1), i -> s.v[i] * c.cv[i])) AS BIGINT) AS dist2
       |  FROM samp s, seeds c),
       |sa AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM sd)
       |  WHERE rn = 1),
       |dim AS (
       |  SELECT a.cid, i.i AS pos, s.v[i.i] AS x
       |  FROM sa a JOIN samp s USING (vec_id), (SELECT unnest(range(1, 65)) AS i) i),
       |cm AS (
       |  SELECT cid, pos,
       |    CAST(round(CAST(sum(x) AS DOUBLE)/CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
       |  FROM dim GROUP BY 1, 2),
       |cent AS (
       |  SELECT cid, list(m ORDER BY pos) AS cv,
       |    CAST(list_sum(list_transform(list(m ORDER BY pos), y -> y*y)) AS BIGINT) AS cnn
       |  FROM cm GROUP BY 1),
       |ad AS (
       |  SELECT vec_id, v, nn, cid,
       |    nn + cnn - 2 * CAST(list_sum(list_transform(range(1, len(v)+1), i -> v[i] * cv[i])) AS BIGINT) AS dist2
       |  FROM n, cent),
       |cellof AS (
       |  SELECT vec_id, v, nn, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM ad)
       |  WHERE rn = 1)""".stripMargin

  private val annIvfSql =
    s"""WITH $ivfCellofCtes,
       |x AS (
       |  SELECT q.vec_id AS q_id, c.vec_id, q.cell,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM cellof q JOIN cellof c ON q.cell = c.cell AND q.vec_id < 5 AND c.vec_id >= 5),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn FROM x)
       |SELECT q_id, vec_id, cell, cos_sim, rn FROM r WHERE rn <= 5""".stripMargin

  // S4: product quantization — the memory side of ANN at 100 TB. Raw
  // vectors are 64 dims × 8 bytes; PQ stores m=4 codebook codes (one
  // byte each) per vector — a 128× smaller index that fits a corpus in
  // executor memory that raw vectors never would. Search is ADC
  // (asymmetric distance computation): the query precomputes its exact
  // distance to every codebook cell (m·k = 64 numbers), the corpus side
  // only LOOKS UP and sums — no vector math per corpus row — then an
  // exact rerank over the short candidate list restores precision.
  //
  // Engine-neutral by construction: codebooks come from the same
  // deterministic multiplicative-hash sample the IVF init uses (the k
  // smallest-hash sample vectors, sliced per subspace), every distance
  // is exact int64, and code assignment is the same packed-min
  // (d2·k + code) ONE-hash-agg shape as the IVF cell assignment — no
  // ranking window, no sort. Candidate selection rides the sort-free
  // TopKPerKey operator.
  private val pqM = 4     // subspaces
  private val pqDims = 16 // dims per subspace (64-dim embeddings)
  private val pqK = 32L   // codes per subspace (5-bit codes; one byte holds up to 256)

  /** Explode a quantized-vector frame into (id, j, sv, snn) subvector
    * rows — one array literal, no shuffle. */
  private def pqSubs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol),
      explode(array((0 until pqM).map(j =>
        struct(lit(j.toLong).as("j"),
          slice(col("v"), j * pqDims + 1, pqDims).as("sv"))): _*)).as("e"))
      .select(col(idCol), col("e.j").as("j"), col("e.sv").as("sv"))
      .withColumn("snn", sqNorm(col("sv")))

  /** PQ codebooks: (raw hash-seed books, Lloyd-refined books). The
    * seeds are the pqK smallest-hash sample vectors (the IVF init's
    * deterministic draw) sliced per subspace; one Lloyd step then
    * assigns each sample subvector to its nearest seed code — the same
    * packed-min hash-agg as the corpus encode — and moves every code
    * to the rounded mean of its members (round-half-away, identical in
    * both engines; exact int64 in, exact int64 out). Measured at
    * sf0.01: 17% lower quantization distortion than the raw seeds
    * (asserted by Round5Spec). Seeds are sample members, so a code only
    * loses all members on an exact-tie handoff — the left join keeps
    * such a code at its seed in both engines. */
  private[graft] def pqCodebooks(all: DataFrame): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("h"), col("vec_id"))
    val sample = all
      .withColumn("h",
        pmod((col("vec_id") % lit(1000003L)) * lit(2654435761L), lit(1000000007L)))
      .filter(pmod(col("h"), lit(4L)) === 0)
    val seeds = sample.withColumn("rn", row_number().over(w)).filter(col("rn") <= pqK)
      .select((col("rn") - 1).cast("long").as("code"), col("v").as("cv"))
    val cb0 = broadcast(pqSubs(seeds.withColumnRenamed("cv", "v")
      .withColumnRenamed("code", "vec_id"), "vec_id")
      .select(col("vec_id").as("code"), col("j"), col("sv").as("cbv"), col("snn").as("cnn")))
    val sampleSubs = pqSubs(sample.select("vec_id", "v"), "vec_id")
    val sAssign = sampleSubs.join(cb0, Seq("j"))
      .select(col("vec_id"), col("j"),
        ((col("snn") + col("cnn") - lit(2L) * dot(col("sv"), col("cbv"))) * lit(pqK)
          + col("code")).as("pk"))
      .groupBy("vec_id", "j").agg(min(col("pk")).as("pk"))
      .select(col("vec_id"), col("j"), pmod(col("pk"), lit(pqK)).as("code"))
    val moved = sampleSubs.join(sAssign, Seq("vec_id", "j"))
      .select(col("j"), col("code"), posexplode(col("sv")))
      .groupBy("j", "code", "pos")
      .agg(round(sum(col("col")).cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("m"))
      .groupBy("j", "code")
      .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
      .select(col("j"), col("code"),
        transform(array_sort(col("pm")), e => e.getField("m")).as("rv"))
    val cb = broadcast(cb0.join(broadcast(moved), Seq("j", "code"), "left")
      .select(col("j"), col("code"), coalesce(col("rv"), col("cbv")).as("cbv"))
      .withColumn("cnn", sqNorm(col("cbv"))))
    (cb0, cb)
  }

  /** Mean quantization distortion of a codebook over a corpus: the
    * avg over (vector, subspace) of the distance to the nearest code —
    * the objective the Lloyd step descends. */
  private[graft] def pqDistortion(all: DataFrame, cb: DataFrame): Double =
    pqSubs(all, "vec_id").join(cb, Seq("j"))
      .select(col("vec_id"), col("j"),
        (col("snn") + col("cnn") - lit(2L) * dot(col("sv"), col("cbv"))).as("d2"))
      .groupBy("vec_id", "j").agg(min(col("d2")).as("md"))
      .agg(avg(col("md"))).head().getDouble(0)

  private[graft] def pq(s: SparkSession, d: String, topn: Int, rerankFrom: Int): DataFrame = {
    val all = quantized(s, d)
    // codebooks + corpus codes are the persisted PQ index (built once;
    // 4 small ints per vector = the 128×-compressed table an ADC scan
    // reads INSTEAD of the corpus). No partition pruning here by
    // design: ADC visits every code row; the cut is row WIDTH, and
    // IVF(cells)→PQ(codes) composes when both cuts are wanted.
    val cb = broadcast(persistedIndex(s, d, "pq_cb")(pqCodebooks(all)._2))
    // encode the corpus: per (vector, subspace) the nearest code —
    // ONE packed-min hash-agg (d2·k + code), map-side combine, no sort
    val codes = persistedIndex(s, d, "pq_codes") {
      pqSubs(all.filter(col("vec_id") >= 5), "vec_id").join(cb, Seq("j"))
        .select(col("vec_id"), col("j"),
          ((col("snn") + col("cnn") - lit(2L) * dot(col("sv"), col("cbv"))) * lit(pqK)
            + col("code")).as("pk"))
        .groupBy("vec_id", "j").agg(min(col("pk")).as("pk"))
        .select(col("vec_id"), col("j"), pmod(col("pk"), lit(pqK)).as("code"))
    }
    // ADC tables: the query's exact distance to every codebook cell —
    // queries × m × k rows, broadcast
    val dt = broadcast(pqSubs(all.filter(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "q_id"), "q_id")
      .join(cb, Seq("j"))
      .select(col("q_id"), col("j"), col("code"),
        (col("snn") + col("cnn") - lit(2L) * dot(col("sv"), col("cbv"))).as("d2q")))
    val approx = codes.join(dt, Seq("j", "code"))
      .groupBy("q_id", "vec_id").agg(sum(col("d2q")).as("approx_d2"))
    // two-phase: the local pass heaps on the ADC groupBy's existing
    // (q_id, vec_id) partitioning — the single-phase keyed TopK
    // re-shuffled the FULL ADC score stream into one task per query
    val cand = graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(
        approx.withColumn("neg", -col("approx_d2")),
        rerankFrom, "q_id", "neg", "vec_id"),
      rerankFrom, "q_id", "neg", "vec_id")
      .select("q_id", "vec_id", "approx_d2")
    // exact rerank of the tiny candidate list (broadcast both sides)
    val queries = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn")))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    all.join(broadcast(cand), Seq("vec_id"))
      .join(queries, Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("approx_d2"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
      .withColumn("rn", row_number().over(wR).cast("long"))
      .filter(col("rn") <= topn)
  }

  // rerank depth is THE recall knob for PQ: ADC is a lossy ordering, so
  // the exact rerank pulls from a deeper candidate list (64 of n; still
  // ≪ corpus at scale — the scan stays code-lookup-only).
  private def annPq(s: SparkSession, d: String): DataFrame = pq(s, d, 5, 64)

  /** S5 `ann_ivfpq`: the composed production index — IVF cells cut WHICH
    * rows a probe touches (partition pruning), PQ codes cut how WIDE
    * each touched row is (4 bytes vs the vector). One persisted layout:
    * per (vector, subspace) code rows PARTITIONED BY IVF CELL, so a
    * probe lists only its `probes` cell directories of 4-int rows, sums
    * its broadcast ADC table over them, and exactly reranks the short
    * list. At 100 TB this is the only ANN shape whose probe I/O is
    * (probes/k) × (1/128 width) of the corpus — neither S2's full-width
    * buckets nor S4's full-corpus code scan achieves both cuts. */
  private[graft] def ivfpq(s: SparkSession, d: String, kCells: Int,
      probes: Int, topn: Int, rerankFrom: Int): DataFrame = {
    val all = quantized(s, d)
    val cent = broadcast(
      persistedIndex(s, d, s"ivf_cent_$kCells")(ivfCentroids(all, kCells, sampleMod = 4L)))
    val cb = broadcast(persistedIndex(s, d, "pq_cb")(pqCodebooks(all)._2))
    val idx = persistedIndex(s, d, s"ivfpq_idx_$kCells", "cell") {
      val cellOf = all.join(cent)
        .select(col("vec_id"),
          ((col("nn") + col("cnn") - lit(2L) * dot(col("v"), col("cv"))) * lit(cellEnc)
            + col("cid")).as("pk"))
        .groupBy("vec_id").agg(min(col("pk")).as("pk"))
        .select(col("vec_id"), (col("pk") % lit(cellEnc)).cast("int").as("cell"))
      pqSubs(all.filter(col("vec_id") >= 5), "vec_id").join(cb, Seq("j"))
        .select(col("vec_id"), col("j"),
          ((col("snn") + col("cnn") - lit(2L) * dot(col("sv"), col("cbv"))) * lit(pqK)
            + col("code")).as("pk"))
        .groupBy("vec_id", "j").agg(min(col("pk")).as("pk"))
        .select(col("vec_id"), col("j"), pmod(col("pk"), lit(pqK)).as("code"))
        .join(cellOf.hint("shuffle_hash"), Seq("vec_id"))
        .select(col("vec_id"), col("j"), col("code"), col("cell"))
    }
    // probe side: each query's `probes` nearest cells + its ADC table
    val qcells = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn"))
      .join(cent)
      .select(col("q_id"), col("cid"),
        (col("qnn") + col("cnn") - lit(2L) * dot(col("qv"), col("cv"))).as("dist2"))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("dist2"), col("cid"))))
      .filter(col("rn") <= probes)
      .select(col("q_id"), col("cid").cast("int").as("cell"))
    val dt = broadcast(pqSubs(all.filter(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "q_id"), "q_id")
      .join(cb, Seq("j"))
      .select(col("q_id"), col("j"), col("code"),
        (col("snn") + col("cnn") - lit(2L) * dot(col("sv"), col("cbv"))).as("d2q")))
    val approx = idx.join(broadcast(qcells), Seq("cell"))
      .join(dt, Seq("q_id", "j", "code"))
      .groupBy("q_id", "vec_id").agg(sum(col("d2q")).as("approx_d2"))
    // two-phase: the local pass heaps on the ADC groupBy's existing
    // (q_id, vec_id) partitioning — the single-phase keyed TopK
    // re-shuffled the FULL ADC score stream into one task per query
    val cand = graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(
        approx.withColumn("neg", -col("approx_d2")),
        rerankFrom, "q_id", "neg", "vec_id"),
      rerankFrom, "q_id", "neg", "vec_id")
      .select("q_id", "vec_id", "approx_d2")
    val queries = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn")))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    all.join(broadcast(cand), Seq("vec_id"))
      .join(queries, Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("approx_d2"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
      .withColumn("rn", row_number().over(wR).cast("long"))
      .filter(col("rn") <= topn)
  }

  private def annIvfPq(s: SparkSession, d: String): DataFrame =
    ivfpq(s, d, kCells = 16, probes = 4, topn = 5, rerankFrom = 64)

  private val annPqSql =
    s"""WITH $quantizedCte,
       |samp AS (
       |  SELECT vec_id, v, nn, ((vec_id % 1000003) * 2654435761) % 1000000007 AS h
       |  FROM n WHERE (((vec_id % 1000003) * 2654435761) % 1000000007) % 4 = 0),
       |seeds AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS code, v AS cv FROM (
       |    SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn FROM samp)
       |  WHERE rn <= 32),
       |jj AS (SELECT unnest(range(0, 4)) AS j),
       |cb AS (
       |  SELECT j, code,
       |    list_slice(cv, CAST(j*16+1 AS INT), CAST(j*16+16 AS INT)) AS cbv
       |  FROM seeds, jj),
       |cbn0 AS (SELECT j, code, cbv,
       |  CAST(list_sum(list_transform(cbv, x -> x*x)) AS BIGINT) AS cnn FROM cb),
       |sub AS (
       |  SELECT vec_id, j,
       |    list_slice(v, CAST(j*16+1 AS INT), CAST(j*16+16 AS INT)) AS sv
       |  FROM n, jj),
       |subn AS (SELECT vec_id, j, sv,
       |  CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS snn FROM sub),
       |sd0 AS (
       |  SELECT s.vec_id, s.j, c.code,
       |    s.snn + c.cnn - 2 * CAST(list_sum(list_transform(range(1, 17), i -> s.sv[i] * c.cbv[i])) AS BIGINT) AS d2
       |  FROM subn s JOIN cbn0 c ON s.j = c.j),
       |sassign AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
       |    FROM sd0 WHERE vec_id IN (SELECT vec_id FROM samp))
       |  WHERE rn = 1),
       |sdim AS (
       |  SELECT a.j, a.code, i.i AS pos, s.sv[i.i] AS x
       |  FROM sassign a JOIN subn s USING (vec_id, j), (SELECT unnest(range(1, 17)) AS i) i),
       |smean AS (
       |  SELECT j, code, pos,
       |    CAST(round(CAST(sum(x) AS DOUBLE)/CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
       |  FROM sdim GROUP BY 1, 2, 3),
       |moved AS (
       |  SELECT j, code, list(m ORDER BY pos) AS rv FROM smean GROUP BY 1, 2),
       |cbn AS (
       |  SELECT c.j, c.code, COALESCE(mv.rv, c.cbv) AS cbv,
       |    CAST(list_sum(list_transform(COALESCE(mv.rv, c.cbv), x -> x*x)) AS BIGINT) AS cnn
       |  FROM cbn0 c LEFT JOIN moved mv ON c.j = mv.j AND c.code = mv.code),
       |sd AS (
       |  SELECT s.vec_id, s.j, c.code,
       |    s.snn + c.cnn - 2 * CAST(list_sum(list_transform(range(1, 17), i -> s.sv[i] * c.cbv[i])) AS BIGINT) AS d2
       |  FROM subn s JOIN cbn c ON s.j = c.j),
       |codes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
       |    FROM sd WHERE vec_id >= 5)
       |  WHERE rn = 1),
       |dt AS (SELECT vec_id AS q_id, j, code, d2 AS d2q FROM sd WHERE vec_id < 5),
       |adc AS (
       |  SELECT d.q_id, c.vec_id, CAST(sum(d.d2q) AS BIGINT) AS approx_d2
       |  FROM codes c JOIN dt d ON c.j = d.j AND c.code = d.code
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT q_id, vec_id, approx_d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_d2, vec_id) AS rn FROM adc)
       |  WHERE rn <= 64),
       |x AS (
       |  SELECT cand.q_id, cand.vec_id, cand.approx_d2,
       |    ${cosineSql("qn.v", "cn.v", "qn.nn", "cn.nn")} AS cos_sim
       |  FROM cand JOIN n cn ON cn.vec_id = cand.vec_id
       |            JOIN n qn ON qn.vec_id = cand.q_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn FROM x)
       |SELECT q_id, vec_id, approx_d2, cos_sim, rn FROM r WHERE rn <= 5""".stripMargin

  private val annIvfPqSql =
    s"""WITH $quantizedCte,
       |samp AS (
       |  SELECT vec_id, v, nn, ((vec_id % 1000003) * 2654435761) % 1000000007 AS h
       |  FROM n WHERE (((vec_id % 1000003) * 2654435761) % 1000000007) % 4 = 0),
       |iseeds AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS cid, v AS cv, nn AS cnn FROM (
       |    SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn FROM samp)
       |  WHERE rn <= 16),
       |isd AS (
       |  SELECT s.vec_id, c.cid,
       |    s.nn + c.cnn - 2 * CAST(list_sum(list_transform(range(1, len(s.v)+1), i -> s.v[i] * c.cv[i])) AS BIGINT) AS dist2
       |  FROM samp s, iseeds c),
       |isa AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM isd)
       |  WHERE rn = 1),
       |idim AS (
       |  SELECT a.cid, i.i AS pos, s.v[i.i] AS x
       |  FROM isa a JOIN samp s USING (vec_id), (SELECT unnest(range(1, 65)) AS i) i),
       |icm AS (
       |  SELECT cid, pos,
       |    CAST(round(CAST(sum(x) AS DOUBLE)/CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
       |  FROM idim GROUP BY 1, 2),
       |icent AS (
       |  SELECT cid, list(m ORDER BY pos) AS cv,
       |    CAST(list_sum(list_transform(list(m ORDER BY pos), y -> y*y)) AS BIGINT) AS cnn
       |  FROM icm GROUP BY 1),
       |iad AS (
       |  SELECT vec_id, cid,
       |    nn + cnn - 2 * CAST(list_sum(list_transform(range(1, len(v)+1), i -> v[i] * cv[i])) AS BIGINT) AS dist2
       |  FROM n, icent),
       |cellof AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM iad)
       |  WHERE rn = 1),
       |qcells AS (
       |  SELECT q_id, cell FROM (
       |    SELECT vec_id AS q_id, cid AS cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
       |    FROM iad WHERE vec_id < 5)
       |  WHERE rn <= 4),
       |seeds AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS code, v AS cv FROM (
       |    SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn FROM samp)
       |  WHERE rn <= 32),
       |jj AS (SELECT unnest(range(0, 4)) AS j),
       |cb AS (
       |  SELECT j, code,
       |    list_slice(cv, CAST(j*16+1 AS INT), CAST(j*16+16 AS INT)) AS cbv
       |  FROM seeds, jj),
       |cbn0 AS (SELECT j, code, cbv,
       |  CAST(list_sum(list_transform(cbv, x -> x*x)) AS BIGINT) AS cnn FROM cb),
       |sub AS (
       |  SELECT vec_id, j,
       |    list_slice(v, CAST(j*16+1 AS INT), CAST(j*16+16 AS INT)) AS sv
       |  FROM n, jj),
       |subn AS (SELECT vec_id, j, sv,
       |  CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS snn FROM sub),
       |sd0 AS (
       |  SELECT s.vec_id, s.j, c.code,
       |    s.snn + c.cnn - 2 * CAST(list_sum(list_transform(range(1, 17), i -> s.sv[i] * c.cbv[i])) AS BIGINT) AS d2
       |  FROM subn s JOIN cbn0 c ON s.j = c.j),
       |sassign AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
       |    FROM sd0 WHERE vec_id IN (SELECT vec_id FROM samp))
       |  WHERE rn = 1),
       |sdim AS (
       |  SELECT a.j, a.code, i.i AS pos, s.sv[i.i] AS x
       |  FROM sassign a JOIN subn s USING (vec_id, j), (SELECT unnest(range(1, 17)) AS i) i),
       |smean AS (
       |  SELECT j, code, pos,
       |    CAST(round(CAST(sum(x) AS DOUBLE)/CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
       |  FROM sdim GROUP BY 1, 2, 3),
       |moved AS (
       |  SELECT j, code, list(m ORDER BY pos) AS rv FROM smean GROUP BY 1, 2),
       |cbn AS (
       |  SELECT c.j, c.code, COALESCE(mv.rv, c.cbv) AS cbv,
       |    CAST(list_sum(list_transform(COALESCE(mv.rv, c.cbv), x -> x*x)) AS BIGINT) AS cnn
       |  FROM cbn0 c LEFT JOIN moved mv ON c.j = mv.j AND c.code = mv.code),
       |sd AS (
       |  SELECT s.vec_id, s.j, c.code,
       |    s.snn + c.cnn - 2 * CAST(list_sum(list_transform(range(1, 17), i -> s.sv[i] * c.cbv[i])) AS BIGINT) AS d2
       |  FROM subn s JOIN cbn c ON s.j = c.j),
       |codes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
       |    FROM sd WHERE vec_id >= 5)
       |  WHERE rn = 1),
       |dt AS (SELECT vec_id AS q_id, j, code, d2 AS d2q FROM sd WHERE vec_id < 5),
       |cand AS (
       |  SELECT qc.q_id, cf.vec_id
       |  FROM qcells qc JOIN cellof cf ON cf.cell = qc.cell AND cf.vec_id >= 5),
       |adc AS (
       |  SELECT ca.q_id, ca.vec_id, CAST(sum(d.d2q) AS BIGINT) AS approx_d2
       |  FROM cand ca JOIN codes c ON c.vec_id = ca.vec_id
       |  JOIN dt d ON d.q_id = ca.q_id AND d.j = c.j AND d.code = c.code
       |  GROUP BY 1, 2),
       |cand2 AS (
       |  SELECT q_id, vec_id, approx_d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_d2, vec_id) AS rn FROM adc)
       |  WHERE rn <= 64),
       |x AS (
       |  SELECT cand2.q_id, cand2.vec_id, cand2.approx_d2,
       |    ${cosineSql("qn.v", "cn.v", "qn.nn", "cn.nn")} AS cos_sim
       |  FROM cand2 JOIN n cn ON cn.vec_id = cand2.vec_id
       |             JOIN n qn ON qn.vec_id = cand2.q_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn FROM x)
       |SELECT q_id, vec_id, approx_d2, cos_sim, rn FROM r WHERE rn <= 5""".stripMargin

  // S7 `embedding_qc`: the intake gate for the vector corpus — per
  // label, vector counts plus exact norm² statistics and a degenerate
  // (zero-vector) count. Every ANN structure downstream (S1–S6)
  // silently misbehaves on zero or wildly-scaled vectors (cosine is
  // undefined at norm 0; IVF cells collapse when norms spread orders
  // of magnitude), so production pipelines run exactly this QC before
  // indexing. norm² is the exact int64 quantized dot (the S1 kernel),
  // so min/max/sum hash-compare across engines. ONE scan, ONE
  // hash-agg — the cheapest shape there is.
  private def embeddingQc(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), sqNorm(quantize(col("embedding"))).as("n2"))
      .groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_degenerate"),
        min(col("n2")).as("min_n2"),
        max(col("n2")).as("max_n2"),
        sum(col("n2")).as("sum_n2"))

  private val embeddingQcSql =
    s"""WITH q AS (SELECT label, ${quantizeSql("embedding")} AS v FROM embeddings),
       |n AS (SELECT label, ${sqNormSql("v")} AS n2 FROM q)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
       |  min(n2) AS min_n2, max(n2) AS max_n2,
       |  CAST(sum(n2) AS BIGINT) AS sum_n2
       |FROM n GROUP BY 1""".stripMargin

  // S8 `embedding_drift`: the BETWEEN-BATCH intake check S7's
  // single-snapshot QC can't make — did the embedding distribution
  // shift between the old corpus and the new batch? A silently
  // re-scaled or re-normalized encoder poisons every ANN structure
  // downstream while each snapshot looks individually healthy. Old =
  // vec_id ≤ max/2, new = the rest (the D9 snapshot/delta convention);
  // per label: counts + exact int64 norm² sums per half, drift when
  // the mean norm² moved > 10% — as the exact cross-multiply
  // 10·|s_new·n_old − s_old·n_new| > s_old·n_new in decimal(38,0) /
  // HUGEINT (no FP means, no overflow at 100 TB counts). ONE scan,
  // ONE conditional hash-agg.
  private def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    // max(vec_id) via parquet footer statistics — metadata-only, no
    // extra corpus scan for the split scalar
    val t = Tables.maxIdFromStats(s, s"$d/embeddings.parquet", "vec_id",
      Tables.embeddings(s, d)) / 2
    val dec = "decimal(38,0)"
    Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"),
        sqNorm(quantize(col("embedding"))).as("n2"))
      .groupBy("label").agg(
        sum(when(col("vec_id") <= t, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("vec_id") > t, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("vec_id") <= t, col("n2")).otherwise(0L)).as("sumsq_old"),
        sum(when(col("vec_id") > t, col("n2")).otherwise(0L)).as("sumsq_new"))
      .withColumn("drift",
        abs(col("sumsq_new").cast(dec) * col("n_old") -
          col("sumsq_old").cast(dec) * col("n_new")) * lit(10) >
          col("sumsq_old").cast(dec) * col("n_new"))
  }

  private def embeddingDriftSql = {
    val t = "(SELECT max(vec_id) // 2 FROM embeddings)"
    s"""WITH q AS (SELECT label, vec_id, ${quantizeSql("embedding")} AS v FROM embeddings),
       |n AS (SELECT label, vec_id, ${sqNormSql("v")} AS n2 FROM q),
       |g AS (
       |  SELECT label,
       |    CAST(sum(CASE WHEN vec_id <= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |    CAST(sum(CASE WHEN vec_id > $t THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN vec_id <= $t THEN n2 ELSE 0 END) AS BIGINT) AS sumsq_old,
       |    CAST(sum(CASE WHEN vec_id > $t THEN n2 ELSE 0 END) AS BIGINT) AS sumsq_new
       |  FROM n GROUP BY 1)
       |SELECT label, n_old, n_new, sumsq_old, sumsq_new,
       |  abs(CAST(sumsq_new AS HUGEINT) * n_old - CAST(sumsq_old AS HUGEINT) * n_new) * 10
       |    > CAST(sumsq_old AS HUGEINT) * n_new AS drift
       |FROM g""".stripMargin
  }

  // S9 `ann_recall`: the recall@k evaluation every ANN deployment runs
  // before trusting an index — per query, what fraction of the TRUE
  // top-5 (S1's brute-force ranking) the IVF probe (S3) returns.
  // Recall is THE dial that justifies probe count and cell count; a
  // production pipeline recomputes it on every index rebuild. Both
  // sides are the already-verified operators (ground truth is one
  // broadcast-query corpus scan; the ANN side reads the persisted
  // DPP-pruned index), so the comparison itself is a tiny
  // per-query join + hash-agg — exact integer recall_e4, no new
  // corpus-scale work.
  private def annRecall(s: SparkSession, d: String): DataFrame = {
    val gt = annTruth(s, d).filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"))
    val ann = annIvf(s, d)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    gt.join(ann.hint("shuffle_hash"), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_e4", expr("(10000 * n_hit) div n_true"))
  }

  private val annRecallSql =
    s"""WITH $ivfCellofCtes,
       |gx AS (
       |  SELECT q.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5),
       |gr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM gx) WHERE rn <= 5),
       |ax AS (
       |  SELECT q.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM cellof q JOIN cellof c ON q.cell = c.cell AND q.vec_id < 5 AND c.vec_id >= 5),
       |ar AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM ax) WHERE rn <= 5)
       |SELECT g.q_id, count(*) AS n_true,
       |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((10000 * sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS recall_e4
       |FROM gr g LEFT JOIN ar a ON a.q_id = g.q_id AND a.vec_id = g.vec_id
       |GROUP BY 1""".stripMargin

  // S10 `knn_graph`: the k-nearest-neighbor GRAPH over the whole
  // embedding corpus — each vector's top-3 in-bucket neighbors. This
  // is the data structure semantic dedup (SemDeDup-style), diversity
  // sampling, and graph-based clustering all start from, and the
  // all-pairs form is O(n²) — the one shape that cannot ship at
  // 100 TB. LSH-bucketing makes the self-join block-diagonal: with
  // 2^p buckets the candidate volume is Σ b² ≈ n²/2^p with p sized to
  // the corpus (see lshBucket's banded form), and each block joins as
  // an ordinary equi-join on the bucket key — no broadcast of the
  // corpus, no global sort; the per-vector top-3 ranks inside a
  // window PARTITIONED BY the left vector id (its candidate list is
  // bucket-bounded). Cosines are IEEE doubles computed from exact
  // int64 dots/norms — identical in both engines — with vec_id as the
  // deterministic tiebreak.
  /** The one config every oracle pins: the static DuckDB SQL for S10/
    * S13 hard-codes an 8-plane `lshBucketSql`, so the GRADED ops must
    * use exactly 8 planes too — self-sizing here would silently
    * diverge from the oracle the moment a corpus crosses 12,800
    * vectors (planesFor → 9). The corpus-sized production form is
    * `knnGraphWith(s, d, Sizing.planesFor(n))` — exercised by
    * ScaleSmoke's `knn_graph_scaled` entry and SizingSpec's plane-count
    * table, and what a 100 TB caller should use. */
  private[graft] val oraclePlanes = 8

  private def knnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphWith(s, d, oraclePlanes)

  /** Planes-parameterized form of S10 — the S13 recall eval grades the
    * production 8-plane graph and its monotonicity spec sweeps the
    * plane count (band-0 plane families are nested prefixes, so more
    * planes ⇒ strictly finer buckets ⇒ candidate subsets). */
  private[graft] def knnGraphWith(s: SparkSession, d: String, planes: Int): DataFrame = {
    // Two scale hazards found by the sf10 smoke (200k vectors), both
    // invisible at the oracle scale:
    //  1. quantize/lshBucket are interpreted higher-order expressions
    //     (transform over the 64-dim array); left in the lineage,
    //     CollapseProject inlines them into the post-join cosine and
    //     re-evaluates them PER CANDIDATE PAIR (~1.6e8 interpreted
    //     array transforms — jstack's hot frame was
    //     ArrayTransform.eval). The index is therefore MATERIALIZED
    //     once per (dataset, planes) in the ann_lsh persisted layout,
    //     so the join reads plain int64 array columns.
    //  2. AQE sizes the post-shuffle stage from PRE-join bytes and
    //     coalesced the expanding self-join to 2 tasks; an explicit
    //     repartition with a pinned partition count keeps the
    //     expansion spread over the full core count (repartition
    //     WITHOUT a count is still AQE-flexible).
    val idx = persistedIndex(s, d, s"knn_idx_p$planes", "bucket") {
      quantized(s, d)
        .withColumn("bucket", lshBucket(col("v"), planes, 0).cast("int"))
    }
    // Third scale hazard, also from the sf10 smoke: a TIGHT cluster is
    // a point mass no hyperplane family can split (every member lands
    // in the same bucket at ANY plane count), so the DataGen hot
    // bucket — ~1% of the corpus in one tight sub-cluster —
    // concentrated a grossly outsized share of the 1.6e8 candidate
    // pairs into ONE straggler task. Bucket-size-adaptive salting splits that
    // task: a bucket of n rows gets g = ceil(n²/2e7) salt groups
    // (`Sizing.saltGroups`), the probe side keeps ONE salt per vector
    // (hash(vec_id) % g), the build side replicates each row to all g
    // salts. Each (bucket,
    // salt) task then scores ≈ n²/g ≤ 2e7 pairs, and — because a
    // vector's whole candidate list still lives in its single salt
    // group — the per-vector top-3 needs no cross-salt merge. The
    // count pass is one 2^planes-row aggregate, broadcast back.
    val counts = idx.groupBy("bucket").agg(count(lit(1)).as("bkt_n"))
    val sized = idx.join(broadcast(counts), Seq("bucket"))
      .withColumn("g", Sizing.saltGroups(col("bkt_n")))
    // 16-bit packed wire format, same license as the dedup band joins
    // (measured per dataset+planes as buildOnce capital): the salted
    // build side replicates every vector g times, so the vector
    // payload IS this join's shuffle — 2-byte lanes cut it ~4×, and
    // the packed dot is the same int64 arithmetic.
    val packed = packLicense(s, d, s"knn_p$planes", idx)
    val pv: Column => Column =
      v => if (packed) packShorts(v) else v
    val cos: (Column, Column, Column, Column) => Column =
      if (packed) cosinePacked else cosine
    val p = s.sessionState.conf.numShufflePartitions
    // explicit pinned-count repartitions: AQE sizes the post-shuffle
    // stage from PRE-join bytes and would coalesce the expanding
    // self-join onto a couple of cores (observed at sf10)
    val a = sized
      .withColumn("salt", pmod(hash(col("vec_id")), col("g")))
      .select(col("bucket"), col("salt"), col("vec_id"), pv(col("v")).as("v"), col("nn"))
      .repartition(p, col("bucket"), col("salt"))
    val c = sized
      .withColumn("salt", explode(sequence(lit(0), col("g") - 1)))
      .select(col("bucket"), col("salt"), col("vec_id").as("nbr_id"),
        pv(col("v")).as("nv"), col("nn").as("nnn"))
      .repartition(p, col("bucket"), col("salt"))
    // Sort-merge, NOT shuffle_hash: both sides share the (bucket,
    // salt) partitioning so either join runs in-stage, but SHJ must
    // materialize a per-task hash relation of the build partition —
    // with every core busy that allocation blew the execution-memory
    // budget at sf10 (134 MB wanted, 93 MB grantable). The SMJ sorts
    // are per-partition index rows (thousands — partition count
    // scales with the corpus), not the expanded candidate set.
    val cand = a.join(c, Seq("bucket", "salt"))
      .filter(col("vec_id") =!= col("nbr_id"))
    // Per-vector top-3 through the heap operator, NOT a window: the
    // compositional row_number form sorts the whole candidate set
    // (the sf10 smoke's straggler tasks sat in the WindowGroupLimit
    // partial sort, spilling). TopKPerKeyIn clusters on (bucket,
    // salt) — the join output's existing partitioning, which
    // functionally determines vec_id — so the O(n·log k) heap scan
    // runs INSIDE the join stage: the ~|bucket|x-expanded candidate
    // set is never shuffled or sorted, only the 3 survivors per
    // vector reach the (tiny) rank window below.
    val scored = cand.select(col("bucket"), col("salt"), col("vec_id"),
      col("nbr_id"), cos(col("v"), col("nv"), col("nn"), col("nnn")).as("cos_sim"))
    val top = graft.plans.TopK.topKPerKeyIn(
      scored, 3, "vec_id", "cos_sim", "nbr_id", "bucket", "salt")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cos_sim").desc, col("nbr_id"))
    top.withColumn("rn", row_number().over(w).cast("long"))
      .select("vec_id", "nbr_id", "cos_sim", "rn")
  }

  private val knnGraphSql =
    s"""WITH $quantizedCte,
       |b AS (SELECT vec_id, v, nn, ${lshBucketSql("v")} AS bucket FROM n),
       |x AS (
       |  SELECT a.vec_id, c.vec_id AS nbr_id,
       |    ${cosineSql("a.v", "c.v", "a.nn", "c.nn")} AS cos_sim
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
       |  ORDER BY cos_sim DESC, nbr_id) AS BIGINT) AS rn FROM x)
       |SELECT vec_id, nbr_id, cos_sim, rn FROM r WHERE rn <= 3""".stripMargin

  // S13 `knn_recall`: grades the S10 graph the way S9 grades the IVF
  // index — the one approximate structure that had no recall eval.
  // Ground truth is each sampled vector's EXACT top-3 over the whole
  // corpus (queries broadcast, one corpus scan — the S1 eval shape);
  // the graph side is S10's own edges restricted to the sample. The
  // sample is the deterministic 25% md5-bucket gate on vec_id, so the
  // eval ships at any corpus size by shrinking the rate, never by
  // changing shape. One exact-integer summary row.
  private[graft] def inEvalSample(vecId: Column): Column =
    Tables.md5Bucket(vecId.cast("string"), "", 4) === 0

  // SCALE finding 14 (round 11): the mod-4 gate alone keeps a fixed
  // FRACTION of the corpus as eval queries, so the exact ground truth
  // (queries × corpus brute force) grows QUADRATICALLY — the sf30
  // probe measured the 25 % gate grinding ~9e10 cosines (150 k
  // queries × 600 k vectors) for a one-row recall summary. "Shrink
  // the rate, not the design" only holds if the rate actually
  // shrinks: an additional absolute-size md5 bucket (salt 'knnq:')
  // caps the query count (`Sizing.evalThinE6`), holding the truth's
  // total work constant at ANY corpus size. Whenever the mod-4 sample
  // already fits the budget (every oracle scale) the thinning term is
  // not even added — bit-identical plan, oracle untouched. Same
  // posture as the D14 sampled ssjoin truth.
  private[graft] def inEvalSampleThinned(vecId: Column, thinE6: Long): Column =
    if (thinE6 >= Sizing.fullRateE6) inEvalSample(vecId)
    else inEvalSample(vecId) &&
      Tables.md5Bucket(vecId.cast("string"), "knnq:", Sizing.fullRateE6) < lit(thinE6)

  /** Vectors in the corpus, from footer stats (vec_ids are dense 0..n-1). */
  private[graft] def vectorCount(s: SparkSession, d: String): Long =
    math.max(1L, Tables.maxIdFromStats(s, s"$d/embeddings.parquet", "vec_id",
      Tables.embeddings(s, d)) + 1)

  private[graft] def knnRecallWith(s: SparkSession, d: String, planes: Int): DataFrame = {
    val thin = Sizing.evalThinE6(vectorCount(s, d))
    // cache() BEFORE the expanding join: the interpreted quantize
    // transform left in the lineage gets CollapseProject-inlined into
    // the broadcast-join output and re-evaluated PER JOINED ROW (the
    // knn_graph lesson) — at sf30 that was a 128-element interpreted
    // transform × 2e9 joined rows, the other half of the killed
    // probe's grind alongside the window shuffle.
    val all = quantized(s, d).cache()
    val q = broadcast(all.filter(inEvalSampleThinned(col("vec_id"), thin))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn")))
    // top-3 per query via the TWO-PHASE TopK operator, not a window:
    // every query's rows appear in EVERY corpus partition (the join's
    // build side is broadcast), so the window form shuffles the entire
    // queries × corpus score matrix to sort it — the sf30 probe
    // measured 4.7+ GB of scratch before being killed. The local pass
    // heaps in-stage (nothing exchanged); only the ≤ 3·partitions
    // survivors per query reach the global pass. Identical ranking
    // contract (cos_sim DESC, vec_id ASC — the window's orderBy).
    // round-robin repartition the UN-expanded corpus first: the
    // broadcast join + heap scan run inside the corpus scan's stage,
    // so their parallelism is the parquet SPLIT COUNT — the sf30
    // embeddings table is ~2 splits, putting 2e9 cosines on 2 cores
    // (the dedup_substring explode rule, applied to a join).
    val corpus = all.repartition(s.sessionState.conf.numShufflePartitions)
    val scored = corpus.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    val truth = graft.plans.TopK.topKPerKey(
        graft.plans.TopK.topKPerKeyLocal(scored, 3, "q_id", "cos_sim", "vec_id"),
        3, "q_id", "cos_sim", "vec_id")
      .select(col("q_id"), col("vec_id"))
    val g = knnGraphWith(s, d, planes)
      .filter(inEvalSampleThinned(col("vec_id"), thin))
      .select(col("vec_id").as("q_id"), col("nbr_id").as("vec_id"),
        lit(1L).as("hit"))
    truth.join(g.hint("shuffle_hash"), Seq("q_id", "vec_id"), "left")
      .agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_e4", expr("(10000 * n_hit) div n_true"))
  }

  // grades the graph at the oracle-pinned plane count — the SAME
  // config knnGraph itself runs (its static SQL hard-codes 8 planes);
  // scale-sized recall goes through knnRecallWith(Sizing.planesFor(n))
  private def knnRecall(s: SparkSession, d: String): DataFrame =
    knnRecallWith(s, d, oraclePlanes)

  private val knnRecallSql = {
    val sampleSql = (c: String) =>
      s"""CAST(list_sum(list_transform(range(1, 9), i ->
         |  (strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), CAST(i AS INT), 1)) - 1)
         |    * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % 4 = 0""".stripMargin
    s"""WITH $quantizedCte,
       |smp AS (SELECT vec_id, v, nn FROM n WHERE ${sampleSql("vec_id")}),
       |tx AS (
       |  SELECT s.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("s.v", "c.v", "s.nn", "c.nn")} AS cos_sim
       |  FROM smp s JOIN n c ON c.vec_id <> s.vec_id),
       |tr AS (SELECT q_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS rn FROM tx) WHERE rn <= 3),
       |b AS (SELECT vec_id, v, nn, ${lshBucketSql("v")} AS bucket FROM n),
       |gx AS (
       |  SELECT a.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("a.v", "c.v", "a.nn", "c.nn")} AS cos_sim
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |  WHERE ${sampleSql("a.vec_id")}),
       |gr AS (SELECT q_id, vec_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS rn FROM gx) WHERE rn <= 3)
       |SELECT CAST(count(DISTINCT t.q_id) AS BIGINT) AS n_queries,
       |  count(*) AS n_true,
       |  CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((10000 * sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS recall_e4
       |FROM tr t LEFT JOIN gr g ON g.q_id = t.q_id AND g.vec_id = t.vec_id""".stripMargin
  }

  // S11 `ann_filtered`: FILTERED vector search — top-5 by cosine among
  // corpus vectors carrying the query's label (the "metadata filter +
  // similarity" query every production vector store serves; post-hoc
  // filtering of an unfiltered top-k silently under-returns when the
  // label is selective, so the filter must join the search). The label
  // IS the blocking key: corpus×queries becomes an equi-join on label
  // (each query scans only its label's slice — at 100 TB the persisted
  // index layout partitions by label exactly like the S2 buckets, and
  // the probe prunes to one label directory); ranking windows
  // partition per query over the label-bounded candidate list.
  private def annFiltered(s: SparkSession, d: String): DataFrame = {
    // cache(): keep the interpreted quantize transform out of the
    // label-join lineage (CollapseProject would re-evaluate it per
    // joined row); two-phase TopK for the per-query rank (the window
    // form is a |queries|-task skew wall over the label-bounded
    // candidate lists).
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("v"))
      .withColumn("nn", sqNorm(col("v")))
      .cache()
    val queries = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label"),
        col("v").as("qv"), col("nn").as("qnn")))
    val corpus = all.filter(col("vec_id") >= 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    val scored = corpus.join(queries, Seq("label"))
      .select(col("q_id"), col("label"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    graft.plans.TopK.topKPerKey(
        graft.plans.TopK.topKPerKeyLocal(scored, 5, "q_id", "cos_sim", "vec_id"),
        5, "q_id", "cos_sim", "vec_id")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
  }

  private val annFilteredSql =
    s"""WITH qa AS (
       |  SELECT vec_id, label, ${quantizeSql("embedding")} AS v FROM embeddings),
       |na AS (SELECT vec_id, label, v, ${sqNormSql("v")} AS nn FROM qa),
       |x AS (
       |  SELECT q.vec_id AS q_id, q.label, c.vec_id,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM na q JOIN na c ON q.label = c.label
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |  ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn FROM x)
       |SELECT q_id, label, vec_id, cos_sim, rn FROM r WHERE rn <= 5""".stripMargin

  // S12 `ann_probe_sweep`: S9 gives ONE recall point; this op draws
  // the CURVE — recall@5 per probe count over the same persisted IVF
  // index (the dedup analog is D13's threshold sweep). The
  // probes-vs-recall curve is the tuning artifact an ANN rollout
  // actually decides from: where it flattens is where probe I/O stops
  // buying accuracy. The index builds once (all probe levels read the
  // same persisted cells); each level re-runs only the tiny probe +
  // per-query join; ground truth is computed once and reused.
  private def annProbeSweep(s: SparkSession, d: String): DataFrame = {
    // Opt r14 found the three unioned probe arms re-evaluated the
    // brute-force ground truth PER ARM (no cross-arm subtree
    // elimination) and pinned it with an in-plan cache(); opt r15
    // supersedes that: the truth is persisted capital (annTruth), so
    // every arm — and every OTHER recall eval — reads 25 rows of
    // parquet instead of running a corpus×queries cosine pass.
    val gt = annTruth(s, d).filter(col("rn") <= 5)
      .select(col("q_id"), col("vec_id"))
    Seq(1, 2, 4).map { p =>
      val ann = ivf(s, d, 16, p)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      gt.join(ann.hint("shuffle_hash"), Seq("q_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(p.toLong).as("probes"), col("n_true"), col("n_hit"),
          expr("(10000 * n_hit) div n_true").as("recall_e4"))
    }.reduce(_ unionAll _)
  }

  private def annProbeSweepSql = {
    val centDist = "q.nn + c.cnn - 2 * CAST(list_sum(list_transform(" +
      "range(1, len(q.v)+1), i -> q.v[i] * c.cv[i])) AS BIGINT)"
    s"""WITH $ivfCellofCtes,
       |qcr AS (
       |  SELECT q.vec_id AS q_id, q.v AS qv, q.nn AS qnn, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $centDist, c.cid) AS rnq
       |  FROM n q, cent c WHERE q.vec_id < 5),
       |prs AS (SELECT unnest([1, 2, 4]) AS p),
       |ax AS (
       |  SELECT prs.p, qc.q_id, c.vec_id,
       |    ${cosineSql("qc.qv", "c.v", "qc.qnn", "c.nn")} AS cos_sim
       |  FROM prs JOIN qcr qc ON qc.rnq <= prs.p
       |  JOIN cellof c ON c.cell = qc.cell AND c.vec_id >= 5),
       |arx AS (
       |  SELECT p, q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY p, q_id
       |      ORDER BY cos_sim DESC, vec_id) AS rn FROM ax) WHERE rn <= 5),
       |gx AS (
       |  SELECT q.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5),
       |gr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id) AS rn FROM gx) WHERE rn <= 5)
       |SELECT CAST(prs.p AS BIGINT) AS probes, count(*) AS n_true,
       |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((10000 * sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS recall_e4
       |FROM prs CROSS JOIN gr g
       |LEFT JOIN arx a ON a.p = prs.p AND a.q_id = g.q_id AND a.vec_id = g.vec_id
       |GROUP BY 1""".stripMargin
  }

  // S14 `ann_scalar_quant`: the int8 SCALAR-quantization error
  // envelope — the vector-compression tier between raw floats
  // (4 B/dim) and PQ codes (S4's 128×): symmetric int8 SQ is what
  // production vector stores ship first (4× smaller, SIMD-friendly,
  // no codebook training), and this op is the acceptance gate run
  // before flipping an index to SQ — per label, the EXACT
  // reconstruction-error envelope. All arithmetic is integer: v is
  // the ×1000-quantized int64 lane, the global scale maxabs is one
  // bounded-metadata aggregate (collected once, shipped as a
  // literal — the D18 bloom contract), code = (v·127) div maxabs ∈
  // [−127,127], recon = (code·maxabs) div 127, and both engines
  // truncate integer division toward zero so the per-dimension error
  // |v − recon| hash-compares exactly. ONE corpus scan + one tiny
  // hash-agg on the bounded label grid; the scale pre-pass is its own
  // scan collapsing map-side to one long. rel_err_e4 bounds the
  // envelope corpus-wide: err ≤ maxabs/127 per dim by construction,
  // and the measured e4 ratio is what the ANN recall owner signs off.
  private def annScalarQuant(s: SparkSession, d: String): DataFrame = {
    val q = quantize(col("embedding"))
    val maxabs = Tables.embeddings(s, d)
      .agg(max(array_max(transform(q, x => abs(x))))).head().getLong(0)
    // a degenerate all-zero corpus would make the Spark transform emit
    // nulls (x div 0) while the DuckDB oracle errors — fail loudly and
    // identically on both sides instead
    require(maxabs > 0, s"ann_scalar_quant: degenerate embedding corpus (maxabs=$maxabs)")
    // `div` (true integral division) exists only in SQL form — Column
    // `/`/divide are double division, floor(double) drifts on big longs
    val errsSql = s"transform(v, x -> abs(x - (((x * 127) div $maxabs) * $maxabs) div 127))"
    Tables.embeddings(s, d)
      .select(col("label"), q.as("v"))
      .select(col("label"),
        expr(s"aggregate($errsSql, 0L, (a, x) -> a + x)").as("err_sum_v"),
        expr(s"array_max($errsSql)").as("err_max_v"),
        expr("aggregate(transform(v, x -> abs(x)), 0L, (a, x) -> a + x)").as("mass_v"))
      .groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        sum(col("err_sum_v")).as("err_sum"),
        max(col("err_max_v")).as("err_max"),
        sum(col("mass_v")).as("mass"))
      .withColumn("rel_err_e4", expr("(10000 * err_sum) div mass"))
  }

  private def annScalarQuantSql =
    s"""WITH q AS (SELECT label, ${quantizeSql("embedding")} AS v FROM embeddings),
       |mx AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS ma FROM q),
       |e AS (
       |  SELECT label,
       |    CAST(list_sum(list_transform(v, x ->
       |      abs(x - (((x * 127) // ma) * ma) // 127))) AS BIGINT) AS err_sum_v,
       |    CAST(list_max(list_transform(v, x ->
       |      abs(x - (((x * 127) // ma) * ma) // 127))) AS BIGINT) AS err_max_v,
       |    CAST(list_sum(list_transform(v, x -> abs(x))) AS BIGINT) AS mass_v
       |  FROM q CROSS JOIN mx)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(err_sum_v) AS BIGINT) AS err_sum,
       |  max(err_max_v) AS err_max,
       |  CAST(sum(mass_v) AS BIGINT) AS mass,
       |  CAST((10000 * sum(err_sum_v)) // sum(mass_v) AS BIGINT) AS rel_err_e4
       |FROM e GROUP BY 1""".stripMargin

  // S15 `ann_rp_reduce`: the DIMENSIONALITY-reduction envelope — a
  // signed (±1) random projection from 64 to 16 lanes (Achlioptas'
  // database-friendly JL form: no floats, no gaussians — the variant
  // built for exactly this integer-lane setting), measured the S14
  // way: per label, exact int64 energy before (Σ‖v‖²) and after
  // (Σ‖p‖²) plus the worst projected component. The sign matrix is
  // md5-derived IN SCALA and embedded as literals in BOTH engines'
  // expressions (the maxabs-interpolation pattern), so the whole op
  // is one scan + one bounded hash-agg with every column exact —
  // Spark evaluates the 16 projections through the codegen'd
  // LongDotProduct against literal sign arrays; the JL concentration
  // law (Σ‖p‖² ≈ 16·Σ‖v‖²) is spec-pinned with BigInt arithmetic,
  // never an in-oracle ratio (10000·Σ‖p‖² overflows int64). At scale
  // this is the cheap pre-filter tier under S2/S3: rank in 16 lanes,
  // re-score survivors in 64.
  private val rpOutDims = 16
  private val rpInDims = 64

  private[graft] def rpSign(i: Int, j: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"rp:$i:$j".getBytes("UTF-8"))
    if (((h(0) >> 7) & 1) == 0) 1L else -1L
  }

  private def annRpReduce(s: SparkSession, d: String): DataFrame = {
    val signs = Array.tabulate(rpOutDims, rpInDims)((j, i) => rpSign(i, j))
    val base = Tables.embeddings(s, d)
      .select(col("label"), quantize(col("embedding")).as("v"))
    val projected = base.select(
      (col("label") +: dot(col("v"), col("v")).as("eo") +:
        (0 until rpOutDims).map(j =>
          dot(col("v"), array(signs(j).map(lit).toIndexedSeq: _*)).as(s"p$j"))): _*)
    val ep = (0 until rpOutDims).map(j => col(s"p$j") * col(s"p$j"))
      .reduce(_ + _)
    val maxp = greatest((0 until rpOutDims).map(j => abs(col(s"p$j"))): _*)
    projected
      .select(col("label"), col("eo"), ep.as("ep"), maxp.as("mp"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum(col("eo")).as("e_orig"),
        sum(col("ep")).as("e_proj"), max(col("mp")).as("max_abs_p"))
  }

  private def annRpReduceSql: String = {
    val signs = Array.tabulate(rpOutDims, rpInDims)((j, i) => rpSign(i, j))
    val pDefs = (0 until rpOutDims).map { j =>
      val lst = signs(j).mkString("[", ", ", "]")
      s"CAST(list_sum(list_transform(range(1, ${rpInDims + 1}), i -> v[i] * ($lst)[i])) AS BIGINT) AS p$j"
    }.mkString(",\n       ")
    val epSum = (0 until rpOutDims).map(j => s"p$j * p$j").mkString(" + ")
    val mp = (0 until rpOutDims).map(j => s"abs(p$j)").mkString("greatest(", ", ", ")")
    s"""WITH q AS (
       |  SELECT label, ${quantizeSql("embedding")} AS v FROM embeddings),
       |p AS (
       |  SELECT label,
       |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS eo,
       |       $pDefs
       |  FROM q)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(eo) AS BIGINT) AS e_orig,
       |  CAST(sum($epSum) AS BIGINT) AS e_proj,
       |  CAST(max($mp) AS BIGINT) AS max_abs_p
       |FROM p GROUP BY 1""".stripMargin
  }

  // S16 `ann_two_tier`: the tier S15's envelope was measured FOR —
  // rank the corpus per query in the 16 projected lanes (4× fewer
  // multiplies per candidate, 4× fewer bytes per cached vector), keep
  // a fixed candidate budget (top-50 by projected cosine), then
  // re-score ONLY the survivors exactly in 64 lanes and emit the
  // top-10. The projection is the S15 Achlioptas sign matrix
  // (md5-derived, embedded as literals in both engines, evaluated
  // through the codegen'd LongDotProduct). Scale shape: one corpus
  // scan; the projected corpus (pv, pnn riding beside v, nn) is
  // cache()d BEFORE the expanding broadcast join so the interpreted
  // quantize transform isn't re-evaluated per joined row, and the
  // un-expanded corpus is round-robin repartitioned so the ×|queries|
  // expansion doesn't run at parquet-split parallelism (both r11
  // rules); tier-1 ranks through the sort-free TWO-PHASE TopK (never
  // a |queries|-key window — the score-matrix shuffle); tier-2
  // touches ≤ 50·|queries| rows, so its ranking window is free. Ties
  // at both cuts break on vec_id ⇒ both engines keep identical
  // candidate sets and the driver hash-compare pins the whole
  // pipeline, approximation included.
  private val twoTierBudget = 50

  /** Projected corpus at an arbitrary INPUT dimension — the registered
    * op always runs at rpInDims (=64, the testdata width; the static
    * oracle SQL bakes the same matrix), while the high-dimension probe
    * (scale/sf100_twotier_hd256_r16.json, on the ScaleSmoke.ensureHd
    * fixture) drives the SAME code at 256-d, where the exact dot
    * actually dominates per-pair cost.
    * rpSign extends to any (i, j) by construction. */
  private def projectedCorpus(s: SparkSession, d: String,
      inDims: Int = rpInDims): DataFrame = {
    val signs = Array.tabulate(rpOutDims, inDims)((j, i) => rpSign(i, j))
    val pv = array((0 until rpOutDims).map(j =>
      dot(col("v"), array(signs(j).map(lit).toIndexedSeq: _*))): _*)
    quantized(s, d)
      .withColumn("pv", pv)
      .withColumn("pnn", sqNorm(col("pv")))
  }

  /** The two-tier pipeline over an arbitrary query predicate — the
    * oracle op pins (vec_id < 5, budget 50, k 10); the sf100
    * amortization probe drives the SAME code at production-like query
    * counts (the per-corpus-row projection is one-time, so the tier's
    * 4× per-candidate advantage needs enough queries to amortize it —
    * measured in SCALE.md round 15). */
  private[graft] def annTwoTierWith(s: SparkSession, d: String,
      isQuery: Column, budget: Int, k: Int,
      inDims: Int = rpInDims): DataFrame = {
    val all = projectedCorpus(s, d, inDims).cache()
    // tier-1 rows are (q_id, vec_id, p_sim) ONLY — carrying the
    // 64-lane payload through the |corpus|×|queries| expansion
    // materializes it per PAIR (measured at sf100/1019 queries:
    // 2e9 rows × ~550 B, 1.0 GB through the TopK shuffle, 87.6 s —
    // SLOWER than brute force). The payload-carry rule exists for
    // dedup pair sets whose re-attach is a corpus SHUFFLE join; here
    // the winner set is budget-bounded (≤ budget·|queries| rows), so
    // the re-attach is a broadcast-into-scan join over the cached
    // corpus — zero shuffle, one cheap cached pass — and the
    // expansion stays 24 B/row.
    val tq = broadcast(all.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("pv").as("qpv"), col("pnn").as("qpnn")))
    val corpus = all.filter(!isQuery)
      .repartition(s.sessionState.conf.numShufflePartitions)
    val t1 = corpus.join(tq)
      .select(col("q_id"), col("vec_id"),
        cosine(col("qpv"), col("pv"), col("qpnn"), col("pnn")).as("p_sim"))
    val cand = graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(
        t1, budget, "q_id", "p_sim", "vec_id"),
      budget, "q_id", "p_sim", "vec_id")
    val winners = broadcast(cand.select("q_id", "vec_id"))
    val rescored = all.filter(!isQuery).join(winners, Seq("vec_id"))
      .join(broadcast(all.filter(isQuery)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn"))),
        Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(rescored, k, "q_id", "cos_sim", "vec_id"),
      k, "q_id", "cos_sim", "vec_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id")))
        .cast("long"))
      .filter(col("rn") <= k)
  }

  /** Brute-force exact top-k over the same arbitrary query predicate —
    * the probe comparator (the S1 shape at probe query counts; never a
    * |queries|-key window). */
  private[graft] def bruteTopKWith(s: SparkSession, d: String,
      isQuery: Column, k: Int): DataFrame = {
    val all = quantized(s, d).cache()
    val queries = broadcast(all.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn")))
    val corpus = all.filter(!isQuery)
      .repartition(s.sessionState.conf.numShufflePartitions)
    val scored = corpus.join(queries)
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(scored, k, "q_id", "cos_sim", "vec_id"),
      k, "q_id", "cos_sim", "vec_id")
  }

  private def annTwoTier(s: SparkSession, d: String): DataFrame =
    annTwoTierWith(s, d, col("vec_id") < 5, twoTierBudget, 10)

  // the 16-lane projection list, shared by every two-tier oracle
  private def pvListSql: String = {
    val signs = Array.tabulate(rpOutDims, rpInDims)((j, i) => rpSign(i, j))
    (0 until rpOutDims).map { j =>
      val lst = signs(j).mkString("[", ", ", "]")
      s"CAST(list_sum(list_transform(range(1, ${rpInDims + 1}), i -> v[i] * ($lst)[i])) AS BIGINT)"
    }.mkString("[", ",\n       ", "]")
  }

  // the projected-lane CTE shared by the S16 oracle and S17's eval:
  // every vector gains its 16-lane pv + pnn beside v + nn
  private def twoTierCtes: String = {
    s"""$quantizedCte,
       |pr AS (SELECT vec_id, v, nn, $pvListSql AS pv FROM n),
       |prn AS (SELECT vec_id, v, nn, pv,
       |  CAST(list_sum(list_transform(pv, x -> x * x)) AS BIGINT) AS pnn FROM pr),
       |t1 AS (
       |  SELECT q.vec_id AS q_id, c.vec_id, c.v AS cv, c.nn AS cnn,
       |    q.v AS qv, q.nn AS qnn,
       |    ${cosineSql("q.pv", "c.pv", "q.pnn", "c.pnn")} AS p_sim
       |  FROM prn q JOIN prn c ON q.vec_id < 5 AND c.vec_id >= 5),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY p_sim DESC, vec_id) AS prank
       |    FROM t1) WHERE prank <= $twoTierBudget),
       |t2 AS (
       |  SELECT q_id, vec_id,
       |    ${cosineSql("qv", "cv", "qnn", "cnn")} AS cos_sim
       |  FROM cand),
       |r2 AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn
       |  FROM t2)""".stripMargin
  }

  private def annTwoTierSql: String =
    s"""WITH $twoTierCtes
       |SELECT q_id, vec_id, cos_sim, rn FROM r2 WHERE rn <= 10""".stripMargin

  // S17 `ann_two_tier_recall`: the S9-style acceptance eval for S16 —
  // per query, what fraction of the TRUE top-10 (S1's brute-force
  // ranking) the 16-lane pre-filter's fixed 50-candidate budget
  // retains after exact re-scoring. This is the number that licenses
  // the two-tier plan at any scale: both sides are the
  // already-verified operators, so the eval itself is a tiny
  // per-query join + hash-agg — exact integer recall_e4.
  private def annTwoTierRecall(s: SparkSession, d: String): DataFrame = {
    val gt = annTruth(s, d)
      .select(col("q_id"), col("vec_id"))
    val tt = annTwoTier(s, d)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    gt.join(tt.hint("shuffle_hash"), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_e4", expr("(10000 * n_hit) div n_true"))
  }

  private def annTwoTierRecallSql: String =
    s"""WITH $twoTierCtes,
       |tt AS (SELECT q_id, vec_id FROM r2 WHERE rn <= 10),
       |gx AS (
       |  SELECT q.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5),
       |gr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM gx) WHERE rn <= 10)
       |SELECT g.q_id, count(*) AS n_true,
       |  CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((10000 * sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS recall_e4
       |FROM gr g LEFT JOIN tt t ON t.q_id = g.q_id AND t.vec_id = g.vec_id
       |GROUP BY 1""".stripMargin

  // S18 `ann_lsh_two_tier`: the COMPOSITION the two tiers were built
  // toward (r13 verdict item 2's "or" branch, built beside the
  // measured 256-d crossover): S2's LSH bucket cuts the CANDIDATE SET
  // (same-bucket vectors only, ~n/256 per query, partition-pruned off
  // the persisted bucket-partitioned index), S16's 16-lane projected
  // rank cuts the per-candidate MULTIPLY cost inside the bucket, and
  // the fixed 50-candidate budget re-scores exactly in 64 lanes.
  // Versus the flat S16 the tier-1 pair count drops ~256× (the flat
  // form scores |queries|×|corpus| pairs in projected lanes; this
  // scores |queries|×|bucket|) — the candidate cut the verdict asked
  // for, not just a multiply cut. Scale shape: the index is
  // predicate-independent capital (the WHOLE projected corpus,
  // bucket-partitioned — queries filter at read time, so probe query
  // sets reuse the same capital); tier-1 is an EQUI broadcast join on
  // bucket (no condition-less nested loop — tighter than flat S16's
  // allowlisted expansion) whose scan prunes to the probed bucket
  // directories; tier-1 rows stay (q_id, vec_id, p_sim) = 24 B (the
  // r15 payload rule); survivors re-attach broadcast-into-scan; both
  // cuts tie-break on vec_id so the driver hash-compare pins the
  // whole pipeline, bucket pruning and budget included.
  private[graft] def annLshTwoTierWith(s: SparkSession, d: String,
      isQuery: Column, budget: Int, k: Int): DataFrame = {
    val idx = persistedIndex(s, d, "lsh2t_idx", "bucket") {
      projectedCorpus(s, d)
        .withColumn("bucket", lshBucket(col("v")).cast("int"))
    }
    val tq = broadcast(idx.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("pv").as("qpv"),
        col("pnn").as("qpnn"), col("bucket")))
    val t1 = idx.filter(!isQuery).join(tq, Seq("bucket"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qpv"), col("pv"), col("qpnn"), col("pnn")).as("p_sim"))
    val cand = graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(t1, budget, "q_id", "p_sim", "vec_id"),
      budget, "q_id", "p_sim", "vec_id")
    val winners = broadcast(cand.select("q_id", "vec_id"))
    val rescored = idx.filter(!isQuery).join(winners, Seq("vec_id"))
      .join(broadcast(idx.filter(isQuery)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nn").as("qnn"))),
        Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qnn"), col("nn")).as("cos_sim"))
    graft.plans.TopK.topKPerKey(
      graft.plans.TopK.topKPerKeyLocal(rescored, k, "q_id", "cos_sim", "vec_id"),
      k, "q_id", "cos_sim", "vec_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id")))
        .cast("long"))
      .filter(col("rn") <= k)
  }

  private def annLshTwoTier(s: SparkSession, d: String): DataFrame =
    annLshTwoTierWith(s, d, col("vec_id") < 5, twoTierBudget, 10)

  // the bucket-pruned projected CTEs — twoTierCtes' candidate join
  // restricted to the query's LSH bucket
  private def lshTwoTierCtes: String =
    s"""$quantizedCte,
       |pr AS (SELECT vec_id, v, nn, $pvListSql AS pv FROM n),
       |prn AS (SELECT vec_id, v, nn, pv,
       |  CAST(list_sum(list_transform(pv, x -> x * x)) AS BIGINT) AS pnn FROM pr),
       |bk AS (SELECT *, ${lshBucketSql("v")} AS bucket FROM prn),
       |t1 AS (
       |  SELECT q.vec_id AS q_id, c.vec_id, c.v AS cv, c.nn AS cnn,
       |    q.v AS qv, q.nn AS qnn,
       |    ${cosineSql("q.pv", "c.pv", "q.pnn", "c.pnn")} AS p_sim
       |  FROM bk q JOIN bk c
       |    ON q.bucket = c.bucket AND q.vec_id < 5 AND c.vec_id >= 5),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY p_sim DESC, vec_id) AS prank
       |    FROM t1) WHERE prank <= $twoTierBudget),
       |t2 AS (
       |  SELECT q_id, vec_id,
       |    ${cosineSql("qv", "cv", "qnn", "cnn")} AS cos_sim
       |  FROM cand),
       |r2 AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn
       |  FROM t2)""".stripMargin

  private def annLshTwoTierSql: String =
    s"""WITH $lshTwoTierCtes
       |SELECT q_id, vec_id, cos_sim, rn FROM r2 WHERE rn <= 10""".stripMargin

  // S19 `ann_lsh_two_tier_recall`: the S17-style acceptance eval for
  // the composed pipeline — per query, what fraction of the TRUE
  // top-10 survives BOTH cuts (bucket pruning AND the 50-candidate
  // budget). Beside S17's number this prices the bucket: the recall
  // S17 loses to the budget alone vs what S18 loses to budget +
  // pruning is exactly the dial a deployment sizes its band count /
  // multi-probe with.
  private def annLshTwoTierRecall(s: SparkSession, d: String): DataFrame = {
    val gt = annTruth(s, d)
      .select(col("q_id"), col("vec_id"))
    val tt = annLshTwoTier(s, d)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    gt.join(tt.hint("shuffle_hash"), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_e4", expr("(10000 * n_hit) div n_true"))
  }

  private def annLshTwoTierRecallSql: String =
    s"""WITH $lshTwoTierCtes,
       |tt AS (SELECT q_id, vec_id FROM r2 WHERE rn <= 10),
       |gx AS (
       |  SELECT q.vec_id AS q_id, c.vec_id,
       |    ${cosineSql("q.v", "c.v", "q.nn", "c.nn")} AS cos_sim
       |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5),
       |gr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM gx) WHERE rn <= 10)
       |SELECT g.q_id, count(*) AS n_true,
       |  CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((10000 * sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS recall_e4
       |FROM gr g LEFT JOIN tt t ON t.q_id = g.q_id AND t.vec_id = g.vec_id
       |GROUP BY 1""".stripMargin

  override def ops: Seq[Op] = Seq(
    Op("ann_two_tier", annTwoTier, Some(annTwoTierSql)),
    Op("ann_two_tier_recall", annTwoTierRecall, Some(annTwoTierRecallSql)),
    Op("ann_lsh_two_tier", annLshTwoTier, Some(annLshTwoTierSql)),
    Op("ann_lsh_two_tier_recall", annLshTwoTierRecall, Some(annLshTwoTierRecallSql)),
    Op("ann_rp_reduce", annRpReduce, Some(annRpReduceSql)),
    Op("ann_scalar_quant", annScalarQuant, Some(annScalarQuantSql)),
    Op("ann_probe_sweep", annProbeSweep, Some(annProbeSweepSql)),
    Op("ann_filtered", annFiltered, Some(annFilteredSql)),
    Op("knn_graph", knnGraph, Some(knnGraphSql)),
    Op("knn_recall", knnRecall, Some(knnRecallSql)),
    Op("ann_recall", annRecall, Some(annRecallSql)),
    Op("embedding_drift", embeddingDrift, Some(embeddingDriftSql)),
    Op("embedding_qc", embeddingQc, Some(embeddingQcSql)),
    Op("cosine_topk", cosineTopK, Some(cosineTopKSql)),
    Op("ann_lsh", annLsh, Some(annLshSql)),
    Op("ann_ivf", annIvf, Some(annIvfSql)),
    Op("corpus_cluster", corpusCluster, Some(corpusClusterSql)),
    Op("ann_pq", annPq, Some(annPqSql)),
    Op("ann_ivfpq", annIvfPq, Some(annIvfPqSql)))
}
