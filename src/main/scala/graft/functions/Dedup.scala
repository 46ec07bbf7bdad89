package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, OpFamily, Sizing}
import graft.sources.Tables

/** Deduplication for training-data pipelines (north-star addition).
  *
  * The 100 TB shapes:
  *  - exact dedup = one hash aggregation on a content digest (D1);
  *  - near-dup = MinHash + LSH banding (D2): shingle → 16 minhashes →
  *    4 bands × 4 rows → candidates are docs sharing a band bucket.
  *    Turns O(n²) pair enumeration into an equi-join on (band, hash) —
  *    the join keys are uniformly distributed digests, so no skew;
  *  - verification = exact Jaccard only on the candidate pairs (D3);
  *  - embedding near-dup = label-blocked quantized cosine (D5).
  *
  * All hashing is md5 (identical hex in every engine); minhash "values"
  * are the lexicographic minima of salted digests, so signatures are
  * engine-neutral strings. Embedding math is fixed-point (×1000 int64)
  * — exact in any summation order (see SURVEY §5).
  */
object Dedup extends OpFamily {

  // ---- shared shingle pipeline (3-word shingles) ----
  private[functions] def shingledDocs(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
    tok.select(col("doc_id"), explode(transform(
      sequence(lit(1), size(col("t")) - 2),
      i => concat_ws(" ", slice(col("t"), i, lit(3))))).as("s"))
  }

  // Opt r14: the shingle explode is superlinear per row (one doc row →
  // n_tokens shingle rows, each md5'd downstream), so it runs INSIDE
  // the scan at parquet-split parallelism — one task on the
  // single-file bench corpus. Round-robin repartition the un-expanded
  // docs first (the CLAUDE.md heavy-explode rule), sized from table
  // bytes. Batch entry points only — the streaming bandRows path
  // shingles per-micro-batch frames and must NOT pay a per-batch
  // shuffle (the round-12 flat-stream rule).
  private[functions] def docsRepartitioned(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(Tables.volumePartitions(s, s"$d/documents.parquet"))

  private[functions] def shingled(s: SparkSession, d: String): DataFrame =
    shingledDocs(docsRepartitioned(s, d))

  private[functions] val shingleCte =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tk AS (SELECT doc_id, t FROM tok WHERE len(t) >= 3),
      |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS s FROM tk)""".stripMargin

  private val nHashes = 16
  private val nBands = 4 // 4 rows per band

  // One md5 per shingle; the b·r minhash functions are derived by
  // Kirsch–Mitzenmacher double hashing g_j = a + j·b over two 32-bit
  // halves of the digest — the standard constant-cost way to get a
  // hash family for LSH (b·r× fewer digest computations at any scale).
  // a,b < 2^32 and j small, so every g_j is exact int64 in any engine.
  //
  // The (bands × rowsPerBand) shape is the SIMILARITY-THRESHOLD knob:
  // a pair is a candidate iff all r mins of some band agree, so
  // P[candidate] = 1−(1−J^r)^b and the threshold sits near (1/b)^(1/r)
  // — more bands of fewer rows catches lower-Jaccard pairs (8×2 →
  // τ≈0.35), fewer bands of more rows is stricter (2×8 → τ≈0.92); the
  // default 4×4 (τ≈0.7) is the classic near-dup setting. The band-
  // shape spec asserts the resulting candidate-count monotonicity.
  private[graft] def bandsDfWith(
      s: SparkSession, d: String, bands: Int, rowsPerBand: Int): DataFrame =
    bandsOfDocs(docsRepartitioned(s, d), bands, rowsPerBand)

  // A doc's signature depends only on its OWN shingles, so banding a
  // subset of the corpus yields bit-identical rows to banding it whole
  // — the property D9's incremental index relies on.
  private[graft] def bandsOfDocs(
      docs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val ab = shingledDocs(docs).select(col("doc_id"), md5(col("s")).as("h"))
      .select(col("doc_id"),
        expr("cast(conv(substr(h, 1, 8), 16, 10) as bigint)").as("a"),
        expr("cast(conv(substr(h, 9, 8), 16, 10) as bigint)").as("b"))
    val hashAggs = (0 until bands * rowsPerBand).map(j =>
      min(col("a") + lit(j.toLong) * col("b")).as(s"h$j"))
    val mh = ab.groupBy("doc_id").agg(hashAggs.head, hashAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until rowsPerBand).map(r =>
          col(s"h${b * rowsPerBand + r}").cast("string")): _*)).as("bh"))
    }
    mh.select(col("doc_id"), explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  private[graft] def bandsDf(s: SparkSession, d: String): DataFrame =
    bandsDfWith(s, d, nBands, nHashes / nBands)

  /** Band rows of an arbitrary docs frame at the default 4×4 shape —
    * the unit both the D9 index build and the streaming admission
    * gate (stream_admit) persist and probe. */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    bandsOfDocs(docs, nBands, nHashes / nBands)

  // hex→int64 for the oracle (DuckDB cannot conv()): Σ nibble·16^k
  private def hexCol(start: Int): String =
    s"CAST(list_sum(list_transform(range(0, 8), i -> " +
      s"(strpos('0123456789abcdef', substr(h, $start + CAST(i AS INT), 1)) - 1) * CAST(pow(16, 7 - i) AS BIGINT))) AS BIGINT)"

  private def minhashCte = {
    val mins = (0 until nHashes).map(j => s"CAST(min(a + $j * b) AS BIGINT) AS h$j").mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val cc = (0 until 4).map(r => s"CAST(h${b * 4 + r} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cc) AS bh FROM mh"
    }.mkString(" UNION ALL ")
    s"""ab AS (SELECT doc_id, ${hexCol(1)} AS a, ${hexCol(9)} AS b
       |       FROM (SELECT doc_id, md5(s) AS h FROM sh)),
       |mh AS (SELECT doc_id, $mins FROM ab GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  /** The band-bucket join's raw pair stream, BEFORE the cross-band
    * distinct — the unit the closure pipeline contracts in-task
    * ([[contractPairs]]): the distinct is the explicit-pair-set shuffle
    * that blows up on a quadratic-mass cluster (SCALE finding 9's
    * volume half), and connected components never needed it. */
  private[graft] def candidatePairsRaw(s: SparkSession, d: String): DataFrame = {
    // self-join: materialize the (small) band table once, not per side
    val b = bandsDf(s, d).cache()
    val a1 = b.alias("a")
    val a2 = b.alias("b")
    a1.join(a2, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  private[graft] def candidatePairs(s: SparkSession, d: String): DataFrame =
    candidatePairsRaw(s, d).distinct()

  /** Bucket-local contraction — the round-10 fix for the one named
    * scale-killer (SCALE finding 9): a quadratic-mass near-dup cluster
    * (a planted 1 % clique is C(20k,2) ≈ 2e8 pairs per band at sf100)
    * makes the EXPLICIT pair set itself the bottleneck — ~100+ GB of
    * shuffle scratch that no partitioning shrinks, because C(n,2) is a
    * data property. Connected components only needs CONNECTIVITY, so
    * each task's pair stream is collapsed in place: an in-task
    * union-find (path compression, union by min id) over the
    * partition's pairs emits one star edge per non-root node
    * (node → its partition-local component root). A clique's C(n,2)
    * pairs become ≤ n−1 edges per task before anything reaches the
    * wire; union over tasks preserves global connectivity exactly
    * (each task's edge set is replaced by a spanning star of the same
    * local components — Round10Spec proves label-set equality on
    * random graphs and the driver oracle re-proves the full closure).
    * Runs in the SAME stage as the producing join (mapPartitions, no
    * extra shuffle); the heavy cosine/hamming filters stay ahead of it
    * inside whole-stage codegen. Memory is one long-map entry per
    * DISTINCT node in the task — bounded by the task's input rows,
    * which the D5 block-pair tiling already budgets. */
  private[graft] def contractPairs(
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val s = pairs.sparkSession
    // Consume the verified pair stream as InternalRows
    // (queryExecution.toRdd): the Dataset[(Long, Long)] encoder path
    // allocates a Tuple2 + two boxed Longs PER PAIR, and a
    // quadratic-mass cluster pushes ~1e10 verified pairs through this
    // iterator at sf100 — the boxing was the contraction's own GC
    // bill. Rows are read (two getLongs) before the iterator reuses
    // the backing UnsafeRow; only the tiny star-edge output boxes.
    val stars = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        while (it.hasNext) {
          val row = it.next()
          // getLong on a null field silently yields 0 (unlike the old
          // encoder path, which threw) — a null id would fabricate
          // node-0 star edges and merge unrelated clusters. Ids come
          // from inner joins today; guard loudly anyway (ADVICE r10).
          if (row.isNullAt(0) || row.isNullAt(1))
            throw new IllegalStateException(
              "contractPairs: null pair id — caller must feed non-null ids")
          val a = row.getLong(0)
          val b = row.getLong(1)
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a)
          val rb = find(b)
          if (ra < rb) parent.update(rb, ra)
          else if (rb < ra) parent.update(ra, rb)
        }
        // snapshot keys first: find() mutates the map while compressing
        val nodes = parent.keys.toArray
        nodes.iterator.map(n => (n, find(n))).collect {
          case (n, r) if n != r => org.apache.spark.sql.Row(n, r)
        }
        // roots emit nothing — every local component has ≥ 2 nodes
        // (nodes only enter via a pair), so the root survives as some
        // edge's dst
      }
    s.createDataFrame(stars, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        aCol, org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(
        bCol, org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** CTE bundle ending in `cand(doc_a, doc_b)` — the D2 candidate pairs;
    * shared with the cluster-resolution oracle ([[Clusters]]). */
  private[functions] def candCtes: String =
    s"""$shingleCte,
       |$minhashCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  private def candSql =
    s"""WITH $candCtes
       |SELECT doc_a, doc_b FROM cand""".stripMargin

  // D1: exact dedup on content digest; canonical survivor = min doc_id.
  private def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  private val dedupExactSql =
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // D2: MinHash-LSH candidate pairs.
  private def dedupMinhash(s: SparkSession, d: String): DataFrame = candidatePairs(s, d)

  // D3: exact 3-shingle Jaccard on the D2 candidates (verify stage).
  // The distinct shingle set feeds three consumers (candidate mining via
  // bands, the intersection join twice) — materialize it once instead of
  // re-deriving parquet→split→explode per consumer. Same move a 100 TB
  // run makes by checkpointing the shingle table before the verify join.
  // The verified overlap table is deterministic per dataset and feeds
  // three ops (D3 jaccard, D8 containment, D13 sweep) — persisted via
  // buildOnce like pairLabels/exactJoinTruth, so the candidate mining
  // + double intersection probe runs once per (session, dataset)
  // instead of once per consumer call ("verify once, consume many" —
  // at 100 TB the verify join is the expensive stage).
  private def pairOverlap(s: SparkSession, d: String): DataFrame = {
    val path = s"${Tables.workDir(s)}/pair_overlap_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path)(pairOverlapBuild(s, d))
    Tables.read(s, path)
  }

  private def pairOverlapBuild(s: SparkSession, d: String): DataFrame = {
    val cand = candidatePairs(s, d).cache()
    // semi-join the shingle table down to docs that appear in some
    // candidate pair BEFORE the two intersection probes — at scale the
    // candidate docs are a tiny fraction of the corpus, so this shrinks
    // both probe sides from |corpus shingles| to |candidate shingles|.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val dsh = shingled(s, d).distinct()
      .join(candDocs, Seq("doc_id"), "left_semi").cache()
    val sz = dsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(dsh.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(dsh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_n"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
  }

  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    pairOverlap(s, d)
      .select(col("doc_a"), col("doc_b"), col("inter_n"),
        (col("na") + col("nb") - col("inter_n")).as("union_n"),
        (col("inter_n").cast("double") /
          (col("na") + col("nb") - col("inter_n")).cast("double")).as("jaccard"))

  private def jaccardSql =
    s"""WITH $candCtes,
       |dsh AS (SELECT DISTINCT doc_id, s FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
       |i AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter_n
       |  FROM cand c JOIN dsh x ON x.doc_id = c.doc_a JOIN dsh y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.inter_n,
       |  sa.n + sb.n - i.inter_n AS union_n,
       |  CAST(i.inter_n AS DOUBLE)/CAST(sa.n + sb.n - i.inter_n AS DOUBLE) AS jaccard
       |FROM i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b""".stripMargin

  // D8 `dedup_containment`: ASYMMETRIC overlap — the subset-duplicate
  // signal Jaccard structurally misses. A short doc fully quoted inside
  // a long one has containment(C(A,B) = |A∩B|/|A|) = 1.0 while its
  // Jaccard |A∩B|/|A∪B| can sit far below any dedup threshold — union
  // grows with the LONG doc. Real pipelines (e.g. quote/boilerplate
  // removal) gate on max-direction containment for exactly this case.
  // Same bucketed candidate pipeline as D3 (LSH candidates → semi-join
  // reduction → one intersection join), different verdict: exact e4
  // integer containment both directions, keep pairs ≥ 0.8 in EITHER,
  // tagged with which doc is the contained one. All-integer ⇒
  // hash-exact in any engine/partitioning.
  private def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val contA = expr("(10000 * inter_n) div na") // containment of A in B
    val contB = expr("(10000 * inter_n) div nb")
    pairOverlap(s, d)
      .select(col("doc_a"), col("doc_b"), col("inter_n"), col("na"), col("nb"),
        contA.as("cont_a_e4"), contB.as("cont_b_e4"))
      .filter(greatest(col("cont_a_e4"), col("cont_b_e4")) >= 8000)
      .withColumn("contained",
        when(col("cont_a_e4") >= col("cont_b_e4"), "a_in_b").otherwise("b_in_a"))
  }

  private def containmentSql =
    s"""WITH $candCtes,
       |dsh AS (SELECT DISTINCT doc_id, s FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
       |i AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter_n
       |  FROM cand c JOIN dsh x ON x.doc_id = c.doc_a JOIN dsh y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT i.doc_a, i.doc_b, i.inter_n, sa.n AS na, sb.n AS nb,
       |    (10000 * i.inter_n) // sa.n AS cont_a_e4,
       |    (10000 * i.inter_n) // sb.n AS cont_b_e4
       |  FROM i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b)
       |SELECT doc_a, doc_b, inter_n, na, nb, cont_a_e4, cont_b_e4,
       |  CASE WHEN cont_a_e4 >= cont_b_e4 THEN 'a_in_b' ELSE 'b_in_a' END AS contained
       |FROM j WHERE greatest(cont_a_e4, cont_b_e4) >= 8000""".stripMargin

  // D9 `dedup_incremental`: the snapshot+delta form of D2 — the only
  // shape LSH dedup takes at a 100 TB/day ingest rate, where
  // re-signaturing yesterday's corpus per crawl is the cost that kills
  // the naive pipeline (E13's never-replay-from-zero contract applied
  // to documents). The OLD corpus (doc_id ≤ T, T = 80% of the id
  // range, standing in for "yesterday") has its band rows persisted
  // ONCE per (session, dataset); a NEW batch (doc_id > T) is the only
  // side that runs the shingle→minhash→band pipeline, and the probe is
  // one equi-join of the new bands against index ∪ new on the uniform
  // (band, digest) key — no skew, no old-side recompute. Output =
  // every candidate pair touching a new doc; since new ids are all
  // > T and pairs are emitted doc_a < doc_b, that is exactly
  // doc_b > T. Oracle = D2's full-corpus candidate set filtered the
  // same way, proving the incremental path EQUALS the full recompute
  // restricted to what a new batch can introduce.
  // max(doc_id) via parquet footer statistics — a metadata-only read,
  // not a table scan (the r7 verdict's stats short-circuit note)
  private[graft] def incThreshold(s: SparkSession, d: String): Long =
    Tables.maxIdFromStats(s, s"$d/documents.parquet", "doc_id",
      Tables.documents(s, d)) * 4L / 5L

  /** The D9 probe, shared with D10's admission verdict. The persisted
    * band index commits via [[Tables.buildOnce]] (staged write + atomic
    * rename behind a per-path lock — racing callers block, never read a
    * half-written index). */
  private[functions] def incPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = incThreshold(s, d)
    val path = s"${Tables.workDir(s)}/dedup_inc_idx_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path)(
      bandsOfDocs(docs.filter(col("doc_id") <= t), nBands, nHashes / nBands))
    val oldIdx = Tables.read(s, path)
    val newBands = bandsOfDocs(docs.filter(col("doc_id") > t),
      nBands, nHashes / nBands).cache()
    // new side is the (small) build side of a shuffle-hash join — the
    // index streams through unsorted at any corpus size
    oldIdx.unionByName(newBands).alias("a")
      .join(newBands.hint("shuffle_hash").alias("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private def dedupIncremental(s: SparkSession, d: String): DataFrame =
    incPairs(s, d)

  private def incrementalSql =
    s"""WITH $candCtes,
       |thr AS (SELECT (max(doc_id) * 4) // 5 AS t FROM documents)
       |SELECT doc_a, doc_b FROM cand WHERE doc_b > (SELECT t FROM thr)""".stripMargin

  // D10 `dedup_admit`: the admission VERDICT the incremental probe
  // exists to produce — per NEW doc, keep or drop with a reason and
  // the canonical earlier doc it duplicates. Precedence mirrors a real
  // ingest gate: byte-identical content (D1's digest, matched against
  // ANY smaller doc id) outranks near-dup (a D9 candidate pair),
  // outranks keep; dup_of is the MINIMUM counterpart either way (the
  // same canonical-survivor rule D6 uses), null for keeps. Shapes:
  // the digest match is an equi-join on md5(text) — uniform key, no
  // skew, old side never re-hashed beyond one projection — and the
  // near side reuses D9's persisted-index probe verbatim. One row per
  // new doc, so the output is exactly the new batch re-emitted with a
  // decision — what the next pipeline stage (P2's export) consumes.
  private def dedupAdmit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = incThreshold(s, d)
    val digests = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = digests.filter(col("doc_id") > t).alias("n")
      .join(digests.alias("o"),
        col("o.h") === col("n.h") && col("o.doc_id") < col("n.doc_id"))
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(min(col("o.doc_id")).as("exact_of"))
    val near = incPairs(s, d)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("near_of"))
    // verdict sides are tiny pre-aggregated per-doc tables — hint them
    // as shuffle-hash build sides so the assembly stays sort-free (the
    // E19/R17 shape; an SMJ would sort the whole new batch twice)
    docs.select(col("doc_id"), col("lang")).filter(col("doc_id") > t)
      .join(exact.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("exact_of").isNotNull, "exact_dup")
          .when(col("near_of").isNotNull, "near_dup")
          .otherwise("keep").as("verdict"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
  }

  private[graft] def admitSql =
    s"""WITH $candCtes,
       |thr AS (SELECT (max(doc_id) * 4) // 5 AS t FROM documents),
       |dg AS (SELECT doc_id, md5(text) AS h FROM documents),
       |ex AS (
       |  SELECT n.doc_id, min(o.doc_id) AS exact_of
       |  FROM dg n JOIN dg o ON o.h = n.h AND o.doc_id < n.doc_id
       |  WHERE n.doc_id > (SELECT t FROM thr) GROUP BY 1),
       |nr AS (
       |  SELECT doc_b AS doc_id, min(doc_a) AS near_of
       |  FROM cand WHERE doc_b > (SELECT t FROM thr) GROUP BY 1)
       |SELECT d.doc_id, d.lang,
       |  CASE WHEN ex.exact_of IS NOT NULL THEN 'exact_dup'
       |       WHEN nr.near_of IS NOT NULL THEN 'near_dup'
       |       ELSE 'keep' END AS verdict,
       |  coalesce(ex.exact_of, nr.near_of) AS dup_of
       |FROM documents d
       |LEFT JOIN ex ON ex.doc_id = d.doc_id
       |LEFT JOIN nr ON nr.doc_id = d.doc_id
       |WHERE d.doc_id > (SELECT t FROM thr)""".stripMargin

  // D5: embedding near-dup — pairwise quantized cosine, blocked on a
  // banded hyperplane-LSH OR-construction: `embPlanes` sign bits per
  // band (2^16 buckets here, block size n/65536) and `embBands`
  // DISJOINT plane families, a pair being a candidate when it collides
  // in ANY band. The plane count is the scale knob — within-block pairs
  // grow as n²/2^planes, so a larger corpus takes more planes, and
  // bands buy back the recall each plane's sign test costs
  // (P[candidate] = 1−(1−r^planes)^bands for sign-agreement rate r).
  // Measured on the driver data (τ≥0.4 truth set, an LSH-hard regime:
  // the synthetic corpus has no high-cosine near-dups, max cos ≈ 0.51):
  // 16×6 matches the old single 8-plane band's recall at ~0.65× its
  // candidate volume with 256× smaller blocks, and recall is monotone
  // in the band count (the recall spec asserts both). A real dedup
  // corpus concentrates mass at cos→1 where per-band recall ≈ r^planes
  // is high for every config.
  private[graft] val embPlanes = 16
  private[graft] val embBands = 6

  /** The banded-LSH candidate id pairs alone (no cosine verify) — the
    * generator the D17 band-shape sweep grades per configuration. */
  private[graft] def embCandidates(
      s: SparkSession, d: String, planes: Int, bands: Int): DataFrame =
    embCandidatesFrom(Tables.embeddings(s, d).select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("v")), planes, bands)

  private[graft] def embCandidatesFrom(
      q: DataFrame, planes: Int, bands: Int): DataFrame = {
    val n = (0 until bands).foldLeft(q) {
      (df, b) => df.withColumn(s"bk$b", Similarity.lshBucket(col("v"), planes, b))
    }.drop("v").cache()
    (0 until bands).map { b =>
      n.select(col("vec_id").as("vec_a"), col(s"bk$b").as("bk")).alias("a")
        .join(n.select(col("vec_id").as("vec_b"), col(s"bk$b").as("bk")).alias("b"), "bk")
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b")
    }.reduce(_ union _).distinct()
  }

  /** Max bucket size per band — the 6-row measurement the per-band
    * tiling decision plans from. The profile is a pure function of
    * (dataset, planes, bands), so it is persisted as per-dataset
    * capital (buildOnce, datasetTag-keyed) rather than re-measured per
    * invocation: r9 ran the measurement job inside every
    * dedup_embedding call and paid ~100 ms per bench rep for a number
    * that never changes (VERDICT r9 next-round #6). First build still
    * costs one job over the cached signatures (which also materializes
    * the cache, keeping the interpreted quantize/lshBucket transforms
    * single-evaluation); every later call is a 6-row parquet read. */
  private[graft] def bandProfile(s: SparkSession, d: String,
      planes: Int, bands: Int, n: DataFrame): Map[Int, Long] = {
    // v2: the profile also carries max|component| as a band = -1 row —
    // the range check that licenses the 16-bit packed wire format for
    // this dataset's band joins (PackShorts). Same capital discipline:
    // a pure function of the dataset, measured once.
    val path = s"${Tables.workDir(s)}/emb_profile_v2_${planes}x${bands}_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path) {
      n.select(posexplode(
          array((0 until bands).map(b => col(s"bk$b")): _*)).as(Seq("band", "bk")))
        .groupBy("band", "bk").agg(count(lit(1)).as("c"))
        .groupBy("band").agg(max("c").as("m"))
        .union(n
          .select(array_max(transform(col("v"), x => abs(x))).as("ma"))
          .agg(max(col("ma")).as("m"))
          .select(lit(-1).as("band"), col("m")))
    }
    Tables.read(s, path).collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  private[graft] def dedupEmbeddingWith(
      s: SparkSession, d: String, planes: Int, bands: Int): DataFrame =
    embPairBands(s, d, planes, bands).reduce(_ union _).distinct()

  /** One DataFrame of verified (vec_a, vec_b, cos_sim) pairs PER BAND —
    * the un-unioned, un-deduplicated streams. [[dedupEmbeddingWith]]
    * unions + distincts them (the D5 op contract: the explicit pair
    * set); [[embEdgesContracted]] contracts each band's stream in-task
    * instead, so the closure consumers (D16 semantic clustering) never
    * materialize a quadratic-mass cluster's C(n,2) edges. */
  private[graft] def embPairBands(
      s: SparkSession, d: String, planes: Int, bands: Int): Seq[DataFrame] = {
    // Cosines are computed INSIDE each band's self-join — the vectors
    // ride the bucket rows, so the threshold prunes pairs before
    // anything is unioned or deduplicated. The previous shape
    // (pair-id set → distinct → re-attach both vectors via two joins)
    // shuffled the EXPANDED pair table three times carrying ~1 KB
    // rows; at the sf10 smoke the clustered corpus put ~1e8 pairs
    // through that re-attach and OOM'd the heap. cos_sim is a
    // deterministic function of the exact int64 vectors, so the
    // cross-band distinct on (vec_a, vec_b, cos_sim) collapses
    // duplicates exactly. The cache() boundary also stops
    // CollapseProject from inlining the interpreted quantize/lshBucket
    // transforms into the per-pair expressions (the knn_graph lesson).
    //
    // SCALE finding 9 (sf100 probe): a plain per-bucket self-join
    // serializes each band's point-mass bucket into ONE task — at
    // sf100 the planted 1 % cluster (20 k vectors) is ~2e8 pairs per
    // band ground by a single core for >35 min. knn_graph's salting
    // (probe one salt, build replicated) is top-k-only — dedup needs
    // EVERY within-bucket pair exactly once — so oversized buckets
    // get the D17 BLOCK-PAIR tiling instead: rows of a bucket of size
    // c split into g = ceil(c/√2e7) blocks (the budget fixes the BLOCK
    // SIZE — see Sizing.tileBlocks), each unordered block pair (i ≤ j) is its
    // own join key, so every vector pair still meets exactly once but
    // the hot bucket becomes g(g+1)/2 bounded tasks of ≈2e7 cosines,
    // at c·(g+1)/2 input replication. The tiling machinery (count-agg + broadcast
    // + exploded pair keys per band) costs real time on healthy data
    // (measured 0.4 → 3.1 s at sf0.1), so the shape is decided PER
    // BAND from one measurement job over the cached signatures — the
    // AQE philosophy: plan from measured sizes. Bands whose largest
    // bucket stays under the 2e7-pair task budget keep the exact
    // single-key join; only pathological bands pay for tiling. Either
    // shape emits the bit-identical pair set.
    val q = Tables.embeddings(s, d).select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("v"))
    val n = (0 until bands).foldLeft(
      q.withColumn("nn", Similarity.sqNorm(col("v")))) {
      (df, b) => df.withColumn(s"bk$b", Similarity.lshBucket(col("v"), planes, b))
    }.cache()
    // max bucket size per band + max|component| — persisted
    // per-dataset capital (7 rows)
    val maxBucket: Map[Int, Long] = bandProfile(s, d, planes, bands, n)
    // 16-bit packed wire format when the measured range allows it
    // (any normalized embedding does): the quantized vector is the
    // ~550 B payload of EVERY band-join shuffle row, and 128 B of it
    // is information — packing on the way out of the cache cut the
    // sf30 dedup_semantic shuffle ~4×. Values are bit-identical
    // (PackedDotProduct is the same int64 loop over int16 lanes).
    val packed = maxBucket.getOrElse(-1, Long.MaxValue) <= 32767L
    val pv: Column =
      if (packed) Similarity.packShorts(col("v")) else col("v")
    def cos(a: Column, bb: Column, na: Column, nb: Column): Column =
      if (packed) Similarity.cosinePacked(a, bb, na, nb)
      else Similarity.cosine(a, bb, na, nb)
    (0 until bands).map { b =>
      // (band decision below squares in Double on the driver — no
      // int64 overflow at any bucket size)
      if (maxBucket.getOrElse(b, 0L).toDouble * maxBucket.getOrElse(b, 0L) <= Sizing.pairsPerTask) {
        // healthy band: the plain single-key self-join (the r8 shape)
        n.select(col(s"bk$b").as("bk"), col("vec_id").as("vec_a"),
            pv.as("av"), col("nn").as("an"))
          .join(n.select(col(s"bk$b").as("bk"), col("vec_id").as("vec_b"),
            pv.as("bv"), col("nn").as("bn")), "bk")
          .filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            cos(col("av"), col("bv"), col("an"), col("bn")).as("cos_sim"))
          .filter(col("cos_sim") >= 0.4)
      } else {
        val rows = n.select(col(s"bk$b").as("bk"), col("vec_id"),
          pv.as("v"), col("nn"))
        val sizes = rows.groupBy("bk").agg(count(lit(1)).as("cnt"))
          .select(col("bk"), Sizing.tileBlocks(col("cnt")).as("g"))
        val blocked = rows.join(broadcast(sizes), "bk")
          .withColumn("blk", pmod(hash(col("vec_id")), col("g")))
        blocked.select(col("bk"), col("g"), col("blk").as("ba"),
            col("vec_id").as("va"), col("v").as("av"), col("nn").as("an"))
          // pk in BIGINT: g caps at Int.MaxValue (Sizing.tileBlocks), so the
          // int form ba*g + j wraps for g > √Int.MaxValue ≈ 46k under
          // non-ANSI semantics — colliding block-pair keys would score
          // some pairs twice and miss others (ADVICE r10).
          .withColumn("pk",
            explode(expr(
              "transform(sequence(ba, g - 1), j -> CAST(ba AS BIGINT) * g + j)")))
          .drop("g")
          .join(blocked.select(col("bk"), col("g"), col("blk").as("bb"),
              col("vec_id").as("vb"), col("v").as("bv"), col("nn").as("bn"))
            .withColumn("pk",
              explode(expr(
                "transform(sequence(0, bb), i -> CAST(i AS BIGINT) * g + bb)")))
            .drop("g"), Seq("bk", "pk"))
          .filter(col("ba") < col("bb") ||
            (col("ba") === col("bb") && col("va") < col("vb")))
          .select(least(col("va"), col("vb")).as("vec_a"),
            greatest(col("va"), col("vb")).as("vec_b"),
            cos(col("av"), col("bv"), col("an"), col("bn")).as("cos_sim"))
          .filter(col("cos_sim") >= 0.4)
      }
    }
  }

  /** Contracted connectivity edges of the D5 near-dup graph: each
    * band's verified pair stream collapses in-task ([[contractPairs]])
    * before the cross-band union, so the closure input is O(nodes·bands)
    * rows instead of the explicit pair set — equal components by
    * construction, proven by the unchanged D16 recursive-CTE oracle. */
  private[graft] def embEdgesContracted(
      s: SparkSession, d: String, planes: Int, bands: Int): DataFrame =
    embPairBands(s, d, planes, bands)
      .map(p => contractPairs(p.select("vec_a", "vec_b"), "vec_a", "vec_b"))
      .reduce(_ union _)

  private def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    dedupEmbeddingWith(s, d, embPlanes, embBands)

  /** CTE bundle ending in `ep(vec_a, vec_b, cos_sim)` — the D5
    * embedding near-dup pairs (cos ≥ 0.4). CTE names are prefixed
    * (qv/nv/ebk/ecand) so the bundle composes into larger oracles
    * (the D16 semantic-closure CTE chain). */
  private[functions] val embPairsCtes: String = {
    val bandCtes = (0 until embBands).map(b =>
      s"ebk$b AS (SELECT vec_id, ${Similarity.lshBucketSql("v", embPlanes, b)} AS bk FROM nv)")
      .mkString(",\n")
    val bandJoins = (0 until embBands).map(b =>
      s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM ebk$b a JOIN ebk$b b ON a.bk = b.bk AND a.vec_id < b.vec_id")
      .mkString("\nUNION\n")
    s"""qv AS (
       |  SELECT vec_id, ${Similarity.quantizeSql("embedding")} AS v FROM embeddings),
       |nv AS (SELECT vec_id, v, ${Similarity.sqNormSql("v")} AS nn FROM qv),
       |$bandCtes,
       |ecand AS ($bandJoins),
       |ep AS (
       |  SELECT * FROM (
       |    SELECT c.vec_a, c.vec_b,
       |      ${Similarity.cosineSql("x.v", "y.v", "x.nn", "y.nn")} AS cos_sim
       |    FROM ecand c JOIN nv x ON x.vec_id = c.vec_a JOIN nv y ON y.vec_id = c.vec_b)
       |  WHERE cos_sim >= 0.4)""".stripMargin
  }

  private val dedupEmbeddingSql =
    s"""WITH $embPairsCtes
       |SELECT vec_a, vec_b, cos_sim FROM ep""".stripMargin

  // D7 `dedup_substring`: EXACT-substring dedup — the pass document-level
  // MinHash cannot express (the "duplicated ≥k-token span" pass of
  // suffix-array dedup, approximated with k-token window fingerprints):
  // every k-token window hashes to md5(window); a fingerprint seen in
  // ≥2 distinct docs marks its window duplicated; per doc, consecutive
  // duplicated windows merge into maximal spans (gaps-and-islands) and
  // the duplicated token mass is the count of distinct covered token
  // positions (runs can overlap in token space, so summing run lengths
  // would double-count). Output per affected doc: span count, longest
  // span, duplicated tokens.
  //
  // At 100 TB: the window explode is O(corpus tokens) rows — the
  // suffix-array cost in bucketed hash-agg form. The fp groupBy and the
  // semi-join both shuffle on a uniform digest; per-doc run detection
  // partitions by doc_id over the (small) duplicated subset; nothing is
  // all-pairs and no stage holds more than one doc's windows sorted.
  private val subK = 8

  // Opt r14: the k-token window pass is a heavy in-scan explode
  // (O(corpus tokens) md5 rows out of O(docs) rows in), so its
  // parallelism is the parquet SPLIT count — one task for the
  // single-file bench corpus (measured solo: 6.4/5.1/6.9 s warm at
  // sf0.1). Round-robin repartition the UN-expanded doc rows first
  // (the CLAUDE.md heavy-explode rule — the shuffle moves the corpus
  // once, pre-expansion, and is licensed by the superlinear per-row
  // expansion), sized from table bytes (volumePartitions: session
  // default floor, 32 MB/task beyond). Measured after: 2.0/1.9/2.0 s
  // — the window stage now runs at session width.
  private def dedupSubstring(s: SparkSession, d: String): DataFrame =
    substringSpans(docsRepartitioned(s, d))

  /** The span pass over any (doc_id, text) frame — separated so specs
    * can drive it with synthetic corpora of known span arithmetic. */
  private[graft] def substringSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val wins = docs
      .filter(size(toks) >= subK)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1L), (size(toks) - (subK - 1)).cast("long")),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(toks, i.cast("int"), lit(subK)))).as("fp")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.fp").as("fp"))
    // "fingerprint seen in ≥2 distinct docs" as min(doc)≠max(doc) over
    // one fp window: the explode + per-window md5 is the dominant cost
    // (O(corpus tokens)) and the groupBy-then-semi-join form computed
    // it TWICE — once into the dup-fp aggregate, once for the probe
    // side. One shuffle on the uniform digest, windows materialized
    // once; consumed by both the run detection and the coverage count.
    val fpw = Window.partitionBy("fp")
    val dw = Tables.stableCheckpoint(wins
      .withColumn("mn", min(col("doc_id")).over(fpw))
      .withColumn("mx", max(col("doc_id")).over(fpw))
      .filter(col("mn") =!= col("mx"))
      .select("doc_id", "pos"))
    val spans = dw
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("wlen"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_spans"),
        (max(col("wlen")) + lit(subK - 1L)).as("max_span_tokens"))
    val cov = dw
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (subK - 1))).as("ti"))
      .groupBy("doc_id").agg(countDistinct(col("ti")).as("dup_tokens"))
    spans.join(cov, Seq("doc_id"))
  }

  private val dedupSubstringSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tt AS (SELECT doc_id, w FROM t WHERE len(w) >= $subK),
       |win AS (
       |  SELECT doc_id,
       |    CAST(unnest(range(1, len(w) - ${subK - 2})) AS BIGINT) AS pos,
       |    unnest(list_transform(range(1, len(w) - ${subK - 2}),
       |      i -> md5(array_to_string(list_slice(w, CAST(i AS INT), CAST(i + ${subK - 1} AS INT)), ' ')))) AS fp
       |  FROM tt),
       |dupfp AS (SELECT fp FROM win GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
       |dw AS (SELECT doc_id, pos FROM win WHERE fp IN (SELECT fp FROM dupfp)),
       |runs AS (SELECT doc_id, pos,
       |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dw),
       |sp AS (SELECT doc_id, grp, count(*) AS wlen FROM runs GROUP BY 1, 2),
       |spans AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(max(wlen) + ${subK - 1} AS BIGINT) AS max_span_tokens FROM sp GROUP BY 1),
       |cov AS (
       |  SELECT doc_id, CAST(count(DISTINCT pos + o.o) AS BIGINT) AS dup_tokens
       |  FROM dw, (SELECT unnest(range(0, $subK)) AS o) o GROUP BY 1)
       |SELECT s.doc_id, s.n_spans, s.max_span_tokens, c.dup_tokens
       |FROM spans s JOIN cov c ON s.doc_id = c.doc_id""".stripMargin

  // D13 `dedup_sweep`: the threshold-TUNING table — before anyone
  // commits to "near-dup means Jaccard ≥ τ", they ask what each τ
  // would do: pairs surviving and docs that would drop (the later doc
  // of each surviving pair), per candidate τ. One pass over D3's
  // verified candidate overlaps (already semi-join-reduced and
  // amortized), similarity as the exact e4 integer (10000·∩) div ∪,
  // a 5-way threshold explode of that TINY pair table, one hash-agg;
  // a broadcast left join from the 5-row threshold list keeps
  // zero-survivor thresholds visible (a sweep with holes misleads).
  private val sweepThresholds = Seq(5000L, 6000L, 7000L, 8000L, 9000L)

  private def dedupSweep(s: SparkSession, d: String): DataFrame = {
    val pairs = pairOverlap(s, d)
      .select(col("doc_b"),
        expr("(10000 * inter_n) div (na + nb - inter_n)").as("j_e4"))
    val surv = pairs
      .select(explode(array(sweepThresholds.map(lit): _*)).as("threshold_e4"),
        col("j_e4"), col("doc_b"))
      .filter(col("j_e4") >= col("threshold_e4"))
      .groupBy("threshold_e4")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
    import s.implicits._
    // the preserved side of a left join cannot broadcast; hint the tiny
    // aggregated build side shuffle_hash instead (the E19/R17 shape)
    sweepThresholds.toDF("threshold_e4")
      .join(surv.hint("shuffle_hash"), Seq("threshold_e4"), "left")
      .select(col("threshold_e4"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
  }

  private def dedupSweepSql =
    s"""WITH $candCtes,
       |dsh AS (SELECT DISTINCT doc_id, s FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
       |i AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter_n
       |  FROM cand c JOIN dsh x ON x.doc_id = c.doc_a JOIN dsh y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT i.doc_b, CAST((10000 * i.inter_n) // (sa.n + sb.n - i.inter_n) AS BIGINT) AS j_e4
       |  FROM i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b),
       |th AS (SELECT CAST(unnest([${sweepThresholds.mkString(", ")}]) AS BIGINT) AS threshold_e4),
       |g AS (
       |  SELECT th.threshold_e4, count(p.doc_b) AS n_pairs,
       |    count(DISTINCT p.doc_b) AS n_docs_dropped
       |  FROM th LEFT JOIN p ON p.j_e4 >= th.threshold_e4
       |  GROUP BY 1)
       |SELECT threshold_e4, n_pairs, n_docs_dropped FROM g""".stripMargin

  // ---- D14: EXACT similarity self-join via prefix filtering ----
  //
  // The ground truth LSH approximates: every pair with 3-shingle
  // Jaccard ≥ 0.5, found WITHOUT all-pairs comparison and WITHOUT
  // probabilistic misses. Prefix filtering (the ssjoin/PPJoin family):
  // under any fixed total order of shingles, two docs with J ≥ τ must
  // share a shingle within each doc's first ⌊(1−τ)·n⌋+1 shingles —
  // order by ASCENDING document frequency so the prefixes that drive
  // the candidate join are the RAREST shingles (smallest buckets, the
  // opposite of the boilerplate hot keys a naive inverted index dies
  // on). Verification is then D3's exact intersection shape over the
  // pruned candidate set. τ = 0.5 ⇒ prefix length n div 2 + 1 and the
  // keep test is the exact integer cross-multiply 2·inter ≥ union.
  //
  // Every stage is keyed by doc or shingle (rank window partitions on
  // doc_id; the pair join's buckets are rare-shingle-sized by
  // construction) — no global sort, no quadratic blowup.
  // Persisted through Tables.buildOnce like pairLabels: the truth
  // table is an INDEX consumed by two ops (dedup_exact_join emits it,
  // dedup_recall grades LSH against it) and the prefix-filter join is
  // the expensive stage — recomputing it per consumer doubled its cost
  // in the bench (5.2 s + 5.4 s as two cold runs).
  private[graft] def exactJoinTruth(s: SparkSession, d: String, rateE6: Long): DataFrame = {
    val suffix = if (rateE6 >= Sizing.fullRateE6) "" else s"s${rateE6}_"
    val path = s"${Tables.workDir(s)}/exact_truth_$suffix" +
      Tables.datasetTag(d)
    Tables.buildOnce(path)(exactJoinTruthBuild(s, d, rateE6))
    Tables.read(s, path)
  }

  // SCALE finding 13: the exact J ≥ 0.5 truth TABLE is output-quadratic
  // in the corpus's near-dup mass (sf100 measured ~1.6e8 pairs — 64×
  // sf10's output on 10× the data; the full materialization DNF'd at
  // 37 GB shuffle + 19 GB spill). No plan fixes a data property, so at
  // probe scales the truth is EXACT ON A DETERMINISTIC DOC SAMPLE — the
  // same posture D15/S13 already model (grade against sampled ground
  // truth, never shrink the design). The gate is the T5/P13 md5-bucket
  // family under an 'ssjoin:' salt; sampling DOCS at rate r keeps a
  // pair iff both endpoints survive, so truth pairs scale ~r².
  //
  // The rate is `Sizing.ssjoinRateE6` of the corpus doc count (parquet
  // footer stats — no scan). At oracle scales the rate is 1.0 and NO
  // gate is applied — plan, persisted path, and results are
  // byte-identical to the unsampled build, so CORRECTNESS and D15's
  // consumption are untouched.
  private[graft] def ssjoinSampleE6(s: SparkSession, d: String): Long =
    Sizing.ssjoinRateE6(Tables.maxIdFromStats(s, s"$d/documents.parquet", "doc_id",
      Tables.documents(s, d)) + 1)

  private[graft] def inSsjoinSample(docId: Column, rateE6: Long): Column =
    Tables.md5Bucket(docId.cast("string"), "ssjoin:", Sizing.fullRateE6) < lit(rateE6)

  private def exactJoinTruthBuild(
      s: SparkSession, d: String, rateE6: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rate 1.0 ⇒ no filter node at all (identical plan, the oracle
    // path). Prefix-filter completeness holds under ANY fixed total
    // order of shingles, so computing document frequencies WITHIN the
    // sample is still exact: sampled truth ≡ full truth filtered to
    // pairs with both endpoints in the sample (Round11Spec proves the
    // equivalence on the oracle corpus).
    val docs =
      if (rateE6 >= Sizing.fullRateE6) Tables.documents(s, d)
      else Tables.documents(s, d)
        .filter(inSsjoinSample(col("doc_id"), rateE6))
    val dsh = shingledDocs(docs).distinct().cache()
    val sz = dsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfq = dsh.groupBy("s").agg(count(lit(1)).as("df"))
    val wr = Window.partitionBy("doc_id").orderBy("df", "s")
    // NO shuffle_hash here: dfq (per-shingle document frequencies)
    // and sz (per-doc sizes) both SCALE WITH THE CORPUS — at the sf10
    // smoke the dfq build side's per-task hash relation blew the
    // execution-memory budget with all cores resident
    // (SparkOutOfMemoryError building the hash map). Big-big joins
    // sort-merge; the hint is reserved for genuinely small aggregated
    // build sides (the E19/R17 shape).
    val pfx = dsh.join(dfq, Seq("s"))
      .withColumn("rk", row_number().over(wr))
      .join(sz, Seq("doc_id"))
      .filter(col("rk") <= expr("n div 2 + 1"))
      .select("doc_id", "s")
      .cache()
    val cp = pfx.alias("a").join(pfx.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = cp
      .join(dsh.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(dsh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_n"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(lit(2L) * col("inter_n") >= col("na") + col("nb") - col("inter_n"))
      .select(col("doc_a"), col("doc_b"), col("inter_n"),
        (col("na") + col("nb") - col("inter_n")).as("union_n"))
  }

  private def dedupExactJoin(s: SparkSession, d: String): DataFrame =
    exactJoinTruth(s, d, ssjoinSampleE6(s, d))
      .withColumn("jaccard",
        col("inter_n").cast("double") / col("union_n").cast("double"))

  /** CTE chain ending in `truth(doc_a, doc_b, inter_n, union_n)` —
    * the exact J ≥ 0.5 pair set; requires `sh` (the shingle CTE) in
    * scope. Shared with the D15 recall oracle. */
  private def exactJoinCtes: String =
    """dshx AS (SELECT DISTINCT doc_id, s FROM sh),
      |szx AS (SELECT doc_id, count(*) AS n FROM dshx GROUP BY 1),
      |dfq AS (SELECT s, count(*) AS df FROM dshx GROUP BY 1),
      |rkx AS (
      |  SELECT d.doc_id, d.s,
      |    row_number() OVER (PARTITION BY d.doc_id ORDER BY f.df, d.s) AS rk
      |  FROM dshx d JOIN dfq f USING (s)),
      |pfx AS (
      |  SELECT r.doc_id, r.s FROM rkx r JOIN szx USING (doc_id)
      |  WHERE r.rk <= szx.n // 2 + 1),
      |cpx AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id),
      |ix AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS inter_n
      |  FROM cpx c JOIN dshx x ON x.doc_id = c.doc_a
      |             JOIN dshx y ON y.doc_id = c.doc_b AND y.s = x.s
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT i.doc_a, i.doc_b, i.inter_n,
      |    sa.n + sb.n - i.inter_n AS union_n
      |  FROM ix i JOIN szx sa ON sa.doc_id = i.doc_a
      |            JOIN szx sb ON sb.doc_id = i.doc_b
      |  WHERE 2*i.inter_n >= sa.n + sb.n - i.inter_n)""".stripMargin

  private def dedupExactJoinSql =
    s"""WITH $shingleCte,
       |$exactJoinCtes
       |SELECT doc_a, doc_b, inter_n, union_n,
       |  CAST(inter_n AS DOUBLE)/CAST(union_n AS DOUBLE) AS jaccard
       |FROM truth""".stripMargin

  // D15 `dedup_recall`: the LSH TUNING eval — recall and precision of
  // the D2 band candidates against D14's exact J ≥ 0.5 truth. This is
  // the dedup analog of S9's ann_recall and the number that justifies
  // the (bands × rows) shape: 4×4 sits at τ≈0.7, so its recall against
  // a 0.5 truth quantifies exactly what the knee costs (D13 sweeps the
  // verify threshold; THIS measures the candidate generator itself).
  // One full-outer join of two small pair sets (shuffle-hash, the E19
  // shape) + one global hash-agg to a single exact-integer row.
  private[graft] def dedupRecall(s: SparkSession, d: String, rateE6: Long): DataFrame = {
    val t = exactJoinTruth(s, d, rateE6)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_t"))
    // When the truth is sampled (probe scales only — rate 1.0 adds no
    // filter at oracle scales), the candidate side is gated by the SAME
    // doc sample so recall AND precision are measured within one
    // population; an ungated candidate set would count out-of-sample
    // candidates as precision misses against a truth that never saw
    // their docs.
    val c0 = candidatePairs(s, d)
    val cg =
      if (rateE6 >= Sizing.fullRateE6) c0
      else c0.filter(inSsjoinSample(col("doc_a"), rateE6) &&
        inSsjoinSample(col("doc_b"), rateE6))
    val c = cg
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_c"))
    t.join(c.hint("shuffle_hash"), Seq("doc_a", "doc_b"), "full")
      .agg(sum(coalesce(col("in_t"), lit(0L))).as("n_true"),
        sum(coalesce(col("in_c"), lit(0L))).as("n_cand"),
        sum(coalesce(col("in_t"), lit(0L)) * coalesce(col("in_c"), lit(0L))).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        expr("(10000 * n_hit) div n_true").as("recall_e4"),
        expr("(10000 * n_hit) div n_cand").as("precision_e4"))
  }

  private def dedupRecallSql =
    s"""WITH $candCtes,
       |$exactJoinCtes,
       |fx AS (
       |  SELECT t.doc_a IS NOT NULL AS in_t, c.doc_a IS NOT NULL AS in_c
       |  FROM truth t FULL JOIN cand c
       |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
       |SELECT
       |  CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |  CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((10000 * sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END))
       |    // sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS recall_e4,
       |  CAST((10000 * sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END))
       |    // sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS precision_e4
       |FROM fx""".stripMargin

  // D17 `dedup_band_sweep`: the band-SHAPE tuning table for the
  // embedding LSH — D15 grades ONE candidate generator; this grades
  // the (planes × bands) ladder against exhaustive cos ≥ 0.4 ground
  // truth: candidates, hits, recall, precision per shape. The code
  // comment above embPlanes ("16×6 matches the old single band's
  // recall at ~0.65× the candidates") becomes a measured TABLE — the
  // artifact that decision is audited from. The whole eval — truth AND
  // candidates — runs over a deterministic 50% md5-bucket sample of
  // vec_ids (the T5 gate), so the eval itself ships at any corpus
  // size: shrink the sample rate, not the design. The exhaustive truth
  // within the sample is a BLOCK-PAIR equi-join (each sampled vector
  // replicates to its block's pair keys; every unordered pair meets at
  // exactly one key) — a shuffled hash join, per-task work |S|²/B²,
  // NOT a nested-loop scan, so the truth stage has the same plan
  // discipline as the generators it grades.
  private val bandSweepConfigs = Seq((4, 2), (8, 4), (16, 6))

  /** Deterministic vec_id sample gate the D17 eval runs over. */
  private[graft] def inSweepSample(vecId: Column): Column =
    Tables.md5Bucket(vecId.cast("string"), "", 2) === 0

  // SCALE finding 14 applies here too: the mod-2 gate keeps a fixed
  // 50 % FRACTION, so the sweep's exhaustive |S|²/2 truth grows
  // quadratically with the corpus. The absolute-size thinning bucket
  // (salt 'sweep:') caps the sampled vector count
  // (`Sizing.sweepThinE6`); 1.0 — no extra expression, oracle
  // untouched — whenever the mod-2 sample already fits (every oracle
  // scale).
  private[graft] def inSweepSampleThinned(vecId: Column, thinE6: Long): Column =
    if (thinE6 >= Sizing.fullRateE6) inSweepSample(vecId)
    else inSweepSample(vecId) &&
      Tables.md5Bucket(vecId.cast("string"), "sweep:", Sizing.fullRateE6) < lit(thinE6)

  private[graft] def dedupBandSweep(s: SparkSession, d: String, thinE6: Long): DataFrame = {
    val B = Sizing.sweepBlocks(Similarity.vectorCount(s, d))
    // Opt r14 NOTE: caching smp here (it feeds seven subtrees of the
    // one unioned plan) was MEASURED 3x slower at sf0.1 (warm 3.3 →
    // 10.1 s solo) — the InMemoryRelation pins the downstream block-
    // pair explodes to the cache's single partition and breaks the
    // in-scan codegen fusion, costing far more than the repeated
    // (cheap, column-pruned) scan+quantize saves. Left uncached
    // deliberately; the per-config bucketed frame inside
    // embCandidatesFrom is already cached where reuse is real.
    val smp = Tables.embeddings(s, d)
      .filter(inSweepSampleThinned(col("vec_id"), thinE6))
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
    val n = smp.withColumn("nn", Similarity.sqNorm(col("v")))
      .withColumn("bk", pmod(col("vec_id"), lit(B.toLong)))
    // left role: block g owns pair keys (g, j) for j >= g; right role:
    // keys (i, g) for i <= g — every unordered pair meets exactly once
    val lhs = n.select(col("vec_id").as("va"), col("v").as("av"),
        col("nn").as("an"), col("bk").as("ba"))
      .withColumn("pk", explode(expr(s"transform(sequence(ba, ${B - 1}), j -> ba * $B + j)")))
    val rhs = n.select(col("vec_id").as("vb"), col("v").as("bv"),
        col("nn").as("bn"), col("bk").as("bb"))
      .withColumn("pk", explode(expr(s"transform(sequence(0, bb), i -> i * $B + bb)")))
    val truth = lhs.join(rhs.hint("shuffle_hash"), Seq("pk"))
      .filter(col("ba") < col("bb") || (col("ba") === col("bb") && col("va") < col("vb")))
      .filter(Similarity.cosine(col("av"), col("bv"), col("an"), col("bn")) >= 0.4)
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"), lit(1L).as("in_t"))
      .cache()
    // n_true is config-independent: count it ONCE while materializing
    // the cache (bounded metadata — one long on the driver). This lets
    // each config grade via a LEFT join with the cap-bounded TRUTH as
    // the hash build side, instead of the old full-outer SORT-MERGE
    // whose sort of the sample²-scaled candidate side was the sweep's
    // entire 5.4 GB sort-spill at sf30/sf100 (bounded by the cap, but
    // pure waste — recall/precision only need candidate∩truth, never
    // an ordering of the candidates).
    val nTrue = truth.count()
    bandSweepConfigs.map { case (p, b) =>
      val cand = embCandidatesFrom(smp, p, b)
      // shuffle_hash on the TRUTH side only: truth is cap-bounded
      // (≤ |S|² pairs at cos ≥ 0.4 of the ≤ 50 k-vector sample), the
      // legitimate small aggregated build side; the candidate side —
      // which scales with sample² at the loose shapes and OOMed a
      // per-task hash relation in the sf30 probe — streams through
      // unsorted and unbuilt.
      cand.join(truth.hint("shuffle_hash"), Seq("vec_a", "vec_b"), "left")
        .agg(count(lit(1)).as("n_cand"),
          sum(coalesce(col("in_t"), lit(0L))).as("n_hit"))
        .select(lit(s"${p}x$b").as("config"), lit(nTrue).as("n_true"),
          col("n_cand"), col("n_hit"),
          expr("(10000 * n_hit) div n_true").as("recall_e4"),
          expr("(10000 * n_hit) div n_cand").as("precision_e4"))
    }.reduce(_ unionAll _)
  }

  private def dedupBandSweepSql = {
    // DuckDB's exact integer form of the Spark-side md5 sample gate
    // (the T5 equivalence: first 8 hex chars of md5 as a base-16 int)
    val sampleSql =
      """CAST(list_sum(list_transform(range(1, 9), i ->
        |  (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |    * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % 2 = 0""".stripMargin
    val truthCtes =
      s"""qv2 AS (SELECT vec_id, ${Similarity.quantizeSql("embedding")} AS v
         |  FROM embeddings WHERE $sampleSql),
         |nv2 AS (SELECT vec_id, v, ${Similarity.sqNormSql("v")} AS nn FROM qv2),
         |trx AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM nv2 a JOIN nv2 b ON a.vec_id < b.vec_id
         |  WHERE ${Similarity.cosineSql("a.v", "b.v", "a.nn", "b.nn")} >= 0.4)""".stripMargin
    val parts = bandSweepConfigs.zipWithIndex.map { case ((p, b), i) =>
      val bandCtes = (0 until b).map(j =>
        s"sb${i}_$j AS (SELECT vec_id, ${Similarity.lshBucketSql("v", p, j)} AS bk FROM nv2)")
        .mkString(",\n")
      val joins = (0 until b).map(j =>
        s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM sb${i}_$j a " +
          s"JOIN sb${i}_$j b ON a.bk = b.bk AND a.vec_id < b.vec_id")
        .mkString("\nUNION\n")
      val cte = s"$bandCtes,\ncd$i AS ($joins)"
      val row =
        s"""SELECT '${p}x$b' AS config,
           |  (SELECT count(*) FROM trx) AS n_true,
           |  (SELECT count(*) FROM cd$i) AS n_cand,
           |  (SELECT count(*) FROM trx t JOIN cd$i c
           |     ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b) AS n_hit""".stripMargin
      (cte, row)
    }
    s"""WITH $truthCtes,
       |${parts.map(_._1).mkString(",\n")}
       |SELECT config, n_true, n_cand, n_hit,
       |  CAST((10000 * n_hit) // n_true AS BIGINT) AS recall_e4,
       |  CAST((10000 * n_hit) // n_cand AS BIGINT) AS precision_e4
       |FROM (${parts.map(_._2).mkString("\nUNION ALL\n")}) z""".stripMargin
  }

  // D18 `dedup_bloom_gate`: the exact-dup admission gate against a
  // PRIOR corpus, accelerated by a membership BLOOM over the base
  // digests — the shape web-scale ingest actually runs (a CCNet-style
  // "have we seen these bytes" check against billions of prior docs).
  // The bloom is built once over the base digest column (a native
  // BloomFilterAggregate — the R27 machinery) and probed at the NEW
  // side's scan: bloom-NEGATIVE docs are PROVABLY new (a Bloom filter
  // has no false negatives) and bypass the join entirely; only the
  // bloom-positive sliver (true dups + the bounded FP rate) pays the
  // digest equi-join, where false positives fall out exactly. At an
  // ~8% dup rate the join input shrinks ~12×; the verdict is
  // bit-identical to the plain digest left-join by construction.
  // The two branches each scan the new side once (two scans beat
  // shuffling the full new side at any corpus size); dup_of is the
  // minimum matching base doc (the D6/D10 canonical-survivor rule).
  /** Build a membership Bloom over `df`'s `h` column (collected once —
    * bounded metadata, the R27 contract) and return the MightContain
    * predicate over a probe side's `h`. Shared by the batch gate and
    * its streaming twin. */
  private[graft] def bloomMightOverH(df: DataFrame): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomBytes = df
      .agg(ColumnBridge.column(new BloomFilterAggregate(
        CatalystSqlParser.parseExpression("xxhash64(h)"), 1000000L)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      CatalystSqlParser.parseExpression("xxhash64(h)")))
  }

  /** (doc_id, h) of the prior-corpus side of the admission gate. */
  private[graft] def bloomGateBase(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") <= incThreshold(s, d))
      .select(col("doc_id"), md5(col("text")).as("h"))

  /** The gate's PRIOR-corpus membership index, aggregated to its query
    * form (h → min matching base doc) and PERSISTED once per (session,
    * dataset) — the D9/D20 capital discipline applied to D18/D19. The
    * unaggregated form re-hashed the full base TEXT per invocation (and,
    * in the streaming twin, per MICRO-BATCH: a static frame inside a
    * streaming plan re-executes every trigger — measured at sf0.1, the
    * base scan+md5+agg was ~600 ms of every batch's addBatch). Both the
    * bloom build and the verdict join read this narrow parquet instead.
    */
  private def bloomGateIndexPath(s: SparkSession, d: String): String =
    s"${Tables.workDir(s)}/bloom_gate_idx_" + Tables.datasetTag(d)

  private[graft] def bloomGateIndex(s: SparkSession, d: String): DataFrame = {
    val path = bloomGateIndexPath(s, d)
    Tables.buildOnce(path)(
      bloomGateBase(s, d).groupBy("h").agg(min(col("doc_id")).as("dup_of")))
    Tables.read(s, path)
  }

  /** Join-strategy gate for attaching the corpus-scaled gate index to
    * the bloom-positive sliver: `Sizing.hashBuildHint` over ~48 bytes
    * per (h, dup_of) row, rows from parquet footers (zero scan); an
    * index without footers counts as unbounded, so it sort-merges. */
  private[graft] def bloomGateAttachHint(s: SparkSession, d: String): String =
    Sizing.hashBuildHint(
      Tables.rowCountFromStats(s, bloomGateIndexPath(s, d)).fold(Long.MaxValue)(_ * 48L),
      s.sessionState.conf.numShufflePartitions)

  private def dedupBloomGate(s: SparkSession, d: String): DataFrame = {
    val t = incThreshold(s, d)
    def newDocs = Tables.documents(s, d).filter(col("doc_id") > t)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val idx = bloomGateIndex(s, d)
    val hint = bloomGateAttachHint(s, d)
    val might = bloomMightOverH(idx)
    val positives = newDocs.filter(might)
      .join(idx.hint(hint), Seq("h"), "left")
      .select(col("doc_id"), col("dup_of"))
    val negatives = newDocs.filter(!might)
      .select(col("doc_id"), lit(null).cast("long").as("dup_of"))
    positives.unionByName(negatives)
      .select(col("doc_id"),
        when(col("dup_of").isNotNull, "dup").otherwise("new").as("verdict"),
        col("dup_of"))
  }

  private[graft] def bloomGateSql =
    """WITH thr AS (SELECT (max(doc_id) * 4) // 5 AS t FROM documents),
      |b AS (
      |  SELECT md5(text) AS h, min(doc_id) AS dup_of FROM documents
      |  WHERE doc_id <= (SELECT t FROM thr) GROUP BY 1),
      |nd AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |  WHERE doc_id > (SELECT t FROM thr))
      |SELECT nd.doc_id,
      |  CASE WHEN b.dup_of IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
      |  b.dup_of
      |FROM nd LEFT JOIN b USING (h)""".stripMargin

  // D20 `dedup_index_maintain`: the digest index maintained UNDER a
  // corpus delta — the composition P22 exists for. A recrawl replaces
  // a corpus slice; rebuilding the per-doc digest index from scratch
  // re-hashes 100 TB of unchanged text to update a few percent of
  // rows. Here the index is PERSISTED capital (Tables.buildOnce, the
  // D9 contract — built once from the old snapshot, read as plain
  // parquet after), and maintenance touches exactly the delta:
  // removed/changed doc rows RETIRE via an anti join whose hash build
  // is the delta-sized id set (the licensed small-build direction),
  // added/changed docs hash only THEIR text and append. The canonical
  // view (per digest: survivor count + min-id canon, the D6 rule)
  // comes out of one hash-agg — and the ORACLE is the from-scratch
  // rebuild over the new snapshot, so the driver hash-compare IS the
  // maintained == rebuilt law (the E13 snapshot+delta contract, on
  // the dedup store). Cost: one base-INDEX scan (34-byte rows, no
  // text), |delta| hashes, one agg — never the unchanged corpus.
  /** The persisted per-doc digest index of the OLD snapshot — the
    * shared capital D20 and its streaming twin (stream_index_maintain)
    * both maintain. Built once per (session, dataset). */
  private[graft] def digestIndexBase(s: SparkSession, d: String): DataFrame = {
    val path = s"${Tables.workDir(s)}/dedup_digest_idx_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path)(
      Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7)
        .select(md5(col("text")).as("h"), col("doc_id")))
    Tables.read(s, path)
  }

  /** The P22 recrawl delta as INDEX-MAINTENANCE actions: one `retire`
    * row per removed/changed doc, one `upsert` row (with the new
    * digest) per added/changed doc — what a maintenance stream
    * carries. Changed docs emit BOTH, keyed to the same doc_id. */
  private[graft] def indexDeltaActions(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val retired = docs
      .filter(col("doc_id") % 10 === 3 || col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit("retire").as("action"),
        lit(null).cast("string").as("h"))
    val inserted = docs
      .filter(col("doc_id") % 10 =!= 3 &&
        (col("doc_id") % 10 === 7 || col("doc_id") % 5 === 0))
      .select(col("doc_id"), lit("upsert").as("action"),
        md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h"))
    retired.unionByName(inserted)
  }

  // private[graft]: the P24 maintenance report composes this (the
  // maintained index is stage 2 of its day-2 operations trio)
  private[graft] def indexMaintain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = digestIndexBase(s, d)
    // the P22 delta classes: removed = %10==3; changed = %5==0 (in
    // both snapshots — the recrawl re-edited them); added = %10==7
    val retired = docs
      .filter(col("doc_id") % 10 === 3 || col("doc_id") % 5 === 0)
      .select(col("doc_id"))
    val inserted = docs
      .filter(col("doc_id") % 10 =!= 3 &&
        (col("doc_id") % 10 === 7 || col("doc_id") % 5 === 0))
      .select(md5(when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev2")))
        .otherwise(col("text"))).as("h"), col("doc_id"))
    base.join(retired.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .unionByName(inserted)
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canon"))
  }

  // the oracle IS the from-scratch rebuild over the new snapshot —
  // hash-matching it proves incremental maintenance lost nothing
  // (shared with stream_index_maintain, whose maintained-under-
  // streaming store must land on the same canonical view)
  private[graft] val indexMaintainSql =
    """SELECT md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS h,
      |  count(*) AS n_docs, min(doc_id) AS canon
      |FROM documents WHERE doc_id % 10 != 3 GROUP BY 1""".stripMargin

  // D22 `dedup_chunks`: exact dedup at CHUNK granularity over P25's
  // overlapping windows — the cross-document boilerplate catcher
  // (headers, license blocks, navigation chrome) that document-level
  // dedup (D1) structurally misses: two distinct docs sharing a
  // 64-token span collide here and nowhere else. One hash-agg keyed by
  // the chunk digest over the zero-shuffle chunk stream; the canonical
  // occurrence (lexicographically least (doc_id, chunk_id)) rides a
  // packed decimal(38,0) min — doc_id·10⁹ + chunk_id in non-overlapping
  // digit fields (chunk ids are < 10⁹ for any document under 48
  // billion tokens; doc_id gets the full int64 range — an int64 pack
  // would wrap silently past doc_id ≈ 9.2e9 while DuckDB promotes to
  // HUGEINT, the r12 advice finding, so this applies the repo's
  // when-int64-is-too-narrow rule: decimal(38,0) is still a
  // fixed-width hash-aggregable buffer, the graft.operators.Packed
  // contract). Emits only genuinely shared windows (n_copies ≥ 2):
  // the rows the P26 boilerplate strip pass consumes.
  private val chunkPackBase = new java.math.BigDecimal(1000000000L)

  // private[graft]: P26 corpus_strip consumes exactly these shared
  // windows (h → canon occurrence) to decide which spans to drop
  private[graft] def dedupChunks(s: SparkSession, d: String): DataFrame =
    graft.functions.Pipeline.corpusChunk(s, d)
      .groupBy("h")
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id").cast("decimal(38,0)") * lit(chunkPackBase)
          + col("chunk_id")).as("pk"))
      .filter(col("n_copies") >= 2)
      .select(col("h"), col("n_copies"),
        // exact integer quotient: strip the chunk digits first so the
        // decimal division has no fractional part to round (the
        // Packed.eventId form)
        ((col("pk") - pmod(col("pk"), lit(chunkPackBase))) / lit(chunkPackBase))
          .cast("decimal(38,0)").cast("long").as("canon_doc"),
        pmod(col("pk"), lit(chunkPackBase)).cast("long").as("canon_chunk"))

  private val dedupChunksSql = {
    // the P25 window CTE verbatim, regrouped by digest; HUGEINT is
    // DuckDB's wide lane matching Spark's decimal(38,0) pack
    val chunkCte = graft.functions.Pipeline.corpusChunkSql
    s"""WITH chunks AS ($chunkCte)
       |SELECT h, count(*) AS n_copies,
       |  CAST(min(CAST(doc_id AS HUGEINT) * 1000000000 + chunk_id) // 1000000000 AS BIGINT) AS canon_doc,
       |  CAST(min(CAST(doc_id AS HUGEINT) * 1000000000 + chunk_id) % 1000000000 AS BIGINT) AS canon_chunk
       |FROM chunks GROUP BY 1 HAVING count(*) >= 2""".stripMargin
  }

  override def ops: Seq[Op] = Seq(
    Op("dedup_chunks", dedupChunks, Some(dedupChunksSql)),
    Op("dedup_index_maintain", indexMaintain, Some(indexMaintainSql)),
    Op("dedup_bloom_gate", dedupBloomGate, Some(bloomGateSql)),
    Op("dedup_band_sweep", (s, d) =>
      dedupBandSweep(s, d, Sizing.sweepThinE6(Similarity.vectorCount(s, d))),
      Some(dedupBandSweepSql)),
    Op("dedup_exact_join", dedupExactJoin, Some(dedupExactJoinSql)),
    Op("dedup_recall", (s, d) => dedupRecall(s, d, ssjoinSampleE6(s, d)), Some(dedupRecallSql)),
    Op("dedup_sweep", dedupSweep, Some(dedupSweepSql)),
    Op("dedup_exact", dedupExact, Some(dedupExactSql)),
    Op("dedup_minhash_lsh", dedupMinhash, Some(candSql)),
    Op("dedup_incremental", dedupIncremental, Some(incrementalSql)),
    Op("dedup_admit", dedupAdmit, Some(admitSql)),
    Op("ngram_jaccard", ngramJaccard, Some(jaccardSql)),
    Op("dedup_containment", dedupContainment, Some(containmentSql)),
    Op("dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    Op("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingSql)))
}
