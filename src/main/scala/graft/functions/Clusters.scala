package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.{GraftSession, Op, OpFamily}
import graft.sources.Tables

/** Dup-cluster resolution — the step that turns candidate PAIRS into a
  * shippable training corpus.
  *
  * D1–D5 find near-duplicate pairs; a pipeline must still decide which
  * documents to KEEP. That is connected components over the pair graph
  * (near-dup-ness is not transitive, but a training-dedup pipeline
  * treats it as such: one survivor per component), with the
  * deterministic min-doc_id as each cluster's canonical label.
  *
  * Spark-first CC: iterative min-label propagation over the symmetric
  * edge list — each round is one equi-join + one hash-agg (pure
  * DataFrame ops, no RDDs), followed by a pointer-jumping round
  * (label := label-of-label) that halves the remaining label depth, so
  * convergence is O(log diameter) rounds rather than O(diameter).
  * Near-dup components are near-cliques (every member collides with the
  * seed in some band), so in practice 2–3 rounds close at any scale; a
  * 100 TB run would checkpoint the label table per round to truncate
  * lineage, exactly where the `.cache()` calls sit below.
  *
  * Reference analog: this is the read-side compaction a
  * surge-style engine performs when collapsing an event log to one
  * canonical row per aggregate — here the "aggregate" is the duplicate
  * cluster discovered from content, not a declared key.
  */
object Clusters extends OpFamily {

  /** Connected components over an undirected edge list (doc_a, doc_b):
    * returns (node, lab) where lab = min doc_id reachable.
    *
    * Each round's result has its lineage cut via
    * [[Tables.stableCheckpoint]] (localCheckpoint by default; a
    * filesystem-backed cut under `graft.checkpoint.reliable=true`, the
    * cluster/100 TB mode that survives executor loss): without lineage
    * truncation an iterative self-join doubles the logical plan every
    * round — exponential planning cost kills the DRIVER long before
    * the executors see data. */
  private[graft] def components(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    // Value-pin the edge list BEFORE the symmetrizing union. A
    // contracted edge stream's CONTENT is partitioning-dependent (the
    // in-task union-find emits whichever valid spanning star its task
    // boundary induces), and `union(e, swap(e))` evaluates `e` TWICE —
    // under a cold cache the two executions can materialize different
    // (each individually valid) star sets, leaving some edges present
    // in only ONE direction. Min-label propagation needs the
    // symmetric closure; an asymmetric sym silently loses connectivity
    // (caught at sf0.01: a cold-cache run clustered docs 60/316 apart
    // from their oracle cluster; warm-cache runs — the full-Verify
    // order — happened to agree and passed). The checkpoint also
    // halves the closure's input cost: the producing pair pipeline
    // runs once, not once per union branch.
    val e = Tables.stableCheckpoint(edges)
    val sym = Tables.stableCheckpoint(
      e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct())
    var labels = Tables.stableCheckpoint(
      sym.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node")))
    // Size the loop's shuffles to the GRAPH, not the session default:
    // each round is join+agg+join over the label table, and on a small
    // pair graph 32-way shuffles make task scheduling the entire round
    // cost (measured ~750 ms/round on a 40k-edge graph). ~500k edges
    // per partition keeps a 10^9-edge graph at full width while a
    // small graph runs its rounds in 1-2 partitions.
    val shuffleKey = "spark.sql.shuffle.partitions"
    val loopParts = math.max(1L, math.min(
      s.conf.get(shuffleKey).toLong, sym.count() / 500000L + 1L))
    // the loop's frames run on a child session at that width; the
    // caller's session keeps its own
    val loop = GraftSession.child(s, shuffleKey -> loopParts.toString)
    val loopEdges = ColumnBridge.rebind(loop, sym)
    labels = ColumnBridge.rebind(loop, labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 32) {
      // neighbor-min: lab(n) := min(lab(n), min over edges (n,m) of
      // lab(m)). The previous label rides along as max(old_tag) (each
      // node appears exactly once in `labels`), so convergence is read
      // off the checkpointed result without an extra join+job.
      val viaEdges = loopEdges
        .join(labels.select(col("node").as("dst"), col("lab")), "dst")
        .select(col("src").as("node"), col("lab"),
          lit(null).cast("long").as("old_tag"))
      val folded = labels.select(col("node"), col("lab"), col("lab").as("old_tag"))
        .union(viaEdges)
        .groupBy("node").agg(min(col("lab")).as("lab"), max(col("old_tag")).as("old"))
      // pointer jump: lab(n) := lab(lab(n)) — labels are themselves
      // nodes, so one more join halves remaining chain depth. (A
      // second jump per round was measured: it does NOT cut rounds on
      // the driver graph — convergence is propagation-bound, not
      // depth-bound — and costs an extra self-join. One jump it is.)
      // lazy checkpoint: the convergence count below is the action
      // that materializes this round — one job per round, not two.
      // (A full count, not limit(1): every partition must be computed
      // for the checkpoint to fully materialize before lineage is cut.)
      val jumped = Tables.stableCheckpoint(folded
        .join(folded.select(col("node").as("lab"), col("lab").as("lab2")), "lab")
        .select(col("node"), col("lab2").as("lab"), col("old")),
        eager = false)
      val changed = jumped.filter(col("lab") < col("old")).count()
      labels = jumped.select(col("node"), col("lab"))
      converged = changed == 0L
      rounds += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"[cc-round] $rounds changed=$changed")
    }
    // with pointer jumping 32 rounds covers any realistic diameter
    // (2^32 chain depth) — failing hard beats silently returning
    // non-minimal labels that would diverge from the oracle closure
    require(converged, s"connected components did not converge in $rounds rounds")
    ColumnBridge.rebind(s, labels)
  }

  // The label table is an INDEX: built once per (session, dataset) and
  // reused by every consumer (dedup_clusters, dedup_stats,
  // corpus_export) — the CacheManager can't dedupe the iterative
  // loop's checkpointed lineage the way it dedupes declarative plans.
  // Persisted through Tables.buildOnce (staged write + atomic rename +
  // per-path lock) rather than memoized in-process: an in-memory memo
  // left the FIRST caller paying minhash+simhash+CC materialization
  // inside its timed run (r6: corpus_export at 84.8 s cold), and a
  // persisted table survives for every later session on the same
  // scratch root. The table itself is tiny (one row per doc that has a
  // near-dup pair).
  /** (doc_id, lab) cluster labels over the D2 ∪ D4 pair graph — only
    * docs that appear in some pair; shared with [[Pipeline]]. */
  private[functions] def pairLabels(s: SparkSession, d: String): DataFrame = {
    val path = s"${Tables.workDir(s)}/pair_labels_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path) {
      // bucket-local contraction (round 10): the RAW band-join streams
      // collapse in-task to star edges before anything shuffles — a
      // quadratic-mass cluster's C(n,2) explicit pairs (the sf100
      // scale-killer: ~50 GB of candidate-stage scratch) become O(n)
      // edges with identical connectivity. The recursive-CTE oracle
      // still closes over the FULL pair set, so the driver hash-match
      // is the equivalence proof at data scale.
      val edges = Dedup.contractPairs(
          Dedup.candidatePairsRaw(s, d), "doc_a", "doc_b")
        .union(Dedup.contractPairs(
          SimHash.simhashPairsRaw(s, d).select("doc_a", "doc_b"), "doc_a", "doc_b"))
      components(edges).withColumnRenamed("node", "doc_id")
    }
    Tables.read(s, path)
  }

  // dedup_clusters: components over the D2 (MinHash-LSH) ∪ D4 (SimHash)
  // pair graph, joined back onto the full corpus — every document gets
  // a cluster_id (its own id if it duplicates nothing) and a keep flag
  // (true iff it is the cluster's canonical min-doc_id survivor).
  private def dedupClusters(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .join(pairLabels(s, d).hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lab"), col("doc_id")).as("cluster_id"),
        (coalesce(col("lab"), col("doc_id")) === col("doc_id")).as("keep"))

  /** CTE bundle ending in `cl(node, cid)` — the transitive-closure
    * cluster labels; must follow a `WITH RECURSIVE`. Shared with the
    * [[Pipeline]] oracle. */
  private[functions] def closureCtes: String =
    s"""${Dedup.candCtes},
       |${SimHash.pairsCtes},
       |edges AS (
       |  SELECT doc_a, doc_b FROM cand
       |  UNION SELECT doc_a, doc_b FROM spairs),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION SELECT doc_b, doc_a FROM edges),
       |reach(node, lab) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT s.src, r.lab FROM sym s JOIN reach r ON r.node = s.dst),
       |cl AS (SELECT node, CAST(min(lab) AS BIGINT) AS cid FROM reach GROUP BY node)""".stripMargin

  // Oracle: transitive closure via recursive CTE — min label reachable
  // from each node over the same D2 ∪ D4 edge set.
  private def dedupClustersSql =
    s"""WITH RECURSIVE $closureCtes
       |SELECT d.doc_id,
       |  COALESCE(c.cid, d.doc_id) AS cluster_id,
       |  COALESCE(c.cid, d.doc_id) = d.doc_id AS keep
       |FROM documents d LEFT JOIN cl c ON c.node = d.doc_id""".stripMargin

  // D12 `dedup_stats`: the duplication REPORT over the cluster table —
  // for each cluster size, how many clusters, how many documents they
  // hold, and how many are excess copies the dedup pass removes. This
  // one table answers "how duplicated is this corpus and what does
  // dedup buy" (the number every pipeline review opens with), and its
  // tail rows expose pathological mega-clusters (boilerplate explosions)
  // that warrant a threshold look. Two hash-aggs over the memoized
  // label table — sizes then the size histogram — so the corpus-scale
  // work is D6's, already amortized; singleton docs enter as size-1
  // clusters via the same left join dedup_clusters uses.
  private def dedupStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .join(pairLabels(s, d).hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(coalesce(col("lab"), col("doc_id")).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_excess"))

  private def dedupStatsSql =
    s"""WITH RECURSIVE $closureCtes,
       |sz AS (
       |  SELECT COALESCE(c.cid, d.doc_id) AS cid, count(*) AS sz
       |  FROM documents d LEFT JOIN cl c ON c.node = d.doc_id
       |  GROUP BY 1),
       |h AS (SELECT sz AS cluster_size, count(*) AS n_clusters FROM sz GROUP BY 1)
       |SELECT cluster_size, n_clusters,
       |  cluster_size * n_clusters AS n_docs,
       |  (cluster_size - 1) * n_clusters AS n_excess
       |FROM h""".stripMargin

  // D16 `dedup_semantic`: SemDeDup-style SEMANTIC dedup closed over
  // the embedding space — D5 finds cos ≥ τ near-dup PAIRS; this op
  // resolves them into clusters (the same transitive-closure step D6
  // performs for the lexical graph: near-dup is not transitive, so
  // pair-level keeps are inconsistent — A≈B, B≈C must not keep both
  // A,C while dropping B) and emits the per-vector verdict: cluster
  // id + canonical min-vec_id survivor flag. Reuses the distributed
  // CC machinery (min-label propagation + pointer jumping, O(log
  // diameter) checkpointed rounds) over D5's bucketed pair set; the
  // final left join keys on vec_id. Oracle = WITH RECURSIVE closure
  // over D5's own CTE bundle ⇒ both engines pin the SAME clustering.
  /** (vec_id, lab) cluster labels over the D5 embedding pair graph —
    * the semantic twin of [[pairLabels]], persisted with the same
    * buildOnce capital discipline (r15: every invocation was re-running
    * the band joins + a 3-round CC loop — ~10 jobs and two corpus
    * passes — to rebuild an index that is a pure function of the
    * dataset; the lexical closure has been persisted since r6). */
  private def semLabels(s: SparkSession, d: String): DataFrame = {
    val path = s"${Tables.workDir(s)}/sem_labels_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path) {
      // round 10: the CC input is the CONTRACTED edge set — each band's
      // verified pair stream collapses to per-task star edges inside the
      // join stage (Dedup.contractPairs), so the planted sf100 clique's
      // 2e8 pairs × 6 bands never hit the wire (~100+ GB of scratch at
      // sf100 pre-contraction, the round-9 DNF). Same components by the
      // spanning-star argument; the oracle below still closes over D5's
      // full explicit pair CTE, making the driver hash-match the proof.
      val edges = Dedup.embEdgesContracted(s, d, Dedup.embPlanes, Dedup.embBands)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      components(edges).withColumnRenamed("node", "vec_id")
    }
    Tables.read(s, path)
  }

  private def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val labels = semLabels(s, d)
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(labels.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lab"), col("vec_id")).as("cluster_id"),
        (coalesce(col("lab"), col("vec_id")) === col("vec_id")).as("keep"))
  }

  private def dedupSemanticSql =
    s"""WITH RECURSIVE ${Dedup.embPairsCtes},
       |esym AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM ep
       |  UNION SELECT vec_b, vec_a FROM ep),
       |ereach(node, lab) AS (
       |  SELECT src, src FROM esym
       |  UNION
       |  SELECT s.src, r.lab FROM esym s JOIN ereach r ON r.node = s.dst),
       |ecl AS (SELECT node, CAST(min(lab) AS BIGINT) AS cid FROM ereach GROUP BY node)
       |SELECT e.vec_id,
       |  COALESCE(c.cid, e.vec_id) AS cluster_id,
       |  COALESCE(c.cid, e.vec_id) = e.vec_id AS keep
       |FROM embeddings e LEFT JOIN ecl c ON c.node = e.vec_id""".stripMargin

  override def ops: Seq[Op] = Seq(
    Op("dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    Op("dedup_semantic", dedupSemantic, Some(dedupSemanticSql)),
    Op("dedup_stats", dedupStats, Some(dedupStatsSql)))
}
