package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The plan-shape gate over every batch op, off ONE census walk
  * (PlanCensus): exchange counts pinned in the golden file, the
  * scale-killer lint, the headline exchange budgets, and the sort-free
  * full-outer joins. Each §2 "one shuffle on the right key" claim is
  * machine-diffed per run, so an edit that silently adds an exchange
  * anywhere (a lost broadcast, a stray repartition, a join that stopped
  * reusing its input's partitioning) fails HERE by name.
  *
  * Regenerate the golden after an INTENTIONAL plan change with:
  *   sbt -Dgraft.shuffle.regen=true "testOnly graft.PlanCensusSpec"
  * and review the golden diff like any other code change.
  */
class PlanCensusSpec extends SparkSpec {

  // one walk for every check below; a planning failure fails each check
  // with the failing ops' names instead of re-walking
  private lazy val census = scala.util.Try(PlanCensus.walk(spark, sf))
  private def plans: Seq[(String, String)] = census.get

  test("the counting rule: hash exchanges count, round-robin ones do not, broadcasts apart") {
    val df = spark.range(100).toDF("id")
    def counts(d: org.apache.spark.sql.DataFrame) =
      PlanCensus.exchanges(d.queryExecution.executedPlan.toString)
    assert(counts(df.repartition(4))._1 == 0)
    assert(counts(df.repartition(4, col("id")))._1 == 1)
    assert(counts(df.join(broadcast(spark.range(10).toDF("id")), "id"))._3 >= 1)
  }

  test("every batch operator's exchange counts match the committed golden file") {
    val got = plans.collect { case (n, p) if PlanCensus.pinned(n) =>
      n -> PlanCensus.exchanges(p) }
    if (sys.props.get("graft.shuffle.regen").contains("true")) {
      PlanCensus.writeGolden(got)
      info(s"regenerated ${PlanCensus.goldenPath} with ${got.size} operators")
    } else {
      val golden = PlanCensus.readGolden()
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      got.foreach { case (name, counts) =>
        golden.get(name) match {
          case None => failures += s"$name: not in golden (new op? regen the file)"
          case Some(g) if g != counts =>
            failures += s"$name: (shuffles,reused,broadcasts) drifted $g -> $counts"
          case _ =>
        }
      }
      golden.keySet.diff(got.map(_._1).toSet).foreach { n =>
        failures += s"$n: in golden but no longer registered"
      }
      assert(failures.isEmpty,
        s"exchange-count drift (regen with -Dgraft.shuffle.regen=true after review):\n${failures.mkString("\n")}")
    }
  }

  // intentional occurrences, with why
  private val sortAggAllowed = Set(
    "api_stream",          // one-row-per-key harness tail (max_by struct on
    "api_stream_commands", //   tiny post-stream output, judged harmless)
    "api_inv_stream",      //   same harness tail, second model (A11)
    "stream_fold", "stream_ewma", "es_live_store",
    "table_stats",  // min/max(string) buffers are immutable ⇒ sort-agg
                    //   by engine design; it runs over the bounded
                    //   value GRID (ndv rows), never the corpus —
                    //   Round13Spec caps it at the two string branches
    "table_stats_refresh", // same string min/max on the merged grid
                           //   (bounded rows), never the corpus
    "table_stats_refresh_events") // the second ANALYZE table (R34):
                           //   identical merged-grid shape — the sort-agg
                           //   runs over the bounded (column, value) grid
                           //   (event_type + the ~100-value props), never
                           //   the corpus
  private val bnljAllowed = Set(
    "ann_ivf",      // corpus × k-centroid broadcast (intentional, tiny side)
    "ann_ivfpq",    // same k-centroid broadcast feeding the composed index
    "cosine_topk",  // brute-force baseline: corpus × 5 broadcast queries
    "ann_two_tier", // tier-1 scoring: corpus × 5 broadcast queries (the
                    //   cosine_topk shape, scored in 16 projected lanes)
    "ann_two_tier_recall", // composes cosine_topk (truth) + ann_two_tier —
                           //   inherits exactly their allowlisted broadcasts
    "ann_lsh_two_tier_recall", // composes cosine_topk (truth) + the
                           //   bucket-pruned S18 — ONLY the truth side
                           //   nests (S18 itself joins equi on bucket)
    "knn_recall",   // S13 eval: exact truth = corpus × the broadcast
                    //   md5-sampled query set (the S1 shape); the graph
                    //   under test stays bucket-joined
    "ann_recall",   // composes cosine_topk (ground truth) + ann_ivf —
                    //   inherits exactly their allowlisted broadcasts
    "ann_probe_sweep", // the same composition per probe level — the
                       //   k-centroid broadcast ×3 probe settings
    "ann_lsh",      // queries broadcast against bucket-partitioned corpus
    "dedup_embedding", // truth-set style candidate re-attach, broadcast side
    "mm_embed_ann",
    "corpus_cluster",  // corpus × k-centroid broadcast (ann_ivf's shape)
    "vocab_bpe_merge", // vocab × the 1-ROW winning-merge broadcast: the
                       //   constant join key folds away and a 1-row
                       //   nested loop IS the optimal attach
    "signal_supervision") // fired signals × 3-row registration table:
                          //   non-equi regex join, broadcast side tiny

  test("no SortAggregate / cartesian / stray nested-loop join in any query plan") {
    // each allowlist exempts ONLY its own check
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    plans.foreach { case (name, plan) =>
      if (plan.contains("SortAggregate") && !sortAggAllowed.contains(name))
        offenders += s"$name: SortAggregate"
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed.contains(name))
        offenders += s"$name: BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty, s"plan lint failures:\n${offenders.mkString("\n")}")
  }

  // Budgets are ceilings measured from the current plans; evals that
  // deliberately run a config ladder (the *_sweep ops) are not listed
  // — their cost is per-config by design.
  // op -> (max shuffle exchanges, min broadcast exchanges)
  private val budgets: Seq[(String, Int, Int)] = Seq(
    // the KTable/fold core: ONE hash shuffle on the aggregate key
    ("es_latest_state", 1, 0),
    ("es_state_fold", 1, 0),
    ("es_compaction", 1, 0),
    ("es_changelog", 2, 0),   // two packed aggs, sort-free SHJ between
    ("es_offset_audit", 3, 0), // countDistinct two-phase + ONE tiny-table
                               // exchange for the bucket-grid windows
                               // (|log|/1024 rows — not corpus-scale)
    // metrics: single-pass aggregations
    ("metric_stats", 1, 0),
    ("metric_downsample", 1, 0),
    ("metric_heatmap", 1, 0),
    ("win_tumbling", 1, 0),
    // relational headliners: fact shuffles once, dims broadcast
    ("q1_agg", 1, 0),
    ("q3_join", 1, 2),
    ("q5_multijoin", 1, 4),
    ("q18_having", 2, 1),
    ("outer_join", 2, 0),
    ("topk_custom", 1, 1),
    // behavioral: windows keyed on the one shuffle's key
    ("behavior_transitions", 3, 0),
    ("behavior_pathing", 2, 0),
    // pipeline/text/dedup single-scan reports
    ("dedup_exact", 1, 0),
    ("mm_dedup", 2, 0),
    ("text_hapax", 2, 0),
    ("corpus_card", 2, 0),
    // the k-NN graph: the bucket-count stats pass (skew sizing), two
    // explicit pinned (bucket, salt) exchanges (the self-join's sides
    // are repartitioned by hand — AQE sizes post-shuffle parallelism
    // from PRE-join bytes and coalesced the expanding bucket join to
    // 2 tasks at the sf10 scale smoke; the salt splits the hot
    // cluster's bucket), the salted c-side explode's exchange, and
    // the top-k window's vec_id exchange over the ≤3-per-vector
    // survivors
    ("knn_graph", 5, 0))

  test("headline operators stay inside their pinned exchange budgets") {
    val byName = plans.toMap
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    budgets.foreach { case (name, maxShuffles, minBroadcasts) =>
      val (sh, _, bc) = PlanCensus.exchanges(byName(name))
      if (sh > maxShuffles)
        failures += s"$name: $sh shuffles (budget $maxShuffles)"
      if (bc < minBroadcasts)
        failures += s"$name: $bc broadcasts (expected >= $minBroadcasts — a dim stopped broadcasting)"
    }
    assert(failures.isEmpty, s"exchange-budget violations:\n${failures.mkString("\n")}")
  }

  test("full-outer joins of pre-aggregated sides stay sort-free") {
    // the E19 shape: both inputs come out of hash-aggs already
    // partitioned by the join key, so SortMergeJoin would add two sorts
    // for no robustness gain — these must plan as ShuffledHashJoin
    val byName = plans.toMap
    for (name <- Seq("outer_join", "es_changelog")) {
      val plan = byName(name)
      assert(!plan.contains("SortMergeJoin"),
        s"$name should plan its full-outer join sort-free:\n$plan")
      assert(plan.contains("ShuffledHashJoin"), s"$name lost its hash join")
    }
  }

  test("PlanDump writes byte-identical text for an op planned twice in one session") {
    import org.apache.spark.sql.execution.FormattedMode
    // localCheckpoint RDDs, a lambda, a work-dir index
    for (name <- Seq("dedup_substring", "api_commands", "ann_ivf")) {
      val raw = Seq.fill(2)(PlanCensus.capture(spark, sf, name).explainString(FormattedMode))
      assert(raw(0) != raw(1), s"$name: two raw captures are already equal")
      val dumps = raw.map(tools.PlanDump.normalised(spark, _))
      assert(dumps(0) == dumps(1), s"$name:\n${dumps(0)}\n---\n${dumps(1)}")
      assert(!dumps(0).contains(Tables.workDir(spark)), name)
    }
  }
}
