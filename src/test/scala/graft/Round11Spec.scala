package graft

import org.apache.spark.sql.functions._
import graft.functions.Dedup
import graft.sources.{LocalFiles, Tables}

/** Round 11 fixes.
  *
  * D14 sampled exact-truth posture (VERDICT r10 next-round #1, SCALE
  * finding 13): the exact ssjoin truth table is output-quadratic in
  * the corpus's near-dup mass, so at probe scales the truth is exact
  * on a deterministic md5-bucket doc sample. The invariants these
  * tests pin:
  *   - rate 1.0 (all oracle scales) applies NO gate — byte-identical
  *     build, so the driver CORRECTNESS path is untouched;
  *   - a sampled truth is EXACT within its sample: identical to the
  *     full truth restricted to pairs with both endpoints sampled
  *     (prefix-filter completeness holds under any fixed shingle
  *     order, so in-sample document frequencies stay a valid order);
  *   - D15 dedup_recall grades candidates against the truth within
  *     ONE population: under sampling the candidate side is gated by
  *     the same doc sample.
  */
class Round11Spec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("doc_a", "doc_b", "inter_n", "union_n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("ssjoin sample rate is 1.0 at oracle scales") {
    // sf0.001 has far fewer docs than the 500k target -> full rate
    assert(Dedup.ssjoinSampleE6(spark, sf) == 1000000L)
  }

  test("ssjoin doc-sample gate is deterministic and actually partitions the corpus") {
    val docs = Tables.documents(spark, sf).select("doc_id")
    val total = docs.count()
    val kept = docs.filter(Dedup.inSsjoinSample(col("doc_id"), 500000L)).count()
    assert(kept > 0 && kept < total, s"kept $kept of $total at rate 0.5")
    // deterministic: same gate, same answer
    assert(docs.filter(Dedup.inSsjoinSample(col("doc_id"), 500000L)).count() == kept)
  }

  test("sampled ssjoin truth equals the full truth restricted to the doc sample") {
    val full = pairSet(Dedup.exactJoinTruth(spark, sf, Sizing.fullRateE6))
    for (rate <- Seq(700000L, 400000L)) {
      val expected = pairSet(Dedup.exactJoinTruth(spark, sf, Sizing.fullRateE6)
        .filter(Dedup.inSsjoinSample(col("doc_a"), rate) &&
          Dedup.inSsjoinSample(col("doc_b"), rate)))
      val sampled = pairSet(Dedup.exactJoinTruth(spark, sf, rate))
      assert(sampled == expected, s"rate=$rate")
      assert(sampled.subsetOf(full), s"rate=$rate not a truth subset")
    }
  }

  test("dedup_recall under sampling grades candidates within the same doc sample") {
    val rate = 400000L
    val row = Dedup.dedupRecall(spark, sf, rate).collect().head
    val expectedTrue = Dedup.exactJoinTruth(spark, sf, Sizing.fullRateE6)
      .filter(Dedup.inSsjoinSample(col("doc_a"), rate) &&
        Dedup.inSsjoinSample(col("doc_b"), rate)).count()
    val expectedCand = Dedup.candidatePairs(spark, sf)
      .filter(Dedup.inSsjoinSample(col("doc_a"), rate) &&
        Dedup.inSsjoinSample(col("doc_b"), rate)).count()
    assert(row.getLong(row.fieldIndex("n_true")) == expectedTrue)
    assert(row.getLong(row.fieldIndex("n_cand")) == expectedCand)
  }

  test("eval-sample thinning is identity at oracle scales and a strict subset when engaged") {
    import graft.functions.Similarity
    // oracle scales: the thinning term must not even be added — the
    // gate is the bare mod-4 sample (bit-identical plan)
    val vectors = Similarity.vectorCount(spark, sf)
    assert(Sizing.evalThinE6(vectors) == 1000000L)
    assert(Sizing.sweepThinE6(vectors) == 1000000L)
    val ids = Tables.embeddings(spark, sf).select("vec_id")
    val full = ids.filter(Similarity.inEvalSampleThinned(col("vec_id"), 1000000L)).count()
    val bare = ids.filter(Similarity.inEvalSample(col("vec_id"))).count()
    assert(full == bare)
    // engaged: thinned queries are a strict nonempty subset of the
    // mod-4 sample (deterministic either way)
    val thin = ids.filter(Similarity.inEvalSampleThinned(col("vec_id"), 500000L)).count()
    assert(thin > 0 && thin < full, s"thinned $thin of $full")
    val sw = ids.filter(Dedup.inSweepSampleThinned(col("vec_id"), 400000L)).count()
    val swFull = ids.filter(Dedup.inSweepSample(col("vec_id"))).count()
    assert(sw > 0 && sw < swFull, s"sweep-thinned $sw of $swFull")
  }

  test("two-phase TopK (local then global) equals the window form exactly") {
    import spark.implicits._
    import graft.plans.TopK
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // keys spread across every partition (the broadcast-join eval
    // shape), duplicate scores to exercise the tie-break, and -0.0/0.0
    // boundary values
    val rows = (0 until 20000).map { i =>
      val score = rnd.nextInt(40) match {
        case 0 => 0.0
        case 1 => -0.0
        case n => rnd.nextInt(500).toDouble / 100.0 - 2.0
      }
      (rnd.nextInt(37).toLong, i.toLong, score)
    }
    val df = rows.toDF("q_id", "vec_id", "cos_sim").repartition(13)
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaTopK = TopK.topKPerKey(
        TopK.topKPerKeyLocal(df, 3, "q_id", "cos_sim", "vec_id"),
        3, "q_id", "cos_sim", "vec_id")
      .select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaTopK == viaWindow)
    // the local pass must not add an exchange of its own
    val localPlan = TopK.topKPerKeyLocal(df, 3, "q_id", "cos_sim", "vec_id")
      .queryExecution.executedPlan.toString
    val basePlan = df.queryExecution.executedPlan.toString
    def ex(p: String): Int = "Exchange".r.findAllIn(p).length
    assert(ex(localPlan) == ex(basePlan),
      s"local TopK pass added an exchange:\n$localPlan")
  }

  test("admit growth store: compaction bounds fan-in, preserves rows, keeps appends idempotent") {
    import spark.implicits._
    import graft.streaming.Streams
    val root = new java.io.File("/tmp/graft_growth_spec")
    LocalFiles.deleteRec(root); root.mkdirs()
    val n = 12 // past the LiveStore cadence (8) -> at least one compaction
    for (id <- 0 until n) {
      Streams.appendBatchOnce(
        Seq((id.toLong, s"h$id")).toDF("doc_id", "h"), root.getPath, id.toLong)
      Streams.maybeCompactGrowth(spark, root.getPath)
    }
    // rows preserved exactly across folds
    val got = Streams.readGrown(spark, root.getPath).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (0 until n).map(id => (id.toLong, s"h$id")).toSet)
    // fan-in bounded: live roots ≤ 1 base + cadence deltas
    val (v, live) = Streams.liveGrowth(root.getPath)
    assert(v >= 0, "a compaction must have folded a base")
    assert(live.size <= graft.streaming.LiveStore.compactEvery + 1,
      s"live fan-in ${live.size} exceeds the cadence bound")
    // idempotence: re-appending an already-FOLDED id is a no-op even
    // after its delta dir was grace-deleted
    Streams.appendBatchOnce(
      Seq((0L, "duplicate")).toDF("doc_id", "h"), root.getPath, 0L)
    val again = Streams.readGrown(spark, root.getPath).get.count()
    assert(again == n.toLong, s"replayed folded batch re-appended (rows=$again)")
    LocalFiles.deleteRec(root)
  }

  test("components runs under a scoped conf and leaves the session width untouched") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val frame = graft.functions.Clusters.components(
      Seq((2L, 1L), (3L, 2L)).toDF("doc_a", "doc_b"))
    assert(frame.sparkSession eq spark, "the labels must come back on the caller's session")
    val labs = frame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
