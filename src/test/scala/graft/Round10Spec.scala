package graft

import org.apache.spark.sql.functions._

/** Round 10 fixes: bucket-local contraction. (The block-pair tiling
  * sizer's overflow tests live in SizingSpec.)
  */
class Round10Spec extends SparkSpec {

  // ---- bucket-local contraction (the round-10 scale-killer fix) ----
  //
  // contractPairs replaces each task's pair stream with a spanning
  // star of its local components. The equivalence claim: for ANY
  // partitioning of ANY edge list, components(contract(E)) ==
  // components(E). The driver oracle re-proves it at data scale
  // (the recursive-CTE closure still reads the FULL pair set); these
  // properties prove it structurally.

  private def labelsOf(edges: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import org.apache.spark.sql.Row
    graft.functions.Clusters.components(edges).collect()
      .map { case Row(n: Long, l: Long) => (n, l) }.toSet
  }

  test("contraction preserves connected components on random graphs at arbitrary partitionings") {
    import spark.implicits._
    for (seed <- Seq(1, 42)) {
      val rnd = new scala.util.Random(seed)
      // mixed shape: sparse random edges + a planted clique + chains
      val sparse = Seq.fill(250)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      val clique = for { a <- 400 until 430; b <- a + 1 until 430 } yield (a.toLong, b.toLong)
      val chain = (500 until 540).map(i => (i.toLong, i.toLong + 1))
      val edges = (sparse ++ clique ++ chain)
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      val df = edges.toDF("doc_a", "doc_b")
      val parts = 3 + rnd.nextInt(6)
      val direct = labelsOf(df)
      val contracted = labelsOf(
        graft.functions.Dedup.contractPairs(df.repartition(parts), "doc_a", "doc_b"))
      assert(direct == contracted, s"seed=$seed parts=$parts")
    }
  }

  test("contraction collapses a clique's explicit pair set to O(nodes) edges per task") {
    import spark.implicits._
    val n = 120
    val clique = for { a <- 0 until n; b <- a + 1 until n } yield (a.toLong, b.toLong)
    val df = clique.toDF("doc_a", "doc_b").repartition(5)
    val contracted = graft.functions.Dedup.contractPairs(df, "doc_a", "doc_b").cache()
    val cnt = contracted.count()
    // per task: ≤ nodes−1 star edges → ≤ 5·(n−1) total, vs C(n,2)=7140
    assert(cnt <= 5L * (n - 1), s"contracted to $cnt edges")
    // connectivity survives: one component labeled by the min node
    val labs = labelsOf(contracted)
    assert(labs.map(_._2) == Set(0L) && labs.map(_._1).size == n)
    contracted.unpersist()
    ()
  }

  test("contraction emits no pair the input graph does not connect (no spurious merges)") {
    import spark.implicits._
    // two disjoint cliques split across partitions must stay disjoint
    val c1 = for { a <- 0 until 40; b <- a + 1 until 40 } yield (a.toLong, b.toLong)
    val c2 = for { a <- 100 until 140; b <- a + 1 until 140 } yield (a.toLong, b.toLong)
    val df = (c1 ++ c2).toDF("doc_a", "doc_b").repartition(7)
    val labs = labelsOf(graft.functions.Dedup.contractPairs(df, "doc_a", "doc_b"))
    assert(labs.map(_._2) == Set(0L, 100L))
    assert(labs.filter(_._2 == 0L).map(_._1) == (0L until 40L).toSet)
    assert(labs.filter(_._2 == 100L).map(_._1) == (100L until 140L).toSet)
  }

  test("components evaluates its edge input exactly once (nondeterministic contraction safety)") {
    // A contracted edge stream's content is partitioning-dependent:
    // evaluating it twice can yield two DIFFERENT valid spanning
    // stars, and union(e, swap(e)) over two materializations builds
    // an ASYMMETRIC graph that silently loses connectivity (the
    // cold-cache dedup_clusters parity failure this pins). components
    // must value-pin its input — exactly one evaluation.
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("edgeEvals")
    val edges = Seq((2L, 1L), (3L, 2L), (5L, 4L)).toDS()
      .repartition(3)
      .mapPartitions { it => acc.add(1L); it }
      .toDF("doc_a", "doc_b")
    val labs = graft.functions.Clusters.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    assert(acc.value == 3L,
      s"edge input evaluated ${acc.value / 3} times (accumulator ${acc.value}, 3 partitions)")
  }
}
