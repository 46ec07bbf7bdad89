package graft

import org.apache.spark.sql.functions._

/** Round-15 additions: the P25→D22→strip loop closed (P26
  * corpus_strip with its token-conservation law), the S15 envelope
  * composed into a real two-tier ANN (S16 rank-in-16 / re-score-in-64
  * with S17's fixed-budget recall eval), and the r12-advice plan fixes
  * (no redundant tail chunks, exact compact_out_files, decimal(38,0)
  * chunk canon keys).
  */
class Round15Spec extends SparkSpec {

  // ---- P26 corpus_strip ----

  test("corpus_strip conserves tokens and rewrites exactly the dup windows") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = run("corpus_strip").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    // total function of the corpus: one ledger row per document
    assert(got.keySet == docs.keySet)
    // plain-Scala replay of the whole strip pass
    val chunks = run("corpus_chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byH = chunks.groupBy(_._5).filter(_._2.length >= 2)
    assert(byH.nonEmpty, "fixture has no shared windows — vacuous test")
    val canon = byH.map { case (h, occ) =>
      h -> occ.map(o => (o._1, o._2)).min
    }
    val dropPos: Map[Long, Set[Long]] = chunks
      .filter(c => byH.contains(c._5) && canon(c._5) != ((c._1, c._2)))
      .groupBy(_._1)
      .map { case (id, occ) =>
        id -> occ.flatMap(c => c._3 until (c._3 + c._4)).toSet
      }
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    var stripped = 0
    for ((id, text) <- docs) {
      val toks = text.split(" ", -1)
      val dp = dropPos.getOrElse(id, Set.empty)
      val (orig, dropped, kept, h) = got(id)
      // the conservation law: every token is kept xor dropped
      assert(orig == toks.length.toLong)
      assert(dropped == dp.size.toLong)
      assert(kept + dropped == orig, s"doc $id leaks tokens")
      val expect = toks.zipWithIndex.collect {
        case (t, i) if !dp.contains(i.toLong) => t
      }.mkString(" ")
      assert(h == md5(expect), s"doc $id cleaned text diverges from replay")
      if (dp.nonEmpty) stripped += 1
    }
    assert(stripped > 0, "no document was actually stripped — vacuous")
    // canonical survival: a doc that is the canonical occurrence of
    // every shared window it contains loses nothing
    val allCanonDocs = docs.keySet.filter { id =>
      val mine = chunks.filter(c => c._1 == id && byH.contains(c._5))
      mine.nonEmpty && mine.forall(c => canon(c._5) == ((c._1, c._2)))
    }
    for (id <- allCanonDocs)
      assert(got(id)._2 == 0L, s"all-canonical doc $id was stripped")
  }

  // ---- P27 corpus_strip_verify ----

  test("corpus_strip_verify: the strip collapses duplicated window mass; before matches D22") {
    val census = run("corpus_strip_verify").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val (bChunks, bShared, bDup) = census("before")
    val (aChunks, aShared, aDup) = census("after")
    // the before side IS the original chunk census — it must agree
    // with corpus_chunk and dedup_chunks exactly
    assert(bChunks == run("corpus_chunk").count())
    val d22 = run("dedup_chunks").collect()
      .map(r => r.getLong(1)).toSeq
    assert(bShared == d22.length.toLong)
    assert(bDup == d22.map(_ - 1L).sum)
    assert(bDup > 0, "fixture has no duplicated windows — vacuous")
    // the strip law: duplicated window mass strictly collapses
    // (windows can re-align after token removal, so ≥ 0, but the
    // mass must strictly decrease; the fixture collapses to zero)
    assert(aDup < bDup, s"dup mass did not decrease: $bDup -> $aDup")
    assert(aShared <= bShared)
    assert(aChunks <= bChunks)
  }

  // ---- R32 C9 bucketed dimension (r12 verdict item 1) ----

  test("R32's per-batch join shape: bucketed dim scan, zero exchange + zero sort on the dim side") {
    import graft.sources.Tables
    val tag = math.abs(scala.util.Random.nextLong() % 1000000L)
    val dim = s"r15_dim_$tag"
    val loc = s"/tmp/graft_r15_dim_$tag"
    Tables.orders(spark, sf).select("o_orderkey", "o_orderdate")
      .repartition(16, col("o_orderkey"))
      .write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
      .option("path", loc).mode("overwrite").saveAsTable(dim)
    try {
      // force the at-scale (non-broadcast) shape the sf100 fix targets;
      // the legacy flag restores sorted-bucket ordering REPORTING
      // (SPARK-28632 turned it off by default) — Spark still verifies
      // one file per bucket before claiming order
      withConf("spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val fact = Tables.lineitem(spark, sf)
          .select("l_orderkey", "l_returnflag", "l_extendedprice")
        val df = graft.operators.Relational.viewAgg(fact, spark.table(dim))
        val plan = df.queryExecution.executedPlan.toString
        // the dimension arrives pre-clustered from its buckets…
        assert(plan.contains("SelectedBucketsCount"),
          s"dim scan is not bucketed:\n$plan")
        // …so the only hash exchanges are the fact side into the join
        // and the post-join aggregate — the unbucketed form has 3
        val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(ex == 2, s"expected 2 exchanges (fact + agg), got $ex:\n$plan")
        // …and bucket-SORTED (one file per bucket) means the dim side
        // needs no sort under the SMJ; only the fact side sorts
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Sort [o_orderkey"),
          s"dim side re-sorted — bucket ordering was lost:\n$plan")
        // and the joined result is the same frame the unbucketed join
        // produces (the layout is invisible to the algebra)
        val viaTable = df.collect().map(_.toSeq).toSet
        val plain = graft.operators.Relational
          .viewAgg(fact, Tables.orders(spark, sf)
            .select("o_orderkey", "o_orderdate"))
          .collect().map(_.toSeq).toSet
        assert(viaTable == plain)
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $dim")
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(); ()
      }
      rec(new java.io.File(loc))
    }
  }

  // ---- D21/R32 kill + redelivery matrix (r12 verdict item 6) ----

  // The growth stores hold their state OUTSIDE Spark (committed
  // delta_b<id> dirs are the replay markers), so the state-store
  // provider MUST be invisible to them — this test PROVES that rather
  // than assuming it, running the full kill-at-batch-boundary +
  // copied-checkpoint REDELIVERY protocol (the E16 matrix) under both
  // providers for both stores.
  test("D21/R32 growth stores survive kill + redelivered batch under BOTH state-store providers") {
    import graft.streaming.Streams
    import graft.sources.Tables
    import org.apache.spark.sql.{DataFrame, Row, Dataset}
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(); ()
    }
    def copyRec(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).foreach(_.foreach(f =>
          copyRec(f, new java.io.File(dst, f.getName))))
      } else {
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
      }
    }
    def splitFiles(df: DataFrame, dir: java.io.File,
        rangeCols: Seq[org.apache.spark.sql.Column]): IndexedSeq[java.io.File] = {
      dir.mkdirs()
      val tagged = df.repartitionByRange(3, rangeCols: _*)
        .withColumn("_p", spark_partition_id()).localCheckpoint(true)
      (0 until 3).map { i =>
        val tmp = new java.io.File(dir, s"_b$i")
        tagged.filter(col("_p") === i).drop("_p")
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = Option(tmp.listFiles()).get
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
        val dst = new java.io.File(dir, f"$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        rec(tmp); dst
      }
    }
    def runGrowth(srcDir: String, ckpt: String)(
        body: (DataFrame, Long) => Unit): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      Streams.drain(stream, ckpt, "append", rowScaleState = false)(body)
      ()
    }
    def killMatrix(name: String, src: DataFrame,
        rangeCols: Seq[org.apache.spark.sql.Column],
        body: (DataFrame, Long, String) => Unit,
        view: String => Set[Seq[Any]]): Unit = {
      val root = new java.io.File(s"/tmp/graft_r15_kill_$name")
      rec(root); root.mkdirs()
      val splits = splitFiles(src, new java.io.File(root, "src_all"), rangeCols)
      val rootRef = s"$root/g_ref"; new java.io.File(rootRef).mkdirs()
      runGrowth(s"$root/src_all", s"$root/ckpt_ref")((b, id) => body(b, id, rootRef))
      val expected = view(rootRef)
      assert(expected.nonEmpty, s"$name: vacuous reference view")
      // kill at the batch-2-of-3 boundary…
      val partSrc = new java.io.File(root, "src_part"); partSrc.mkdirs()
      splits.take(2).foreach(f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(partSrc, f.getName).toPath))
      val rootKill = s"$root/g_kill"; new java.io.File(rootKill).mkdirs()
      runGrowth(partSrc.getPath, s"$root/ckpt_kill")((b, id) => body(b, id, rootKill))
      // …then the crash-between-sink-commit-and-WAL-commit window on a
      // COPY of the checkpoint: batch 1's offsets survive, its commit
      // marker (and the local-FS .crc sidecar) do not ⇒ the resumed
      // query MUST redeliver it; the committed delta dir is the
      // idempotence marker that absorbs the replay
      val ckptResume = new java.io.File(s"$root/ckpt_resume")
      copyRec(new java.io.File(s"$root/ckpt_kill"), ckptResume)
      val commit1 = new java.io.File(ckptResume, "commits/1")
      assert(commit1.exists, s"$name: expected batch 1's commit marker")
      assert(commit1.delete())
      new java.io.File(ckptResume, "commits/.1.crc").delete()
      java.nio.file.Files.copy(splits(2).toPath,
        new java.io.File(partSrc, splits(2).getName).toPath)
      runGrowth(partSrc.getPath, ckptResume.getPath)((b, id) => body(b, id, rootKill))
      assert(view(rootKill) == expected,
        s"$name: kill + redelivered batch diverged from the uninterrupted run")
      rec(root)
    }
    for (provider <- Seq("default", "rocksdb")) {
      withConf("graft.stream.stateStore" -> provider) {
        // D21: the maintained digest index's growth store
        val base = graft.functions.Dedup.digestIndexBase(spark, sf)
        killMatrix(s"idx_$provider",
          graft.functions.Dedup.indexDeltaActions(spark, sf), Seq(col("doc_id")),
          (b, id, root) => {
            Streams.appendBatchOnce(b.withColumn("seq", lit(id)), root, id)
            Streams.maybeCompactGrowth(spark, root); ()
          },
          root => Streams.maintainedIndexView(spark, base, root)
            .collect().map(_.toSeq).toSet)
        // R32: the maintained view's monoid-partial growth store
        val li = Tables.lineitem(spark, sf)
        val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0)
        val t = maxOk * 4 / 5
        val ordDelta = Tables.orders(spark, sf)
          .filter(col("o_orderkey") > t).select("o_orderkey", "o_orderdate")
        killMatrix(s"view_$provider",
          li.filter(col("l_orderkey") > t)
            .select("l_orderkey", "l_returnflag", "l_extendedprice"),
          Seq(col("l_orderkey")),
          (b, id, root) => {
            Streams.appendBatchOnce(
              graft.operators.Relational.viewAgg(b, ordDelta), root, id)
            Streams.maybeCompactGrowth(spark, root); ()
          },
          root => Streams.readGrown(spark, root).get
            .groupBy("month", "l_returnflag")
            .agg(sum(col("sum_price_c")).as("p"), sum(col("n")).as("n"))
            .collect().map(_.toSeq).toSet)
      }
    }
  }

  // ---- R33 table_stats_refresh (r12 verdict item 7) ----

  test("table_stats_refresh: capital ∪ delta merges to exact full-table stats; HLL ndv in envelope") {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf)
    val rows = graft.operators.Relational.tableStatsRefreshFull(spark, sf)
      .collect().map { r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getString(4), r.getString(5), r.getLong(6))
      }.toMap
    assert(rows.keySet == Set("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_returnflag", "l_linestatus"))
    val nRows = li.count()
    for ((c, (n, nNull, ndv, minS, maxS, est)) <- rows) {
      // the monoid columns merge EXACTLY across the capital boundary
      assert(n == nRows, s"$c n_rows")
      assert(nNull == 0L, s"$c n_null")
      val exact = li.agg(countDistinct(col(c)),
        min(col(c)).cast("string"), max(col(c)).cast("string")).head()
      assert(minS == exact.getString(1), s"$c min")
      assert(maxS == exact.getString(2), s"$c max")
      val exactNdv = exact.getLong(0)
      if (Set("l_returnflag", "l_linestatus").contains(c)) {
        // string columns: the merged value grid gives EXACT ndv
        assert(ndv.contains(exactNdv), s"$c grid ndv")
        assert(est == exactNdv)
      } else {
        // numeric columns: approximate values stay OUT of exact
        // columns; the merged-sketch estimate is envelope-pinned
        // (merged/direct estimates legitimately differ — never pin
        // equality, the r12 HLL gotcha)
        assert(ndv.isEmpty, s"$c must not claim exact ndv")
        val tol = math.max(2L, exactNdv / 20)
        assert(math.abs(est - exactNdv) <= tol,
          s"$c ndv est $est vs exact $exactNdv (tol $tol)")
      }
    }
    // the refresh is incremental, not a rename: its base capital is the
    // ≤t slice only, so the delta contributed real rows
    val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0)
    assert(li.filter(col("l_orderkey") > maxOk * 4 / 5).count() > 0)
  }

  // ---- S16/S17 two-tier ANN ----

  test("ann_two_tier == brute force restricted to the tier-1 candidate set") {
    import graft.functions.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map { r =>
        r.getLong(0) -> r.getSeq[Float](1).map(x =>
          BigDecimal(x.toDouble * 1000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
      }.toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    val signs = Array.tabulate(16, 64)((j, i) => Similarity.rpSign(i, j))
    def proj(v: Array[Long]): Array[Long] = signs.map(s => dot(v, s))
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / math.sqrt((dot(a, a) * dot(b, b)).toDouble)
    val queries = emb.filter(_._1 < 5)
    val corpus = emb.filter(_._1 >= 5)
    val expected = queries.flatMap { case (q, qv) =>
      val qp = proj(qv)
      val cand = corpus.toSeq
        .map { case (c, cv) => (c, cos(qp, proj(cv))) }
        .sortBy { case (c, s) => (-s, c) }.take(50).map(_._1)
      cand.map { c => (q, c, cos(qv, emb(c))) }
        .sortBy { case (_, c, s) => (-s, c) }.take(10).zipWithIndex
        .map { case ((_, c, s), i) => (q, c) -> (s, i + 1L) }
    }.toMap
    val got = run("ann_two_tier").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expected.keySet, "candidate/top-k sets diverge from replay")
    for ((k, (s, rn)) <- expected) {
      assert(got(k)._2 == rn, s"$k rank")
      assert(math.abs(got(k)._1 - s) < 1e-12, s"$k score")
    }
  }

  test("ann_two_tier_recall measures the budgeted pre-filter against S1's truth") {
    val truth = run("cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tt = run("ann_two_tier").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = run("ann_two_tier_recall").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet == truth.map(_._1))
    for ((q, (nTrue, nHit, e4)) <- rows) {
      assert(nTrue == truth.count(_._1 == q).toLong)
      assert(nHit == truth.count(t => t._1 == q && tt.contains(t)).toLong)
      assert(e4 == 10000L * nHit / nTrue)
      // the eval only means something if the pre-filter is actually
      // lossy OR perfect — both are valid; negative hits are not
      assert(nHit >= 0L && nHit <= nTrue)
    }
  }
}
