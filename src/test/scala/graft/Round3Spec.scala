package graft

import org.apache.spark.sql.functions._

/** Round-3 additions: the packed-decimal argmax on the KTable path
  * (es_latest_state / metric_stats / stream_latest must plan as
  * HashAggregate — the max_by(struct,…) form silently falls back to
  * SortAggregate and full-sorts the log). */
// Tagged Slow: excluded from the default `sbt test` (the driver's
// wall-clock budget gate — r14's full suite was cut off mid-run);
// the full set runs with `sbt -Dgraft.slowTests=true test`.
@org.scalatest.tags.Slow
class Round3Spec extends SparkSpec {

  private def assertHashAggOnly(name: String): Unit = {
    val df = run(name)
    df.collect() // force AQE final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"$name must not plan a SortAggregate:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"$name should aggregate via HashAggregate:\n$plan")
  }

  test("es_latest_state plans as HashAggregate (no sort on the KTable path)") {
    assertHashAggOnly("es_latest_state")
  }

  test("metric_stats plans as HashAggregate (no sort for MostRecentValue)") {
    assertHashAggOnly("metric_stats")
  }

  test("packed argmax picks the max_by(struct) winner, incl. same-second ties") {
    import spark.implicits._
    // two users; user 1 has a same-second tie where event_id must break
    // the tie exactly like ORDER BY ts DESC, event_id DESC
    val ev = Seq(
      (1L, "2024-01-01 00:00:01.000500", 10L, "click", 1.25),
      (1L, "2024-01-01 00:00:01.000400", 11L, "error", 2.50), // earlier µs, larger id
      (1L, "2024-01-01 00:00:00.999999", 9L, "view", 3.75),
      (2L, "2024-01-02 12:34:56.789012", 20L, "signup", 490.02),
      (2L, "2024-01-02 12:34:56.789011", 21L, "purchase", 0.01))
      .toDF("user_id", "s", "event_id", "event_type", "value")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val got = graft.streaming.Streams.latestStateAgg(ev)
    val want = ev.groupBy("user_id")
      .agg(max_by(struct(col("event_type").as("last_type"), col("value").as("last_value")),
        struct(col("ts"), col("event_id"))).as("l"))
      .select(col("user_id"), col("l.last_type"), col("l.last_value"))
    assert(got.select("user_id", "last_type", "last_value").except(want).count() == 0)
    assert(want.except(got.select("user_id", "last_type", "last_value")).count() == 0)
  }

  test("streaming commands: state carries across micro-batches (accept then reject)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.api.{AccountModel, GraftEngine, Keyed, Account}
    import graft.streaming.Ev
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)

    val eng = new GraftEngine(AccountModel)
    // snapshot: user 1 holds 1000 cents (one signup)
    val snapshot = eng.replayState(Seq(Ev(1, ts(0), 1, "signup", 0.0)).toDS())
    val input = MemoryStream[Ev]
    val out = eng.streamingCommands(input.toDS(), snapshot)
      .map(o => (o.command.event_id, o.aggregateId, o.accepted))
      .toDF("event_id", "user_id", "accepted")
    val q = out.writeStream.format("memory").queryName("cmd_stream_test")
      .outputMode("update").start()
    // batch 1: 600-cent purchase — covered (1000 ≥ 600)
    input.addData(Ev(10, ts(1), 1, "purchase", 6.0))
    q.processAllAvailable()
    // batch 2: another 600 — must REJECT: batch 1 left only 400
    input.addData(Ev(11, ts(2), 1, "purchase", 6.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cmd_stream_test")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(10L -> true, 11L -> false),
      s"state must carry across batches, got $got")
  }

  test("D5 banded LSH: recall vs τ≥0.4 truth is band-monotone; volume beats 8-plane") {
    import graft.functions.{Dedup, Similarity}
    import graft.sources.Tables
    // brute-force truth set (500 vectors — exact)
    val q = Tables.embeddings(spark, sf).select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("v"))
      .withColumn("nn", Similarity.sqNorm(col("v"))).cache()
    val truth = q.alias("a").join(q.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosine(col("a.v"), col("b.v"), col("a.nn"), col("b.nn")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b").cache()
    val nTruth = truth.count()
    assert(nTruth > 0)

    def found(planes: Int, bands: Int): Long =
      Dedup.dedupEmbeddingWith(spark, sf, planes, bands)
        .select("vec_a", "vec_b").join(truth, Seq("vec_a", "vec_b")).count()
    // every emitted pair passes the exact cosine gate — precision is 1
    assert(Dedup.dedupEmbeddingWith(spark, sf, Dedup.embPlanes, Dedup.embBands)
      .select("vec_a", "vec_b").except(truth).count() == 0)
    // OR-construction recall is monotone in the band count
    val r1 = found(16, 1); val r2 = found(16, 2); val r6 = found(16, 6)
    assert(r1 <= r2 && r2 <= r6, s"band recall not monotone: $r1, $r2, $r6")
    assert(r6 > r1, s"6 bands must beat 1 band on the truth set ($r6 vs $r1)")

    def candidates(planes: Int, bands: Int): Long = {
      val n = (0 until bands).foldLeft(q) { (df, b) =>
        df.withColumn(s"bk$b", Similarity.lshBucket(col("v"), planes, b))
      }
      (0 until bands).map { b =>
        n.select(col("vec_id").as("vec_a"), col(s"bk$b").as("bk")).alias("x")
          .join(n.select(col("vec_id").as("vec_b"), col(s"bk$b").as("bk")).alias("y"), "bk")
          .filter(col("vec_a") < col("vec_b")).select("vec_a", "vec_b")
      }.reduce(_ union _).distinct().count()
    }
    // the scale win: 16-plane 6-band candidate volume is BELOW the old
    // single 8-plane band's, with 256× smaller per-block self-joins
    assert(candidates(16, 6) < candidates(8, 1))
  }

  test("flagship KTable agg runs inside whole-stage codegen") {
    val df = run("es_latest_state")
    df.collect()
    // the packed-decimal argmax must not fall out of codegen: every
    // HashAggregate in the plan is inside a WholeStageCodegen span
    // (simple-plan format marks codegen'd operators with a '*')
    val plan = df.queryExecution.executedPlan.toString
    val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.nonEmpty)
    aggLines.foreach(l => assert(l.contains("*"),
      s"HashAggregate outside whole-stage codegen:\n$l\n$plan"))
  }

  test("percentile_approx stays within rank-error bounds of the exact M5 values") {
    import spark.implicits._
    import graft.sources.Tables
    // the 100 TB path: M5's exact percentile keeps every value in the
    // aggregation buffer; percentile_approx is the bounded-memory
    // replacement — check its documented rank-error bound (1/accuracy)
    // against the exact answers on the same cents data
    val c = Tables.events(spark, sf)
      .select(col("event_type"), Tables.cents(col("value")).as("c"))
    val both = c.groupBy("event_type").agg(
      expr("percentile(c, 0.5)").as("exact_p50"),
      expr("percentile_approx(c, 0.5, 1000)").as("approx_p50"),
      count(lit(1)).as("n"))
    both.collect().foreach { r =>
      val (exact, approx, n) =
        (r.getAs[Double]("exact_p50"), r.getAs[Long]("approx_p50"), r.getAs[Long]("n"))
      // approx returns an ACTUAL data value whose rank is within
      // n/1000 of the true median rank; the exact percentile
      // interpolates between values, so widen the window by ±2 ranks
      // (2/n) on top of the 1/1000 accuracy bound
      val eps = 0.002 + 2.0 / n
      val lo = c.filter(col("event_type") === r.getAs[String]("event_type"))
        .agg(expr(s"percentile(c, ${0.5 - eps})")).collect()(0).getDouble(0)
      val hi = c.filter(col("event_type") === r.getAs[String]("event_type"))
        .agg(expr(s"percentile(c, ${0.5 + eps})")).collect()(0).getDouble(0)
      assert(approx >= lo - 1 && approx <= hi + 1,
        s"approx median $approx outside rank window [$lo, $hi] (n=$n)")
    }
  }

  test("D2 band shape: more bands of fewer rows lowers the LSH threshold (monotone)") {
    import graft.functions.Dedup
    def pairs(bands: Int, rows: Int): Long = {
      val b = Dedup.bandsDfWith(spark, sf, bands, rows)
      b.alias("a").join(b.alias("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    }
    // fixed 16 hashes, threshold ≈ (1/b)^(1/r): 8×2 (τ≈.35) must catch
    // at least as many pairs as 4×4 (τ≈.7), which must catch at least
    // as many as 2×8 (τ≈.92)
    val loose = pairs(8, 2); val default = pairs(4, 4); val strict = pairs(2, 8)
    assert(loose >= default && default >= strict,
      s"band-shape monotonicity violated: $loose, $default, $strict")
    assert(loose > strict, s"8×2 must be strictly looser than 2×8 ($loose vs $strict)")
  }

  test("Packed: randomized argmax equals max_by(struct) incl. engineered collisions") {
    import spark.implicits._
    import graft.operators.Packed
    val rnd = new scala.util.Random(4242)
    // 800 events over 25 keys; timestamps drawn from a NARROW window so
    // same-second and same-millisecond collisions are common, plus
    // exact-duplicate µs across different event_ids
    val rows = (0 until 800).map { i =>
      val key = rnd.nextInt(25).toLong
      val us = 1704067200000000L + rnd.nextInt(5000).toLong * 997L
      val payload = rnd.nextInt(100000000).toLong
      (key, us, i.toLong, payload)
    }
    val df = rows.toDF("k", "us", "event_id", "payload")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = df.groupBy("k")
      .agg(max(Packed.latest(col("ts"), col("event_id"), col("payload"))).as("pk"))
      .select(col("k"), Packed.payload(col("pk")).as("payload"))
    val want = df.groupBy("k")
      .agg(max_by(col("payload"), struct(col("ts"), col("event_id"))).as("payload"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    // payload roundtrips bit-exactly through the packed key
    val rt = df.select(col("payload"),
      Packed.payload(Packed.latest(col("ts"), col("event_id"), col("payload"))).as("back"))
    assert(rt.filter(col("payload") =!= col("back")).count() == 0)
  }

  test("corpus_shard packs each language into contiguous budget-bounded shards") {
    val out = run("corpus_shard").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("shard")))
    out.groupBy(_._1).foreach { case (_, docs) =>
      val ordered = docs.sortBy(_._2)
      // shard ids are contiguous from 0 and non-decreasing in doc order
      assert(ordered.head._4 == 0L)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(b._4 >= a._4 && b._4 - a._4 <= 1 + a._3 / 2000L)
        case _           => () // single-doc language
      }
      // the packing matches a local exclusive prefix scan exactly
      var run = 0L
      ordered.foreach { case (_, _, n, shard) =>
        assert(shard == run / 2000L)
        run += n
      }
    }
  }

  test("stream_latest_n: the tail evolves across batches with bounded state") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{Ev, Streams}
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val input = MemoryStream[Ev]
    val q = Streams.tailStream(input.toDS(), 3).toDF()
      .writeStream.format("memory").queryName("tail_test")
      .outputMode("update").start()
    // batch 1: four events — only the 3 most recent survive
    input.addData(Ev(1, ts(0), 1, "signup", 0.0), Ev(2, ts(1), 1, "click", 0.0),
      Ev(3, ts(2), 1, "view", 0.0), Ev(4, ts(3), 1, "click", 0.0))
    q.processAllAvailable()
    // batch 2: a newer event evicts the oldest retained one
    input.addData(Ev(5, ts(4), 1, "purchase", 1.0))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("tail_test").collect()
    val batch1 = all.take(3).map(_.getAs[Long]("event_id")).toSet
    val batch2 = all.drop(3).map(_.getAs[Long]("event_id")).toSet
    assert(batch1 == Set(2L, 3L, 4L), s"batch-1 tail was $batch1")
    assert(batch2 == Set(3L, 4L, 5L), s"batch-2 tail was $batch2")
  }

  test("two sessions with distinct workdirs run snapshot ops concurrently") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // the r2 defect: snapshot paths keyed only by dataset hash let two
    // concurrent sessions race overwrite-against-read; workdirs are now
    // session-scoped (applicationId or the graft.workdir conf)
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    s1.conf.set("graft.workdir",
      tempDir("graft_w1").toString)
    s2.conf.set("graft.workdir",
      tempDir("graft_w2").toString)
    assert(graft.sources.Tables.workDir(s1) != graft.sources.Tables.workDir(s2))
    val fn = SparkEntry.queries("es_state_lookup")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val runs =
      try (1 to 3).map { _ =>
        val f1 = Future(fn(s1, sf).collect())
        val f2 = Future(fn(s2, sf).collect())
        (Await.result(f1, 120.seconds), Await.result(f2, 120.seconds))
      } finally pool.shutdown()
    runs.foreach { case (r1, r2) =>
      assert(r1.length == 1 && r2.length == 1)
      assert(r1(0).getAs[Long]("user_id") == 7L && r2(0).getAs[Long]("user_id") == 7L)
      assert(r1(0) == r2(0), "both sessions must read the same state")
    }
  }
}
