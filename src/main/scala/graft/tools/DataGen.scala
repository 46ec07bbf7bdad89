package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed synthetic data generator for SCALE evidence runs.
  *
  * Produces the same ten tables as /root/testdata (schemas pinned by
  * DataContractSpec, distributions mirroring TESTDATA.md's generator)
  * at an arbitrary scale factor, entirely as Spark expressions over
  * `spark.range` — no driver-side loops, no RNG state: every value is
  * `xxhash64(seed, id, …)` so the dataset is deterministic at any
  * parallelism and any partition count (a cluster of 1000 executors
  * would generate byte-identical values).
  *
  * Two deliberate skew injections (VERDICT r7 item #1/#9) that the
  * uniform driver testdata lacks:
  *   - a HOT AGGREGATE: user_id 7 receives ~10% of all events — the
  *     "celebrity key" that stalls an unsalted fold's reduce side and
  *     that A4 `es_fold_salted` / AQE skew-join mitigation exist for;
  *   - a HOT LSH BUCKET: ~1% of embeddings sit in one tight cluster
  *     (noise an order of magnitude below the inter-vector spacing),
  *     so one LSH bucket holds an order of magnitude over its fair
  *     share of vectors — and the square of that in candidate pairs;
  *   - near-duplicate documents: ~8% of docs share a 500-template pool
  *     (half byte-exact copies, half one-word mutations) so minhash /
  *     simhash / exact dedup all have real work and real recall.
  *
  * Usage: runMain graft.tools.DataGen <outDir> <sf> [cpus] [tables]
  *   sf is TPC-H-like: sf1 = 6M lineitem / 1M events; the driver's
  *   /root/testdata/sf0.1 corresponds to sf=0.1 here. sf10 ≈ 2 GB.
  *   [tables] is an optional comma-list to regenerate a subset
  *   (key-consistent: all row counts derive from sf alone).
  */
object DataGen {

  // uniform int64 in [0, m) from (seed, cols…) — the one randomness
  // primitive; xxhash64 is a fixed published function, so values are
  // reproducible across Spark versions and cluster layouts
  private def hmod(m: Long, seed: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols): _*), lit(m))

  // uniform double in [0,1) at 1e-6 resolution
  private def unif(seed: Int, cols: Column*): Column =
    hmod(1000000L, seed, cols: _*).cast("double") / lit(1e6)

  // elt(index, v1, v2, …) is one Column* varargs list in Spark 4
  private def eltOf(index: Column, values: Seq[String]): Column =
    elt((index +: values.map(lit)): _*)

  private def pick(n: Int, seed: Int, id: Column, values: Seq[String]): Column =
    eltOf((hmod(values.size.toLong, seed, id) + lit(1)).cast("int"), values)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_scale/sf10")
    val sf = if (args.length > 1) args(1).toDouble else 10.0
    val only: Set[String] =
      if (args.length > 3) args(3).split(',').map(_.trim).toSet else Set.empty
    val spark = graft.GraftSession(
      if (args.length > 2) args(2).toInt else graft.GraftSession.defaultCores)
    generate(spark, outDir, sf, only)
    spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, sf: Double,
      only: Set[String] = Set.empty): Unit = {
    val t0 = System.nanoTime()
    def rows(perSf: Long): Long = math.max(1L, (perSf * sf).toLong)
    // file sizing: ~2M rows per output file for the fact tables keeps
    // files in the 30-60 MB band (the shape a real lakehouse would
    // produce; maxPartitionBytes re-splits on read anyway)
    def files(n: Long): Int = math.max(1, (n / 2000000L).toInt)

    def write(df: => DataFrame, name: String, n: Long): Unit =
      if (only.isEmpty || only(name)) {
        df.repartition(files(n)).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        println(s"[datagen] $name: $n rows -> $outDir/$name.parquet")
      }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      eltOf(col("id").cast("int") + lit(1), regions).as("r_name")),
      "region", 5)

    write(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")),
      "nation", 25)

    val nCust = rows(150000L)
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      hmod(25, 11, col("id")).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + unif(12, col("id")) * lit(11000.0), 2).as("c_acctbal"),
      pick(5, 13, col("id"), Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "customer", nCust)

    val nSupp = rows(10000L)
    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      hmod(25, 21, col("id")).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + unif(22, col("id")) * lit(11000.0), 2).as("s_acctbal")),
      "supplier", nSupp)

    val nPart = rows(200000L)
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(
        pick(8, 31, col("id"), Seq("large", "hot", "blue", "old", "cold",
          "new", "dark", "light")), lit(" "),
        pick(8, 32, col("id"), Seq("ring", "bolt", "plate", "screw", "cap",
          "tube", "disk", "rod"))).as("p_name"),
      concat(lit("Brand#"), hmod(25, 33, col("id"))).as("p_brand"),
      pick(5, 34, col("id"), Seq("ECONOMY", "LARGE", "MEDIUM", "SMALL",
        "STANDARD")).as("p_type"),
      (hmod(50, 35, col("id")) + lit(1)).cast("int").as("p_size"),
      round(lit(900.0) + unif(36, col("id")) * lit(99.9), 2).as("p_retailprice")),
      "part", nPart)

    val nOrders = rows(1500000L)
    val epoch1995 = 788918400L // 1995-01-01 UTC
    write(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      hmod(nCust, 41, col("id")).as("o_custkey"),
      pick(3, 42, col("id"), Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + unif(43, col("id")) * lit(499000.0), 2).as("o_totalprice"),
      timestamp_seconds(lit(epoch1995) +
        hmod(2400, 44, col("id")) * lit(86400L)).as("o_orderdate"),
      pick(5, 45, col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "orders", nOrders)

    // 4 lines per order, so l_orderkey FK lands inside orders' key range
    val nLine = nOrders * 4
    write(spark.range(nLine).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      hmod(nPart, 51, col("id")).as("l_partkey"),
      hmod(nSupp, 52, col("id")).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + lit(1)).cast("int").as("l_linenumber"),
      (hmod(50, 53, col("id")) + lit(1)).cast("double").as("l_quantity"),
      round(lit(900.0) + unif(54, col("id")) * lit(104100.0), 2).as("l_extendedprice"),
      (hmod(11, 55, col("id")).cast("double") / lit(100.0)).as("l_discount"),
      (hmod(9, 56, col("id")).cast("double") / lit(100.0)).as("l_tax"),
      pick(3, 57, col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      pick(2, 58, col("id"), Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(epoch1995 + 86400L) +
        hmod(2400, 59, col("id")) * lit(86400L)).as("l_shipdate")),
      "lineitem", nLine)

    // events: 1M per sf over a 30-day window at µs precision.
    // HOT KEY: ~10% of all events land on user_id 7 (present at every
    // sf) — the skew the salted fold / AQE skew machinery targets.
    val nEvents = rows(1000000L)
    val nUsers = math.max(15L, (15000L * sf).toLong)
    val epoch2024us = 1704067200000000L // 2024-01-01 UTC in µs
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(epoch2024us) +
        hmod(30L * 86400L * 1000000L, 61, col("id"))).as("ts"),
      when(hmod(100, 62, col("id")) < lit(10), lit(7L))
        .otherwise(hmod(nUsers, 63, col("id"))).as("user_id"),
      pick(5, 64, col("id"), Seq("click", "view", "purchase", "signup",
        "error")).as("event_type"),
      round(unif(65, col("id")) * lit(560.0), 2).as("value"),
      format_string("{\"k\": %d}", hmod(100, 66, col("id"))).as("props")),
      "events", nEvents)

    // documents: word-sequence text with a ZIPF-SHAPED vocabulary that
    // GROWS with corpus size (Heaps' law): 60% of tokens come from the
    // 30-term head register (mirroring the driver generator), 40% from
    // a tail vocabulary of ~20k*sf distinct words. A fixed small vocab
    // at 100x makes EVERY shingle a hot key and drives any
    // candidate-generating dedup join quadratic — real corpora keep
    // per-shingle document frequency roughly flat as they grow, and so
    // does this. NEAR-DUP POOL: ~8% of docs draw their text seed from
    // one of 500 templates instead of their own id — half byte-exact
    // copies, half with one appended word — so exact/minhash/simhash
    // dedup find real duplicate mass at scale.
    val nDocs = rows(50000L)
    val nTailVocab = math.max(1000L, (20000L * sf).toLong)
    val vocab = Seq("spark", "table", "query", "column", "row", "scan",
      "filter", "join", "group", "agg", "sort", "hash", "key", "value",
      "stream", "batch", "part", "order", "line", "customer", "vector",
      "index", "shard", "state", "event", "fold", "window", "slow",
      "fast", "small")
    val docId = col("id")
    val isDup = hmod(100, 71, docId) < lit(8)
    val template = hmod(500, 72, docId)
    val seedCol = when(isDup, template).otherwise(docId + lit(1000000000L))
    val nWords = (hmod(93, 73, seedCol) + lit(8)).cast("int")
    val words = transform(sequence(lit(0), nWords - lit(1)), i => {
      val ws = seedCol * lit(131) + i
      val headWord = eltOf(
        (hmod(vocab.size.toLong, 74, ws) + lit(1)).cast("int"), vocab)
      val tailWord = concat(lit("w"), hmod(nTailVocab, 79, ws))
      when(hmod(10, 78, ws) < lit(6), headWord).otherwise(tailWord)
    })
    val mutated = hmod(2, 75, docId) === lit(0)
    val baseText = array_join(words, " ")
    val text = when(isDup && mutated,
      concat(baseText, lit(" "),
        eltOf((hmod(vocab.size.toLong, 76, docId) + lit(1)).cast("int"), vocab)))
      .otherwise(baseText)
    write(spark.range(nDocs).select(
      docId.as("doc_id"),
      text.as("text"),
      // en-dominant language mix, like the driver corpus
      when(hmod(100, 77, docId) < lit(60), lit("en"))
        .otherwise(pick(4, 78, docId, Seq("zh", "de", "fr", "es"))).as("lang"),
      concat(lit("src"), hmod(20, 79, docId)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", nDocs)

    // embeddings: 64-dim float vectors drawn around cluster centers
    // whose COUNT GROWS with corpus size (~200*sf, min 10): a corpus
    // that scales by adding documents adds topics, it does not grow
    // ten mega-clusters — 20k near-identical vectors per center would
    // collapse whole clusters into single LSH buckets and turn every
    // bucketed self-join quadratic. label = cluster mod 10 keeps the
    // 0..9 label contract. HOT LSH BUCKET: ~1% of vectors form one
    // tight sub-cluster around the cluster-0 center (noise 0.005 vs
    // the 0.08 cluster spread) — an order of magnitude over any fair
    // bucket share, the skew the bucket-join path must absorb.
    val nVec = rows(20000L)
    val nClusters = math.max(10L, (200L * sf).toLong)
    val vecId = col("id")
    val hot = hmod(100, 82, vecId) < lit(1)
    val cluster = when(hot, lit(0L)).otherwise(hmod(nClusters, 81, vecId))
    val emb = transform(sequence(lit(0), lit(63)), i => {
      val center = (hmod(2001, 83, cluster * lit(67) + i)
        .cast("double") - lit(1000.0)) / lit(1000.0) * lit(0.3)
      val spread = when(hot, lit(0.005)).otherwise(lit(0.08))
      val noise = (unif(84, vecId * lit(131) + i) - lit(0.5)) * lit(2.0) * spread
      (center + noise).cast("float")
    })
    write(spark.range(nVec).select(
      vecId.as("vec_id"),
      emb.as("embedding"),
      pmod(cluster, lit(10)).cast("int").as("label")),
      "embeddings", nVec)

    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[datagen] sf=$sf done in $secs%.1f s -> $outDir")
  }
}
