package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Every width, tile and sample law, as tables of (measured mass,
  * expected value). Each row pins the value the op runs at; a law
  * change that moves one is a plan change. */
class SizingSpec extends SparkSpec {

  import Sizing._

  private def check[A, B](table: Seq[(A, B)])(law: A => B): Unit =
    for ((in, want) <- table) assert(law(in) == want, s"input $in")

  /** A Column law evaluated on one row holding `v`. */
  private def eval(v: Long)(law: Column => Column): Long = {
    import spark.implicits._
    Seq(v).toDF("v").select(law(col("v")).cast("long")).head.getLong(0)
  }

  private def g(cnt: Long, budget: Double = 2e7): Long =
    eval(cnt)(tileBlocks(_, budget))

  // ---- rows per partition (~500k) ----

  test("stateShardsFor sizes state shards from measured per-batch mass") {
    // (rows per batch, session width) -> shards
    check(Seq(
      // bench-scale batches (33k events / 5k docs): the 2-shard floor —
      // never 1, so cross-shard state merge stays exercised
      (Some(1L), 32) -> 2,
      (Some(33000L), 32) -> 2,
      (Some(500000L), 32) -> 2,
      // ~500k rows/shard beyond the floor
      (Some(1000001L), 32) -> 3,
      // sf100-scale batches: wanted width caps at the session default —
      // production parallelism belongs to the session config
      (Some(33000000L), 32) -> 32,
      (Some(33000000L), 256) -> 66,
      // unknown mass (e.g. the broker-backed source): the historical
      // flat default, unchanged behavior
      (None, 32) -> 8)) { case (rows, max) => stateShardsFor(rows, max) }
  }

  test("row-scale state lifts the shard count above the input rule") {
    // the stream_command_dedup finding: 73k state keys at the input
    // rule's 2 shards measured addBatch 2.1 s/batch vs 0.65 s at 8 —
    // state maintenance is O(state) work that parallelizes with
    // shards, budgeted at ~10k keys/shard. (rows per batch, session
    // width, state keys) -> shards
    check(Seq(
      (33000L, 32, 73000L) -> 8,
      (33000L, 32, 100000L) -> 10,
      // tiny state never drags the count below the input rule
      (33000L, 32, 500L) -> 2,
      // and the cap still wins at scale
      (33000000L, 32, 1000000000L) -> 32)) {
      case (rows, max, keys) => stateShardsFor(Some(rows), max, Some(keys))
    }
  }

  test("live-store shard layout derives from source mass and is store metadata") {
    // sizing law: ~500k rows/shard, min 2, session cap; unknown mass
    // keeps the historical 16 (direct-upsert stores, e.g. LiveStoreSpec's)
    check(Seq(
      None -> 16,
      Some(100000L) -> 2,
      Some(1000001L) -> 3,
      Some(100000000L) -> 32))(storeShardsFor(_, 32))
    // the modulus is STORE metadata: a recorded layout is read back by
    // any later session; an unmarked store keeps the default
    val root = tempDir("graft_shards")
    assert(graft.streaming.LiveStore.storeShards(root.getPath + "/unmarked") == 16)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root.getPath, "_nshards"), "5")
    assert(graft.streaming.LiveStore.storeShards(root.getPath) == 5)
  }

  test("dimBucketsFor sizes buckets from measured delta mass: ~500k rows/bucket, capped") {
    check(Seq(
      // small deltas: one bucket (a 30k-row sf0.1 delta must not pay
      // 16 single-row files)
      Some(0L) -> 1,
      Some(30000L) -> 1,
      Some(500000L) -> 1,
      Some(500001L) -> 2,
      // sf100's ~30 M-row delta: 60 wanted, capped at the session default
      Some(30000000L) -> 32,
      // a 100x delta still caps — parallelism beyond the session width
      // belongs to the session config, not the table layout
      Some(3000000000L) -> 32,
      // unknown mass (unlistable source): session default, never 1 —
      // under-bucketing an unknown corpus is the expensive failure
      None -> 32))(dimBucketsFor(_, 32))
  }

  test("CC-loop and BPE-trainer widths keep their own rounding of ~500k rows") {
    // the CC loop takes whole 500k blocks plus one, capped at the
    // session width; the BPE trainer's coalesce takes whole blocks,
    // at least 1, uncapped. (rows, session width) -> (CC, BPE)
    check(Seq(
      (0L, 32) -> (1, 1),
      (499999L, 32) -> (1, 1),
      (500000L, 32) -> (2, 1),
      (500001L, 32) -> (2, 1),
      (1000000L, 32) -> (3, 2),
      (3000000000L, 32) -> (32, 6000),
      (3000000000L, 10000) -> (6001, 6000))) {
      case (rows, max) => (ccLoopWidth(rows, max), bpeLoopWidth(rows))
    }
  }

  // ---- bytes per task (32 MB) ----

  test("volumePartitions sizes ~32 MB per task, never below the session default") {
    // an unlistable dir measures 0 bytes: the session default
    assert(graft.sources.Tables.volumePartitions(spark, "/nonexistent/nope.parquet") ==
      spark.sessionState.conf.numShufflePartitions)
    // (bytes, session default) -> partitions
    check(Seq(
      (0L, 32) -> 32,
      (1L << 30, 32) -> 32,
      (2L << 30, 32) -> 64,
      (10L << 30, 32) -> 320,
      (10L << 30, 4) -> 320)) { case (bytes, default) => volumePartitions(bytes, default) }
  }

  test("stripTier gates broadcasts on estimated relation bytes, not raw row counts") {
    // (dup docs, positions) -> tier
    check(Seq(
      // sf100's measured profile (533k positions / ~half that in docs):
      // two orders of magnitude inside the budget — tier (a)
      (300000L, 533000L) -> 0,
      // positions overflow the 32 MB budget but the key set fits — tier (b)
      (1000000L, 100000000L) -> 1,
      // boilerplate at corpus scale: nothing broadcasts — tier (c)
      (50000000L, 5000000000L) -> 2,
      // the old 16 M-position cutoff (≈128 MB raw) now lands in tier (b)
      (1000000L, 16000000L) -> 1)) { case (docs, pos) => stripTier(docs, pos) }
  }

  // ---- pairs per task (2e7) ----

  test("tileBlocks holds pairs-per-task at the budget across scales") {
    // the budget fixes the BLOCK SIZE: g = ceil(c/√budget), so a
    // block-pair task scores (c/g)² ≈ budget pairs at ANY bucket size.
    // (The r9 sizer g = ceil(c²/budget) oversplit quadratically: the
    // sf100 profile's 113k-row bucket got 649 blocks and ~325× input
    // replication — ~35 GB of band-join shuffle where 26 blocks ship
    // ~13×.)
    for (c <- Seq(5000L, 20000L, 113864L, 1000000L, 100000000L)) {
      val blocks = g(c)
      val pairsPerTask = (c.toDouble / blocks) * (c.toDouble / blocks)
      assert(pairsPerTask <= 2e7 * 1.05,
        s"c=$c g=$blocks pairs/task=$pairsPerTask over budget")
      assert(blocks <= math.ceil(c / math.sqrt(2e7)).toLong,
        s"c=$c oversplit: g=$blocks")
    }
    check(Seq(
      // the sf100 measured hot bucket: 113,864 rows -> 26 blocks, ~19M
      // pairs per block-pair task
      113864L -> 26L,
      // healthy bucket under budget: 1 block (single-task join)
      1000L -> 1L))(g(_))
    assert(g(0L) >= 1L) // never zero or negative
  }

  test("tileBlocks cannot wrap or collapse at degenerate bucket sizes") {
    // no squaring anywhere: 4e9 rows -> ceil(4e9/4472) ≈ 894k blocks,
    // positive, monotone, far under the Int.MaxValue cap
    val huge = g(4000000000L)
    assert(huge == math.ceil(4e9 / math.sqrt(2e7)).toLong, s"got $huge")
    assert(g(3000000000L) <= g(3100000000L) && g(3100000000L) <= huge)
  }

  test("tileBlocks is capped by the row count itself") {
    // a tiny budget cannot demand more blocks than rows
    assert(g(5L, budget = 0.5) == 5L)
  }

  test("knn salt groups hold each salt's probe pairs under the budget") {
    // only the probe side splits, so a bucket of n rows needs
    // g = ceil(n²/budget) salts. bucket rows -> salt groups
    check(Seq(
      0L -> 1L,
      1000L -> 1L,
      4473L -> 2L,
      20000L -> 20L,
      113864L -> 649L))(n => eval(n)(saltGroups))
  }

  test("band-sweep block count keeps a block-pair task near the budget") {
    // the sample holds half the vectors, capped at 50k; 4 blocks at
    // least. vectors -> blocks
    check(Seq(
      1L -> 4,
      2000L -> 4,
      35000L -> 4,
      40000L -> 5,
      100000L -> 12,
      1000000000L -> 12))(sweepBlocks)
  }

  // ---- sample thinning ----

  test("sample thinning is the full rate up to its cap and cap/mass beyond") {
    // the ssjoin truth: docs against 500k. docs -> rate e6
    check(Seq(
      2000L -> 1000000L,
      500000L -> 1000000L,
      500001L -> 999998L,
      5000000L -> 100000L,
      1000000000000L -> 1L))(ssjoinRateE6)
    // the band sweep: the mod-2 sample (n/2) against 50k. vectors -> rate e6
    check(Seq(
      2000L -> 1000000L,
      100000L -> 1000000L,
      1000000L -> 100000L))(sweepThinE6)
    // knn recall: the mod-4 sample (n/4) against 2e9/n queries.
    // vectors -> rate e6
    check(Seq(
      2000L -> 1000000L,
      1000000L -> 8000L))(evalThinE6)
  }

  test("corpus-sized plane count floors at the oracle config and grows with n") {
    check(Seq(
      // every test and oracle scale lands exactly on the oracle-pinned 8
      200L -> 8, 2000L -> 8, 12800L -> 8,
      // growth: ~50-vector expected buckets
      12801L -> 9,
      20000L -> 9,
      200000L -> 12, // the sf10 smoke's measured-right config
      20000000L -> 19))(planesFor)
  }
}
