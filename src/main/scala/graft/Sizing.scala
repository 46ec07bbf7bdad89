package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Every "how wide for this much data" law, each constant defined
  * once. A law is a pure function of MEASURED mass (rows, bytes, pair
  * counts) that its caller reads — footer rows, `Tables.dirBytes`,
  * `Tables.maxIdFromStats`, bucket counts — and passes in as a value.
  * SizingSpec pins each law as a table of (mass, width). */
object Sizing {
  /** Rows one partition, state shard or bucket is sized to hold. */
  val rowsPerPartition = 500000L
  /** Bytes one task's build share, or one broadcast, is sized to hold. */
  val bytesPerTask = 32L << 20
  /** Pair scores one join task is sized to compute. */
  val pairsPerTask = 2e7
  /** The sample rate, in parts per million, that keeps every row. */
  val fullRateE6 = 1000000L

  /** ⌈rows / 500k⌉, at least `min`, capped at the session shuffle
    * width (parallelism beyond it belongs to the session config). */
  def widthFor(rows: Long, min: Int, sessionMax: Int): Int =
    math.max(min.toLong, math.min(sessionMax.toLong,
      (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt

  /** State shards for `rowsPerBatch` input rows per micro-batch: at
    * least 2, so cross-shard state merge stays exercised; unknown mass
    * keeps the historical flat 8. Ops whose STATE is row-scale (a key
    * per event — command dedup's (user, idem_key), drop-duplicates on
    * event_id, stream-stream join buffers) also pass their state-key
    * estimate: the HDFS provider's per-batch map maintenance and
    * complete-mode emission are O(state) work that PARALLELIZES with
    * shards, so key-heavy state wants ~10k keys/shard — measured at
    * sf0.1, the 73k-key stream_command_dedup ran addBatch 2.1 s/batch
    * at 2 shards vs 0.65 s at 8, while 500-key ops are
    * commit-overhead-bound and best at the floor. */
  def stateShardsFor(rowsPerBatch: Option[Long], sessionMax: Int,
      stateKeys: Option[Long] = None): Int = rowsPerBatch.fold(8) { r =>
    val byState = stateKeys.fold(0L)(k => math.min(sessionMax.toLong, (k + 9999L) / 10000L))
    math.max(widthFor(r, 2, sessionMax).toLong, byState).toInt
  }

  /** Buckets of a bucketed dimension table of `estRows` rows, at least
    * 1. Unknown mass (an unlistable source) takes the session width:
    * over-bucketing a small delta costs a few empty files,
    * under-bucketing a 100x delta costs 190 M-row SMJ tasks. */
  def dimBucketsFor(estRows: Option[Long], sessionMax: Int): Int =
    estRows.fold(sessionMax)(widthFor(_, 1, sessionMax))

  /** Shards of a live store fed by `totalRows` source rows, at least 2
    * (multi-shard pruning stays exercised); unknown mass: the default. */
  def storeShardsFor(totalRows: Option[Long], sessionMax: Int): Int =
    totalRows.fold(graft.streaming.LiveStore.nShards)(widthFor(_, 2, sessionMax))

  /** The CC loop's width over `edges`: whole 500k blocks plus one. */
  def ccLoopWidth(edges: Long, sessionMax: Int): Int = widthFor(edges + 1, 1, sessionMax)

  /** The BPE trainer's coalesce over `words`: whole 500k blocks, ≥ 1. */
  def bpeLoopWidth(words: Long): Int = math.max(1L, words / rowsPerPartition).toInt

  /** One task per [[bytesPerTask]] of the source's `bytes`, never below
    * the session default (big inputs widen instead of spilling). */
  def volumePartitions(bytes: Long, sessionDefault: Int): Int =
    math.max(sessionDefault, (bytes / bytesPerTask).toInt)

  /** The hash-build gate: a `shuffle_hash` hint on a profile-sized
    * build side is licensed only while its estimated bytes, spread
    * over the shuffle width, stay ≤ [[bytesPerTask]] — an order of
    * magnitude inside the per-task execution-memory slice at full
    * occupancy; beyond that the join must sort-merge. */
  def hashBuildHint(buildBytes: Long, shufflePartitions: Int): String =
    if (buildBytes / math.max(1, shufflePartitions) <= bytesPerTask) "shuffle_hash"
    else "merge"

  /** Raw bytes of the strip drop lists: positions as int64 plus 32 B of
    * per-row array/offset overhead. */
  def stripBytes(nDupDocs: Long, nPos: Long): Long = nPos * 8L + nDupDocs * 32L

  /** Strip re-attach tier from the measured drop-list profile, each
    * broadcast held to [[bytesPerTask]] (~4 M positions / ~1.3 M keys;
    * the sf100 profile, 533 k positions over 5 M docs, sits two orders
    * of magnitude under it): 0 = broadcast the full drop lists, 1 =
    * broadcast the affected doc-id KEY set (24 B a row) and split the
    * corpus in-scan, 2 = full shuffle (boilerplate at corpus scale). */
  def stripTier(nDupDocs: Long, nPos: Long): Int =
    if (stripBytes(nDupDocs, nPos) <= bytesPerTask) 0
    else if (nDupDocs * 24L <= bytesPerTask) 1
    else 2

  /** Block count for a bucket of `cnt` rows under a pair budget of
    * `budget` cosines per block-pair task. A block-pair task scores
    * (cnt/g)² pairs, so the budget fixes the BLOCK SIZE, not the
    * block count: g = ceil(cnt / √budget). (The r9 sizer used
    * g = ceil(cnt²/budget) — correct only at cnt ≈ √budget, and
    * quadratically OVERSPLIT beyond it: input replication grows as
    * cnt·g = cnt³/budget, which at the sf100 profile's measured 113k-row
    * bucket meant g = 649 and ~325× row replication, ~35 GB of band-join
    * shuffle for a query whose correct tiling ships ~13×/26 blocks.)
    * Computed in DOUBLE (no squaring — nothing to overflow), capped at
    * cnt (a block never holds fewer than one row) and at Int.MaxValue
    * so the int cast cannot wrap. */
  def tileBlocks(cnt: Column, budget: Double = pairsPerTask): Column =
    greatest(lit(1L),
      least(ceil(cnt.cast("double") / lit(math.sqrt(budget))),
        cnt.cast("long"), lit(Int.MaxValue.toLong))).cast("int")

  /** knn salt groups for a bucket of `bucketRows`: only the probe side
    * splits, so the budget fixes the group COUNT, g = ⌈n²/budget⌉ —
    * unlike [[tileBlocks]], where both sides split. */
  def saltGroups(bucketRows: Column): Column =
    greatest(lit(1L), ceil(bucketRows * bucketRows / lit(pairsPerTask))).cast("int")

  /** Most vectors the band sweep's sample holds (|S|² ≈ 1.25e9 cosines). */
  private val sweepSampleCap = 50000L

  /** Band-sweep truth blocks over `vectors`: its sample (half, capped)
    * split into block pairs near the budget, 4 at least (a fixed 4 at
    * the cap is (50k/4)² ≈ 1.5e8 cosines a task, 8× the budget).
    * Blocks shape only the pair partitioning, never the pair set. */
  def sweepBlocks(vectors: Long): Int = math.max(4,
    math.ceil(math.min(vectors / 2, sweepSampleCap) / math.sqrt(pairsPerTask)).toInt)

  /** The thinning law: a sample of `have` rows capped at `cap` keeps all
    * of them while it fits, cap/have beyond (parts per million). */
  def thinE6(have: Long, cap: Long): Long =
    if (have <= cap) fullRateE6 else math.max(1L, fullRateE6 * cap / have)

  /** Doc rate of the exact ssjoin truth over `docs`: holds the sampled
    * docs at 500k, the largest scale measured green (sf10), so the
    * truth's pair mass is bounded at ANY corpus size (sf100 → 10 %). */
  def ssjoinRateE6(docs: Long): Long = thinE6(docs, 500000L)

  /** Thinning of the band sweep's mod-2 sample over `vectors`. */
  def sweepThinE6(vectors: Long): Long = thinE6(vectors / 2, sweepSampleCap)

  /** Thinning of knn recall's mod-4 queries over `vectors`: caps them at
    * 2e9 / vectors, so the brute-force truth's cosines stay constant. */
  def evalThinE6(vectors: Long): Long =
    thinE6(vectors / 4, math.max(1L, (2e9 / vectors).toLong))

  /** Corpus-sized plane count for the SCALE path (the oracle-graded
    * ops are pinned at `Similarity.oraclePlanes` instead): the
    * smallest p with 2^p buckets of ≤ ~50 expected vectors, floored
    * at 8. Candidate volume then stays ≈ 50·n at ANY corpus
    * size instead of n²/2^8; the sf10 smoke measured the difference as
    * 61 s (8-plane, 1.6e8 pairs, 390 MB spill) vs 27 s (12-plane,
    * 1e7 pairs, no spill) at 200 k vectors. Sized from the footer-
    * stats metadata pass (vec_ids are dense 0..n-1), not a scan;
    * integer shift loop — no float-log edge cases at powers of two. */
  def planesFor(n: Long): Int = {
    var p = 0
    while ((50L << p) < n && p < 30) p += 1
    math.max(8, p)
  }
}
