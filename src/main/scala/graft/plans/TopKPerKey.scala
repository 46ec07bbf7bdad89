package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Top-K-per-key as a first-class physical operator.
  *
  * The compositional form (`row_number().over(partitionBy(key)
  * .orderBy(...)) <= k`) fully SORTS every key's partition — at 100 TB
  * that is a massive sort for a result that only needs the k best rows
  * per key. This operator keeps one bounded k-heap per key after the
  * shuffle: O(n·log k) with O(keys·k) memory, no sort buffers, no
  * spill pressure from ordering.
  *
  * Wiring: logical node → strategy (via
  * `spark.experimental.extraStrategies`) → exec node that declares
  * `ClusteredDistribution(key)` so EnsureRequirements inserts the one
  * hash shuffle.
  *
  * Ranking is (score DESC, tie ASC), both int64 — exact, deterministic,
  * engine-neutral (same contract as the oracle's window form).
  */
final case class TopKPerKeyNode(
    k: Int, key: Expression, score: Expression, tie: Expression,
    distKeys: Seq[Expression], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, key, score, tie, distKeys, child) =>
      TopKPerKeyExec(k, key, score, tie, distKeys, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to the session's extra strategies, once. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
}

final case class TopKPerKeyExec(
    k: Int, key: Expression, score: Expression, tie: Expression,
    distKeys: Seq[Expression], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // one hash shuffle on distKeys — EnsureRequirements inserts it.
  // distKeys defaults to the grouping key; passing a COARSER key the
  // child is already partitioned by (e.g. the LSH bucket that
  // functionally determines vec_id in the kNN-graph self-join) makes
  // the heap scan run INSIDE the producing stage with no exchange at
  // all — the candidate set is never shuffled, only the k survivors.
  // EMPTY distKeys = the partition-LOCAL pass of the two-phase form:
  // no distribution requirement at all, heaps within whatever
  // partitions the child already has (see TopK.topKPerKeyLocal).
  override def requiredChildDistribution: Seq[Distribution] =
    if (distKeys.isEmpty)
      org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution :: Nil
    else ClusteredDistribution(distKeys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val schema = child.output
    val keyLocal = key
    val scoreLocal = score
    val tieLocal = tie
    // Double scores ride the int64 heap via the order-preserving
    // sortable-bits transform (sign bit kept, lower 63 bits flipped
    // for negatives): signed-long comparison of the transformed bits
    // == java.lang.Double.compare, the same total order Spark's sort
    // and the DuckDB oracle's ORDER BY apply to non-NaN doubles.
    val scoreIsDouble =
      scoreLocal.dataType == org.apache.spark.sql.types.DoubleType
    child.execute().mapPartitions({ iter =>
      def sortableBits(d: Double): Long = {
        // normalize -0.0 → +0.0 first: raw doubleToLongBits ranks
        // -0.0 strictly below +0.0 (java.lang.Double.compare order),
        // but Spark's window ordering (nanSafeCompareDoubles) and the
        // oracle's ORDER BY treat them as EQUAL and let the tie column
        // decide — a -0.0 score at the k boundary must not select a
        // different row than the window form this operator replaces
        val v = if (d == 0.0) 0.0 else d
        val b = java.lang.Double.doubleToLongBits(v)
        b ^ ((b >> 63) & 0x7fffffffffffffffL)
      }
      val keyProj = UnsafeProjection.create(Seq(keyLocal), schema)
      val rankProj = UnsafeProjection.create(Seq(scoreLocal, tieLocal), schema)
      // per-key bounded heap of (score, tie, row); worst element on top
      // so insertion beyond k evicts the current worst
      // PriorityQueue dequeues the ordering's MAX; (-score, tie) makes
      // the max element the WORST (lowest score, highest tie) so
      // insertion beyond k evicts it
      implicit val worstFirst: Ordering[(Long, Long, UnsafeRow)] =
        Ordering.by[(Long, Long, UnsafeRow), (Long, Long)](t => (-t._1, t._2))
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[(Long, Long, UnsafeRow)]]
      // The reject path must be allocation-free: in an expanding
      // self-join most input rows lose to the heap minimum, and an
      // eager row.copy() per candidate (the first cut of this loop)
      // turned the hot-bucket scan into pure GC churn. The row is
      // copied ONLY on accept. A one-entry key cache skips the
      // hash-map probe while consecutive rows share a key — exactly
      // the join-output arrival order, where each stream-side row
      // emits its matches back-to-back.
      var lastKey: UnsafeRow = null
      var lastHeap: scala.collection.mutable.PriorityQueue[(Long, Long, UnsafeRow)] = null
      iter.foreach { row =>
        val kr = keyProj(row)
        val rank = rankProj(row)
        val scoreVal =
          if (scoreIsDouble) sortableBits(rank.getDouble(0)) else rank.getLong(0)
        val tieVal = rank.getLong(1)
        val h =
          if (lastKey != null && kr == lastKey) lastHeap
          else {
            val found = heaps.getOrElse(kr, null)
            val hh =
              if (found != null) found
              else {
                val nh = scala.collection.mutable.PriorityQueue.empty[(Long, Long, UnsafeRow)]
                heaps.put(kr.copy(), nh)
                nh
              }
            lastKey = kr.copy(); lastHeap = hh
            hh
          }
        if (h.size < kLocal) {
          h.enqueue((scoreVal, tieVal, row.asInstanceOf[UnsafeRow].copy()))
        } else {
          val worst = h.head
          // better = higher score, or equal score with lower tie
          if (scoreVal > worst._1 || (scoreVal == worst._1 && tieVal < worst._2)) {
            h.dequeue()
            h.enqueue((scoreVal, tieVal, row.asInstanceOf[UnsafeRow].copy()))
          }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._3))
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopK {
  /** Keep each key's k best rows by (score DESC, tie ASC); score is
    * int64 or double (doubles rank by java.lang.Double.compare), tie
    * must be int64. */
  def topKPerKey(df: DataFrame, k: Int, key: String, scoreDesc: String, tieAsc: String): DataFrame =
    topKPerKeyIn(df, k, key, scoreDesc, tieAsc, key)

  /** [[topKPerKey]] with the shuffle keyed on `distKeys` instead of the
    * grouping key — for children already partitioned by columns that
    * FUNCTIONALLY DETERMINE the key (each key's rows live in one
    * distKeys group, e.g. the (LSH bucket, salt) pair that contains
    * every candidate of a salted self-join's stream-side vec_id), so
    * the heap scan needs no exchange of its own. */
  /** Partition-LOCAL top-k per key — no distribution requirement;
    * heaps run inside whatever partitions the child already has.
    * Composes with [[topKPerKey]] into the two-phase form (local
    * k-best per partition, then global k-best of the survivors): the
    * full scored stream is NEVER exchanged, only the ≤ k·partitions
    * survivors per key. Exact — top-k under (score DESC, tie ASC) is
    * associative, so top-k of per-partition top-ks is the global
    * top-k. This is the broadcast-join eval shape (knn_recall's
    * ground truth): each key's rows appear in EVERY corpus partition,
    * so no coarser co-located distKeys exists, and the window form
    * would shuffle the entire queries × corpus score matrix (the sf30
    * probe measured 4.7+ GB of scratch for a 3,333-query truth). */
  def topKPerKeyLocal(df: DataFrame, k: Int, key: String,
      scoreDesc: String, tieAsc: String): DataFrame = {
    val spark = df.sparkSession
    TopKStrategy.install(spark)
    val analyzed = df.queryExecution.analyzed
    def resolve(name: String): Expression =
      analyzed.output.find(_.name == name)
        .getOrElse(sys.error(s"cannot resolve $name among ${analyzed.output.map(_.name)}"))
    ColumnBridge.dataFrame(spark,
      TopKPerKeyNode(k, resolve(key), resolve(scoreDesc), resolve(tieAsc),
        Nil, analyzed))
  }

  def topKPerKeyIn(df: DataFrame, k: Int, key: String, scoreDesc: String,
      tieAsc: String, distKeys: String*): DataFrame = {
    val spark = df.sparkSession
    TopKStrategy.install(spark)
    val analyzed = df.queryExecution.analyzed
    def resolve(name: String): Expression =
      analyzed.output.find(_.name == name)
        .getOrElse(sys.error(s"cannot resolve $name among ${analyzed.output.map(_.name)}"))
    ColumnBridge.dataFrame(spark,
      TopKPerKeyNode(k, resolve(key), resolve(scoreDesc), resolve(tieAsc),
        distKeys.map(resolve), analyzed))
  }
}
