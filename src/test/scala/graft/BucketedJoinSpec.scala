package graft

import org.apache.spark.sql.functions._

/** C5 extension: the bucketed co-located join's COUNTERFACTUAL and
  * layout REUSE, machine-checked (PartitionedWriteSpec pins the
  * exchange-free join itself; these two properties close the claim):
  * the SAME data written as plain parquet pays two exchanges for the
  * identical join with identical results (so the zero-exchange plan
  * is the bucketing's doing, not the optimizer being lucky), and a
  * SECOND consumer shape — a bucket-key aggregation — reuses the
  * on-disk layout exchange-free too. At 100 TB this is the §5
  * contract: shuffle the fact table once at ingest, never per query.
  */
class BucketedJoinSpec extends SparkSpec {

  // unique per run: managed-table LOCATIONS survive earlier JVMs in
  // the shared warehouse dir even though the in-memory catalog resets
  private val runTag = java.lang.Long.toHexString(System.nanoTime())
  private val liTable = s"graft_li_bucketed_$runTag"
  private val ordTable = s"graft_ord_bucketed_$runTag"

  test("C9: a bucketed-by-key join plans with zero exchanges (and no sort); plain parquet pays two") {
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(liTable)
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(ordTable)
    // disable auto-broadcast so the join genuinely exercises the
    // co-located path (a broadcast would hide the bucketing)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table(liTable)
        .join(spark.table(ordTable),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(PlanCensus.exchanges(plan)._1 == 0,
        s"bucketed join must be exchange-free:\n$plan")
      assert(!plan.contains("Exchange"),
        s"no exchange of any kind expected:\n$plan")

      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plainPlan = plain.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(PlanCensus.exchanges(plainPlan)._1 >= 2,
        s"control case should shuffle both sides:\n$plainPlan")

      // identical results (order-insensitive)
      val a = joined.agg(count(lit(1)), sum(col("l_quantity").cast("long")),
        sum(col("o_totalprice").cast("long"))).head()
      val b = plain.agg(count(lit(1)), sum(col("l_quantity").cast("long")),
        sum(col("o_totalprice").cast("long"))).head()
      assert(a == b)
    }
  }

  test("C9: the bucketed layout also carries a second, different consumer exchange-free") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // a groupBy on the bucket key reuses the same layout: no exchange
      val agg = spark.table(liTable)
        .groupBy("l_orderkey").agg(sum(col("l_quantity")).as("q"))
      val plan = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(PlanCensus.exchanges(plan)._1 == 0,
        s"bucket-key aggregation must reuse the layout:\n$plan")
    }
    // drop the run's tables AND their managed locations so repeated
    // runs don't accumulate warehouse garbage
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq(liTable, ordTable)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(); ()
      }
      rec(new java.io.File(s"$wh/$t"))
    }
  }
}
