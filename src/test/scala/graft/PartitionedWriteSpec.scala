package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Similarity

/** C5: partitioned layout for co-located reads, plus the custom
  * codegen kernel's equivalence with its compositional form. */
class PartitionedWriteSpec extends SparkSpec {

  test("partitionBy(event_type) write prunes partitions on filtered read") {
    val dir = tempDir("graft_part").toString
    Tables.events(spark, sf)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val all = spark.read.parquet(dir)
    val one = all.filter(col("event_type") === "purchase")
    // partition pruning: the event_type predicate must land in the
    // scan's PartitionFilters (directory-level pruning), not a row filter
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type") ||
      plan.contains("PartitionFilters: [(event_type"))
    // and reading only the pruned subdirectory yields the same rows
    val sub = spark.read.parquet(s"$dir/event_type=purchase")
    assert(sub.count() == one.count())
    assert(one.count() ==
      Tables.events(spark, sf).filter(col("event_type") === "purchase").count())
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables between JVMs but the
    // warehouse directories survive — clear them or CTAS refuses
    Seq("b_orders", "b_customer").foreach { t =>
      val p = java.nio.file.Paths.get(s"/tmp/graft_warehouse/$t")
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("b_orders")
    Tables.customer(spark, sf).select("c_custkey", "c_name")
      .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("b_customer")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // both sides already hash-bucketed by the join key ⇒ sort-merge
      // join with NO shuffle exchange — at 100 TB this removes the
      // dominant cost of every fact⋈fact join on the bucket key
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == Tables.orders(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LongDotProduct equals the compositional aggregate(zip_with) form") {
    val df = Tables.embeddings(spark, sf)
      .select(Similarity.quantize(col("embedding")).as("v"))
      .limit(200)
      .withColumn("dot_fast", Similarity.dot(col("v"), col("v")))
      .withColumn("dot_ref",
        aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
          lit(0L), (a, x) => a + x))
    assert(df.filter(col("dot_fast") =!= col("dot_ref")).count() == 0)
    assert(df.filter(col("dot_fast") <= 0).count() == 0)
  }
}
