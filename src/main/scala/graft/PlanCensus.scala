package graft

import org.apache.spark.sql.SparkSession

/** The batch plan surface, walked once: which ops are planned, how each
  * is captured, how its exchanges are counted, and the committed golden
  * file (`tools/shuffle_golden.tsv`) that pins those counts. PlanCensusSpec
  * checks golden counts, lint and budgets off one walk; `tools.PlanDump`
  * writes the same captures out for before/after plan diffs.
  *
  * Golden format (sorted by name):
  *   name <TAB> shuffles <TAB> reused <TAB> broadcasts
  */
object PlanCensus {

  /** (shuffles, reused, broadcasts) of one physical plan. */
  type Counts = (Int, Int, Int)

  val goldenPath = "tools/shuffle_golden.tsv"

  /** Session width (`local[cores]`, `cores` shuffle partitions) the
    * golden counts are pinned at: the test session and `tools.PlanDump`
    * both build their session with it, so their plans are the same. */
  val cores = 4

  /** stream_* entries run whole Structured-Streaming queries inside fn —
    * every other registered op is planned. */
  def planned(name: String): Boolean = !name.startsWith("stream_")

  /** Planned, with counts pinned in the golden file: the two live-store
    * ops also ingest on invocation, so their plans are linted only. */
  def pinned(name: String): Boolean =
    planned(name) && !Set("es_live_store", "es_live_compaction").contains(name)

  def ops: Seq[String] = SparkEntry.queries.keys.filter(planned).toSeq.sorted

  /** One op's executed plan, cold: cached InMemoryRelations print their
    * plans inline and double-count exchanges, so the cache is cleared
    * before the op's frame is built. */
  def capture(spark: SparkSession, sf: String, name: String)
      : org.apache.spark.sql.execution.QueryExecution = {
    spark.sharedState.cacheManager.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution
  }

  /** Every planned op's `executedPlan.toString`, in name order. Ops that
    * throw while planning fail the walk, named together. */
  def walk(spark: SparkSession, sf: String): Seq[(String, String)] = {
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val plans = ops.flatMap { n =>
      try Some(n -> capture(spark, sf, n).executedPlan.toString)
      catch { case e: Throwable => failed += s"$n failed to plan: ${e.getMessage}"; None }
    }
    if (failed.nonEmpty) throw new IllegalStateException(failed.mkString("\n"))
    plans
  }

  /** Hash, range and single-partition exchanges count as shuffles;
    * round-robin exchanges (a bare `repartition(n)`) do not. */
  def exchanges(plan: String): Counts = {
    val sh = Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange SinglePartition").map(p => p.r.findAllIn(plan).length).sum
    (sh, "ReusedExchange".r.findAllIn(plan).length,
      "BroadcastExchange".r.findAllIn(plan).length)
  }

  def readGolden(): Map[String, Counts] = {
    val src = scala.io.Source.fromFile(goldenPath)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, s, r, b) = l.split('\t'); n -> ((s.toInt, r.toInt, b.toInt))
    }.toMap
    finally src.close()
  }

  def writeGolden(counts: Seq[(String, Counts)]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(goldenPath),
      counts.sortBy(_._1).map { case (n, (s, r, b)) => s"$n\t$s\t$r\t$b" }
        .mkString("", "\n", "\n"))
}
