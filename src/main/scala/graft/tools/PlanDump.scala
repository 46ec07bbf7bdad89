package graft.tools

import graft.{GraftSession, PlanCensus}
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Writes every census op's formatted physical plan to `<outDir>/<op>.txt`,
  * for before/after plan audits under `plans/<tag>/`. The session is the
  * test session's (`PlanCensus.cores` wide), so the plans match the ones
  * tools/shuffle_golden.tsv pins.
  *
  * Each plan is written in [[normalised]] form, so dumps of a
  * plan-neutral change diff clean. One difference can remain: the
  * order of the Expand groups of a multi-distinct aggregate (e.g.
  * corpus_card's) can change across a change that shifts expression-id
  * allocation.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession(PlanCensus.cores)
    val out = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    PlanCensus.ops.foreach { name =>
      val plan =
        try normalised(spark,
          PlanCensus.capture(spark, sfDir, name).explainString(FormattedMode))
        catch { case e: Throwable => s"ERROR: ${e.getMessage}\n" }
      java.nio.file.Files.writeString(out.resolve(s"$name.txt"), plan)
    }
    println(s"wrote ${PlanCensus.ops.size} plans to $outDir")
    spark.stop()
  }

  /** `plan` with what differs between two captures of one plan masked:
    * expression ids (`#123`), numbered lambda variables (`lambda x_5`),
    * plan ids, lambda instances (`$$Lambda$5593/0x…@46b9a780`), the
    * session's work dir, and RDD ids with the source line that made
    * the RDD. */
  def normalised(spark: SparkSession, plan: String): String = Seq(
    """#\d+""" -> "#N",
    """(lambda \w+?_)\d+""" -> "$1N",
    """plan_id=\d+""" -> "plan_id=N",
    """\$\$Lambda[^@\s]*@[0-9a-f]+""" -> "\\$\\$Lambda",
    """RDD\[\d+\]""" -> "RDD[N]",
    """(\.scala):\d+""" -> "$1:N"
  ).foldLeft(plan.replace(Tables.workDir(spark), "<workdir>")) {
    case (text, (pattern, mask)) => text.replaceAll(pattern, mask)
  }
}
