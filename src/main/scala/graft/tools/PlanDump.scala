package graft.tools

import graft.{GraftSession, PlanCensus}
import org.apache.spark.sql.execution.FormattedMode

/** Writes every census op's formatted physical plan to `<outDir>/<op>.txt`,
  * for before/after plan audits under `plans/<tag>/`. The session is the
  * test session's (`PlanCensus.cores` wide), so the plans match the ones
  * tools/shuffle_golden.tsv pins.
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
        try PlanCensus.capture(spark, sfDir, name).explainString(FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}\n" }
      java.nio.file.Files.writeString(out.resolve(s"$name.txt"), plan)
    }
    println(s"wrote ${PlanCensus.ops.size} plans to $outDir")
    spark.stop()
  }
}
