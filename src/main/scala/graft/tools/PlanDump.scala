package graft.tools

import graft.PlanCensus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Writes every census op's formatted physical plan to `<outDir>/<op>.txt`,
  * for before/after plan audits under `plans/<tag>/`. The session is
  * local[4] with 4 shuffle partitions, the test session's shape, so the
  * plans match the ones tools/shuffle_golden.tsv pins.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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
