package graft.tools

import java.nio.file.{Files, Paths}

/** Subset correctness dump for fast iteration:
  * runMain graft.tools.VerifyOne <sfDir> <outDir> <query...>
  * then: python3 tools/parity.py <sfDir> <outDir>. Same session shape
  * as [[graft.Verify]]. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val spark = graft.GraftSession()
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.filter(q => names.contains(q._1)).foreach {
      case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          println(f"[verify-one] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
        } catch { case e: Throwable =>
          System.err.println(s"[verify-one] $name failed: $e")
        }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
