package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // GRAFT_STATESTORE=rocksdb (applied by GraftSession) reruns the
    // whole gate with stateful streams on the RocksDB provider (the
    // scale posture) — results must be provider-invisible, and this env
    // is how that is proven against the full DuckDB oracle set rather
    // than spec samples.
    val spark = GraftSession()
    val errors = dump(spark, sfDir, outDir, _ => true)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size} of ${SparkEntry.queries.size} queries FAILED: " +
          errors.keys.mkString(", "))
      sys.exit(1)
    }
  }

  /** Dumps every query `only` admits to `outDir/<name>` (one parquet
    * file each), then the full oracle_sql.json and errors.json; returns
    * the failures by name. [[graft.tools.VerifyOne]] calls this with a
    * name subset.
    *
    * A query that throws must be LOUD: r6's testdata schema drift broke
    * 14 queries and the only symptom was a missing row in the driver's
    * correctness JSON. Failures land by name in the errors manifest
    * next to the dumps (and on stderr) so a broken query is
    * indistinguishable from nothing — never from a pass. */
  def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
      only: String => Boolean): collection.Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => only(q._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] FAILED $name: ${errors(name)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      obj(errors.map { case (k, v) => k -> v.take(500) }))
    errors
  }
}
