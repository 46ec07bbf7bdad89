package graft.tools

import org.apache.spark.sql.functions._

/** Multi-JVM evidence runner: times named operators and prints an
  * ORDER-INDEPENDENT result fingerprint, so the same query run on
  * `local[32]`, on a standalone cluster, and on a cluster that loses a
  * worker mid-flight can be asserted BYTE-EQUAL in output — the
  * "job completes with identical output" check of the worker-kill test
  * (VERDICT r8 #1; surge's analog is the shard-rebalance contract in
  * surge/kafka/KafkaPartitionShardRouterActor.scala).
  *
  * Fingerprint = (row count, sum over rows of xxhash64(to_json(row
  * struct with columns in sorted name order))). Column sort makes it
  * projection-order-free; the sum makes it row-order-free; xxhash64 and
  * JVM double formatting are deterministic across executors. Sum
  * wraps in int64 — equality of (n, sum) is the assertion, overflow is
  * harmless.
  *
  * Usage: ClusterProbe <sfDir> <outJson> <query>[,query...]
  * env (read by [[graft.GraftSession]]): GRAFT_MASTER (default
  * local[SPARK_GRAFT_CPUS]), SPARK_GRAFT_CPUS (the shuffle width; default
  * the host's cores), GRAFT_RELIABLE=true to route lineage cuts through
  * the filesystem (required for executor-loss survival), and
  * GRAFT_SHARED_TMP=true on a single-host cluster whose workers share
  * the driver's /tmp.
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outJson, queryList) = args.take(3)
    val spark = graft.GraftSession()

    val rows = queryList.split(',').map(_.trim).filter(_.nonEmpty).map { name =>
      val t0 = System.nanoTime()
      val res =
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          // decimal(38,0) sum: exact and overflow-free under ANSI mode
          // (int64 hashes × up to ~1e9 rows stays well inside 38 digits)
          val fp = df
            .select(xxhash64(to_json(struct(
              df.columns.sorted.map(col).toIndexedSeq: _*)))
              .cast("decimal(38,0)").as("h"))
            .agg(count(lit(1)).as("n"), sum(col("h")).as("fp"))
            .head()
          val secs = (System.nanoTime() - t0) / 1e9
          f"""{"query":"$name","ok":true,"rows":${fp.getLong(0)},"fingerprint":"${
            Option(fp.get(1)).map(_.toString).getOrElse("0")}","secs":$secs%.2f}"""
        } catch {
          case e: Throwable =>
            val secs = (System.nanoTime() - t0) / 1e9
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(300)
            System.err.println(s"[cluster-probe] FAILED $name: $msg")
            f"""{"query":"$name","ok":false,"error":"$msg","secs":$secs%.2f}"""
        }
      println(res)
      res
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson),
      rows.mkString("[", ",\n", "]\n"))
    spark.stop()
  }
}
