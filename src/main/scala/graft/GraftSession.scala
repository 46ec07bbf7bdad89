package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every graft main and the test session share,
  * so timings, plans and conf dumps compare across tools:
  *
  *  - master `GRAFT_MASTER` (e.g. `spark://127.0.0.1:7077`, the
  *    standalone-cluster evidence runs), else `local[cores]`;
  *  - `cores` shuffle partitions, UTC, AQE on, UI off, log level WARN,
  *    warehouse under /tmp (no graft main writes a managed table);
  *  - `GRAFT_STATESTORE=rocksdb` puts stateful streams on the RocksDB
  *    provider (`graft.stream.stateStore`);
  *  - `GRAFT_RELIABLE=true` routes lineage cuts through the filesystem
  *    (`Tables.stableCheckpoint`) so executor loss is survivable, and
  *    `GRAFT_SHARED_TMP=true` declares /tmp shared — true only of a
  *    single-host standalone cluster; multi-host clusters set
  *    `graft.workdir` to a shared scheme instead.
  *
  * Any other `spark.*` conf reaches the session as a `-D` system
  * property.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("GRAFT_STATESTORE")
      .foreach(v => spark.conf.set("graft.stream.stateStore", v))
    if (sys.env.get("GRAFT_RELIABLE").contains("true")) {
      spark.conf.set("graft.checkpoint.reliable", "true")
      if (sys.env.get("GRAFT_SHARED_TMP").contains("true"))
        spark.conf.set("graft.workdir.assumeShared", "true")
    }
    spark
  }
}
