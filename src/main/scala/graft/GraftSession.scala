package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one session policy every graft main and the test session share,
  * so timings, plans and conf dumps compare across tools:
  *
  *  - master `GRAFT_MASTER` (e.g. `spark://127.0.0.1:7077`, the
  *    standalone-cluster evidence runs), else `local[cores]`;
  *  - `cores` shuffle partitions, UTC, AQE on, UI off, log level WARN,
  *    warehouse under /tmp (no graft main writes a managed table);
  *  - a code cache of [[codeCacheEntries]] generated classes: a pass
  *    over the four ingest stream ops and their benchmark's checks
  *    generates 109 distinct ones, and with Spark's 100 each pass
  *    compiled about 20 again;
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
  *
  * [[child]] is the one way graft runs a frame under settings of its
  * own; no graft code sets a key on its caller's session.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Spark's `spark.sql.codegen.cache.maxEntries`, a static conf: only
    * the session's creator can set it. */
  val codeCacheEntries = 1000

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.codegen.cache.maxEntries", codeCacheEntries.toString)
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

  /** A clone of `s` with `conf` set on it, for frames that need
    * settings their caller's session must not see. The clone keeps
    * `s`'s conf, temp views and functions; nothing is restored, locked
    * or counted, so any number of children may run beside `s`. Its
    * frames share the executor's default artifact state: with
    * isolation on (Spark's default) the clone's new session UUID gets
    * a class loader of its own on the executor, and Spark's code
    * generator, cached by (class loader, source), would compile every
    * class those frames generate again. graft adds no artifacts, so
    * isolation protects nothing there. */
  def child(s: SparkSession, conf: (String, String)*): SparkSession = {
    val c = ColumnBridge.cloneSession(s)
    (("spark.sql.artifact.isolation.enabled" -> "false") +: conf)
      .foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
