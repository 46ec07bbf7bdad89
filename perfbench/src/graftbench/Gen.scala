package graftbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Seeded input generator for the benchmark.
  *
  * The event log has the shape and value distributions of
  * `graft.tools.DataGen`'s events table (one `xxhash64` per column, no
  * RNG state), with the run seed mixed into every hash: the same seed
  * gives a byte-identical table at any parallelism, another seed other
  * data of the same shape. One aggregate takes `hotPct`% of the events.
  * `ts` is written as TIMESTAMP_NTZ, the arrival type of the engine's
  * own test tables.
  *
  * `serve`'s traffic (lookup keys, upsert batches) comes from the same
  * hash on the driver, so the benchmark can keep its own expected state.
  */
final case class Sizes(events: Long, users: Long, hotPct: Int)

final case class Ev(eventId: Long, tsMicros: Long, userId: Long, eventType: String, value: Double)

object Gen {
  val HotUser = 7L
  val Epoch2024us = 1704067200000000L // 2024-01-01 UTC
  val WindowUs: Long = 30L * 86400L * 1000000L
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Driver-side twin of `pmod(xxhash64(seed, col, x), m)`: Spark
    * chains each argument's hash into the next, starting from 42. */
  def hmodL(m: Long, seed: Long, col: Int, x: Long): Long =
    java.lang.Math.floorMod(
      XXH64.hashLong(x, XXH64.hashInt(col, XXH64.hashLong(seed, 42L))), m)

  /** Event `id` with a time in [tsLo, tsLo + tsSpan): the log's columns. */
  def event(seed: Long, sz: Sizes, id: Long, tsLo: Long, tsSpan: Long): Ev = {
    val user =
      if (hmodL(100, seed, 62, id) < sz.hotPct) HotUser else hmodL(sz.users, seed, 63, id)
    Ev(id, tsLo + hmodL(tsSpan, seed, 61, id), user,
      EventTypes(hmodL(EventTypes.size, seed, 64, id).toInt),
      hmodL(56000L, seed, 65, id) / 100.0)
  }

  /** Writes the event log as `dir/events.parquet`, one file like the
    * engine's test tables. */
  def events(spark: SparkSession, seed: Long, sz: Sizes, dir: String): Unit = {
    def hmod(m: Long, c: Int, x: Column): Column =
      pmod(xxhash64(lit(seed), lit(c), x), lit(m))
    val id = col("id")
    val staging = s"$dir/_events"
    spark.range(sz.events).select(
      id.as("event_id"),
      timestamp_micros(lit(Epoch2024us) + hmod(WindowUs, 61, id))
        .cast("timestamp_ntz").as("ts"),
      when(hmod(100, 62, id) < lit(sz.hotPct), lit(HotUser))
        .otherwise(hmod(sz.users, 63, id)).as("user_id"),
      elt((hmod(EventTypes.size.toLong, 64, id) + lit(1)).cast("int") +:
        EventTypes.map(lit): _*).as("event_type"),
      (hmod(56000L, 65, id).cast("double") / lit(100.0)).as("value"),
      format_string("{\"k\": %d}", hmod(100, 66, id)).as("props"))
      .repartition(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Path.of(s"$dir/events.parquet"))
    ()
  }
}
