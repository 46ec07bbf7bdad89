package graft

import org.apache.spark.sql.functions._

/** The parquet footer-statistics short-circuit for snapshot/delta
  * split scalars (r7 verdict "what's wrong #2"): max(id) must come
  * from file metadata, not a full table scan, and must EQUAL the scan
  * aggregate exactly.
  */
class Round9bSpec extends SparkSpec {

  test("maxIdFromStats equals the scan max on both id-carrying tables") {
    for ((table, col_) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val scan = graft.sources.Tables.load(spark, sf, table)
        .agg(max(col(col_))).head.getLong(0)
      val stats = graft.sources.Tables.maxIdFromStats(
        spark, s"$sf/$table.parquet", col_,
        graft.sources.Tables.load(spark, sf, table))
      assert(stats == scan, s"$table.$col_: stats=$stats scan=$scan")
    }
  }

  test("maxIdFromStats falls back to the scan when footer stats are unusable") {
    // a non-int64 column has no LongStatistics -> every file reports
    // None -> the fallback frame's aggregate is used; hand it a frame
    // whose max of a LONG cast is well-defined so the fallback is
    // observable (the footer path alone would throw or mis-type)
    val fb = graft.sources.Tables.load(spark, sf, "documents")
      .select(length(col("lang")).cast("long").as("lang"))
    val viaFallback = graft.sources.Tables.maxIdFromStats(
      spark, s"$sf/documents.parquet", "lang", fb)
    val direct = fb.agg(max(col("lang"))).head.getLong(0)
    assert(viaFallback == direct)
  }

  test("the incremental threshold derived from stats matches the scan form") {
    val viaStats = graft.functions.Dedup.incThreshold(spark, sf)
    val viaScan = graft.sources.Tables.documents(spark, sf)
      .agg(max(col("doc_id"))).head.getLong(0) * 4L / 5L
    assert(viaStats == viaScan)
  }
}
