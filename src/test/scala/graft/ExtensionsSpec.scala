package graft

import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.sources.Tables

/** The SQL surface of custom expressions. */
class ExtensionsSpec extends SparkSpec {
  test("graft_dot is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val df = Tables.embeddings(spark, sf)
      .select(Similarity.quantize(col("embedding")).as("v"))
      .limit(50)
      .withColumn("sql_dot", expr("graft_dot(v, v)"))
      .withColumn("api_dot", Similarity.dot(col("v"), col("v")))
    assert(df.filter(col("sql_dot") =!= col("api_dot")).count() == 0)
  }

  test("full vector kernel surface is SQL-callable and matches the API") {
    GraftExtensions.register(spark)
    val df = Tables.embeddings(spark, sf).limit(50)
      .select(expr("graft_quantize(embedding)").as("v"),
        Similarity.quantize(col("embedding")).as("api_v"))
      .withColumn("sql_norm", expr("graft_sqnorm(v)"))
      .withColumn("api_norm", Similarity.sqNorm(col("api_v")))
      .withColumn("sql_bucket", expr("graft_lsh_bucket(v)"))
      .withColumn("api_bucket", Similarity.lshBucket(col("api_v")))
      .withColumn("sql_cos", expr("graft_cosine(v, v)"))
    assert(df.filter(col("v") =!= col("api_v")).count() == 0)
    assert(df.filter(col("sql_norm") =!= col("api_norm")).count() == 0)
    assert(df.filter(col("sql_bucket") =!= col("api_bucket")).count() == 0)
    // cos(v, v) = 1 exactly (integer dot over √(nn·nn))
    assert(df.filter(abs(col("sql_cos") - 1.0) > 1e-12).count() == 0)
  }

  test("register injects the sort-free top-k strategy") {
    GraftExtensions.register(spark)
    assert(spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
    // idempotent: a second register leaves exactly one copy
    GraftExtensions.register(spark)
    assert(spark.experimental.extraStrategies.count(_ == graft.plans.TopKStrategy) == 1)
  }

  test("graft_lsh_bucket accepts (planes, band) literals from SQL") {
    GraftExtensions.register(spark)
    val df = Tables.embeddings(spark, sf).limit(50)
      .select(Similarity.quantize(col("embedding")).as("v"))
      .withColumn("sql_b", expr("graft_lsh_bucket(v, 16, 1)"))
      .withColumn("api_b", Similarity.lshBucket(col("v"), 16, 1))
    assert(df.filter(col("sql_b") =!= col("api_b")).count() == 0)
  }

  test("graft_minhash_band from SQL matches the D2 band pipeline") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_ext")
    // the scalar form: one row per (doc, band) from plain SQL
    val viaSql = spark.sql(
      """SELECT doc_id, b.band, graft_minhash_band(text, b.band) AS bh
        |FROM docs_ext
        |LATERAL VIEW explode(sequence(0, 3)) b AS band
        |WHERE size(split(text, ' ')) >= 3""".stripMargin)
    val viaOps = graft.functions.Dedup.bandsDf(spark, sf)
    assert(viaSql.count() > 0)
    assert(viaSql.except(viaOps).count() == 0 && viaOps.except(viaSql).count() == 0)
  }

  test("graft_simhash from SQL matches the D4 signature pipeline") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash(text) AS sh FROM docs_ext")
    val viaOps = graft.functions.SimHash.simhashDf(spark, sf)
    assert(viaSql.count() > 0)
    assert(viaSql.except(viaOps).count() == 0 && viaOps.except(viaSql).count() == 0)
  }

  test("graft_redact_pii scrubs each kind and leaves clean text alone") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT graft_redact_pii(" +
        "'mail a.b+c@ex-1.co ip 10.0.12.3 call 555-123-4567 keep this') AS r")
      .collect()(0).getString(0)
    assert(got == "mail <EMAIL> ip <IP> call <PHONE> keep this")
    val clean = spark.sql(
      "SELECT graft_redact_pii('no pii here at all') AS r").collect()(0).getString(0)
    assert(clean == "no pii here at all")
  }
}
