package graft

import org.apache.spark.sql.functions._

/** Round 13: the lake-maintenance / model-scoring tranche —
  * `text_quality_model` (T24), `corpus_delta` (P22),
  * `corpus_compaction_plan` (P23), `layout_zorder` (R29) and
  * `stream_bloom_gate` (D19).
  *
  * Each oracle-checked op gets the independent-replay treatment here:
  * the scoring model is replayed token-by-token in plain Scala, the
  * delta is APPLIED to the old snapshot and must reproduce the new one
  * (the E19 old ⊕ changelog = new law), the packing is replayed as a
  * literal prefix-sum walk, the Morton interleave is replayed bit by
  * bit, and the z-order layout's reason to exist — point-predicate
  * pruning on BOTH dimensions — is quantified against the row-order
  * counterfactual layout.
  */
class Round13Spec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---- T24 text_quality_model ----

  private def replayScore(text: String): (Long, Long) = {
    val toks = text.split(" ", -1)
    val wsum = toks.map { t =>
      val b = java.lang.Long.parseLong(md5hex("qm:" + t).take(8), 16) % 256
      (b * 37 + 11) % 201
    }.sum
    (toks.length.toLong, wsum)
  }

  test("text_quality_model matches a plain-Scala per-token replay of the hashed model") {
    val got = run("text_quality_model").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { r =>
      val (nTok, wSum) = replayScore(r.getString(1))
      val score = 10000L * wSum / nTok
      val verdict = if (score >= 1000000L) "keep" else "drop"
      assert(got(r.getLong(0)) == ((nTok, wSum, score, verdict)),
        s"doc ${r.getLong(0)}: got ${got(r.getLong(0))}, replay ($nTok,$wSum,$score,$verdict)")
    }
  }

  test("text_quality_model is a pure projection: zero exchanges in the plan") {
    val plan = run("text_quality_model").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the in-scan scorer must not shuffle:\n$plan")
  }

  // ---- P22 corpus_delta ----

  test("corpus_delta applied to the old snapshot reproduces the new snapshot exactly") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val old = docs.collect { case (id, t) if id % 10 != 7 => id -> md5hex(t) }
    val neu = docs.collect { case (id, t) if id % 10 != 3 =>
      id -> md5hex(if (id % 5 == 0) t + " rev2" else t)
    }
    val delta = run("corpus_delta").collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3)))
    // every status present, and old_h/new_h populated per contract
    assert(delta.exists(_._2 == "added") && delta.exists(_._2 == "removed")
      && delta.exists(_._2 == "changed"))
    val applied = delta.foldLeft(old) {
      case (acc, (id, "removed", oldH, _)) =>
        assert(acc.get(id).contains(oldH)); acc - id
      case (acc, (id, "added", oldH, newH)) =>
        assert(oldH == null && !acc.contains(id)); acc + (id -> newH)
      case (acc, (id, "changed", oldH, newH)) =>
        assert(acc.get(id).contains(oldH) && oldH != newH); acc + (id -> newH)
      case (_, row) => fail(s"unexpected delta row $row")
    }
    assert(applied == neu, "old snapshot + delta must equal the new snapshot")
  }

  // ---- P23 corpus_compaction_plan ----

  test("corpus_compaction_plan is the literal size-descending prefix-sum packing") {
    val target = 2000L
    val got = run("corpus_compaction_plan").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (_, rows) =>
      // replay: first-fit-decreasing order, bin = exclusive prefix div target
      val ordered = rows.sortBy(r => (-r._4, r._2))
      var before = 0L
      ordered.foreach { case (src, part, _, bytes, outFile) =>
        assert(outFile == before / target,
          s"$src/$part: out_file $outFile != replay ${before / target}")
        before += bytes
      }
      // bins start at 0 and are monotone nondecreasing in packing
      // order (consecutive ids may legitimately skip whenever one
      // (source,part) mass exceeds the target — the exact id is
      // already pinned row-by-row by the prefix-sum replay above)
      val bins = ordered.map(_._5)
      assert(bins.head == 0L && bins.zip(bins.tail).forall { case (a, b) => b >= a })
    }
    // at least one source actually splits into multiple output files
    assert(got.groupBy(_._1).exists(_._2.map(_._5).distinct.length > 1))
  }

  // ---- R29 layout_zorder ----

  private def morton(bx: Long, by: Long): Long =
    (0 until 8).map(i => (((bx >> i) & 1L) << (2 * i + 1)) | (((by >> i) & 1L) << (2 * i))).sum

  test("layout_zorder matches an independent Morton-encode replay") {
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val maxP = li.map(_._1).max + 1
    val maxS = li.map(_._2).max + 1
    val replay = li.groupBy { case (p, sk) =>
      morton(p * 256 / maxP, sk * 256 / maxS) / 256
    }.map { case (zf, rows) =>
      (zf, rows.length.toLong, rows.map(_._1).min, rows.map(_._1).max,
        rows.map(_._2).min, rows.map(_._2).max)
    }.toSet
    val got = run("layout_zorder").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == replay)
  }

  test("layout_zorder envelopes prune point predicates on BOTH keys; row-order prunes neither") {
    // counterfactual: the same rows laid out in natural l_orderkey
    // order (64 files) — the layout an append-only ingest leaves behind
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2, r._3))
    val perFile = math.max(1, li.length / 64)
    val rowOrder = li.grouped(perFile).toSeq.map { rows =>
      (rows.map(_._2).min, rows.map(_._2).max, rows.map(_._3).min, rows.map(_._3).max)
    }
    val z = run("layout_zorder").collect().map(r =>
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    def covering(env: Seq[(Long, Long)], v: Long): Double =
      env.count { case (lo, hi) => lo <= v && v <= hi }.toDouble / env.length
    val pks = li.map(_._2).distinct.sorted
    val sks = li.map(_._3).distinct.sorted
    val probesP = (1 to 19).map(i => pks(pks.length * i / 20))
    val probesS = (1 to 19).map(i => sks(sks.length * i / 20))
    val zP = probesP.map(v => covering(z.map(e => (e._1, e._2)), v)).sum / probesP.length
    val zS = probesS.map(v => covering(z.map(e => (e._3, e._4)), v)).sum / probesS.length
    val rP = probesP.map(v => covering(rowOrder.map(e => (e._1, e._2)), v)).sum / probesP.length
    val rS = probesS.map(v => covering(rowOrder.map(e => (e._3, e._4)), v)).sum / probesS.length
    // row-order: every file's envelope spans ~the whole key range on
    // both dims (no pruning); z-order: a point predicate touches only
    // the files sharing its 4-bit bucket prefix on that dim
    assert(rP > 0.9 && rS > 0.9, s"counterfactual should not prune: rP=$rP rS=$rS")
    assert(zP < 0.5 * rP, s"z-order partkey pruning too weak: $zP vs $rP")
    assert(zS < 0.5 * rS, s"z-order suppkey pruning too weak: $zS vs $rS")
  }

  test("corpus_delta over doc_id-bucketed snapshots plans the diff join exchange-free") {
    // the §2 claim made machine-checked: at 100 TB both snapshots live
    // bucketed by doc_id, so the daily diff pays ZERO shuffle — and the
    // delta is identical to the plain-parquet plan's
    val runTag = java.lang.Long.toHexString(System.nanoTime())
    val oldT = s"graft_snap_old_$runTag"
    val newT = s"graft_snap_new_$runTag"
    try {
      val docs = graft.sources.Tables.documents(spark, sf)
      docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), md5(col("text")).as("old_h"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(oldT)
      docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), md5(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("new_h"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(newT)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val diff = spark.table(oldT)
          .join(spark.table(newT), Seq("doc_id"), "full_outer")
          .filter(col("old_h").isNull || col("new_h").isNull ||
            col("old_h") =!= col("new_h"))
          .select(col("doc_id"),
            when(col("old_h").isNull, "added")
              .when(col("new_h").isNull, "removed")
              .otherwise("changed").as("status"))
        val plan = diff.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(!plan.contains("Exchange"),
          s"bucketed snapshot diff must be exchange-free:\n$plan")
        val got = diff.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        val plain = run("corpus_delta").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got == plain)
      }
    } finally {
      Seq(oldT, newT).foreach { t =>
        val loc = try Some(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
          .filter(col("col_name") === "Location").head().getString(1))
        catch { case _: Throwable => None }
        spark.sql(s"DROP TABLE IF EXISTS $t")
        loc.foreach { l =>
          def rec(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(); ()
          }
          rec(new java.io.File(new java.net.URI(l)))
        }
      }
    }
  }

  // ---- S14 ann_scalar_quant ----

  test("ann_scalar_quant matches a plain-Scala int8 round-trip replay and its error envelope") {
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(x =>
        // mirror the op's round(cast(x as double)*1000, 0) exactly:
        // double multiply, HALF_UP away from zero (math.round is
        // float half-up toward +∞ — a latent tie/drift divergence)
        BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)))
    val maxabs = vecs.flatMap(_._2.map(math.abs)).max
    val replay = vecs.groupBy(_._1).map { case (label, rows) =>
      def errs(v: Seq[Long]) = v.map { x =>
        val code = x * 127 / maxabs // JVM / truncates toward zero, like div and //
        math.abs(x - code * maxabs / 127)
      }
      (label, rows.length.toLong,
        rows.flatMap(r => errs(r._2)).sum,
        rows.flatMap(r => errs(r._2)).max,
        rows.flatMap(_._2.map(math.abs)).sum)
    }.toSet
    val got = run("ann_scalar_quant").collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == replay)
    // the envelope law the acceptance gate rests on: per-dimension
    // reconstruction error is bounded by one quantization step
    val errMax = run("ann_scalar_quant").agg(max(col("err_max"))).head().getLong(0)
    assert(errMax <= maxabs / 127 + 1,
      s"err_max $errMax exceeds the quantization step ${maxabs / 127 + 1}")
  }

  // ---- D20 dedup_index_maintain ----

  test("dedup_index_maintain: the maintained law is not vacuous and the anti join builds on the delta") {
    // the driver oracle IS maintained == rebuilt; here we pin that the
    // law has teeth: the delta classes are non-empty, and SKIPPING the
    // retire step produces a DIFFERENT index (so the equality cannot
    // hold by accident of an empty delta)
    val docs = graft.sources.Tables.documents(spark, sf)
    val nRemoved = docs.filter(col("doc_id") % 10 === 3).count()
    val nChanged = docs.filter(col("doc_id") % 5 === 0).count()
    val nAdded = docs.filter(col("doc_id") % 10 === 7).count()
    assert(nRemoved > 0 && nChanged > 0 && nAdded > 0)
    val maintained = run("dedup_index_maintain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val noRetire = docs.filter(col("doc_id") % 10 =!= 7)
      .select(md5(col("text")).as("h"), col("doc_id"))
      .unionByName(docs.filter(col("doc_id") % 10 =!= 3 &&
          (col("doc_id") % 10 === 7 || col("doc_id") % 5 === 0))
        .select(md5(when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("h"),
          col("doc_id")))
      .groupBy("h").agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canon"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained != noRetire,
      "retirement must be load-bearing: dropping it should change the index")
    // cost shape: the retirement anti join must hash-build the
    // delta-sized id set, not sort the corpus-sized index
    val plan = run("dedup_index_maintain").queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"),
      s"retire anti-join should be a hash join with the delta as build:\n$plan")
  }

  // ---- C10: raw-ingest JSONL with corrupt-record quarantine ----

  test("C10: JSONL ingest quarantines corrupt lines without dropping or failing the batch") {
    // the raw-crawl ingest stage in front of every corpus pipeline: a
    // malformed line must neither kill the job (FAILFAST) nor vanish
    // (DROPMALFORMED) — PERMISSIVE + columnNameOfCorruptRecord gives
    // per-row quarantine, and the quarantined line survives VERBATIM
    // for the dead-letter store (the C8/outbox posture for bad input)
    val dir = tempDir("graft_jsonl")
    val good = (0 until 20).map(i => s"""{"doc_id":$i,"text":"doc $i","lang":"en"}""")
    val bad = Seq(
      """{"doc_id":20,"text":"unterminated""",
      """not json at all""",
      """{"doc_id":"NaN-ish","text":123,"lang":{}}""")
    val lines = scala.util.Random.shuffle(good ++ bad)
    java.nio.file.Files.write(new java.io.File(dir, "part0.jsonl").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt", org.apache.spark.sql.types.StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir.getPath).cache()
    val quarantined = df.filter(col("_corrupt").isNotNull)
    val clean = df.filter(col("_corrupt").isNull)
    assert(df.count() == 23)
    assert(clean.count() == 20)
    assert(quarantined.count() == 3)
    // quarantine preserves the raw line verbatim for the dead-letter
    // store; clean rows parsed with full fidelity
    val rawBack = quarantined.select("_corrupt").collect().map(_.getString(0)).toSet
    assert(bad.toSet.subsetOf(rawBack) || rawBack == bad.toSet)
    assert(clean.agg(sum(col("doc_id"))).head().getLong(0) == (0 until 20).sum)
    df.unpersist()
  }

  // ---- R30 table_stats ----

  test("table_stats: each per-column branch scans exactly its one column, stats replay exactly") {
    val plan = run("table_stats").queryExecution.executedPlan.toString
    // the design claim: profiling k columns costs k ONE-column scans —
    // every branch's ReadSchema is its single column, never the table
    val schemas = "ReadSchema: ([^\\n]+)".r.findAllMatchIn(plan)
      .map(_.group(1).trim).toSeq
    for (c <- Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_returnflag", "l_linestatus")) {
      assert(schemas.exists(_.startsWith(s"struct<$c:")),
        s"branch for $c must read only $c; scans read: $schemas")
    }
    // numeric branches are pure hash-aggs; the string branches' only
    // sort-agg runs over the bounded value grid — assert the corpus
    // side of every branch is a HashAggregate directly over the scan
    assert("SortAggregate".r.findAllIn(plan).length <= 4,
      "only the two string branches' grid aggregates (partial+final " +
        "pairs) may sort-aggregate")
    // and the corpus-scale stage of every branch is a hash aggregate:
    // each scan's immediate parent in the printed tree is HashAggregate
    for (c <- Seq("l_returnflag", "l_linestatus"))
      assert(plan.contains(s"HashAggregate(keys=[$c"),
        s"the $c branch must collapse the corpus in a hash-agg first")
    // independent replay of one numeric and one string column
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_returnflag").collect()
    val got = run("table_stats").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    val sk = li.map(_.getLong(0))
    assert(got("l_suppkey") == ((sk.length.toLong, 0L, sk.distinct.length.toLong,
      sk.min.toString, sk.max.toString)))
    val rf = li.map(_.getString(1))
    assert(got("l_returnflag") == ((rf.length.toLong, 0L, rf.distinct.length.toLong,
      rf.min, rf.max)))
  }

  // ---- D19 stream_bloom_gate ----

  test("stream_bloom_gate equals the batch bloom gate verdict-for-verdict") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(canon(run("stream_bloom_gate")) == canon(run("dedup_bloom_gate")))
  }
}
