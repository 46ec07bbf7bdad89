package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, OpFamily}
import graft.sources.Tables
import graft.sources.Tables.{cents, e4, e6, epochS}

/** Relational read-side analytics — the queries a CQRS read side serves
  * (reference: surge's KTable/queryable-store consumers). TPC-H-shaped
  * headliners R1–R3 are the bench anchors.
  *
  * Scale notes: dims are explicitly `broadcast()`; the only shuffles are
  * on the fact table keys. Money math is integer-cents (see
  * [[graft.sources.Tables.cents]]) so aggregates are exact at any
  * parallelism.
  */
object Relational extends OpFamily {

  // R1: full-scan aggregation, TPC-H Q1 shape. One codegen'd hash-agg,
  // partial aggregation map-side; filter pushed to the parquet scan.
  private def q1Agg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_c"),
        sum(e4(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_e4"),
        sum(e6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))))
          .as("sum_charge_e6"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        col("sum_qty_c").cast("double") / col("count_order").cast("double") / lit(100.0))
      .withColumn("avg_price",
        col("sum_base_c").cast("double") / col("count_order").cast("double") / lit(100.0))
  }

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_base_c,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*1000000,0) AS BIGINT)) AS BIGINT) AS sum_charge_e6,
      |  count(*) AS count_order,
      |  CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/CAST(count(*) AS DOUBLE)/100.0 AS avg_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/CAST(count(*) AS DOUBLE)/100.0 AS avg_price
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // R2: dim-filter + fact-fact join + top-k, TPC-H Q3 shape. Customer is
  // broadcast (filtered dim); orders⋈lineitem shuffles on orderkey only.
  private def q3Join(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-06-30").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-06-30").cast("timestamp"))
      .select(col("l_orderkey"),
        e4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_e4"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(col("rev_e4")).as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q3Sql =
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS BIGINT) AS revenue_e4
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-06-30 00:00:00'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue_e4 DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // R19 `q3_salted`: the skew-safe twin of R2 — the join analog of the
  // salted fold A4. At 100 TB a single hot orderkey can stall one
  // reducer of the orders⋈lineitem shuffle; the standard mitigation
  // salts the BIG side's key (hot key's rows spread over 8 reducers)
  // and replicates the other side across all 8 salt values. The oracle
  // is R2's — proving the salted plan bit-exact is only possible
  // because the aggregate is integer fixed-point.
  private val nSalts = 8

  private def q3Salted(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-06-30").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      // replicate the (small) probe side across every salt value
      .withColumn("salt", explode(sequence(lit(0), lit(nSalts - 1))))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-06-30").cast("timestamp"))
      .select(col("l_orderkey"),
        e4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_e4"))
      // salt the BIG side from a value that varies WITHIN a key
      .withColumn("salt", pmod(col("rev_e4"), lit(nSalts)).cast("int"))
    ord.join(li, col("l_orderkey") === col("o_orderkey") && ord("salt") === li("salt"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(col("rev_e4")).as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("o_orderkey"))
      .limit(10)
  }

  // R3: 5-way star join, TPC-H Q5 shape. All dims broadcast; the fact
  // (lineitem) shuffles once on l_orderkey.
  private def q5MultiJoin(s: SparkSession, d: String): DataFrame = {
    val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(s, d)
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      e4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_e4"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n_items"))
  }

  private val q5Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS BIGINT) AS revenue_e4,
      |  count(*) AS n_items
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  // R4: top-N per group via ranking window.
  private def topkPerGroup(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_c"), col("rn").cast("long").as("rn"))
  }

  private val topkSql =
    """SELECT c_mktsegment, o_orderkey, CAST(round(o_totalprice*100,0) AS BIGINT) AS price_c,
      |       CAST(rn AS BIGINT) AS rn
      |FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 3""".stripMargin

  // R5/R6: EXISTS / NOT EXISTS as broadcast semi/anti joins.
  private def semiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  private val semiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  private def antiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  private val antiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  // R7: hierarchical totals via ROLLUP (region → nation → grand total).
  private def rollupAgg(s: SparkSession, d: String): DataFrame = {
    // Spark 4.1's DetectAmbiguousSelfJoin false-positives on
    // rollup-after-join (the rollup duplicates grouping attributes and
    // trips the dataset-id metadata check even with zero shared
    // lineage). The plan is unambiguous — disable the heuristic check.
    s.conf.set("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
    val sup = Tables.supplier(s, d).as("sp")
    val nat = broadcast(Tables.nation(s, d)).as("nt")
    val reg = broadcast(Tables.region(s, d)).as("rg")
    sup.join(nat, col("sp.s_nationkey") === col("nt.n_nationkey"))
      .join(reg, col("nt.n_regionkey") === col("rg.r_regionkey"))
      .select(col("rg.r_name").as("r_name"), col("nt.n_name").as("n_name"),
        cents(col("sp.s_acctbal")).as("bal_c"))
      .rollup("r_name", "n_name")
      .agg(sum(col("bal_c")).as("sum_bal_c"), count(lit(1)).as("n_sup"))
  }

  private val rollupSql =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(round(s_acctbal*100,0) AS BIGINT)) AS BIGINT) AS sum_bal_c, count(*) AS n_sup
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  // R8: pivot event types across day-of-week (values pinned ⇒ single
  // pass, no extra distinct-values job).
  private def pivotDow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
    val p = ev.groupBy("event_type").pivot("dow", 0 to 6).agg(count(lit(1)))
    p.select(col("event_type") +: (0 to 6).map(i =>
      coalesce(col(i.toString), lit(0L)).as(s"d$i")): _*)
  }

  private val pivotSql =
    """SELECT event_type,
      |  count(*) FILTER (WHERE dayofweek(ts) = 0) AS d0,
      |  count(*) FILTER (WHERE dayofweek(ts) = 1) AS d1,
      |  count(*) FILTER (WHERE dayofweek(ts) = 2) AS d2,
      |  count(*) FILTER (WHERE dayofweek(ts) = 3) AS d3,
      |  count(*) FILTER (WHERE dayofweek(ts) = 4) AS d4,
      |  count(*) FILTER (WHERE dayofweek(ts) = 5) AS d5,
      |  count(*) FILTER (WHERE dayofweek(ts) = 6) AS d6
      |FROM events GROUP BY event_type""".stripMargin

  // R9: exact distinct (partial-agg friendly).
  private def distinctExact(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))

  private val distinctSql =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  // R10: HLL sketch distinct — the 100 TB path (no exact-distinct
  // shuffle explosion). Approximate ⇒ rows-only driver check; the
  // ScalaTest spec bounds its error vs R9.
  private def distinctApprox(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"))

  // R11: as-of join — each purchase sees the user's latest prior signup
  // (surge KTable-lookup semantics). Spark-first: single sort within the
  // user partition + last(ignoreNulls) running value; no cross product,
  // no range explosion.
  private def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "signup"))
      .select("event_id", "user_id", "event_type", "ts", "value")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val sig = when(col("event_type") === "signup",
      struct(col("ts").as("sts"), col("value").as("sval")))
    ev.withColumn("last_sig", last(sig, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochS(col("ts")).as("ts_s"),
        epochS(col("last_sig.sts")).as("signup_ts_s"),
        col("last_sig.sval").as("signup_value"))
  }

  private val asofSql =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     g AS (SELECT user_id, ts, value FROM events WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id,
      |  CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s,
      |  CAST(floor(epoch(g.ts)) AS BIGINT) AS signup_ts_s,
      |  g.value AS signup_value
      |FROM p ASOF LEFT JOIN g ON p.user_id = g.user_id AND p.ts >= g.ts""".stripMargin

  // R13: CUBE over two dimensions (all four grouping levels).
  private def cubeAgg(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
    val cust = broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")).as("c")
    Tables.orders(s, d).as("o")
      .join(cust, col("o.o_custkey") === col("c.c_custkey"))
      .select(col("c.c_mktsegment").as("c_mktsegment"),
        col("o.o_orderstatus").as("o_orderstatus"),
        cents(col("o.o_totalprice")).as("price_c"))
      .cube("c_mktsegment", "o_orderstatus")
      .agg(sum(col("price_c")).as("sum_price_c"), count(lit(1)).as("n"))
  }

  private val cubeSql =
    """SELECT c_mktsegment, o_orderstatus,
      |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  count(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderstatus)""".stripMargin

  // R14/R15: set operations over key sets (EXCEPT / INTERSECT).
  private def custYear(s: SparkSession, d: String, y: Int) =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
      .select("o_custkey").distinct()

  private def exceptOp(s: SparkSession, d: String): DataFrame =
    custYear(s, d, 1996).except(custYear(s, d, 1997))

  private def exceptSql =
    """SELECT DISTINCT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |EXCEPT
      |SELECT DISTINCT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin

  private def intersectOp(s: SparkSession, d: String): DataFrame =
    custYear(s, d, 1996).intersect(custYear(s, d, 1997))

  private def intersectSql =
    """SELECT DISTINCT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |INTERSECT
      |SELECT DISTINCT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin

  // R16: calendar-month aggregation (date_trunc windows).
  private def monthlyAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(cents(col("o_totalprice"))).as("sum_price_c"), count(lit(1)).as("n"))

  private val monthlySql =
    """SELECT date_trunc('month', o_orderdate) AS month,
      |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  count(*) AS n
      |FROM orders GROUP BY 1""".stripMargin

  // R31 `view_maintain`: INCREMENTAL MATERIALIZED-VIEW maintenance —
  // the warehouse twin of E13/E16/D20: a monthly revenue-by-returnflag
  // view over the lineitem⋈orders join is persisted capital, and when
  // a fact slice arrives (the top-20%-of-orderkeys tail, by the
  // footer-stats threshold — no scan to find it), maintenance
  // aggregates ONLY the delta's join and merges monoid partials
  // (sum⊕sum, count⊕count) with the stored view in one bounded
  // hash-agg. The base fact mass is never re-joined, never re-read.
  // All view columns are commutative monoids in exact cents, so
  // maintained == recomputed bit-for-bit — and the ORACLE is the full
  // recompute, making the driver hash-compare the IVM correctness law
  // (the D20 trick on the relational tier). At 100 TB the delta join
  // runs at delta size against the bucketed orders layout (C9), and
  // the merge touches |months×flags| rows.
  // private[graft]: stream_view_maintain aggregates each micro-batch
  // through exactly this view body (structural batch/stream parity)
  private[graft] def viewAgg(li: DataFrame, ord: DataFrame): DataFrame =
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
        col("l_returnflag"))
      .agg(sum(cents(col("l_extendedprice"))).as("sum_price_c"),
        count(lit(1)).as("n"))

  private def viewMaintain(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val maxOk = Tables.maxIdFromStats(s, s"$d/lineitem.parquet", "l_orderkey", li)
    val t = maxOk * 4 / 5
    val path = s"${Tables.workDir(s)}/view_monthly_flag_" + Tables.datasetTag(d)
    // the fact threshold MIRRORS onto the dimension scan through the
    // equi-join key (o_orderkey = l_orderkey ⇒ the same bound prunes
    // orders) — measured at sf100: the unmirrored delta join shuffled
    // all 150 M orders (2.3 GB / 1.8 GB spill) for a 20 % delta
    Tables.buildOnce(path)(viewAgg(li.filter(col("l_orderkey") <= t),
      ord.filter(col("o_orderkey") <= t)))
    val delta = viewAgg(li.filter(col("l_orderkey") > t),
      ord.filter(col("o_orderkey") > t))
    Tables.read(s, path).unionByName(delta)
      .groupBy("month", "l_returnflag")
      .agg(sum(col("sum_price_c")).as("sum_price_c"), sum(col("n")).as("n"))
  }

  private[graft] val viewMaintainSql =
    """SELECT date_trunc('month', o_orderdate) AS month, l_returnflag,
      |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin

  // R17: FULL OUTER join — per-customer order rollup keeping both
  // order-less customers and (synthetically possible) orphan orders.
  // The aggregated side arrives hash-partitioned by its own groupBy;
  // the shuffled-hash hint keeps the join sort-free (the E19 shape —
  // a full-outer SMJ would re-sort both sides for no robustness gain
  // on a pre-aggregated build side).
  private def outerJoin(s: SparkSession, d: String): DataFrame = {
    val ordAgg = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("sum_price_c"))
    Tables.customer(s, d).select("c_custkey", "c_name")
      .join(ordAgg.hint("shuffle_hash"), col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_custkey"),
        col("n_orders"), col("sum_price_c"))
  }

  private val outerJoinSql =
    """SELECT c_custkey, c_name, o_custkey, n_orders, sum_price_c
      |FROM customer FULL OUTER JOIN (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_c
      |  FROM orders GROUP BY 1) o ON c_custkey = o.o_custkey""".stripMargin

  // R18: same result as R4 but through graft's custom physical
  // operator (bounded per-key heaps, no sort) — the oracle proves the
  // operator agrees with the window-function semantics exactly.
  private def topkCustom(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val joined = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
    graft.plans.TopK.topKPerKey(joined, 3, "c_mktsegment", "price_c", "o_orderkey")
  }

  private val topkCustomSql =
    """SELECT c_mktsegment, o_orderkey, CAST(round(o_totalprice*100,0) AS BIGINT) AS price_c
      |FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 3""".stripMargin

  // R20 `grouping_sets`: arbitrary grouping-set aggregation — the
  // general form R7's ROLLUP and R13's CUBE are special cases of. The
  // set list ((rf,ls),(ls),()) is deliberately NOT a rollup chain
  // (rollup would descend (rf,ls)→(rf)→()): it pins Spark's native
  // GROUPING SETS path (one Expand + one hash-agg — each input row is
  // replicated once per set, partial-agg map-side, no sort, no
  // re-scan) against the equivalent DuckDB sets. Exact integer cents.
  private def groupingSetsAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("n"))

  private val groupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin

  // R21 `q18_having`: the HAVING-driven semi-reduction, TPC-H Q18
  // shape — "large-volume orders": aggregate the fact FIRST, keep the
  // tiny qualifying-key set, and only then join the dimensions. The
  // order matters at 100 TB: the lineitem hash-agg (map-side partial)
  // collapses the corpus to |orders| rows and the HAVING filter cuts
  // that to ~1%, so the orders join probes a small pre-aggregated,
  // already-hash-partitioned build side — shuffle_hash hinted (the
  // E19/R17 shape; SMJ would re-sort the orders side for nothing) —
  // and customer rides in as a broadcast. The quantity sum is already
  // computed by the reduction, so lineitem is scanned exactly once.
  private def q18Having(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"))
      .filter(col("sum_qty_c") > lit(25000L))
    val ord = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.customer(s, d).select("c_custkey", "c_name")
    ord.join(big.hint("shuffle_hash"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), cents(col("o_totalprice")).as("total_price_c"),
        col("sum_qty_c"))
  }

  private val q18Sql =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
      |  CAST(round(o_totalprice*100,0) AS BIGINT) AS total_price_c,
      |  b.sum_qty_c
      |FROM orders
      |JOIN (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sum_qty_c
      |  FROM lineitem GROUP BY 1
      |  HAVING sum(CAST(round(l_quantity*100,0) AS BIGINT)) > 25000) b
      |  ON o_orderkey = b.l_orderkey
      |JOIN customer ON c_custkey = o_custkey""".stripMargin

  // R22 `q16_distinct_agg`: distinct-aggregation under an exclusion
  // anti-join, TPC-H Q16 shape — "how many DISTINCT suppliers serve
  // each (brand, type, size), excluding blacklisted suppliers". The
  // composition matters: the anti-join must run BEFORE the distinct
  // agg (filtering after would need the full supplier set per group
  // anyway), and both dims ride as broadcasts so the only shuffle is
  // the distinct-agg's own — which Spark expands to two hash-aggs
  // ((keys, supp) dedup then count), both partial-aggregable
  // map-side. The exclusion set is tiny by nature (complaint lists
  // are curated), the part dim is a standard broadcast dim.
  private def q16DistinctAgg(s: SparkSession, d: String): DataFrame = {
    val excl = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val pt = Tables.part(s, d).select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  private val q16Sql =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  // R23 `q4_priority`: aggregate over a correlated-EXISTS semi-join,
  // TPC-H Q4 shape — order counts per priority among orders with at
  // least one SLOW lineitem (shipped > 60 days after the order). The
  // semi-join carries the equi key plus the non-equi date residual in
  // one pass (Spark hashes on the key and applies the residual in the
  // probe — no second scan, no dedup step a plain join would force);
  // the closing agg is over the tiny priority dimension.
  private def q4Priority(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  private val q4Sql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1""".stripMargin

  // R25 `q21_waiting`: TPC-H Q21 shape — the hardest standard join
  // pattern: TWO self-correlated subqueries on the fact (EXISTS
  // another supplier's line in the same order, NOT EXISTS another
  // supplier's LATE line), with an inequality lateness residual.
  // Naively that is three lineitem scans and two semi/anti joins; at
  // 100 TB the fact must be scanned a bounded number of times, so
  // both correlations are answered by ONE per-order aggregate:
  //   EXISTS l2 (l2.supp <> l1.supp)           ⟺ n_supp ≥ 2
  //   NOT EXISTS l3 late (l3.supp <> l1.supp)  ⟺ n_late_supp = 1
  // (l1 is itself late, so "no OTHER supplier late" is exactly "the
  // order's late-supplier set is the singleton {l1.supp}"). The agg
  // is deliberately NOT two countDistincts — those plan an Expand
  // that doubles the fact through the distinct shuffle. Instead one
  // repartition on orderkey feeds two NESTED in-stage aggregates
  // (hash(ok) satisfies ClusteredDistribution(ok, sk), so neither
  // groupBy re-exchanges): (ok, sk) → max(late), then ok →
  // (count, sum) — the fact crosses the wire exactly once, un-doubled.
  // The l1 join back is shuffle-hash against the pre-aggregated
  // |orders|-keyed side (the E19/R17/q13 shape — 3 small int columns
  // per order, not a corpus-sized payload) and lands on the same
  // hash(ok) partitioning, so it adds no exchange on the build side.
  // Supplier and nation ride in as broadcasts. Fact scans: two
  // bounded column-pruned passes (the agg branch and the l1 branch —
  // materializing the joint frame instead would cost more than the
  // second 3-column scan); no BNLJ anywhere.
  private def q21Waiting(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val lo = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .cast("int").as("late"))
    val perOrder = lo.repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("supp_late"))
      .groupBy("l_orderkey").agg(
        count(lit(1)).as("n_supp"),
        sum(col("supp_late")).as("n_late_supp"))
    val l1 = lo.filter(col("late") === 1).select("l_orderkey", "l_suppkey")
    val sup = Tables.supplier(s, d)
      .select("s_suppkey", "s_name", "s_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    // grouped by (nation, supplier) rather than TPC-H's single-nation
    // filter: the tiny scales ship as few as 10 suppliers, so a fixed
    // nation literal can legitimately select zero rows — the grouped
    // form keeps the identical join shape at every scale
    l1.join(perOrder.hint("shuffle_hash"), Seq("l_orderkey"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "s_name")
      .agg(count(lit(1)).as("numwait"))
  }

  // oracle in the REFERENCE form — two correlated EXISTS/NOT-EXISTS
  // subqueries — so the hash-compare proves the one-aggregate rewrite
  // IS that semantics, not merely self-consistent
  private val q21Sql =
    """WITH l AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |      THEN 1 ELSE 0 END AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F')
      |SELECT n_name, s_name, count(*) AS numwait
      |FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      |          JOIN nation ON s_nationkey = n_nationkey
      |WHERE l1.late = 1
      |  AND EXISTS (SELECT 1 FROM l l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM l l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late = 1)
      |GROUP BY 1, 2""".stripMargin

  // R24 `q13_custdist`: the customer-distribution histogram, TPC-H
  // Q13 shape — how many customers placed exactly k orders (including
  // k = 0, the rows only an OUTER join keeps). Classic two-level
  // aggregation: orders collapse to per-customer counts (one
  // hash-agg), customers LEFT-join that pre-aggregated side
  // (shuffle-hash hinted — the E19/R17 sort-free shape), and the
  // histogram agg runs over |customers| rows. The zero bucket is the
  // point of the query: an inner join would silently drop it.
  private def q13CustDist(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy("o_custkey").agg(count(lit(1)).as("c_orders"))
    Tables.customer(s, d).select("c_custkey")
      .join(perCust.hint("shuffle_hash"),
        col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_orders"), lit(0L)).as("c_orders"))
      .groupBy("c_orders").agg(count(lit(1)).as("n_customers"))
  }

  private val q13Sql =
    """SELECT c_orders, count(*) AS n_customers
      |FROM (
      |  SELECT COALESCE(o.n, 0) AS c_orders
      |  FROM customer LEFT JOIN (
      |    SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) o
      |    ON c_custkey = o.o_custkey)
      |GROUP BY 1""".stripMargin

  // R27 `semi_join_bloom`: the runtime-filter form of semi-join
  // reduction — the fact side is pre-probed by a BLOOM FILTER built
  // over the (filtered) dim keys, so rows that cannot possibly match
  // are dropped AT THE SCAN, before any exchange; the exact semi join
  // then removes the bloom's false positives, so the result is
  // bit-identical to the plain EXISTS. This is the join shape that
  // matters when the fact-side SHUFFLE dominates (Spark's own
  // InjectRuntimeFilter makes the same move for shuffle joins; here
  // it is explicit, oracle-checked, and independent of optimizer
  // thresholds). The bloom itself is bounded metadata — a fixed-size
  // bit array collected once on the driver (the footer-stats
  // precedent) and shipped as a literal into the scan-side filter;
  // the probe is one codegen'd xxhash64 + O(1) bit tests per row.
  // Built from the Catalyst expressions Spark's runtime filter uses
  // (BloomFilterAggregate / BloomFilterMightContain) — a native
  // Expression, not a UDF; args parsed with CatalystSqlParser per
  // the ColumnBridge rule.
  private def semiJoinBloom(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val bloomBytes = dim
      .agg(ColumnBridge.column(new BloomFilterAggregate(
        CatalystSqlParser.parseExpression("xxhash64(o_custkey)"), 1000000L)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      CatalystSqlParser.parseExpression("xxhash64(c_custkey)")))
    Tables.customer(s, d)
      .filter(mightContain)
      .join(dim, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  private val semiJoinBloomSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  // R28 `skew_profile`: the join-key skew diagnostic read BEFORE any
  // salting decision — per candidate join key of the event log, the
  // top-20 heaviest values with their exact row share (e4). Every
  // skew mitigation in this repo (q3_salted, es_fold_salted, AQE
  // skew-join, the salted LSH buckets) is sized from exactly this
  // table; at 100 TB you measure the celebrity keys first, then pick
  // the salt. One map-side-partial hash-agg per key column collapses
  // the corpus to the value histogram; the top-20 rides the
  // TopKPerKey heaps (no per-key sort); the total for the share is a
  // global window over the tiny survivor set. The DataGen/driver hot
  // user (~10% of events on user 7 at probe scales) is precisely what
  // this op exists to surface.
  private def skewProfile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // corpus row count once (an empty-schema parquet pass — bounded
    // metadata, the footer-stats precedent): the share that matters
    // for a salting decision is "of the CORPUS", not of the top-k
    val total = ev.count()
    val keys = Seq("user_id", "event_type")
    keys.map { k =>
      val counts = ev.groupBy(col(k).cast("string").as("key_value"))
        .agg(count(lit(1)).as("n"))
        .withColumn("key_col", lit(k))
        .withColumn("tid", expr(
          "cast(conv(substr(md5(key_value), 1, 15), 16, 10) as bigint)"))
      graft.plans.TopK.topKPerKey(counts, 20, "key_col", "n", "tid")
        .select(col("key_col"), col("key_value"), col("n"),
          // div, not / — `/` on longs is double division (house gotcha)
          expr(s"(10000 * n) div ${total}L").as("share_e4"))
    }.reduce(_ unionByName _)
  }

  private val skewProfileSql =
    """WITH keys AS (
      |  SELECT 'user_id' AS key_col, CAST(user_id AS VARCHAR) AS key_value FROM events
      |  UNION ALL
      |  SELECT 'event_type' AS key_col, event_type AS key_value FROM events),
      |c AS (SELECT key_col, key_value, count(*) AS n FROM keys GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY key_col ORDER BY n DESC,
      |    CAST(list_sum(list_transform(range(0, 15), i ->
      |      (strpos('0123456789abcdef', substr(md5(key_value), 1 + CAST(i AS INT), 1)) - 1)
      |        * CAST(pow(16, 14 - i) AS BIGINT))) AS BIGINT)) AS rn
      |  FROM c),
      |tot AS (SELECT count(*) AS total FROM events)
      |SELECT key_col, key_value, n, (10000 * n) // (SELECT total FROM tot) AS share_e4
      |FROM r WHERE rn <= 20""".stripMargin

  // R29 `layout_zorder`: the DATA-LAYOUT planner — assign every fact
  // row to an output file along a Z-ORDER (Morton) curve over the two
  // hottest filter keys, and report each file's per-dimension min/max
  // envelope (exactly the parquet footer stats a scan prunes on).
  // This is the maintenance pass (Delta OPTIMIZE ZORDER / Iceberg
  // sort-order rewrite) that makes BOTH `WHERE l_partkey=…` and
  // `WHERE l_suppkey=…` prune to ~√F of F files, where a plain
  // single-key sort prunes one predicate perfectly and the other not
  // at all. Mechanics: each key is range-bucketed to 8 bits against
  // its FOOTER-STATS max (no scan, the Tables.maxIdFromStats
  // contract), the 16 bucket bits interleave arithmetically into the
  // z-value (pure int64 expressions — engine-neutral, codegen'd), and
  // file = z div 256 → 256 files whose envelopes this op emits. ONE
  // map-side-partial hash-agg keyed by the bounded file id is the
  // whole plan: no sort, no join, shuffle carries ≤ 256 rows. The
  // LayoutSpec quantifies the prune: z-order file envelopes cover a
  // partkey (or suppkey) point predicate in ~√256·skew files vs the
  // row-order layout's "every file matches".
  /** lineitem with its R29 z-file assignment attached — shared by the
    * planner view below and the PHYSICAL writer
    * (ScaleSmoke.zorderWriteProbe, scale/sf10_zorder_write_r14.json),
    * which materializes the assignment as real files and measures
    * footer-stats pruning on them. */
  private[graft] def withZfile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val maxP = Tables.maxIdFromStats(s, s"$d/lineitem.parquet", "l_partkey", li)
    val maxS = Tables.maxIdFromStats(s, s"$d/lineitem.parquet", "l_suppkey", li)
    val interleave = (0 until 8).map(i =>
      s"((bx div ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
        s"((by div ${1L << i}) % 2) * ${1L << (2 * i)}").mkString(" + ")
    li.withColumn("bx", expr(s"(l_partkey * 256) div ${maxP + 1}"))
      .withColumn("by", expr(s"(l_suppkey * 256) div ${maxS + 1}"))
      .withColumn("zfile", expr(s"($interleave) div 256"))
      .drop("bx", "by")
  }

  private def zorderLayout(s: SparkSession, d: String): DataFrame =
    withZfile(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("zfile"))
      .groupBy("zfile")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))

  private val zorderSql = {
    val interleave = (0 until 8).map(i =>
      s"((bx // ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
        s"((by // ${1L << i}) % 2) * ${1L << (2 * i)}").mkString(" + ")
    s"""WITH mx AS (
       |  SELECT max(l_partkey) + 1 AS mp, max(l_suppkey) + 1 AS ms FROM lineitem),
       |b AS (
       |  SELECT l_partkey, l_suppkey,
       |    (l_partkey * 256) // (SELECT mp FROM mx) AS bx,
       |    (l_suppkey * 256) // (SELECT ms FROM mx) AS by
       |  FROM lineitem)
       |SELECT ($interleave) // 256 AS zfile, count(*) AS n_rows,
       |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
       |FROM b GROUP BY 1""".stripMargin
  }

  // R30 `table_stats`: the ANALYZE pass that completes the
  // lake-maintenance trio (R29 layout + P23 compaction + this) — per
  // column: rows, nulls, EXACT ndv, min/max — the statistics layer
  // every cost-based join reorder, broadcast decision, and partition
  // prune rests on. Built as one single-column aggregate PER COLUMN,
  // unioned: on columnar parquet each branch's scan reads exactly its
  // one column (spec-pinned ReadSchema), so profiling k of n columns
  // costs k column scans — at 100 TB that beats one Expand-based
  // multi-distinct pass, which pipes k× the row count through a
  // single aggregate. Two-phase partial-distinct hash-aggs, no sort;
  // min/max surface as strings so one schema fits every column type
  // (int64 and string casts are engine-identical; FP/timestamp
  // columns stay out to keep the driver hash-compare exact).
  private def tableStats(s: SparkSession, d: String): DataFrame = {
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val strCols = Seq("l_returnflag", "l_linestatus")
    val numeric = numCols.map { c =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("ndv"),
        min(col(c)).cast("string").as("min_s"),
        max(col(c)).cast("string").as("max_s"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("ndv"), col("min_s"), col("max_s"))
    }
    // STRING min/max buffers are immutable ⇒ a direct aggregate plans
    // SortAggregate over the CORPUS (the E1/M1 packed-argmax lesson's
    // cousin). Collapse to the bounded value GRID first — one hash-agg
    // keyed by the value — and run min/max/ndv on the grid: the only
    // sort-agg left touches ndv rows, never the table (allowlisted in
    // PlanLintSpec with this reason).
    val string = strCols.map { c =>
      Tables.lineitem(s, d).groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
          coalesce(sum(when(col(c).isNull, col("cnt"))), lit(0L)).as("n_null"),
          sum(when(col(c).isNotNull, 1L).otherwise(0L)).as("ndv"),
          min(col(c)).as("min_s"), max(col(c)).as("max_s"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("ndv"), col("min_s"), col("max_s"))
    }
    (numeric ++ string).reduce(_ unionByName _)
  }

  private val tableStatsSql =
    Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_returnflag", "l_linestatus").map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS ndv,
         |  CAST(min($c) AS VARCHAR) AS min_s,
         |  CAST(max($c) AS VARCHAR) AS max_s
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")

  // R33 `table_stats_refresh`: the INCREMENTAL ANALYZE (r12 verdict
  // item 7) — R30's exact pass stays the audit, but re-running it per
  // ingest re-pays the full-corpus exact-ndv shuffle (20.9 GB at
  // sf100, SCALE.md). The refresh keeps per-column statistics CAPITAL
  // and merges only the arriving delta (the R31/D20/E13 pattern on the
  // statistics tier):
  //   - numeric columns: (rows, nulls, min, max) are monoids, merged
  //     exactly; ndv merges through R26's mergeable HLL sketches
  //     (base sketch persisted as bytes, delta sketch unioned —
  //     estimate spec-pinned to the exact count's envelope, NEVER
  //     hash-compared: coupon-mode transitions make merged/direct
  //     estimates legitimately differ, the r12 gotcha);
  //   - string columns: the bounded value GRID (value → count) IS the
  //     capital — grids merge exactly (union + sum), so rows, nulls,
  //     min, max AND ndv are all EXACT after any number of deltas,
  //     and min/max run on the grid, never a corpus sort-agg (the r13
  //     string-min/max rule).
  // The driver entry emits the exact columns (ndv NULL for numeric —
  // approximate values must not enter a hash-compare) against the
  // full-table oracle: hash-equal ⇒ the capital ∪ delta merge law
  // holds for every exact statistic. At 100 TB a refresh touches the
  // delta plus |columns| tiny capital rows + |grid| rows.
  // Mirror lists for the STATIC oracle SQL (object-init strings can't
  // read a live schema) — Round16Spec pins each mirror equal to the
  // schema-driven dispatch, so a testdata schema change fails loudly
  // instead of silently shrinking ANALYZE coverage.
  private val statsNumCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val statsStrCols = Seq("l_returnflag", "l_linestatus")
  private val statsEventsNumCols = Seq("event_id", "user_id")
  private val statsEventsStrCols = Seq("event_type", "props")

  /** Schema-driven column dispatch for the ANALYZE tier (r13 verdict
    * item 3 — the column sets were hardcoded to six lineitem columns,
    * a demo of the merge algebra rather than a lake tool): INTEGRAL
    * columns (byte/short/int/long) take the monoid + mergeable-HLL
    * path, STRING columns the exact value grid. Everything else is
    * skipped DELIBERATELY, not as a gap: min/max must be emitted as
    * strings for the driver compare, and double/timestamp rendering is
    * not engine-neutral (Spark "1.0E7" vs DuckDB "10000000.0") — the
    * same exact-arithmetic contract every hash-compared column obeys. */
  private[graft] def statsColumns(df: DataFrame): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    (df.schema.fields.collect { case f if integral(f.dataType) => f.name }.toSeq,
      df.schema.fields.collect { case f if f.dataType == StringType => f.name }.toSeq)
  }

  // numeric-column scalar partials (one row per column): exact monoid
  // stats + the mergeable ndv sketch. Values are widened to int64
  // FIRST so the partial's schema — and the HLL's hashed input — is
  // identical whatever integral width the source column has.
  private def statsNumPartials(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        min(col(c).cast("long")).as("min_l"),
        max(col(c).cast("long")).as("max_l"),
        hll_sketch_agg(col(c).cast("long")).as("sk"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("min_l"), col("max_l"), col("sk"))
    }.reduce(_ unionByName _)

  // string-column grid partials (one row per (column, value))
  private def statsStrGrid(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.groupBy(col(c).as("value")).agg(count(lit(1)).as("cnt"))
        .select(lit(c).as("column_name"), col("value"), col("cnt"))
    }.reduce(_ unionByName _)

  /** The merged refresh over ANY table INCLUDING the HLL ndv estimate
    * column — columns dispatched from the live schema; the spec and
    * the sf100 probe read this; the driver entries drop the
    * approximate column. `capTag` keys the persisted capital per
    * (table, dataset). */
  private[graft] def tableStatsRefreshOver(s: SparkSession, df: DataFrame,
      splitCol: String, t: Long, capTag: String): DataFrame = {
    val (numCols, strCols) = statsColumns(df)
    val numPath = s"${Tables.workDir(s)}/stats_num_$capTag"
    val gridPath = s"${Tables.workDir(s)}/stats_grid_$capTag"
    Tables.buildOnce(numPath)(
      statsNumPartials(df.filter(col(splitCol) <= t), numCols))
    Tables.buildOnce(gridPath)(
      statsStrGrid(df.filter(col(splitCol) <= t), strCols))
    val delta = df.filter(col(splitCol) > t)
    val numeric = Tables.read(s, numPath)
      .unionByName(statsNumPartials(delta, numCols))
      .groupBy("column_name")
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_null")).as("n_null"),
        min(col("min_l")).as("min_l"), max(col("max_l")).as("max_l"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        lit(null).cast("long").as("ndv"),
        col("min_l").cast("string").as("min_s"),
        col("max_l").cast("string").as("max_s"),
        col("est").as("ndv_est"))
    val string = Tables.read(s, gridPath)
      .unionByName(statsStrGrid(delta, strCols))
      .groupBy("column_name", "value").agg(sum(col("cnt")).as("cnt"))
      .groupBy("column_name")
      .agg(sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L)).as("n_null"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("ndv"),
        min(col("value")).as("min_s"), max(col("value")).as("max_s"))
      .withColumn("ndv_est", col("ndv"))
      .select("column_name", "n_rows", "n_null", "ndv", "min_s", "max_s", "ndv_est")
    numeric.unionByName(string)
  }

  /** Lineitem refresh (the original R33 entry), now a thin binding of
    * the schema-driven pass. */
  private[graft] def tableStatsRefreshFull(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val maxOk = Tables.maxIdFromStats(s, s"$d/lineitem.parquet", "l_orderkey", li)
    tableStatsRefreshOver(s, li, "l_orderkey", maxOk * 4 / 5,
      "li_" + Tables.datasetTag(d))
  }

  private def tableStatsRefresh(s: SparkSession, d: String): DataFrame =
    tableStatsRefreshFull(s, d).drop("ndv_est")

  /** The SECOND table the schema dispatch is proven on (r13 verdict
    * item 3): the events stream log — different shape (a timestamp and
    * a double the dispatch must SKIP, a 100-value props grid), split on
    * event_id. Ts/value exclusion is the engine-neutral-rendering rule
    * in statsColumns' doc. */
  private[graft] def tableStatsRefreshEventsFull(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val maxId = Tables.maxIdFromStats(s, s"$d/events.parquet", "event_id", ev)
    tableStatsRefreshOver(s, ev, "event_id", maxId * 4 / 5,
      "ev_" + Tables.datasetTag(d))
  }

  private def tableStatsRefreshEvents(s: SparkSession, d: String): DataFrame =
    tableStatsRefreshEventsFull(s, d).drop("ndv_est")

  private def statsRefreshSqlFor(table: String,
      numCols: Seq[String], strCols: Seq[String]): String = {
    val num = numCols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(NULL AS BIGINT) AS ndv,
         |  CAST(min($c) AS VARCHAR) AS min_s,
         |  CAST(max($c) AS VARCHAR) AS max_s
         |FROM $table""".stripMargin
    }
    val str = strCols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS ndv,
         |  CAST(min($c) AS VARCHAR) AS min_s,
         |  CAST(max($c) AS VARCHAR) AS max_s
         |FROM $table""".stripMargin
    }
    (num ++ str).mkString("\nUNION ALL\n")
  }

  private val tableStatsRefreshSql =
    statsRefreshSqlFor("lineitem", statsNumCols, statsStrCols)
  private val tableStatsRefreshEventsSql =
    statsRefreshSqlFor("events", statsEventsNumCols, statsEventsStrCols)

  // the spec mirrors (Round16Spec pins these against live schemas)
  private[graft] def statsMirrors: Map[String, (Seq[String], Seq[String])] = Map(
    "lineitem" -> ((statsNumCols, statsStrCols)),
    "events" -> ((statsEventsNumCols, statsEventsStrCols)))

  override def ops: Seq[Op] = Seq(
    Op("table_stats_refresh", tableStatsRefresh, Some(tableStatsRefreshSql)),
    Op("table_stats_refresh_events", tableStatsRefreshEvents,
      Some(tableStatsRefreshEventsSql)),
    Op("view_maintain", viewMaintain, Some(viewMaintainSql)),
    Op("table_stats", tableStats, Some(tableStatsSql)),
    Op("layout_zorder", zorderLayout, Some(zorderSql)),
    Op("skew_profile", skewProfile, Some(skewProfileSql)),
    Op("semi_join_bloom", semiJoinBloom, Some(semiJoinBloomSql)),
    Op("q21_waiting", q21Waiting, Some(q21Sql)),
    Op("q13_custdist", q13CustDist, Some(q13Sql)),
    Op("q4_priority", q4Priority, Some(q4Sql)),
    Op("q16_distinct_agg", q16DistinctAgg, Some(q16Sql)),
    Op("q18_having", q18Having, Some(q18Sql)),
    Op("grouping_sets", groupingSetsAgg, Some(groupingSetsSql)),
    Op("topk_custom", topkCustom, Some(topkCustomSql)),
    Op("outer_join", outerJoin, Some(outerJoinSql)),
    Op("cube", cubeAgg, Some(cubeSql)),
    Op("set_except", exceptOp, Some(exceptSql)),
    Op("set_intersect", intersectOp, Some(intersectSql)),
    Op("monthly_agg", monthlyAgg, Some(monthlySql)),
    Op("q1_agg", q1Agg, Some(q1Sql)),
    Op("q3_join", q3Join, Some(q3Sql)),
    Op("q3_salted", q3Salted, Some(q3Sql)),
    Op("q5_multijoin", q5MultiJoin, Some(q5Sql)),
    Op("topk_per_group", topkPerGroup, Some(topkSql)),
    Op("semi_join", semiJoin, Some(semiSql)),
    Op("anti_join", antiJoin, Some(antiSql)),
    Op("rollup", rollupAgg, Some(rollupSql)),
    Op("pivot", pivotDow, Some(pivotSql)),
    Op("distinct_exact", distinctExact, Some(distinctSql)),
    Op("distinct_approx", distinctApprox, None),
    Op("asof_join", asofJoin, Some(asofSql)))
}
