package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, OpFamily}
import graft.sources.Tables
import graft.sources.Tables.{cents, epochS}

/** Event-sourcing / CQRS core, re-expressed Spark-first.
  *
  * Reference semantics (all in `/root/reference`):
  *  - state = fold of the aggregate's ordered event log
  *    (`modules/command-engine/core/src/main/scala/surge/internal/domain/AggregateProcessingModel.scala:21`
  *    `applyAsync(ctx, state, events)`),
  *  - latest-state-per-aggregate KTable
  *    (`modules/common/src/main/scala/surge/kafka/streams/AggregateStateStoreKafkaStreams.scala`),
  *  - command → validate-against-state → accept/reject + new events
  *    (`AggregateProcessingModel.scala:18` `handle`, `SurgeContext.reject`).
  *
  * Spark mapping: the aggregate id is `events.user_id`; a fold whose
  * components are order-insensitive (sums/counts/min/max over the log)
  * becomes ONE hash aggregation — partial map-side combine, single
  * shuffle, no sort. Order-sensitive folds go through
  * [[graft.streaming.Streams.foldEvents]] (flatMapGroupsWithState). The
  * fold modeled here: an account balance machine — purchases credit the
  * balance, errors debit it, signups grant a 1000-cent bonus.
  */
object EventSourcing extends OpFamily {

  private def signedCents = {
    val c = cents(col("value"))
    when(col("event_type") === "purchase", c)
      .when(col("event_type") === "error", -c)
      .when(col("event_type") === "signup", lit(1000L))
      .otherwise(lit(0L))
  }

  private val signedCentsSql =
    """CASE WHEN event_type = 'purchase' THEN CAST(round(value*100,0) AS BIGINT)
      |     WHEN event_type = 'error' THEN -CAST(round(value*100,0) AS BIGINT)
      |     WHEN event_type = 'signup' THEN 1000
      |     ELSE 0 END""".stripMargin

  // The five event types, in a fixed code order for payload packing.
  private[graft] val evTypes = Seq("click", "error", "purchase", "signup", "view")

  /** event_type → 0..4 (data carries exactly these five types). */
  private[graft] def typeCode: org.apache.spark.sql.Column =
    evTypes.zipWithIndex.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (t, i)) => acc.when(col("event_type") === t, lit(i.toLong))
    }.otherwise(lit(9L))

  /** 0..4 → event_type; out-of-range decodes to null (guarded — a bare
    * element_at would THROW under ANSI mode rather than return null). */
  private[graft] def typeName(code: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(code.between(0, evTypes.size - 1),
      element_at(array(evTypes.map(lit): _*), code.cast("int") + 1))

  /** The KTable aggregation in its MERGEABLE packed form: per key,
    * max packed (ts, event_id, cents·10+type) + max ts + event count.
    * All three components are commutative-monoid merges (max/max/sum),
    * so a store of these rows upserts batch-by-batch ([[graft.streaming.LiveStore]])
    * and decodes on read. */
  private[graft] def packedState(df: DataFrame): DataFrame =
    df.groupBy("user_id")
      .agg(
        max(Packed.latest(col("ts"), col("event_id"),
          cents(col("value")) * lit(10L) + typeCode)).as("pk"),
        max(col("ts")).as("mts"),
        count(lit(1)).as("n_events"))

  /** Decode packed KTable rows to the user-facing state view. value
    * decodes exactly: data is 2-decimal, so cents/100.0 reproduces the
    * stored double bit-for-bit. */
  private[graft] def decodeState(df: DataFrame): DataFrame =
    df.withColumn("pay", Packed.payload(col("pk")))
      .select(col("user_id"), epochS(col("mts")).as("last_ts_s"),
        typeName(pmod(col("pay"), lit(10L))).as("last_type"),
        (expr("pay div 10").cast("double") / lit(100.0)).as("last_value"),
        col("n_events"))

  // E1: KTable — latest state per aggregate, as ONE HashAggregate: the
  // (ts, event_id) ordering and the (cents, type) payload pack into a
  // single decimal(38,0) `max` (see [[Packed]] — the max_by(struct,…)
  // form planned as SortAggregate, a full per-partition sort of the
  // log).
  private def latestState(s: SparkSession, d: String): DataFrame =
    decodeState(packedState(Tables.events(s, d)))

  private val latestStateSql =
    """SELECT user_id, CAST(floor(epoch(mts)) AS BIGINT) AS last_ts_s,
      |       last_type, last_value, n_events
      |FROM (
      |  SELECT user_id, event_type AS last_type, value AS last_value,
      |    max(ts) OVER (PARTITION BY user_id) AS mts,
      |    count(*) OVER (PARTITION BY user_id) AS n_events,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  // E2: event-sourced state fold (order-insensitive components ⇒ one
  // hash-agg; exact integer arithmetic).
  private def stateFold(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        sum(signedCents).as("balance_c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        count(lit(1)).as("n_events"),
        max(col("ts")).as("mts"))
      .select(col("user_id"), col("balance_c"), col("n_purchases"), col("n_events"),
        epochS(col("mts")).as("last_ts_s"))

  private def foldSql(pred: String) =
    s"""SELECT user_id,
       |  CAST(sum($signedCentsSql) AS BIGINT) AS balance_c,
       |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       |  count(*) AS n_events,
       |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts_s
       |FROM events $pred
       |GROUP BY user_id""".stripMargin

  // E3: point-in-time replay — the fold over a time-bounded log; the
  // ts predicate is pushed into the parquet scan.
  private def replayAsof(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy("user_id")
      .agg(
        sum(signedCents).as("balance_c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        count(lit(1)).as("n_events"),
        max(col("ts")).as("mts"))
      .select(col("user_id"), col("balance_c"), col("n_purchases"), col("n_events"),
        epochS(col("mts")).as("last_ts_s"))

  // E4: command batch validation — commands (purchases after the
  // snapshot cutoff) join the state snapshot (fold before cutoff);
  // accept iff the balance covers the cost (surge `handle` +
  // `ctx.reject`). State side is the smaller aggregate → broadcast.
  private def commandApply(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-20 00:00:00").cast("timestamp")
    val state = Tables.events(s, d)
      .filter(col("ts") < cut)
      .groupBy("user_id")
      .agg(sum(signedCents).as("balance_c"))
    val cmds = Tables.events(s, d)
      .filter(col("ts") >= cut && col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), cents(col("value")).as("cost_c"))
    cmds.join(broadcast(state), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("cost_c"),
        coalesce(col("balance_c"), lit(0L)).as("balance_c"),
        when(coalesce(col("balance_c"), lit(0L)) >= col("cost_c"), "accept")
          .otherwise("reject").as("decision"))
  }

  private val commandApplySql =
    s"""WITH state AS (
       |  SELECT user_id, CAST(sum($signedCentsSql) AS BIGINT) AS balance_c
       |  FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00' GROUP BY user_id),
       |cmds AS (
       |  SELECT event_id, user_id, CAST(round(value*100,0) AS BIGINT) AS cost_c
       |  FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' AND event_type = 'purchase')
       |SELECT c.event_id, c.user_id, c.cost_c,
       |  COALESCE(s.balance_c, 0) AS balance_c,
       |  CASE WHEN COALESCE(s.balance_c, 0) >= c.cost_c THEN 'accept' ELSE 'reject' END AS decision
       |FROM cmds c LEFT JOIN state s ON c.user_id = s.user_id""".stripMargin

  // E5: CQRS read-side projection — per-aggregate view with per-type
  // counters (conditional aggregation ⇒ one pass, one shuffle).
  private def projection(s: SparkSession, d: String): DataFrame = {
    def n(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(n("click"), n("view"), n("purchase"), n("signup"), n("error"),
        sum(cents(col("value"))).as("total_c"),
        min(col("ts")).as("fts"), max(col("ts")).as("lts"))
      .select(col("user_id"), col("n_click"), col("n_view"), col("n_purchase"),
        col("n_signup"), col("n_error"), col("total_c"),
        epochS(col("fts")).as("first_ts_s"), epochS(col("lts")).as("last_ts_s"))
  }

  private val projectionSql =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS total_c,
      |  CAST(floor(epoch(min(ts))) AS BIGINT) AS first_ts_s,
      |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts_s
      |FROM events GROUP BY user_id""".stripMargin

  // E6: per-aggregate sequence numbers (surge PersistentActor event
  // sequencing) — ranking window within the aggregate's partition.
  private def sequenceNumbers(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("seq_no", row_number().over(w).cast("long"))
      .drop("ts")
  }

  private val sequenceSql =
    """SELECT event_id, user_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq_no
      |FROM events""".stripMargin

  // E9: event envelope serde — serialize each event to a JSON envelope
  // (surge serialization module's read/write formatting) and parse it
  // back; proves lossless round-trip including the nested props field.
  private def outboxSerde(s: SparkSession, d: String): DataFrame = {
    val env = Tables.events(s, d).select(
      to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))).as("env"))
    env
      .select(from_json(col("env"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, k LONG")).as("e"))
      .select("e.*")
  }

  private val outboxSql =
    """SELECT event_id, user_id, event_type, value,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin

  // E9b `es_outbox_versioned`: envelope format EVOLUTION read in one
  // scan — the serialization module's whole point is pluggable
  // read/write formatting so old and new envelope versions coexist on
  // one topic (`/root/reference/modules/serialization/src/main/scala/surge/serialization/`:
  // `SurgeEventReadFormatting.readEvent` dispatches on the stored
  // format). Here the log carries v1 envelopes (double `value`) mixed
  // with v2 envelopes (integer `value_cents` + a new `k` field); ONE
  // reader parses each row against both schemas (shared fields resolve
  // under either; version-specific fields null out) and normalizes on
  // the version tag — no second scan, no reprocessing the old rows.
  private def outboxVersioned(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val ev = Tables.events(s, d)
    // the mixed-version topic: even event_ids were written by a v1
    // producer, odd by a v2 producer
    val env = ev.select(
      when(pmod(col("event_id"), lit(2L)) === 0,
        to_json(struct(lit(1).as("version"), col("event_id"), col("user_id"),
          col("event_type"), col("value"))))
        .otherwise(
          to_json(struct(lit(2).as("version"), col("event_id"), col("user_id"),
            col("event_type"), cents(col("value")).as("value_cents"),
            get_json_object(col("props"), "$.k").cast("long").as("k")))).as("env"))
    val v1s = StructType.fromDDL(
      "version INT, event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
    val v2s = StructType.fromDDL(
      "version INT, event_id LONG, user_id LONG, event_type STRING, value_cents LONG, k LONG")
    env
      .withColumn("p1", from_json(col("env"), v1s))
      .withColumn("p2", from_json(col("env"), v2s))
      .select(
        col("p1.event_id").as("event_id"),
        col("p1.user_id").as("user_id"),
        col("p1.event_type").as("event_type"),
        when(col("p1.version") === 1, cents(col("p1.value")))
          .otherwise(col("p2.value_cents")).as("value_c"),
        when(col("p1.version") === 2, col("p2.k")).as("k"))
  }

  private val outboxVersionedSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value*100,0) AS BIGINT) AS value_c,
      |  CASE WHEN event_id % 2 = 1
      |       THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
      |FROM events""".stripMargin

  // E31 `es_outbox_routed`: MULTI-TOPIC event routing — surge's
  // SurgeContext.persistToTopic(s)
  // (command-engine/core/.../AggregateProcessingModel.scala:28-29)
  // lets one command fan its events out to several topics; E9's outbox
  // serializes one stream. Routing here: every event rides the journal
  // topic; purchases/signups also → billing; errors also → alerts.
  // The envelope stream is physically written partitionBy(topic) (the
  // C5 write shape — one file tree per topic, the offline image of N
  // Kafka topics), read BACK from that layout, and summarized as
  // per-topic manifests (count, id bounds, an order-insensitive 60-bit
  // xor envelope hash) — the oracle checks the routed WRITE, not just
  // the routing expression. Envelopes are integer-only concat strings
  // so the hash is engine-neutral; the explode is ≤ 2 rows/event and
  // the only shuffle is the final per-topic hash-agg.
  private def outboxRouted(s: SparkSession, d: String): DataFrame = {
    val env = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_c"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .select(col("event_id"),
        concat_ws("|", col("event_id"), col("user_id"), col("event_type"),
          col("value_c"), coalesce(col("k"), lit(-1L))).as("env"),
        explode(array(
          lit("journal"),
          when(col("event_type").isin("purchase", "signup"), lit("billing")),
          when(col("event_type") === "error", lit("alerts")))).as("topic"))
      .filter(col("topic").isNotNull)
    val dir = s"${Tables.workDir(s)}/outbox_routed"
    env.write.mode("overwrite").partitionBy("topic").parquet(dir)
    Tables.read(s, dir)
      .groupBy("topic")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"),
        expr("bit_xor(cast(conv(substring(md5(env), 1, 15), 16, 10) as bigint))")
          .as("env_xor"))
  }

  private val outboxRoutedSql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(round(value*100,0) AS BIGINT) AS value_c,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |env AS (
      |  SELECT event_id,
      |    event_id || '|' || user_id || '|' || event_type || '|'
      |      || value_c || '|' || coalesce(k, -1) AS env,
      |    unnest(['journal',
      |      CASE WHEN event_type IN ('purchase', 'signup') THEN 'billing' END,
      |      CASE WHEN event_type = 'error' THEN 'alerts' END]) AS topic
      |  FROM e)
      |SELECT topic, count(*) AS n_events,
      |  min(event_id) AS first_id, max(event_id) AS last_id,
      |  bit_xor(CAST(list_sum(list_transform(range(1, 16), i ->
      |    (strpos('0123456789abcdef', substr(md5(env), CAST(i AS INT), 1)) - 1)
      |      * CAST(pow(16.0, 15 - i) AS BIGINT))) AS BIGINT)) AS env_xor
      |FROM env WHERE topic IS NOT NULL GROUP BY 1""".stripMargin

  // A4: skew-safe fold — identical semantics to E2, but aggregated in
  // two phases: first on (user_id, salt) — spreading a hot aggregate
  // key over 16 partitions — then merged on user_id. At 100 TB a
  // single celebrity key can stall the E2 shuffle; this is the
  // standard mitigation, and its oracle is E2's, proving the salted
  // path bit-exact. (Spark's partial aggregation already combines
  // map-side; explicit salting additionally splits the REDUCE side.)
  private def stateFoldSalted(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("user_id", "salt")
      .agg(
        sum(signedCents).as("p_bal"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p_pur"),
        count(lit(1)).as("p_n"),
        max(col("ts")).as("p_mts"))
      .groupBy("user_id")
      .agg(
        sum(col("p_bal")).as("balance_c"),
        sum(col("p_pur")).as("n_purchases"),
        sum(col("p_n")).as("n_events"),
        max(col("p_mts")).as("mts"))
      .select(col("user_id"), col("balance_c"), col("n_purchases"), col("n_events"),
        epochS(col("mts")).as("last_ts_s"))

  // E12 `es_state_lookup`: the queryable state store — get ONE
  // aggregate's state by id, surge's whole read side:
  // `modules/common/src/main/scala/surge/kafka/streams/SurgeAggregateStore.scala:31`
  // (`getAggregateBytes(aggregateId)`) /
  // `modules/command-engine/scaladsl/src/main/scala/surge/scaladsl/command/AggregateRef.scala:16`
  // (`getState`). The KTable snapshot is persisted PARTITIONED BY a
  // key-derived shard — surge's `hash(aggregateId) % partitions`
  // routing as a storage layout — so a point read prunes to one shard
  // directory (1/16 of files opened; at 100 TB, one bucket of a
  // bucketed snapshot) and pushes the key filter into that scan.
  private val lookupKey = 7L // present at every scale factor (ids are 0..N)
  private val nShards = 16

  private def stateLookup(s: SparkSession, d: String): DataFrame = {
    val snapDir = s"${Tables.workDir(s)}/ktable_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
    latestState(s, d)
      .withColumn("shard", pmod(col("user_id"), lit(nShards)))
      .write.mode("overwrite").partitionBy("shard").parquet(snapDir)
    Tables.read(s, snapDir)
      .filter(col("shard") === lit(lookupKey % nShards) &&
        col("user_id") === lit(lookupKey))
      .select("user_id", "last_ts_s", "last_type", "last_value", "n_events")
  }

  private val stateLookupSql =
    s"""SELECT user_id, last_ts_s, last_type, last_value, n_events
       |FROM ($latestStateSql) WHERE user_id = $lookupKey""".stripMargin

  // E13 `es_incremental`: snapshot + delta fold — the recovery path.
  // Surge never replays from offset zero: it restores the persisted
  // KTable snapshot and applies only events past the restore point
  // (`modules/command-engine/core/src/main/scala/surge/internal/persistence/KTablePersistenceSupport.scala`,
  // `KTableInitializationSupport.scala`). Because the fold state is a
  // commutative monoid (sums/counts/max over exact integers), merge =
  // union + one more hash-agg; the oracle is E2's FULL fold, proving
  // the incremental path bit-exact — same trick as the salted fold A4.
  private def incrementalFold(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-20 00:00:00").cast("timestamp")
    val snapDir = s"${Tables.workDir(s)}/snapfold_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
    def partialFold(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(
          sum(signedCents).as("balance_c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          count(lit(1)).as("n_events"),
          epochS(max(col("ts"))).as("last_ts_s"))
    // snapshot(T): persisted once at checkpoint time…
    partialFold(Tables.events(s, d).filter(col("ts") < cut))
      .write.mode("overwrite").parquet(snapDir)
    // …recovery folds ONLY the delta and merges (monoid append)
    val delta = partialFold(Tables.events(s, d).filter(col("ts") >= cut))
    Tables.read(s, snapDir).union(delta)
      .groupBy("user_id")
      .agg(
        sum(col("balance_c")).as("balance_c"),
        sum(col("n_purchases")).as("n_purchases"),
        sum(col("n_events")).as("n_events"),
        max(col("last_ts_s")).as("last_ts_s"))
  }

  // E14 `es_shard_routing`: partition-assignment accounting — surge
  // routes every aggregate to `hash(aggregateId) % partitions`
  // (`modules/common/src/main/scala/surge/kafka/KafkaPartitioner.scala`,
  // `PartitionAssignments.scala`, `KafkaPartitionShardRouterActor.scala`)
  // and tracks per-partition load for rebalance decisions. The
  // read-side view of that bookkeeping: per-shard occupancy (how many
  // aggregates, how many events, how much value), the table an
  // operator reads to spot hot shards. One hash-agg.
  private def shardRouting(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(pmod(col("user_id"), lit(nShards)).as("shard"))
      .agg(
        countDistinct(col("user_id")).as("n_aggregates"),
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_c"))

  private val shardRoutingSql =
    s"""SELECT user_id % $nShards AS shard,
       |  count(DISTINCT user_id) AS n_aggregates,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS sum_value_c
       |FROM events GROUP BY 1""".stripMargin

  // E22 `es_reshard`: the scale-out migration plan — when the shard
  // count doubles (16 → 32 here), which aggregates move where and how
  // much log has to be replayed to rebuild their state on the new
  // owner. Surge computes exactly this view on a rebalance
  // (`KafkaConsumerStateTrackingActor` / `PartitionAssignments` track
  // per-partition assignment changes and the engine replays the moved
  // partitions' state). Mod-hash doubling splits each old shard into
  // exactly two new ones (uid%32 ∈ {uid%16, uid%16+16}), so the plan
  // is ≤ 2·nShards rows from ONE hash-agg over one scan — the
  // n_events column per moving row IS the replay cost of the move.
  private def reshard(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        pmod(col("user_id"), lit(nShards)).as("old_shard"),
        pmod(col("user_id"), lit(2L * nShards)).as("new_shard"))
      .agg(
        countDistinct(col("user_id")).as("n_aggregates"),
        count(lit(1)).as("n_events"))
      .withColumn("moves", col("old_shard") =!= col("new_shard"))

  private val reshardSql =
    s"""SELECT user_id % $nShards AS old_shard,
       |  user_id % ${2 * nShards} AS new_shard,
       |  count(DISTINCT user_id) AS n_aggregates,
       |  count(*) AS n_events,
       |  user_id % $nShards <> user_id % ${2 * nShards} AS moves
       |FROM events GROUP BY 1, 2""".stripMargin

  // E15 `es_latest_n`: the recent-events read — the last 5 events per
  // aggregate (the event-log tail a CQRS debugger/UI fetches next to
  // the state). Served by the custom sort-free TopKPerKey operator:
  // bounded 5-entry heaps per aggregate after one hash shuffle — at
  // 100 TB the window form would SORT every aggregate's full history
  // to keep 5 rows.
  private def latestN(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochS(col("ts")).as("ts_s"))
    graft.plans.TopK.topKPerKey(ev, 5, "user_id", "ts_s", "event_id")
      .select("user_id", "event_id", "event_type", "ts_s")
  }

  private val latestNSql =
    """SELECT user_id, event_id, event_type, ts_s FROM (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id) AS rn
      |  FROM events)
      |WHERE rn <= 5""".stripMargin

  // E11: running state after EVERY event — the audit-trail view of the
  // fold (state history, not just the latest snapshot). One shuffle on
  // the aggregate id, ordered frame sum within the partition.
  private def runningState(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("seq_no", row_number().over(w).cast("long"))
      .withColumn("bal_running",
        sum(signedCents).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("event_id", "user_id", "seq_no", "bal_running")
  }

  private val runningStateSql =
    s"""SELECT event_id, user_id,
       |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq_no,
       |  CAST(sum($signedCentsSql) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS bal_running
       |FROM events""".stripMargin

  /** Compacted view of an event-log slice: each key's latest record
    * (by ts, event_id), with tombstoned keys (latest = `error`) removed.
    * ONE decimal(38,0) `max` hash-agg — ordering, the surviving record's
    * event_id, AND the payload all decode from the single packed key
    * (no join-back, no sort). */
  /** Decode (user_id, pk) packed-argmax rows into the compacted view,
    * dropping tombstoned keys — shared by the batch op and the live
    * store's read path ([[graft.streaming.LiveStore]]). */
  private[graft] def decodeCompacted(df: DataFrame): DataFrame =
    df.withColumn("pay", Packed.payload(col("pk")))
      .withColumn("mu", Packed.micros(col("pk")))
      .select(
        col("user_id"),
        Packed.eventId(col("pk")).as("event_id"),
        expr("mu div 1000000").as("last_ts_s"),
        typeName(pmod(col("pay"), lit(10L))).as("last_type"),
        (expr("pay div 10").cast("double") / lit(100.0)).as("last_value"))
      .filter(col("last_type") =!= "error")

  private[graft] def compactedState(df: DataFrame): DataFrame =
    decodeCompacted(df.groupBy("user_id")
      .agg(max(Packed.latest(col("ts"), col("event_id"),
        cents(col("value")) * lit(10L) + typeCode)).as("pk")))

  private[graft] def compactedSql(pred: String) =
    s"""SELECT user_id, event_id, last_ts_s, last_type, last_value FROM (
       |  SELECT user_id, event_id, event_type AS last_type, value AS last_value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS last_ts_s,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events $pred)
       |WHERE rn = 1 AND last_type <> 'error'""".stripMargin

  // E18 `es_compaction`: log compaction WITH DELETE SEMANTICS — the
  // full compacted-topic contract surge's KTable sits on (a Kafka
  // compacted topic retains only each key's latest record, and a
  // tombstone record deletes the key outright; surge publishes
  // aggregate state to exactly such a topic —
  // `/root/reference/modules/common/src/main/scala/surge/kafka/streams/AggregateStateStoreKafkaStreams.scala`).
  // Here `error` events act as tombstones: per aggregate, keep ONLY the
  // latest record, and if that record is a tombstone the key vanishes
  // from the compacted view.
  private def compaction(s: SparkSession, d: String): DataFrame =
    compactedState(Tables.events(s, d))

  // E19 `es_changelog`: the CDC view between two compacted snapshots —
  // exactly what a KTable emits on its changelog topic (Kafka Streams
  // KTable semantics: every upsert/delete of the store is a changelog
  // record; surge's state store IS such a KTable —
  // `/root/reference/modules/common/src/main/scala/surge/kafka/streams/AggregateStateStoreKafkaStreams.scala`).
  // Diff of state-at-T1 vs state-now keyed on the aggregate id:
  // `insert` (key new since T1), `delete` (key tombstoned since T1),
  // `update` (latest record changed); unchanged keys emit nothing.
  // Plan: both sides come out of their hash-aggs already partitioned by
  // user_id, so the full-outer join reuses that partitioning (zero
  // extra exchange); the shuffled-hash hint keeps the join sort-free.
  private def changelog(s: SparkSession, d: String): DataFrame = {
    val t1 = lit("2024-01-15 00:00:00").cast("timestamp")
    val old = compactedState(Tables.events(s, d).filter(col("ts") < t1))
      .select(col("user_id"), col("event_id").as("old_event_id"),
        col("last_ts_s").as("old_ts_s"),
        col("last_type").as("old_type"), col("last_value").as("old_value"))
    val nw = compactedState(Tables.events(s, d))
      .select(col("user_id"), col("event_id").as("new_event_id"),
        col("last_ts_s").as("new_ts_s"),
        col("last_type").as("new_type"), col("last_value").as("new_value"))
    old.join(nw.hint("shuffle_hash"), Seq("user_id"), "full_outer")
      .withColumn("op",
        when(col("old_event_id").isNull, "insert")
          .when(col("new_event_id").isNull, "delete")
          .otherwise("update"))
      // update ⇔ the surviving record's IDENTITY changed (same-second
      // ties exist from sf0.1 up, so comparing the epoch second would
      // miss same-second upserts)
      .filter(col("old_event_id").isNull || col("new_event_id").isNull ||
        col("old_event_id") =!= col("new_event_id"))
      .select("user_id", "op", "old_event_id", "old_ts_s", "old_type", "old_value",
        "new_event_id", "new_ts_s", "new_type", "new_value")
  }

  private val changelogSql =
    s"""WITH oldc AS (${compactedSql("WHERE ts < TIMESTAMP '2024-01-15 00:00:00'")}),
       |newc AS (${compactedSql("")})
       |SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       |  CASE WHEN o.user_id IS NULL THEN 'insert'
       |       WHEN n.user_id IS NULL THEN 'delete'
       |       ELSE 'update' END AS op,
       |  o.event_id AS old_event_id, o.last_ts_s AS old_ts_s,
       |  o.last_type AS old_type, o.last_value AS old_value,
       |  n.event_id AS new_event_id, n.last_ts_s AS new_ts_s,
       |  n.last_type AS new_type, n.last_value AS new_value
       |FROM oldc o FULL JOIN newc n ON o.user_id = n.user_id
       |WHERE o.user_id IS NULL OR n.user_id IS NULL OR o.event_id <> n.event_id""".stripMargin

  // E20 `es_erasure`: right-to-be-forgotten on an event-sourced system —
  // purge every event of the requested aggregates from the retained log
  // (the log analog of publishing a tombstone per erased key and letting
  // compaction collect it; E18 is the store-side half). The request set
  // arrives as its own TINY table (an erasure queue is external input,
  // never derived by scanning the corpus), so the purge is ONE corpus
  // scan with a BROADCAST anti-join — the big side never shuffles and
  // the log is read exactly once.
  private def erasure(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.join(broadcast(erasureRequests(s, d)), Seq("user_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_c"))
  }

  // The erasure-request queue: materialized once per (session, dataset)
  // under the scratch root — the stand-in for the external requests
  // table a production system reads (here synthesized from the flagged
  // keys, since the test data ships no such side input).
  private def erasureRequests(s: SparkSession, d: String): DataFrame = {
    val path = s"${Tables.workDir(s)}/erasure_requests_" +
      Tables.datasetTag(d)
    Tables.buildOnce(path) {
      Tables.events(s, d).select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(37L)) === 3) // the flagged keys
        .coalesce(1)
    }
    Tables.read(s, path)
  }

  private val erasureSql =
    """SELECT event_id, user_id, event_type,
      |  CAST(round(value*100,0) AS BIGINT) AS value_c
      |FROM events
      |WHERE user_id NOT IN (
      |  SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 3)""".stripMargin

  // E23 `es_lateness`: the out-of-order-delivery report — per
  // aggregate, how many events arrived (in log-offset order: event_id
  // is the Kafka offset analog) with an event time BEHIND the
  // aggregate's high-water mark, and by how much at worst. This is THE
  // input to every watermark decision downstream (stream_dedup's 1 h,
  // the W5 window watermark, the live store's out-of-order tombstone
  // rule): you size a watermark from measured lateness, not folklore.
  // Plan: one per-user running-max window (the partition key is the
  // single shuffle's key) feeding one hash-agg; exact µs integers.
  private def lateness(s: SparkSession, d: String): DataFrame = {
    val hwm = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), Tables.microsOf(col("ts")).as("us"))
      .withColumn("hwm_us", max(col("us")).over(hwm))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("us") < col("hwm_us"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("us") < col("hwm_us"), col("hwm_us") - col("us"))
          .otherwise(0L)).as("max_late_us"))
  }

  private val latenessSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_us
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN us < hwm_us THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(max(CASE WHEN us < hwm_us THEN hwm_us - us ELSE 0 END) AS BIGINT) AS max_late_us
      |FROM e GROUP BY user_id""".stripMargin

  // E24 `es_watermark_sweep`: the watermark SIZING decision, made from
  // measured data instead of folklore. Spark's watermark is GLOBAL —
  // eviction trails the maximum event time seen so far in ARRIVAL
  // order — so the number that matters is each event's lateness behind
  // the global arrival-order high-water mark (E23's per-aggregate view
  // answers a different question: per-key reorder depth). For a ladder
  // of candidate watermarks this op reports exactly how many events
  // each setting would drop — the table you read before picking
  // stream_dedup's 1 h.
  //
  // The global running max is the scale trap: `max() OVER (ORDER BY
  // event_id)` is a single-partition window. Here it is the P3
  // exclusive-scan shape with MAX as the monoid: range-bucket the log
  // by offset, per-bucket max (hash-agg), prefix-max across the tiny
  // bucket table (window over |buckets| rows), within-bucket running
  // max (window partitioned BY bucket) — every corpus-side stage is
  // keyed, nothing global. One pass, one conditional hash-agg, an
  // |thresholds|-row unpivot.
  private val wmSweepS: Seq[Long] = Seq(60L, 300L, 900L, 3600L, 21600L)
  private val wmRange = 4096L // log offsets per scan bucket

  private def watermarkSweep(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), Tables.microsOf(col("ts")).as("us"),
        expr(s"event_id div $wmRange").as("rb"))
    val bmax = ev.groupBy("rb").agg(max(col("us")).as("bm"))
      .withColumn("prev_bm",
        max(col("bm")).over(Window.orderBy("rb")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("rb", "prev_bm")
    val wIn = Window.partitionBy("rb").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the bucket-offset table is |log|/wmRange rows — broadcast it so
    // the log side never shuffles for the scan
    val late = ev.join(broadcast(bmax), Seq("rb"))
      .withColumn("hwm", greatest(
        coalesce(max(col("us")).over(wIn), lit(Long.MinValue)),
        coalesce(col("prev_bm"), lit(Long.MinValue))))
      .select(col("us"),
        when(col("hwm") > col("us"), col("hwm") - col("us")).otherwise(0L)
          .as("late_us"))
    val dropSums = wmSweepS.map(t =>
      sum(when(col("late_us") > t * 1000000L, 1L).otherwise(0L)).as(s"d_$t"))
    val agg = late.agg(count(lit(1)).as("n_events"), dropSums: _*)
    agg.select(col("n_events"), explode(array(wmSweepS.map(t =>
        struct(lit(t).as("wm_s"), col(s"d_$t").as("n_dropped"))): _*)).as("e"))
      .select(col("e.wm_s").as("wm_s"), col("e.n_dropped").as("n_dropped"),
        col("n_events"),
        expr("(1000000 * e.n_dropped) div n_events").as("drop_e6"))
  }

  private val watermarkSweepSql =
    s"""WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
       |h AS (
       |  SELECT us, max(us) OVER (ORDER BY event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
       |  FROM e),
       |l AS (
       |  SELECT CASE WHEN hwm IS NOT NULL AND hwm > us THEN hwm - us
       |         ELSE 0 END AS late_us
       |  FROM h),
       |t AS (SELECT unnest([${wmSweepS.mkString(", ")}]) AS wm_s)
       |SELECT CAST(t.wm_s AS BIGINT) AS wm_s,
       |  CAST(sum(CASE WHEN l.late_us > CAST(t.wm_s AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  count(*) AS n_events,
       |  CAST((1000000 * sum(CASE WHEN l.late_us > CAST(t.wm_s AS BIGINT) * 1000000 THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS drop_e6
       |FROM l CROSS JOIN t GROUP BY 1""".stripMargin

  // E25 `es_offset_audit`: the log-integrity audit a consumer runs
  // before trusting its replay — per 1024-offset range: record count,
  // missing offsets (gaps mean lost events ⇒ a fold from this log is
  // wrong), duplicated offsets (redelivery that slipped past dedup),
  // and the range's actual id bounds. The reference trusts Kafka's
  // offset contract (KafkaConsumerStateTrackingActor tracks exactly
  // these watermarks); an offline log must CHECK it. Expected bounds
  // come from the BUCKET INDEX (bucket·1024 … bucket·1024+1023,
  // clamped to the global id range), not each bucket's observed
  // min/max — so boundary losses are counted and entirely-missing
  // buckets surface as n=0 rows (r7 advisor item). One hash-agg keyed
  // by the offset range — count/min/max/distinct are all
  // partial-aggregable, so the corpus-side work is map-side and the
  // shuffle carries |log|/1024 rows; the grid fill runs on that tiny
  // bucket table in the same pass (each observed bucket explodes into
  // itself plus the absent buckets immediately before it — no second
  // corpus scan, no union).
  /** The audit core over any frame with an `event_id` column —
    * separated so specs can drive it with synthetic logs carrying known
    * gaps, duplicates, and entirely-missing buckets (the generated log
    * is dense). */
  private[graft] def auditOffsets(log: DataFrame): DataFrame = {
    val wg = Window.partitionBy()
    val wl = Window.orderBy("ob")
    val b = log
      .groupBy(expr("event_id div 1024").as("ob"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("nd"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
      .withColumn("gmin", min(col("first_id")).over(wg))
      .withColumn("gmax", max(col("last_id")).over(wg))
      .withColumn("prev_b", lag(col("ob"), 1).over(wl))
    val hit = col("bucket") === col("ob")
    b.select(col("*"),
        explode(expr("sequence(coalesce(prev_b, ob - 1) + 1, ob)")).as("bucket"))
      .select(col("bucket"),
        when(hit, col("n")).otherwise(0L).as("n"),
        (least(col("bucket") * 1024L + 1023L, col("gmax"))
          - greatest(col("bucket") * 1024L, col("gmin")) + 1L
          - when(hit, col("nd")).otherwise(0L)).as("n_missing"),
        when(hit, col("n") - col("nd")).otherwise(0L).as("n_dups"),
        when(hit, col("first_id")).as("first_id"),
        when(hit, col("last_id")).as("last_id"))
  }

  private def offsetAudit(s: SparkSession, d: String): DataFrame =
    auditOffsets(Tables.events(s, d))

  private val offsetAuditSql =
    """WITH g AS (
      |  SELECT event_id // 1024 AS ob, count(*) AS n,
      |    count(DISTINCT event_id) AS nd,
      |    min(event_id) AS first_id, max(event_id) AS last_id
      |  FROM events GROUP BY 1),
      |b AS (SELECT min(first_id) AS gmin, max(last_id) AS gmax FROM g),
      |grid AS (
      |  SELECT unnest(range(gmin // 1024, gmax // 1024 + 1)) AS bucket
      |  FROM b)
      |SELECT grid.bucket,
      |  CAST(coalesce(g.n, 0) AS BIGINT) AS n,
      |  CAST(least(grid.bucket * 1024 + 1023, (SELECT gmax FROM b))
      |    - greatest(grid.bucket * 1024, (SELECT gmin FROM b)) + 1
      |    - coalesce(g.nd, 0) AS BIGINT) AS n_missing,
      |  CAST(coalesce(g.n - g.nd, 0) AS BIGINT) AS n_dups,
      |  g.first_id, g.last_id
      |FROM grid LEFT JOIN g ON g.ob = grid.bucket""".stripMargin

  // E26 `es_audit_chain`: tamper-evident hash chain per aggregate —
  // c₀ = md5(seed:id), cᵢ = md5(cᵢ₋₁:event_id), head = c_n. An
  // event-sourced log is an AUDIT record; the chain head is the
  // commitment a compliance check re-derives to prove no event was
  // inserted, dropped, or reordered since the head was notarized
  // (surge's journal plays this role; the chain makes it checkable
  // offline). Inherently sequential per aggregate — same per-key walk
  // contract as A1/A2/W15 (one shuffle on the aggregate id, per-key
  // memory bounded by that aggregate's own history); the oracle
  // replays the identical chain as a recursive CTE, so the head is
  // hash-checked byte-for-byte.
  private def auditChain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), Tables.microsOf(col("ts")).as("us"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid: Long, it: Iterator[(Long, Long, Long)]) =>
        def md5Hex(x: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val evs = it.toArray.sortBy(e => (e._2, e._3))
        var c = md5Hex(s"seed:$uid")
        evs.foreach { case (_, _, eid) => c = md5Hex(s"$c:$eid") }
        (uid, evs.length.toLong, c)
      }
      .toDF("user_id", "n_events", "chain_head")
  }

  private[graft] val auditChainSql =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |chain AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS rn,
      |    md5('seed:' || CAST(user_id AS VARCHAR)) AS c
      |  FROM (SELECT DISTINCT user_id FROM e)
      |  UNION ALL
      |  SELECT e.user_id, e.rn, md5(ch.c || ':' || CAST(e.event_id AS VARCHAR))
      |  FROM chain ch JOIN e ON e.user_id = ch.user_id AND e.rn = ch.rn + 1),
      |m AS (SELECT user_id, max(rn) AS n FROM chain GROUP BY 1)
      |SELECT ch.user_id, CAST(m.n AS BIGINT) AS n_events, ch.c AS chain_head
      |FROM chain ch JOIN m ON ch.user_id = m.user_id AND ch.rn = m.n""".stripMargin

  // E27 `es_retention_policy`: the compliance/retention sweep — per
  // (event type, shard), how much of the retained log is PAST its
  // type's retention window and due for deletion (the day-granular
  // policy real retention runs on: ops events expire in days, business
  // records are kept ~forever; E20's erasure deletes by aggregate,
  // this expires by AGE). One corpus scan collapses to the bounded
  // (type, shard, day) grid — |types|·|shards|·|days| rows at any
  // corpus size — and everything after (the global head day via a
  // window over the tiny grid, the broadcast TTL attach, the expiry
  // verdict) runs on that grid, never the log.
  private val retentionTtlDays: Seq[(String, Long)] = Seq(
    "error" -> 7L, "view" -> 14L, "click" -> 14L,
    "signup" -> 90L, "purchase" -> 90L)

  private def retentionPolicy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ttl = broadcast(retentionTtlDays.toDF("event_type", "ttl_d"))
    val grid = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr(s"user_id % $nShards").as("shard"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("head_day",
        max(col("day")).over(Window.partitionBy()))
    grid.join(ttl, Seq("event_type"))
      .groupBy("event_type", "shard")
      .agg(sum(col("n")).as("n_events"),
        sum(when(col("day") < col("head_day") - col("ttl_d"), col("n"))
          .otherwise(0L)).as("n_expired"))
      .select(col("event_type"), col("shard"), col("n_events"), col("n_expired"),
        expr("(10000 * n_expired) div n_events").as("expired_e4"))
  }

  private val retentionPolicySql = {
    val ttlRows = retentionTtlDays
      .map { case (t, v) => s"('$t', $v)" }.mkString(", ")
    s"""WITH ttl(event_type, ttl_d) AS (VALUES $ttlRows),
       |g AS (
       |  SELECT event_type, user_id % $nShards AS shard,
       |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2, 3),
       |h AS (SELECT *, max(day) OVER () AS head_day FROM g)
       |SELECT h.event_type, h.shard,
       |  CAST(sum(n) AS BIGINT) AS n_events,
       |  CAST(sum(CASE WHEN day < head_day - ttl_d THEN n ELSE 0 END) AS BIGINT) AS n_expired,
       |  CAST((10000 * sum(CASE WHEN day < head_day - ttl_d THEN n ELSE 0 END))
       |    // sum(n) AS BIGINT) AS expired_e4
       |FROM h JOIN ttl ON ttl.event_type = h.event_type
       |GROUP BY 1, 2""".stripMargin
  }

  // E29 `es_command_dedup`: idempotency-key deduplication — the
  // at-least-once ingestion contract every command gateway enforces
  // (surge's commands carry client-supplied idempotency ids; redelivery
  // must not double-apply). Key = (aggregate, idempotency key from the
  // envelope's JSON props); the FIRST arrival by (ts, event_id) wins,
  // later attempts are duplicates. ONE packed-decimal argmin hash-agg
  // per key — the winner's event_id rides the packed key's own offset
  // digits (no payload field needed, no join-back), attempts counted
  // in the same agg. One shuffle, no sort, no window.
  private def commandDedup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("idem_key"),
        col("ts"), col("event_id"))
      .groupBy("user_id", "idem_key")
      .agg(count(lit(1)).as("n_attempts"),
        min(Packed.latest(col("ts"), col("event_id"), lit(0L))).as("pk"))
      .select(col("user_id"), col("idem_key"), col("n_attempts"),
        Packed.eventId(col("pk")).as("accepted_event_id"),
        (col("n_attempts") - 1).as("n_duplicates"))

  private[graft] val commandDedupSql =
    """WITH c AS (
      |  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS idem_key,
      |    ts, event_id
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, idem_key
      |    ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM c),
      |a AS (SELECT user_id, idem_key, count(*) AS n_attempts FROM c GROUP BY 1, 2)
      |SELECT a.user_id, a.idem_key, a.n_attempts,
      |  r.event_id AS accepted_event_id,
      |  CAST(a.n_attempts - 1 AS BIGINT) AS n_duplicates
      |FROM a JOIN r ON r.user_id = a.user_id
      |  AND r.idem_key IS NOT DISTINCT FROM a.idem_key AND r.rn = 1""".stripMargin

  override def ops: Seq[Op] = Seq(
    Op("es_command_dedup", commandDedup, Some(commandDedupSql)),
    Op("es_retention_policy", retentionPolicy, Some(retentionPolicySql)),
    Op("es_audit_chain", auditChain, Some(auditChainSql)),
    Op("es_offset_audit", offsetAudit, Some(offsetAuditSql)),
    Op("es_watermark_sweep", watermarkSweep, Some(watermarkSweepSql)),
    Op("es_lateness", lateness, Some(latenessSql)),
    Op("es_reshard", reshard, Some(reshardSql)),
    Op("es_running_state", runningState, Some(runningStateSql)),
    Op("es_fold_salted", stateFoldSalted, Some(foldSql(""))),
    Op("es_latest_state", latestState, Some(latestStateSql)),
    Op("es_state_fold", stateFold, Some(foldSql(""))),
    Op("es_replay_asof", replayAsof,
      Some(foldSql("WHERE ts < TIMESTAMP '2024-01-15 00:00:00'"))),
    Op("es_command_apply", commandApply, Some(commandApplySql)),
    Op("es_projection", projection, Some(projectionSql)),
    Op("es_sequence", sequenceNumbers, Some(sequenceSql)),
    Op("es_outbox", outboxSerde, Some(outboxSql)),
    Op("es_outbox_versioned", outboxVersioned, Some(outboxVersionedSql)),
    Op("es_outbox_routed", outboxRouted, Some(outboxRoutedSql)),
    Op("es_state_lookup", stateLookup, Some(stateLookupSql)),
    Op("es_incremental", incrementalFold, Some(foldSql(""))),
    Op("es_shard_routing", shardRouting, Some(shardRoutingSql)),
    Op("es_latest_n", latestN, Some(latestNSql)),
    Op("es_compaction", compaction, Some(compactedSql(""))),
    Op("es_changelog", changelog, Some(changelogSql)),
    Op("es_erasure", erasure, Some(erasureSql)))
}
