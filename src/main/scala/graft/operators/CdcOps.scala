package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** CDC semantics re-expressed as batch-checkable queries over the `events`
  * table (reference: `/root/reference/python/cdc_processor.py`). The events
  * stream stands in for the Debezium change feed: `event_type` maps to the
  * CDC verb (`signup`→c, `error`→d tombstone, everything else→u), `props` is
  * the JSON payload, `ts` the change timestamp, `user_id` the row key.
  *
  * Every query here is the batch-expressible form of a streaming operator
  * (SURVEY §7.1 M2) so DuckDB can referee it; `graft.streaming.StreamOps`
  * binds the same logic to Structured Streaming.
  *
  * Scale posture: all operators are key-partitioned aggregations/windows over
  * the event key — shuffle on user_id/event_type only, no driver-side state,
  * no collect. The upsert-latest window is the classic CDC compaction: one
  * shuffle on the key, per-key top-1 (no global sort).
  */
object CdcOps {

  /** Daily BOUNCE RATE — sessions that never got a second event, the
    * engagement-quality headline of every product-analytics dashboard:
    * per session-start day, total sessions, single-event sessions, and
    * the bounce share in mille. Rides the one shared
    * [[withSessionSeq]] gap-island assignment ([[eventSessions]]'
    * core), re-aggregated to day grain — integers end to end.
    *
    * Scale: the session aggregate is (user, session) grain
    * partial+final; the day roll-up re-aggregates that frame. */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    val sessions = withSessionSeq(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts")))
      .groupBy("user_id", "session_seq")
      .agg(min(col("ts_ms")).as("start_ms"),
        count(lit(1)).as("n_events"))
    sessions
      .withColumn("day",
        to_date(timestamp_millis(col("start_ms"))))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .as("n_bounces"))
      .withColumn("bounce_mille",
        expr("(n_bounces * 1000) div n_sessions"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[bounceRate]] — the shared gap-island session
    * CTE chain re-aggregated to day grain. */
  private[graft] def bounceRateOracleSql: String =
    s"""WITH o AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
       |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts), event_id) AS prev_ms
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN prev_ms IS NULL
       |      OR ts_ms - prev_ms > $SessionGapMs THEN 1 ELSE 0
       |    END AS new_sess
       |  FROM o),
       |s AS (
       |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
       |      ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS session_seq
       |  FROM f),
       |sess AS (
       |  SELECT user_id, session_seq,
       |    CAST(min(ts_ms) AS BIGINT) AS start_ms,
       |    CAST(count(*) AS BIGINT) AS n_events
       |  FROM s GROUP BY 1, 2)
       |SELECT CAST(epoch_ms(start_ms) AS DATE) AS day,
       |  CAST(count(*) AS BIGINT) AS n_sessions,
       |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bounces,
       |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // CAST(count(*) AS BIGINT) AS bounce_mille
       |FROM sess
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Replay-selection modulus for [[replayDedup]]'s seeded duplicates. */
  val ReplayEveryNth = 17L

  /** At-least-once REPLAY reconciliation — the idempotency audit every
    * Kafka-consuming pipeline owes its sinks: a delivery layer that
    * redelivers on rebalance/retry hands downstream the same event id
    * twice, and an exactly-once materialization must collapse them.
    * The feed here is the event stream plus a SEEDED replay (every
    * [[ReplayEveryNth]]-th event redelivered — the
    * `fkOrphanAudit`-style fault-injection control, so the expected
    * figures are known by construction); dedup is id-grain
    * first-arrival-wins. Per event type: raw deliveries, unique
    * events, replayed count, replay mille — at-least-once overhead a
    * capacity plan charges for.
    *
    * Scale: the dedup is one id-grain partial+final aggregate (count
    * per id, never a window over the feed), then a type-grain
    * re-aggregation of the tiny (id, type) frame — the exactly-once
    * sibling of the streaming `upsertLatest` (which dedups by KEY to
    * latest; this dedups by DELIVERY to first). */
  def replayDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"))
    val feed = base.unionByName(
      base.filter(col("event_id") % ReplayEveryNth === 0))
    feed
      .groupBy("event_id", "event_type")
      .agg(count(lit(1)).as("n_deliveries"))
      .groupBy("event_type")
      .agg(sum(col("n_deliveries")).as("n_raw"),
        count(lit(1)).as("n_unique"),
        sum(col("n_deliveries") - 1).as("n_replayed"))
      .withColumn("replay_mille", expr("(n_replayed * 1000) div n_raw"))
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[replayDedup]]. */
  private[graft] def replayDedupOracleSql: String =
    s"""WITH feed AS (
       |  SELECT event_id, event_type FROM events
       |  UNION ALL
       |  SELECT event_id, event_type FROM events
       |  WHERE event_id % $ReplayEveryNth = 0),
       |ids AS (
       |  SELECT event_id, event_type, count(*) AS n_deliveries
       |  FROM feed GROUP BY 1, 2)
       |SELECT event_type,
       |  CAST(sum(n_deliveries) AS BIGINT) AS n_raw,
       |  CAST(count(*) AS BIGINT) AS n_unique,
       |  CAST(sum(n_deliveries - 1) AS BIGINT) AS n_replayed,
       |  CAST(sum(n_deliveries - 1) AS BIGINT) * 1000
       |    // CAST(sum(n_deliveries) AS BIGINT) AS replay_mille
       |FROM ids GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Dead-letter classification audit — the triage report behind every
    * CDC dead-letter queue: envelopes that fail payload extraction,
    * CLASSIFIED (truncated/invalid JSON vs valid-but-missing-field vs
    * ok) so the fix lands on the producer, schema, or consumer
    * respectively. Faults are SEEDED deterministically (the
    * `fkOrphanAudit` control pattern — expected counts known by
    * construction): every 13th event's props is truncated mid-value
    * (invalid JSON), every 17th replaced by a valid envelope missing
    * the `k` field; 13∧17 collisions truncate (CASE order, mirrored).
    * Validity probes are pure JSON-path calls (`get_json_object '$'` /
    * `json_valid`) — no UDF, no exception control flow.
    *
    * Scale: one projection + one partial+final aggregate at
    * (type, class) grain. */
  def deadletterAudit(spark: SparkSession, dir: String): DataFrame = {
    val seeded = Tables.events(spark, dir)
      .withColumn("p",
        when(col("event_id") % 13 === 0,
          expr("substring(props, 1, length(props) - 2)"))
          .when(col("event_id") % 17 === 0, lit("""{"other": 1}"""))
          .otherwise(col("props")))
    seeded
      .withColumn("dl_class",
        when(get_json_object(col("p"), "$.k").isNotNull, "ok")
          .when(get_json_object(col("p"), "$").isNotNull, "missing_key")
          .otherwise("malformed"))
      .groupBy("event_type", "dl_class")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "dl_class")
  }

  /** DuckDB oracle for [[deadletterAudit]]. */
  private[graft] def deadletterAuditOracleSql: String =
    s"""WITH s AS (
       |  SELECT event_type,
       |    CASE WHEN event_id % 13 = 0
       |      THEN substring(props, 1, length(props) - 2)
       |      WHEN event_id % 17 = 0 THEN '{"other": 1}'
       |      ELSE props END AS p
       |  FROM events),
       |-- TRY_CAST, not json_valid + json_extract on the raw string:
       |-- DuckDB evaluates CASE branches vectorized-eagerly, so
       |-- json_extract on a string column THROWS on malformed rows even
       |-- in a branch json_valid guards (surfaced at sf0.1). The cast
       |-- maps invalid to NULL and NULL propagates through extraction.
       |j AS (SELECT event_type, TRY_CAST(p AS JSON) AS jp FROM s)
       |SELECT event_type,
       |  CASE WHEN jp IS NULL THEN 'malformed'
       |       WHEN json_extract(jp, '$$.k') IS NULL THEN 'missing_key'
       |       ELSE 'ok' END AS dl_class,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM j
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Bits per bitmap word in [[bitmapMembership]]: 63, not 64 — the
    * sign bit stays clear so `1 << k` never overflows and shift/
    * compare semantics agree across engines without two's-complement
    * reasoning. */
  val BitmapWordBits = 63L

  /** Packed-BITMAP set operations over event-type audiences — the
    * roaring-bitmap technique OLAP engines use for segment membership,
    * expressed relationally: each type's user set packs into
    * (word_idx → 63-bit word) rows via a `bit_or` aggregate, and pair
    * intersection/union counts are `bit_count` sums over a word-index
    * join (AND inner, OR full-outer) — set algebra at WORD grain, 63×
    * denser than id rows, EXACT (the precise counterpart of
    * [[kmvOverlap]]'s estimates; run both, reconcile). Jaccard is the
    * standing non-negative floor mille.
    *
    * Scale: bitmaps build in one partial+final `bit_or` aggregate
    * (words merge associatively — the mergeable-index property);
    * pair work joins on (word_idx) at word grain. Dense-id domains
    * pack well; a sparse 64-bit id domain would first densify through
    * a dictionary, exactly as roaring does with its container split. */
  def bitmapMembership(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val bm = du
      .select(col("event_type"),
        expr(s"user_id div $BitmapWordBits").as("w"),
        expr(s"shiftleft(1L, cast(user_id % $BitmapWordBits as int))")
          .as("bit"))
      .groupBy("event_type", "w")
      .agg(expr("bit_or(bit)").as("word"))
      .localCheckpoint()
    val types = bm.select("event_type").distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(broadcast(types.select(col("event_type").as("type_b"))))
      .filter(col("type_a") < col("type_b"))
    // Side-tagged union (the [[kmvOverlap]] shape) rather than a
    // full-outer word join: an outer join keyed through the pair frame
    // silently drops words present only on the right side.
    val comb = pairs
      .join(bm.select(col("event_type").as("type_a"), col("w"),
        col("word")), "type_a")
      .withColumn("side", lit("a"))
      .unionByName(pairs
        .join(bm.select(col("event_type").as("type_b"), col("w"),
          col("word")), "type_b")
        .withColumn("side", lit("b")))
    comb
      .groupBy("type_a", "type_b", "w")
      .agg(
        expr("bit_or(CASE WHEN side = 'a' THEN word ELSE 0L END)")
          .as("wa"),
        expr("bit_or(CASE WHEN side = 'b' THEN word ELSE 0L END)")
          .as("wb"))
      .groupBy("type_a", "type_b")
      .agg(
        sum(expr("bit_count(wa & wb)")).as("n_inter"),
        sum(expr("bit_count(wa | wb)")).as("n_union"),
        count(lit(1)).as("n_words"))
      .withColumn("jaccard_mille", expr("(n_inter * 1000) div n_union"))
      .orderBy("type_a", "type_b")
  }

  /** DuckDB oracle for [[bitmapMembership]]. */
  private[graft] def bitmapMembershipOracleSql: String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |bm AS (
       |  SELECT event_type, user_id // $BitmapWordBits AS w,
       |    CAST(bit_or(CAST(1 AS BIGINT)
       |      << CAST(user_id % $BitmapWordBits AS INT)) AS BIGINT)
       |      AS word
       |  FROM du GROUP BY 1, 2),
       |t AS (SELECT DISTINCT event_type FROM bm),
       |p AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b
       |  FROM t a JOIN t b ON a.event_type < b.event_type),
       |comb AS (
       |  SELECT p.type_a, p.type_b, bm.w, bm.word, 'a' AS side
       |  FROM p JOIN bm ON bm.event_type = p.type_a
       |  UNION ALL
       |  SELECT p.type_a, p.type_b, bm.w, bm.word, 'b' AS side
       |  FROM p JOIN bm ON bm.event_type = p.type_b),
       |words AS (
       |  SELECT type_a, type_b, w,
       |    CAST(bit_or(CASE WHEN side = 'a' THEN word ELSE 0 END)
       |      AS BIGINT) AS wa,
       |    CAST(bit_or(CASE WHEN side = 'b' THEN word ELSE 0 END)
       |      AS BIGINT) AS wb
       |  FROM comb GROUP BY 1, 2, 3)
       |SELECT type_a, type_b,
       |  CAST(sum(bit_count(wa & wb)) AS BIGINT) AS n_inter,
       |  CAST(sum(bit_count(wa | wb)) AS BIGINT) AS n_union,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(bit_count(wa & wb)) AS BIGINT) * 1000
       |    // CAST(sum(bit_count(wa | wb)) AS BIGINT) AS jaccard_mille
       |FROM words GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Inter-arrival-time HISTOGRAM per event type, log₂-bucketed — the
    * burstiness profile that sizes stream capacity (a Poisson feed
    * puts mass in one band; a bursty one is bimodal — tight bursts
    * plus long silences): per user-chain gap in ms, bucket =
    * `floor(log₂ gap)+1` computed EXACTLY as the binary-string length
    * (`conv(gap,10,2)` / `bin(gap)` — no float log anywhere), with
    * per-bucket count and observed [min, max] envelope.
    *
    * Scale: one user-keyed lag window (the [[arrivalDisorder]]
    * exchange), then a partial+final aggregate on the ≤ types×~40
    * bucket grain. */
  def interarrivalHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .withColumn("bucket",
        length(expr("conv(gap_ms, 10, 2)")).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"), min(col("gap_ms")).as("min_gap_ms"),
        max(col("gap_ms")).as("max_gap_ms"))
      .orderBy("event_type", "bucket")
  }

  /** DuckDB oracle for [[interarrivalHistogram]]. */
  private[graft] def interarrivalHistogramOracleSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(epoch_ms(ts) AS BIGINT)
       |      - lag(CAST(epoch_ms(ts) AS BIGINT)) OVER (
       |          PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
       |      AS gap_ms
       |  FROM events)
       |SELECT event_type,
       |  CAST(length(bin(gap_ms)) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
       |  CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
       |FROM e WHERE gap_ms IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Out-of-order-arrival audit — the metric that SIZES a streaming
    * pipeline's watermark: per user, how many events arrived (by
    * `event_id`, the feed's arrival sequence) with an EVENT TIME behind
    * the previous arrival, and the worst regression in ms. The observed
    * `max_regress_ms` distribution is exactly what
    * `withWatermark("ts", X)` must dominate — an allowance below the
    * p99 regression silently drops those events at every stateful
    * operator ([[graft.streaming.StreamOps]]' 10-minute choice is
    * auditable against this). All-integer (counts, mille, ms) ⇒
    * hash-exact.
    *
    * Scale shape: one user-partitioned lag window (the [[botScreen]]
    * shape) then a partial+final count aggregate — no corpus-sized
    * state. */
  def arrivalDisorder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("regress_ms",
        when(col("prev_ms").isNotNull && col("ts_ms") < col("prev_ms"),
          col("prev_ms") - col("ts_ms")).otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("regress_ms") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("regress_ms")).as("max_regress_ms"))
      .withColumn("late_mille", expr("(n_late * 1000) div n_events"))
      .select(col("user_id"), col("n_events"), col("n_late"),
        col("late_mille"), col("max_regress_ms"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[arrivalDisorder]]. */
  private[graft] def arrivalDisorderOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |    lag(CAST(epoch_ms(ts) AS BIGINT)) OVER (
       |      PARTITION BY user_id ORDER BY event_id) AS prev_ms
       |  FROM events),
       |r AS (
       |  SELECT user_id,
       |    CASE WHEN prev_ms IS NOT NULL AND ts_ms < prev_ms
       |      THEN prev_ms - ts_ms ELSE 0 END AS regress_ms
       |  FROM e),
       |agg AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(sum(CASE WHEN regress_ms > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_late,
       |    CAST(max(regress_ms) AS BIGINT) AS max_regress_ms
       |  FROM r GROUP BY 1)
       |SELECT user_id, n_events, n_late,
       |  (n_late * 1000) // n_events AS late_mille, max_regress_ms
       |FROM agg
       |ORDER BY user_id""".stripMargin

  /** S3: envelope parse + field extraction — the analog of unpacking the
    * Debezium `payload.op / source.table / ts_ms / after` envelope
    * (cdc_processor.py:23-47). JSON payload field `k` is extracted with a
    * codegen'd JSON path expression (no UDF), the op verb is derived, and
    * ts is exposed as epoch millis exactly like Debezium's `ts_ms`. */
  def envelopeParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        opCol.as("op"),
        unix_millis(col("ts")).as("ts_ms"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** The CDC verb for an event (cdc_processor.py:26: op ∈ c/u/d/r). */
  private def opCol =
    when(col("event_type") === "signup", "c")
      .when(col("event_type") === "error", "d")
      .otherwise("u")

  /** S3 (true nested envelope): synthesize real Debezium-shaped change
    * events — `{op, ts_ms, source:{db,table}, before, after}` with
    * nullable row structs (`before` null on create, `after` null on
    * delete; the synthesized prior row carries `value - 10`) — as JSON
    * strings, parse them back through the nested envelope StructType
    * (`StreamOps.debeziumSchema`, the reference's only nested type:
    * cdc_processor.py:26-34), and extract/diff the row images. The
    * to_json→from_json round trip is the point: it exercises exactly what
    * a consumer of a real Debezium topic does (`StreamOps.decodeDebezium`
    * is the streaming twin over Kafka frames).
    *
    * COST STORY (r14 audit order #7, measured at sf0.1): the round
    * trip itself is linear and parse-dominated — scan 0.2 s, +to_json
    * 0.5 s, +from_json 1.4 s — but the old POST-parse `orderBy` DOUBLED
    * the pipeline to ~3.0 s, because a range exchange first runs a
    * SAMPLING pass over its child, executing the whole synth+parse
    * twice. The presentation sort therefore moved to the 6-column
    * INPUT frame (sampling now touches only the scan): output
    * `event_id` IS the input `event_id` round-tripped, and the narrow
    * json projections preserve the range-shuffled, per-partition-sorted
    * order, so the emitted global order is identical (asserted
    * row-for-row at sf0.1) at 1.3 s — and at 100 TB the resample that
    * would have re-parsed the corpus touches only ids. */
  def envelopeNested(spark: SparkSession, dir: String): DataFrame = {
    val env = Tables.events(spark, dir)
      .orderBy("event_id")
      .select(to_json(struct(
        opCol.as("op"),
        unix_millis(col("ts")).as("ts_ms"),
        struct(lit("graft").as("db"), lit("events").as("table"))
          .as("source"),
        when(opCol =!= "c", struct(col("event_id"), col("user_id"),
          col("event_type"), (col("value") - 10).as("value"))).as("before"),
        when(opCol =!= "d", struct(col("event_id"), col("user_id"),
          col("event_type"), col("value"))).as("after")
      )).as("payload"))
    env
      .select(from_json(col("payload"),
        graft.streaming.StreamOps.debeziumSchema).as("p"))
      .select(
        coalesce(col("p.after.event_id"), col("p.before.event_id"))
          .as("event_id"),
        col("p.op").as("op"),
        col("p.ts_ms").as("ts_ms"),
        col("p.source.table").as("src_table"),
        col("p.after.user_id").as("after_user_id"),
        col("p.after.value").as("after_value"),
        col("p.before.value").as("before_value"),
        (col("p.after.value") - col("p.before.value")).as("value_delta"))
  }

  /** P4+P5: op filter + per-table whitelist — stream processor keeps only
    * creates (stream_processor.py:50), the airflow filters whitelist ops and
    * drop low-value rows (airflow_etl_utils.py:115-133). Here: keep update
    * verbs for the engagement types only, with the `total_amount >= 10`
    * analog on `value`. */
  def opFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase") &&
        col("value") >= 10.0)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")

  /** T5: upsert-latest-per-key with tombstones — the materialized
    * latest-row cache the CDC processor maintains per entity
    * (cdc_processor.py:77-190: `c`/`u` set the cache, `d` deletes).
    * Batch form: per-key top-1 by (ts, event_id) via row_number, then drop
    * keys whose latest verb is a delete. One shuffle on the key; at 100 TB
    * this is the standard CDC log-compaction plan. */
  def upsertLatest(spark: SparkSession, dir: String): DataFrame =
    upsertLatestOf(Tables.events(spark, dir))

  /** [[upsertLatest]] over an injectable event frame (any source with the
    * events schema — used by the property specs, and the natural API for
    * a caller compacting a frame that is not the testdata table). */
  def upsertLatestOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("op", opCol)
      .filter(col("op") =!= "d")
      .select(
        col("user_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"),
        unix_millis(col("ts")).as("last_ts_ms"))
      .orderBy("user_id")
  }

  /** Key shift mapping the event feed onto the customer keyspace for
    * [[mergeSnapshot]] — chosen so the feed straddles the base table's
    * key boundary: keys 1450..1499 hit existing rows (UPDATE/DELETE
    * branches), 1500..1599 are new (INSERT branch). */
  val MergeKeyShift = 1450

  /** Lakehouse-style MERGE: apply the CDC feed onto a BASE TABLE
    * snapshot — the `MERGE INTO base USING changes` statement every
    * Delta/Iceberg pipeline runs, built from its two primitive plans:
    * (1) log-compact the feed to latest-per-key ([[upsertLatest]]'s
    * window), (2) one hash FULL OUTER join against the base on the
    * merge key. WHEN MATCHED AND op='d' → row dropped; WHEN MATCHED →
    * updated value; WHEN NOT MATCHED AND op≠'d' → inserted; base rows
    * untouched by the feed pass through; a delete for an absent key is
    * a no-op (all five MERGE branches, each tagged in `src` so the
    * branch mix is hash-observable). At 100 TB this is exactly the
    * copy-on-write MERGE shape: compaction is one key shuffle over the
    * DELTA only, and the join re-writes base partitions it touches —
    * the base never re-aggregates. */
  def mergeSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey").as("entity_key"),
        col("c_acctbal").as("base_value"))
    val w = Window.partitionBy("entity_key")
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = Tables.events(spark, dir)
      .withColumn("entity_key",
        col("user_id") + lit(MergeKeyShift.toLong))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("entity_key"), opCol.as("op"), col("value"),
        unix_millis(col("ts")).as("ts_ms"))
    base.join(latest, Seq("entity_key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "d")
      .select(col("entity_key"),
        coalesce(col("value"), col("base_value")).as("acct_value"),
        when(col("op").isNull, "base")
          .when(col("base_value").isNull, "insert")
          .otherwise("update").as("src"),
        col("ts_ms").as("last_ts_ms"))
      .orderBy("entity_key")
  }

  /** DuckDB oracle for [[mergeSnapshot]] — same compaction window, same
    * FULL OUTER branch rules. */
  private[graft] def mergeSnapshotOracleSql: String =
    s"""WITH latest AS (
       |  SELECT entity_key, op, value, ts_ms FROM (
       |    SELECT user_id + $MergeKeyShift AS entity_key,
       |      CASE WHEN event_type = 'signup' THEN 'c'
       |           WHEN event_type = 'error' THEN 'd'
       |           ELSE 'u' END AS op,
       |      value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events)
       |  WHERE rn = 1),
       |m AS (
       |  SELECT COALESCE(l.entity_key, b.c_custkey) AS entity_key,
       |    b.c_acctbal AS base_value, l.op, l.value, l.ts_ms
       |  FROM (SELECT c_custkey, c_acctbal FROM customer) b
       |  FULL OUTER JOIN latest l ON b.c_custkey = l.entity_key)
       |SELECT entity_key,
       |  COALESCE(value, base_value) AS acct_value,
       |  CASE WHEN op IS NULL THEN 'base'
       |       WHEN base_value IS NULL THEN 'insert'
       |       ELSE 'update' END AS src,
       |  ts_ms AS last_ts_ms
       |FROM m
       |WHERE op IS NULL OR op <> 'd'
       |ORDER BY entity_key""".stripMargin

  /** S6+A10: per-(table,op)-style running counters — the Redis
    * `cdc:stats:{table}:{op}` INCR counters (cdc_processor.py:50-51) plus
    * the per-type revenue/user metrics (cdc_processor.py:124-131,203-205).
    * Partial+final hash aggregate; decimal value sum is order-independent. */
  def eventTypeCounters(spark: SparkSession, dir: String): DataFrame =
    eventTypeCountersOf(Tables.events(spark, dir))

  /** [[eventTypeCounters]] over an injectable event frame. */
  def eventTypeCountersOf(events: DataFrame): DataFrame =
    events
      .withColumn("op", opCol)
      .groupBy("event_type", "op")
      .agg(
        count(lit(1)).as("n_events"),
        BatchOps.moneySum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("distinct_users"))
      .orderBy("event_type")

  /** T6: per-key membership set — the `customer:{id}:orders` Redis set
    * (cdc_processor.py:117-121, SADD/SREM). collect_set + array_sort gives
    * the deterministic set; emitted as a joined string so the oracle
    * comparison is engine-neutral. The SREM/tombstone side
    * (cdc_processor.py:144-145 removes on delete): keys whose LATEST verb
    * is a delete are dropped entirely — same latest-wins trick as
    * `upsertLatest`, done inside the one aggregate via a max on
    * (ts, event_id, op) struct ordering (no second shuffle, no window). */
  def userEventSets(spark: SparkSession, dir: String): DataFrame =
    userEventSetsOf(Tables.events(spark, dir))

  /** [[userEventSets]] over an injectable event frame. */
  def userEventSetsOf(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("event_types"),
        count(lit(1)).as("n_events"),
        max(struct(col("ts"), col("event_id"), opCol.as("op")))
          .as("latest"))
      .filter(col("latest.op") =!= "d")
      .select("user_id", "event_types", "n_events")
      .orderBy("user_id")

  /** P6: table-dispatch routing — one stream demultiplexed into per-table
    * handler targets (cdc_processor.py:54-61). The handler predicates are
    * DISJOINT on event_type, so routing is a single-pass CASE projection
    * + filter — a filtered-branches union would scan the source once per
    * branch (Catalyst does not merge scans across a union), which at
    * 100 TB is N full fact reads for N handlers. Non-disjoint routing
    * would need the union form (a row can route to several targets);
    * this one doesn't. */
  /** event_type → routed CDC target (the P6 dispatch rules,
    * cdc_processor.py:177+) — the ONE copy shared by [[tableDispatch]],
    * [[cdcGapDetectionOf]], and the streaming auditor
    * (`StreamOps.offsetGapState`), so a new routing rule cannot
    * silently desynchronize the gap audit from the dispatch it audits. */
  val RoutingRules: Seq[(String, String)] = Seq(
    "signup" -> "customer_cache",
    "purchase" -> "order_cache",
    "click" -> "activity_cache",
    "view" -> "activity_cache")

  /** [[RoutingRules]] as a CASE column (null = unrouted). */
  private[graft] def routingTarget: Column =
    RoutingRules.tail.foldLeft(
      when(col("event_type") === RoutingRules.head._1,
        RoutingRules.head._2)) {
      case (acc, (et, target)) =>
        acc.when(col("event_type") === et, target)
    }

  def tableDispatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("target", routingTarget)
      .filter(col("target").isNotNull)
      .select("event_id", "user_id", "target", "value")
      .orderBy("event_id", "target")

  /** A12/T1 batch analog: tumbling 1-minute event-time windows with count,
    * exact sum, and the divide-by-zero-guarded average
    * (stream_processor.py:216-244). The streaming twin (with watermark)
    * lives in `graft.streaming.StreamOps.minuteMetrics`. */
  def minuteMetrics(spark: SparkSession, dir: String): DataFrame =
    minuteMetricsOf(Tables.events(spark, dir))

  /** [[minuteMetrics]] over an injectable event frame. */
  def minuteMetricsOf(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 minute"))
      .agg(
        count(lit(1)).as("n_events"),
        BatchOps.moneySum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("avg_value",
        when(col("n_events") > 0,
          col("total_value") / col("n_events").cast("double"))
          .otherwise(lit(0.0)))
      .select(col("window.start").as("minute_start"), col("n_events"),
        col("total_value"), col("avg_value"), col("n_users"))
      .orderBy("minute_start")

  /** Daily active users via the skew-safe distinct decomposition
    * ([[BatchOps.skewSafeDistinct]]): a plain
    * `groupBy(day).agg(countDistinct(user_id))` ships every (day, user)
    * row to the day's ONE reducer — and a day is exactly the kind of hot
    * key that serializes at 100 TB (every row of a daily partition lands
    * on one task). The decomposition shards the user space first
    * (disjoint slices → per-shard distincts sum exactly), then
    * re-aggregates per day, so the hot day's distinct work spreads over
    * 64 tasks. This registers the pattern against the DuckDB oracle —
    * the shard/re-aggregate must be EXACTLY count-distinct-equivalent,
    * not approximately. */
  def dailyDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    BatchOps.skewSafeDistinct(
      Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")),
      Seq("day"), "user_id", "n_users")
      .orderBy("day")

  /** Oracle anchor for the STREAMING daily-active-users: runs
    * [[graft.streaming.StreamOps.dailyActiveUsers]] — the exact code
    * the stream runs, window-struct dedup and all — over the batch
    * events table (`withWatermark` is a no-op on a batch frame, so the
    * plan is the same dedup + windowed count). The streaming twin's
    * semantics are thereby hash-checked against DuckDB, not just
    * spec-asserted: day buckets are the same epoch-aligned UTC windows,
    * dedup is per (user, day window), and the count is exact distinct.
    * The StreamOpsSpec fixture separately proves the stream emits these
    * same rows incrementally across micro-batches. */
  def dailyActiveUsersBatch(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.dailyActiveUsers(Tables.events(spark, dir))
      .orderBy("day_start")

  /** KMV sketch size (number of minimum hash values kept per group). */
  val KmvK = 64

  /** K-minimum-values distinct-count sketch — the DETERMINISTIC member
    * of the approximate-distinct family (HyperLogLog cannot be
    * cross-engine hash-checked: every engine ships a different sketch;
    * KMV is pure order statistics over an md5 both engines compute
    * bit-identically). Per event_type: hash each distinct user to a
    * 60-bit integer, keep the K smallest, and estimate
    * |distinct| ≈ (K−1) / (h_(K) / 2^60) — the classic KMV estimator
    * (Bar-Yossef et al. 2002): K−1 uniform points before the K-th
    * order statistic. Groups with fewer than K members degrade to the
    * exact count. Emits exact vs estimate vs relative error, so the
    * sketch's ~1/√K accuracy is itself oracle-checked.
    *
    * Scale shape: ONE distinct-compaction shuffle on (type, user), then
    * the per-group K-smallest runs through a rank window that compiles
    * to WindowGroupLimit — Spark pushes the rank cap into a PARTIAL
    * group-limit before the exchange, so each map task ships at most K
    * rows per group: exactly how a distributed sketch union works (merge
    * K-minima of K-minima). Hash duplicates are NOT collapsed before
    * ranking — a 60-bit collision would bias the estimate a hair but
    * both engines see the identical duplicate, so the check is unharmed
    * and the skipped second shuffle stays skipped. All arithmetic after
    * the longs: two IEEE divisions (exact-long→double is
    * round-to-nearest in both engines), no transcendentals. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val hashed = du.withColumn("h",
      expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15)," +
        " 16, 10) as bigint)"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val sketch = hashed
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KmvK)
      .groupBy("event_type")
      .agg(max(col("h")).as("kth_h"), count(lit(1)).as("k_seen"))
    val exact = du.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    exact.join(sketch, "event_type")
      .withColumn("kmv_est",
        when(col("k_seen") < KmvK, col("n_exact").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) /
            (col("kth_h").cast("double") /
              lit(1152921504606846976L).cast("double"))))
      .withColumn("rel_err",
        abs(col("kmv_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"))
      .select("event_type", "n_exact", "kmv_est", "rel_err")
      .orderBy("event_type")
  }

  /** KMV set-INTERSECTION estimate between event-type audiences — the
    * mergeable-sketch answer to "how much do these segments overlap"
    * when the sets are too big to intersect exactly: each type keeps
    * its [[KmvK]] minimum 60-bit hashes; a pair's union sketch is the
    * k smallest of the two sketches' union, the Jaccard estimate is
    * the share of those present in BOTH, and the intersection estimate
    * is Jaccard × the (k−1)/h_k union estimate (Beyer et al. 2007).
    * The exact intersection rides along for the standing rel-err
    * audit. Every arithmetic step is a single IEEE division/product of
    * exact integers ⇒ hash-deterministic.
    *
    * Scale: sketches are k rows per type (partial+final rank-capped,
    * the [[kmvDistinct]] shape); all pair work runs at sketch grain —
    * types² × k rows, corpus-size-independent — while the exact
    * control is the only corpus-sized join (drop it at true scale,
    * that being the sketch's whole point). */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val hashed = du.withColumn("h",
      expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15)," +
        " 16, 10) as bigint)"))
    val wT = Window.partitionBy("event_type").orderBy("h")
    val sk = hashed
      .withColumn("rk", row_number().over(wT))
      .filter(col("rk") <= KmvK)
      .select(col("event_type"), col("h"))
      .localCheckpoint()
    val types = sk.select("event_type").distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(broadcast(types.select(col("event_type").as("type_b"))))
      .filter(col("type_a") < col("type_b"))
    val comb = pairs
      .join(sk.select(col("event_type").as("type_a"), col("h")), "type_a")
      .withColumn("side", lit("a"))
      .unionByName(pairs
        .join(sk.select(col("event_type").as("type_b"), col("h")),
          "type_b")
        .withColumn("side", lit("b")))
      .groupBy("type_a", "type_b", "h")
      .agg(max(when(col("side") === "a", 1L).otherwise(0L)).as("in_a"),
        max(when(col("side") === "b", 1L).otherwise(0L)).as("in_b"))
    val wP = Window.partitionBy("type_a", "type_b").orderBy("h")
    val est = comb
      .withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= KmvK)
      .groupBy("type_a", "type_b")
      .agg(max(col("h")).as("hk"), count(lit(1)).as("k_union"),
        sum(col("in_a") * col("in_b")).as("inter_sketch"))
    val exact = Candidates.pairs(du.select(col("user_id"),
        col("event_type").as("type")), Seq("user_id"), "type")
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_inter_exact"))
    est.join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("n_inter_exact",
        coalesce(col("n_inter_exact"), lit(0L)))
      .withColumn("jaccard_est",
        col("inter_sketch").cast("double") / col("k_union").cast("double"))
      .withColumn("union_est",
        (lit((KmvK - 1).toDouble) /
          (col("hk").cast("double") /
            lit(1152921504606846976L).cast("double"))))
      .withColumn("inter_est", col("jaccard_est") * col("union_est"))
      .select(col("type_a"), col("type_b"), col("k_union"),
        col("inter_sketch"), col("n_inter_exact"), col("jaccard_est"),
        col("inter_est"))
      .orderBy("type_a", "type_b")
  }

  /** DuckDB oracle for [[kmvOverlap]] — same sketches, same union rank
    * cut, same estimator arithmetic. */
  private[graft] def kmvOverlapOracleSql: String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type,
       |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM du),
       |sk AS (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h, row_number() OVER (
       |      PARTITION BY event_type ORDER BY h) AS rk
       |    FROM h)
       |  WHERE rk <= $KmvK),
       |t AS (SELECT DISTINCT event_type FROM sk),
       |p AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b
       |  FROM t a JOIN t b ON a.event_type < b.event_type),
       |comb AS (
       |  SELECT type_a, type_b, h,
       |    max(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
       |    max(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
       |  FROM (
       |    SELECT p.type_a, p.type_b, sk.h, 'a' AS side
       |    FROM p JOIN sk ON sk.event_type = p.type_a
       |    UNION ALL
       |    SELECT p.type_a, p.type_b, sk.h, 'b' AS side
       |    FROM p JOIN sk ON sk.event_type = p.type_b)
       |  GROUP BY 1, 2, 3),
       |est AS (
       |  SELECT type_a, type_b, CAST(max(h) AS BIGINT) AS hk,
       |    CAST(count(*) AS BIGINT) AS k_union,
       |    CAST(sum(in_a * in_b) AS BIGINT) AS inter_sketch
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY type_a, type_b
       |      ORDER BY h) AS rk
       |    FROM comb)
       |  WHERE rk <= $KmvK
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    CAST(count(*) AS BIGINT) AS n_inter_exact
       |  FROM du a JOIN du b ON a.user_id = b.user_id
       |    AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT est.type_a, est.type_b, est.k_union, est.inter_sketch,
       |  CAST(coalesce(ex.n_inter_exact, 0) AS BIGINT) AS n_inter_exact,
       |  CAST(est.inter_sketch AS DOUBLE) / CAST(est.k_union AS DOUBLE)
       |    AS jaccard_est,
       |  (CAST(est.inter_sketch AS DOUBLE) / CAST(est.k_union AS DOUBLE))
       |    * (CAST(${KmvK - 1} AS DOUBLE) /
       |       (CAST(est.hk AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)))
       |    AS inter_est
       |FROM est LEFT JOIN ex ON est.type_a = ex.type_a
       |  AND est.type_b = ex.type_b
       |ORDER BY est.type_a, est.type_b""".stripMargin

  /** DuckDB oracle for [[kmvDistinct]] — same 60-bit hash (the
    * `'0x…'::BIGINT` twin of Spark's `conv`), same order statistic,
    * same two-division estimator. */
  private[graft] def kmvDistinctOracleSql: String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) AS h
       |  FROM du),
       |r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |  FROM h),
       |sk AS (
       |  SELECT event_type, max(h) AS kth_h, count(*) AS k_seen
       |  FROM r WHERE rk <= $KmvK GROUP BY event_type),
       |ex AS (
       |  SELECT event_type, count(*) AS n_exact FROM du
       |  GROUP BY event_type)
       |SELECT ex.event_type, n_exact,
       |  CASE WHEN k_seen < $KmvK THEN CAST(n_exact AS DOUBLE)
       |       ELSE CAST(${KmvK - 1} AS DOUBLE)
       |         / (CAST(kth_h AS DOUBLE)
       |            / CAST(1152921504606846976 AS DOUBLE)) END AS kmv_est,
       |  abs(CASE WHEN k_seen < $KmvK THEN CAST(n_exact AS DOUBLE)
       |       ELSE CAST(${KmvK - 1} AS DOUBLE)
       |         / (CAST(kth_h AS DOUBLE)
       |            / CAST(1152921504606846976 AS DOUBLE)) END
       |      - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
       |    AS rel_err
       |FROM ex JOIN sk USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** Audience overlap: how the ordering population and the
    * event-emitting population intersect — the three disjoint Venn
    * region sizes in one row, with set (not bag) semantics per side.
    *
    * Single-pass union + side-tag aggregate, NOT three INTERSECT/EXCEPT
    * branches: the set-op form scans and deduplicates each key set once
    * per region (orders twice, events three times in total) — at 100 TB
    * that is two scans of the fact table too many. Here each side is
    * scanned ONCE, tagged with a membership flag, and one groupBy(id)
    * max-aggregate (map-side partials dedupe before the shuffle)
    * produces per-key membership; a final scalar aggregate counts the
    * regions. The DuckDB oracle keeps the INTERSECT/EXCEPT formulation,
    * proving the one-pass decomposition set-op-equivalent (NULL keys
    * included: set ops match NULLs, and groupBy groups them the same
    * way). */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey").as("id"),
        lit(1).as("in_o"), lit(0).as("in_e"))
      .unionByName(Tables.events(spark, dir)
        .select(col("user_id").as("id"),
          lit(0).as("in_o"), lit(1).as("in_e")))
      .groupBy("id")
      .agg(max(col("in_o")).as("in_o"), max(col("in_e")).as("in_e"))
      .agg(
        count(when(col("in_o") === 1 && col("in_e") === 1, lit(1)))
          .as("n_both"),
        count(when(col("in_o") === 1 && col("in_e") === 0, lit(1)))
          .as("n_orders_only"),
        count(when(col("in_o") === 0 && col("in_e") === 1, lit(1)))
          .as("n_events_only"))

  /** DuckDB oracle for [[audienceOverlap]]. */
  private[graft] def audienceOverlapOracleSql: String =
    s"""SELECT
       |  (SELECT count(*) FROM (
       |     SELECT DISTINCT o_custkey FROM orders
       |     INTERSECT SELECT DISTINCT user_id FROM events)) AS n_both,
       |  (SELECT count(*) FROM (
       |     SELECT DISTINCT o_custkey FROM orders
       |     EXCEPT SELECT DISTINCT user_id FROM events)) AS n_orders_only,
       |  (SELECT count(*) FROM (
       |     SELECT DISTINCT user_id FROM events
       |     EXCEPT SELECT DISTINCT o_custkey FROM orders)) AS n_events_only""".stripMargin

  /** As-of join: each event enriched with the user's most recent order
    * AT OR BEFORE the event time — the point-in-time dimension lookup of
    * CDC enrichment (attach the latest version ≤ t, never a future one).
    *
    * Built as the UNION-MERGE as-of, not a pair join: both sides union
    * into one keyed timeline (orders kind 0, events kind 1 — an order at
    * the exact event instant counts as "at or before"), one hash
    * exchange on the user key, one per-user sort, and a
    * `last(..., ignoreNulls)` running carry pulls the latest order
    * struct forward onto every event row. Work is O((|orders|+|events|)
    * log) per user instead of the |orders|×|events| candidate pairs the
    * equi-join + top-1 shape (purchaseAttribution) generates — the
    * right as-of at 100 TB, where a hot user's history would explode a
    * pair join. Events with no prior order carry nulls (left
    * semantics). */
  def eventAsofOrder(spark: SparkSession, dir: String): DataFrame = {
    val ordType = "struct<o_orderkey:bigint,o_orderdate_ms:bigint," +
      "o_totalprice:double>"
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as("user_id"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("t_ms"),
      lit(0).as("kind"),
      lit(null).cast("bigint").as("event_id"),
      struct(col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("o_totalprice")).as("ord"))
    val e = Tables.events(spark, dir).select(
      col("user_id"),
      unix_millis(col("ts")).as("t_ms"),
      lit(1).as("kind"),
      col("event_id"),
      lit(null).cast(ordType).as("ord"))
    // Deterministic total order: ms time, then orders-before-events on
    // ties, then the side's own id (same-date orders resolve to the
    // highest orderkey — "latest version wins" must not depend on
    // partitioning in either engine).
    val w = Window.partitionBy("user_id")
      .orderBy(col("t_ms"), col("kind"),
        coalesce(col("ord.o_orderkey"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("last_ord", last(col("ord"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("t_ms").as("ts_ms"),
        col("last_ord.o_orderkey").as("asof_orderkey"),
        col("last_ord.o_orderdate_ms").as("asof_orderdate_ms"),
        col("last_ord.o_totalprice").as("asof_totalprice"))
      .orderBy("event_id")
  }

  /** Inactivity gap that closes a user session (shared with the oracle
    * and the streaming twin). */
  val SessionGapMs: Long = 2L * 3600 * 1000

  /** Attribution lookback: a purchase is credited to the user's latest
    * click at most this far before it (shared with the oracle and the
    * streaming twin). */
  val AttributionWindowMs: Long = 2L * 3600 * 1000

  /** Last-click attribution: join each purchase to the same user's
    * clicks within the lookback window and keep the latest one — the
    * interval/as-of join family the reference never had (SURVEY §2.3
    * "not present"), expressed Spark-first: an equi-join on the user
    * key (hash-partitioned, so the interval predicate evaluates only
    * within a user's co-located rows — never a cross product) followed
    * by a per-purchase top-1 window. Ties on click time break by
    * click_id, so the pick is deterministic in both engines. The
    * streaming twin is `StreamOps.attributionJoin` (watermarked
    * stream-stream interval join). */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_millis(col("ts")).as("ts_ms"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("value"), col("ts_ms").as("purchase_ms"))
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("click_ms").desc, col("click_id").desc)
    purchases.join(clicks, "user_id")
      .filter(col("click_ms") <= col("purchase_ms") &&
        col("purchase_ms") - col("click_ms") <= AttributionWindowMs)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("purchase_id"), col("user_id"), col("value"),
        col("purchase_ms"), col("click_id"), col("click_ms"),
        (col("purchase_ms") - col("click_ms")).as("lag_ms"))
      .orderBy("purchase_id")
  }

  /** Multi-touch LINEAR attribution — the companion to
    * [[purchaseAttribution]]'s last-click pick: every click inside the
    * lookback shares the purchase value equally (credit = value / n).
    * Last-click over-credits the final retargeting impression; the
    * linear split is the standard first alternative a marketing
    * pipeline A/Bs against it. Same join shape as the single-touch
    * variant — only the finisher differs: a per-purchase COUNT window
    * replaces the rank-1 filter, and the division of the (identical
    * IEEE) value by an exact integer count is deterministic on both
    * engines.
    *
    * Scale shape: one user-key co-partitioned join, one purchase-key
    * window — both AQE-sized; the window's partition is bounded by a
    * purchase's lookback clicks. */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_millis(col("ts")).as("ts_ms"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("value"), col("ts_ms").as("purchase_ms"))
    val w = Window.partitionBy("purchase_id")
    purchases.join(clicks, "user_id")
      .filter(col("click_ms") <= col("purchase_ms") &&
        col("purchase_ms") - col("click_ms") <= AttributionWindowMs)
      .withColumn("n_touches", count(lit(1)).over(w).cast("int"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("click_ms"), col("n_touches"),
        (col("value") / col("n_touches").cast("double")).as("credit"))
      .orderBy("purchase_id", "click_id")
  }

  /** DuckDB oracle for [[attributionLinear]]. */
  private[graft] def attributionLinearOracleSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, value,
       |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
       |  FROM events),
       |c AS (
       |  SELECT user_id, event_id AS click_id, ts_ms AS click_ms
       |  FROM ev WHERE event_type = 'click'),
       |p AS (
       |  SELECT user_id, event_id AS purchase_id, value,
       |    ts_ms AS purchase_ms
       |  FROM ev WHERE event_type = 'purchase'),
       |j AS (
       |  SELECT p.purchase_id, p.user_id, c.click_id, c.click_ms, p.value,
       |    CAST(count(*) OVER (PARTITION BY p.purchase_id) AS INT)
       |      AS n_touches
       |  FROM p JOIN c ON p.user_id = c.user_id
       |  WHERE c.click_ms <= p.purchase_ms
       |    AND p.purchase_ms - c.click_ms <= $AttributionWindowMs)
       |SELECT purchase_id, user_id, click_id, click_ms, n_touches,
       |  value / CAST(n_touches AS DOUBLE) AS credit
       |FROM j
       |ORDER BY purchase_id, click_id""".stripMargin

  /** Gap-island session assignment (`session_seq` per user) — the ONE
    * copy shared by [[eventSessions]] and [[sessionCopresence]]: one
    * shuffle on user_id, then a per-user sort window where the lag
    * flags session starts (silence > [[SessionGapMs]]) and a running
    * sum numbers the islands. Ordering (and the gap itself) uses
    * millisecond-truncated timestamps with the event_id tiebreak so
    * both engines fold ties identically regardless of their native
    * timestamp precision (ns in DuckDB, µs in Spark). Input needs
    * user_id/event_id/ts columns; keeps every input column. */
  private def withSessionSeq(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy("ts_ms", "event_id")
    val cum = byUser
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          col("ts_ms") - col("prev_ms") > SessionGapMs, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_sess")).over(cum))
  }

  /** Sessionization: split each user's event stream into activity
    * sessions separated by > [[SessionGapMs]] of event-time silence —
    * the classic gaps-and-islands operator a behavioral pipeline runs
    * over a CDC feed ([[withSessionSeq]] assigns the islands; this
    * rolls them up per (user, session)). The streaming twin is
    * `StreamOps.userSessions` (native `session_window`, which emits
    * `end = last event + gap` rather than the batch form's observed
    * end); the batch query on the NATIVE operator is
    * [[sessionWindowNative]]. */
  def eventSessions(spark: SparkSession, dir: String): DataFrame = {
    withSessionSeq(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts")))
      .groupBy("user_id", "session_seq")
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .withColumn("duration_ms",
        col("session_end_ms") - col("session_start_ms"))
      .orderBy("user_id", "session_seq")
  }

  /** Event-type transition matrix — Markov bigram counts over each
    * user's event chain: for every consecutive (prev_type → event_type)
    * pair in (ts, event_id) order, the corpus-wide count and the
    * conditional transition probability given the previous type. The
    * funnel/behavior-model input a product-analytics pipeline derives
    * from the same ordered chains as sessionization; the probability is
    * an IEEE division of exact longs, so it hash-anchors. One key
    * shuffle + lag window (chain construction), then a tiny aggregate
    * on the (prev, next) type space. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitionsOf(Tables.events(spark, dir))

  /** [[eventTransitions]] over an injectable events frame (property
    * tests). */
  private[graft] def eventTransitionsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val wPrev = Window.partitionBy("prev_type")
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("p_next",
        col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(wPrev).cast("double"))
      .orderBy("prev_type", "event_type")
  }

  /** Top journey count for [[sessionPaths]]. */
  val PathTopK = 20

  /** Top user-journey paths — the whole-sequence upgrade of
    * [[eventTransitions]]'s Markov bigrams: each (user, day)'s events in
    * (ts, event_id) chain order become one `a>b>c` path string, counted
    * corpus-wide, top-[[PathTopK]] by (count desc, path). The bigram
    * matrix answers "what follows X"; the path census answers "which
    * WHOLE journeys dominate" — the funnel-design input.
    *
    * Ordering is hash-anchored: the path is built by `array_sort` over
    * (ts_ms, event_id, type) structs — a per-GROUP sort of a bounded
    * day's events inside one aggregation buffer, not a global or
    * per-partition sort — mirrored by the oracle's ordered
    * `string_agg`. Grouping at (user, day) grain bounds both the
    * buffer and the path length by a user's daily activity, corpus
    * size notwithstanding; the census is then a plain partial+final
    * count at path grain and the top-k is a TakeOrderedAndProject
    * heap, never a full sort. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        struct(unix_millis(col("ts")).as("ts_ms"), col("event_id"),
          col("event_type")).as("e"))
      .groupBy("user_id", "day")
      .agg(array_join(expr("transform(array_sort(collect_list(e)), " +
        "x -> x.event_type)"), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_journeys"))
      .orderBy(col("n_journeys").desc, col("path"))
      .limit(PathTopK)

  /** DuckDB oracle for [[sessionPaths]] — ordered `string_agg` over the
    * same chain order, same tie-broken top-k. */
  private[graft] def sessionPathsOracleSql: String =
    s"""WITH p AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |    string_agg(event_type, '>'
       |      ORDER BY CAST(epoch_ms(ts) AS BIGINT), event_id) AS path
       |  FROM events
       |  GROUP BY user_id, CAST(ts AS DATE))
       |SELECT path, count(*) AS n_journeys
       |FROM p
       |GROUP BY path
       |ORDER BY n_journeys DESC, path
       |LIMIT $PathTopK""".stripMargin

  /** The [[eventFunnel]] step sequence (shared with the oracle). */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** ORDERED-STEP FUNNEL — the conversion measurement
    * [[sessionPaths]] designs and [[eventTransitions]] approximates,
    * computed exactly: users who did `view`, then `click` STRICTLY
    * AFTER their first view, then `purchase` strictly after that first
    * qualifying click — the SQL-hard "sequentially after" semantics a
    * product-analytics engine ships as a dedicated operator
    * (windowFunnel in ClickHouse terms), here as chained conditional
    * first-occurrence aggregates: step k's anchor is min(ts of step-k
    * events later than the step-(k−1) anchor), each one hash
    * aggregate on user_id + a user-keyed join — no window, no
    * per-user event sort, no path explosion. Output is the 3-row
    * funnel: users reaching each step with floor-mille conversion
    * from the previous step and from the top. Only counts and milles
    * are emitted (timestamps stay internal), so the row is
    * integer-exact cross-engine; step ties (an event at exactly the
    * anchor instant) do NOT advance the funnel — strict `>`, pinned
    * both sides. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    // Per step: the user-keyed anchor frame (first qualifying ts) and
    // its 1-row count. Each anchor frame feeds BOTH the next step's
    // join and its own count — checkpointed per the multi-consumer
    // rule; the anchor frames are ≤ |users| rows and shrink per step.
    val counts = {
      var acc: Option[DataFrame] = None
      FunnelSteps.zipWithIndex.map { case (step, i) =>
        val c = acc match {
          case None => ev.filter(col("event_type") === step)
          case Some(p) =>
            ev.filter(col("event_type") === step)
              .join(p.select(col("user_id"), col("anchor").as("prev_t")),
                Seq("user_id"))
              .filter(col("ts") > col("prev_t"))
        }
        val a = c.groupBy("user_id").agg(min(col("ts")).as("anchor"))
        acc = Some(a.localCheckpoint())
        acc.get.agg(count(lit(1)).as(s"n$i"))
      }
    }
    // 3 one-row count frames → one fixed-size funnel report.
    val joined = counts.reduce(_.crossJoin(_))
    val rows = FunnelSteps.zipWithIndex.map { case (step, i) =>
      val prev = if (i == 0) "n0" else s"n${i - 1}"
      joined.select(
        lit(i + 1).as("step"), lit(step).as("event_type"),
        col(s"n$i").as("n_users"),
        expr(s"CASE WHEN $prev = 0 THEN 0L ELSE (n$i * 1000) div $prev END")
          .as("conv_prev_mille"),
        expr(s"CASE WHEN n0 = 0 THEN 0L ELSE (n$i * 1000) div n0 END")
          .as("conv_first_mille"))
    }
    rows.reduce(_.unionByName(_)).orderBy("step")
  }

  /** DuckDB oracle for [[eventFunnel]] — same chained strict-after
    * first-occurrence anchors, same floor-mille conversions. */
  private[graft] def eventFunnelOracleSql: String = {
    val Seq(s1, s2, s3) = FunnelSteps
    s"""WITH a AS (
       |  SELECT user_id, min(ts) AS t FROM events
       |  WHERE event_type = '$s1' GROUP BY 1),
       |b AS (
       |  SELECT e.user_id, min(e.ts) AS t FROM events e
       |  JOIN a ON e.user_id = a.user_id
       |  WHERE e.event_type = '$s2' AND e.ts > a.t GROUP BY 1),
       |c AS (
       |  SELECT e.user_id, min(e.ts) AS t FROM events e
       |  JOIN b ON e.user_id = b.user_id
       |  WHERE e.event_type = '$s3' AND e.ts > b.t GROUP BY 1),
       |n AS (
       |  SELECT (SELECT count(*) FROM a) AS n0,
       |         (SELECT count(*) FROM b) AS n1,
       |         (SELECT count(*) FROM c) AS n2)
       |SELECT * FROM (
       |  SELECT 1 AS step, '$s1' AS event_type,
       |    CAST(n0 AS BIGINT) AS n_users,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n0 * 1000) // n0 END
       |      AS conv_prev_mille,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n0 * 1000) // n0 END
       |      AS conv_first_mille
       |  FROM n
       |  UNION ALL
       |  SELECT 2, '$s2', CAST(n1 AS BIGINT),
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n1 * 1000) // n0 END,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n1 * 1000) // n0 END
       |  FROM n
       |  UNION ALL
       |  SELECT 3, '$s3', CAST(n2 AS BIGINT),
       |    CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000) // n1 END,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n2 * 1000) // n0 END
       |  FROM n)
       |ORDER BY step""".stripMargin
  }

  /** Conversion deadline for [[eventFunnelWindowed]], in hours after
    * the user's FIRST view anchor (shared with the oracle). */
  val FunnelWindowHours = 24

  /** TIME-BOUNDED ordered-step funnel — [[eventFunnel]] with the
    * deadline every product funnel actually carries (ClickHouse's
    * `windowFunnel(window)` parameter): the click and purchase must
    * land not just STRICTLY AFTER the previous anchor but also WITHIN
    * [[FunnelWindowHours]] of the user's first view — "converted
    * within a day", not "converted eventually". Same chained
    * conditional first-occurrence decomposition (one hash aggregate +
    * user-keyed join per step, no windows, no per-user sort), with the
    * deadline riding the anchor frame as a per-user constant; the
    * deadline compare is exact timestamp-micros + constant interval on
    * both engines. Same-instant ties at the anchor OR at the deadline
    * boundary are pinned: strict `>` below, inclusive `<=` at the
    * deadline. */
  def eventFunnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val counts = {
      var acc: Option[DataFrame] = None
      FunnelSteps.zipWithIndex.map { case (step, i) =>
        val a = (acc match {
          case None =>
            ev.filter(col("event_type") === step)
              .groupBy("user_id").agg(min(col("ts")).as("anchor"))
              .withColumn("deadline", col("anchor") +
                expr(s"INTERVAL $FunnelWindowHours HOURS"))
          case Some(p) =>
            ev.filter(col("event_type") === step)
              .join(p.select(col("user_id"), col("anchor").as("prev_t"),
                col("deadline")), Seq("user_id"))
              .filter(col("ts") > col("prev_t") &&
                col("ts") <= col("deadline"))
              .groupBy("user_id")
              .agg(min(col("ts")).as("anchor"),
                max(col("deadline")).as("deadline"))
        }).localCheckpoint()
        acc = Some(a)
        a.agg(count(lit(1)).as(s"n$i"))
      }
    }
    val joined = counts.reduce(_.crossJoin(_))
    val rows = FunnelSteps.zipWithIndex.map { case (step, i) =>
      val prev = if (i == 0) "n0" else s"n${i - 1}"
      joined.select(
        lit(i + 1).as("step"), lit(step).as("event_type"),
        col(s"n$i").as("n_users"),
        expr(s"CASE WHEN $prev = 0 THEN 0L ELSE (n$i * 1000) div $prev END")
          .as("conv_prev_mille"),
        expr(s"CASE WHEN n0 = 0 THEN 0L ELSE (n$i * 1000) div n0 END")
          .as("conv_first_mille"))
    }
    rows.reduce(_.unionByName(_)).orderBy("step")
  }

  /** FUNNEL STEP LATENCY — conversion RATE's partner metric: for users
    * who advanced a funnel step, the time from the previous anchor to
    * the advancing event (first view → first qualifying click, that
    * click → first qualifying purchase), summarized per transition as
    * exact-MICROSECOND ORDER-STATISTIC picks (min / median / p90 /
    * max — never interpolated). Anchors recompute at the SAME
    * microsecond grain and strict `>` as the [[eventFunnel]] twins, so
    * sub-millisecond-separated events qualify identically in both
    * operators (an earlier millisecond-grain anchor here could admit a
    * same-millisecond successor the funnel rejects).
    * "30% convert" and "the median converter takes 9 hours" are the
    * two numbers a growth team reads together.
    *
    * Scale: the anchor chain is the funnel's (hash aggregate + join per
    * step); the latency frame is USER-grain with a 2-value transition
    * key, so the rank rides
    * [[graft.operators.GlobalRank.withGroupedRowNumber]]'s two-phase
    * pass (an enum-keyed window would drag all converting users through
    * 2 tasks) with per-transition counts a 2-row broadcast. Ties on
    * latency leave rank order among peers arbitrary — sound: only the
    * VALUE at each rank is emitted. */
  def funnelStepLatency(spark: SparkSession, dir: String): DataFrame = {
    val lats = funnelStepLatencyFrame(spark, dir)
    val ranked = GlobalRank.withGroupedRowNumber(lats, "rn",
      Seq(col("step")), Seq(col("lat_us"), col("user_id")))
    // r18 (guide §1.2): counts read the GlobalRank checkpoint — the
    // old `lats.groupBy` replanned the whole latency frame a second
    // time for a 3-row aggregate.
    val counts = ranked.groupBy("step").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), Seq("step"))
      .groupBy("step")
      .agg(max(col("transition")).as("transition"),
        max(col("n")).as("n_users"),
        min(col("lat_us")).as("min_us"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("lat_us")))
          .as("median_us"),
        min(when(col("rn") === expr("(9 * n + 9) div 10"),
          col("lat_us"))).as("p90_us"),
        max(col("lat_us")).as("max_us"))
      .orderBy("step")
  }

  /** The per-user transition latency frame behind [[funnelStepLatency]]
    * — (step, transition, user_id, lat_us), one row per user who
    * advanced that step, anchors at the same microsecond strict-`>`
    * grain as the funnel twins. Factored out so
    * `StreamOps.funnelLatencies` (the streaming assembly over
    * accumulated FunnelReach emissions) can be spec-pinned EQUAL to it
    * row-for-row on an ordered replay. */
  private[graft] def funnelStepLatencyFrame(spark: SparkSession,
      dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val a0 = ev.filter(col("event_type") === FunnelSteps(0))
      .groupBy("user_id").agg(min(col("ts_us")).as("t0"))
      .localCheckpoint()
    val a1 = ev.filter(col("event_type") === FunnelSteps(1))
      .join(a0, Seq("user_id"))
      .filter(col("ts_us") > col("t0"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"),
        max(col("t0")).as("t0"))
      .localCheckpoint()
    val a2 = ev.filter(col("event_type") === FunnelSteps(2))
      .join(a1.select(col("user_id"), col("t1")), Seq("user_id"))
      .filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t2"),
        max(col("t1")).as("t1"))
    a1.select(lit(2).as("step"),
        lit(s"${FunnelSteps(0)}>${FunnelSteps(1)}").as("transition"),
        col("user_id"), (col("t1") - col("t0")).as("lat_us"))
      .unionByName(a2.select(lit(3).as("step"),
        lit(s"${FunnelSteps(1)}>${FunnelSteps(2)}").as("transition"),
        col("user_id"), (col("t2") - col("t1")).as("lat_us")))
  }

  /** DuckDB oracle for [[funnelStepLatency]] — same anchors, same rank
    * picks. */
  private[graft] def funnelStepLatencyOracleSql: String = {
    val Seq(s1, s2, s3) = FunnelSteps
    s"""WITH e AS (
       |  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT)
       |    AS ts_us FROM events),
       |a AS (
       |  SELECT user_id, min(ts_us) AS t0 FROM e
       |  WHERE event_type = '$s1' GROUP BY 1),
       |b AS (
       |  SELECT e.user_id, min(e.ts_us) AS t1, min(a.t0) AS t0
       |  FROM e JOIN a ON e.user_id = a.user_id
       |  WHERE e.event_type = '$s2' AND e.ts_us > a.t0 GROUP BY 1),
       |c AS (
       |  SELECT e.user_id, min(e.ts_us) AS t2, min(b.t1) AS t1
       |  FROM e JOIN b ON e.user_id = b.user_id
       |  WHERE e.event_type = '$s3' AND e.ts_us > b.t1 GROUP BY 1),
       |l AS (
       |  SELECT 2 AS step, '$s1>$s2' AS transition, user_id,
       |    t1 - t0 AS lat_us FROM b
       |  UNION ALL
       |  SELECT 3, '$s2>$s3', user_id, t2 - t1 FROM c),
       |r AS (
       |  SELECT step, transition, lat_us,
       |    CAST(row_number() OVER (PARTITION BY step
       |      ORDER BY lat_us, user_id) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY step) AS BIGINT) AS n
       |  FROM l)
       |SELECT step, min(transition) AS transition,
       |  CAST(min(n) AS BIGINT) AS n_users,
       |  CAST(min(lat_us) AS BIGINT) AS min_us,
       |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN lat_us END)
       |    AS BIGINT) AS median_us,
       |  CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_us END)
       |    AS BIGINT) AS p90_us,
       |  CAST(max(lat_us) AS BIGINT) AS max_us
       |FROM r GROUP BY step ORDER BY step""".stripMargin
  }

  /** DuckDB oracle for [[eventFunnelWindowed]] — same chained anchors,
    * same inclusive deadline. */
  private[graft] def eventFunnelWindowedOracleSql: String = {
    val Seq(s1, s2, s3) = FunnelSteps
    s"""WITH a AS (
       |  SELECT user_id, min(ts) AS t,
       |    min(ts) + INTERVAL $FunnelWindowHours HOUR AS dl
       |  FROM events WHERE event_type = '$s1' GROUP BY 1),
       |b AS (
       |  SELECT e.user_id, min(e.ts) AS t, min(a.dl) AS dl
       |  FROM events e JOIN a ON e.user_id = a.user_id
       |  WHERE e.event_type = '$s2' AND e.ts > a.t AND e.ts <= a.dl
       |  GROUP BY 1),
       |c AS (
       |  SELECT e.user_id, min(e.ts) AS t FROM events e
       |  JOIN b ON e.user_id = b.user_id
       |  WHERE e.event_type = '$s3' AND e.ts > b.t AND e.ts <= b.dl
       |  GROUP BY 1),
       |n AS (
       |  SELECT (SELECT count(*) FROM a) AS n0,
       |         (SELECT count(*) FROM b) AS n1,
       |         (SELECT count(*) FROM c) AS n2)
       |SELECT * FROM (
       |  SELECT 1 AS step, '$s1' AS event_type,
       |    CAST(n0 AS BIGINT) AS n_users,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n0 * 1000) // n0 END
       |      AS conv_prev_mille,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n0 * 1000) // n0 END
       |      AS conv_first_mille
       |  FROM n
       |  UNION ALL
       |  SELECT 2, '$s2', CAST(n1 AS BIGINT),
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n1 * 1000) // n0 END,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n1 * 1000) // n0 END
       |  FROM n
       |  UNION ALL
       |  SELECT 3, '$s3', CAST(n2 AS BIGINT),
       |    CASE WHEN n1 = 0 THEN 0 ELSE (n2 * 1000) // n1 END,
       |    CASE WHEN n0 = 0 THEN 0 ELSE (n2 * 1000) // n0 END
       |  FROM n)
       |ORDER BY step""".stripMargin
  }

  /** DuckDB oracle for [[eventTransitions]] — same chain order, same
    * conditional division. */
  private[graft] def eventTransitionsOracleSql: String =
    s"""WITH c AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY CAST(epoch_ms(ts) AS BIGINT), event_id) AS prev_type
       |  FROM events),
       |g AS (
       |  SELECT prev_type, event_type, count(*) AS n_transitions
       |  FROM c WHERE prev_type IS NOT NULL
       |  GROUP BY prev_type, event_type)
       |SELECT prev_type, event_type, n_transitions,
       |  CAST(n_transitions AS DOUBLE) /
       |    CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)
       |    AS p_next
       |FROM g
       |ORDER BY prev_type, event_type""".stripMargin

  /** Strict-order conversion funnel signup → click → purchase: a user
    * converts a stage only by an event AT OR AFTER their entry into the
    * previous stage (first signup, first click ≥ that, first purchase ≥
    * that). Three stacked per-user window mins — each conditioned on
    * the previous stage's timestamp, which a window may reference
    * because it is per-row constant within the partition — then one
    * global count row with IEEE-exact conversion ratios. One shuffle on
    * the user key; the window state per user is three longs. */
  def userFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("m1",
        min(when(col("event_type") === "signup", col("ts_ms"))).over(w))
      .withColumn("m2",
        min(when(col("event_type") === "click" && col("ts_ms") >= col("m1"),
          col("ts_ms"))).over(w))
      .withColumn("m3",
        min(when(col("event_type") === "purchase" && col("ts_ms") >= col("m2"),
          col("ts_ms"))).over(w))
      .groupBy("user_id")
      .agg(min(col("m1")).as("m1"), min(col("m2")).as("m2"),
        min(col("m3")).as("m3"))
    staged.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("m1").isNotNull, 1L).otherwise(0L)).as("n_signup"),
      sum(when(col("m2").isNotNull, 1L).otherwise(0L)).as("n_click_after"),
      sum(when(col("m3").isNotNull, 1L).otherwise(0L)).as("n_purchase_after"))
      .select(col("n_users"), col("n_signup"), col("n_click_after"),
        col("n_purchase_after"),
        (col("n_click_after").cast("double") /
          col("n_signup").cast("double")).as("p_click_given_signup"),
        (col("n_purchase_after").cast("double") /
          col("n_click_after").cast("double")).as("p_purchase_given_click"))
  }

  /** DuckDB oracle for [[userFunnel]] — the same stacked conditional
    * window mins, stated as nested selects. */
  private[graft] def userFunnelOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
       |  FROM events),
       |s1 AS (
       |  SELECT *, min(CASE WHEN event_type = 'signup' THEN ts_ms END)
       |    OVER (PARTITION BY user_id) AS m1
       |  FROM e),
       |s2 AS (
       |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_ms >= m1
       |      THEN ts_ms END)
       |    OVER (PARTITION BY user_id) AS m2
       |  FROM s1),
       |s3 AS (
       |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_ms >= m2
       |      THEN ts_ms END)
       |    OVER (PARTITION BY user_id) AS m3
       |  FROM s2),
       |u AS (
       |  SELECT user_id, min(m1) AS m1, min(m2) AS m2, min(m3) AS m3
       |  FROM s3 GROUP BY user_id),
       |f AS (
       |  SELECT count(*) AS n_users,
       |    CAST(sum(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_signup,
       |    CAST(sum(CASE WHEN m2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_click_after,
       |    CAST(sum(CASE WHEN m3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_purchase_after
       |  FROM u)
       |SELECT n_users, n_signup, n_click_after, n_purchase_after,
       |  CAST(n_click_after AS DOUBLE) / CAST(n_signup AS DOUBLE)
       |    AS p_click_given_signup,
       |  CAST(n_purchase_after AS DOUBLE) / CAST(n_click_after AS DOUBLE)
       |    AS p_purchase_given_click
       |FROM f""".stripMargin

  /** CDC change log — field-level diffs between CONSECUTIVE row versions
    * per key: for each user's version chain (ts order, event_id
    * tiebreak), emit the transitions where `value` actually changed,
    * with the delta and the time since the previous version. This is
    * the audit-log derivation every CDC consumer eventually builds on
    * top of the raw envelope feed (the reference stores only the latest
    * row per key, cdc_processor.py:77-190; the change log is its
    * history-preserving complement). One shuffle on the key, one
    * per-key sort window, two lags sharing the same window frame —
    * value comparisons are IEEE doubles, exact in both engines. */
  def changeLog(spark: SparkSession, dir: String): DataFrame =
    changeLogOf(Tables.events(spark, dir))

  /** [[changeLog]] over an injectable events frame (property tests). */
  private[graft] def changeLogOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .filter(col("prev_value").isNotNull &&
        col("value") =!= col("prev_value"))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"),
        col("prev_value"),
        (col("value") - col("prev_value")).as("delta"),
        (col("ts_ms") - col("prev_ms")).as("ms_since_prev"))
      .orderBy("user_id", "ts_ms", "event_id")
  }

  /** DuckDB oracle for [[changeLog]] — same window, same tiebreak, same
    * change predicate. */
  private[graft] def changeLogOracleSql: String =
    s"""WITH v AS (
       |  SELECT user_id, event_id, value,
       |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |    lag(value) OVER w AS prev_value,
       |    lag(CAST(epoch_ms(ts) AS BIGINT)) OVER w AS prev_ms
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id
       |    ORDER BY CAST(epoch_ms(ts) AS BIGINT), event_id))
       |SELECT user_id, event_id, ts_ms, value, prev_value,
       |  value - prev_value AS delta,
       |  ts_ms - prev_ms AS ms_since_prev
       |FROM v
       |WHERE prev_value IS NOT NULL AND value <> prev_value
       |ORDER BY user_id, ts_ms, event_id""".stripMargin

  /** Weekly cohort retention — users cohorted by the ISO week of their
    * FIRST event, then for every (cohort, week-offset) cell: how many of
    * the cohort's users were active that week, and the retention share.
    * The classic product-analytics matrix a behavioral pipeline derives
    * from the same event feed the CDC consumers read.
    *
    * Scale shape: the raw feed compacts to distinct (user, week) pairs
    * FIRST (one hash aggregate — map-side partials collapse each user's
    * in-week activity before the shuffle, so a hot week never ships its
    * full event volume), cohort assignment is a per-user min over that
    * already-compacted frame (window over the same hash partitioning,
    * no second shuffle of the raw feed), and the matrix aggregate runs
    * on |users| × |weeks| rows, not |events|. Week truncation is
    * Monday-aligned in both engines (Spark `date_trunc('week')`, DuckDB
    * same), and the offset division is exact (week deltas are multiples
    * of 7 days). Retention is one IEEE division of exact longs. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetentionOf(Tables.events(spark, dir))

  /** [[cohortRetention]] over an injectable events frame (property
    * tests). */
  private[graft] def cohortRetentionOf(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy("user_id")
    val active = events
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
      .withColumn("cohort_week", min(col("wk")).over(wUser))
    val cells = active
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(wk, cohort_week) DIV 7 AS INT)")
          .as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = active.filter(col("wk") === col("cohort_week"))
      .groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    cells.join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_users"),
        (col("n_active").cast("double") /
          col("cohort_users").cast("double")).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** DuckDB oracle for [[cohortRetention]] — same Monday truncation,
    * same exact offset division. */
  private[graft] def cohortRetentionOracleSql: String =
    s"""WITH a AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
       |  FROM events),
       |c AS (
       |  SELECT user_id, wk,
       |    min(wk) OVER (PARTITION BY user_id) AS cohort_week
       |  FROM a),
       |cells AS (
       |  SELECT cohort_week,
       |    CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
       |    count(*) AS n_active
       |  FROM c GROUP BY 1, 2),
       |sz AS (
       |  SELECT cohort_week, count(*) AS cohort_users
       |  FROM c WHERE wk = cohort_week GROUP BY 1)
       |SELECT cells.cohort_week, week_offset, n_active, cohort_users,
       |  CAST(n_active AS DOUBLE) / CAST(cohort_users AS DOUBLE) AS retention
       |FROM cells JOIN sz ON cells.cohort_week = sz.cohort_week
       |ORDER BY cells.cohort_week, week_offset""".stripMargin

  /** |z| threshold that flags a daily total as anomalous (shared with
    * the oracle). */
  val AnomalyZ = 2.0

  /** Daily anomaly detection by z-score — per event type, each day's
    * value total scored against that type's own distribution of daily
    * totals. The statistical upgrade of the reference's FIXED alert
    * thresholds (stream_processor.py:35-39: `> 1000`, `> 50`…): a fixed
    * cut needs retuning per type and per scale, a z-score self-adapts.
    *
    * Exactness: daily totals and the second moment ride DECIMAL sums
    * (order-independent at any parallelism — DECIMAL(18,2)² → (37,4) is
    * exact multiplication, and the (38,4) running sum cannot overflow
    * before the corpus outgrows the mantissa anyway), so the doubles
    * that enter mean/variance are bit-identical in both engines; from
    * there each engine performs the SAME IEEE op sequence (two
    * divisions, one multiply, one subtract, one correctly-rounded sqrt),
    * so the emitted z-scores hash-match. Constant-total types (zero
    * variance) yield null z and never flag. Two hash aggregates — (type,
    * day), then per-type moments — both partial+final; the fact table is
    * touched once. */
  def dailyAnomalyZscore(spark: SparkSession, dir: String): DataFrame =
    dailyAnomalyZscoreOf(Tables.events(spark, dir))

  /** [[dailyAnomalyZscore]] over an injectable events frame. */
  private[graft] def dailyAnomalyZscoreOf(events: DataFrame): DataFrame = {
    val wType = Window.partitionBy("event_type")
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("decimal(18,2)").as("x_dec"))
    daily
      .withColumn("n", count(lit(1)).over(wType))
      .withColumn("mean",
        sum(col("x_dec")).over(wType).cast("double") /
          col("n").cast("double"))
      .withColumn("var",
        (sum((col("x_dec") * col("x_dec")).cast("decimal(38,4)")).over(wType)
          .cast("double") / col("n").cast("double")) -
          (col("mean") * col("mean")))
      .withColumn("z",
        when(col("var") > 0.0,
          (col("x_dec").cast("double") - col("mean")) / sqrt(col("var"))))
      .select(col("event_type"), col("day"),
        col("x_dec").cast("double").as("day_total"),
        col("n").as("n_days"), col("z").as("zscore"),
        (abs(coalesce(col("z"), lit(0.0))) > AnomalyZ).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** DuckDB oracle for [[dailyAnomalyZscore]] — same decimal moments,
    * same IEEE op sequence. */
  private[graft] def dailyAnomalyZscoreOracleSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x_dec
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT *,
       |    count(*) OVER w AS n,
       |    CAST(sum(x_dec) OVER w AS DOUBLE)
       |      / CAST(count(*) OVER w AS DOUBLE) AS mean,
       |    CAST(sum(CAST(x_dec * x_dec AS DECIMAL(38,4))) OVER w AS DOUBLE)
       |      / CAST(count(*) OVER w AS DOUBLE) AS ex2
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type)),
       |z AS (
       |  SELECT event_type, day, x_dec, n, mean,
       |    ex2 - (mean * mean) AS var
       |  FROM m)
       |SELECT event_type, day, CAST(x_dec AS DOUBLE) AS day_total,
       |  n AS n_days,
       |  CASE WHEN var > 0.0
       |    THEN (CAST(x_dec AS DOUBLE) - mean) / sqrt(var) END AS zscore,
       |  abs(coalesce(CASE WHEN var > 0.0
       |    THEN (CAST(x_dec AS DOUBLE) - mean) / sqrt(var) END, 0.0))
       |    > $AnomalyZ AS is_anomaly
       |FROM z
       |ORDER BY event_type, day""".stripMargin

  /** A day is flagged a robust outlier when its absolute deviation from
    * the per-type median exceeds this many MADs (shared with the
    * oracle). */
  val MadK = 3.5

  /** Robust daily outliers via median absolute deviation — the
    * heavy-tail-safe twin of [[dailyAnomalyZscore]]: a single
    * spike-day inflates the mean AND the variance enough to hide
    * itself from a z-score (masking), while the median and MAD are
    * 50%-breakdown estimators a spike cannot drag. Day totals are
    * decimal-exact (the zscore pattern); both medians are exact
    * interpolated percentiles over those totals (the A4
    * percentile ≡ quantile_cont equivalence), and the outlier ratio
    * is one IEEE division — every float op is a single deterministic
    * step on exact inputs, so the hash holds across engines.
    *
    * Scale shape: one day-grain partial+final aggregate over the fact
    * table; everything downstream (medians, deviations, flags) is
    * calendar-sized per event type. The median/MAD frames are
    * |event_type|-sized and broadcast back onto the daily frame. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliersOf(Tables.events(spark, dir))

  /** [[madOutliers]] over an injectable events frame. */
  private[graft] def madOutliersOf(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("decimal(18,2)").as("x_dec"))
      .withColumn("x", col("x_dec").cast("double"))
    val med = daily.groupBy("event_type")
      .agg(expr("percentile(x, 0.5)").as("med"),
        count(lit(1)).as("n_days"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("absdev", abs(col("x") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(absdev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("x").as("day_total"),
        col("n_days"), col("med"), col("mad"),
        when(col("mad") > 0.0, col("absdev") / col("mad"))
          .as("mad_ratio"),
        (coalesce(
          when(col("mad") > 0.0, col("absdev") / col("mad")), lit(0.0))
          > MadK).as("is_outlier"))
      .orderBy("event_type", "day")
  }

  /** DuckDB oracle for [[madOutliers]] — same decimal day totals,
    * same two quantile_cont medians, same IEEE op sequence. */
  private[graft] def madOutliersOracleSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
       |      AS DECIMAL(18,2)) AS DOUBLE) AS x
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT event_type, quantile_cont(x, 0.5) AS med,
       |    count(*) AS n_days
       |  FROM daily GROUP BY event_type),
       |dev AS (
       |  SELECT d.event_type, d.day, d.x, m.med, m.n_days,
       |    abs(d.x - m.med) AS absdev
       |  FROM daily d JOIN m USING (event_type)),
       |md AS (
       |  SELECT event_type, quantile_cont(absdev, 0.5) AS mad
       |  FROM dev GROUP BY event_type)
       |SELECT dev.event_type, dev.day, dev.x AS day_total,
       |  dev.n_days, dev.med, md.mad,
       |  CASE WHEN md.mad > 0.0 THEN dev.absdev / md.mad END AS mad_ratio,
       |  coalesce(CASE WHEN md.mad > 0.0
       |    THEN dev.absdev / md.mad END, 0.0) > $MadK AS is_outlier
       |FROM dev JOIN md USING (event_type)
       |ORDER BY dev.event_type, dev.day""".stripMargin

  /** Trailing 7-day rolling metrics over the event feed — a true
    * RANGE frame on the day number, not a ROWS frame: with calendar
    * gaps, `ROWS 6 PRECEDING` grabs the last seven days THAT HAD DATA
    * (a different, usually wrong, window), while `RANGE 6 PRECEDING`
    * is the last seven calendar days whatever landed in them —
    * `days_present` makes the gap semantics observable. The frame
    * rides an integer epoch-day order key, identical in both engines.
    * One day-grain aggregate (partial+final over the fact table), then
    * a window over |days| rows — the window input is calendar-sized,
    * never event-sized, at any scale. */
  def rolling7dMetrics(spark: SparkSession, dir: String): DataFrame =
    rolling7dMetricsOf(Tables.events(spark, dir))

  /** [[rolling7dMetrics]] over an injectable events frame. */
  private[graft] def rolling7dMetricsOf(events: DataFrame): DataFrame = {
    val w7 = Window.orderBy("day_num").rangeBetween(-6, 0)
    events
      .select(to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("v_dec"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
      .select(col("day"), col("n_events"),
        col("v_dec").cast("double").as("day_value"),
        sum(col("n_events")).over(w7).as("events_7d"),
        sum(col("v_dec")).over(w7).cast("double").as("value_7d"),
        count(lit(1)).over(w7).as("days_present_7d"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[rolling7dMetrics]] — the same integer RANGE
    * frame. */
  private[graft] def rolling7dMetricsOracleSql: String =
    s"""WITH d AS (
       |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
       |    sum(CAST(value AS DECIMAL(18,2))) AS v_dec
       |  FROM events GROUP BY 1),
       |n AS (
       |  SELECT *, date_diff('day', DATE '1970-01-01', day) AS day_num
       |  FROM d)
       |SELECT day, n_events,
       |  CAST(v_dec AS DOUBLE) AS day_value,
       |  CAST(sum(n_events) OVER w7 AS BIGINT) AS events_7d,
       |  CAST(sum(v_dec) OVER w7 AS DOUBLE) AS value_7d,
       |  count(*) OVER w7 AS days_present_7d
       |FROM n
       |WINDOW w7 AS (ORDER BY day_num
       |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY day""".stripMargin

  /** Incremental view maintenance — the per-key aggregate maintained
    * from CDC DELTAS alone, never recomputed from a base-table scan:
    * a create adds its `after` image, an update adds `after − before`,
    * a delete retracts its `before`. This is what the reference's Redis
    * caches are at heart (INCR/INCRBYFLOAT per change —
    * cdc_processor.py:50-51,124-131) and the capability that matters at
    * 100 TB: the maintained view costs one pass over the (small) change
    * feed instead of re-aggregating the (huge) base table every cycle.
    * The delta fold is a plain partial+final hash aggregate on the key —
    * commutative, so arrival order within a micro-batch is irrelevant —
    * and the same code runs in update-mode streaming
    * ([[graft.streaming.StreamOps.incrementalRollup]]).
    *
    * Change images are synthesized the same way as [[envelopeNested]]
    * (op from event_type, `before.value = value − 10` when a prior
    * version exists); the spec proves on a true create/update/delete
    * chain fixture that the delta fold equals a from-scratch aggregate
    * of the surviving latest rows. */
  def incrementalRollup(spark: SparkSession, dir: String): DataFrame =
    incrementalRollupOf(Tables.events(spark, dir))

  /** The per-change delta projection shared by the batch fold, the
    * streaming twin, and the specs: op verb → (value delta, row delta).
    * Change images are synthesized from the events schema the same way
    * as [[envelopeNested]] (`before.value = value − 10`). */
  private[graft] def changeDeltas(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), opCol.as("op"),
        col("value").cast("decimal(18,2)").as("after_v"),
        (col("value").cast("decimal(18,2)") - 10).cast("decimal(18,2)")
          .as("before_v"))
      .select(col("user_id"),
        when(col("op") === "c", col("after_v"))
          .when(col("op") === "u", (col("after_v") - col("before_v"))
            .cast("decimal(18,2)"))
          .otherwise(-col("before_v")).as("value_delta"),
        when(col("op") === "c", 1L)
          .when(col("op") === "u", 0L).otherwise(-1L).as("row_delta"))

  /** The maintained-view fold over [[changeDeltas]] — shared verbatim
    * with [[graft.streaming.StreamOps.incrementalRollup]] so the spec's
    * stream/batch agreement is by construction. */
  private[graft] def foldDeltas(deltas: DataFrame): DataFrame =
    deltas
      .groupBy("user_id")
      .agg(
        sum(col("value_delta")).cast("double").as("net_value"),
        sum(col("row_delta")).as("net_rows"),
        count(lit(1)).as("n_changes"))

  /** [[incrementalRollup]] over an injectable events frame (property
    * tests). */
  private[graft] def incrementalRollupOf(events: DataFrame): DataFrame =
    foldDeltas(changeDeltas(events)).orderBy("user_id")

  /** SCD Type-2 dimension build — the warehouse-side complement of the
    * reference's latest-row cache (cdc_processor.py:77-190 keeps only
    * the newest row per key; a Type-2 dimension keeps EVERY version with
    * its validity interval). Each create/update event opens a version
    * carrying its row image; a delete closes the chain without opening
    * one. `valid_to` is the NEXT change's timestamp regardless of its
    * verb — computed with the lead over the full c/u/d chain BEFORE
    * deletes are dropped, so a version followed by a tombstone is
    * correctly closed, not left looking current. `version_no` is a
    * running conditional count over the same window frame, so the whole
    * derivation is one shuffle on the key and ONE per-key sort (the two
    * window functions share partitioning and ordering; no second
    * exchange, no join back). At 100 TB this is the standard
    * history-build shape: key-partitioned, event-ordered, linear. */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2HistoryOf(Tables.events(spark, dir))

  /** [[scd2History]] over an injectable events frame (property tests). */
  private[graft] def scd2HistoryOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_millis(col("ts")).as("ts_ms"), opCol.as("op"))
      .withColumn("next_ms", lead(col("ts_ms"), 1).over(w))
      .withColumn("version_no",
        sum(when(col("op") =!= "d", 1L).otherwise(0L)).over(wRun))
      .filter(col("op") =!= "d")
      .select(col("user_id"), col("version_no"), col("op"), col("value"),
        col("ts_ms").as("valid_from_ms"), col("next_ms").as("valid_to_ms"),
        col("next_ms").isNull.as("is_current"),
        (col("next_ms") - col("ts_ms")).as("duration_ms"))
      .orderBy("user_id", "version_no")
  }

  /** Point-in-time dimension snapshot off the SCD2 history — the
    * time-travel read every warehouse runs against a versioned
    * dimension ("what did the table look like at T?"). The anchor is
    * the midpoint of the corpus's event-time range (integer-exact, so
    * both engines pick the same instant); the snapshot keeps the one
    * version per user whose validity interval covers T. A delete closes
    * its predecessor's interval in [[scd2History]], so users tombstoned
    * before T drop out of the snapshot with no extra handling.
    *
    * Scale shape: the anchor is a 1-row broadcast off a min/max
    * aggregate; the snapshot filter is a codegen'd projection over the
    * history (at scale: the history table is partitioned by
    * valid_from date, and this predicate prunes to the anchor's
    * neighborhood). */
  def scd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val anchor = Tables.events(spark, dir)
      .agg(expr("(min(unix_millis(ts)) + max(unix_millis(ts))) div 2")
        .as("asof_ms"))
    scd2History(spark, dir)
      .crossJoin(broadcast(anchor))
      .filter(col("valid_from_ms") <= col("asof_ms") &&
        (col("valid_to_ms").isNull || col("valid_to_ms") > col("asof_ms")))
      .select(col("user_id"), col("version_no"), col("value"),
        col("valid_from_ms"), col("valid_to_ms"), col("asof_ms"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[scd2Asof]] — the [[scd2HistoryOracleSql]] CTEs
    * plus the same midpoint anchor and interval-cover filter. */
  private[graft] def scd2AsofOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value,
       |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |    CASE WHEN event_type = 'signup' THEN 'c'
       |         WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
       |  FROM events),
       |v AS (
       |  SELECT *,
       |    lead(ts_ms) OVER w AS next_ms,
       |    CAST(sum(CASE WHEN op <> 'd' THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY user_id ORDER BY ts_ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS version_no
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |a AS (
       |  SELECT CAST((min(CAST(epoch_ms(ts) AS BIGINT)) +
       |               max(CAST(epoch_ms(ts) AS BIGINT))) // 2 AS BIGINT)
       |    AS asof_ms
       |  FROM events)
       |SELECT v.user_id, v.version_no, v.value,
       |  v.ts_ms AS valid_from_ms, v.next_ms AS valid_to_ms, a.asof_ms
       |FROM v CROSS JOIN a
       |WHERE v.op <> 'd' AND v.ts_ms <= a.asof_ms
       |  AND (v.next_ms IS NULL OR v.next_ms > a.asof_ms)
       |ORDER BY v.user_id""".stripMargin

  /** DuckDB oracle for [[scd2History]] — same chain-wide lead, same
    * running version count (BIGINT-cast: DuckDB widens integer sums to
    * HUGEINT), same explicit ROWS frame (the ordering is unique, but
    * the explicit frame keeps both engines' peer handling identical). */
  private[graft] def scd2HistoryOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value,
       |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |    CASE WHEN event_type = 'signup' THEN 'c'
       |         WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
       |  FROM events),
       |v AS (
       |  SELECT *,
       |    lead(ts_ms) OVER w AS next_ms,
       |    CAST(sum(CASE WHEN op <> 'd' THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY user_id ORDER BY ts_ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS version_no
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
       |SELECT user_id, version_no, op, value,
       |  ts_ms AS valid_from_ms, next_ms AS valid_to_ms,
       |  next_ms IS NULL AS is_current,
       |  next_ms - ts_ms AS duration_ms
       |FROM v WHERE op <> 'd'
       |ORDER BY user_id, version_no""".stripMargin

  /** DuckDB oracle for [[incrementalRollup]] — the same delta CASE
    * fold. */
  private[graft] def incrementalRollupOracleSql: String =
    s"""WITH d AS (
       |  SELECT user_id,
       |    CASE WHEN event_type = 'signup' THEN 'c'
       |         WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
       |    CAST(value AS DECIMAL(18,2)) AS after_v,
       |    CAST(CAST(value AS DECIMAL(18,2)) - 10 AS DECIMAL(18,2))
       |      AS before_v
       |  FROM events),
       |f AS (
       |  SELECT user_id,
       |    CASE WHEN op = 'c' THEN after_v
       |         WHEN op = 'u' THEN CAST(after_v - before_v AS DECIMAL(18,2))
       |         ELSE -before_v END AS value_delta,
       |    CASE WHEN op = 'c' THEN 1
       |         WHEN op = 'u' THEN 0 ELSE -1 END AS row_delta
       |  FROM d)
       |SELECT user_id,
       |  CAST(sum(value_delta) AS DOUBLE) AS net_value,
       |  CAST(sum(row_delta) AS BIGINT) AS net_rows,
       |  count(*) AS n_changes
       |FROM f
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** Per-user consecutive-day activity streaks — the gaps-and-islands
    * operator in its calendar form (engagement/retention pipelines run
    * this daily; [[eventSessions]] is the same shape at minute grain
    * over timestamps, this one runs at DAY grain over a distinct
    * calendar). Island key = epoch_day − row_number(): consecutive days
    * share it, any gap shifts it — the classic O(n) formulation, all
    * integer so the oracle hash-anchors. Per user: total active days,
    * number of streaks, longest streak, and the first day of the
    * longest streak (earliest on ties, made deterministic by the
    * two-level min).
    *
    * Scale shape: the (user, day) calendar is a distinct-compaction of
    * the fact table (≤ users × days rows — tiny next to the events);
    * both windows partition BY USER, so no global sort exists and the
    * heaviest key holds ≤ |days| rows. Everything after the compaction
    * is partial+final aggregates. */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("dd"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("dd")
    val streaks = days
      .withColumn("island", col("dd") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"), min(col("dd")).as("start_dd"))
    streaks.groupBy("user_id")
      .agg(
        sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"),
        // earliest start among maximal streaks: argmin over the packed
        // integer key (1e6 − len)·1e7 + start_dd — len and epoch-day
        // both sit far below the radix, so min(key) is exactly
        // lexicographic (-len, start_dd) and is pure BIGINT arithmetic
        // both engines order identically
        min((lit(1000000L) - col("len")) * lit(10000000L) + col("start_dd"))
          .as("best_key"))
      .select(col("user_id"),
        col("active_days").cast("long").as("active_days"),
        col("n_streaks"),
        col("max_streak").cast("long").as("max_streak"),
        date_add(lit("1970-01-01").cast("date"),
          pmod(col("best_key"), lit(10000000L)).cast("int"))
          .as("max_streak_start"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[activityStreaks]] — same epoch-day island key,
    * same tie rule (earliest start of a maximal streak). */
  private[graft] def activityStreaksOracleSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dd
      |  FROM events),
      |isl AS (
      |  SELECT user_id, dd,
      |    dd - row_number() OVER (PARTITION BY user_id ORDER BY dd)
      |      AS island
      |  FROM days),
      |st AS (
      |  SELECT user_id, island, count(*) AS len,
      |    min(dd) AS start_dd
      |  FROM isl GROUP BY user_id, island),
      |agg AS (
      |  SELECT user_id,
      |    CAST(sum(len) AS BIGINT) AS active_days,
      |    count(*) AS n_streaks,
      |    CAST(max(len) AS BIGINT) AS max_streak,
      |    min((1000000 - len) * 10000000 + start_dd) AS best_key
      |  FROM st GROUP BY user_id)
      |SELECT user_id, active_days, n_streaks, max_streak,
      |  DATE '1970-01-01' + CAST(best_key % 10000000 AS INT)
      |    AS max_streak_start
      |FROM agg
      |ORDER BY user_id""".stripMargin

  /** Winsorization tail share (per side), as an exact integer ratio:
    * k-th order statistic with k = ⌈n/[[WinsorDenom]]⌉ (shared with the
    * oracle). 20 → clip at the exact 5th/95th percentile ORDER
    * STATISTICS. */
  val WinsorDenom = 20

  /** Winsorized per-type value stats — the robust-mean companion of
    * [[madOutliers]]: clip each event's value into the [p05, p95]
    * ORDER-STATISTIC envelope of its event type, then aggregate. Both
    * bounds are actual data values picked by rank (k = ⌈n/20⌉ from
    * each end, pure integer arithmetic) — never interpolated: an
    * interpolated percentile is a computed double whose
    * decimal-rounding could land on a half-tie where Spark (HALF_UP)
    * and DuckDB (half-even) disagree, while an order statistic is a
    * value the data already carries in DECIMAL(18,2), so every clip,
    * sum, and count downstream is exact. The two means are each one
    * IEEE division at the end.
    *
    * Scale shape: `event_type` is a tiny enum, so a keyed rank window
    * would serialize the event frame through |enum| tasks (the
    * enum-keyed sibling of the SinglePartition hazard); the rank rides
    * `GlobalRank.withGroupedRowNumber`'s two-phase pass over the
    * compound (event_type, v) order at full parallelism, with the
    * per-type count a broadcast-small aggregate. Ties on v leave rank
    * assignment among peers arbitrary — sound, because only the VALUE
    * at each rank is consumed and tied rows carry equal values. The
    * 2-row-per-type bounds frame broadcasts back onto the fact scan,
    * then one partial+final aggregate. The approx twin at 100 TB is
    * `approx_percentile` bounds with the same clip projection
    * (documented trade, as with `source_quality_profile`). */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
    // r18 (guide §1.2): counts from the GlobalRank checkpoint, not a
    // second events scan.
    val ranked = GlobalRank.withGroupedRowNumber(vals, "rn",
      Seq(col("event_type")), Seq(col("v")))
    val counts = ranked.groupBy("event_type").agg(count(lit(1)).as("n"))
    val bounds = ranked
      .join(broadcast(counts), Seq("event_type"))
      .withColumn("k_lo", expr(s"(n + ${WinsorDenom - 1}) div $WinsorDenom"))
      .filter(col("rn") === col("k_lo") ||
        col("rn") === col("n") - col("k_lo") + 1)
      .groupBy("event_type")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    vals.join(broadcast(bounds), "event_type")
      .withColumn("clipped", greatest(col("lo"), least(col("v"), col("hi"))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(col("v")).as("sum_raw"),
        sum(col("clipped")).as("sum_winsor"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"))
      .select(col("event_type"), col("n_events"),
        col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi"),
        (col("sum_raw").cast("double") / col("n_events").cast("double"))
          .as("mean_raw"),
        (col("sum_winsor").cast("double") / col("n_events").cast("double"))
          .as("mean_winsor"),
        col("n_clip_lo"), col("n_clip_hi"))
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[winsorizedStats]] — same integer rank picks,
    * same decimal clip/sums, same final divisions. */
  private[graft] def winsorizedStatsOracleSql: String =
    s"""WITH v AS (
       |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events),
       |r AS (
       |  SELECT event_type, v,
       |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n,
       |    (count(*) OVER (PARTITION BY event_type) + ${WinsorDenom - 1})
       |      // $WinsorDenom AS k_lo
       |  FROM v),
       |b AS (
       |  SELECT event_type, min(v) AS lo, max(v) AS hi
       |  FROM r WHERE rn = k_lo OR rn = n - k_lo + 1
       |  GROUP BY event_type),
       |c AS (
       |  SELECT v.event_type, v.v,
       |    greatest(b.lo, least(v.v, b.hi)) AS clipped, b.lo, b.hi
       |  FROM v JOIN b ON v.event_type = b.event_type)
       |SELECT event_type, count(*) AS n_events,
       |  CAST(min(lo) AS DOUBLE) AS lo,
       |  CAST(min(hi) AS DOUBLE) AS hi,
       |  CAST(CAST(sum(v) AS DECIMAL(28,2)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS mean_raw,
       |  CAST(CAST(sum(clipped) AS DECIMAL(28,2)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS mean_winsor,
       |  CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clip_lo,
       |  CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clip_hi
       |FROM c
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** [[botScreen]] thresholds (shared with the oracle): a user is
    * metronomic when at least `BotMinGaps` inter-event gaps vary by no
    * more than `BotGapTolMs` end to end. */
  val BotMinGaps = 10
  val BotGapTolMs = 1000L

  /** Metronomic-cadence bot screen — the abuse filter a training-data
    * pipeline runs over behavioral logs: humans emit bursty
    * inter-arrival gaps; scripted clients tick. Per user: event count,
    * min/max/total inter-event gap (millis, from the (ts, event_id)
    * lag — the id tiebreak pins duplicate timestamps), mean gap as ONE
    * IEEE division over exact longs, and the `metronomic` flag —
    * `max_gap − min_gap ≤ tol` over ≥ [[BotMinGaps]] gaps, a pure
    * integer predicate (no float variance enters the verdict, so the
    * flag is bit-deterministic at any partitioning).
    *
    * Scale shape: one user-partitioned window sort (the sessionization
    * partitioning — no global sort), then a partial+final per-user
    * aggregate. Nothing is corpus-pairwise. */
  def botScreen(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("gap_ms")).as("n_gaps"),
        min(col("gap_ms")).as("min_gap_ms"),
        max(col("gap_ms")).as("max_gap_ms"),
        sum(col("gap_ms")).as("total_gap_ms"))
      .withColumn("avg_gap_ms",
        col("total_gap_ms").cast("double") / col("n_gaps").cast("double"))
      .withColumn("metronomic",
        col("n_gaps") >= BotMinGaps &&
          col("max_gap_ms") - col("min_gap_ms") <= BotGapTolMs)
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[botScreen]] — same lag tiebreak, same integer
    * predicate, same single IEEE division. */
  private[graft] def botScreenOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |    epoch_ms(ts) AS ts_ms
       |  FROM events),
       |g AS (
       |  SELECT user_id,
       |    ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
       |      ORDER BY ts_ms, event_id) AS gap_ms
       |  FROM e),
       |a AS (
       |  SELECT user_id, count(*) AS n_events,
       |    count(gap_ms) AS n_gaps,
       |    CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
       |    CAST(max(gap_ms) AS BIGINT) AS max_gap_ms,
       |    CAST(sum(gap_ms) AS BIGINT) AS total_gap_ms
       |  FROM g GROUP BY user_id)
       |SELECT user_id, n_events, n_gaps, min_gap_ms, max_gap_ms,
       |  total_gap_ms,
       |  CAST(total_gap_ms AS DOUBLE) / CAST(n_gaps AS DOUBLE)
       |    AS avg_gap_ms,
       |  n_gaps >= $BotMinGaps
       |    AND max_gap_ms - min_gap_ms <= $BotGapTolMs AS metronomic
       |FROM a
       |ORDER BY user_id""".stripMargin

  /** HyperLogLog register count (2^8; shared with the oracle). */
  val HllM = 256

  /** The raw-HLL estimator's constant numerator α_m·m²·2^53, folded to
    * ONE double in Scala and interpolated into both engines as the
    * same round-trip literal — DuckDB would otherwise evaluate
    * `0.7213/(1.0+1.079/256)` in DECIMAL arithmetic, not IEEE double,
    * and the estimate would drift in the last bits. */
  private val HllEstNum: Double =
    0.7213 / (1.0 + 1.079 / HllM) *
      (HllM.toLong * HllM).toDouble * (1L << 53).toDouble

  /** HyperLogLog distinct-count sketch — the industry-standard
    * approximate-distinct, built DETERMINISTICALLY like [[kmvDistinct]]
    * (the exact-count twin this complements: KMV keeps order
    * statistics, HLL keeps leading-zero maxima; both here derive every
    * bit from the same 60-bit md5 both engines compute identically, so
    * the sketch's registers and even its ESTIMATION ERROR hash-match
    * cross-engine). Per event_type: register index = low 8 hash bits,
    * rho = leading-zero count of the remaining 52-bit word + 1
    * (computed exactly as 53 − |bin(w)|, with the w=0 all-zeros case
    * pinned to 53); registers aggregate as max(rho). The harmonic mean
    * runs in EXACT integer arithmetic: Σ 2^(53−rho) over present
    * registers plus 2^53 per never-hit register (≤ 2^61, no overflow),
    * so the only floating ops are the final multiply/divide of the raw
    * estimator α·m²·2^53/Σ — the α literal and op order identical in
    * both engines. Raw HLL, no small-range bias correction: the linear
    * counting branch needs ln(), a transcendental no cross-engine
    * bit-contract covers (documented trade; at sketch-worthy
    * cardinalities the raw estimator is the operative one anyway).
    *
    * Scale shape: one distinct-compaction on (type, user), one
    * (type, register) aggregate of [[HllM]]·|types| rows, then a
    * per-type rollup — the classic mergeable-sketch plan where every
    * partial max is itself a valid register. The exact count rides the
    * same compaction purely to oracle-check the error. */
  /** Append the deterministic HLL register columns (60-bit md5 →
    * register `idx` + leading-zero rank `rho`) to any frame with a
    * `user_id` column — the ONE derivation shared by [[hllDistinct]]
    * and [[hllMergeRollup]], so the mergeability proof provably
    * compares two rollups of the SAME sketch. */
  private def withHllRegisters(df: DataFrame): DataFrame =
    df.withColumn("h",
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15)," +
          " 16, 10) as bigint)"))
      .withColumn("idx", pmod(col("h"), lit(HllM)).cast("int"))
      .withColumn("w", expr(s"h div $HllM"))
      .withColumn("rho",
        when(col("w") === 0L, lit(53L))
          .otherwise(lit(53L) - length(bin(col("w")))))

  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val du = withHllRegisters(
      Tables.events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct())
    val regs = du.groupBy("event_type", "idx")
      .agg(max(col("rho")).as("r"))
    val perType = regs.groupBy("event_type")
      .agg(count(lit(1)).as("m_hit"),
        sum(expr("shiftleft(cast(1 as bigint), cast(53 - r as int))"))
          .as("hit_num"))
      .withColumn("sum_num",
        col("hit_num") +
          (lit(HllM.toLong) - col("m_hit")) * lit(1L << 53))
    val exact = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    exact.join(perType, "event_type")
      .withColumn("hll_est", lit(HllEstNum) / col("sum_num").cast("double"))
      .withColumn("rel_err",
        abs(col("hll_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"))
      .select("event_type", "n_exact", "m_hit", "sum_num", "hll_est",
        "rel_err")
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[hllDistinct]] — same 60-bit hash split, same
    * exact-integer harmonic sum, same α expression text (both engines
    * fold the identical double literals). */
  private[graft] def hllDistinctOracleSql: String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) AS h
       |  FROM du),
       |r AS (
       |  SELECT event_type, CAST(h % $HllM AS INT) AS idx,
       |    CASE WHEN h // $HllM = 0 THEN 53
       |         ELSE 53 - length(bin(h // $HllM)) END AS rho
       |  FROM h),
       |regs AS (
       |  SELECT event_type, idx, max(rho) AS r
       |  FROM r GROUP BY event_type, idx),
       |pt AS (
       |  SELECT event_type, count(*) AS m_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INT)) AS BIGINT)
       |      AS hit_num
       |  FROM regs GROUP BY event_type),
       |s AS (
       |  SELECT event_type, m_hit,
       |    hit_num + ($HllM - m_hit) * (CAST(1 AS BIGINT) << 53)
       |      AS sum_num
       |  FROM pt),
       |ex AS (
       |  SELECT event_type, count(*) AS n_exact FROM du
       |  GROUP BY event_type),
       |e AS (
       |  SELECT ex.event_type, n_exact, m_hit, sum_num,
       |    CAST($HllEstNum AS DOUBLE) / CAST(sum_num AS DOUBLE)
       |      AS hll_est
       |  FROM ex JOIN s ON ex.event_type = s.event_type)
       |SELECT event_type, n_exact, m_hit, sum_num, hll_est,
       |  abs(hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
       |    AS rel_err
       |FROM e
       |ORDER BY event_type""".stripMargin

  /** HLL register MERGEABILITY, demonstrated end-to-end: build
    * per-(event_type, day) register sets, merge the days per type with a
    * register-wise max, and show the merged estimate EQUALS the estimate
    * computed directly over the undivided stream — `max(max(a), max(b))
    * = max(a ∪ b)`, the algebra that lets 100 TB of daily partitions
    * roll up to a global distinct count without ever re-scanning raw
    * data. Both paths are computed independently (element-grain regs vs
    * day-grain regs re-merged) and the oracle re-derives both, so
    * `merged_minus_direct` being 0 is a verified property, not a
    * tautology. Same deterministic 60-bit md5 register derivation as
    * [[hllDistinct]]; all-integer until the final estimate division.
    *
    * Scale: day-grain register sets are the materialization unit (m=256
    * longs per (type, day) — KBs per partition); the merge is a
    * partial+final max aggregate over register rows, shuffle-bounded by
    * m × types, independent of row count. */
  def hllMergeRollup(spark: SparkSession, dir: String): DataFrame = {
    val base = withHllRegisters(
      Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id")))
    // path 1: day-grain registers, then merged per type by register max
    val dayRegs = base.groupBy("event_type", "day", "idx")
      .agg(max(col("rho")).as("r"))
    val nDays = dayRegs.select("event_type", "day").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_days"))
    val merged = dayRegs.groupBy("event_type", "idx")
      .agg(max(col("r")).as("r"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("m_hit"),
        sum(expr("shiftleft(cast(1 as bigint), cast(53 - r as int))"))
          .as("hit_num"))
      .withColumn("sum_num_merged",
        col("hit_num") + (lit(HllM.toLong) - col("m_hit")) * lit(1L << 53))
      .select(col("event_type"), col("m_hit"), col("sum_num_merged"))
    // path 2: direct registers over the undivided stream
    val direct = base.groupBy("event_type", "idx")
      .agg(max(col("rho")).as("r"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("m_hit_d"),
        sum(expr("shiftleft(cast(1 as bigint), cast(53 - r as int))"))
          .as("hit_num_d"))
      .withColumn("sum_num_direct",
        col("hit_num_d") +
          (lit(HllM.toLong) - col("m_hit_d")) * lit(1L << 53))
      .select(col("event_type"), col("sum_num_direct"))
    merged.join(direct, "event_type").join(nDays, "event_type")
      .select(col("event_type"), col("n_days"), col("m_hit"),
        col("sum_num_merged"),
        (col("sum_num_merged") - col("sum_num_direct"))
          .as("merged_minus_direct"),
        (lit(HllEstNum) / col("sum_num_merged").cast("double"))
          .as("hll_est_merged"))
      .orderBy("event_type")
  }

  /** DuckDB oracle for [[hllMergeRollup]] — both register paths
    * re-derived independently, same folded estimator constant. */
  private[graft] def hllMergeRollupOracleSql: String =
    s"""WITH base AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, user_id,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) AS h
       |  FROM events),
       |r AS (
       |  SELECT event_type, day, CAST(h % $HllM AS INT) AS idx,
       |    CASE WHEN h // $HllM = 0 THEN 53
       |         ELSE 53 - length(bin(h // $HllM)) END AS rho
       |  FROM base),
       |day_regs AS (
       |  SELECT event_type, day, idx, max(rho) AS r
       |  FROM r GROUP BY 1, 2, 3),
       |nd AS (
       |  SELECT event_type, count(DISTINCT day) AS n_days
       |  FROM day_regs GROUP BY event_type),
       |merged_regs AS (
       |  SELECT event_type, idx, max(r) AS r
       |  FROM day_regs GROUP BY 1, 2),
       |merged AS (
       |  SELECT event_type, count(*) AS m_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INT)) AS BIGINT)
       |      + ($HllM - count(*)) * (CAST(1 AS BIGINT) << 53)
       |      AS sum_num_merged
       |  FROM merged_regs GROUP BY event_type),
       |direct_regs AS (
       |  SELECT event_type, idx, max(rho) AS r
       |  FROM r GROUP BY 1, 2),
       |direct AS (
       |  SELECT event_type,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INT)) AS BIGINT)
       |      + ($HllM - count(*)) * (CAST(1 AS BIGINT) << 53)
       |      AS sum_num_direct
       |  FROM direct_regs GROUP BY event_type)
       |SELECT m.event_type, nd.n_days, m.m_hit, m.sum_num_merged,
       |  m.sum_num_merged - d.sum_num_direct AS merged_minus_direct,
       |  CAST($HllEstNum AS DOUBLE) / CAST(m.sum_num_merged AS DOUBLE)
       |    AS hll_est_merged
       |FROM merged m
       |JOIN direct d ON m.event_type = d.event_type
       |JOIN nd ON m.event_type = nd.event_type
       |ORDER BY m.event_type""".stripMargin

  // --------------------------------------------------------------------
  // Time-weighted state value + CDC offset-gap audit (round 11)
  // --------------------------------------------------------------------

  /** Time-weighted average of each user's `value` signal: treat the event
    * stream as a step function (a value holds from its event until the
    * next event of the same user) and integrate — the standard downsample
    * for irregularly-sampled gauges, which the reference's fixed
    * `deque(maxlen=1000)` buffers (`stream_processor.py:26-28`) can only
    * approximate by unweighted averaging. Exactness: durations are
    * integer epoch-millis deltas and `value` is quantized to integer
    * cents up front, so the `cents·Δms` products and their sum are exact
    * BIGINTs (associative ⇒ identical under any partial-aggregation
    * order); the single int64→double conversion at the end is
    * correctly-rounded in both engines. (A first cut summed
    * DECIMAL(38,6) and cast to double — exact too, but DuckDB's
    * hugeint-scaled decimal→double cast double-rounds, 1 ULP off
    * Spark's BigDecimal conversion on 5/150 rows.)
    *
    * Scale: one window (hash-partitioned by user, sorted by event time in
    * partition) + one hash aggregation — the same shape as sessionization,
    * no shuffle beyond the user_id exchange. The BIGINT integral needs
    * `cents·Δms·rows_per_key < 2^63` — beyond that (multi-year gaps or
    * billion-event keys) widen the sum to DECIMAL(38,0), still exact. */
  def timeWeightedValue(spark: SparkSession, dir: String): DataFrame =
    timeWeightedValueOf(Tables.events(spark, dir))

  /** [[timeWeightedValue]] over an injectable event frame. */
  def timeWeightedValueOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("v_cents"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("dur_ms",
        unix_millis(col("next_ts")) - unix_millis(col("ts")))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dur_ms")).as("total_ms"),
        sum(col("v_cents") * col("dur_ms")).as("weighted_cents_ms"))
      .select(col("user_id"), col("n_intervals"), col("total_ms"),
        col("weighted_cents_ms"),
        // total_ms = 0 (every event of a key on one timestamp) would
        // otherwise emit NaN; 0 is the honest integral of a
        // zero-length span
        when(col("total_ms") > 0,
          col("weighted_cents_ms").cast("double") /
            (col("total_ms").cast("double") * 100.0))
          .otherwise(lit(0.0)).as("twa_value"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for [[timeWeightedValue]] — same integer integral. */
  private[graft] def timeWeightedValueOracleSql: String =
    """WITH s AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS v_cents,
      |    lead(ts) OVER (PARTITION BY user_id
      |                   ORDER BY ts, event_id) AS next_ts
      |  FROM events),
      |d AS (
      |  SELECT user_id, v_cents,
      |    CAST(epoch_ms(next_ts) - epoch_ms(ts) AS BIGINT) AS dur_ms
      |  FROM s WHERE next_ts IS NOT NULL),
      |r AS (
      |  SELECT user_id, count(*) AS n_intervals,
      |    CAST(sum(dur_ms) AS BIGINT) AS total_ms,
      |    CAST(sum(v_cents * dur_ms) AS BIGINT) AS weighted_cents_ms
      |  FROM d GROUP BY user_id)
      |SELECT user_id, n_intervals, total_ms, weighted_cents_ms,
      |  CASE WHEN total_ms > 0 THEN CAST(weighted_cents_ms AS DOUBLE) /
      |    (CAST(total_ms AS DOUBLE) * 100.0) ELSE 0.0 END AS twa_value
      |FROM r ORDER BY user_id""".stripMargin

  /** Hour-of-day seasonality profile: events folded ACROSS days onto
    * the 24-hour clock — counts, distinct users, exact-decimal value,
    * and each hour's share of the day — the diurnal-load profile behind
    * capacity planning and anomaly baselines (the z-score and rolling
    * ops treat days as the unit; this folds the within-day shape they
    * marginalize out). One partial+final hash aggregate on a 24-key
    * domain; the share division is exact-integer over the broadcast
    * total.
    *
    * Reference analog: the per-minute live metrics
    * (`stream_processor.py:216-244`) capture the instantaneous rate;
    * this is its long-run calendar fold. */
  def hourlySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        BatchOps.moneySum(col("value")).as("total_value"))
    val tot = base.agg(sum(col("n_events")).as("t"))
    base.crossJoin(broadcast(tot))
      .select(col("hour_of_day"), col("n_events"), col("n_users"),
        col("total_value"),
        (col("n_events").cast("double") / col("t").cast("double"))
          .as("event_share"))
      .orderBy("hour_of_day")
  }

  /** DuckDB oracle for [[hourlySeasonality]]. */
  private[graft] def hourlySeasonalityOracleSql: String =
    """WITH b AS (
      |  SELECT CAST(hour(ts) AS INT) AS hour_of_day,
      |    count(*) AS n_events,
      |    count(DISTINCT user_id) AS n_users,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |      AS total_value
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS t FROM b)
      |SELECT hour_of_day, n_events, n_users, total_value,
      |  CAST(n_events AS DOUBLE) / CAST(t.t AS DOUBLE) AS event_share
      |FROM b CROSS JOIN t
      |ORDER BY hour_of_day""".stripMargin

  /** Within-session event-type CO-PRESENCE rules: which event types
    * occur in the same gap-session, with support / directional
    * confidence / lift — the session-grain sibling of
    * [[eventTransitions]] (sequential bigrams) and of the order-grain
    * `basket_rules`: co-presence catches association regardless of
    * order or distance inside the session. Rides the shared
    * [[withSessionSeq]] islands; all metrics are single divisions of
    * exact session counts.
    *
    * Scale: session membership collapses to DISTINCT (session, type)
    * rows (bounded by sessions × type-cardinality); the type pairs are
    * per-session over ≤ |types| members, and marginals/totals are
    * 1-row-per-type broadcasts. */
  def sessionCopresence(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: three plan branches (marginals, total, type
    // pairs) read `types` — without the cut the scan + session
    // windows + distinct would execute three times (the
    // nearDupPairsCore precedent); the frame is (session, type)-grain,
    // tiny.
    val types = withSessionSeq(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts")))
      .select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct()
      .localCheckpoint()
    val marg = types.groupBy("event_type").agg(count(lit(1)).as("n_type"))
    val tot = types.select("user_id", "session_seq").distinct()
      .agg(count(lit(1)).as("t"))
    // The session key is one struct, which is never NULL: events without
    // a user form sessions of their own, as in the oracle's GROUP BY.
    Candidates.pairs(types.select(
        struct(col("user_id"), col("session_seq")).as("session"),
        col("event_type").as("type")), Seq("session"), "type")
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_together"))
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("n_type").as("n_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("n_type").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_together"),
        col("n_a"), col("n_b"),
        (col("n_together").cast("double") / col("t").cast("double"))
          .as("support"),
        (col("n_together").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_together") * col("t")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy("type_a", "type_b")
  }

  /** DuckDB oracle for [[sessionCopresence]] — the island CTEs plus the
    * same distinct-membership pair counts. */
  private[graft] def sessionCopresenceOracleSql: String =
    s"""WITH o AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
       |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts), event_id) AS prev_ms
       |  FROM events),
       |s AS (
       |  SELECT user_id, event_type,
       |    sum(CASE WHEN prev_ms IS NULL
       |             OR ts_ms - prev_ms > $SessionGapMs
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS session_seq
       |  FROM o),
       |t AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
       |tot AS (SELECT count(*) AS t FROM
       |        (SELECT DISTINCT user_id, session_seq FROM t)),
       |marg AS (SELECT event_type, count(*) AS n_type FROM t
       |         GROUP BY event_type),
       |pr AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    count(*) AS n_together
       |  FROM t a
       |  JOIN t b ON a.user_id = b.user_id
       |    AND a.session_seq = b.session_seq
       |    AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT type_a, type_b, n_together,
       |  ma.n_type AS n_a, mb.n_type AS n_b,
       |  CAST(n_together AS DOUBLE) / CAST(tot.t AS DOUBLE) AS support,
       |  CAST(n_together AS DOUBLE) / CAST(ma.n_type AS DOUBLE)
       |    AS confidence,
       |  CAST(n_together * tot.t AS DOUBLE) /
       |    CAST(ma.n_type * mb.n_type AS DOUBLE) AS lift
       |FROM pr
       |JOIN marg ma ON ma.event_type = type_a
       |JOIN marg mb ON mb.event_type = type_b
       |CROSS JOIN tot
       |ORDER BY type_a, type_b""".stripMargin

  /** Cumulative audience reach per day: how many distinct users have
    * been seen up to and including each active day. Computed the
    * SCALABLE way — each user reduced to a first-touch day (one hash
    * aggregate), daily new-user counts, then one running sum over the
    * tiny day spine — NOT as a count-distinct over an expanding window,
    * which re-buffers every prior user per day and is quadratic at
    * 100 TB. Days with events but no first-timers still emit (spine
    * LEFT join), so the curve is dense over active days. All-integer.
    * Reference analog: the `total_customers`-style monotone counters in
    * `python/cdc_processor.py:124-131`, here with full daily history. */
  def cumulativeReach(spark: SparkSession, dir: String): DataFrame =
    cumulativeReachOf(Tables.events(spark, dir))

  /** [[cumulativeReach]] over an injectable event frame (the streaming
    * first-touch twin's spec pins against this). */
  def cumulativeReachOf(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstTouch = ev.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val spine = ev.select("day").distinct()
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(firstTouch, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cumulative_users", sum(col("new_users")).over(w))
      .orderBy("day")
  }

  /** DuckDB oracle for [[cumulativeReach]]. */
  private[graft] def cumulativeReachOracleSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |ft AS (
      |  SELECT day, count(*) AS new_users FROM (
      |    SELECT user_id, min(day) AS day FROM ev GROUP BY user_id)
      |  GROUP BY day),
      |spine AS (SELECT DISTINCT day FROM ev)
      |SELECT spine.day,
      |  CAST(coalesce(ft.new_users, 0) AS BIGINT) AS new_users,
      |  CAST(sum(coalesce(ft.new_users, 0))
      |    OVER (ORDER BY spine.day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cumulative_users
      |FROM spine LEFT JOIN ft ON spine.day = ft.day
      |ORDER BY spine.day""".stripMargin

  /** Sessionization via Spark's NATIVE `session_window` aggregation —
    * the same [[SessionGapMs]]-gap sessions as [[eventSessions]], but
    * computed by the engine's dedicated session operator
    * (UpdatingSessions + merging session aggregation in the physical
    * plan) instead of the lag/cumsum island construction. Registered as
    * its own oracle-checked query precisely because the oracle DERIVES
    * sessions from first principles (the island SQL): a hash match
    * proves Spark's native operator and the textbook construction agree
    * on every session boundary, count, and decimal sum — operator
    * coverage the island twin alone cannot claim. The native form is
    * also the one that generalizes to streaming (`session_window` +
    * watermark), where the cumsum construction is inexpressible.
    *
    * The emitted `session_end_ms` is the native operator's window end —
    * LAST EVENT + GAP (the close boundary), not [[eventSessions]]'
    * last-event time; the oracle mirrors that definition. */
  def sessionWindowNative(spark: SparkSession, dir: String): DataFrame =
    sessionWindowNativeOf(Tables.events(spark, dir))

  /** [[sessionWindowNative]] over an injectable event frame. */
  def sessionWindowNativeOf(events: DataFrame): DataFrame =
    events
      // Gap passed in MILLISECONDS: the earlier `SessionGapMs / 1000
      // seconds` form silently truncated sub-second gaps (integer
      // division), desynchronizing the native operator from the
      // oracle's microsecond rule with no error.
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMs milliseconds")
          .as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        unix_millis(col("sw.end")).as("session_end_ms"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start_ms")

  /** DuckDB oracle for [[sessionWindowNative]] — sessions derived from
    * FIRST PRINCIPLES (gap islands via lag + running sum), end boundary
    * = last event + gap to match the native window's close. */
  private[graft] def sessionWindowNativeOracleSql: String =
    s"""WITH o AS (
       |  SELECT user_id, value, event_id, epoch_ms(ts) AS ts_ms,
       |    epoch_us(ts) AS ts_us,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |s AS (
       |  -- the native operator merges on STRICT window overlap in
       |  -- MICROSECONDS: same session iff diff < gap, new iff >= gap.
       |  -- The cumsum window carries the SAME (ts, event_id) tiebreak
       |  -- as the lag above: same-timestamp twins must fold in the
       |  -- order their island flags were computed, or the running sum
       |  -- could number them nondeterministically.
       |  SELECT user_id, value, ts_ms,
       |    sum(CASE WHEN prev_us IS NULL
       |             OR ts_us - prev_us >= ${SessionGapMs * 1000}
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS session_seq
       |  FROM o)
       |SELECT user_id,
       |  min(ts_ms) AS session_start_ms,
       |  max(ts_ms) + $SessionGapMs AS session_end_ms,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_value
       |FROM s
       |GROUP BY user_id, session_seq
       |ORDER BY user_id, session_start_ms""".stripMargin

  /** Resample grid step (6 h in millis; shared with the oracle). */
  val ResampleGridMs: Long = 6L * 3600 * 1000

  /** Gauge resampling onto a regular grid — the as-of-join + LINEAR
    * INTERPOLATION operator: each user's irregular `value` signal is
    * evaluated at every [[ResampleGridMs]] boundary inside that user's
    * observed span, interpolating between the surrounding events. The
    * time-series regularization every monitoring store performs, and the
    * interpolating upgrade of [[timeWeightedValue]]'s step-function
    * view. Exactness: the interpolation numerator
    * `v₁·(t₂−t) + v₂·(t−t₁)` is built from integer cents and integer
    * millis, so it is an exact BIGINT; the one double division at the
    * end is bit-deterministic. Same-timestamp twins degenerate to
    * `t₂ = t₁` — guarded by a CASE that holds the left value.
    *
    * Mechanics: grid rows (per-user `sequence()` over the span — array
    * length ≤ span/step, no driver loop) are UNIONed with the events,
    * one per-user window sorted by (time, grid-after-event) finds the
    * surrounding events via `last/first(..., ignoreNulls)` — the
    * standard union-merge as-of pattern, one shuffle on user_id, no
    * join at all. */
  def gaugeResample(spark: SparkSession, dir: String): DataFrame =
    gaugeResampleOf(Tables.events(spark, dir))

  /** [[gaugeResample]] over an injectable event frame.
    *
    * EAGER-MATERIALIZATION contract (r18): constructing this DataFrame
    * localCheckpoints the projected event frame, so the call runs a
    * Spark job immediately — build-only callers (plan dumps, property
    * tests injecting large frames) pay that materialization even if
    * they never execute the returned plan. */
  def gaugeResampleOf(events: DataFrame): DataFrame = {
    // r18 optimization (guide §1.2, the keptCk device): the projected
    // event frame feeds TWO branches — the grid-bounds aggregate and
    // the union-merge itself — and as a plain plan the events scan +
    // timestamp/cents projection executed once per branch. One
    // localCheckpoint of the narrow all-long frame pays the scan once.
    val ev = events
      .select(col("user_id"), unix_millis(col("ts")).as("t"),
        col("event_id"),
        round(col("value") * 100).cast("long").as("v_cents"))
      .localCheckpoint()
    val grid = ev.groupBy("user_id")
      .agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      // integer-floor grid bounds ("/" on longs is double division in
      // the DataFrame DSL — `div` keeps it exact), and a guard for
      // spans shorter than one step (Spark's sequence(a, b) DESCENDS
      // when b < a where DuckDB's generate_series is empty)
      .select(col("user_id"),
        expr(s"(lo + ${ResampleGridMs - 1}) div $ResampleGridMs")
          .as("k_lo"),
        expr(s"hi div $ResampleGridMs").as("k_hi"))
      .filter(col("k_hi") >= col("k_lo"))
      .select(col("user_id"),
        explode(sequence(col("k_lo"), col("k_hi"))).as("k"))
      .select(col("user_id"), (col("k") * ResampleGridMs).as("t"),
        lit(-1L).as("event_id"),
        lit(null).cast("long").as("v_cents"), lit(1).as("is_grid"))
    val merged = ev.withColumn("is_grid", lit(0))
      .select("user_id", "t", "event_id", "v_cents", "is_grid")
      .unionByName(grid)
    // event_id tiebreak: same-(user, t) event twins would otherwise make
    // last()/first() engine-dependent (grid rows are already unique and
    // ordered after events by is_grid)
    val w = Window.partitionBy("user_id")
      .orderBy(col("t"), col("is_grid"), col("event_id"))
    val back = w.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = w.rowsBetween(0, Window.unboundedFollowing)
    merged
      .withColumn("pv", last(col("v_cents"), ignoreNulls = true).over(back))
      .withColumn("pt",
        last(when(col("is_grid") === 0, col("t")), ignoreNulls = true)
          .over(back))
      .withColumn("nv", first(col("v_cents"), ignoreNulls = true).over(fwd))
      .withColumn("nt",
        first(when(col("is_grid") === 0, col("t")), ignoreNulls = true)
          .over(fwd))
      .filter(col("is_grid") === 1 &&
        col("pv").isNotNull && col("nv").isNotNull)
      .select(col("user_id"), col("t").as("grid_ms"),
        (col("t") - col("pt")).as("ms_since_prev"),
        (col("nt") - col("t")).as("ms_to_next"),
        when(col("nt") > col("pt"),
          (col("pv") * (col("nt") - col("t")) +
            col("nv") * (col("t") - col("pt"))).cast("double") /
            ((col("nt") - col("pt")).cast("double") * 100.0))
          .otherwise(col("pv").cast("double") / 100.0)
          .as("interp_value"))
      .orderBy("user_id", "grid_ms")
  }

  /** DuckDB oracle for [[gaugeResample]] — same union-merge as-of walk,
    * same exact-integer interpolation numerator. */
  private[graft] def gaugeResampleOracleSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS t, event_id,
       |    CAST(round(value * 100) AS BIGINT) AS v_cents
       |  FROM events),
       |grid AS (
       |  SELECT user_id, k * $ResampleGridMs AS t,
       |    CAST(-1 AS BIGINT) AS event_id,
       |    CAST(NULL AS BIGINT) AS v_cents, 1 AS is_grid
       |  FROM (SELECT user_id, min(t) AS lo, max(t) AS hi
       |        FROM ev GROUP BY user_id),
       |    unnest(generate_series((lo + $ResampleGridMs - 1)
       |      // $ResampleGridMs, hi // $ResampleGridMs)) AS g(k)),
       |m AS (
       |  SELECT user_id, t, event_id, v_cents, 0 AS is_grid FROM ev
       |  UNION ALL
       |  SELECT user_id, t, event_id, v_cents, is_grid FROM grid),
       |x AS (
       |  SELECT user_id, t, is_grid,
       |    last_value(v_cents IGNORE NULLS) OVER back AS pv,
       |    last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
       |      OVER back AS pt,
       |    first_value(v_cents IGNORE NULLS) OVER fwd AS nv,
       |    first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
       |      OVER fwd AS nt
       |  FROM m
       |  WINDOW
       |    back AS (PARTITION BY user_id ORDER BY t, is_grid, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    fwd AS (PARTITION BY user_id ORDER BY t, is_grid, event_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT user_id, t AS grid_ms,
       |  t - pt AS ms_since_prev,
       |  nt - t AS ms_to_next,
       |  CASE WHEN nt > pt THEN
       |    CAST(pv * (nt - t) + nv * (t - pt) AS DOUBLE) /
       |      (CAST(nt - pt AS DOUBLE) * 100.0)
       |  ELSE CAST(pv AS DOUBLE) / 100.0 END AS interp_value
       |FROM x
       |WHERE is_grid = 1 AND pv IS NOT NULL AND nv IS NOT NULL
       |ORDER BY user_id, grid_ms""".stripMargin

  /** CDC offset-continuity audit: after [[tableDispatch]] routes the
    * change stream into per-target topics, each target sees a
    * SUBSEQUENCE of the global `event_id` offsets — exactly the shape of
    * a Kafka topic fed by a table-router. This audit reports, per target,
    * how many offset gaps the subsequence has and their total/max width:
    * the production check that distinguishes "events legitimately routed
    * elsewhere" from "a consumer silently skipped offsets" (run it on the
    * pre-routing stream, where ANY gap is data loss). Pure integer lag
    * arithmetic; mirrors the offset bookkeeping the reference trusts to
    * Kafka consumer groups (`python/utils.py:86-100`).
    *
    * Scale: `target` is a THREE-value routing enum over the event-grain
    * offset stream — a keyed lag window would serialize the whole feed
    * through three tasks (the enum-keyed sibling of the SinglePartition
    * hazard), so the predecessor pairing rides
    * [[graft.operators.GlobalRank.withGroupedRowNumber]]'s two-phase
    * pass over the compound (target, event_id) order and an rn = rn+1
    * self-join on the dense per-target rank (hash join on a gap-free
    * key — the `snm_neardup` successor pattern; the inner join drops
    * each target's first offset exactly as the lag's null filter did).
    * At production scale the partition key is (topic, kafka_partition)
    * so the per-group rank is per-partition offsets + a tiny final
    * aggregation. */
  def cdcGapDetection(spark: SparkSession, dir: String): DataFrame =
    cdcGapDetectionOf(Tables.events(spark, dir))

  /** [[cdcGapDetection]] over an injectable event frame (the streaming
    * twin's spec pins `StreamOps.offsetGapState` totals to this). */
  def cdcGapDetectionOf(events: DataFrame): DataFrame = {
    // DISTINCT (target, offset): a replayed/duplicate offset is not a
    // gap and must not produce a negative lag delta — the same
    // skip-non-advancing rule the streaming twin
    // (`StreamOps.offsetGapState`) applies to its cursor, so the two
    // audits stay pinned on replayed feeds, not just clean ones.
    val routed = events
      .withColumn("target", routingTarget)
      .filter(col("target").isNotNull)
      .select("target", "event_id").distinct()
    val ranked = GlobalRank.withGroupedRowNumber(routed, "rn",
      Seq(col("target")), Seq(col("event_id")))
    val predecessor = ranked.select(col("target"),
      (col("rn") + 1).as("rn"), col("event_id").as("prev_id"))
    ranked
      .join(predecessor, Seq("target", "rn"))
      .withColumn("gap", col("event_id") - col("prev_id") - lit(1L))
      .groupBy("target")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
        sum(col("gap")).as("missing_total"),
        max(col("gap")).as("max_gap"),
        min(col("prev_id")).as("first_offset"),
        max(col("event_id")).as("last_offset"))
      .orderBy("target")
  }

  /** DuckDB oracle for [[cdcGapDetection]]. */
  private[graft] def cdcGapDetectionOracleSql: String =
    """WITH routed AS (
      |  SELECT DISTINCT event_id,
      |    CASE WHEN event_type = 'signup' THEN 'customer_cache'
      |         WHEN event_type = 'purchase' THEN 'order_cache'
      |         WHEN event_type IN ('click', 'view') THEN 'activity_cache'
      |    END AS target
      |  FROM events
      |  WHERE event_type IN ('signup', 'purchase', 'click', 'view')),
      |l AS (
      |  SELECT target, event_id,
      |    lag(event_id) OVER (PARTITION BY target ORDER BY event_id)
      |      AS prev_id
      |  FROM routed),
      |g AS (
      |  SELECT target, event_id, prev_id, event_id - prev_id - 1 AS gap
      |  FROM l WHERE prev_id IS NOT NULL)
      |SELECT target, count(*) AS n_intervals,
      |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_gaps,
      |  CAST(sum(gap) AS BIGINT) AS missing_total,
      |  max(gap) AS max_gap,
      |  min(prev_id) AS first_offset,
      |  max(event_id) AS last_offset
      |FROM g GROUP BY target
      |ORDER BY target""".stripMargin

  /** Semi-structured SCHEMA census over the event `props` JSON — the
    * key-frequency inventory a pipeline maintains to detect payload
    * drift (a producer adding/renaming a field shows up as a new
    * (event_type, key) row or a share collapse long before anything
    * downstream breaks). Rides the same seeded corruption as
    * [[deadletterAudit]] so the malformed class is exercised:
    * unparseable payloads census as the `__invalid__` pseudo-key
    * rather than vanishing. Top-level keys via `json_object_keys`
    * (codegen'd, no UDF); share is the standing non-negative floor
    * mille against the type's EVENT count (multi-key events count
    * once per key row, once in the denominator).
    *
    * Scale: one projection + explode (bounded by keys-per-payload,
    * a schema constant) + one (type, key) partial+final aggregate;
    * the per-type totals frame is type-cardinality and broadcasts. */
  def propsKeyCensus(spark: SparkSession, dir: String): DataFrame = {
    val seeded = Tables.events(spark, dir)
      .withColumn("p",
        when(col("event_id") % 13 === 0,
          expr("substring(props, 1, length(props) - 2)"))
          .when(col("event_id") % 17 === 0, lit("""{"other": 1}"""))
          .otherwise(col("props")))
      .localCheckpoint()
    val totals = seeded.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
    seeded
      .select(col("event_type"),
        explode(coalesce(expr("json_object_keys(p)"),
          array(lit("__invalid__")))).as("key"))
      .groupBy("event_type", "key")
      .agg(count(lit(1)).as("n_rows"))
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("share_mille", expr("n_rows * 1000 div n_events"))
      .select("event_type", "key", "n_rows", "n_events", "share_mille")
      .orderBy("event_type", "key")
  }

  /** DuckDB oracle for [[propsKeyCensus]] — TRY_CAST to JSON maps
    * malformed payloads to NULL (the [[deadletterAuditOracleSql]]
    * lesson: json_keys on a raw string THROWS on malformed rows even
    * under a guard, because CASE branches evaluate vectorized-
    * eagerly). */
  private[graft] def propsKeyCensusOracleSql: String =
    s"""WITH s AS (
       |  SELECT event_type,
       |    CASE WHEN event_id % 13 = 0
       |      THEN substring(props, 1, length(props) - 2)
       |      WHEN event_id % 17 = 0 THEN '{"other": 1}'
       |      ELSE props END AS p
       |  FROM events),
       |x AS (
       |  SELECT event_type,
       |    unnest(coalesce(json_keys(TRY_CAST(p AS JSON)),
       |      ['__invalid__'])) AS key
       |  FROM s),
       |tot AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
       |  FROM s GROUP BY 1)
       |SELECT x.event_type, x.key,
       |  CAST(count(*) AS BIGINT) AS n_rows, tot.n_events,
       |  CAST(count(*) AS BIGINT) * 1000 // tot.n_events AS share_mille
       |FROM x JOIN tot ON x.event_type = tot.event_type
       |GROUP BY 1, 2, tot.n_events
       |ORDER BY 1, 2""".stripMargin

  /** VARIANT-typed payload analytics (`parse_json` → `variant_get`,
    * new in Spark 4) — the engine-surface answer to "stop re-parsing
    * JSON strings": the payload parses ONCE into the binary VARIANT
    * encoding, and every field extraction is an offset lookup on that
    * buffer, where the classic `get_json_object` chain re-parses the
    * string per path per row. Same seeded corruption as
    * [[propsKeyCensus]] (event_id moduli), so the three-way outcome
    * census is pinned: invalid payloads (`try_parse_json` → NULL),
    * valid-but-missing key, and typed extraction with exact integer
    * stats per event_type.
    *
    * Scale: one projection pass (parse + two extractions in the same
    * codegen stage), one (type) partial+final aggregate. At fact
    * scale the variant parse is the whole cost of the column — paths
    * beyond the first are free, which is the reason this surface
    * exists. */
  def propsVariantStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("p",
        when(col("event_id") % 13 === 0,
          expr("substring(props, 1, length(props) - 2)"))
          .when(col("event_id") % 17 === 0, lit("""{"other": 1}"""))
          .otherwise(col("props")))
      .withColumn("v", expr("try_parse_json(p)"))
      .withColumn("k", expr("variant_get(v, '$.k', 'long')"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_invalid"),
        sum(when(col("v").isNotNull && col("k").isNull, 1L)
          .otherwise(0L)).as("n_missing_k"),
        sum(coalesce(col("k"), lit(0L))).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** DuckDB oracle for [[propsVariantStats]] — TRY_CAST-to-JSON
    * stands in for try_parse_json, json_extract for variant_get. */
  private[graft] def propsVariantStatsOracleSql: String =
    s"""WITH s AS (
       |  SELECT event_type,
       |    CASE WHEN event_id % 13 = 0
       |      THEN substring(props, 1, length(props) - 2)
       |      WHEN event_id % 17 = 0 THEN '{"other": 1}'
       |      ELSE props END AS p
       |  FROM events),
       |x AS (
       |  SELECT event_type, TRY_CAST(p AS JSON) AS v,
       |    TRY_CAST(json_extract(TRY_CAST(p AS JSON), '$$.k')
       |      AS BIGINT) AS k
       |  FROM s)
       |SELECT event_type,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_invalid,
       |  CAST(count(*) FILTER (WHERE v IS NOT NULL AND k IS NULL)
       |    AS BIGINT) AS n_missing_k,
       |  CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k,
       |  min(k) AS min_k, max(k) AS max_k
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** Payload-key LIFECYCLE timeline — [[propsKeyCensus]]'s drift
    * detector extended with WHEN: per (event_type, key), first/last
    * day observed, distinct active days, and a coverage mille
    * (active days ÷ calendar span). The lifecycle answers the schema-
    * forensics questions the census can't: a key with last_day in the
    * past was RENAMED AWAY (its replacement shows a late first_day);
    * coverage ≪ 1000 over a long span means an intermittent producer,
    * not a schema change. Rides the same seeded corruption, so
    * `__invalid__` gets a timeline too (when did the producer break?).
    *
    * Scale: same bounded key explode as the census, one (type, key)
    * partial+final aggregate — the distinct-day count is the only
    * extra state and is calendar-bounded per group. */
  def propsKeyTimeline(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("p",
        when(col("event_id") % 13 === 0,
          expr("substring(props, 1, length(props) - 2)"))
          .when(col("event_id") % 17 === 0, lit("""{"other": 1}"""))
          .otherwise(col("props")))
      .select(col("event_type"), to_date(col("ts")).as("day"),
        explode(coalesce(expr("json_object_keys(p)"),
          array(lit("__invalid__")))).as("key"))
      .groupBy("event_type", "key")
      .agg(min(col("day")).as("first_day"),
        max(col("day")).as("last_day"),
        countDistinct(col("day")).as("n_days_active"),
        count(lit(1)).as("n_rows"))
      .withColumn("span_days",
        (datediff(col("last_day"), col("first_day")) + 1).cast("long"))
      .withColumn("coverage_mille",
        expr("(n_days_active * 1000) div span_days"))
      .orderBy("event_type", "key")

  /** DuckDB oracle for [[propsKeyTimeline]] — same TRY_CAST guard,
    * same calendar arithmetic. */
  private[graft] def propsKeyTimelineOracleSql: String =
    s"""WITH s AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CASE WHEN event_id % 13 = 0
       |      THEN substring(props, 1, length(props) - 2)
       |      WHEN event_id % 17 = 0 THEN '{"other": 1}'
       |      ELSE props END AS p
       |  FROM events),
       |x AS (
       |  SELECT event_type, day,
       |    unnest(coalesce(json_keys(TRY_CAST(p AS JSON)),
       |      ['__invalid__'])) AS key
       |  FROM s),
       |g AS (
       |  SELECT event_type, key,
       |    min(day) AS first_day, max(day) AS last_day,
       |    CAST(count(DISTINCT day) AS BIGINT) AS n_days_active,
       |    count(*) AS n_rows
       |  FROM x GROUP BY 1, 2)
       |SELECT event_type, key, first_day, last_day, n_days_active,
       |  n_rows,
       |  CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT)
       |    AS span_days,
       |  (n_days_active * 1000) //
       |    CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT)
       |    AS coverage_mille
       |FROM g
       |ORDER BY event_type, key""".stripMargin

  /** ERASURE (right-to-be-forgotten) completeness audit — the
    * compliance check a CDC pipeline runs after compaction: for every
    * key whose LATEST op is a tombstone, the compacted state must hold
    * zero rows. Audits [[upsertLatest]]'s contract from the outside:
    * `n_violations` joins the survivor state against the erased-key
    * set (must be 0), and `n_control_violations` runs the SAME probe
    * against a state that ignored tombstones — it re-surfaces every
    * erased key, proving the probe detects what it claims to detect
    * (the [[fkOrphanAudit]] seeded-control discipline).
    *
    * Scale: one key-partitioned compaction window (shared shape with
    * upsertLatest), then erased keys — a small fraction — broadcast
    * into two semi-join counts; the five 1-row aggregates cross-join
    * broadcast into the report row. */
  def gdprErasureAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("op", opCol)
      .select("user_id", "op")
      .localCheckpoint()
    val erased = latest.filter(col("op") === "d").select("user_id")
    val survivors = latest.filter(col("op") =!= "d").select("user_id")
    latest.agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(erased.agg(count(lit(1)).as("n_erased"))))
      .crossJoin(broadcast(
        survivors.agg(count(lit(1)).as("n_state_rows"))))
      .crossJoin(broadcast(survivors.join(erased, Seq("user_id"))
        .agg(count(lit(1)).as("n_violations"))))
      .crossJoin(broadcast(latest.select("user_id")
        .join(erased, Seq("user_id"))
        .agg(count(lit(1)).as("n_control_violations"))))
  }

  /** DuckDB oracle for [[gdprErasureAudit]]. */
  private[graft] def gdprErasureAuditOracleSql: String =
    s"""WITH l AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events),
       |top AS (
       |  SELECT user_id,
       |    CASE WHEN event_type = 'signup' THEN 'c'
       |         WHEN event_type = 'error' THEN 'd'
       |         ELSE 'u' END AS op
       |  FROM l WHERE rn = 1),
       |e AS (SELECT user_id FROM top WHERE op = 'd'),
       |s AS (SELECT user_id FROM top WHERE op <> 'd')
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM top) AS n_users,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_erased,
       |  (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_state_rows,
       |  (SELECT CAST(count(*) AS BIGINT) FROM s
       |     JOIN e ON s.user_id = e.user_id) AS n_violations,
       |  (SELECT CAST(count(*) AS BIGINT) FROM top
       |     JOIN e ON top.user_id = e.user_id)
       |    AS n_control_violations""".stripMargin

  /** TEMPORAL DIMENSION JOIN — every event enriched with the SCD2
    * version of its OWN entity in force STRICTLY BEFORE the event (the
    * pre-image): the per-fact-row as-of join a warehouse runs between
    * a fact table and a versioned dimension, where [[scd2Asof]] answers
    * only the fixed-instant snapshot. Built as the union-merge as-of
    * walk ([[gaugeResample]]'s one-pass shape, re-keyed): version-open
    * rows carry their version number, tombstones carry a −1 RESET
    * sentinel (a running `last(ignoreNulls)` cannot un-see a value —
    * the sentinel is how a delete clears state inside one window
    * pass), fact rows carry null, and at equal (ts, event) the fact
    * sorts FIRST so it cannot see its own version row — that one sort
    * key IS the strictly-before semantics.
    *
    * Scale: two user-keyed windows (version numbering, merge walk) —
    * the same exchange key, no joins, no explode; at 100 TB this is
    * one shuffle + sorts, the cheapest temporal-join shape there is
    * (the naive interval join is the BNLJ trap). */
  def temporalDimJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"), opCol.as("op"))
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val versions = e
      .withColumn("version_no",
        sum(when(col("op") =!= "d", 1L).otherwise(0L)).over(wRun))
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        when(col("op") === "d", -1L).otherwise(col("version_no")).as("v"),
        lit(0).as("is_fact"), col("op"))
    val facts = e.select(col("user_id"), col("ts_ms"), col("event_id"),
      lit(null).cast("long").as("v"), lit(1).as("is_fact"), col("op"))
    val wm = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("event_id"), col("is_fact").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions.unionByName(facts)
      .withColumn("run_v", last(col("v"), ignoreNulls = true).over(wm))
      .filter(col("is_fact") === 1)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("op"),
        expr("CASE WHEN run_v = -1 THEN NULL ELSE run_v END")
          .as("prev_version_no"))
      .withColumn("had_prior_state", col("prev_version_no").isNotNull)
      .orderBy("event_id")
  }

  /** DuckDB oracle for [[temporalDimJoin]] — the same two-window walk
    * (`last_value … IGNORE NULLS` with the fact-first sort key). */
  private[graft] def temporalDimJoinOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |    CASE WHEN event_type = 'signup' THEN 'c'
       |         WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
       |  FROM events),
       |vn AS (
       |  SELECT user_id, ts_ms, event_id, op,
       |    CAST(sum(CASE WHEN op <> 'd' THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY user_id ORDER BY ts_ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS version_no
       |  FROM e),
       |m AS (
       |  SELECT user_id, ts_ms, event_id,
       |    CASE WHEN op = 'd' THEN -1 ELSE version_no END AS v,
       |    0 AS is_fact, op
       |  FROM vn
       |  UNION ALL
       |  SELECT user_id, ts_ms, event_id, NULL, 1, op FROM e),
       |r AS (
       |  SELECT *,
       |    last_value(v IGNORE NULLS) OVER (
       |      PARTITION BY user_id
       |      ORDER BY ts_ms, event_id, is_fact DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_v
       |  FROM m)
       |SELECT event_id, user_id, ts_ms, op,
       |  CASE WHEN run_v = -1 THEN NULL ELSE run_v END
       |    AS prev_version_no,
       |  CASE WHEN run_v = -1 THEN FALSE ELSE run_v IS NOT NULL END
       |    AS had_prior_state
       |FROM r WHERE is_fact = 1
       |ORDER BY event_id""".stripMargin

  /** MULTI-TOUCH MODEL COMPARISON — first-touch, last-touch, linear,
    * and organic, as four summary rows over the SAME attributed-pair
    * frame: purchases attributed, distinct clicks credited, and total
    * credited cents. The single-touch models credit one click per
    * purchase; linear credits every in-window click; every
    * non-organic model credits the SAME total (credit conservation —
    * visible in the frame as an invariant, the point of running the
    * comparison). The A/B table a marketing review reads before
    * switching models — built beside [[purchaseAttribution]]
    * (last-click detail) and [[attributionLinear]] (linear detail).
    *
    * Scale: the pair frame builds once (user-key join, lookback-
    * bounded) and is lineage-cut; each model is one aggregate over
    * it. */
  def attributionModelsCompare(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_millis(col("ts")).as("ts_ms"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        round(col("value") * 100).cast("long").as("value_c"),
        col("ts_ms").as("purchase_ms"))
      .localCheckpoint()
    val pairs = purchases.join(clicks, "user_id")
      .filter(col("click_ms") <= col("purchase_ms") &&
        col("purchase_ms") - col("click_ms") <= AttributionWindowMs)
      .localCheckpoint()
    val wLast = Window.partitionBy("purchase_id")
      .orderBy(col("click_ms").desc, col("click_id").desc)
    val wFirst = Window.partitionBy("purchase_id")
      .orderBy(col("click_ms").asc, col("click_id").asc)
    def touch(model: String, w: org.apache.spark.sql.expressions
        .WindowSpec): DataFrame =
      pairs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .agg(countDistinct(col("purchase_id")).as("n_purchases"),
          countDistinct(col("click_id")).as("n_credited_clicks"),
          sum(col("value_c")).as("credited_c"))
        .select(lit(model).as("model"), col("n_purchases"),
          col("n_credited_clicks"), col("credited_c"))
    val linear = pairs
      .agg(countDistinct(col("purchase_id")).as("n_purchases"),
        countDistinct(col("click_id")).as("n_credited_clicks"))
      .crossJoin(broadcast(pairs.select("purchase_id", "value_c")
        .distinct().agg(sum(col("value_c")).as("credited_c"))))
      .select(lit("linear").as("model"), col("n_purchases"),
        col("n_credited_clicks"), col("credited_c"))
    val organic = purchases
      .join(pairs.select("purchase_id").distinct(),
        Seq("purchase_id"), "left_anti")
      .agg(count(lit(1)).as("n_purchases"),
        lit(0L).as("n_credited_clicks"),
        coalesce(sum(col("value_c")), lit(0L)).as("credited_c"))
      .select(lit("organic").as("model"), col("n_purchases"),
        col("n_credited_clicks"), col("credited_c"))
    touch("first_touch", wFirst)
      .unionByName(touch("last_touch", wLast))
      .unionByName(linear)
      .unionByName(organic)
      .orderBy("model")
  }

  /** DuckDB oracle for [[attributionModelsCompare]]. */
  private[graft] def attributionModelsCompareOracleSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type,
       |    CAST(round(value * 100) AS BIGINT) AS value_c,
       |    epoch_ms(ts) AS ts_ms
       |  FROM events),
       |c AS (
       |  SELECT user_id, event_id AS click_id, ts_ms AS click_ms
       |  FROM ev WHERE event_type = 'click'),
       |p AS (
       |  SELECT user_id, event_id AS purchase_id, value_c,
       |    ts_ms AS purchase_ms
       |  FROM ev WHERE event_type = 'purchase'),
       |pr AS (
       |  SELECT p.purchase_id, p.value_c, c.click_id, c.click_ms,
       |    p.purchase_ms
       |  FROM p JOIN c ON p.user_id = c.user_id
       |  WHERE c.click_ms <= p.purchase_ms
       |    AND p.purchase_ms - c.click_ms <= $AttributionWindowMs),
       |lastt AS (
       |  SELECT * FROM (
       |    SELECT purchase_id, value_c, click_id,
       |      row_number() OVER (PARTITION BY purchase_id
       |        ORDER BY click_ms DESC, click_id DESC) AS rk
       |    FROM pr) WHERE rk = 1),
       |firstt AS (
       |  SELECT * FROM (
       |    SELECT purchase_id, value_c, click_id,
       |      row_number() OVER (PARTITION BY purchase_id
       |        ORDER BY click_ms ASC, click_id ASC) AS rk
       |    FROM pr) WHERE rk = 1),
       |pv AS (SELECT DISTINCT purchase_id, value_c FROM pr)
       |SELECT 'first_touch' AS model,
       |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       |  CAST(count(DISTINCT click_id) AS BIGINT) AS n_credited_clicks,
       |  CAST(sum(value_c) AS BIGINT) AS credited_c
       |FROM firstt
       |UNION ALL
       |SELECT 'last_touch',
       |  CAST(count(DISTINCT purchase_id) AS BIGINT),
       |  CAST(count(DISTINCT click_id) AS BIGINT),
       |  CAST(sum(value_c) AS BIGINT)
       |FROM lastt
       |UNION ALL
       |SELECT 'linear',
       |  CAST(count(DISTINCT purchase_id) AS BIGINT),
       |  CAST(count(DISTINCT click_id) AS BIGINT),
       |  (SELECT CAST(sum(value_c) AS BIGINT) FROM pv)
       |FROM pr
       |UNION ALL
       |SELECT 'organic',
       |  CAST(count(*) AS BIGINT),
       |  CAST(0 AS BIGINT),
       |  CAST(coalesce(sum(value_c), 0) AS BIGINT)
       |FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM pr)
       |ORDER BY model""".stripMargin

  /** CONVERSION-LAG histogram — minutes between the last-touch click
    * and its purchase, counted per minute bucket: the latency
    * distribution that justifies (or indicts) the attribution
    * lookback window. Buckets are floor-div minutes of a non-negative
    * lag — pure integers.
    *
    * Scale: rides the same user-key join; one bucket-grain partial+
    * final aggregate. */
  def conversionLagHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ms").as("purchase_ms"))
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("click_ms").desc, col("click_id").desc)
    purchases.join(clicks, "user_id")
      .filter(col("click_ms") <= col("purchase_ms") &&
        col("purchase_ms") - col("click_ms") <= AttributionWindowMs)
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .withColumn("lag_min",
        expr("(purchase_ms - click_ms) div 60000"))
      .groupBy("lag_min")
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy("lag_min")
  }

  /** DuckDB oracle for [[conversionLagHistogram]]. */
  private[graft] def conversionLagHistogramOracleSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
       |  FROM events),
       |c AS (
       |  SELECT user_id, event_id AS click_id, ts_ms AS click_ms
       |  FROM ev WHERE event_type = 'click'),
       |p AS (
       |  SELECT user_id, event_id AS purchase_id, ts_ms AS purchase_ms
       |  FROM ev WHERE event_type = 'purchase'),
       |last1 AS (
       |  SELECT * FROM (
       |    SELECT p.purchase_id, p.purchase_ms, c.click_ms,
       |      row_number() OVER (PARTITION BY p.purchase_id
       |        ORDER BY c.click_ms DESC, c.click_id DESC) AS rk
       |    FROM p JOIN c ON p.user_id = c.user_id
       |    WHERE c.click_ms <= p.purchase_ms
       |      AND p.purchase_ms - c.click_ms <= $AttributionWindowMs)
       |  WHERE rk = 1)
       |SELECT (purchase_ms - click_ms) // 60000 AS lag_min,
       |  CAST(count(*) AS BIGINT) AS n_conversions
       |FROM last1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** SESSION ENTRY→EXIT matrix — which event type OPENS each gap-
    * island session against which type CLOSES it, counted over the
    * corpus: the landing/parting behavior table next to
    * [[eventTransitions]]' within-session Markov counts and
    * `bounce_rate`'s single-event share (the diagonal of this matrix
    * restricted to 1-event sessions). Rides [[withSessionSeq]] — the
    * ONE shared island assignment — plus two rank picks per session.
    *
    * Scale: one user shuffle (shared with every session op), two
    * per-session WindowGroupLimit picks, one matrix-grain aggregate
    * (≤ types²). */
  def sessionEntryExit(spark: SparkSession, dir: String): DataFrame = {
    val sess = withSessionSeq(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts")))
    val wAsc = Window.partitionBy("user_id", "session_seq")
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("user_id", "session_seq")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    sess
      .withColumn("rk_first", row_number().over(wAsc))
      .withColumn("rk_last", row_number().over(wDesc))
      .withColumn("entry_type",
        when(col("rk_first") === 1, col("event_type")))
      .withColumn("exit_type",
        when(col("rk_last") === 1, col("event_type")))
      .groupBy("user_id", "session_seq")
      .agg(max(col("entry_type")).as("entry_type"),
        max(col("exit_type")).as("exit_type"))
      .groupBy("entry_type", "exit_type")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("entry_type", "exit_type")
  }

  /** DuckDB oracle for [[sessionEntryExit]] — the shared gap-island
    * CTE plus two rank picks. */
  private[graft] def sessionEntryExitOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
       |  FROM events),
       |s AS (
       |  SELECT *,
       |    CASE WHEN lag(ts_ms) OVER w IS NULL
       |      OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs
       |      THEN 1 ELSE 0 END AS new_sess
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |g AS (
       |  SELECT *,
       |    sum(new_sess) OVER (PARTITION BY user_id
       |      ORDER BY ts_ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS session_seq
       |  FROM s),
       |r AS (
       |  SELECT user_id, session_seq, event_type,
       |    row_number() OVER (PARTITION BY user_id, session_seq
       |      ORDER BY ts_ms ASC, event_id ASC) AS rk_first,
       |    row_number() OVER (PARTITION BY user_id, session_seq
       |      ORDER BY ts_ms DESC, event_id DESC) AS rk_last
       |  FROM g),
       |m AS (
       |  SELECT user_id, session_seq,
       |    max(CASE WHEN rk_first = 1 THEN event_type END) AS entry_type,
       |    max(CASE WHEN rk_last = 1 THEN event_type END) AS exit_type
       |  FROM r GROUP BY 1, 2)
       |SELECT entry_type, exit_type,
       |  CAST(count(*) AS BIGINT) AS n_sessions
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Trailing window length for [[trailingDau]]. */
  val DauWindowDays = 7

  /** TRAILING 7-DAY ACTIVE USERS next to the daily count — the
    * WAU-beside-DAU engagement pair every product dashboard leads
    * with. Exact sliding DISTINCT is the interesting part: distinct
    * is NOT mergeable across window frames, so each (user, day)
    * activity row contributes itself to the [[DauWindowDays]]
    * window-ends it belongs to (bounded calendar explode), and ONE
    * distinct aggregate per window-end does the rest — never a
    * RANGE-frame `count(distinct)` window (which engines either
    * reject or buffer unboundedly).
    *
    * Scale: the corpus collapses to (user, day) grain first; the
    * explode factor is the constant window length. At 100 TB the
    * exact distinct swaps for per-day HLL registers merged across the
    * same exploded frame (register-max IS mergeable —
    * [[hllMergeRollup]] proves it) at the cost of the bit-exact
    * oracle; the documented exact-vs-sketch trade. */
  def trailingDau(spark: SparkSession, dir: String): DataFrame =
    trailingDauOf(Tables.events(spark, dir))

  /** [[trailingDau]] over an injectable event frame (the streaming
    * parity spec's fixture hook). */
  def trailingDauOf(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint()
    val daily = userDays.groupBy("day")
      .agg(count(lit(1)).as("dau_1d"))
    val trailing = userDays
      .withColumn("off",
        explode(sequence(lit(0), lit(DauWindowDays - 1))))
      .withColumn("day2", expr("date_add(day, off)"))
      .select(col("user_id"), col("day2").as("day"))
      .join(daily.select("day"), Seq("day"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("dau_7d"))
    daily.join(trailing, Seq("day"))
      .select("day", "dau_1d", "dau_7d")
      .orderBy("day")
  }

  /** NEW vs RETURNING daily split — each day's actives partitioned by
    * whether it is the user's FIRST-EVER active day: the acquisition-
    * vs-retention decomposition under every growth dashboard, and the
    * batch twin of the `newUsersDaily` stream (which keeps first-seen
    * state; here the first day is a plain min re-aggregate). New +
    * returning = DAU by construction (spec-pinned), share as the
    * standing floor mille.
    *
    * Scale: the distinct (user, day) frame collapses the fact once;
    * first days are a user-grain min; the flag join is user-keyed —
    * two partial+final aggregates and one co-keyed join. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint()
    val firstDay = userDays.groupBy("user_id")
      .agg(min(col("day")).as("first_day"))
    userDays
      .join(firstDay, "user_id")
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day"), col("dau"), col("n_new"),
        (col("dau") - col("n_new")).as("n_returning"),
        expr("(n_new * 1000) div dau").as("new_share_mille"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[newVsReturning]]. */
  private[graft] def newVsReturningOracleSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |fd AS (
       |  SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
       |SELECT ud.day, CAST(count(*) AS BIGINT) AS dau,
       |  CAST(sum(CASE WHEN ud.day = fd.first_day THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_new,
       |  CAST(count(*) - sum(CASE WHEN ud.day = fd.first_day
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
       |  (CAST(sum(CASE WHEN ud.day = fd.first_day THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000) // CAST(count(*) AS BIGINT)
       |    AS new_share_mille
       |FROM ud JOIN fd ON ud.user_id = fd.user_id
       |GROUP BY ud.day
       |ORDER BY ud.day""".stripMargin

  /** Trailing window length for [[stickinessRatio]]'s MAU leg. */
  val MauWindowDays = 28

  /** DAU/MAU STICKINESS — the engagement ratio every product
    * dashboard tracks: per day, the 1-day distinct actives over the
    * trailing-[[MauWindowDays]]-day distinct actives as the standing
    * floor-div mille (1000 = everyone active monthly was active
    * today). Same sliding-distinct-over-partials shape as
    * [[trailingDau]]: a sliding COUNT DISTINCT has no window-frame
    * form, so each (user, day) contributes itself to the window-ends
    * it belongs to via a bounded calendar explode — the explode factor
    * is the window length, a constant.
    *
    * Scale: the distinct (user, day) frame collapses the fact once
    * and is checkpointed; both aggregates are partial+final; nothing
    * downstream of the explode carries more than ids and days. */
  def stickinessRatio(spark: SparkSession, dir: String): DataFrame =
    stickinessRatioOf(Tables.events(spark, dir))

  /** [[stickinessRatio]] over an injectable event frame. */
  def stickinessRatioOf(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint()
    val daily = userDays.groupBy("day")
      .agg(count(lit(1)).as("dau"))
    val trailing = userDays
      .withColumn("off",
        explode(sequence(lit(0), lit(MauWindowDays - 1))))
      .withColumn("day2", expr("date_add(day, off)"))
      .select(col("user_id"), col("day2").as("day"))
      .join(daily.select("day"), Seq("day"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("mau"))
    daily.join(trailing, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        expr("(dau * 1000) div mau").as("stickiness_mille"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[stickinessRatio]]. */
  private[graft] def stickinessRatioOracleSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |daily AS (
       |  SELECT day, CAST(count(*) AS BIGINT) AS dau
       |  FROM ud GROUP BY 1),
       |w AS (
       |  SELECT ud.user_id, ud.day + CAST(o.off AS INTEGER) AS day
       |  FROM ud CROSS JOIN (
       |    SELECT unnest(generate_series(0, ${MauWindowDays - 1}))
       |      AS off) o),
       |t AS (
       |  SELECT w.day, CAST(count(DISTINCT w.user_id) AS BIGINT) AS mau
       |  FROM w JOIN daily ON w.day = daily.day
       |  GROUP BY 1)
       |SELECT daily.day AS day, daily.dau, t.mau,
       |  (daily.dau * 1000) // t.mau AS stickiness_mille
       |FROM daily JOIN t ON daily.day = t.day
       |ORDER BY daily.day""".stripMargin

  /** DuckDB oracle for [[trailingDau]]. */
  private[graft] def trailingDauOracleSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |daily AS (
       |  SELECT day, CAST(count(*) AS BIGINT) AS dau_1d
       |  FROM ud GROUP BY 1),
       |w AS (
       |  SELECT ud.user_id, ud.day + CAST(o.off AS INTEGER) AS day
       |  FROM ud CROSS JOIN (
       |    SELECT unnest(generate_series(0, ${DauWindowDays - 1}))
       |      AS off) o),
       |t AS (
       |  SELECT w.day, CAST(count(DISTINCT w.user_id) AS BIGINT)
       |    AS dau_7d
       |  FROM w JOIN daily ON w.day = daily.day
       |  GROUP BY 1)
       |SELECT daily.day AS day, daily.dau_1d, t.dau_7d
       |FROM daily JOIN t ON daily.day = t.day
       |ORDER BY daily.day""".stripMargin
}
