package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** One change event, the streaming row type (testdata `events` schema;
  * stands in for the Debezium envelope of
  * `/root/reference/python/cdc_processor.py:23-47`). */
case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

/** Latest-row cache entry per key (T5 state). */
case class LatestState(
    ts_ms: Long, event_id: Long, event_type: String, value: Double)

/** T5 output row: the per-key materialized latest view. `deleted` marks a
  * tombstone (downstream KV sinks delete the key instead of writing it). */
case class UpsertRow(
    user_id: Long, last_event_type: String, last_value: Double,
    last_ts_ms: Long, deleted: Boolean)

/** T3 state/output: per-customer activity
  * (`realtime:customer:{id}:activity`, stream_processor.py:111-125). */
case class Activity(
    user_id: Long, last_event_ts_ms: Long, last_value: Double,
    event_count: Long)

/** T4 state/output: per-product-analog velocity accumulator
  * (`realtime:product:{id}:velocity`, stream_processor.py:197-212). */
case class Velocity(
    event_type: String, window_start_ms: Long, units: Double, n_events: Long,
    alert: Boolean)

/** T4 per-minute-bucket accumulator held in state (one entry per live
  * bucket, keyed by the bucket's epoch-millis start). */
case class VelBucket(units: Double, n_events: Long)

/** Per-target CDC offset-continuity state/output: cumulative interval,
  * gap, and missing-offset counters plus the last offset seen (the
  * streaming twin of `CdcOps.cdcGapDetection`). */
case class OffsetAudit(
    target: String,
    last_offset: Long,
    n_intervals: Long,
    n_gaps: Long,
    missing_total: Long)

/** One emitted change-log transition (streaming twin of
  * `CdcOps.changeLog`'s row shape). */
case class ChangeRow(user_id: Long, event_id: Long, ts_ms: Long,
    value: Double, prev_value: Double, delta: Double, ms_since_prev: Long)

/** Per-key change-log state: the chain's current tail version. */
case class ChainState(ts_ms: Long, event_id: Long, value: Double)

/** One OPEN session in [[UserSessionsProcessor]]'s per-key ListState:
  * [start, last+gap) with its running count and exact cent sum. */
case class OpenSession(start_ms: Long, last_ms: Long, n_events: Long,
    cents: Long)

/** [[StreamOps.userSessionsTws]] output: a CLOSED session, end =
  * last event + gap (the native `session_window` close boundary). */
/** One fingerprint of one document for the first-seen screen: the
  * whole-text hash (`kind` = "t") or one chunk hash (`kind` = "c"),
  * prefixed into a single key namespace, plus the doc's chunk count so
  * the per-doc verdict can be assembled without a second lookup. */
case class DocFingerprint(doc_id: Long, fp: String, kind: String,
  n_chunks: Int)

/** [[DocFingerprint]] after the keyed state screen: was this
  * fingerprint already carried by a strictly smaller doc_id? */
case class FpSeen(doc_id: Long, kind: String, shared: Boolean,
  n_chunks: Int)

case class SessionRow(user_id: Long, session_start_ms: Long,
    session_end_ms: Long, n_events: Long, total_value: Double)

/** One funnel-relevant event for [[StreamOps.eventFunnelStream]]
  * (micros since epoch — the exact precision the batch operator's
  * strict `ts > anchor` comparisons run at). */
case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long,
    event_id: Long)

/** Per-user funnel anchors held in [[FunnelProcessor]]'s value state:
  * micros of the first view / first strictly-later click / first
  * strictly-later purchase. 0 = step not reached (epoch-0 events are
  * out of the data contract — documented sentinel, one long cheaper
  * than three Options in RocksDB). */
case class FunnelAnchors(a0_us: Long, a1_us: Long, a2_us: Long)

/** [[StreamOps.eventFunnelStream]] output: the user's current funnel
  * progress. `steps_reached` is MONOTONE across emissions, so the
  * latest row per user is also the max — assembly needs no batch id. */
case class FunnelReach(user_id: Long, steps_reached: Int,
    a0_us: Long, a1_us: Long, a2_us: Long)

/** [[StreamOps.quantileSketchStream]] input: a document arrival. */
case class DocArrival(doc_id: Long, lang: String, n_chars: Long)

/** One register of the streaming bottom-k sketch: the md5-derived
  * draw `u` decides survival, `v` is the sketched value. */
case class SketchReg(u: Long, doc_id: Long, v: Long)

/** [[StreamOps.quantileSketchStream]] output: the per-language sketch
  * after a micro-batch — total docs this key has ever seen (strictly
  * monotone per key, so max(n_seen) per lang IS the final snapshot),
  * register count, an order-free draw checksum (Σ u mod 2^61-1,
  * identifies the register SET), and the p50 covering read-out. */
case class SketchSnapshot(lang: String, n_seen: Long, n_regs: Int,
    u_checksum: Long, p50_est: Long)

/** [[StreamOps.winnowDecontamStream]] output: one arriving train
  * document's decontamination verdict — the exact row
  * `TextOps.winnowDecontam` emits for the same doc (winnowed
  * fingerprint count, dirty-index hits, per-mille hit share, flag). */
case class DocScreen(doc_id: Long, n_fp: Long, n_hits: Long,
    hit_mille: Long, contaminated: Boolean)

/** Structured Streaming runtime — the streaming twin of
  * `graft.operators.{CdcOps, AlertOps}` (SURVEY §2.7 T1-T9, §7.1 M3).
  *
  * The reference consumes Kafka with hand-rolled `for message in consumer`
  * loops (`python/cdc_processor.py:266`, `python/stream_processor.py:376`);
  * here every flow is a declarative streaming plan over one source
  * DataFrame, so the same logical query runs over Kafka in production and a
  * `MemoryStream`/file source in tests. Event-time + watermark replaces the
  * reference's processing-time stamping (`stream_processor.py:56`) — a
  * documented semantic upgrade (SURVEY §2.7 T8).
  *
  * Scale posture: every stateful operator keys on user_id/event_type —
  * state is hash-partitioned across executors, no driver state, and
  * watermarks bound window state. At 100 TB/day the knobs are RocksDB state
  * store + `spark.sql.shuffle.partitions` sized to the key cardinality;
  * nothing here collects to the driver.
  */
object StreamOps {

  /** Session gap / attribution lookback as interval strings, DERIVED from
    * the batch twins' millisecond constants (`CdcOps.SessionGapMs` /
    * `AttributionWindowMs`) so the two execution modes cannot silently
    * drift if one constant changes. */
  val SessionGapInterval: String =
    s"${graft.operators.CdcOps.SessionGapMs / 1000} seconds"
  val AttributionWindowInterval: String =
    s"${graft.operators.CdcOps.AttributionWindowMs / 1000} seconds"

  /** The events schema (needed by file stream sources — streaming reads
    * cannot infer schemas). `ts` is TimestampType here because test/file
    * sources deliver converted micros; the raw parquet nanos conversion
    * lives in `graft.Tables.events`. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** S2: Kafka CDC source over N topics — the two reference consumers
    * (`cdc_processor.py:254-261`, `stream_processor.py:370`) are two
    * streaming queries over this one definition, each with its own
    * checkpoint. Not runnable in this container (no Kafka); the code path
    * is the production wiring. */
  def kafkaSource(spark: SparkSession, servers: String,
                  topics: Seq[String]): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", "earliest")
      .load()

  /** S3: decode the Kafka value into typed events (flat event shape):
    * one `from_json` against the fixed schema — schema-lax like the
    * reference (missing fields → null). */
  def decodeKafka(kafka: DataFrame): DataFrame =
    kafka.select(
        from_json(col("value").cast("string"), eventSchema).as("e"))
      .select(col("e.*"))

  /** The row payload inside a Debezium `before`/`after` field (the
    * testdata event row shape). */
  val debeziumRowSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** S3 (true envelope): the nested Debezium change-event schema —
    * `op` / `ts_ms` / `source.{db,table}` / nullable `before`/`after` row
    * structs, the reference's only nested type
    * (cdc_processor.py:26-34, SURVEY §1.2). */
  val debeziumSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("source", StructType(Seq(
      StructField("db", StringType),
      StructField("table", StringType)))),
    StructField("before", debeziumRowSchema),
    StructField("after", debeziumRowSchema)))

  /** Decode a Kafka-shaped frame of Debezium envelope JSON into the
    * nested envelope columns (op, ts_ms, source.*, before, after) —
    * the production S3 wiring for a real Debezium topic; `CdcOps
    * .envelopeNested` exercises the same schema batch-side where DuckDB
    * can referee it. Malformed JSON degrades to nulls, like the
    * reference's dict.get defaults. */
  def decodeDebezium(kafka: DataFrame): DataFrame =
    kafka.select(
        from_json(col("value").cast("string"), debeziumSchema).as("p"))
      .select(col("p.op"), col("p.ts_ms"),
        col("p.source.db").as("src_db"), col("p.source.table").as("src_table"),
        col("p.before").as("before"), col("p.after").as("after"))

  /** File-based streaming source over a directory of parquet events —
    * the test/bounded-replay source (same logical schema as Kafka). */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** The CDC verb (cdc_processor.py:26; same mapping as
    * `CdcOps.envelopeParse`). */
  private def opCol =
    when(col("event_type") === "signup", "c")
      .when(col("event_type") === "error", "d")
      .otherwise("u")

  /** T1+A12: tumbling 1-minute event-time windows with watermark — the
    * per-minute orders/revenue/avg metrics the stream processor recomputes
    * by scanning its buffer (`stream_processor.py:216-244`), minus the
    * buffer: state is bounded by the watermark, late events beyond 2
    * minutes are dropped instead of silently double-counted. Append mode. */
  def minuteMetrics(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"),
        approx_count_distinct(col("user_id")).as("n_users"))
      .withColumn("avg_value",
        when(col("n_events") > 0,
          col("total_value") / col("n_events").cast("double"))
          .otherwise(lit(0.0)))
      .select(col("window.start").as("minute_start"), col("n_events"),
        col("total_value"), col("avg_value"), col("n_users"))

  /** A10+S6: running per-(event_type, op) counters — the Redis
    * `cdc:stats:{table}:{op}` INCR counters (cdc_processor.py:50-51) as an
    * update-mode streaming aggregation (each trigger emits changed keys,
    * exactly the INCR delta semantics a KV sink wants). */
  def typeCounters(events: DataFrame): DataFrame =
    events
      .withColumn("op", opCol)
      .groupBy("event_type", "op")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))

  /** Incremental view maintenance over the live change feed — the
    * streaming twin of `CdcOps.incrementalRollup`: per-key aggregates
    * maintained from CDC deltas (create adds `after`, update adds
    * `after − before`, delete retracts `before`) in UPDATE output mode,
    * so each trigger emits exactly the keys whose maintained value
    * changed — the INCR/INCRBYFLOAT semantics of the reference's Redis
    * caches (cdc_processor.py:50-51,124-131), with exactly-once instead
    * of at-least-once. The delta projection and the fold are the SAME
    * code the batch query runs (`CdcOps.changeDeltas`/`foldDeltas`), so
    * stream/batch agreement holds by construction; the spec replays a
    * fixture through a MemoryStream and asserts the final update equals
    * the batch fold. Unwatermarked running state is the point (a
    * maintained view never expires); state size is |live keys|. */
  def incrementalRollup(events: DataFrame): DataFrame =
    graft.operators.CdcOps.foldDeltas(
      graft.operators.CdcOps.changeDeltas(events))

  /** A11: per-group daily distribution — `realtime:geo:customers:{state}` /
    * `realtime:categories:{cat}` counters with their daily TTL
    * (stream_processor.py:147-152,174-179). The 1-day event-time window IS
    * the TTL: watermark eviction drops yesterday's state. */
  def dailyDistribution(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("n_events"))

  /** Daily active users over the live stream — the streaming twin of
    * `CdcOps.dailyDistinctUsers`, as two watermark-bounded stages:
    * first-seen dedup per (user, day-window), then a count of the
    * survivors per window. The dedup keys on the event-time WINDOW
    * STRUCT, not a truncated timestamp: the struct carries watermark
    * metadata, so a user's dedup state lives exactly until the
    * watermark closes that day and is then evicted — a
    * `dropDuplicatesWithinWatermark` horizon shorter than a day would
    * evict mid-day and re-count a returning user. Exact distinct, not
    * a sketch — the same guarantee the batch twin hash-checks — with
    * state bounded at (active users × live days). Update mode: each
    * trigger re-emits the affected day's running DAU. */
  def dailyActiveUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), window(col("ts"), "1 day").as("day_w"))
      .dropDuplicates("user_id", "day_w")
      .groupBy(col("day_w"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("day_w.start").as("day_start"), col("n_users"))

  /** Streaming first-touch reach — the live twin of
    * `CdcOps.cumulativeReach`'s new-user curve: `dropDuplicates` keyed
    * on user_id ALONE keeps each user's first-ever event (the key
    * carries no event-time column, so this state is deliberately never
    * watermark-evicted — reach state is forever by definition, one
    * small row per user, the same O(users) a production reach counter
    * holds), then a day-window count of the survivors in update mode.
    * A returning user in a later day hits the dedup state and counts
    * zero — the property the spec pins against the batch twin. The
    * cumulative curve is the consumer's running sum of these per-day
    * new-user rows (a monotone counter fold, the
    * `cdc_processor.py:124-131` counter shape).
    *
    * HONEST CONTRACT vs the batch twin: the dedup keeps the first row
    * PROCESSED, so first-touch attribution is ARRIVAL-order — a user
    * whose day-2 event arrives before their day-1 event is credited to
    * day 2 where the batch `min(day)` credits day 1, and a user whose
    * only event arrives beyond the watermark tolerance is dropped
    * before the dedup and never counted. Both are inherent to
    * single-pass streaming first-touch (an event-time-exact twin needs
    * retractions); the TOTAL reach still converges to the batch total
    * for every user with any in-tolerance event, and the spec pins
    * curve equality on the ordered-feed contract Kafka partitions
    * provide per key. */
  def newUsersDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("new_users"))
      .select(col("window.start").as("day_start"), col("new_users"))

  /** Trailing 7-day rolling metrics over the live stream — the streaming
    * twin of `CdcOps.rolling7dMetrics`, as Spark 4 CHAINED event-time
    * aggregations (multiple stateful operators, append mode): a day-grain
    * tumbling aggregate, then a 7-day sliding window (1-day slide) over
    * the day rows' `window_time`. Each sliding span [d−6, d+1) anchors
    * calendar day d — exactly the batch query's `RANGE BETWEEN 6
    * PRECEDING AND CURRENT ROW` on the day number — and the anchor day's
    * own totals are recovered inside the same aggregate via a
    * day-window-end match, so the emitted row carries the full batch
    * schema. Spans whose anchor day had no data are filtered out
    * (matching the batch side, which only emits days present in the
    * feed); a span is emitted once, when the watermark closes it. State
    * is |live days| per stage — calendar-sized, never event-sized, the
    * same bound the batch plan argues. */
  def rolling7dMetrics(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("day_w"))
      .agg(
        count(lit(1)).as("d_events"),
        sum(col("value").cast("decimal(18,2)")).as("d_value"))
      .groupBy(window(window_time(col("day_w")), "7 days", "1 day"))
      .agg(
        sum(when(col("day_w.end") === col("window.end"), col("d_events")))
          .as("n_events"),
        max(when(col("day_w.end") === col("window.end"),
          col("d_value").cast("double"))).as("day_value"),
        sum(col("d_events")).as("events_7d"),
        sum(col("d_value")).cast("double").as("value_7d"),
        count(lit(1)).as("days_present_7d"))
      .filter(col("n_events").isNotNull)
      .select(
        to_date(col("window.end") - expr("interval 1 day")).as("day"),
        col("n_events"), col("day_value"), col("events_7d"),
        col("value_7d"), col("days_present_7d"))

  /** Sessionization over the live stream: native event-time session
    * windows with a 2-hour inactivity gap (`CdcOps.SessionGapMs`'s
    * streaming twin). `session_window` merges a key's overlapping
    * [ts, ts+gap) intervals into one growing window; the watermark both
    * bounds the merge state and decides when a session is final, so the
    * sink sees each session exactly once (append mode). Per-session
    * `end` is `last event + gap` — the window's close — where the batch
    * twin reports the observed last-event time; both carry the same
    * n_events/total_value. State is per (user, open session) — bounded
    * by key cardinality × live sessions, the same RocksDB-at-scale
    * posture as the other stateful ops. */
  def userSessions(events: DataFrame,
                   gap: String = SessionGapInterval): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** [[userSessions]] on the Spark-4 arbitrary-state API
    * (`transformWithState` + [[UserSessionsProcessor]]) — the THIRD
    * `*Tws` twin (after [[upsertLatestTws]] and [[velocityStateTws]]),
    * and the first to carry MERGEABLE state: where the native
    * `session_window` operator owns interval merging internally, the
    * processor holds each key's open sessions as a typed `ListState`
    * and replays the same merge rule (an event extends a session iff
    * `ts < last + gap`, strict — new session iff the silence reaches
    * the gap), closing a session through ONE per-key event-time timer
    * once the watermark passes `last + gap`. Emitted rows carry the
    * identical boundary contract (start = first event, end = last +
    * gap) and the identical decimal(18,2) value sum (exact cents in
    * state), so the spec pins both implementations to equal output on
    * a shared fixture. Millisecond-grain timestamps are assumed (the
    * `java.sql.Timestamp` feed); the native operator merges at
    * microsecond grain, so sub-ms-distinct boundary events could split
    * the twins — none exist in any feed this engine reads. */
  def userSessionsTws(events: Dataset[Event]): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(
        new UserSessionsProcessor(graft.operators.CdcOps.SessionGapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Streaming exactly-once replay screen — the LIVE twin of
    * `CdcOps.replayDedup`: an at-least-once delivery layer redelivers
    * event ids on rebalance/retry, and this collapses them with state
    * BOUNDED by the watermark horizon. `dropDuplicatesWithinWatermark`
    * is the load-bearing choice over plain `dropDuplicates`: the plain
    * form keeps every id seen FOREVER (the classic unbounded-state
    * leak on an infinite stream — its uses in [[newUsersDaily]] are
    * deliberate whole-history semantics), while the within-watermark
    * form drops an id's state as soon as no admissible replay can
    * still arrive, which is exactly the at-least-once contract: a
    * delivery layer redelivers within its retry horizon, not days
    * later. Append mode; each id emits exactly once. */
  def replayScreen(events: Dataset[Event]): Dataset[Event] =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: each live event joined to its entity's
    * dimension row — the everyday CDC pattern (enrich the change feed
    * with the customer segment before alerting/routing). The static
    * side rides a broadcast hash join. Note the dimension SNAPSHOT is
    * fixed at query start: a plain parquet DataFrame caches its file
    * listing (InMemoryFileIndex) when created, so new files under the
    * same path are not re-listed — a live dimension refresh needs a
    * `foreachBatch` that re-reads the path per micro-batch (and an
    * overwrite of the snapshot mid-query can fail the scan). Left join
    * keeps events for unknown entities flowing with a null segment
    * instead of dropping them. Stateless — no watermark needed, any
    * output mode. */
  def enrichEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
        broadcast(dim.select(col("c_custkey"),
          col("c_mktsegment").as("segment"))),
        events("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("segment"))

  /** Streaming ingest dedup screen — the live twin of
    * `TextOps.incrementalDedup`: incoming documents stream in, the
    * STANDING corpus is a static frame, and each arrival gets the same
    * exact/near/partial/novel verdict the batch screen would give it,
    * in append mode with ZERO stateful operators. The trick that keeps
    * it stateless: the per-doc chunk-overlap count — a groupBy in the
    * batch twin — becomes an array-membership count over a chunk-hash
    * ARRAY built inline (same 64/48 geometry as `TextOps.docChunks`)
    * against the corpus's collected chunk-hash set, a pure projection.
    * Exact membership rides a stream-static broadcast left join
    * (stateless by construction).
    *
    * Scale posture: collecting the corpus chunk set into one broadcast
    * row is the SMALL-corpus regime (a dimension-table-sized dedup
    * set); at 100 TB the same projection swaps the exact set for the
    * Bloom bitset `TextOps.bloomDecontam` builds — constant-size
    * broadcast, same stateless shape, bloom-positive instead of exact
    * membership. The batch twin's hash-partitioned semi join remains
    * the replay/backfill path. */
  def ingestScreen(docs: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.operators.TextOps.{ChunkStride, ChunkTokens, IngestNearShare}
    val corpusHashes = corpus.filter(col("text").isNotNull)
      .select(md5(col("text")).as("corpus_text_hash")).distinct()
    val corpusChunkSet = corpus.filter(col("text").isNotNull)
      .select(explode(expr(
        s"""transform(sequence(0, size(split(text, ' ')) - 1, $ChunkStride),
           |  s -> md5(array_join(slice(split(text, ' '), s + 1, $ChunkTokens), ' ')))"""
          .stripMargin)).as("ch"))
      .agg(collect_set(col("ch")).as("corpus_set"))
    docs
      .withColumn("chunks", expr(
        s"""CASE WHEN text IS NULL THEN array()
           |ELSE transform(sequence(0, size(split(text, ' ')) - 1, $ChunkStride),
           |  s -> md5(array_join(slice(split(text, ' '), s + 1, $ChunkTokens), ' ')))
           |END""".stripMargin))
      .crossJoin(broadcast(corpusChunkSet))
      .join(broadcast(corpusHashes),
        md5(col("text")) === col("corpus_text_hash"), "left")
      .select(col("doc_id"),
        col("corpus_text_hash").isNotNull.as("is_exact_dup"),
        size(col("chunks")).cast("long").as("n_chunks"),
        // filter+array_contains, NOT array_intersect: the batch twin
        // counts chunk OCCURRENCES (a repeated in-corpus window counts
        // each time), and intersect would dedup them.
        size(expr("filter(chunks, c -> array_contains(corpus_set, c))"))
          .cast("long").as("n_shared_chunks"))
      .withColumn("verdict",
        when(col("is_exact_dup"), "exact")
          .when(col("n_chunks") > 0 &&
            col("n_shared_chunks").cast("double") >=
              col("n_chunks").cast("double") * IngestNearShare, "near")
          .when(col("n_shared_chunks") > 0, "partial")
          .otherwise("novel"))
  }

  /** STATEFUL first-seen dedup screen — the live twin of
    * `TextOps.firstSeenScreen` and the engine's FOURTH
    * `transformWithState` surface: where [[ingestScreen]] screens
    * against a FIXED corpus statelessly, this one screens each arrival
    * against EVERYTHING THAT ARRIVED BEFORE IT and grows the seen-set
    * as it goes — the semantics of a continuously-ingesting dedup
    * gate. Each doc fans out to its fingerprints (one whole-text hash
    * + one hash per 64/48-token chunk, the exact `docChunks` geometry;
    * a null text gets a per-doc sentinel so it still emits);
    * [[FirstSeenProcessor]] holds min-arrived-doc_id PER FINGERPRINT
    * in keyed value state (RocksDB at scale — state cardinality is the
    * distinct-fingerprint count, the same set the batch screen's
    * aggregate materializes) and flags a fingerprint `shared` iff a
    * strictly smaller doc_id already carried it. Verdict assembly is
    * [[firstSeenVerdicts]] — a PLAIN per-batch aggregation, because
    * every doc's fingerprint rows emit inside the doc's own
    * micro-batch (the stateful stage is row-in/row-out).
    *
    * Replay contract (spec-pinned): streaming the corpus in doc_id
    * order — in ANY micro-batch slicing — emits exactly the batch
    * operator's verdicts, because "strictly smaller doc_id seen
    * before" is slicing-invariant under ordered replay: the processor
    * folds in-batch rows in doc_id order against state that holds the
    * min of all earlier batches. */
  def firstSeenScreenStream(docs: DataFrame): Dataset[FpSeen] = {
    import graft.operators.TextOps.{ChunkStride, ChunkTokens}
    import docs.sparkSession.implicits._
    docs
      .withColumn("chunks", expr(
        s"""CASE WHEN text IS NULL THEN array()
           |ELSE transform(sequence(0, size(split(text, ' ')) - 1, $ChunkStride),
           |  s -> md5(array_join(slice(split(text, ' '), s + 1, $ChunkTokens), ' ')))
           |END""".stripMargin))
      .select(col("doc_id"), size(col("chunks")).as("n_chunks"),
        explode(expr(
          """concat(
            |  array(named_struct(
            |    'fp', concat('t:', coalesce(md5(text),
            |      concat('null:', cast(doc_id as string)))),
            |    'kind', 't')),
            |  transform(chunks, c ->
            |    named_struct('fp', concat('c:', c), 'kind', 'c')))"""
            .stripMargin)).as("f"))
      .select(col("doc_id"), col("f.fp").as("fp"),
        col("f.kind").as("kind"), col("n_chunks"))
      .as[DocFingerprint]
      .groupByKey(_.fp)
      .transformWithState(new FirstSeenProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Per-doc verdict assembly over [[FpSeen]] rows — shared by the
    * streaming consumer (applied per micro-batch in `foreachBatch`;
    * exact because a doc's rows never span batches) and the
    * equivalence spec. Ladder and column contract identical to
    * `TextOps.firstSeenScreen`. */
  def firstSeenVerdicts(fpSeen: DataFrame): DataFrame = {
    import graft.operators.TextOps.IngestNearShare
    fpSeen.groupBy("doc_id")
      .agg(
        coalesce(max(when(col("kind") === "t", col("shared"))),
          lit(false)).as("is_exact_dup"),
        max(col("n_chunks")).cast("long").as("n_chunks"),
        sum(when(col("kind") === "c" && col("shared"), 1L)
          .otherwise(0L)).as("n_shared_chunks"))
      .withColumn("verdict",
        when(col("is_exact_dup"), "exact")
          .when(col("n_chunks") > 0 &&
            col("n_shared_chunks").cast("double") >=
              col("n_chunks").cast("double") * IngestNearShare, "near")
          .when(col("n_shared_chunks") > 0, "partial")
          .otherwise("novel"))
  }

  /** LIVE ordered-step funnel — the streaming twin of
    * `CdcOps.eventFunnel` and the engine's FIFTH `transformWithState`
    * surface: per-user anchors for "view, then click STRICTLY after
    * the first view, then purchase strictly after that first
    * qualifying click", held as three micros longs of keyed value
    * state and advanced MONOTONICALLY (an anchor, once set, never
    * moves — exactly the batch operator's chained conditional
    * first-occurrence semantics, which on an ordered replay a forward
    * fold computes incrementally: the first qualifying arrival IS the
    * min). Emits the user's current [[FunnelReach]] whenever the user
    * appears in a micro-batch (update mode); [[funnelReport]]
    * assembles the 3-row conversion report the batch twin emits.
    *
    * Replay contract (spec-pinned): streaming events in (ts, event_id)
    * order — in ANY micro-batch slicing — yields the batch funnel,
    * because anchor advancement is slicing-invariant under ordered
    * replay: the in-batch fold runs in (ts_us, event_id) order (Spark
    * does not order group iterators, so the fold sorts its bounded
    * per-key slice first) against state holding all earlier batches'
    * anchors. Same-instant ties do NOT advance (strict `>`, pinned
    * both sides). State: 3 longs per user who ever viewed —
    * entity-bounded, the same cardinality class as the T3/T5 twins;
    * never expires for the same reason the first-seen screen's
    * doesn't (an expired anchor would silently re-admit a conversion
    * already counted). */
  def eventFunnelStream(events: Dataset[Event],
      windowUs: Option[Long] = None): Dataset[FunnelReach] = {
    import events.sparkSession.implicits._
    val steps = graft.operators.CdcOps.FunnelSteps
    events.toDF()
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(windowUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** [[eventFunnelStream]] under `CdcOps.eventFunnelWindowed`'s
    * conversion deadline — the live form a growth dashboard actually
    * runs (a deadline needs NO extra state: it is a0 + window,
    * recomputed from the stored first-view anchor). */
  def eventFunnelWindowedStream(events: Dataset[Event]): Dataset[FunnelReach] =
    eventFunnelStream(events, Some(
      graft.operators.CdcOps.FunnelWindowHours * 3600L * 1000000L))

  /** The 3-row funnel report over accumulated [[FunnelReach]] rows —
    * same columns and mille arithmetic as `CdcOps.eventFunnel`.
    * `steps_reached` is monotone per user, so max = latest and the
    * assembly is one aggregate regardless of how many update-mode
    * emissions accumulated in the sink. */
  def funnelReport(reach: DataFrame): DataFrame = {
    val steps = graft.operators.CdcOps.FunnelSteps
    val n = reach.groupBy("user_id")
      .agg(max(col("steps_reached")).as("sr"))
      .agg(
        sum(when(col("sr") >= 1, 1L).otherwise(0L)).as("n0"),
        sum(when(col("sr") >= 2, 1L).otherwise(0L)).as("n1"),
        sum(when(col("sr") >= 3, 1L).otherwise(0L)).as("n2"))
      .select(coalesce(col("n0"), lit(0L)).as("n0"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val rows = steps.zipWithIndex.map { case (step, i) =>
      val prev = if (i == 0) "n0" else s"n${i - 1}"
      n.select(
        lit(i + 1).as("step"), lit(step).as("event_type"),
        col(s"n$i").as("n_users"),
        expr(s"CASE WHEN $prev = 0 THEN 0L ELSE (n$i * 1000) div $prev END")
          .as("conv_prev_mille"),
        expr(s"CASE WHEN n0 = 0 THEN 0L ELSE (n$i * 1000) div n0 END")
          .as("conv_first_mille"))
    }
    rows.reduce(_.unionByName(_)).orderBy("step")
  }

  /** Per-user transition LATENCIES assembled from accumulated
    * [[FunnelReach]] emissions — the streaming face of
    * `CdcOps.funnelStepLatencyFrame`, spec-pinned row-equal to it on
    * an ordered replay. Anchors are monotone set-once micros (0 =
    * unset), so `max` per user over the update-mode sink recovers each
    * user's final anchor triple regardless of how many intermediate
    * emissions accumulated; latencies are then pure column arithmetic.
    * A growth dashboard feeds these to a sketch or the batch rank
    * picks — the per-user grain is the part the stream must get
    * exactly right. */
  def funnelLatencies(reach: DataFrame): DataFrame = {
    val steps = graft.operators.CdcOps.FunnelSteps
    val fin = reach.groupBy("user_id")
      .agg(max(col("a0_us")).as("a0"), max(col("a1_us")).as("a1"),
        max(col("a2_us")).as("a2"))
    fin.filter(col("a1") =!= 0L)
      .select(lit(2).as("step"),
        lit(s"${steps(0)}>${steps(1)}").as("transition"),
        col("user_id"), (col("a1") - col("a0")).as("lat_us"))
      .unionByName(fin.filter(col("a2") =!= 0L)
        .select(lit(3).as("step"),
          lit(s"${steps(1)}>${steps(2)}").as("transition"),
          col("user_id"), (col("a2") - col("a1")).as("lat_us")))
  }

  /** LIVE payload-schema census — the streaming twin of
    * `CdcOps.propsKeyCensus`: top-level `json_object_keys` of every
    * incoming payload counted per (event_type, key) as an update-mode
    * running aggregate, with unparseable payloads surfaced as the
    * `__invalid__` pseudo-key. This is the drift alarm a CDC platform
    * watches LIVE — a producer deploy that renames a field moves these
    * counters within one trigger, hours before a batch census would
    * see it. Stateless projection + one global-agg state keyed by
    * (type, key): state size is the schema vocabulary, not the
    * stream. */
  def propsKeyCensusStream(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        explode(coalesce(expr("json_object_keys(props)"),
          array(lit("__invalid__")))).as("key"))
      .groupBy("event_type", "key")
      .agg(count(lit(1)).as("n_rows"))

  /** Streaming trailing-7-day ACTIVE USERS — the streaming twin of
    * `CdcOps.trailingDau`, as CHAINED stateful operators: each event
    * lands in the 7 sliding spans it belongs to, a watermarked
    * `dropDuplicates` holds (user, span) membership — the EXACT
    * sliding distinct a sliding `count(distinct)` window cannot
    * express — and a second stateful stage counts survivors per span
    * in append mode. Span end E anchors calendar day E−1 (the batch
    * twin's trailing [D−6, D]).
    *
    * Documented delta vs the batch twin: spans whose anchor day saw
    * no events but whose window still covers earlier activity emit
    * here (they ARE that calendar day's correct trailing count); the
    * batch twin only emits days present in the feed. The spec pins
    * equality on the shared days. State: one dedup row per live
    * (user, span) — watermark-evicted, window-bounded. */
  def trailingDauStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), window(col("ts"), "7 days", "1 day").as("span"))
      .dropDuplicates("user_id", "span")
      .groupBy(col("span"))
      .agg(count(lit(1)).as("dau_7d"))
      .select(expr("date_sub(cast(span.end as date), 1)").as("day"),
        col("dau_7d"))

  /** Stream-stream interval join: purchases attributed to the same
    * user's clicks within the lookback window, live — the streaming
    * twin of `CdcOps.purchaseAttribution`. Both sides carry watermarks
    * and the join condition bounds event time in BOTH directions, so
    * the engine can size the join state and drop expired rows (an
    * unbounded stream-stream join would buffer forever). Emits every
    * qualifying (purchase, click) pair; the batch twin's per-purchase
    * last-click pick is a second stateful stage downstream when
    * needed. */
  def attributionJoin(events: DataFrame,
                      window: String = AttributionWindowInterval): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $window"))
      .select(col("purchase_id"), col("user_id"), col("value"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** LEFT OUTER stream-stream join — [[attributionJoin]] plus the
    * organic-purchase rows: a purchase with no in-window click is held
    * in state until the watermark proves no matching click can still
    * arrive, then emitted once with null click columns. This is the
    * attribution table a revenue dashboard actually needs (organic vs
    * attributed share); the inner form silently drops organic revenue.
    * Same state-size bound as the inner join — both sides watermarked,
    * the join condition bounds event time in both directions — plus
    * the outer side's held rows, which the watermark evicts. */
  def attributionJoinOuter(events: DataFrame,
      window: String = AttributionWindowInterval): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $window"),
      "left_outer")
      .select(col("purchase_id"), col("user_id"), col("value"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Streaming exactly-once dedup: at-least-once CDC transports redeliver
    * events, and every downstream counter would double-count them. Keyed
    * on event_id with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): a redelivery arriving within the
    * watermark horizon is dropped, state for old ids is evicted as the
    * watermark advances — bounded memory at any throughput, the standard
    * first stage in front of the aggregations below. */
  def dedupEvents(events: DataFrame,
                  horizon: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Live CDC offset-continuity auditor — the streaming twin of
    * `CdcOps.cdcGapDetection`: after table routing, each target keeps
    * ONE small state row (last offset + cumulative gap counters) and
    * every trigger folds its batch's offsets in ascending order,
    * counting jumps. Update mode: each trigger re-emits the target's
    * cumulative audit row (an upsert consumer always shows the current
    * totals — the `cdc:stats:*` counter shape of
    * `cdc_processor.py:50-51`, applied to offset hygiene instead of
    * event counts). `NoTimeout`: an offset cursor must never expire —
    * state is O(targets), not O(events). In production the key is
    * (topic, kafka_partition), where Kafka guarantees per-partition
    * offset order ACROSS triggers; the spec feeds batches in offset
    * order to honor that contract, and the final totals are pinned to
    * the batch query on the same data. */
  def offsetGapState(events: Dataset[Event]): Dataset[OffsetAudit] = {
    import events.sparkSession.implicits._
    // ONE routing table shared with the batch dispatch + audit
    // (CdcOps.RoutingRules) — a new rule there flows here for free.
    val routeOf: Map[String, String] =
      graft.operators.CdcOps.RoutingRules.toMap
    events
      .flatMap(e => routeOf.get(e.event_type).map(t => (t, e.event_id)))
      .groupByKey(_._1)
      .mapGroupsWithState[OffsetAudit, OffsetAudit](
        GroupStateTimeout.NoTimeout) {
        case (target, batch, state) =>
          val ids = batch.map(_._2).toArray.sorted
          val prev = state.getOption
          var last = prev.map(_.last_offset).getOrElse(ids.head)
          var nIntervals = prev.map(_.n_intervals).getOrElse(0L)
          var nGaps = prev.map(_.n_gaps).getOrElse(0L)
          var missing = prev.map(_.missing_total).getOrElse(0L)
          // the very first offset seeds the cursor; it is not an interval
          val toFold = if (prev.isEmpty) ids.drop(1) else ids
          toFold.foreach { id =>
            // Skip non-advancing offsets: a replayed/duplicate offset
            // (Kafka redelivery) is not a gap and must not move the
            // cursor backward and re-audit covered ranges — the same
            // DISTINCT rule the batch twin applies, keeping the two
            // audits pinned on replayed feeds.
            if (id > last) {
              val gap = id - last - 1
              nIntervals += 1
              if (gap > 0) { nGaps += 1; missing += gap }
              last = id
            }
          }
          val out = OffsetAudit(target, last, nIntervals, nGaps, missing)
          state.update(out)
          out
      }
  }

  /** T5: CDC upsert-latest cache with tombstones — the per-entity
    * latest-row Redis cache (cdc_processor.py:77-190: c/u set the key, d
    * deletes it), as keyed state: each trigger folds the key's new events
    * into the stored (ts, event_id)-max and emits the new latest row, or a
    * tombstone row when the latest verb is a delete. Update mode.
    *
    * State is one small row per live key — at 1e9 keys this is the
    * RocksDB-state-store case; tombstoned keys clear their state
    * immediately. */
  def upsertLatest(events: Dataset[Event]): Dataset[UpsertRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestState, UpsertRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, batch, state) =>
          val incoming = batch.map(e =>
            LatestState(e.ts.getTime, e.event_id, e.event_type, e.value))
          val candidates = state.getOption.iterator ++ incoming
          val latest = candidates.maxBy(s => (s.ts_ms, s.event_id))
          val isDelete = latest.event_type == "error" // op 'd'
          if (isDelete) {
            state.remove()
            Iterator(UpsertRow(userId, latest.event_type, latest.value,
              latest.ts_ms, deleted = true))
          } else {
            state.update(latest)
            Iterator(UpsertRow(userId, latest.event_type, latest.value,
              latest.ts_ms, deleted = false))
          }
      }
  }

  /** [[upsertLatest]] on Spark 4's NEW arbitrary-state API
    * (`transformWithState` + [[UpsertLatestProcessor]]): same per-key
    * latest-wins fold, same tombstone semantics, same emitted rows —
    * the spec pins both implementations to identical output on a shared
    * fixture. The new API is where streaming state is headed (typed
    * state VARIABLES with per-variable TTL, timers, composite state on
    * one key) and requires the RocksDB state store provider — which is
    * this engine's documented 100 TB configuration anyway. Kept beside
    * the `flatMapGroupsWithState` form, not replacing it: the classic
    * API runs on the default HDFS-backed store and remains the
    * broadest-compatibility path. */
  def upsertLatestTws(events: Dataset[Event]): Dataset[UpsertRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new UpsertLatestProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming twin of `CdcOps.changeLog`: per-key field-level diffs
    * between consecutive row versions, as keyed state carrying only the
    * previous (ts_ms, event_id, value) per key. Each trigger folds its
    * events in (ts, event_id) chain order against the stored tail and
    * emits one row per transition whose value changed. Append mode —
    * emitted diffs are immutable facts.
    *
    * Ordering contract: like any CDC change-log consumer, this assumes
    * the FEED is per-key ordered across triggers (Debezium guarantees
    * per-key topic order); an event older than the stored tail would
    * chain against the wrong predecessor. The batch twin (which sees the
    * whole history and sorts it) is the replay/backfill path — the
    * cross-checking spec pins the two to identical output on an ordered
    * fixture. */
  def changeLog(events: Dataset[Event]): Dataset[ChangeRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ChainState, ChangeRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, batch, state) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var prev = state.getOption
          val out = Seq.newBuilder[ChangeRow]
          sorted.foreach { e =>
            val ms = e.ts.getTime
            prev.foreach { p =>
              if (e.value != p.value)
                out += ChangeRow(userId, e.event_id, ms, e.value, p.value,
                  e.value - p.value, ms - p.ts_ms)
            }
            prev = Some(ChainState(ms, e.event_id, e.value))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** T3: keyed activity state with a 24 h TTL — per-customer
    * last-order/count state (stream_processor.py:111-125). The TTL is
    * event-time (`EventTimeTimeout`): the Redis 24 h expiry becomes
    * "no event within 24 h of the key's last event, as witnessed by the
    * watermark". Event-time expiry is deterministic and replayable
    * (SURVEY §7.3), and — unlike `ProcessingTimeTimeout` under the
    * default ASAP trigger — never makes the engine spin no-data
    * micro-batches re-checking wall clocks, so `processAllAvailable`
    * observes an idle query (the round-4 `sbt test` livelock).
    * Expiry is silent, like the reference's: `flatMapGroupsWithState`
    * returns an empty iterator on timeout (`mapGroupsWithState` would be
    * forced to re-emit a stale row). */
  def activityState(events: Dataset[Event]): Dataset[Activity] = {
    import events.sparkSession.implicits._
    val ttlMs = 24L * 3600 * 1000
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Activity, Activity](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (userId, batch, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = batch.toSeq
            val prev = state.getOption
            val latest = evs.maxBy(e => (e.ts.getTime, e.event_id))
            val next = Activity(
              userId,
              math.max(prev.map(_.last_event_ts_ms).getOrElse(0L),
                latest.ts.getTime),
              latest.value,
              prev.map(_.event_count).getOrElse(0L) + evs.size)
            state.update(next)
            state.setTimeoutTimestamp(next.last_event_ts_ms + ttlMs)
            Iterator.single(next)
          }
      }
  }

  /** T4: per-key velocity with a 5-min TTL — the per-product
    * sales-per-minute accumulator (stream_processor.py:197-212), keyed on
    * event_type (the product analog in this schema). State holds one
    * accumulator per live 1-minute event-time bucket (a map, not just the
    * newest bucket — out-of-order or minute-spanning batches accumulate
    * into their own buckets instead of being dropped), and every bucket
    * touched by the batch is emitted with `alert = units > threshold`
    * (the `velocity > 50` rule, stream_processor.py:207). Buckets are
    * evicted against the event-time WATERMARK, not the key's own newest
    * event: the watermark already encodes the lateness allowance, so a
    * bucket is dropped only once no admissible event can still target it
    * (an event for bucket b has ts < b + 1 min ≤ b + TTL ≤ watermark ⇒
    * it would be rejected as late upstream). Evicting at `key-max ts −
    * TTL` — the earlier design — let an admissible late event re-open an
    * evicted bucket with only its own partial counts, silently
    * retracting the bucket's prior total (and possibly a fired alert) in
    * an upsert consumer. A key silent for 5 min of event time drops its
    * whole state via `EventTimeTimeout` (same no-livelock rationale as
    * T3). */
  def velocityState(events: Dataset[Event],
                    threshold: Double = 50.0): Dataset[Velocity] = {
    import events.sparkSession.implicits._
    val minuteMs = 60L * 1000
    val ttlMs = 5L * 60 * 1000
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Map[Long, VelBucket], Velocity](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (etype, batch, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = batch.toSeq
            val prev = state.getOption.getOrElse(Map.empty[Long, VelBucket])
            val touched = evs
              .groupBy(e => e.ts.getTime / minuteMs * minuteMs)
              .map { case (b, es) =>
                val p = prev.getOrElse(b, VelBucket(0.0, 0L))
                b -> VelBucket(p.units + es.map(_.value).sum,
                  p.n_events + es.size)
              }
            val maxTs = evs.map(_.ts.getTime).max
            val wm = state.getCurrentWatermarkMs()
            val kept = (prev ++ touched).filter {
              case (b, _) => b + ttlMs > wm
            }
            state.update(kept)
            // Must exceed the current watermark (engine requirement);
            // maxTs alone can trail it by up to the lateness allowance.
            state.setTimeoutTimestamp(math.max(maxTs, wm) + ttlMs)
            touched.toSeq.sortBy(_._1).iterator.map { case (b, v) =>
              Velocity(etype, b, v.units, v.n_events, v.units > threshold)
            }
          }
      }
  }

  /** [[velocityState]] on Spark 4's NEW arbitrary-state API
    * (`transformWithState` + [[VelocityProcessor]]): same per-minute
    * bucket accumulation, same watermark-rule eviction, same 5-min
    * whole-key event-time TTL, same emitted rows — the spec pins both
    * implementations to identical output on a shared fixture (the
    * [[upsertLatestTws]] pattern, extended to COMPOSITE state). Where
    * the classic form serializes the whole bucket map as one value per
    * key, this one holds a typed `MapState[Long, VelBucket]` — per-BUCKET
    * state-store rows, so a batch touching one minute of a key with
    * hundreds of live buckets rewrites one entry, not the map — and
    * replaces `EventTimeTimeout` with an explicit event-time timer.
    * Requires the RocksDB state store provider (the documented 100 TB
    * configuration). */
  def velocityStateTws(events: Dataset[Event],
                       threshold: Double = 50.0): Dataset[Velocity] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.event_type)
      .transformWithState(new VelocityProcessor(threshold),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Update())
  }

  /** STREAMING QUANTILE SKETCH — the live twin of
    * `TextOps.quantileSketchGrouped` and the sketch family's native
    * streaming use: the per-language bottom-k register set maintained
    * INCREMENTALLY as `transformWithState` ValueState (the engine's
    * sixth `*Tws` surface). The bottom-k rule is the merge law itself
    * — fold the batch's incoming draws into the stored registers, keep
    * the K smallest — so state is bounded at K rows per language
    * FOREVER (no watermark, no TTL, no timer: a rank sketch never
    * expires), and the streamed register set after any prefix of the
    * corpus is bit-identical to the batch sketch over the same rows —
    * the spec pins exactly that, registers and p50 read-out both,
    * with the corpus split across micro-batches so the cross-batch
    * merge path genuinely runs. Draws replicate the batch side's
    * md5('qsk'||doc_id) 60-bit integer in JVM arithmetic. */
  def quantileSketchStream(docs: Dataset[DocArrival])
      : Dataset[SketchSnapshot] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.lang)
      .transformWithState(new QuantileSketchProcessor(
          graft.operators.TextOps.GroupQSampleK),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** STREAMING WINNOW DECONTAMINATION SCREEN — the live twin of
    * `TextOps.winnowDecontam` and the engine's SEVENTH
    * `transformWithState` surface: arriving train documents are
    * winnow-fingerprinted IN FLIGHT with the exact batch expression
    * chain (`TextOps.winnowKgramHashSqlExpr` + the window-minimum
    * selection — shared strings, not a re-derivation) and screened
    * against a broadcast dirty index built once from the held-out
    * eval corpus — the [[ingestScreen]] stream-static device, so the
    * verdict math is STATELESS per row and every ≥ w+k−1 = 7-word
    * verbatim overlap still hits (winnowing's guarantee survives the
    * move to streaming because the fingerprint rule is identical on
    * both sides).
    *
    * The stateful stage guards the DELIVERY contract, not the math:
    * an at-least-once source redelivers documents on retry/rebalance
    * and across restarts, and [[WinnowScreenProcessor]] holds one
    * boolean of ValueState per doc_id so each document's verdict
    * emits EXACTLY ONCE — in-batch duplicates, later-batch
    * redeliveries, and post-restart redeliveries (state recovers from
    * the checkpoint; spec-pinned on RocksDB) all suppress. State
    * never expires: the screened-set is the screen's ledger, bounded
    * by upstream retention exactly like the first-seen screen's
    * seen-set, not by a TTL that would silently re-admit a
    * redelivery.
    *
    * Scale shape: the dirty index collapses the EVAL SUITE to its
    * distinct winnowed fingerprints (~2/(w+1) ≈ 40% of its distinct
    * 4-gram mass — the eval-suite-is-small production contract
    * `ngram_decontam` documents, KB-to-MB for any real benchmark
    * suite) in one broadcast row; the stream side is a pure
    * projection (fps array + one filter/array_contains fold) plus a
    * doc_id-keyed state lookup. No shuffle aggregate, no watermark,
    * no timer. */
  def winnowDecontamStream(docs: DataFrame,
      evalCorpus: DataFrame): Dataset[DocScreen] = {
    import graft.operators.TextOps
    import docs.sparkSession.implicits._
    val dirty = evalCorpus.filter(col("text").isNotNull)
      .withColumn("h", expr(TextOps.winnowKgramHashSqlExpr))
      .filter(size(col("h")) >= 1)
      .withColumn("fps", expr(TextOps.winnowFpsFromHExpr))
      .select(explode(col("fps")).as("fp")).distinct()
      .agg(collect_set(col("fp")).as("dirty_set"))
    docs
      .filter(col("text").isNotNull)
      .withColumn("h", expr(TextOps.winnowKgramHashSqlExpr))
      .filter(size(col("h")) >= 1)
      .withColumn("fps", expr(TextOps.winnowFpsFromHExpr))
      .crossJoin(broadcast(dirty))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        // filter + array_contains, not array_intersect: fps is
        // already distinct per doc (the batch rule), so this IS
        // |fps ∩ dirty| — and it stays a codegen'd projection.
        size(expr("filter(fps, f -> array_contains(dirty_set, f))"))
          .cast("long").as("n_hits"))
      .withColumn("hit_mille", expr("(1000 * n_hits) div n_fp"))
      .withColumn("contaminated", col("n_hits") > 0)
      .as[DocScreen]
      .groupByKey(_.doc_id)
      .transformWithState(new WinnowScreenProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** P7+C7+T7: rule alerts with severity, unioned into ONE alert stream —
    * high-value events (stream_processor.py:103-109, thresholds :35-39)
    * unioned with per-minute bulk-activity alerts (:255-270), each tagged
    * with the severity lookup (:313-321). Stateless filter ∪ windowed agg:
    * both append-able, one sink (the `realtime-alerts` topic analog). */
  def alerts(events: DataFrame,
             highValue: Double = 200.0,
             bulkPerMinute: Long = 5): DataFrame = {
    val sevHigh = highValue * 2
    val high = events
      .filter(col("value") > highValue)
      .select(
        col("ts"),
        col("user_id"),
        lit("high_value_order").as("alert_type"),
        when(col("value") >= sevHigh, "HIGH").otherwise("MEDIUM")
          .as("severity"),
        col("value").as("metric"))
    val bulk = events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= bulkPerMinute)
      .select(
        col("window.end").as("ts"),
        col("user_id"),
        lit("bulk_orders").as("alert_type"),
        lit("MEDIUM").as("severity"),
        col("n").cast("double").as("metric"))
    high.unionByName(bulk)
  }

  /** S4: Kafka producer sink for the alert stream
    * (`realtime-alerts`, stream_processor.py:306-308; send_message
    * utils.py:76-100) — JSON value, string key. Production wiring; tests
    * use memory/parquet sinks. */
  /** The Kafka record projection of [[kafkaAlertSink]]: string key =
    * entity id, JSON value = the whole alert row (send_message's shape,
    * utils.py:76-100). Split out so the serialization is testable
    * without a broker. */
  def alertRecords(alerts: DataFrame): DataFrame =
    alerts.select(
      col("user_id").cast("string").as("key"),
      to_json(struct(col("*"))).as("value"))

  def kafkaAlertSink(alerts: DataFrame, servers: String,
                     topic: String, checkpoint: String): StreamingQuery =
    alertRecords(alerts)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** S5: versioned + `:latest` dual-write KV sink
    * (`load_to_redis`, batch_processor.py:178-193 / utils.py:128-136).
    * The stream arrives in update mode, so each micro-batch holds only the
    * CHANGED keys — the reference's Redis sink upserts per key, so the
    * delta is merged with the previous `latest` (delta ∪ untouched old
    * keys, keyed by `keyCols`) before writing. Each `v_<batchId>` dir is
    * the full merged snapshot (immutable version), and `latest` is
    * rewritten from it — the overwrite of `latest` only ever reads the
    * just-written versioned dir, never the path it is replacing. Both
    * dirs are read back with the batch's own schema, the one the sink
    * wrote them with, so no read runs a schema-inference job. */
  def dualWriteSink(df: DataFrame, keyCols: Seq[String], outDir: String,
                    checkpoint: String,
                    trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val latestDir = s"$outDir/latest"
        val versionedDir = s"$outDir/v_$batchId"
        val fs = new org.apache.hadoop.fs.Path(outDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        batch.persist()
        val snapshot =
          if (fs.exists(new org.apache.hadoop.fs.Path(latestDir))) {
            val old = spark.read.schema(batch.schema).parquet(latestDir)
            batch.unionByName(old.join(batch, keyCols, "left_anti"))
          } else batch
        snapshot.write.mode("overwrite").parquet(versionedDir)
        spark.read.schema(batch.schema).parquet(versionedDir)
          .write.mode("overwrite").parquet(latestDir)
        batch.unpersist()
        ()
      }
      .start()

  /** T9: bounded replay — consume everything available, then stop (the
    * Airflow-triggered finite stream jobs, airflow_etl_utils.py:65-113:
    * "≤1000 events or 5 min"). `Trigger.AvailableNow` is the exact Spark
    * semantics: catch up through the current end of the source in
    * micro-batches, then terminate. T2's processing-time cadence is
    * `Trigger.ProcessingTime(interval)` on the same writer. */
  def runBounded(df: DataFrame, sinkTable: String, checkpoint: String,
                 outputMode: String = "append"): StreamingQuery =
    df.writeStream.format("memory")
      .queryName(sinkTable)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** T2: processing-time micro-batch cadence — the Spark replacement for
    * the reference's count-based trigger ("recompute every 100 events",
    * stream_processor.py:72-75). Count-based triggers don't exist in
    * Structured Streaming; a fixed processing-time interval is the
    * idiomatic equivalent (SURVEY §2.7 T2 documents the semantic delta:
    * cadence is wall-clock-periodic instead of event-count-periodic). */
  def runPeriodic(df: DataFrame, sinkTable: String, checkpoint: String,
                  interval: String = "1 second",
                  outputMode: String = "append"): StreamingQuery =
    df.writeStream.format("memory")
      .queryName(sinkTable)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(interval))
      .start()
}

/** The [[StreamOps.upsertLatestTws]] processor: one typed ValueState
  * variable per key holding the latest (ts, event_id)-max version; a
  * delete verb clears the variable and emits a tombstone row. Logic is
  * deliberately identical to the `flatMapGroupsWithState` fold in
  * [[StreamOps.upsertLatest]] so the two APIs are directly comparable
  * (and comparably tested). */
/** The [[StreamOps.firstSeenScreenStream]] processor: per-fingerprint
  * min-arrived-doc_id in ONE long of value state. A row is `shared`
  * iff some STRICTLY smaller doc_id carried the fingerprint — from a
  * previous batch (state) or earlier in this batch's key group (the
  * in-group fold runs in doc_id order; Spark does not order group
  * iterators, so the fold sorts its bounded per-key slice first). Two
  * occurrences inside one doc never mark each other shared (strict
  * `<`), mirroring the batch operator's `first_doc < doc_id`. State
  * never expires: the seen-set IS the product (a production deployment
  * bounds it the way the batch corpus is bounded — by upstream
  * retention — not by a TTL that would silently re-admit old
  * duplicates). */
class FirstSeenProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, DocFingerprint, FpSeen] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var firstDoc: ValueState[Long] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: TimeMode): Unit =
    firstDoc = getHandle.getValueState[Long]("first_doc",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(fp: String, rows: Iterator[DocFingerprint],
      timerValues: TimerValues): Iterator[FpSeen] = {
    var minSeen = if (firstDoc.exists()) firstDoc.get() else Long.MaxValue
    val out = rows.toSeq.sortBy(_.doc_id).map { r =>
      val shared = minSeen < r.doc_id
      if (r.doc_id < minSeen) minSeen = r.doc_id
      FpSeen(r.doc_id, r.kind, shared, r.n_chunks)
    }
    firstDoc.update(minSeen)
    out.iterator
  }
}

/** The [[StreamOps.winnowDecontamStream]] processor: one boolean of
  * value state per doc_id — the exactly-once emission ledger. The
  * verdict rows arriving for one doc are IDENTICAL by construction
  * (same text → same fingerprints → same stateless screen math), so
  * suppression needs no reconciliation: the first arrival emits, every
  * later one (in-batch, later-batch, or post-restart) is dropped.
  * State never expires — see the operator's Scaladoc. */
class WinnowScreenProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, DocScreen, DocScreen] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var screened: ValueState[Boolean] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: TimeMode): Unit =
    screened = getHandle.getValueState[Boolean]("screened",
      Encoders.scalaBoolean, TTLConfig.NONE)

  override def handleInputRows(docId: Long, rows: Iterator[DocScreen],
      timerValues: TimerValues): Iterator[DocScreen] = {
    if (screened.exists()) Iterator.empty
    else {
      screened.update(true)
      rows.take(1)
    }
  }
}

/** The [[StreamOps.eventFunnelStream]] processor: three micros anchors
  * per user in ONE product row of value state, advanced by a forward
  * fold in (ts_us, event_id) order (sorted per bounded key-slice —
  * Spark does not order group iterators). Each anchor sets at most
  * once; a step event qualifies only when the previous anchor exists
  * and its timestamp is STRICTLY greater (same-instant ties never
  * advance — `CdcOps.eventFunnel`'s pinned rule). Emits the user's
  * post-fold progress once per batch appearance. */
class FunnelProcessor(windowUs: Option[Long] = None)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, FunnelEvent, FunnelReach] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var anchors: ValueState[FunnelAnchors] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: TimeMode): Unit =
    anchors = getHandle.getValueState[FunnelAnchors]("funnel_anchors",
      Encoders.product[FunnelAnchors], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
      timerValues: TimerValues): Iterator[FunnelReach] = {
    val steps = graft.operators.CdcOps.FunnelSteps
    var st =
      if (anchors.exists()) anchors.get() else FunnelAnchors(0L, 0L, 0L)
    // The optional conversion deadline needs NO extra state: it is
    // first-view + window, recomputed from the stored anchor
    // (inclusive at the boundary — `CdcOps.eventFunnelWindowed`'s
    // pinned rule).
    def inWindow(a0: Long, ts: Long): Boolean =
      windowUs.forall(w => ts <= a0 + w)
    // ONE pass over the batch slice, no sort, no row buffer: because
    // anchors only ever advance to the MINIMUM qualifying timestamp
    // (strict > the predecessor, monotone), processing in timestamp
    // order is equivalent to resolving, per step, min{ts > final
    // predecessor anchor} — so a step whose predecessor anchor is
    // already FIXED at batch entry folds to a running min online
    // (its qualifying predicate is a constant), and only a step whose
    // predecessor may still advance WITHIN this batch must buffer its
    // bare timestamps (the chained minimum needs the predecessor's
    // final value). Memory bound, explicit: O(1) per key once a0 and
    // a1 are set (the steady state of every converted or converting
    // user — nothing is ever buffered again); for a user whose chain
    // is still open, at most that user's step-1/step-2 LONGS in the
    // batch slice — the same worst case the old full sort had, minus
    // the event-id/type payloads and the sort itself.
    val a0Fixed = st.a0_us != 0L
    val a1Fixed = st.a1_us != 0L
    var m0 = Long.MaxValue; var m1 = Long.MaxValue; var m2 = Long.MaxValue
    val buf1 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val buf2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    rows.foreach { r =>
      if (r.event_type == steps(0)) {
        if (!a0Fixed && r.ts_us < m0) m0 = r.ts_us
      } else if (r.event_type == steps(1)) {
        if (st.a1_us == 0L) {
          if (a0Fixed) {
            if (r.ts_us > st.a0_us && inWindow(st.a0_us, r.ts_us) &&
              r.ts_us < m1) m1 = r.ts_us
          } else buf1 += r.ts_us
        }
      } else if (r.event_type == steps(2)) {
        if (st.a2_us == 0L) {
          if (a1Fixed) {
            if (r.ts_us > st.a1_us && inWindow(st.a0_us, r.ts_us) &&
              r.ts_us < m2) m2 = r.ts_us
          } else buf2 += r.ts_us
        }
      }
    }
    if (!a0Fixed && m0 != Long.MaxValue) st = st.copy(a0_us = m0)
    if (st.a1_us == 0L && st.a0_us != 0L) {
      val q = if (a0Fixed) m1
        else buf1.foldLeft(Long.MaxValue)((acc, t) =>
          if (t > st.a0_us && inWindow(st.a0_us, t) && t < acc) t else acc)
      if (q != Long.MaxValue) st = st.copy(a1_us = q)
    }
    if (st.a2_us == 0L && st.a1_us != 0L) {
      val q = if (a1Fixed) m2
        else buf2.foldLeft(Long.MaxValue)((acc, t) =>
          if (t > st.a1_us && inWindow(st.a0_us, t) && t < acc) t else acc)
      if (q != Long.MaxValue) st = st.copy(a2_us = q)
    }
    anchors.update(st)
    val sr = Seq(st.a0_us, st.a1_us, st.a2_us).count(_ != 0L)
    Iterator.single(FunnelReach(user, sr, st.a0_us, st.a1_us, st.a2_us))
  }
}

class UpsertLatestProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, UpsertRow] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var latest: ValueState[LatestState] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: TimeMode): Unit =
    latest = getHandle.getValueState[LatestState]("latest",
      Encoders.product[LatestState], TTLConfig.NONE)

  override def handleInputRows(userId: Long, rows: Iterator[Event],
      timerValues: TimerValues): Iterator[UpsertRow] = {
    val incoming = rows.map(e =>
      LatestState(e.ts.getTime, e.event_id, e.event_type, e.value))
    val stored =
      if (latest.exists()) Iterator.single(latest.get()) else Iterator.empty
    val top = (stored ++ incoming).maxBy(s => (s.ts_ms, s.event_id))
    val isDelete = top.event_type == "error" // op 'd'
    if (isDelete) latest.clear() else latest.update(top)
    Iterator.single(UpsertRow(userId, top.event_type, top.value,
      top.ts_ms, deleted = isDelete))
  }
}

/** The [[StreamOps.velocityStateTws]] processor: T4's per-minute bucket
  * accumulator on the new API. Composite per-key state is a typed
  * `MapState` (bucket-start-millis → [[VelBucket]]) so each live minute
  * is its own state-store entry, and the classic form's
  * `EventTimeTimeout` becomes ONE explicit event-time timer per key —
  * replace-not-accumulate (`listTimers` + `deleteTimer` before
  * `registerTimer`), mirroring `GroupState.setTimeoutTimestamp`
  * semantics so a stale timer can never clear a key that has since
  * seen data. Bucket accumulation, the watermark eviction rule, emitted
  * rows, and the alert threshold are all deliberately identical to
  * [[StreamOps.velocityState]] — the spec runs both on a shared fixture
  * and requires equal output. */
class VelocityProcessor(threshold: Double)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, Event, Velocity] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoders, streaming}

  private val MinuteMs = 60L * 1000
  private val TtlMs = 5L * 60 * 1000

  @transient private var buckets: MapState[Long, VelBucket] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: TimeMode): Unit =
    buckets = getHandle.getMapState[Long, VelBucket]("buckets",
      Encoders.scalaLong, Encoders.product[VelBucket], TTLConfig.NONE)

  override def handleInputRows(etype: String, rows: Iterator[Event],
      timerValues: TimerValues): Iterator[Velocity] = {
    val evs = rows.toSeq
    val touched = evs
      .groupBy(e => e.ts.getTime / MinuteMs * MinuteMs)
      .map { case (b, es) =>
        val p = if (buckets.containsKey(b)) buckets.getValue(b)
                else VelBucket(0.0, 0L)
        b -> VelBucket(p.units + es.map(_.value).sum, p.n_events + es.size)
      }
    touched.foreach { case (b, v) => buckets.updateValue(b, v) }
    // Same eviction rule as the classic twin: a bucket is dropped only
    // once no admissible event can still target it.
    val wm = timerValues.getCurrentWatermarkInMs()
    buckets.keys().toSeq.filter(_ + TtlMs <= wm).foreach(buckets.removeKey)
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    val maxTs = evs.map(_.ts.getTime).max
    // Must exceed the current watermark (engine requirement); maxTs
    // alone can trail it by up to the lateness allowance.
    getHandle.registerTimer(math.max(maxTs, wm) + TtlMs)
    touched.toSeq.sortBy(_._1).iterator.map { case (b, v) =>
      Velocity(etype, b, v.units, v.n_events, v.units > threshold)
    }
  }

  override def handleExpiredTimer(etype: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Velocity] = {
    // Key silent for the TTL of event time: drop its whole state,
    // silently — the classic twin's hasTimedOut branch.
    buckets.clear()
    Iterator.empty
  }
}

/** The [[StreamOps.userSessionsTws]] processor: gap-merged
  * sessionization as explicit state. Per key, a typed `ListState` of
  * disjoint OPEN sessions; every batch folds its (ts-sorted) events in
  * as single-event sessions and re-merges the sorted list with the
  * native operator's strict rule (merge iff `start < prev.last + gap`
  * — a bridging event can collapse two formerly-separate sessions,
  * which is exactly why the state must stay a LIST until the watermark
  * freezes it). One event-time timer per key sits at the EARLIEST open
  * close boundary; on fire, sessions whose `last + gap ≤ watermark`
  * are emitted closed (append semantics — each session exactly once)
  * and the timer re-arms for the survivors. Values accumulate as exact
  * cents (the decimal(18,2) HALF_UP rule of the native twin's cast) so
  * the emitted double is the same value the native sum produces. */
class UserSessionsProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, SessionRow] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var sessions: ListState[OpenSession] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: TimeMode): Unit =
    sessions = getHandle.getListState[OpenSession]("sessions",
      Encoders.product[OpenSession], TTLConfig.NONE)

  private def cents(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def merge(all: Seq[OpenSession]): List[OpenSession] =
    all.sortBy(s => (s.start_ms, s.last_ms))
      .foldLeft(List.empty[OpenSession]) { (acc, s) =>
        acc match {
          case h :: t if s.start_ms < h.last_ms + gapMs =>
            OpenSession(h.start_ms, math.max(h.last_ms, s.last_ms),
              h.n_events + s.n_events, h.cents + s.cents) :: t
          case _ => s :: acc
        }
      }.reverse

  private def armTimer(open: Seq[OpenSession], wm: Long): Unit = {
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    if (open.nonEmpty) {
      // Earliest close boundary; must exceed the current watermark
      // (engine requirement — an admissible late event can trail it).
      val next = open.map(_.last_ms + gapMs).min
      getHandle.registerTimer(math.max(next, wm + 1))
    }
  }

  override def handleInputRows(userId: Long, rows: Iterator[Event],
      timerValues: TimerValues): Iterator[SessionRow] = {
    val incoming = rows.toSeq.map(e =>
      OpenSession(e.ts.getTime, e.ts.getTime, 1L, cents(e.value)))
    val merged = merge(sessions.get().toSeq ++ incoming)
    sessions.clear()
    merged.foreach(sessions.appendValue)
    armTimer(merged, timerValues.getCurrentWatermarkInMs())
    Iterator.empty
  }

  override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionRow] = {
    val wm = timerValues.getCurrentWatermarkInMs()
    val (closed, open) = sessions.get().toSeq.sortBy(_.start_ms)
      .partition(_.last_ms + gapMs <= wm)
    sessions.clear()
    open.foreach(sessions.appendValue)
    armTimer(open, wm)
    closed.iterator.map(s => SessionRow(userId, s.start_ms,
      s.last_ms + gapMs, s.n_events, s.cents / 100.0))
  }
}

/** The [[StreamOps.quantileSketchStream]] processor: per-language
  * bottom-k registers as one typed `ValueState` list. `handleInputRows`
  * IS the sketch's merge law — stored ∪ incoming, keep the k smallest
  * (u, doc_id) — so a register survives iff its draw is among the k
  * smallest seen by this key so far, regardless of how arrivals were
  * batched; that is the property the batch twin's merge spec pins and
  * the reason no timer, watermark, or TTL exists here (rank-sketch
  * state never expires, it is bounded by construction). The emitted
  * snapshot carries an order-free Σu (mod 2^61) register-set checksum
  * and the p50 covering read-out (smallest v whose value-rank·100 ≥
  * k_eff·50 — the batch read-out rule verbatim). */
class QuantileSketchProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, DocArrival, SketchSnapshot] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var regs: ValueState[List[SketchReg]] = _
  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: TimeMode): Unit = {
    regs = getHandle.getValueState[List[SketchReg]]("regs",
      Encoders.kryo[List[SketchReg]], TTLConfig.NONE)
    seen = getHandle.getValueState[Long]("seen",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  /** The batch side's md5('qsk' || doc_id) 60-bit draw, in JVM
    * arithmetic: first 15 hex chars of the digest parsed base-16 —
    * matching SQL `conv(substring(md5(concat('qsk', doc_id)), 1, 15),
    * 16, 10)` exactly. */
  private def draw(docId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"qsk$docId".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  override def handleInputRows(lang: String, rows: Iterator[DocArrival],
      timerValues: TimerValues): Iterator[SketchSnapshot] = {
    val incoming = rows.map(d => SketchReg(draw(d.doc_id), d.doc_id,
      d.n_chars)).toSeq
    val stored = if (regs.exists()) regs.get() else Nil
    val merged = (stored ++ incoming)
      .sortBy(r => (r.u, r.doc_id)).take(k).toList
    regs.update(merged)
    val nSeen = (if (seen.exists()) seen.get() else 0L) + incoming.size
    seen.update(nSeen)
    val kEff = merged.size.toLong
    val byV = merged.sortBy(r => (r.v, r.doc_id))
    val p50 = byV.zipWithIndex
      .collectFirst { case (r, i) if (i + 1) * 100 >= kEff * 50 => r.v }
      .getOrElse(0L)
    val checksum = merged.foldLeft(0L)((a, r) =>
      (a + r.u) % 2305843009213693951L)
    Iterator.single(SketchSnapshot(lang, nSeen, merged.size, checksum,
      p50))
  }
}
