package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming._

/** Structured Streaming runtime tests (SURVEY §5 item 4): MemoryStream in,
  * memory sink out, `processAllAvailable` between micro-batches so state
  * transitions are observable deterministically. No DuckDB oracle exists
  * for streaming — these specs ARE the correctness gate for T1-T9. */
class StreamOpsSpec extends GraftSpec {
  import spark.implicits._

  private def event(id: Long, t: String, user: Long, etype: String,
                    value: Double): Event =
    Event(id, ts(t), user, etype, value, "{}")

  test("T5: upsert-latest keeps per-key max (ts, event_id) across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.upsertLatest(in.toDS())
      .writeStream.format("memory").queryName("t5_upsert")
      .outputMode("update").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 7, "signup", 1.0),
        event(2, "2024-01-01 10:05:00", 7, "purchase", 2.0))
      q.processAllAvailable()
      val afterB1 = spark.table("t5_upsert").collect()
      // One emitted row per key per trigger: latest = event 2.
      assert(afterB1.map(_.getAs[Long]("last_ts_ms")).max ==
        ts("2024-01-01 10:05:00").getTime)

      // An EARLIER event in a later batch must not override stored state.
      in.addData(event(3, "2024-01-01 09:00:00", 7, "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("t5_upsert")
        .orderBy($"last_ts_ms".desc).collect()
      assert(rows.head.getAs[String]("last_event_type") == "purchase")
      assert(!rows.head.getAs[Boolean]("deleted"))
    } finally q.stop()
  }

  test("T5: a delete verb tombstones the key and clears state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.upsertLatest(in.toDS())
      .writeStream.format("memory").queryName("t5_tomb")
      .outputMode("update").start()
    try {
      in.addData(event(1, "2024-01-01 10:00:00", 9, "signup", 1.0))
      q.processAllAvailable()
      in.addData(event(2, "2024-01-01 11:00:00", 9, "error", 0.0)) // op 'd'
      q.processAllAvailable()
      val last = spark.table("t5_tomb")
        .orderBy($"last_ts_ms".desc).collect().head
      assert(last.getAs[Boolean]("deleted"))
      // State was removed: a fresh create after the tombstone starts over
      // (emits with its own ts, not the tombstone's).
      in.addData(event(3, "2024-01-01 12:00:00", 9, "signup", 5.0))
      q.processAllAvailable()
      val resurrected = spark.table("t5_tomb")
        .orderBy($"last_ts_ms".desc).collect().head
      assert(resurrected.getAs[String]("last_event_type") == "signup")
      assert(!resurrected.getAs[Boolean]("deleted"))
    } finally q.stop()
  }

  test("streaming change log matches the batch twin on an ordered feed") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.changeLog(in.toDS())
      .writeStream.format("memory").queryName("chg_log")
      .outputMode("append").start()
    // Per-key ordered feed split across triggers, with an unchanged-value
    // transition (2.0 → 2.0) that must NOT emit, and a second key.
    val evs = Seq(
      event(1, "2024-01-01 10:00:00", 7, "signup", 1.0),
      event(2, "2024-01-01 10:05:00", 7, "purchase", 2.0),
      event(3, "2024-01-01 10:06:00", 7, "click", 2.0),
      event(4, "2024-01-01 10:30:00", 7, "click", 5.0),
      event(5, "2024-01-01 10:01:00", 8, "signup", 4.0),
      event(6, "2024-01-01 10:02:00", 8, "click", 3.0))
    try {
      in.addData(evs.take(3): _*)
      q.processAllAvailable()
      in.addData(evs.drop(3): _*) // state must chain across the trigger
      q.processAllAvailable()
      val got = spark.table("chg_log").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[Double]("delta"), r.getAs[Long]("ms_since_prev"))).toSet
      // Key 7: 1→2 (event 2), 2.0→2.0 suppressed, 2→5 across triggers
      // (event 4, 24 min after event 3); key 8: 4→3 (event 6).
      assert(got == Set(
        (7L, 2L, 1.0, 5 * 60 * 1000L),
        (7L, 4L, 3.0, 24 * 60 * 1000L),
        (8L, 6L, -1.0, 60 * 1000L)))
      // Batch twin on the same fixture produces the identical set.
      val batch = graft.operators.CdcOps.changeLogOf(
        spark.createDataset(evs).toDF()).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[Double]("delta"), r.getAs[Long]("ms_since_prev"))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streaming 7-day rolling metrics match the batch twin on a " +
      "gapped calendar (chained event-time aggregations)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.rolling7dMetrics(in.toDF())
      .writeStream.format("memory").queryName("r7d")
      .outputMode("append").start()
    // Calendar gaps are the RANGE-vs-ROWS trap: Jan 10's trailing window
    // covers Jan 4-10 and must see ONLY Jan 5 + Jan 10 (2 days present),
    // not "the last 7 days that had data".
    val evs = Seq(
      event(1, "2024-01-01 08:00:00", 1, "click", 10.0),
      event(2, "2024-01-01 09:00:00", 2, "purchase", 20.0),
      event(3, "2024-01-02 10:00:00", 1, "view", 5.0),
      event(4, "2024-01-05 12:00:00", 3, "click", 7.0),
      event(5, "2024-01-10 13:00:00", 2, "click", 3.0))
    try {
      in.addData(evs: _*)
      q.processAllAvailable()
      // Two sentinel triggers push the watermark past every fixture
      // span's end THROUGH BOTH stateful stages (stage 1 closes day
      // windows with the watermark of the previous trigger; stage 2
      // needs one more).
      in.addData(event(6, "2024-02-01 00:00:00", 9, "click", 1.0))
      q.processAllAvailable()
      in.addData(event(7, "2024-02-02 00:00:00", 9, "click", 1.0))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("n_events"),
          r.getAs[Double]("day_value"), r.getAs[Long]("events_7d"),
          r.getAs[Double]("value_7d"), r.getAs[Long]("days_present_7d"))
      val got = spark.table("r7d").collect().map(key).sortBy(_._1).toSeq
      // Hand-checked anchor rows (sentinel days' spans stay open).
      assert(got.map(t => (t._1, t._2, t._4, t._6)) == Seq(
        ("2024-01-01", 2L, 2L, 1L),
        ("2024-01-02", 1L, 3L, 2L),
        ("2024-01-05", 1L, 4L, 3L),
        ("2024-01-10", 1L, 2L, 2L)))
      // The batch twin on the same fixture produces identical rows for
      // every day the stream finalized.
      val batch = graft.operators.CdcOps.rolling7dMetricsOf(
          spark.createDataset(evs).toDF())
        .collect().map(key).sortBy(_._1).toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming trailing-7d DAU matches the batch twin on shared days " +
      "(sliding dedup + chained count)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.trailingDauStream(in.toDF())
      .writeStream.format("memory").queryName("t7dau")
      .outputMode("append").start()
    // User 1 active on Jan 1 AND Jan 2 (must count once per span),
    // user 2 on Jan 1 only, user 3 far enough later that no span
    // overlaps the first cluster.
    val evs = Seq(
      event(1, "2024-01-01 08:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 09:00:00", 2, "click", 1.0),
      event(3, "2024-01-02 10:00:00", 1, "view", 1.0),
      event(4, "2024-01-20 12:00:00", 3, "click", 1.0))
    try {
      in.addData(evs: _*)
      q.processAllAvailable()
      // Sentinels push the watermark through both stateful stages.
      in.addData(event(5, "2024-03-01 00:00:00", 9, "click", 1.0))
      q.processAllAvailable()
      in.addData(event(6, "2024-03-02 00:00:00", 9, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("t7dau").collect()
        .map(r => r.getAs[java.sql.Date]("day").toString ->
          r.getAs[Long]("dau_7d")).toMap
      // Spot anchors: Jan 1 sees users {1,2}; Jan 2 adds 1's second
      // day but the span still counts it once → {1,2}; Jan 8's span
      // [Jan 2, Jan 8] sees only user 1.
      assert(got("2024-01-01") == 2L)
      assert(got("2024-01-02") == 2L)
      assert(got("2024-01-08") == 1L)
      // Batch twin equality on every day the batch side emits
      // (streaming legitimately adds empty-anchor-day spans).
      graft.operators.CdcOps.trailingDauOf(
          spark.createDataset(evs).toDF()).collect()
        .foreach { r =>
          val d = r.getAs[java.sql.Date]("day").toString
          assert(got.get(d).contains(r.getAs[Long]("dau_7d")),
            s"batch/stream split on $d")
        }
    } finally q.stop()
  }

  test("T1/A12: minute windows emit after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.minuteMetrics(in.toDF())
      .writeStream.format("memory").queryName("t1_minute")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:10", 1, "click", 10.0),
        event(2, "2024-01-01 10:00:50", 2, "click", 20.0))
      q.processAllAvailable()
      // Watermark hasn't passed 10:01 yet — nothing final.
      assert(spark.table("t1_minute").count() == 0)

      // An event at 10:05 pushes the watermark to 10:03 > 10:01 → the
      // 10:00 window closes and is appended.
      in.addData(event(3, "2024-01-01 10:05:00", 1, "click", 5.0))
      q.processAllAvailable()
      in.addData(event(4, "2024-01-01 10:10:00", 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("t1_minute").collect()
        .map(r => r.getAs[java.sql.Timestamp]("minute_start") -> r).toMap
      val w0 = rows(ts("2024-01-01 10:00:00"))
      assert(w0.getAs[Long]("n_events") == 2L)
      assert(w0.getAs[Double]("total_value") == 30.0)
      assert(w0.getAs[Double]("avg_value") == 15.0)
    } finally q.stop()
  }

  test("T1: events later than the watermark delay are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.minuteMetrics(in.toDF())
      .writeStream.format("memory").queryName("t1_late")
      .outputMode("append").start()
    try {
      in.addData(event(1, "2024-01-01 10:00:10", 1, "click", 10.0))
      q.processAllAvailable()
      in.addData(event(2, "2024-01-01 10:30:00", 1, "click", 1.0))
      q.processAllAvailable()
      // 28 minutes late, far beyond the 2-minute watermark → dropped;
      // its window must never appear.
      in.addData(event(3, "2024-01-01 10:02:00", 1, "click", 99.0))
      q.processAllAvailable()
      in.addData(event(4, "2024-01-01 11:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      val minutes = spark.table("t1_late").collect()
        .map(_.getAs[java.sql.Timestamp]("minute_start")).toSet
      assert(!minutes.contains(ts("2024-01-01 10:02:00")))
    } finally q.stop()
  }

  test("T3: activity state accumulates event_count across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.activityState(in.toDS())
      .writeStream.format("memory").queryName("t3_activity")
      .outputMode("update").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 5, "purchase", 10.0),
        event(2, "2024-01-01 10:01:00", 5, "purchase", 20.0))
      q.processAllAvailable()
      in.addData(event(3, "2024-01-01 10:02:00", 5, "purchase", 30.0))
      q.processAllAvailable()
      val last = spark.table("t3_activity")
        .orderBy($"event_count".desc).collect().head
      assert(last.getAs[Long]("event_count") == 3L)
      assert(last.getAs[Long]("last_event_ts_ms") ==
        ts("2024-01-01 10:02:00").getTime)
      assert(last.getAs[Double]("last_value") == 30.0)
    } finally q.stop()
  }

  test("T4: velocity flags a key whose in-minute units exceed threshold") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.velocityState(in.toDS(), threshold = 50.0)
      .writeStream.format("memory").queryName("t4_velocity")
      .outputMode("update").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:01", 1, "purchase", 30.0),
        event(2, "2024-01-01 10:00:02", 1, "purchase", 30.0),
        event(3, "2024-01-01 10:00:03", 2, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("t4_velocity").collect()
        .map(r => r.getAs[String]("event_type") -> r).toMap
      assert(rows("purchase").getAs[Double]("units") == 60.0)
      assert(rows("purchase").getAs[Boolean]("alert"))
      assert(!rows("view").getAs[Boolean]("alert"))
    } finally q.stop()
  }

  test("T4: a minute-spanning batch accumulates every touched bucket") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.velocityState(in.toDS(), threshold = 50.0)
      .writeStream.format("memory").queryName("t4_buckets")
      .outputMode("update").start()
    try {
      // One batch spanning two minutes: both buckets must be emitted,
      // neither dropped (the round-4 impl kept only the max bucket).
      in.addData(
        event(1, "2024-01-01 10:00:10", 1, "purchase", 10.0),
        event(2, "2024-01-01 10:01:10", 1, "purchase", 40.0))
      q.processAllAvailable()
      // A later batch with an OUT-OF-ORDER event for the earlier minute
      // (still inside the TTL) accumulates into that bucket's state.
      in.addData(event(3, "2024-01-01 10:00:20", 1, "purchase", 45.0))
      q.processAllAvailable()
      val byBucket = spark.table("t4_buckets").collect()
        .groupBy(_.getAs[Long]("window_start_ms"))
      val b0 = ts("2024-01-01 10:00:00").getTime
      val b1 = ts("2024-01-01 10:01:00").getTime
      // Batch 1 emitted both buckets.
      assert(byBucket(b1).map(_.getAs[Double]("units")).toSeq == Seq(40.0))
      // Bucket 10:00 was emitted twice: 10.0 then 10+45=55 (alert fires).
      val bucket0 = byBucket(b0).map(r =>
        (r.getAs[Double]("units"), r.getAs[Boolean]("alert"))).sortBy(_._1)
      assert(bucket0.toSeq == Seq((10.0, false), (55.0, true)))
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dimension per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "c7", "BUILDING", 0L), (8L, "c8", "MACHINERY", 1L))
      .toDF("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val in = MemoryStream[Event]
    val q = StreamOps.enrichEvents(in.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 7, "click", 1.0),
        event(2, "2024-01-01 10:00:01", 9, "view", 2.0)) // unknown user
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[String]("segment"))).toMap
      assert(rows(1L).contains("BUILDING"))
      assert(rows(2L).isEmpty) // left join: unknown entity still flows
    } finally q.stop()
  }

  test("stream-stream attribution joins purchases to in-window clicks") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.attributionJoin(in.toDF())
      .writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 7, "click", 0.0),
        event(2, "2024-01-01 09:00:00", 8, "click", 0.0),
        // in-window for user 7's click (1 h later)...
        event(3, "2024-01-01 11:00:00", 7, "purchase", 99.0),
        // ...but user 8's purchase is 4 h after its click: outside the
        // 2 h lookback, must NOT join
        event(4, "2024-01-01 13:00:00", 8, "purchase", 50.0),
        // and a purchase with no prior click at all
        event(5, "2024-01-01 11:30:00", 9, "purchase", 10.0))
      q.processAllAvailable()
      val rows = spark.table("attribution").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("purchase_id") == 3L)
      assert(rows.head.getAs[Long]("click_id") == 1L)
      assert(rows.head.getAs[Double]("value") == 99.0)
    } finally q.stop()
  }

  test("outer attribution emits organic purchases after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.attributionJoinOuter(in.toDF())
      .writeStream.format("memory").queryName("attribution_outer")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 7, "click", 0.0),
        event(3, "2024-01-01 11:00:00", 7, "purchase", 99.0),
        // Organic: no click for user 9 at all.
        event(5, "2024-01-01 11:30:00", 9, "purchase", 10.0))
      q.processAllAvailable()
      // Matched rows emit immediately; the organic row is HELD — the
      // watermark cannot yet prove no matching click will arrive.
      val early = spark.table("attribution_outer").collect()
      assert(early.map(_.getAs[Long]("purchase_id")).toSet == Set(3L))
      // Far-future events on BOTH branches: the global watermark is the
      // MIN of the click-side and purchase-side watermarks (both derive
      // from this one input, post-filter), so a click alone cannot
      // advance it past the held purchase.
      in.addData(
        event(9, "2024-01-02 12:00:00", 7, "click", 0.0),
        event(10, "2024-01-02 12:00:00", 7, "purchase", 1.0))
      q.processAllAvailable()
      // Null-row eviction happens at state cleanup, one micro-batch
      // AFTER the batch whose watermark passed the horizon — nudge one
      // more batch through.
      in.addData(
        event(11, "2024-01-02 13:00:00", 7, "click", 0.0),
        event(12, "2024-01-02 13:00:00", 7, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attribution_outer").collect()
        .map(r => r.getAs[Long]("purchase_id") ->
          Option(r.getAs[java.lang.Long]("click_id"))).toMap
      assert(rows(3L).contains(1L))
      assert(rows.contains(5L) && rows(5L).isEmpty,
        s"organic purchase missing or joined: $rows")
    } finally q.stop()
  }

  test("session windows merge within the gap and finalize on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.userSessions(in.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // User 7: two events 5 min apart (one session), then one 3 h later
      // (a second session — the 2 h gap expired between them).
      // User 3: an OUT-OF-ORDER bridge inside one batch — 10:00 and 13:30
      // arrive first, then 11:45 lands between and chains all three into
      // ONE session (11:45 < 10:00's close at 12:00, and 13:30 < 11:45's
      // close at 13:45).
      in.addData(
        event(1, "2024-01-01 10:00:00", 7, "click", 10.0),
        event(2, "2024-01-01 10:05:00", 7, "view", 5.0),
        event(3, "2024-01-01 13:10:00", 7, "purchase", 20.0),
        event(5, "2024-01-01 10:00:00", 3, "click", 1.25),
        event(6, "2024-01-01 13:30:00", 3, "view", 2.5),
        event(7, "2024-01-01 11:45:00", 3, "click", 4.0))
      q.processAllAvailable()
      // Advance the watermark far past every session's close so append
      // mode finalizes them all.
      in.addData(event(4, "2024-01-02 12:00:00", 8, "click", 1.0))
      q.processAllAvailable()
      val bridged = spark.table("sessions")
        .filter($"user_id" === 3L).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("session_start"),
          r.getAs[java.sql.Timestamp]("session_end"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      assert(bridged.toSeq == Seq((ts("2024-01-01 10:00:00"),
        ts("2024-01-01 15:30:00"), 3L, 7.75)))
      val rows = spark.table("sessions")
        .filter($"user_id" === 7L)
        .orderBy("session_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[java.sql.Timestamp]("session_start") ==
        ts("2024-01-01 10:00:00"))
      // session end = last event + gap (the window close, not the last
      // observed event — the batch twin reports the latter)
      assert(rows(0).getAs[java.sql.Timestamp]("session_end") ==
        ts("2024-01-01 12:05:00"))
      assert(rows(0).getAs[Long]("n_events") == 2L)
      assert(rows(0).getAs[Double]("total_value") == 15.0)
      assert(rows(1).getAs[Long]("n_events") == 1L)
    } finally q.stop()
  }

  test("T4: an admissible late event re-emits its bucket with FULL counts") {
    // Eviction is watermark-driven: a bucket must survive as long as the
    // 10-min lateness allowance can still deliver an event for it, even
    // when the key's own max ts has moved past bucket + TTL. (The earlier
    // key-local eviction dropped the bucket, so the late event re-emitted
    // it with only its own partial count — an upsert consumer would have
    // silently retracted the bucket's prior total.)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.velocityState(in.toDS(), threshold = 50.0)
      .writeStream.format("memory").queryName("t4_late")
      .outputMode("update").start()
    try {
      // Key-max ts 10:07 puts bucket 10:00 past its 5-min TTL, but the
      // watermark (10:07 − 10 min) has not passed it.
      in.addData(
        event(1, "2024-01-01 10:00:10", 1, "purchase", 30.0),
        event(2, "2024-01-01 10:07:00", 1, "purchase", 1.0))
      q.processAllAvailable()
      // Late-but-admissible event for bucket 10:00: must ACCUMULATE.
      in.addData(event(3, "2024-01-01 10:00:20", 1, "purchase", 25.0))
      q.processAllAvailable()
      val b0 = ts("2024-01-01 10:00:00").getTime
      val units = spark.table("t4_late").collect()
        .filter(_.getAs[Long]("window_start_ms") == b0)
        .map(r => (r.getAs[Double]("units"), r.getAs[Boolean]("alert")))
        .sortBy(_._1)
      assert(units.toSeq == Seq((30.0, false), (55.0, true)))
    } finally q.stop()
  }

  test("T3: event-time TTL drops idle state silently; fresh events restart") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.activityState(in.toDS())
      .writeStream.format("memory").queryName("t3_ttl")
      .outputMode("update").start()
    try {
      in.addData(event(1, "2024-01-01 10:00:00", 5, "purchase", 1.0))
      q.processAllAvailable()
      // Push the watermark past user 5's 24 h timeout via another key...
      in.addData(event(2, "2024-01-03 10:00:00", 6, "purchase", 1.0))
      q.processAllAvailable()
      // ...and one more batch so the (now-exceeded) timeout fires. Expiry
      // emits NOTHING (flatMapGroupsWithState returns empty on timeout).
      in.addData(event(3, "2024-01-03 11:00:00", 6, "purchase", 1.0))
      q.processAllAvailable()
      // User 5's state is gone: a fresh event restarts event_count at 1
      // instead of resuming at 2.
      in.addData(event(4, "2024-01-03 12:00:00", 5, "purchase", 9.0))
      q.processAllAvailable()
      val u5 = spark.table("t3_ttl")
        .filter($"user_id" === 5L).collect()
      assert(u5.map(_.getAs[Long]("event_count")).max == 1L)
      assert(u5.length == 2) // one row per live batch, none at expiry
    } finally q.stop()
  }

  test("two independent queries consume the full stream (dual group-id)") {
    // The reference runs cdc_processor and stream_processor as two
    // consumers with distinct group ids over the same topics
    // (SURVEY §3.3) — in Spark, two streaming queries over one source
    // definition, each with its own offsets/state. Both must see EVERY
    // event, not split them.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val src = in.toDF()
    val q1 = StreamOps.typeCounters(src)
      .writeStream.format("memory").queryName("dual_cdc")
      .outputMode("update").start()
    val q2 = StreamOps.minuteMetrics(src)
      .writeStream.format("memory").queryName("dual_stream")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:10", 1, "click", 10.0),
        event(2, "2024-01-01 10:00:20", 2, "view", 20.0))
      q1.processAllAvailable()
      q2.processAllAvailable()
      // close the 10:00 window for the windowed consumer
      in.addData(event(3, "2024-01-01 10:10:00", 1, "click", 1.0))
      q1.processAllAvailable()
      q2.processAllAvailable()
      val counters = spark.table("dual_cdc").collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events"))
        .toMap
      assert(counters("click") == 2L && counters("view") == 1L)
      val minute = spark.table("dual_stream").collect()
        .find(_.getAs[java.sql.Timestamp]("minute_start") ==
          ts("2024-01-01 10:00:00")).get
      assert(minute.getAs[Long]("n_events") == 2L) // full stream, not half
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming dedup drops watermark-horizon redeliveries") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.dedupEvents(in.toDF())
      .writeStream.format("memory").queryName("dedup_events")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        event(1, "2024-01-01 10:00:00", 1, "click", 1.0), // same-batch dup
        event(2, "2024-01-01 10:00:30", 2, "view", 2.0))
      q.processAllAvailable()
      // cross-batch redelivery of event 1, still inside the horizon
      in.addData(event(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      // a redelivery of event 2 beside a fresh id 4: only 4 emits
      in.addData(
        event(2, "2024-01-01 10:00:30", 2, "view", 2.0),
        event(4, "2024-01-01 10:02:00", 2, "view", 4.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_events").collect()
        .map(_.getAs[Long]("event_id")).toSeq.sorted
      assert(ids == Seq(1L, 2L, 4L), s"each id exactly once, got $ids")
    } finally q.stop()
  }

  test("T5: keyed state runs on the RocksDB state store (the 100 TB knob)") {
    // At real key cardinalities the HDFS-backed in-memory store is the
    // bottleneck; RocksDB is the documented scale configuration
    // (SURVEY §7.3/§7.5). Same operator, same assertions — only the
    // provider changes, proving the state schema round-trips through it.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Event]
    val q = StreamOps.upsertLatest(in.toDS())
      .writeStream.format("memory").queryName("t5_rocksdb")
      .outputMode("update").start()
    try {
      in.addData(event(1, "2024-01-01 10:00:00", 3, "signup", 1.0))
      q.processAllAvailable()
      in.addData(event(2, "2024-01-01 11:00:00", 3, "purchase", 2.0))
      q.processAllAvailable()
      val last = spark.table("t5_rocksdb")
        .orderBy($"last_ts_ms".desc).collect().head
      assert(last.getAs[String]("last_event_type") == "purchase")
      assert(last.getAs[Long]("last_ts_ms") ==
        ts("2024-01-01 11:00:00").getTime)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("T4: velocity folds late events and clears a silent key") {
    // Multi-key, same-bucket accumulation, a minute-spanning batch, an
    // out-of-order event folding into an older live bucket, threshold
    // alerts, watermark-driven bucket eviction, and a key going silent
    // past the TTL (its whole state clears) then returning with fresh
    // counts.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.velocityState(in.toDS(), threshold = 50.0)
      .writeStream.format("memory").queryName("t4_fold_ttl")
      .outputMode("update").start()
    val batches = Seq(
      Seq(event(1, "2024-01-01 10:00:10", 1, "purchase", 30.0),
        event(2, "2024-01-01 10:00:20", 1, "purchase", 25.0), // alert
        event(3, "2024-01-01 10:01:05", 2, "view", 10.0)),
      Seq(event(4, "2024-01-01 10:01:30", 1, "purchase", 5.0),
        event(5, "2024-01-01 10:00:40", 1, "purchase", 10.0)), // late fold
      // Advances the watermark far past view's last event + TTL: view's
      // whole-key state must clear, old buckets evict.
      Seq(event(6, "2024-01-01 10:30:00", 1, "purchase", 1.0)),
      // view returns: counts restart from zero, not 10.0 + 2.0.
      Seq(event(7, "2024-01-01 10:31:00", 2, "view", 2.0)))
    try {
      batches.take(3).foreach { b => in.addData(b); q.processAllAvailable() }
      // One state row per live key: view's timed out, purchase's remains.
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L)
      in.addData(batches(3)); q.processAllAvailable()
      val rows = spark.table("t4_fold_ttl").as[Velocity].collect().toSeq
        .map(v => (v.event_type, v.window_start_ms, v.units, v.n_events,
          v.alert))
      // The 10:00 bucket alerted at 55 then re-emitted at 65 after the
      // late fold, and view's return row carries FRESH counts.
      assert(rows.contains(("purchase", ts("2024-01-01 10:00:00").getTime,
        55.0, 2L, true)))
      assert(rows.contains(("purchase", ts("2024-01-01 10:00:00").getTime,
        65.0, 3L, true)))
      assert(rows.contains(("view", ts("2024-01-01 10:31:00").getTime,
        2.0, 1L, false)))
    } finally q.stop()
  }

  test("T7: alert union carries both rule streams with severity") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.alerts(in.toDF(), highValue = 200.0, bulkPerMinute = 3)
      .writeStream.format("memory").queryName("t7_alerts")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:01", 1, "purchase", 450.0), // HIGH
        event(2, "2024-01-01 10:00:02", 1, "purchase", 250.0), // MEDIUM
        event(3, "2024-01-01 10:00:03", 1, "purchase", 10.0),
        event(4, "2024-01-01 10:00:04", 1, "purchase", 10.0))
      q.processAllAvailable()
      in.addData(event(5, "2024-01-01 10:10:00", 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("t7_alerts").collect()
      val byType = rows.groupBy(_.getAs[String]("alert_type"))
      val high = byType("high_value_order")
      assert(high.map(_.getAs[String]("severity")).sorted.toSeq ==
        Seq("HIGH", "MEDIUM"))
      // user 1 fired 4 events in minute 10:00 ≥ 3 → one bulk alert once
      // the watermark closed the window.
      val bulk = byType("bulk_orders")
      assert(bulk.length == 1)
      assert(bulk.head.getAs[Long]("user_id") == 1L)
      assert(bulk.head.getAs[Double]("metric") == 4.0)
    } finally q.stop()
  }

  test("T9: bounded replay over a file source consumes all then stops") {
    val srcDir = s"$scratch/stream_events"
    val events = (1L to 20L).map(i =>
      event(i, f"2024-01-01 10:${i % 60}%02d:00", i % 3, "click", i.toDouble))
    spark.createDataset(events).write.mode("overwrite").parquet(srcDir)

    val stream = StreamOps.fileSource(spark, srcDir)
    assert(stream.isStreaming)
    val q = StreamOps.runBounded(stream, "t9_bounded",
      s"$scratch/ckpt_t9")
    q.awaitTermination() // AvailableNow terminates on its own
    assert(spark.table("t9_bounded").count() == 20)
  }

  test("S5: dual-write sink writes versioned and latest copies") {
    val srcDir = s"$scratch/s5_events"
    spark.createDataset(Seq(
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 10:01:00", 2, "view", 2.0)
    )).write.mode("overwrite").parquet(srcDir)

    val outDir = s"$scratch/s5_out"
    val counts = StreamOps.typeCounters(StreamOps.fileSource(spark, srcDir))
    val q = StreamOps.dualWriteSink(counts, Seq("event_type", "op"),
      outDir, s"$scratch/ckpt_s5")
    q.awaitTermination()
    val latest = spark.read.parquet(s"$outDir/latest")
    assert(latest.count() == 2) // click + view counters
    assert(new java.io.File(outDir).listFiles()
      .exists(_.getName.startsWith("v_")))
  }

  test("S5: latest merges update-mode deltas instead of dropping old keys") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val outDir = s"$scratch/s5_merge_out"
    val counts = StreamOps.typeCounters(in.toDF())
    // Periodic trigger (AvailableNow would stop after batch 1): each
    // addData + processAllAvailable round is one micro-batch, so batch 2
    // carries only the changed key ("view").
    val q = StreamOps.dualWriteSink(counts, Seq("event_type", "op"),
      outDir, s"$scratch/ckpt_s5_merge",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      in.addData(event(1, "2024-01-01 10:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(event(2, "2024-01-01 10:01:00", 2, "view", 2.0))
      q.processAllAvailable()
      val latest = spark.read.parquet(s"$outDir/latest").collect()
        .map(r => r.getAs[String]("event_type") ->
          r.getAs[Long]("n_events")).toMap
      // The unchanged "click" counter must survive the second batch.
      assert(latest == Map("click" -> 1L, "view" -> 1L))
    } finally q.stop()
  }

  test("S5: a restart after a kill anywhere in a batch's sink writes the " +
      "same latest as a run without the kill") {
    // Three batches of upserts into the sink, one single-file slice per
    // batch. The last batch touches only user 4: a merge base that lost
    // the other users shows here.
    import java.io.File
    import org.apache.commons.io.FileUtils
    val base = java.nio.file.Files
      .createTempDirectory("graft-s5-crash-").toString
    val inDir = s"$base/in"
    new File(inDir).mkdirs()
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    def startSink(out: String, ckpt: String, trigger: Trigger) =
      StreamOps.dualWriteSink(
        StreamOps.upsertLatest(
          spark.readStream.schema(schema).parquet(inDir).as[Event]).toDF(),
        Seq("user_id"), out, ckpt, trigger)
    def latest(out: String): Set[UpsertRow] =
      spark.read.parquet(s"$out/latest").as[UpsertRow].collect().toSet
    try {
      val q = startSink(s"$base/out", s"$base/ckpt",
        Trigger.ProcessingTime("100 milliseconds"))
      try Seq(
          Seq(event(1, "2024-01-01 10:00:00", 1, "signup", 1.0),
            event(2, "2024-01-01 10:01:00", 2, "signup", 2.0)),
          Seq(event(3, "2024-01-01 10:02:00", 3, "click", 3.0),
            event(4, "2024-01-01 10:03:00", 1, "purchase", 4.0)),
          Seq(event(5, "2024-01-01 10:04:00", 4, "view", 5.0))
        ).foreach { slice =>
          slice.toDS().coalesce(1).write.mode("append").parquet(inDir)
          q.processAllAvailable()
        }
      finally q.stop()
      assert(new File(s"$base/ckpt/commits").list()
        .filterNot(_.startsWith(".")).toSet == Set("0", "1", "2"))
      val expected = latest(s"$base/out")
      assert(expected.map(_.user_id) == Set(1L, 2L, 3L, 4L))

      // What a kill during batch 2 leaves behind. `v_2` is always
      // written; `commits/2` is always missing, so a restart replays
      // batch 2.
      val crashes: Seq[(String, String => Unit)] = Seq(
        "after v_2, before the latest overwrite" -> { out =>
          FileUtils.deleteDirectory(new File(s"$out/latest"))
          FileUtils.copyDirectory(new File(s"$out/v_1"),
            new File(s"$out/latest"))
        },
        "inside the latest overwrite" -> { out =>
          // Overwrite deletes the dir first; the killed job leaves only
          // its uncommitted attempt dir.
          FileUtils.deleteDirectory(new File(s"$out/latest"))
          new File(s"$out/latest/_temporary/0").mkdirs()
        },
        "after the latest overwrite, before the commit" -> { _ => () })
      crashes.zipWithIndex.foreach { case ((point, damage), i) =>
        val out = s"$base/out_$i"; val ckpt = s"$base/ckpt_$i"
        FileUtils.copyDirectory(new File(s"$base/out"), new File(out))
        FileUtils.copyDirectory(new File(s"$base/ckpt"), new File(ckpt))
        damage(out)
        assert(new File(s"$ckpt/commits/2").delete())
        new File(s"$ckpt/commits/.2.crc").delete()
        startSink(out, ckpt, Trigger.AvailableNow()).awaitTermination()
        assert(new File(s"$ckpt/commits/2").exists,
          s"$point: the restart did not replay batch 2")
        assert(latest(out) == expected, s"$point: latest differs")
      }
    } finally deleteRecursively(base)
  }

  test("A11: daily distribution closes a day window via the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.dailyDistribution(in.toDF())
      .writeStream.format("memory").queryName("a11_daily")
      .outputMode("append").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        event(2, "2024-01-01 11:00:00", 2, "click", 1.0),
        event(3, "2024-01-01 12:00:00", 3, "view", 1.0))
      q.processAllAvailable()
      // Next-day event pushes the watermark past Jan 1 → its window closes.
      in.addData(event(4, "2024-01-02 02:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(event(5, "2024-01-02 03:00:00", 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("a11_daily").collect()
        .map(r => r.getAs[String]("event_type") ->
          r.getAs[Long]("n_events")).toMap
      assert(rows == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("T2: ProcessingTime trigger processes data on a fixed cadence") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val counts = StreamOps.typeCounters(in.toDF())
    val q = StreamOps.runPeriodic(counts, "t2_periodic",
      s"$scratch/ckpt_t2", interval = "100 milliseconds",
      outputMode = "update")
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        event(2, "2024-01-01 10:00:01", 2, "click", 2.0))
      q.processAllAvailable()
      val rows = spark.table("t2_periodic").collect()
      assert(rows.exists(r => r.getAs[String]("event_type") == "click" &&
        r.getAs[Long]("n_events") == 2L))
    } finally q.stop()
  }

  test("S4: alert records serialize to keyed JSON kafka messages") {
    import org.apache.spark.sql.functions._
    val alerts = Seq(
      (ts("2024-01-01 10:00:00"), 7L, "high_value_order", "HIGH", 450.0)
    ).toDF("ts", "user_id", "alert_type", "severity", "metric")
    val rec = StreamOps.alertRecords(alerts).collect().head
    assert(rec.getAs[String]("key") == "7")
    // The value is the full row as JSON — round-trip it to prove shape.
    val parsed = spark.read.json(
      Seq(rec.getAs[String]("value")).toDS()).collect().head
    assert(parsed.getAs[String]("alert_type") == "high_value_order")
    assert(parsed.getAs[String]("severity") == "HIGH")
    assert(parsed.getAs[Double]("metric") == 450.0)
  }

  test("S3: nested Debezium envelope decodes op/source/before/after") {
    import org.apache.spark.sql.functions._
    val kafkaShaped = Seq(
      // an update: both row images present
      """{"op":"u","ts_ms":1704103200000,"source":{"db":"graft","table":"events"},
         |"before":{"event_id":1,"user_id":7,"event_type":"click","value":5.0},
         |"after":{"event_id":1,"user_id":7,"event_type":"click","value":9.5}}"""
        .stripMargin.replace("\n", ""),
      // a delete: after is null (tombstone)
      """{"op":"d","ts_ms":1704106800000,"source":{"db":"graft","table":"events"},
         |"before":{"event_id":2,"user_id":8,"event_type":"error","value":0.0},
         |"after":null}""".stripMargin.replace("\n", "")
    ).toDF("raw").select(col("raw").cast("binary").as("value"))
    val rows = StreamOps.decodeDebezium(kafkaShaped).collect()
      .map(r => r.getAs[String]("op") -> r).toMap
    val u = rows("u")
    assert(u.getAs[String]("src_table") == "events")
    assert(u.getAs[org.apache.spark.sql.Row]("after")
      .getAs[Double]("value") == 9.5)
    assert(u.getAs[org.apache.spark.sql.Row]("before")
      .getAs[Double]("value") == 5.0)
    val d = rows("d")
    assert(d.getAs[org.apache.spark.sql.Row]("after") == null)
    assert(d.getAs[org.apache.spark.sql.Row]("before")
      .getAs[Long]("user_id") == 8L)
  }

  test("daily active users count each user once per day across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.dailyActiveUsers(in.toDS().toDF())
      .writeStream.format("memory").queryName("dau")
      .outputMode("update").start()
    try {
      in.addData(
        event(1, "2024-01-01 10:00:00", 7, "click", 1.0),
        event(2, "2024-01-01 11:00:00", 7, "view", 2.0), // same user+day
        event(3, "2024-01-01 12:00:00", 8, "click", 3.0))
      q.processAllAvailable()
      val d1 = spark.table("dau").orderBy($"n_users".desc).collect()
      assert(d1.head.getAs[Long]("n_users") == 2L,
        s"duplicate user counted twice: ${d1.mkString}")

      // A REDELIVERED user-7 event must not bump the count; user 9 must.
      in.addData(
        event(4, "2024-01-01 13:00:00", 7, "click", 4.0),
        event(5, "2024-01-01 14:00:00", 9, "view", 5.0))
      q.processAllAvailable()
      val d2 = spark.table("dau").orderBy($"n_users".desc).collect()
      assert(d2.head.getAs[Long]("n_users") == 3L,
        s"expected DAU 3 after dedup, got: ${d2.mkString}")
    } finally q.stop()
  }

  test("incremental rollup maintains the view across batches (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.incrementalRollup(in.toDS().toDF())
      .writeStream.format("memory").queryName("ivm")
      .outputMode("update").start()
    try {
      // Batch 1: user 7 created at 100.00, user 8 created at 50.00.
      in.addData(
        event(1, "2024-01-01 10:00:00", 7, "signup", 100.0),
        event(2, "2024-01-01 10:01:00", 8, "signup", 50.0))
      q.processAllAvailable()
      // Batch 2: user 7 updated (+10 by the image convention), user 8
      // deleted (delete value v means before = v − 10 is retracted).
      in.addData(
        event(3, "2024-01-01 11:00:00", 7, "click", 110.0),
        event(4, "2024-01-01 11:01:00", 8, "error", 60.0))
      q.processAllAvailable()
      // The memory sink accumulates per-trigger updates: the LAST row
      // per key is the maintained value.
      val state = spark.table("ivm").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rs) => u -> rs.maxBy(_.getAs[Long]("n_changes")) }
      assert(state(7L).getAs[Double]("net_value") == 110.0)
      assert(state(7L).getAs[Long]("net_rows") == 1L)
      assert(state(8L).getAs[Double]("net_value") == 0.0)
      assert(state(8L).getAs[Long]("net_rows") == 0L)
      // Stream/batch agreement: the final maintained view equals the
      // batch fold over the full feed (same code path by construction,
      // asserted anyway as the contract).
      val batch = graft.operators.CdcOps.incrementalRollupOf(
        Seq(
          event(1, "2024-01-01 10:00:00", 7, "signup", 100.0),
          event(2, "2024-01-01 10:01:00", 8, "signup", 50.0),
          event(3, "2024-01-01 11:00:00", 7, "click", 110.0),
          event(4, "2024-01-01 11:01:00", 8, "error", 60.0)).toDF())
        .collect().map(r => r.getAs[Long]("user_id") ->
          r.getAs[Double]("net_value")).toMap
      assert(batch == state.map { case (u, r) =>
        u -> r.getAs[Double]("net_value") })
    } finally q.stop()
  }

  test("T5: state and offsets survive a stop/restart from the checkpoint") {
    // The exactly-once restart guarantee — the reason Structured
    // Streaming beats an auto-commit consumer (which re-delivers or
    // drops whatever was in flight at the crash). A file source is used
    // because its offsets (the processed-file log) live in the
    // checkpoint, so a NEW query object genuinely resumes rather than
    // reprocessing from scratch.
    val base = java.nio.file.Files
      .createTempDirectory("graft-ckpt-").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    // The memory sink refuses checkpoint recovery (not fault-tolerant);
    // foreachBatch is the recoverable sink shape production uses.
    def start(buf: scala.collection.mutable.Buffer[UpsertRow]) =
      StreamOps.upsertLatest(
          spark.readStream
            .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
            .parquet(inDir).as[Event])
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[UpsertRow],
                         _: Long) =>
          buf.synchronized { buf ++= df.collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

    // Phase 1: users 7 and 8 get state; user 9 appears ONLY here.
    Seq(
      event(1, "2024-01-01 10:00:00", 7, "signup", 1.0),
      event(2, "2024-01-01 10:05:00", 7, "purchase", 2.0),
      event(3, "2024-01-01 10:01:00", 8, "click", 3.0),
      event(4, "2024-01-01 10:02:00", 9, "view", 4.0))
      .toDS().write.mode("append").parquet(inDir)
    val phase1 = scala.collection.mutable.ArrayBuffer[UpsertRow]()
    val q1 = start(phase1)
    try {
      q1.processAllAvailable()
      assert(phase1.filter(_.user_id == 7L).map(_.last_ts_ms).max ==
        ts("2024-01-01 10:05:00").getTime)
    } finally q1.stop()

    // Phase 2, after the stop: an EARLIER event for user 7 (answerable
    // only from recovered state) and a fresh event for user 8.
    Seq(
      event(5, "2024-01-01 09:30:00", 7, "click", 5.0),
      event(6, "2024-01-01 10:30:00", 8, "purchase", 6.0))
      .toDS().write.mode("append").parquet(inDir)
    val phase2 = scala.collection.mutable.ArrayBuffer[UpsertRow]()
    val q2 = start(phase2)
    try {
      q2.processAllAvailable()
      // The NEW query's buffer holds only post-restart emissions:
      // phase-1 files must not be reprocessed, so user 9 — present only
      // in phase 1 — must not re-emit. No double-counting.
      assert(!phase2.exists(_.user_id == 9L),
        s"phase-1 input was reprocessed after restart: ${phase2.mkString}")
      // User 7's emission proves state continuity: the stale event loses
      // to the RECOVERED (10:05, event 2) state, which a fresh query
      // without checkpoint state could not know about.
      val u7 = phase2.filter(_.user_id == 7L)
      assert(u7.nonEmpty, "restarted query saw no user-7 input")
      assert(u7.forall(_.last_ts_ms == ts("2024-01-01 10:05:00").getTime),
        s"state lost across restart: ${u7.mkString}")
      assert(u7.forall(_.last_event_type == "purchase"))
      // User 8 advances normally on top of its recovered state.
      val u8 = phase2.filter(_.user_id == 8L)
      assert(u8.nonEmpty &&
        u8.forall(_.last_ts_ms == ts("2024-01-01 10:30:00").getTime))
    } finally {
      q2.stop()
      deleteRecursively(base)
    }
  }

  test("trailing-DAU stream: sliding dedup state survives stop/restart") {
    // Same recovery contract as T5 but across CHAINED stateful
    // operators (sliding-span dropDuplicates → windowed count): after
    // the restart, a span must still count members it saw only BEFORE
    // the stop — membership lives in the recovered dedup state.
    val base = java.nio.file.Files
      .createTempDirectory("graft-dau-ckpt-").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    def start(buf: scala.collection.mutable.Buffer[(String, Long)]) =
      StreamOps.trailingDauStream(
          spark.readStream
            .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
            .parquet(inDir))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r =>
            (r.getAs[java.sql.Date]("day").toString,
              r.getAs[Long]("dau_7d")))
          buf.synchronized { buf ++= rows }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    // Phase 1: two users on Jan 1, one again on Jan 2; a Feb 1
    // sentinel closes every January span. Its OWN spans stay open —
    // their membership is exactly what the restart must recover.
    Seq(
      event(1, "2024-01-01 08:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 09:00:00", 2, "click", 1.0),
      event(3, "2024-01-02 10:00:00", 1, "view", 1.0),
      event(4, "2024-02-01 00:00:00", 9, "click", 1.0))
      .toDS().write.mode("append").parquet(inDir)
    val phase1 = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val q1 = start(phase1)
    try {
      q1.processAllAvailable()
      val p1 = phase1.toMap
      assert(p1("2024-01-01") == 2L && p1("2024-01-07") == 2L)
      assert(p1("2024-01-08") == 1L) // span [Jan 2, Jan 8]: user 1 only
    } finally q1.stop()

    // Phase 2, after the stop: user 3 joins on Feb 2, a March sentinel
    // closes the February spans.
    Seq(
      event(5, "2024-02-02 12:00:00", 3, "click", 1.0),
      event(6, "2024-03-01 00:00:00", 10, "click", 1.0))
      .toDS().write.mode("append").parquet(inDir)
    val phase2 = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val q2 = start(phase2)
    try {
      q2.processAllAvailable()
      val p2 = phase2.toMap
      // No reprocessing: January spans were emitted before the stop
      // and must not re-emit.
      assert(!phase2.exists(_._1 < "2024-02-01"),
        s"phase-1 spans re-emitted: $phase2")
      // State continuity: the Feb 2 span counts the pre-stop user 9
      // AND the post-restart user 3 — a fresh query without the
      // recovered dedup state would count 1.
      assert(p2("2024-02-02") == 2L, s"recovered membership lost: $p2")
      assert(p2("2024-02-01") == 1L)
      assert(p2("2024-02-08") == 1L) // [Feb 2, Feb 8]: user 3 only
    } finally {
      q2.stop()
      deleteRecursively(base)
    }
  }

  test("live schema census: key counters accumulate, malformed surfaces") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.propsKeyCensusStream(in.toDF())
      .writeStream.format("memory").queryName("census")
      .outputMode("update").start()
    def ev(id: Long, typ: String, props: String) =
      Event(id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        1L, typ, 1.0, props)
    try {
      in.addData(
        ev(1, "click", """{"k": 1}"""),
        ev(2, "click", """{"k": 2, "extra": true}"""),
        ev(3, "view", """{"k": """)) // malformed
      q.processAllAvailable()
      // Second trigger: the running counters must CHAIN (update mode),
      // and a renamed field shows up as a fresh key within one trigger.
      in.addData(
        ev(4, "click", """{"k_renamed": 3}"""),
        ev(5, "view", """not json"""))
      q.processAllAvailable()
      val got = spark.table("census").collect()
        .groupBy(r => (r.getAs[String]("event_type"),
          r.getAs[String]("key")))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n_rows")).max }
      assert(got(("click", "k")) == 2L)
      assert(got(("click", "extra")) == 1L)
      assert(got(("click", "k_renamed")) == 1L)
      assert(got(("view", "__invalid__")) == 2L,
        "malformed payloads must accumulate across triggers")
    } finally q.stop()
  }

  test("S3: kafka-shaped value decodes through the envelope schema") {
    // No Kafka in this container — decodeKafka is exercised on a static
    // frame shaped like the Kafka source (binary key/value columns).
    import org.apache.spark.sql.functions._
    val kafkaShaped = Seq(
      """{"event_id":1,"ts":"2024-01-01T10:00:00.000Z","user_id":7,"event_type":"signup","value":1.5,"props":"{}"}""",
      """not json at all"""
    ).toDF("raw").select(col("raw").cast("binary").as("value"))
    val decoded = StreamOps.decodeKafka(kafkaShaped).collect()
    assert(decoded.length == 2)
    val good = decoded.find(r => !r.isNullAt(0)).get
    assert(good.getAs[Long]("event_id") == 1L)
    assert(good.getAs[Long]("user_id") == 7L)
    // Malformed JSON degrades to nulls (schema-lax, like the reference's
    // dict.get defaults), it does not throw.
    assert(decoded.exists(_.isNullAt(0)))
  }

  test("streaming ingest screen matches the batch twin verdict-for-verdict") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    // The batch twin splits corpus/batch on the md5(doc_id) band; feed
    // the SAME table dir to both paths so the pinning is exact.
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (BigInt(hex.take(15), 16) % 100).toInt
    }
    val corpusId = (1L to 500L).find(bucket(_) < TextOps.IngestPct).get
    val batchIds = (1L to 500L).filter(bucket(_) >= TextOps.IngestPct).take(3)
    val corpusText = (1 to 80).map(i => s"w$i").mkString(" ")
    val dir = freshScratch()
    val docs = Seq(
      (corpusId, corpusText, "en", "web", corpusText.length.toLong),
      (batchIds(0), corpusText, "en", "web", corpusText.length.toLong),
      (batchIds(1), (1 to 80).map(i => s"z$i").mkString(" "), "en", "web", 1L),
      (batchIds(2), null.asInstanceOf[String], "en", "web", 0L))
    writeTable("documents", docs.toDF(
      "doc_id", "text", "lang", "source", "n_chars"), dir)
    val batchVerdicts = TextOps.incrementalDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_exact_dup"), r.getAs[Long]("n_chunks"),
          r.getAs[Long]("n_shared_chunks"), r.getAs[String]("verdict")))
      .toMap
    val corpus = Seq((corpusId, corpusText))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.ingestScreen(
      in.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("ingest_screen")
      .outputMode("append").start()
    try {
      in.addData(docs.filter(d => batchIds.contains(d._1))
        .map(d => (d._1, d._2)): _*)
      q.processAllAvailable()
      val streamed = spark.table("ingest_screen").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("is_exact_dup"), r.getAs[Long]("n_chunks"),
            r.getAs[Long]("n_shared_chunks"), r.getAs[String]("verdict")))
        .toMap
      assert(streamed.keySet == batchVerdicts.keySet)
      streamed.keys.foreach { id =>
        assert(streamed(id) == batchVerdicts(id),
          s"doc $id: stream ${streamed(id)} != batch ${batchVerdicts(id)}")
      }
      // And the ladder is actually exercised: one of each verdict.
      assert(streamed.values.map(_._4).toSet == Set("exact", "novel"))
    } finally q.stop()
  }

  test("streaming first-touch reach never recounts a returning user") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.newUsersDaily(in.toDS().toDF())
      .writeStream.format("memory").queryName("new_users")
      .outputMode("update").start()
    val evs = Seq(
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 11:00:00", 2, "view", 1.0),
      event(3, "2024-01-02 09:00:00", 1, "click", 1.0), // returning
      event(4, "2024-01-02 10:00:00", 3, "signup", 1.0),
      event(5, "2024-01-03 08:00:00", 2, "view", 1.0))  // returning
    try {
      in.addData(evs.take(2): _*)
      q.processAllAvailable()
      in.addData(evs.drop(2): _*) // dedup state must span triggers
      q.processAllAvailable()
      val got = spark.table("new_users").collect()
        .groupBy(_.getAs[java.sql.Timestamp]("day_start").toString)
        .map { case (d, rows) =>
          d -> rows.map(_.getAs[Long]("new_users")).max }
      assert(got == Map(
        "2024-01-01 00:00:00.0" -> 2L,
        "2024-01-02 00:00:00.0" -> 1L)) // day 3 emits NO new users
      // and the batch twin's new-user curve agrees on the same fixture
      val batch = graft.operators.CdcOps
        .cumulativeReachOf(spark.createDataset(evs).toDF())
        .collect()
        .map(r => r.getAs[java.sql.Date]("day").toString ->
          r.getAs[Long]("new_users")).toMap
      assert(batch == Map("2024-01-01" -> 2L, "2024-01-02" -> 1L,
        "2024-01-03" -> 0L))
    } finally q.stop()
  }

  test("offset-gap auditor matches the batch audit on an ordered feed") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.offsetGapState(in.toDS())
      .writeStream.format("memory").queryName("gap_audit")
      .outputMode("update").start()
    // Three targets; activity_cache takes ids 1,2,5 (one gap of width 2
    // split ACROSS triggers), order_cache takes 3,9 (gap 5), the
    // customer_cache cursor sees a single offset (no intervals yet), and
    // the unrouted 'error' id 4 is one of the offsets the activity gap
    // skips over.
    val evs = Seq(
      event(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      event(2, "2024-01-01 10:01:00", 2, "view", 1.0),
      event(3, "2024-01-01 10:02:00", 3, "purchase", 9.0),
      event(4, "2024-01-01 10:03:00", 4, "error", 0.0),
      event(5, "2024-01-01 10:04:00", 5, "click", 1.0),
      event(6, "2024-01-01 10:05:00", 6, "signup", 0.0),
      event(9, "2024-01-01 10:06:00", 7, "purchase", 3.0))
    try {
      in.addData(evs.take(4): _*)
      q.processAllAvailable()
      in.addData(evs.drop(4): _*) // cursor must persist across triggers
      q.processAllAvailable()
      // Redeliver an already-audited offset (Kafka replay): the cursor
      // must not regress, no interval/gap may be double-counted — the
      // batch twin's DISTINCT rule, applied live.
      in.addData(evs.head)
      q.processAllAvailable()
      // Update mode: latest row per target is the cumulative audit.
      val got = spark.table("gap_audit").collect()
        .groupBy(_.getAs[String]("target"))
        .map { case (t, rows) =>
          val r = rows.maxBy(_.getAs[Long]("n_intervals"))
          t -> (r.getAs[Long]("last_offset"), r.getAs[Long]("n_intervals"),
            r.getAs[Long]("n_gaps"), r.getAs[Long]("missing_total"))
        }
      assert(got == Map(
        "activity_cache" -> ((5L, 2L, 1L, 2L)),
        "order_cache" -> ((9L, 1L, 1L, 5L)),
        "customer_cache" -> ((6L, 0L, 0L, 0L))))
      // The batch audit on the same fixture agrees wherever it has a
      // row (it emits only targets with at least one interval).
      graft.operators.CdcOps
        .cdcGapDetectionOf(spark.createDataset(evs).toDF())
        .collect().foreach { r =>
          val t = r.getAs[String]("target")
          assert(got(t) == ((r.getAs[Long]("last_offset"),
            r.getAs[Long]("n_intervals"), r.getAs[Long]("n_gaps"),
            r.getAs[Long]("missing_total"))),
            s"target $t: stream ${got(t)} disagrees with batch")
        }
    } finally q.stop()
  }

  test("first-seen screen: stateful stream twin equals the batch operator " +
      "on an ordered replay") {
    // The replay contract: stream the corpus in doc_id order — in any
    // micro-batch slicing — and firstSeenScreenStream + the per-batch
    // verdict assembly must emit exactly TextOps.firstSeenScreen's
    // rows. An awkward 3-way slicing (uneven sizes, a batch boundary
    // right after a duplicate's first copy) exercises both the
    // in-batch fold and the cross-batch state path.
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    val cut1 = docs.length / 3
    val cut2 = 2 * docs.length / 3 + 1
    val batches = Seq(docs.slice(0, cut1), docs.slice(cut1, cut2),
      docs.slice(cut2, docs.length))
    val in = MemoryStream[(Long, Option[String])]
    val q = StreamOps.firstSeenScreenStream(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("first_seen_fp")
      .outputMode("update").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      // Each doc's fingerprint rows land in its own micro-batch with
      // final `shared` flags, so one global assembly over the sink
      // equals the union of per-batch assemblies.
      val streamed = StreamOps
        .firstSeenVerdicts(spark.table("first_seen_fp"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
          r.getLong(3), r.getString(4)))
      val batch = graft.operators.TextOps.firstSeenScreen(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
          r.getLong(3), r.getString(4)))
      assert(streamed.length == docs.length)
      assert(streamed.toSeq == batch.toSeq)
      // The real corpus exercises near/partial/novel (no exact text
      // dup exists in it under arrival order — checked); the crafted
      // test below covers exact + null-text.
      assert(batch.exists(_._5 == "near"))
      assert(batch.exists(_._5 == "novel"))
    } finally q.stop()
  }

  test("first-seen screen: seen-set survives a stop/restart from the " +
      "checkpoint") {
    // The screen's state IS the product — a restart that lost the
    // seen-set would re-admit every duplicate. File source (offsets in
    // the checkpoint) + foreachBatch (recoverable sink), the T5
    // restart discipline applied to the first-seen screen.
    val base = java.nio.file.Files
      .createTempDirectory("graft-fs-ckpt-").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    val textA = "alpha beta gamma delta epsilon"
    def start(buf: scala.collection.mutable.Buffer[FpSeen]) =
      StreamOps.firstSeenScreenStream(
          spark.readStream.schema("doc_id LONG, text STRING")
            .parquet(inDir))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[FpSeen],
                         _: Long) =>
          buf.synchronized { buf ++= df.collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

    Seq((1L, textA), (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    val phase1 = scala.collection.mutable.ArrayBuffer[FpSeen]()
    val q1 = start(phase1)
    try {
      q1.processAllAvailable()
      assert(phase1.filter(r => r.doc_id == 1L && r.kind == "t")
        .forall(!_.shared))
    } finally q1.stop()

    // Phase 2 after the stop: doc 3 repeats doc 1's text — rulable
    // `exact` ONLY from the recovered fingerprint state — and doc 4 is
    // genuinely novel.
    Seq((3L, textA), (4L, "lambda mu nu xi omicron"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    val phase2 = scala.collection.mutable.ArrayBuffer[FpSeen]()
    val q2 = start(phase2)
    try {
      q2.processAllAvailable()
      assert(!phase2.exists(_.doc_id <= 2L),
        s"phase-1 input reprocessed after restart: ${phase2.mkString}")
      val verdicts = StreamOps
        .firstSeenVerdicts(phase2.toSeq.toDF())
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("verdict")).toMap
      assert(verdicts(3L) == "exact",
        s"recovered state failed to flag the duplicate: $verdicts")
      assert(verdicts(4L) == "novel")
    } finally {
      q2.stop()
      deleteRecursively(base)
    }
  }

  test("first-seen screen: full verdict ladder on a crafted replay, " +
      "cross-batch and in-batch dup paths") {
    implicit val sqlCtx = spark.sqlContext
    val dupDir = freshScratch()
    val base = "alpha bravo charlie delta " * 32 // > one 64-token chunk
    val docs: Seq[(Long, Option[String])] = Seq(
      1L -> Some(base + "one"),
      2L -> Some(base + "one"),    // in-batch exact dup of 1
      3L -> None,                  // null text -> novel, 0 chunks
      4L -> Some(base + "two"),    // near: shares doc 1's full chunks
      5L -> Some(base + "one"),    // cross-batch exact dup of 1
      6L -> Some("zulu yankee xray whiskey victor uniform")) // novel
    writeTable("documents",
      docs.map { case (id, t) => (id, t.orNull, "en", "web",
        t.map(_.length.toLong).getOrElse(0L)) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"), dupDir)
    val in = MemoryStream[(Long, Option[String])]
    val q = StreamOps.firstSeenScreenStream(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("first_seen_fp2")
      .outputMode("update").start()
    try {
      // Batch boundary right after the first copy: 5 must be ruled
      // exact purely from STATE, 2 from the in-batch fold.
      Seq(docs.slice(0, 4), docs.slice(4, 6)).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      val streamed = StreamOps
        .firstSeenVerdicts(spark.table("first_seen_fp2"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(4)))
      val batch = graft.operators.TextOps.firstSeenScreen(spark, dupDir)
        .collect().map(r => (r.getLong(0), r.getString(4)))
      assert(streamed.toSeq == batch.toSeq)
      val verdicts = streamed.toMap
      assert(verdicts(1L) == "novel")
      assert(verdicts(2L) == "exact") // in-batch dup
      assert(verdicts(3L) == "novel") // null text
      assert(verdicts(4L) == "near")
      assert(verdicts(5L) == "exact") // cross-batch dup via state
      assert(verdicts(6L) == "novel")
    } finally q.stop()
  }

  test("ordered funnel: stateful stream twin equals the batch operator " +
      "on an ordered replay of the real corpus") {
    // The replay contract: feed sf0.001 events in (ts, event_id) order
    // — an awkward 3-way slicing so anchors advance both in-batch and
    // from state — and funnelReport over the accumulated FunnelReach
    // rows must emit exactly CdcOps.eventFunnel's 3-row report.
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
        org.apache.spark.sql.functions.lit("{}").as("props"))
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val cut1 = evs.length / 3 - 7
    val cut2 = 2 * evs.length / 3 + 11
    val in = MemoryStream[Event]
    val q = StreamOps.eventFunnelStream(in.toDS())
      .writeStream.format("memory").queryName("funnel_reach")
      .outputMode("update").start()
    try {
      Seq(evs.slice(0, cut1), evs.slice(cut1, cut2),
          evs.slice(cut2, evs.length))
        .foreach { b => in.addData(b); q.processAllAvailable() }
      val streamed = StreamOps
        .funnelReport(spark.table("funnel_reach")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val batch = graft.operators.CdcOps.eventFunnel(spark, dir)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(streamed.toSeq == batch.toSeq)
      // The corpus must actually exercise a non-trivial funnel.
      assert(batch.head._3 > 0 && batch.last._3 > 0)
      // r15: the per-user transition LATENCY frame assembled from the
      // same accumulated emissions must equal the batch operator's
      // latency frame row-for-row — the user grain behind
      // funnel_step_latency's rank picks, not just the 3-row report.
      val sLat = StreamOps.funnelLatencies(spark.table("funnel_reach"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      val bLat = graft.operators.CdcOps.funnelStepLatencyFrame(spark, dir)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(sLat == bLat)
      assert(sLat.nonEmpty)
    } finally q.stop()
  }

  test("ordered funnel: same-instant ties never advance; out-of-order " +
      "step types never anchor (crafted fixture vs batch)") {
    implicit val sqlCtx = spark.sqlContext
    val tieDir = freshScratch()
    val evs = Seq(
      // user 20: click AT the view instant (no advance), later click
      // advances; purchase AT the click anchor (no advance), later
      // purchase advances — full 3-step conversion.
      event(1, "2024-01-01 10:00:00", 20, "view", 1.0),
      event(2, "2024-01-01 10:00:00", 20, "click", 1.0),
      event(3, "2024-01-01 10:01:00", 20, "click", 1.0),
      event(4, "2024-01-01 10:01:00", 20, "purchase", 5.0),
      event(5, "2024-01-01 10:02:00", 20, "purchase", 5.0),
      // user 21: click BEFORE any view — must never anchor step 2.
      event(6, "2024-01-01 09:59:00", 21, "click", 1.0),
      event(7, "2024-01-01 10:00:00", 21, "view", 1.0),
      // user 22: view only.
      event(8, "2024-01-01 10:00:00", 22, "view", 1.0))
    writeTable("events", evs.toDF(), tieDir)
    val in = MemoryStream[Event]
    val q = StreamOps.eventFunnelStream(in.toDS())
      .writeStream.format("memory").queryName("funnel_reach_tie")
      .outputMode("update").start()
    try {
      // Slice mid-tie (events 1|2 split) so the strict-> rule is
      // exercised across the state path, not just the in-batch fold.
      Seq(evs.take(1), evs.slice(1, 4), evs.drop(4)).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      val streamed = StreamOps
        .funnelReport(spark.table("funnel_reach_tie")).collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      val batch = graft.operators.CdcOps.eventFunnel(spark, tieDir)
        .collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(streamed.toSeq == batch.toSeq)
      // Pin the ladder itself: 3 viewers, 1 clicker-after-view, 1
      // purchaser — user 21's early click anchored nothing.
      assert(streamed.map(t => t._2).toSeq == Seq(3L, 1L, 1L))
    } finally q.stop()
  }

  test("windowed funnel: stream twin equals the deadline-bounded batch " +
      "operator on an ordered replay; deadline boundary inclusive") {
    implicit val sqlCtx = spark.sqlContext
    // Real corpus first: the deadline genuinely bites there (the
    // unbounded funnel saturates at sf0.001).
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
        org.apache.spark.sql.functions.lit("{}").as("props"))
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val in = MemoryStream[Event]
    val q = StreamOps.eventFunnelWindowedStream(in.toDS())
      .writeStream.format("memory").queryName("funnel_reach_w")
      .outputMode("update").start()
    try {
      val cut = evs.length / 2 + 3
      Seq(evs.take(cut), evs.drop(cut)).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      val streamed = StreamOps
        .funnelReport(spark.table("funnel_reach_w")).collect()
        .map(r => (r.getInt(0), r.getLong(2)))
      val batch = graft.operators.CdcOps.eventFunnelWindowed(spark, dir)
        .collect().map(r => (r.getInt(0), r.getLong(2)))
      assert(streamed.toSeq == batch.toSeq)
      // The deadline must actually bite relative to the unbounded form.
      val unbounded = graft.operators.CdcOps.eventFunnel(spark, dir)
        .collect().map(r => r.getLong(2))
      assert(batch.map(_._2).sum < unbounded.sum,
        "deadline did not reduce any funnel stage on the real corpus")
    } finally q.stop()

    // Boundary fixture: click exactly AT first-view + 24h converts
    // (inclusive <=); one second past does not.
    val in2 = MemoryStream[Event]
    val q2 = StreamOps.eventFunnelWindowedStream(in2.toDS())
      .writeStream.format("memory").queryName("funnel_reach_wb")
      .outputMode("update").start()
    try {
      in2.addData(
        event(1, "2024-01-01 10:00:00", 40, "view", 1.0),
        event(2, "2024-01-02 10:00:00", 40, "click", 1.0), // at deadline
        event(3, "2024-01-01 10:00:00", 41, "view", 1.0),
        event(4, "2024-01-02 10:00:01", 41, "click", 1.0)) // 1s past
      q2.processAllAvailable()
      val reach = spark.table("funnel_reach_wb").collect()
        .map(r => r.getAs[Long]("user_id") ->
          r.getAs[Int]("steps_reached")).toMap
      assert(reach(40L) == 2, s"inclusive deadline must convert: $reach")
      assert(reach(41L) == 1, s"past-deadline must not convert: $reach")
    } finally q2.stop()
  }

  test("ordered funnel: anchors survive a stop/restart from the " +
      "checkpoint") {
    // A restart that lost the anchors would rule user 30's purchase
    // non-qualifying (no recovered click anchor) — the emitted
    // steps_reached after phase 2 is the direct witness of recovery.
    val base = java.nio.file.Files
      .createTempDirectory("graft-funnel-ckpt-").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
      "event_type STRING, value DOUBLE, props STRING"
    def start(buf: scala.collection.mutable.Buffer[FunnelReach]) =
      StreamOps.eventFunnelStream(
          spark.readStream.schema(schema).parquet(inDir).as[Event])
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[FunnelReach],
                         _: Long) =>
          buf.synchronized { buf ++= df.collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

    Seq(event(1, "2024-01-01 10:00:00", 30, "view", 1.0),
        event(2, "2024-01-01 10:01:00", 30, "click", 1.0))
      .toDF().write.mode("append").parquet(inDir)
    val phase1 = scala.collection.mutable.ArrayBuffer[FunnelReach]()
    val q1 = start(phase1)
    try {
      q1.processAllAvailable()
      assert(phase1.exists(r => r.user_id == 30L && r.steps_reached == 2))
    } finally q1.stop()

    Seq(event(3, "2024-01-01 10:02:00", 30, "purchase", 9.0))
      .toDF().write.mode("append").parquet(inDir)
    val phase2 = scala.collection.mutable.ArrayBuffer[FunnelReach]()
    val q2 = start(phase2)
    try {
      q2.processAllAvailable()
      assert(phase2.exists(r => r.user_id == 30L && r.steps_reached == 3),
        s"recovered anchors failed to qualify the purchase: $phase2")
    } finally {
      q2.stop()
      deleteRecursively(base)
    }
  }

  test("streaming winnow decontam: verdict-for-verdict with the batch " +
      "twin over any micro-batch slicing, redeliveries suppressed") {
    // The real sf0.001 corpus, split by the batch twin's own hash-band
    // rule: the eval band becomes the static dirty index, the train
    // band streams through in three doc_id-mod slices — with slice 0
    // REDELIVERED whole as a fourth batch (the at-least-once
    // contract). The emitted set must equal TextOps.winnowDecontam's
    // rows exactly: same verdict math, one row per doc despite the
    // redelivery.
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val bucketed = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr("pmod(cast(conv(substring(md5(cast(doc_id as string))" +
          ", 1, 15), 16, 10) as bigint), 100)").as("bucket"))
    val evalCorpus = bucketed
      .filter(col("bucket") >= graft.operators.TextOps.TrainPct)
      .select("doc_id", "text")
    val train = bucketed
      .filter(col("bucket") < graft.operators.TextOps.TrainPct)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(train.length > 10, "fixture sanity: train band too small")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.winnowDecontamStream(
        in.toDS().toDF("doc_id", "text"), evalCorpus)
      .writeStream.format("memory").queryName("winnow_screen")
      .outputMode("update").start()
    try {
      (0 to 2).foreach { m =>
        in.addData(train.filter(_._1 % 3 == m).toSeq)
        q.processAllAvailable()
      }
      in.addData(train.filter(_._1 % 3 == 0).toSeq) // redelivery
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("winnow_screen").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_fp"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("hit_mille"),
        r.getAs[Boolean]("contaminated")))
    // Exactly-once: one emission per doc despite the redelivery.
    assert(live.map(_._1).distinct.length == live.length,
      "a redelivered doc re-emitted")
    val batch = graft.operators.TextOps.winnowDecontam(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_fp"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("hit_mille"),
        r.getAs[Boolean]("contaminated")))
    assert(live.toSet == batch.toSet,
      s"stream/batch verdict mismatch: ${
        (live.toSet -- batch.toSet).take(3)} vs ${
        (batch.toSet -- live.toSet).take(3)}")
    // The fixture must exercise both verdicts.
    assert(batch.exists(_._5) && batch.exists(!_._5))
  }

  test("winnow decontam stream: screened-set survives a stop/restart " +
      "from the checkpoint") {
    // The exactly-once ledger must recover: a post-restart redelivery
    // is suppressible ONLY from checkpointed state. File source
    // (offsets in the checkpoint) + foreachBatch (recoverable sink) —
    // the T5 restart discipline on the winnow screen. The
    // contaminated doc shares a 9-word verbatim run with the eval
    // suite (≥ w+k−1 = 7, winnowing's guarantee floor).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-wd-ckpt-").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val evalCorpus = Seq((100L, s"prefix words $shared suffix words"))
      .toDF("doc_id", "text")
    def start(buf: scala.collection.mutable.Buffer[DocScreen]) =
      StreamOps.winnowDecontamStream(
          spark.readStream.schema("doc_id LONG, text STRING")
            .parquet(inDir), evalCorpus)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[DocScreen],
                         _: Long) =>
          buf.synchronized { buf ++= df.collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

    // Phase 1: doc 1 carries the shared run (must flag), doc 2 is
    // novel.
    Seq((1L, s"intro then $shared closing words here"),
        (2L, "kilo lima mike november oscar papa quebec romeo"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    val phase1 = scala.collection.mutable.ArrayBuffer[DocScreen]()
    val q1 = start(phase1)
    try {
      q1.processAllAvailable()
      assert(phase1.find(_.doc_id == 1L).exists(_.contaminated),
        s"guaranteed 9-word overlap missed: $phase1")
      assert(phase1.find(_.doc_id == 2L).exists(!_.contaminated))
    } finally q1.stop()

    // Phase 2 after the stop: doc 1 REDELIVERED in a fresh file —
    // suppressible only from recovered state — plus novel doc 5.
    Seq((1L, s"intro then $shared closing words here"),
        (5L, "sierra tango uniform victor whiskey xray yankee zulu"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    val phase2 = scala.collection.mutable.ArrayBuffer[DocScreen]()
    val q2 = start(phase2)
    try {
      q2.processAllAvailable()
      assert(!phase2.exists(_.doc_id <= 2L),
        s"post-restart redelivery re-emitted: ${phase2.mkString}")
      assert(phase2.find(_.doc_id == 5L).exists(!_.contaminated),
        s"post-restart novel doc missing: ${phase2.mkString}")
    } finally {
      q2.stop()
      deleteRecursively(base)
    }
  }

  test("streaming quantile sketch equals the batch sketch over any " +
      "micro-batch split (the sketch's merge law, live)") {
    // Feed the real sf0.01 corpus through the stream in TWO
    // micro-batches split by doc_id parity — the same split the batch
    // twin's merge spec uses — and require the final per-lang state to
    // be the batch sketch bit-for-bit: register-set checksum, register
    // count, and the p50 covering read-out.
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => DocArrival(r.getLong(0), r.getString(1), r.getLong(2)))
    val in = MemoryStream[DocArrival]
    val q = StreamOps.quantileSketchStream(in.toDS())
      .writeStream.format("memory").queryName("qsketch_stream")
      .outputMode("update").start()
    try {
      in.addData(base.filter(_.doc_id % 2 == 0).toSeq)
      q.processAllAvailable()
      in.addData(base.filter(_.doc_id % 2 == 1).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("qsketch_stream")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_seen"),
        r.getAs[Int]("n_regs"), r.getAs[Long]("u_checksum"),
        r.getAs[Long]("p50_est")))
      .groupBy(_._1).map { case (l, rs) => l -> rs.maxBy(_._2) }
    // Batch expectation from the operator's own register builder.
    val batch = graft.operators.TextOps.groupedQuantileRegisters(
        graft.Tables.documents(spark, "/root/testdata/sf0.01")
          .select(col("lang"), col("doc_id"),
            col("n_chars").as("v")))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("v"), r.getAs[Long]("u")))
      .groupBy(_._1)
    assert(live.keySet == batch.keySet)
    batch.foreach { case (lang, rs) =>
      val (_, _, nRegs, checksum, p50) = live(lang)
      assert(nRegs == rs.length, s"$lang register count")
      val expectSum = rs.map(_._4).foldLeft(0L)((a, u) =>
        (a + u) % 2305843009213693951L)
      assert(checksum == expectSum, s"$lang register-set checksum")
      val byV = rs.sortBy(r => (r._3, r._2))
      val kEff = rs.length.toLong
      val expP50 = byV.zipWithIndex.collectFirst {
        case (r, i) if (i + 1) * 100 >= kEff * 50 => r._3
      }.get
      assert(p50 == expP50, s"$lang p50 read-out")
    }
  }

  test("the session drops Spark's streaming AQE notices and no other " +
      "warning of their loggers") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.impl.Log4jLogEvent
    import org.apache.logging.log4j.message.SimpleMessage
    assert(spark != null) // Session.local installs the filters
    def dropped(cls: String, msg: String): Boolean = {
      val name =
        if (cls.contains(".")) cls
        else s"org.apache.spark.sql.execution.streaming.runtime.$cls"
      LoggerContext.getContext(false).getConfiguration
        .getLoggerConfig(name).isFiltered(Log4jLogEvent.newBuilder()
          .setLoggerName(name).setLevel(Level.WARN)
          .setMessage(new SimpleMessage(msg)).build())
    }
    assert(dropped("MicroBatchExecution",
      "Disabling AQE since AQE is not supported in stateful workloads."))
    assert(dropped("ResolveWriteToStream", "spark.sql.adaptive.enabled " +
      "is not supported in streaming DataFrames/Datasets and will be disabled."))
    assert(!dropped("MicroBatchExecution", "Query terminated with error"))
    assert(!dropped("ResolveWriteToStream",
      "Temporary checkpoint location created which is deleted normally"))
    // The stop-time cancel notice, logged once or twice per query stop.
    val dag = "org.apache.spark.scheduler.DAGScheduler"
    assert(dropped(dag, "Failed to cancel job group " +
      "5f0c8a3e-1d2b-4c6e-9a7f-3b8d2e1c0a94. Cannot find active jobs for it."))
    assert(!dropped(dag, "Broadcasting large task binary with size 1.2 MiB"))
  }
}
