package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.CdcOps
import graft.streaming.{Event, StreamOps}

/** The CDC stream graph: Kafka-shaped JSON slices through Spark's file
  * stream source, one slice per trigger, then `StreamOps.decodeKafka`
  * and four concurrent chains:
  *  - `upsert`: `upsertLatest` into the `dualWriteSink` KV snapshot;
  *  - `minute`, `alerts`, `velocity`: `minuteMetrics`, `alerts` and
  *    `velocityState` into memory sinks.
  *
  * Phase A (catch-up): the slices in `--src` are present when the chains
  * start. Phase B (live): the slices in `--staging` are renamed into
  * `--src` at the offsets (ms after phase A ends) listed in `--arrivals`
  * as `name<TAB>offset` lines. Afterwards every sink is compared with its
  * batch twin over the same events. */
object StreamRunner {
  val kafkaSchema: StructType = StructType.fromDDL(
    "key STRING, value STRING, topic STRING, partition INT, " +
      "offset BIGINT, timestamp TIMESTAMP")
  private val WaitLimitMs = 90000L

  /** Every progress event of every query, and the count of batches that
    * read data, by query id. */
  final class ProgressLog extends StreamingQueryListener {
    val progress = mutable.HashMap[UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()
    val dataBatches = mutable.HashMap[UUID, Int]()
    val errors = mutable.HashMap[UUID, String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        progress.getOrElseUpdate(p.id, mutable.ArrayBuffer()) += p
        if (p.numInputRows > 0)
          dataBatches(p.id) = dataBatches.getOrElse(p.id, 0) + 1
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { e.exception.foreach(x => errors(e.id) = x) }
    def batchesOf(id: UUID): Int = synchronized(dataBatches.getOrElse(id, 0))
  }

  private def startChains(spark: SparkSession, src: String, ckpt: String,
      kv: String, tag: String): Seq[(String, StreamingQuery)] = {
    import spark.implicits._
    def events: DataFrame = StreamOps.decodeKafka(
      spark.readStream.schema(kafkaSchema)
        .option("maxFilesPerTrigger", "1").json(src))
    def memory(df: DataFrame, name: String, mode: String) =
      df.writeStream.format("memory").queryName(s"${name}_$tag")
        .outputMode(mode).option("checkpointLocation", s"$ckpt/$name")
        .start()
    Seq(
      "upsert" -> StreamOps.dualWriteSink(
        StreamOps.upsertLatest(events.as[Event]).toDF(), Seq("user_id"),
        kv, s"$ckpt/upsert", Trigger.ProcessingTime(0L)),
      "minute" -> memory(StreamOps.minuteMetrics(events), "minute", "append"),
      "alerts" -> memory(StreamOps.alerts(events), "alerts", "append"),
      "velocity" -> memory(
        StreamOps.velocityState(events.as[Event]).toDF(), "velocity",
        "update"))
  }

  private def waitFor(log: ProgressLog, chains: Seq[(String, StreamingQuery)],
      batches: Int): Boolean = {
    val deadline = System.currentTimeMillis() + WaitLimitMs
    def done = chains.forall { case (_, q) => log.batchesOf(q.id) >= batches }
    def dead = chains.exists { case (_, q) => !q.isActive }
    while (!done && !dead && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    done
  }

  /** Waits until no progress event has arrived for a while, so the
    * no-data batches that follow the last slice (watermark advance and
    * state eviction) have run before the chains are stopped. */
  private def settle(log: ProgressLog): Unit = {
    def events = log.synchronized(log.progress.values.map(_.size).sum)
    val deadline = System.currentTimeMillis() + 5000
    var (seen, quietSince) = (events, System.currentTimeMillis())
    while (System.currentTimeMillis() - quietSince < 300 &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      if (events != seen) { seen = events; quietSince = System.currentTimeMillis() }
    }
  }

  /** Progress events are recorded in every run, so tracing changes
    * nothing here; `run.py` builds the stream's spans from them. */
  def run(spark: SparkSession, opts: Map[String, String]): Map[String, Any] = {
    val out = opts("out")
    val src = opts("src")
    val staging = opts("staging")
    val phaseA = opts("phase-a").toInt
    val arrivals = Files.readAllLines(Paths.get(opts("arrivals"))).asScala
      .toSeq.filter(_.nonEmpty).map(_.split('\t'))
      .map(a => (a(0), a(1).toLong))
    val total = phaseA + arrivals.size
    val log = new ProgressLog
    spark.streams.addListener(log)

    // Set-up: start the four chains three times and keep the median; the
    // first two runs read an empty directory and are stopped at once.
    val cycleS = mutable.ArrayBuffer[Double]()
    (1 to 2).foreach { i =>
      val dir = s"$out/warm$i"
      Files.createDirectories(Paths.get(dir, "src"))
      val t = System.nanoTime()
      val qs = startChains(spark, s"$dir/src", s"$dir/ckpt", s"$dir/kv",
        s"warm$i")
      cycleS += (System.nanoTime() - t) / 1e9
      qs.foreach(_._2.stop())
    }
    val (gc0, jit0) = (Harness.gcSeconds(), Harness.jitSeconds())
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val cpu0 = Harness.cpuSeconds()
    val chains = startChains(spark, src, s"$out/ckpt", s"$out/kv", "run")
    cycleS += (System.nanoTime() - t0) / 1e9

    val caughtUp = waitFor(log, chains, phaseA)
    val catchupCpuS = Harness.cpuSeconds() - cpu0
    val visibleMs = mutable.ArrayBuffer[Long]()
    val lateMs = mutable.ArrayBuffer[Long]()
    val liveStart = System.currentTimeMillis()
    if (caughtUp) arrivals.foreach { case (name, offset) =>
      val due = liveStart + offset
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val staged = Paths.get(staging, name)
      Files.setLastModifiedTime(staged,
        FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(staged, Paths.get(src, name),
        StandardCopyOption.ATOMIC_MOVE)
      val now = System.currentTimeMillis()
      visibleMs += now
      lateMs += now - due
    }
    val drained = caughtUp && waitFor(log, chains, total)
    if (drained) settle(log)
    val jvm = Harness.jvmStats(gc0, jit0)
    val heapMb = Harness.liveHeapMb()
    chains.foreach(_._2.stop())
    org.apache.spark.ListenerBusDrain(spark.sparkContext)

    val chainRecords = chains.map { case (name, q) =>
      val ps = log.synchronized(log.progress.getOrElse(q.id, Nil).toSeq)
      name -> Map(
        "checkpoint" -> s"$out/ckpt/$name",
        "error" -> log.synchronized(log.errors.get(q.id)),
        "progress" -> ps.map(progressRecord))
    }.toMap
    val checkStart = System.nanoTime()
    val checks =
      if (drained) sinkChecks(spark, src, s"$out/kv", opts("events").toLong,
        chainRecords)
      else Map("drain" -> Map("ok" -> false,
        "detail" -> s"chains did not read all $total slices"))
    Map("workload" -> "cdc_stream", "setup_cycles_s" -> cycleS,
      "catchup_cpu_s" -> catchupCpuS,
      "t0_ms" -> t0Ms, "live_start_ms" -> liveStart,
      "phase_a" -> phaseA, "phase_b" -> arrivals.size,
      "arrivals" -> arrivals.map(_._1), "visible_ms" -> visibleMs,
      "late_ms" -> lateMs, "chains" -> chainRecords, "checks" -> checks,
      "heap_mb" -> heapMb, "jvm" -> jvm,
      "check_s" -> (System.nanoTime() - checkStart) / 1e9)
  }

  private def instantMs(s: String): Long =
    java.time.Instant.parse(s).toEpochMilli

  private def progressRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val states = p.stateOperators.toSeq
    // The file source's offsets count the files it has admitted.
    def logOffset(json: String): Long = Option(json)
      .flatMap("\\d+".r.findFirstIn).map(_.toLong).getOrElse(-1L)
    val source = p.sources.head
    Map("batch_id" -> p.batchId, "start_ms" -> instantMs(p.timestamp),
      "rows" -> p.numInputRows,
      "source_start" -> logOffset(source.startOffset),
      "source_end" -> logOffset(source.endOffset),
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap,
      "watermark_ms" -> Option(p.eventTime.get("watermark")).map(instantMs),
      "state_rows" -> states.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> states.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> states.map(_.commitTimeMs).sum,
      "dropped_by_watermark" -> states.map(_.numRowsDroppedByWatermark).sum)
  }

  /** Each sink's final content against its batch twin over the same
    * events (the slices, read as one static frame). */
  private def sinkChecks(spark: SparkSession, src: String, kv: String,
      events: Long, chains: Map[String, Map[String, Any]])
      : Map[String, Map[String, Any]] = {
    import spark.implicits._
    val static = StreamOps.decodeKafka(
      spark.read.schema(kafkaSchema).json(src)).cache()
    def watermark(chain: String): Long =
      chains(chain)("progress").asInstanceOf[Seq[Map[String, Any]]]
        .flatMap(_("watermark_ms").asInstanceOf[Option[Long]])
        .lastOption.getOrElse(0L)
    def same(got: DataFrame, want: DataFrame): Map[String, Any] = {
      val (g, w) = (got.cache(), want.cache())
      val extra = g.exceptAll(w).count()
      val missing = w.exceptAll(g).count()
      Map("ok" -> (extra == 0 && missing == 0), "rows" -> w.count(),
        "extra" -> extra, "missing" -> missing)
    }
    def guarded(f: => Map[String, Any]): Map[String, Any] =
      try f catch {
        case e: Throwable => Map("ok" -> false, "detail" -> Harness.errorText(e))
      }
    val minuteCols = Seq("minute_start", "n_events", "total_value",
      "avg_value").map(col)
    val velocityCols = Seq(col("event_type"), col("window_start_ms"),
      col("n_events"), round(col("units"), 6).as("units"), col("alert"))
    val wmMinute = watermark("minute")
    val wmAlerts = watermark("alerts")
    val checks = Seq[(String, () => Map[String, Any])](
      "decode" -> (() => guarded {
        val n = static.count()
        Map("ok" -> (n == events), "rows" -> n, "expected" -> events)
      }),
      "upsert" -> (() => guarded(same(
        spark.read.parquet(s"$kv/latest").filter(!col("deleted"))
          .select("user_id", "last_event_type", "last_value", "last_ts_ms"),
        CdcOps.upsertLatestOf(static)))),
      // n_users is an approximate distinct count; the other columns are
      // exact. Only windows the final watermark closed can be emitted.
      "minute" -> (() => guarded(same(
        spark.table("minute_run").select(minuteCols: _*),
        CdcOps.minuteMetricsOf(static)
          .filter(unix_millis(col("minute_start")) + 60000L <= wmMinute)
          .select(minuteCols: _*)))),
      "alerts" -> (() => guarded(same(
        spark.table("alerts_run"),
        StreamOps.alerts(static).filter(
          col("alert_type") === "high_value_order" ||
            unix_millis(col("ts")) <= wmAlerts)))),
      // Update mode appends every emitted version; buckets only grow, so
      // the version with the most events is the final one. Its batch twin
      // is the per-(event_type, minute) total: over a static frame no
      // bucket is ever evicted early, and velocityState itself needs a
      // streaming watermark.
      "velocity" -> (() => guarded(same(
        spark.table("velocity_run")
          .groupBy("event_type", "window_start_ms")
          .agg(max_by(struct(col("*")), col("n_events")).as("v"))
          .select("v.*").select(velocityCols: _*),
        static
          .groupBy(col("event_type"), (floor(unix_millis(col("ts")) /
            60000L) * 60000L).as("window_start_ms"))
          .agg(sum("value").as("units"), count(lit(1)).as("n_events"))
          .withColumn("alert", col("units") > 50.0)
          .select(velocityCols: _*)))))
    // Independent checks, run four at a time.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = checks.map { case (name, f) =>
      name -> pool.submit(new java.util.concurrent.Callable[Map[String, Any]] {
        def call(): Map[String, Any] = f()
      })
    }
    val result = futures.map { case (name, fu) => name -> fu.get() }.toMap
    pool.shutdown()
    static.unpersist()
    result
  }
}
