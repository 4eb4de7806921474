package graft

import java.nio.file.Files
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.{Configurator, LoggerConfig}
import org.apache.logging.log4j.core.filter.StringMatchFilter
import org.apache.spark.sql.SparkSession

/** The one way the engine builds a session. Every main and the test
  * harness call [[local]], so queries see the same confs wherever they
  * run:
  *
  *  - shuffle partitions equal the core count, session time zone UTC;
  *  - `legacy.parquet.nanosAsLong` and `parquet.inferTimestampNTZ.enabled
  *    =false`: the test-data timestamps are naive parquet timestamps,
  *    which Spark 4 would otherwise infer as TIMESTAMP_NTZ (older files
  *    hold TIMESTAMP(NANOS)); see [[Tables]];
  *  - `codegen.cache.maxEntries=4096`: the default of 100 is far fewer
  *    codegen units than a long query list generates, so the Janino class
  *    cache thrashes across queries and every evicted class is recompiled,
  *    with its JIT profile restarted, inside a later query's run;
  *  - `ui.retainedExecutions=8`: even with the UI off, the SQL status
  *    listener keeps metrics for every retained execution, so the listener
  *    bus and status store would grow with the number of queries run;
  *  - a temp warehouse dir, so managed tables never land in the working
  *    directory.
  *
  * The last three are static confs: they take effect only on the first
  * session of a JVM. The ContextCleaner's periodic GC stays at its default
  * interval. Broadcast blocks, shuffle files and non-returned
  * `localCheckpoint` RDDs are reclaimed only after the objects that
  * reference them are collected, and a large heap may never collect on
  * its own, so a caller that runs many queries calls `System.gc()`
  * between them ([[Bench]]); a short cleaner interval would instead fire
  * full-GC pauses inside timed runs. */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int): SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse-").toFile
    warehouse.deleteOnExit()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowGateSpec is the gate for unpartitioned windows, so the per-run
    // WARN adds nothing.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    dropStreamingNotices()
    spark
  }

  /** Spark WARNs once or twice per streaming query start that it turns
    * AQE off: `MicroBatchExecution` for every stateful plan whatever the
    * session conf says, and `ResolveWriteToStream` whenever AQE is on in
    * the session, which batch queries need. On every stop, `DAGScheduler`
    * WARNs that it found no active job of the query's job group to cancel,
    * because the query's last job has already finished. No caller can act
    * on any of the three, so exactly these messages are dropped; every
    * other message of the three loggers still prints at the root level. */
  private def dropStreamingNotices(): Unit = {
    val ctx = LoggerContext.getContext(false)
    val runtime = "org.apache.spark.sql.execution.streaming.runtime"
    Seq(
      s"$runtime.ResolveWriteToStream" ->
        "is not supported in streaming DataFrames",
      s"$runtime.MicroBatchExecution" ->
        "Disabling AQE since AQE is not supported in stateful",
      "org.apache.spark.scheduler.DAGScheduler" ->
        "Cannot find active jobs for it"
    ).foreach { case (name, text) =>
      val lc = new LoggerConfig(name, null, true) // null level: the parent's
      lc.addFilter(StringMatchFilter.newBuilder().setMatchString(text)
        .setOnMatch(Filter.Result.DENY).setOnMismatch(Filter.Result.NEUTRAL)
        .build())
      // putIfAbsent: a later session in the same JVM keeps the first.
      ctx.getConfiguration.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }
}
