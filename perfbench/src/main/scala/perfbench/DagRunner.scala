package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Memos, SparkEntry}

/** One pass of a DAG: every query of the plan in order, each built
  * through `SparkEntry.queries(name)` and consumed by a `noop` write, the
  * way the DAG's scheduled run consumes it. After the pass, untimed,
  * the frames of the queries marked `check` are written once more as
  * parquet for the oracle check in `perfbench/oracle.py`.
  *
  * Options: `--data` input tables, `--plan` file of
  * `phase<TAB>query<TAB>check|skip` lines in run order, `--out` output
  * dir. */
object DagRunner {
  def run(spark: SparkSession, opts: Map[String, String],
      trace: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val data = opts("data")
    val out = opts("out")
    val plan = Files.readAllLines(Paths.get(opts("plan"))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map(a => (a(0), a(1)))
    val checked = Files.readAllLines(Paths.get(opts("plan"))).asScala
      .filter(_.endsWith("\tcheck")).map(_.split('\t')(1)).toSet
    val tracer = if (trace) Some(new JobTracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val clock = new SpanClock
    Memos.clearAll()
    val (gc0, jit0) = (Harness.gcSeconds(), Harness.jitSeconds())
    val queries = mutable.ArrayBuffer[Map[String, Any]]()
    val built = mutable.ArrayBuffer[(String, DataFrame)]()
    val phaseSeconds = mutable.LinkedHashMap[String, Double]()
    val passStart = System.nanoTime()
    val cpu0 = Harness.cpuSeconds()
    plan.foreach { case (phase, name) =>
      val b0 = System.nanoTime()
      var b1, a1 = 0L
      var error: Option[String] = None
      try {
        sc.setJobGroup(s"$name|build", s"$name build")
        val df = SparkEntry.queries(name)(spark, data)
        b1 = System.nanoTime()
        sc.setJobGroup(s"$name|action", s"$name action")
        df.write.format("noop").mode("overwrite").save()
        a1 = System.nanoTime()
        built += name -> df
      } catch {
        case e: Throwable =>
          error = Some(Harness.errorText(e))
          if (b1 == 0L) b1 = System.nanoTime()
          a1 = System.nanoTime()
      } finally sc.clearJobGroup()
      phaseSeconds(phase) = phaseSeconds.getOrElse(phase, 0.0) +
        (a1 - b0) / 1e9
      queries += Map("name" -> name, "phase" -> phase,
        "start_ms" -> clock.ms(b0), "build_end_ms" -> clock.ms(b1),
        "end_ms" -> clock.ms(a1), "error" -> error)
    }
    val passS = (System.nanoTime() - passStart) / 1e9
    val passCpuS = Harness.cpuSeconds() - cpu0
    val memo = Memos.populateSeconds
    val jvm = Harness.jvmStats(gc0, jit0)
    // Spark's status store keeps the pass's jobs and stages once their
    // events are processed; let it settle so the heap figure does not
    // depend on how far the listener bus has got.
    org.apache.spark.ListenerBusDrain(sc)
    val heapMb = Harness.liveHeapMb()
    val traced = tracer.map(t => Map("jobs" -> t.record,
      "action_plan_ms" -> t.actionPlanMs))

    val checkStart = System.nanoTime()
    // Untimed output check: each marked frame once more, as one parquet
    // file, four at a time.
    val checkErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    built.filter(b => checked(b._1)).foreach { case (name, df) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try df.coalesce(1).write.mode("overwrite")
            .parquet(s"$out/check/$name")
          catch {
            case e: Throwable => checkErrors.put(name, Harness.errorText(e))
          }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    val oracle = plan.map(_._2).flatMap(n => SparkEntry.oracleSql.get(n)
      .map(n -> _)).toMap
    Map("workload" -> "reference_dag", "pass_s" -> passS,
      "pass_cpu_s" -> passCpuS,
      "queries" -> queries, "phase_s" -> phaseSeconds,
      "memo_populate_s" -> memo.values.sum, "memo_n" -> memo.size,
      "heap_mb" -> heapMb, "jvm" -> jvm, "trace" -> traced,
      "check_errors" -> checkErrors.asScala,
      "check_s" -> (System.nanoTime() - checkStart) / 1e9, "oracle_sql" -> oracle)
  }
}

/** Maps `System.nanoTime` readings onto epoch milliseconds, the clock
  * Spark's listener events use, so runner spans and job spans line up. */
final class SpanClock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms(nano: Long): Double = wall0 + (nano - nano0) / 1e6
}
