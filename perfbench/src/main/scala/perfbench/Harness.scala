package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` prepares the inputs,
  * launches this main once per run and turns the raw record it writes
  * (`<out>/result.json`) into metrics.
  *
  * Usage: `perfbench.Harness --workload <name> --out <dir> --trace <0|1>
  * [workload options]`; see [[DagRunner]] and [[StreamRunner]]. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val out = opts("out")
    val trace = opts.getOrElse("trace", "0") == "1"
    val spark = session()
    val sessionReadyS = secondsSinceLaunch()
    val record = opts("workload") match {
      case "reference_dag" => DagRunner.run(spark, opts, trace)
      case "cdc_stream"    => StreamRunner.run(spark, opts)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    writeJson(Paths.get(out, "result.json").toString,
      record + ("session_ready_s" -> sessionReadyS))
    spark.stop()
  }

  /** The session every workload runs on: `local[4]`, four shuffle
    * partitions and the session confs `graft.Bench` sets. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.ui.retainedExecutions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secondsSinceLaunch(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Cumulative GC and JIT seconds of this JVM. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** CPU seconds this JVM has used so far, over all its threads. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Driver heap in use right after a full GC, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1e6
  }

  def jvmStats(gc0: Double, jit0: Double): Map[String, Any] = Map(
    "gc_s" -> (gcSeconds() - gc0), "jit_s" -> (jitSeconds() - jit0))

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Minimal JSON writer for the nested Map/Seq/primitive records the
    * runners build. */
  def toJson(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => toJson(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => toJson(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${toJson(x)}" }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(toJson).mkString("[", ",", "]")
    case a: Array[_] => toJson(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def writeJson(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), toJson(v) + "\n")
}
