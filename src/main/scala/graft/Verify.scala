package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. Shared with [[oracleSqlJson]] consumers (the
    * OracleTypeSweepSpec standing gate). */
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full oracle registry as the JSON object `graft.Verify` dumps —
    * exposed so the type-sweep spec can hand `tools/check_oracle_types
    * .py` the identical artifact without running any query. */
  private[graft] def oracleSqlJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
    .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (builder-side dev only; the driver passes two):
    // comma-separated query names to dump, skipping the rest.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Static confs Bench sets (see its builder for the measurement):
      // no Janino class-cache thrash across a long query list, and a
      // bounded SQL status store.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.ui.retainedExecutions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures are recorded to failures.json AND stderr — a query that
    // errors must fail the gate visibly, never silently drop out of the
    // correctness report (round-3 lesson: 12 queries vanished this way).
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        failures(name) = msg
        System.err.println(s"[verify] FAILED $name: $msg")
      } finally spark.catalog.clearCache() // defensive: no operator persists today
    }
    def q(s: String): String = jsonQuote(s)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${SparkEntry.queries.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
