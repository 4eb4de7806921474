package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tool: dump `.explain("formatted")` for named queries
  * to `plans/<round>/<query>_<tag>.txt` — the before/after plan evidence the
  * optimization deliverables require. Usage:
  *   runMain graft.PlanDump <tag> <query>[,<query>...]
  * `tag` is typically `before` or `after`; the SF dir comes from the same
  * env var as [[Bench]] and the session from [[Session.local]], so the
  * plans match the benched configuration. Dumps are cheap (no execution beyond what query
  * construction itself triggers, e.g. 1-row anchor collects or memo
  * population warmups).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.PlanDump <tag> [<query>[,<query>...]]")
      sys.exit(2)
    }
    val tag = args(0)
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      else SparkEntry.queries.keys.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r18")
    val spark = Session.local(Session.cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
            println(s"[plandump] wrote $outDir/${name}_$tag.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] FAILED $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          } finally spark.catalog.clearCache()
        case None =>
          System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
