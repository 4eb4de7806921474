package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only interleaved A/B timer: runs registered queries alternately
  * (ABAB…) in one JVM, so drift of the machine between JVMs cannot fake a
  * verdict, and prints each arm's median. To compare two forms of an
  * operator, register both under their own names. Usage:
  *   SPARK_GRAFT_SF_DIR=... \
  *     sbt "runMain graft.AbProbe <query>,<query>[,...] [<rounds>]"
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.AbProbe <query>,<query>[,...] [<rounds>]")
      sys.exit(2)
    }
    val arms = args(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      .map(n => n -> SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n")))
    val rounds = if (args.length > 1) args(1).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    def run(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // one untimed warmup per arm, then ABAB… timed rounds
    arms.foreach { case (_, fn) => run(fn); System.gc() }
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to rounds).foreach { _ =>
      arms.foreach { case (n, fn) =>
        val t0 = System.nanoTime()
        run(fn)
        times(n) = times(n) :+ (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); System.gc()
      }
    }
    arms.foreach { case (n, _) =>
      val s = times(n).sorted
      println(f"[abprobe] arm=$n%s median=${s(s.length / 2)}%.3f " +
        s"runs=${times(n).map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
