package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.operators.BatchOps

/** The fingerprint contract of [[Memos]] and the schema catalog it backs
  * in [[Tables]]: no memo serves a result for data that changed under the
  * same path, and a table's schema is inferred once per fingerprint. */
class MemosSpec extends GraftSpec {
  private val sf0001 = "/root/testdata/sf0.001"

  /** A writable copy of the sf0.001 tables. */
  private def copyOfSf0001(): String = {
    val dir = freshScratch()
    Files.list(Paths.get(sf0001)).forEach(p =>
      Files.copy(p, Paths.get(dir).resolve(p.getFileName)))
    dir
  }

  /** Spark jobs launched by `f`, counted under a job group of its own. */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"memos-spec-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      org.apache.spark.SpecListenerBus.drain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("a memo re-populates when a table under its dir is rewritten") {
    val dir = copyOfSf0001()
    def segments() = BatchOps.customerSegments(spark, dir).collect().toSeq
      .map(_.toString).sorted
    val before = segments() // populates customer_rollup_memo
    // Keep every other order: a Spark write under the same path.
    val kept = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 2 === 0).localCheckpoint()
    val orders = Paths.get(dir, "orders.parquet")
    Files.delete(orders)
    kept.write.parquet(orders.toString)
    val after = segments()
    Memos.clearAll()
    val cold = segments()
    assert(cold !== before, "the rewrite must change the answer")
    assert(after === cold)
  }

  test("nested populates and a failed populate") {
    val v = Memos.memo("spec_outer", spark, Nil) {
      Memos.memo("spec_inner", spark, Nil)(41) + 1
    }
    assert(v === 42)
    var calls = 0
    intercept[IllegalStateException] {
      Memos.memo("spec_failing", spark, Nil) {
        calls += 1; throw new IllegalStateException("populate failed")
      }
    }
    assert(Memos.memo("spec_failing", spark, Nil) { calls += 1; calls } === 2)
  }

  test("a second read of an unchanged table launches no Spark job") {
    val dir = freshScratch()
    writeTable("t", spark.range(10).toDF("id"), dir)
    assert(jobsOf(Tables.table(spark, dir, "t")) >= 1)
    assert(jobsOf(Tables.table(spark, dir, "t").schema) === 0)
    assert(Tables.table(spark, dir, "t").count() === 10)
  }

  test("a table rewritten with other columns reads with its new schema") {
    val dir = freshScratch()
    writeTable("t", spark.range(3).toDF("id"), dir)
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("id"))
    writeTable("t", spark.range(3).selectExpr("id", "id * 2 AS twice"), dir)
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq === Seq("id", "twice"))
    assert(t.orderBy("id").collect().map(_.getLong(1)).toSeq === Seq(0, 2, 4))
  }

  test("inferTimestampNTZ changes the cached ts type as it changes an " +
      "uncached read") {
    // The generator's naive TIMESTAMP(MICROS) column; a Spark-written
    // file would carry its Spark schema, which inference follows as is.
    val path = s"$sf0001/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val was = spark.conf.get(key)
    try {
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(key, v)
        val cached = Tables.schema(spark, path)("ts").dataType
        assert(cached === spark.read.parquet(path).schema("ts").dataType)
        assert(Tables.table(spark, sf0001, "events").select("ts")
          .collect().toSeq === spark.read.parquet(path)
          .selectExpr("CAST(ts AS TIMESTAMP) AS ts").collect().toSeq)
        cached
      }
      assert(seen === Seq(TimestampNTZType, TimestampType, TimestampNTZType))
    } finally spark.conf.set(key, was)
  }

  test("clearAll drops the schema catalog") {
    val dir = freshScratch()
    writeTable("t", spark.range(3).toDF("id"), dir)
    Tables.table(spark, dir, "t")
    assert(jobsOf(Tables.table(spark, dir, "t")) === 0)
    Memos.clearAll()
    assert(jobsOf(Tables.table(spark, dir, "t")) >= 1)
    assert(Memos.populateSeconds.contains("table_schema"))
  }
}
