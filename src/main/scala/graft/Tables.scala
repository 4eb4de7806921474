package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §B).
  *
  * One parquet file per table under the scale-factor dir. All reads go
  * through here so every query benefits from the same conventions:
  * columnar parquet scans with Catalyst predicate pushdown + column
  * pruning (filters/selects are applied by callers *on the returned
  * DataFrame*, which Catalyst pushes into the scan).
  *
  * Schema catalog. Inferring a parquet schema is a Spark job; the
  * inferred schema is memoized through [[Memos.memo]] as `table_schema`,
  * keyed by the table path and the session confs that change what
  * inference yields (`inferTimestampNTZ.enabled`,
  * `legacy.parquet.nanosAsLong`), and stamped with the path's file
  * fingerprint. Every read after the first is
  * `spark.read.schema(s).parquet(path)`, which runs no job; a table
  * rewritten under the same path is re-inferred on its next read.
  */
object Tables {
  private val SchemaConfs = Seq(
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalizeTimestamps(spark.read.schema(schema(spark, path)).parquet(path))
  }

  /** The schema of the parquet table at `path`, as an uncached
    * `spark.read.parquet(path)` under the session's current confs infers
    * it. */
  private[graft] def schema(spark: SparkSession, path: String): StructType =
    Memos.memo("table_schema", spark, Seq(path),
      SchemaConfs.map(spark.conf.getOption))(spark.read.parquet(path).schema)

  /** The generator writes naive (isAdjustedToUTC=false) parquet
    * TIMESTAMP(MICROS) columns, which Spark 4 infers as TIMESTAMP_NTZ by
    * default while DuckDB reads them as plain TIMESTAMP. Every session
    * builder in this repo disables the inference
    * (`spark.sql.parquet.inferTimestampNTZ.enabled=false`) so the scan
    * itself yields TIMESTAMP (filter pushdown on time columns stays
    * intact); this fallback covers sessions built elsewhere by
    * reinterpreting any NTZ column as TIMESTAMP. All sessions here run
    * with session timezone UTC, where the cast is an exact
    * reinterpretation of the stored micros — the same values DuckDB's
    * naive read produces, so oracle comparisons are unaffected. */
  private def normalizeTimestamps(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else ntz.foldLeft(df) { (d, f) =>
      d.withColumn(f.name, d.col(f.name).cast("timestamp"))
    }
  }

  /** Earlier generator runs stored `events.ts` as parquet TIMESTAMP(NANOS),
    * which Spark 4 rejects by default (PARQUET_TYPE_ILLEGAL); the current
    * generator writes TIMESTAMP(MICROS), handled by [[normalizeTimestamps]].
    * This wrapper keeps the nanos era readable: with the legacy conf the
    * nanos column surfaces as a raw long, converted here to a microsecond
    * timestamp. Integer `div` keeps the conversion exact and matches
    * DuckDB's native TIMESTAMP_NS read at millisecond granularity.
    *
    * The conf belongs in the session builder ([[Session.local]] sets
    * it); the fallback here only covers sessions built elsewhere, and
    * only fires when the conf is unset — it never changes an explicitly
    * configured value, so behavior is not call-order dependent. */
  private def eventsWithTs(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }

  /** Hive-layout partitioned parquet sink — the standard 100 TB fact
    * layout: one directory per partition value, so a reader filtering
    * on the partition column scans only matching directories
    * (partition pruning happens at planning, before any file IO; the
    * PlanSpec asserts the `PartitionFilters` actually appear). Callers
    * pick coarse, low-cardinality columns (a date bucket, a region) —
    * per-value directories with millions of entries defeat listing. */
  def writePartitioned(df: DataFrame, dir: String,
                       cols: Seq[String]): Unit =
    df.write.partitionBy(cols: _*).mode("overwrite").parquet(dir)

  /** Day-grain date-partitioned fact layout — [[writePartitioned]]
    * keyed by the fact's own DATE column, the SURVEY §7.5 posture
    * ("partition all fact reads by date"). Partitioning by the date
    * column ITSELF (not a derived month string) means date-RANGE
    * predicates — the dominant fact filter shape (`customer_rollup
    * _windowed`'s BETWEEN, every incremental backfill) — land directly
    * in `PartitionFilters` and prune whole days at planning time; a
    * derived-bucket layout only prunes on exact bucket equality.
    * Day grain bounds directory cardinality at ~365/year, safely inside
    * listing limits at any fact size; the within-day file count is
    * governed by the writer's parallelism, so callers coalesce to taste
    * before handing the frame in. The PlanSpec asserts a BETWEEN
    * predicate prunes (PartitionFilters, not just PushedFilters). */
  def writeDatePartitioned(df: DataFrame, dir: String,
                           dateCol: String): Unit =
    writePartitioned(df, dir, Seq(dateCol))

  /** Z-ORDER layout WRITE — the acting half of
    * `BatchOps.zorderStats`'s diagnostics (same integer
    * range-normalization, same bit-interleave): compute the Morton key
    * of two dimensions, RANGE-partition on it so each output file owns
    * a contiguous Z-range, sort within partitions, and write parquet.
    * Because the Z-curve clusters BOTH dimensions, every file's
    * parquet min/max footer is tight on both columns — a reader
    * filtering on EITHER dimension skips most files (the OPTIMIZE
    * ZORDER effect; a single-column sort clusters one dimension and
    * leaves the other spanning the full domain per file). The layout
    * spec quantifies exactly that trade on real data. Bounds come from
    * one 1-row broadcast anchor; the interleave is a codegen'd
    * projection; the only shuffle is the range exchange the layout
    * requires. */
  def writeZOrdered(df: DataFrame, dir: String, colA: String,
                    colB: String, files: Int, bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    val top = (1 << bits) - 1
    val zTerms = (0 until bits).map(i =>
      s"(((za >> $i) & 1) << ${2 * i}) + " +
        s"(((zb >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
    val bounds = df.agg(
      min(col(colA)).as("a_lo"), max(col(colA)).as("a_hi"),
      min(col(colB)).as("b_lo"), max(col(colB)).as("b_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("za", expr(
        s"(($colA - a_lo) * $top) div greatest(1L, a_hi - a_lo)"))
      .withColumn("zb", expr(
        s"(($colB - b_lo) * $top) div greatest(1L, b_hi - b_lo)"))
      .withColumn("__z", expr(s"cast(($zTerms) as bigint)"))
      .drop("a_lo", "a_hi", "b_lo", "b_hi", "za", "zb")
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Bucketed managed-table sink — the co-location tool for repeated
    * big⋈big joins at 100 TB: both sides written with `bucketBy(n, key)`
    * (+ per-bucket sort) join with NO exchange on either side — the
    * shuffle is paid once at write time instead of on every query. The
    * PlanSpec asserts the shuffle-free SortMergeJoin. Bucket count is a
    * layout contract: both tables must agree (or differ by an integer
    * factor) for the co-located join to kick in, so callers share one
    * constant per keyspace. Spark's bucketed layout requires the table
    * catalog (`saveAsTable`), not a bare path — the session's warehouse
    * dir owns the files. */
  def writeBucketed(df: DataFrame, tableName: String, buckets: Int,
                    key: String): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(tableName)

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame     = eventsWithTs(spark, dir)
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
