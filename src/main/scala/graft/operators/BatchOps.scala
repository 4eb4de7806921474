package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Batch analytics operators — the reference's batch ETL surface re-expressed
  * Spark-first (reference: `/root/reference/python/batch_processor.py`,
  * `/root/reference/airflow/dags/airflow_etl_utils.py`).
  *
  * Scale posture (100 TB): every pipeline here is scan → (broadcast-able dim
  * join) → partial+final hash aggregate → 1-row global agg broadcast back →
  * per-row projection. No driver-side collect, no cartesian products except
  * broadcast of single-row threshold frames. Money arithmetic goes through
  * DECIMAL(18,2) so sums are exact and deterministic regardless of partition
  * count / aggregation order (a double sum would be order-dependent and could
  * never hash-match an oracle).
  */
object BatchOps {

  /** Exact, order-independent money sum: cast to decimal, sum, back to double.
    * Deterministic at any parallelism (decimal addition is associative). */
  def moneySum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Skew-safe exact distinct count: `groupBy(keys).agg(countDistinct(v))`
    * shuffles every (key, v) row to the key's ONE reducer — a hot key
    * (one segment holding most of the corpus) serializes onto a single
    * task at scale. This decomposition shards the VALUE space instead:
    * group on (keys, pmod(xxhash64(v), shards)) — each shard sees a
    * disjoint slice of the key's values, so per-shard distinct counts
    * sum exactly (no overlap, no undercount) — then re-aggregate the
    * shard subtotals per key. The hot key's distinct work spreads over
    * `shards` tasks; both stages stay partial+final hash aggregates.
    * This is the salting pattern from the brief applied where it is
    * actually needed — countDistinct is the one common aggregate whose
    * map-side partials cannot shrink a skewed shuffle on their own
    * (algebraic aggs like sum/count already combine map-side). */
  def skewSafeDistinct(df: DataFrame, keys: Seq[String], value: String,
                       outName: String, shards: Int = 64): DataFrame =
    df.groupBy((keys.map(col) :+
        pmod(xxhash64(col(value)), lit(shards)).as("__shard")): _*)
      .agg(countDistinct(col(value)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(outName))

  // ===========================================================================
  // M0 — customer 360 rollup + percentile segmentation
  // (reference: python/batch_processor.py:22-145)
  // ===========================================================================

  /** A1: per-customer rollup — COUNT / COALESCE(SUM) / MAX over a left join
    * that preserves order-less customers (batch_processor.py:33-40).
    * The reference groups the join on all customer columns; c_custkey is
    * the primary key, so the aggregation runs on the orders fact FIRST,
    * keyed on the bare bigint o_custkey (no customer strings ride the
    * shuffle), and customer joins the |customers|-row aggregate after —
    * order-less customers arrive null and are zero-filled, exactly the
    * post-join grouping's result. */
  def customerOrdersRollup(spark: SparkSession, dir: String): DataFrame =
    customerRollupOf(Tables.customer(spark, dir), Tables.orders(spark, dir))

  /** The A1 rollup body over customers `c` and an orders frame `o`, which
    * [[customerRollupWindowed]] scopes to a date window. */
  private def customerRollupOf(c: DataFrame, o: DataFrame): DataFrame = {
    val oa = o.groupBy(o("o_custkey"))
      .agg(
        count(o("o_orderkey")).as("agg_orders"),
        moneySum(o("o_totalprice")).as("agg_spent"),
        max(o("o_orderdate")).as("agg_last"))
    c.join(oa, c("c_custkey") === oa("o_custkey"), "left_outer")
      .select(
        c("c_custkey"), c("c_name"), c("c_mktsegment"),
        coalesce(col("agg_orders"), lit(0L)).as("total_orders"),
        coalesce(col("agg_spent"), lit(0.0)).as("total_spent"),
        col("agg_last").as("last_order_date"))
  }

  /** Session memo of the materialized customer rollup — same
    * store-once-serve-many contract as [[productRollupCached]] (the
    * round-3/4 no-persist comment below recommended exactly this:
    * "persist the rollup at the session level"; the memo owns that
    * lifecycle). [[customerOrdersRollup]] stays the raw plan. */
  def customerOrdersRollupCached(spark: SparkSession, dir: String): DataFrame =
    graft.Memos.memo("customer_rollup_memo", spark, Seq(dir))(
      customerOrdersRollup(spark, dir).localCheckpoint())

  /** M0 flagship: tiered segmentation (C1), CLV (C2), recency banding (C3)
    * on top of the A1 rollup, thresholds from exact percentiles (A4).
    * (reference: python/batch_processor.py:108-145)
    *
    * The percentile thresholds are a single-row global aggregate cross-joined
    * back via broadcast — never collected to the driver — so the plan is
    * scan → agg(1 row) → BroadcastNestedLoopJoin → project, which scales to
    * arbitrarily many customers. Recency is anchored on max(o_orderdate)
    * (data-derived) instead of the reference's datetime.now() so results are
    * reproducible (SURVEY.md §7.3). */
  def customerSegments(spark: SparkSession, dir: String): DataFrame = {
    // The rollup feeds both the threshold aggregate and the main branch,
    // via the SESSION-memoized checkpoint (customerOrdersRollupCached):
    // a per-call persist could never be matched by an unpersist (the
    // returned frame is lazy) and leaked cached blocks into long-lived
    // sessions (round-3/4 advice), while no reuse at all re-ran the
    // scan+rollup for the threshold branch — exchange reuse does NOT
    // dedupe the two, because column pruning gives the threshold branch
    // a narrower aggregate. The memo is the recommended session-level
    // persist with an owner.
    val roll = customerOrdersRollupCached(spark, dir)
    val th = roll.agg(
      expr("percentile(total_spent, 0.8)").as("p80_spent"),
      expr("percentile(total_spent, 0.6)").as("p60_spent"),
      expr("percentile(cast(total_orders as double), 0.8)").as("p80_orders"))
    val anchor = Tables.orders(spark, dir)
      .agg(max(to_date(col("o_orderdate"))).as("anchor_day"))
    roll
      .crossJoin(broadcast(th))
      .crossJoin(broadcast(anchor))
      .withColumn("segment",
        when(col("total_spent") >= col("p80_spent") &&
             col("total_orders").cast("double") >= col("p80_orders"), "Gold")
        .when(col("total_spent") >= col("p60_spent") ||
              col("total_orders").cast("double") >= col("p80_orders"), "Silver")
        .otherwise("Bronze"))
      .withColumn("estimated_clv", col("total_spent") * 2)
      .withColumn("days_since_last_order",
        coalesce(datediff(col("anchor_day"), to_date(col("last_order_date"))),
                 lit(999)).cast("int"))
      .withColumn("recency_segment",
        when(col("days_since_last_order") <= 7, "Very Active")
        .when(col("days_since_last_order") <= 30, "Active")
        .otherwise("Inactive"))
      .select("c_custkey", "c_name", "c_mktsegment", "total_orders",
        "total_spent", "last_order_date", "segment", "estimated_clv",
        "days_since_last_order", "recency_segment")
      .orderBy("c_custkey")
  }

  // ===========================================================================
  // M1 — product performance (J2 two-hop join, A2 distinct agg, C4/C5/C6)
  // (reference: python/batch_processor.py:54-71,147-176)
  // ===========================================================================

  /** A2: product rollup over the two-hop chain part ⟕ lineitem ⟕ orders with
    * an expression inside the agg and a distinct aggregate.
    *
    * The reference groups on all part attributes
    * (batch_processor.py:61-69); since `p_partkey` is the primary key,
    * the attributes are functionally dependent on it, so the aggregation
    * is computed on the fact side FIRST, keyed on the narrow bigint
    * `l_partkey` — the distinct-aggregate's two exchanges then carry one
    * long instead of five columns of part strings per row — and `part`
    * is joined to the |parts|-row aggregate afterwards (broadcast-able,
    * left join preserving never-sold parts with zero-filled metrics).
    * Results are identical to grouping post-join; the shuffle payload is
    * what changes, and at 100 TB the fact side never carries dimension
    * strings through an exchange. */
  /** Session memo of the materialized product rollup — the reference's
    * batch processor materializes exactly this aggregate per run and
    * serves every reader from the store (`python/batch_processor.py`
    * caches it to Redis); here the |parts|-row checkpoint plays the
    * store and three queries
    * ([[topPartsByRevenue]], [[productPerformance]], the registered
    * rollup itself) read it. [[productRollup]] stays the raw plan — the
    * shuffle-shape spec asserts on it. */
  def productRollupCached(spark: SparkSession, dir: String): DataFrame =
    graft.Memos.memo("product_rollup_memo", spark, Seq(dir))(
      productRollup(spark, dir).localCheckpoint())

  def productRollup(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val la = partSales(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      lit(true))
    p.join(la, p("p_partkey") === la("l_partkey"), "left_outer")
      .select(
        p("p_partkey"), p("p_name"), p("p_brand"), p("p_type"), p("p_size"),
        coalesce(col("units_sold"), lit(0.0)).as("units_sold"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        coalesce(col("order_count"), lit(0L)).as("order_count"))
  }

  /** The fact side of the A2 rollups: lineitem ⟕ orders rows that pass
    * `keep`, aggregated per bare `l_partkey` (units_sold, revenue,
    * order_count), so no part strings ride the shuffle. A `lit(true)`
    * filter is dropped by the optimizer. */
  private def partSales(l: DataFrame, o: DataFrame, keep: Column): DataFrame =
    l.join(o, l("l_orderkey") === o("o_orderkey"), "left_outer")
      .filter(keep)
      .groupBy(l("l_partkey"))
      .agg(
        sum(l("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("units_sold"),
        sum(l("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
             l("l_discount").cast("decimal(18,2)"))).cast("double")
          .as("revenue"),
        countDistinct(o("o_orderkey")).as("order_count"))

  /** C4 guarded ratios + C5 category precedence + C6 stock-status chain.
    * pandas-overwrite precedence (batch_processor.py:157-173) becomes a
    * first-match `when` chain ordered Star > Fast Moving > High Revenue
    * (SURVEY.md §2.6 C5). p_size stands in for stock_quantity (testdata has
    * no stock column); Overstock threshold scaled to p_size's 1..50 range. */
  def productPerformance(spark: SparkSession, dir: String): DataFrame = {
    // The SHARED materialized rollup (productRollupCached, |parts| rows):
    // the percentile thresholds and the categorized output both consume
    // it, and without a checkpoint the whole scan→join→distinct-agg
    // pipeline plans twice (6 scans, zero reused exchanges under AQE —
    // measured r8; the 2× recompute was also the bench bimodality this
    // query showed). Materializing the small aggregate is what a 100 TB
    // run would do too: thresholds must see the full rollup, so a
    // barrier is semantically required before the per-row
    // categorization. The memoized checkpoint lives for the session
    // (see productRollupCached's scaladoc).
    val roll = productRollupCached(spark, dir)
    val th = roll.agg(
      expr("percentile(revenue, 0.8)").as("p80_revenue"),
      expr("percentile(units_sold / cast(greatest(p_size, 1) as double), 0.8)")
        .as("p80_turnover"))
    roll
      .withColumn("revenue_per_unit",
        col("revenue") / when(col("units_sold") === 0, 1.0)
          .otherwise(col("units_sold")))
      .withColumn("turnover_rate",
        col("units_sold") / greatest(col("p_size"), lit(1)).cast("double"))
      .crossJoin(broadcast(th))
      .withColumn("performance_category",
        when(col("revenue") >= col("p80_revenue") &&
             col("turnover_rate") >= col("p80_turnover"), "Star Product")
        .when(col("turnover_rate") >= col("p80_turnover"), "Fast Moving")
        .when(col("revenue") >= col("p80_revenue"), "High Revenue")
        .otherwise("Low Performer"))
      .withColumn("stock_status",
        when(col("p_size") <= 0, "Out of Stock")
        .when(col("p_size") <= 10, "Low Stock")
        .when(col("p_size") >= 40, "Overstock")
        .otherwise("Normal"))
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "units_sold", "revenue", "order_count", "revenue_per_unit",
        "turnover_rate", "performance_category", "stock_status")
      .orderBy("p_partkey")
  }

  // ===========================================================================
  // M1 — daily order analytics (A3 group-on-expression), re-aggregation (A7)
  // (reference: python/batch_processor.py:84-97,226-231)
  // ===========================================================================

  /** Daily (day, status) aggregate keeping total_sales in exact decimal so
    * downstream re-aggregation (A7) never round-trips through double. */
  private def dailyOrderAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("order_day"),
        col("o_orderstatus"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sales_dec"),
        min(col("o_totalprice")).as("min_order"),
        max(col("o_totalprice")).as("max_order"))

  /** A3: group on an expression (DATE(order_date), status) with the five
    * standard aggregates. avg is computed from the exact decimal sum so it is
    * deterministic under any partitioning. */
  def dailyOrderAnalytics(spark: SparkSession, dir: String): DataFrame =
    dailyOrderAgg(spark, dir)
      .withColumn("total_sales", col("sales_dec").cast("double"))
      .withColumn("avg_order_value",
        col("total_sales") / col("order_count").cast("double"))
      .select("order_day", "o_orderstatus", "order_count", "total_sales",
        "avg_order_value", "min_order", "max_order")
      .orderBy("order_day", "o_orderstatus")

  /** A7: re-aggregation over the already-aggregated daily output
    * (batch_processor.py:231). Sums stay decimal until the final projection
    * — decimal addition is associative, so the result is identical to
    * summing the source column directly, at any parallelism. */
  def statusDistribution(spark: SparkSession, dir: String): DataFrame =
    dailyOrderAgg(spark, dir)
      .groupBy("o_orderstatus")
      .agg(sum(col("order_count")).as("total_orders"),
        sum(col("sales_dec")).cast("double").as("total_sales"))
      .orderBy("o_orderstatus")

  /** A9: global revenue rollup with the max(count,1) division guard
    * (airflow_etl_utils.py:279-290). Single-row global aggregate. */
  def revenueAnalytics(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        moneySum(col("o_totalprice")).as("total_revenue"),
        count(lit(1)).as("order_count"))
      .withColumn("avg_order_value",
        col("total_revenue") /
          greatest(col("order_count"), lit(1L)).cast("double"))

  /** Per-group Pearson correlation + least-squares regression of
    * quantity on price — the `corr`/`regr_slope` analytics surface,
    * built from EXACT decimal component sums (Σx, Σy, Σxy, Σx², n)
    * instead of the built-in `corr` (whose streaming covariance
    * accumulates doubles in partition order — not reproducible
    * cross-engine). The five sums are associative decimals (identical
    * at any parallelism, partial+final-friendly at 100 TB); the final
    * r/slope/intercept arithmetic is all IEEE `+ − × ÷ sqrt` on exact
    * inputs — every operation correctly rounded, so both engines emit
    * bit-identical doubles with no rounding fudge. */
  def priceQuantityCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_extendedprice").cast("decimal(18,2)")
    val y = col("l_quantity").cast("decimal(18,2)")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sum_x"),
        sum(y).cast("double").as("sum_y"),
        sum((x * y).cast("decimal(38,6)")).cast("double").as("sum_xy"),
        sum((x * x).cast("decimal(38,6)")).cast("double").as("sum_xx"),
        sum((y * y).cast("decimal(38,6)")).cast("double").as("sum_yy"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("cov_num",
        col("nn") * col("sum_xy") - col("sum_x") * col("sum_y"))
      .withColumn("var_x",
        col("nn") * col("sum_xx") - col("sum_x") * col("sum_x"))
      .withColumn("var_y",
        col("nn") * col("sum_yy") - col("sum_y") * col("sum_y"))
      .select(
        col("l_returnflag"), col("n"),
        (col("cov_num") / (sqrt(col("var_x")) * sqrt(col("var_y"))))
          .as("corr_r"),
        (col("cov_num") / col("var_x")).as("slope"),
        ((col("sum_y") - (col("cov_num") / col("var_x")) * col("sum_x")) /
          col("nn")).as("intercept"))
      .orderBy("l_returnflag")
  }

  /** DuckDB oracle for [[priceQuantityCorr]] — same exact sums, same
    * IEEE final arithmetic, term-for-term. The decimal→double bridge
    * goes through VARCHAR: DuckDB's direct decimal cast converts the
    * int128 payload to double and THEN divides by 10^scale (two
    * roundings — 1 ULP off Spark's correctly-rounded BigDecimal
    * conversion once Σx² exceeds 2⁵³), while string parsing is a single
    * correctly-rounded conversion in both engines. */
  private[graft] def priceQuantityCorrOracleSql: String = {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    s"""WITH a AS (
       |  SELECT l_returnflag,
       |    count(*) AS n,
       |    ${d("sum(CAST(l_extendedprice AS DECIMAL(18,2)))")} AS sum_x,
       |    ${d("sum(CAST(l_quantity AS DECIMAL(18,2)))")} AS sum_y,
       |    ${d("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |                  CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6)))""")}
       |      AS sum_xy,
       |    ${d("""sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |                  CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,6)))""")}
       |      AS sum_xx,
       |    ${d("""sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
       |                  CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6)))""")}
       |      AS sum_yy
       |  FROM lineitem
       |  GROUP BY l_returnflag),
       |b AS (
       |  SELECT *, CAST(n AS DOUBLE) AS nn,
       |    CAST(n AS DOUBLE) * sum_xy - sum_x * sum_y AS cov_num,
       |    CAST(n AS DOUBLE) * sum_xx - sum_x * sum_x AS var_x,
       |    CAST(n AS DOUBLE) * sum_yy - sum_y * sum_y AS var_y
       |  FROM a)
       |SELECT l_returnflag, n,
       |  cov_num / (sqrt(var_x) * sqrt(var_y)) AS corr_r,
       |  cov_num / var_x AS slope,
       |  (sum_y - (cov_num / var_x) * sum_x) / nn AS intercept
       |FROM b
       |ORDER BY l_returnflag""".stripMargin
  }

  /** A8: segment counting over the segmentation output
    * (airflow_etl_utils.py:250-258). */
  def segmentCounts(spark: SparkSession, dir: String): DataFrame =
    customerSegments(spark, dir)
      .groupBy("segment")
      .agg(count(lit(1)).as("customers"))
      .orderBy("segment")

  /** A5: frequency counts (pandas value_counts ≙ groupBy().count()). */
  def mktsegmentValueCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** A6: global scalar summaries — one row of cross-entity stats, built from
    * two single-row aggregates (no double-summing of already-rounded values;
    * everything recomputed from the exact decimal source).
    * (reference: python/batch_processor.py:195-234) */
  def batchSummary(spark: SparkSession, dir: String): DataFrame = {
    val custAgg = Tables.customer(spark, dir)
      .agg(count(lit(1)).as("total_customers"))
    val ordAgg = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("total_orders"),
        moneySum(col("o_totalprice")).as("total_revenue"))
    custAgg.crossJoin(ordAgg)
      .withColumn("avg_order_value",
        col("total_revenue") /
          greatest(col("total_orders"), lit(1L)).cast("double"))
      .withColumn("avg_customer_value",
        col("total_revenue") /
          greatest(col("total_customers"), lit(1L)).cast("double"))
      .select("total_customers", "total_orders", "total_revenue",
        "avg_order_value", "avg_customer_value")
  }

  // ===========================================================================
  // P9 — bitwise region mask + popcount
  // (reference: airflow/dags/cdc_etl_orchestration.py:258-281)
  // ===========================================================================

  /** Per market segment: OR-accumulated region bitmask over the customers'
    * nations' regions, plus popcount. nation/region are tiny dims →
    * broadcast joins; the agg is a partial+final bit_or (associative). */
  def geoRegionMask(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(c("c_mktsegment"))
      .agg(
        expr("bit_or(cast(shiftleft(1, n_regionkey) as bigint))")
          .as("region_mask"),
        count(lit(1)).as("customers"))
      .withColumn("region_count",
        expr("cast(bit_count(region_mask) as int)"))
      .select("c_mktsegment", "region_mask", "region_count", "customers")
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q5-shaped regional revenue — the one query that exercises the
    * WHOLE star: lineitem ⋈ orders ⋈ customer with the signature
    * LOCAL-SUPPLIER condition (the supplying nation equals the buying
    * customer's nation — revenue kept in-region), rolled up through
    * nation → region. Revenue rides the decimal-exact money sum.
    *
    * Scale shape: the two fact-sized joins (lineitem⋈orders on
    * orderkey, then ⋈customer on custkey) are the only shuffles;
    * supplier/nation/region are classic broadcast dims. The
    * local-supplier predicate is applied IN the supplier join condition
    * so non-local rows die before the aggregate. */
  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name"), n("n_name"))
      .agg(
        sum(l("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            l("l_discount").cast("decimal(18,2)"))).cast("double")
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** DuckDB oracle for [[regionalRevenue]]. */
  private[graft] def regionalRevenueOracleSql: String =
    """SELECT r.r_name, n.n_name,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
      |    AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  AND c.c_nationkey = s.s_nationkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ===========================================================================
  // O1/O2 — ordering / top-k
  // ===========================================================================

  /** O1: top-k by revenue with a deterministic tiebreak. ORDER BY + LIMIT
    * compiles to TakeOrderedAndProject — per-partition top-k then a k-row
    * merge on the driver; no full sort, no full shuffle, scale-safe. */
  def topPartsByRevenue(spark: SparkSession, dir: String): DataFrame =
    productRollupCached(spark, dir)
      .orderBy(desc("revenue"), col("p_partkey"))
      .limit(10)
      .select("p_partkey", "p_name", "revenue", "units_sold", "order_count")

  /** O2: ORDER BY RANDOM() LIMIT 1 (data_generator.py:157,166). rand() is
    * seeded per-partition, so it would pick a different row at 4 cores vs
    * 32; instead we order by a value-derived md5 — a deterministic
    * pseudo-random total order at any parallelism that BOTH engines
    * compute identically (murmur3 would be Spark-only and forfeit the
    * oracle). Still TakeOrderedAndProject: per-partition top-1, k-row
    * driver merge, no full sort. */
  def randomOrderPick(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      .limit(1)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  // ===========================================================================
  // P2/P3 — date-range scoped extracts (incremental-batch surface)
  // (reference: python/batch_processor.py:38,67-68,94,244-246)
  // ===========================================================================

  /** Orders scoped to the trailing `days`-day window ending at the dataset's
    * max order date (P2). The reference bounds every extract to [now−24h,
    * now] (batch_processor.py:244-246); the anchor is data-derived here so
    * results are reproducible (SURVEY §7.3).
    *
    * Two-phase: the 1-row max is collected to a LITERAL first (a driver
    * collect of one scalar is the right tool here), because a filter
    * comparing against a column produced by a crossJoin(broadcast(agg))
    * can never be pushed below the join — it would be a full scan + post-
    * join filter. Against the literal, Catalyst constant-folds the
    * interval arithmetic and pushes a plain `o_orderdate >= <literal>`
    * comparison into the parquet scan (visible as PushedFilters) — at
    * 100 TB with date-partitioned storage this is THE partition-pruning
    * predicate. */
  private def scopedOrders(spark: SparkSession, dir: String,
                           days: Int): DataFrame = {
    val o = Tables.orders(spark, dir)
    val anchor = o.agg(max(col("o_orderdate"))).head().get(0)
    o.filter(col("o_orderdate") >=
      lit(anchor) - expr(s"INTERVAL $days DAYS"))
  }

  /** A1 rollup over the scoped window (P2): customers ⟕ last-30-day orders.
    * All customers are preserved (zero-filled) — the scope applies to the
    * fact side only, matching the reference's extract shape
    * (batch_processor.py:30-40). */
  def customerRollupWindowed(spark: SparkSession, dir: String): DataFrame =
    customerRollupOf(Tables.customer(spark, dir), scopedOrders(spark, dir, 30))
      .orderBy("c_custkey")

  /** A2 rollup with the disjunctive post-join predicate (P3): keep rows
    * where l_shipdate OR o_orderdate falls in the trailing 90-day window
    * (batch_processor.py:67-68 applies `p.created_at ∈ range OR o.order_date
    * ∈ range` after the joins). The OR over both join sides defeats scan
    * pushdown by design (reference semantics) and must stay post-join —
    * but the anchor is still resolved to a literal first, so the
    * predicate is a constant comparison (no crossJoin stage), and
    * Catalyst's constraint inference can prune what the OR allows. */
  def productRollupWindowed(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val since = lit(l.agg(max(col("l_shipdate"))).head().get(0)) -
      expr("INTERVAL 90 DAYS")
    // The disjunctive filter references only fact columns, so in the
    // reference's post-join form a part with no QUALIFYING fact row never
    // forms a group — hence the inner join back to `part` (not left):
    // both forms emit exactly the parts with ≥1 surviving row.
    val la = partSales(l, o,
      col("l_shipdate") >= since || col("o_orderdate") >= since)
    p.join(la, p("p_partkey") === la("l_partkey"))
      .select(p("p_partkey"), p("p_name"), p("p_brand"),
        col("units_sold"), col("revenue"), col("order_count"))
      .orderBy("p_partkey")
  }

  /** Multi-dimensional rollup over the document corpus: counts and char
    * totals at (source, lang), per-source subtotal, and grand-total
    * grain in ONE pass — Spark's `rollup` compiles to a single
    * Expand+aggregate (each input row contributes to every grain), so
    * the three grouping levels cost one shuffle, not three scans.
    * `grouping_id` disambiguates a subtotal row from a genuine null
    * group value, and rides the output because DuckDB's ROLLUP emits
    * the same ids — the standard OLAP cube surface. Null placement in
    * the output order is pinned explicitly on BOTH engines (Spark
    * defaults ASC NULLS FIRST, DuckDB NULLS LAST): a genuinely-null
    * group value at grain 0 must sort identically everywhere. */
  def corpusRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .rollup(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        grouping_id().as("grain"))
      .orderBy(col("grain").asc_nulls_first, col("source").asc_nulls_first,
        col("lang").asc_nulls_first)

  /** DuckDB oracle for [[corpusRollup]] (GROUPING returns the same
    * bit-packed id as Spark's grouping_id for the same column order;
    * NULLS FIRST pins null placement to match Spark's default). */
  private[graft] def corpusRollupOracleSql: String =
    s"""SELECT source, lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  GROUPING(source, lang) AS grain
       |FROM documents
       |GROUP BY ROLLUP (source, lang)
       |ORDER BY grain NULLS FIRST, source NULLS FIRST, lang NULLS FIRST""".stripMargin

  /** CUBE over (status, priority) — the remaining grouping-set shape
    * after [[corpusRollup]]'s ROLLUP: all four grains (detail, each
    * one-dimension margin, grand total) in ONE Expand+aggregate pass,
    * grouping_id-matched to DuckDB GROUPING, null placement pinned on
    * both sides. */
  def orderStatusCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_price"),
        grouping_id().as("grain"))
      .orderBy(col("grain").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** DuckDB oracle for [[orderStatusCube]]. */
  private[graft] def orderStatusCubeOracleSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price,
       |  GROUPING(o_orderstatus, o_orderpriority) AS grain
       |FROM orders
       |GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY grain NULLS FIRST, o_orderstatus NULLS FIRST,
       |  o_orderpriority NULLS FIRST""".stripMargin

  /** Native ROLLUP down the region→nation hierarchy — grand total,
    * per-region subtotals, and (region, nation) leaves with
    * `grouping_id` grain tags in ONE aggregate: the hierarchy-subtotal
    * operator that completes the grouping-sets surface next to
    * [[orderStatusCube]] (CUBE) and `time_rollup` (manual union).
    * Unlike the union form, ROLLUP's Expand feeds a single partial+
    * final aggregate — one corpus pass however deep the hierarchy.
    * Cents only; dims broadcast. */
  def regionalRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(r("r_name").as("r_name"), n("n_name").as("n_name"),
        round(o("o_totalprice") * 100).cast("long").as("cents"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("rev_c"),
        grouping_id().as("grain"))
      .orderBy(col("grain").asc_nulls_first,
        col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** DuckDB oracle for [[regionalRollup]]. */
  private[graft] def regionalRollupOracleSql: String =
    s"""SELECT r.r_name, n.n_name, count(*) AS n_orders,
       |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
       |    AS BIGINT) AS rev_c,
       |  GROUPING(r.r_name, n.n_name) AS grain
       |FROM orders o
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |GROUP BY ROLLUP (r.r_name, n.n_name)
       |ORDER BY grain NULLS FIRST, r.r_name NULLS FIRST,
       |  n.n_name NULLS FIRST""".stripMargin

  /** RANK-SEMANTICS audit — the three ranking functions' tie behavior
    * pinned as ONE integer row over a deliberately tie-heavy order
    * (l_quantity is a small-integer domain): how many rows survive
    * `rank() <= K` (ties inflate past K), `dense_rank() <= K` (every
    * row in the top K VALUE classes), and `row_number() <= K`
    * (exactly K), plus the distinct-value count inside the row_number
    * cut. The [[joinSemanticsAudit]] discipline applied to window
    * ranking — a planner or refactor that swaps one for another
    * breaks an exact count.
    *
    * Scale: no per-part ranking at all — all four counts are exact
    * functions of the DISTINCT-QTY grain (per tie class: its member
    * count, dense index, and cumulative member count in descending
    * order, from one [[GlobalRank.withRowNumberAndRunningSum]]
    * two-phase pass): rank ≤ K ⟺ rows-strictly-above < K,
    * dense_rank ≤ K ⟺ dense index ≤ K, and the row_number cut takes
    * min(cum, K) − rows-above members of each class. A naive
    * part-grain window would be `Exchange SinglePartition` over
    * part cardinality (data-scaled); this form never ranks below the
    * tie-class grain. */
  val RankAuditK = 10

  def rankSemanticsAudit(spark: SparkSession, dir: String): DataFrame = {
    val byQty = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
      .groupBy(col("qty"))
      .agg(count(lit(1)).as("cnt"))
    val k = lit(RankAuditK.toLong)
    GlobalRank.withRowNumberAndRunningSum(
        byQty, "grp", "cnt", "cum", Seq(col("qty").desc))
      .withColumn("above", col("cum") - col("cnt"))
      .agg(
        sum(when(col("above") < k, col("cnt")).otherwise(0L))
          .as("n_rank"),
        sum(when(col("grp") <= k, col("cnt")).otherwise(0L))
          .as("n_dense_rank"),
        sum(greatest(lit(0L), least(col("cum"), k) - col("above")))
          .as("n_row_number"),
        count(when(col("above") < k, true)).as("n_values_in_rn_cut"))
  }

  /** DuckDB oracle for [[rankSemanticsAudit]]. */
  private[graft] def rankSemanticsAuditOracleSql: String =
    s"""WITH pp AS (
       |  SELECT l_partkey,
       |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
       |  FROM lineitem GROUP BY 1),
       |r AS (
       |  SELECT qty,
       |    rank() OVER (ORDER BY qty DESC) AS rnk,
       |    dense_rank() OVER (ORDER BY qty DESC) AS drnk,
       |    row_number() OVER (ORDER BY qty DESC, l_partkey) AS rn
       |  FROM pp)
       |SELECT
       |  CAST(count(*) FILTER (WHERE rnk <= $RankAuditK) AS BIGINT)
       |    AS n_rank,
       |  CAST(count(*) FILTER (WHERE drnk <= $RankAuditK) AS BIGINT)
       |    AS n_dense_rank,
       |  CAST(count(*) FILTER (WHERE rn <= $RankAuditK) AS BIGINT)
       |    AS n_row_number,
       |  CAST(count(DISTINCT qty) FILTER (WHERE rn <= $RankAuditK)
       |    AS BIGINT) AS n_values_in_rn_cut
       |FROM r""".stripMargin

  /** Deciles used by [[decileRankAudit]] (shared with the oracle). */
  val DecileN = 10

  /** DISTRIBUTION-RANK audit — [[rankSemanticsAudit]]'s complement on
    * the VALUE-DISTRIBUTION window family: `ntile` (equal-count
    * banding, larger groups first per the SQL standard), and per band
    * the boundary `percent_rank` ((r−1)/(n−1)) and `cume_dist` (≤-peer
    * mass / n) — the three functions a reporting layer uses to place an
    * entity inside its peer distribution. Both ratios are one
    * int64→double division on identical operands, so they hash exactly
    * cross-engine with no quantization.
    *
    * Scale: `o_orderpriority` is a FIVE-value enum, so keyed windows
    * would push the whole order frame through five tasks — the
    * enum-keyed sibling of the SinglePartition hazard (an earlier
    * revision of this scaladoc claimed the key "keeps state bounded
    * per task", which is false: five groups means fact/5 per task).
    * Instead ONE [[GlobalRank.withGroupedRowNumber]] two-phase pass
    * over the compound (priority, cents DESC, orderkey) order yields
    * the per-priority row number, and all three functions fall out
    * arithmetically: the order is TIE-FREE (orderkey is unique), so
    * rank = row_number, `percent_rank = (rn−1)/(n−1)`,
    * `cume_dist = rn/n`, and ntile comes from the same closed bucket
    * formula [[GlobalRank.withNtile]] proves against Spark's ntile —
    * with n a 5-row broadcast count. Read-out is band grain
    * (priorities × [[DecileN]] rows). */
  def decileRankAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val counts = o.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    GlobalRank.withGroupedRowNumber(o, "rn", Seq(col("o_orderpriority")),
        Seq(col("cents").desc, col("o_orderkey")))
      .join(broadcast(counts), Seq("o_orderpriority"))
      .withColumn("q", expr(s"n div $DecileN"))
      .withColumn("r", expr(s"n % $DecileN"))
      .withColumn("cut", expr("r * (q + 1)"))
      .withColumn("decile", expr(
        "CAST(CASE WHEN rn <= cut THEN (rn - 1) div (q + 1) + 1 " +
        "ELSE r + (rn - cut - 1) div greatest(q, 1L) + 1 END AS INT)"))
      .withColumn("pr", expr(
        "CASE WHEN n = 1 THEN CAST(0 AS DOUBLE) " +
        "ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END"))
      .withColumn("cd", expr("CAST(rn AS DOUBLE) / CAST(n AS DOUBLE)"))
      .groupBy("o_orderpriority", "decile")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("band_cents"),
        min(col("pr")).as("pr_lo"),
        max(col("cd")).as("cd_hi"))
      .orderBy("o_orderpriority", "decile")
  }

  /** DuckDB oracle for [[decileRankAudit]] — identical window family
    * over the identical unique order key. */
  private[graft] def decileRankAuditOracleSql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority, o_orderkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |r AS (
       |  SELECT o_orderpriority, cents,
       |    ntile($DecileN) OVER w AS decile,
       |    percent_rank() OVER w AS pr,
       |    cume_dist() OVER w AS cd
       |  FROM o
       |  WINDOW w AS (PARTITION BY o_orderpriority
       |    ORDER BY cents DESC, o_orderkey))
       |SELECT o_orderpriority, CAST(decile AS INT) AS decile,
       |  count(*) AS n_orders,
       |  CAST(sum(cents) AS BIGINT) AS band_cents,
       |  min(pr) AS pr_lo,
       |  max(cd) AS cd_hi
       |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** CHI-SQUARE independence screen — market segment × order priority
    * as a contingency table with EXACT integer cell statistics: the
    * categorical counterpart of [[mannKendallTrend]] (ordinal trend)
    * and `length_quality_spearman` (rank correlation), completing the
    * distribution-test toolkit. Per cell: observed count, expected
    * count in micro units (row·col·10⁶ ÷ N), and the χ² contribution
    * in micro units via the cross-multiplied closed form
    * (o·N − row·col)²·10⁶ ÷ (N·row·col) — algebraically (o−e)²/e with
    * every division deferred to ONE exact floor div. The squared
    * numerator tops int64 immediately, so the whole form runs in
    * DECIMAL(38,0)/HUGEINT (the standing headroom rule). Consumers
    * sum contrib_micro (exact integers — order-free) and compare to
    * the χ² critical value for (r−1)(c−1) dof.
    *
    * Scale: one fact-side key shuffle (orders⋈customer), one cell-
    * grain partial+final aggregate; margins re-aggregate the ≤ r·c
    * cell frame. */
  def segmentPriorityChi2(spark: SparkSession, dir: String): DataFrame =
    segmentPriorityChi2Of(Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority")))

  /** [[segmentPriorityChi2]]'s math core over an injectable
    * (segment, priority) pair frame — property-tested against a
    * plain-Scala BigInt reference in StatPropertiesSpec. */
  private[graft] def segmentPriorityChi2Of(pairs: DataFrame): DataFrame = {
    val cells = pairs
      .groupBy(col("segment"), col("priority"))
      .agg(count(lit(1)).as("observed"))
      .localCheckpoint()
    val rowTot = cells.groupBy("segment")
      .agg(sum(col("observed")).as("row_tot"))
    val colTot = cells.groupBy("priority")
      .agg(sum(col("observed")).as("col_tot"))
    val grand = cells.agg(sum(col("observed")).as("n_total"))
    cells
      .join(broadcast(rowTot), Seq("segment"))
      .join(broadcast(colTot), Seq("priority"))
      .crossJoin(broadcast(grand))
      .withColumn("expected_micro",
        expr("(CAST(row_tot AS DECIMAL(38,0)) * col_tot * 1000000) div " +
          "CAST(n_total AS DECIMAL(38,0))"))
      .withColumn("contrib_micro",
        expr("((CAST(observed AS DECIMAL(38,0)) * n_total - " +
          "CAST(row_tot AS DECIMAL(38,0)) * col_tot) * " +
          "(CAST(observed AS DECIMAL(38,0)) * n_total - " +
          "CAST(row_tot AS DECIMAL(38,0)) * col_tot) * 1000000) div " +
          "(CAST(n_total AS DECIMAL(38,0)) * row_tot * col_tot)"))
      .select("segment", "priority", "observed", "row_tot", "col_tot",
        "n_total", "expected_micro", "contrib_micro")
      .orderBy("segment", "priority")
  }

  /** DuckDB oracle for [[segmentPriorityChi2]]. */
  private[graft] def segmentPriorityChi2OracleSql: String =
    s"""WITH cells AS (
       |  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
       |    CAST(count(*) AS BIGINT) AS observed
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       |rt AS (
       |  SELECT segment, CAST(sum(observed) AS BIGINT) AS row_tot
       |  FROM cells GROUP BY 1),
       |ct AS (
       |  SELECT priority, CAST(sum(observed) AS BIGINT) AS col_tot
       |  FROM cells GROUP BY 1),
       |g AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM cells)
       |SELECT cells.segment, cells.priority, cells.observed,
       |  rt.row_tot, ct.col_tot, g.n_total,
       |  CAST((CAST(rt.row_tot AS HUGEINT) * ct.col_tot * 1000000) //
       |    CAST(g.n_total AS HUGEINT) AS BIGINT) AS expected_micro,
       |  CAST(((CAST(cells.observed AS HUGEINT) * g.n_total -
       |    CAST(rt.row_tot AS HUGEINT) * ct.col_tot) *
       |    (CAST(cells.observed AS HUGEINT) * g.n_total -
       |    CAST(rt.row_tot AS HUGEINT) * ct.col_tot) * 1000000) //
       |    (CAST(g.n_total AS HUGEINT) * rt.row_tot * ct.col_tot)
       |    AS BIGINT) AS contrib_micro
       |FROM cells
       |JOIN rt ON cells.segment = rt.segment
       |JOIN ct ON cells.priority = ct.priority
       |CROSS JOIN g
       |ORDER BY 1, 2""".stripMargin

  /** CRAMÉR'S V effect size for the [[segmentPriorityChi2]] screen —
    * the number the chi-square is missing: χ² grows with n, V² =
    * χ²/(n·min(r−1, c−1)) is the scale-free association strength
    * (0 = independent, 1 = deterministic), so a drift monitor can
    * alarm on effect size rather than sample size. Emitted as V² in
    * micro units (the square root is the one step that has no exact
    * integer form, and monotone transforms don't change thresholds) —
    * every input is the chi2 query's own exact integer cells, totaled
    * here; the only new division is one DECIMAL(38) floor div.
    *
    * Scale: rides [[segmentPriorityChi2Of]] (cells localCheckpointed
    * at (segment, priority) grain), then aggregates the tiny cell
    * frame to one row — nothing new touches the fact. */
  def cramersV(spark: SparkSession, dir: String): DataFrame =
    cramersVOf(segmentPriorityChi2(spark, dir))

  /** [[cramersV]]'s aggregate over an injectable chi2 cell frame
    * (the [[segmentPriorityChi2Of]] output shape) — property-tested
    * in StatPropertiesSpec. */
  private[graft] def cramersVOf(cells: DataFrame): DataFrame =
    cells
      .agg(
        sum(col("contrib_micro")).as("chi2_micro"),
        max(col("n_total")).as("n_total"),
        countDistinct(col("segment")).as("n_rows"),
        countDistinct(col("priority")).as("n_cols"))
      .withColumn("dof",
        expr("(n_rows - 1) * (n_cols - 1)"))
      .withColumn("v2_micro",
        // nullif: a degenerate 1×N table has min dof 0 — V is
        // undefined there, and ANSI mode would throw on the div.
        expr("CAST(chi2_micro AS DECIMAL(38,0)) div nullif(" +
          "CAST(n_total * least(n_rows - 1, n_cols - 1) AS DECIMAL(38,0))" +
          ", CAST(0 AS DECIMAL(38,0)))"))

  /** DuckDB oracle for [[cramersV]] — wraps the chi2 oracle verbatim,
    * so the two queries can never drift apart. */
  private[graft] def cramersVOracleSql: String =
    s"""SELECT CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro,
       |  max(n_total) AS n_total,
       |  count(DISTINCT segment) AS n_rows,
       |  count(DISTINCT priority) AS n_cols,
       |  (count(DISTINCT segment) - 1) * (count(DISTINCT priority) - 1)
       |    AS dof,
       |  CAST(CAST(sum(contrib_micro) AS HUGEINT) //
       |    nullif(CAST(max(n_total) * least(count(DISTINCT segment) - 1,
       |      count(DISTINCT priority) - 1) AS HUGEINT), 0) AS BIGINT)
       |    AS v2_micro
       |FROM ($segmentPriorityChi2OracleSql)""".stripMargin

  /** TPC-H Q14 adaptation — monthly promo revenue share. Line revenue
    * `l_extendedprice·(1−l_discount)` has exactly four decimal digits,
    * so `round(rev·10⁴)` is an EXACT integer (the cents convention,
    * one digit-pair wider); both engines evaluate the identical IEEE
    * double chain, so the rounding is bit-identical. The share is the
    * standing non-negative floor-div mille over DECIMAL(38,0)/HUGEINT
    * (monthly e4 sums already brush int64² territory at high SF).
    *
    * Scale: part is the broadcast dim (never shuffles the fact); one
    * partial+final aggregate at month grain — the conditional promo
    * sum folds into the same pass, no second scan. */
  def promoShareQ14(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .select(
        date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"),
        expr("CAST(round(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)" +
          " * 10000) AS BIGINT)").as("rev_e4"),
        (col("p_type") === lit("PROMO")).as("is_promo"))
      .groupBy("ship_month")
      .agg(
        sum(when(col("is_promo"), col("rev_e4")).otherwise(0L))
          .as("promo_rev_e4"),
        sum(col("rev_e4")).as("total_rev_e4"),
        count(lit(1)).as("n_lines"))
      .withColumn("promo_mille",
        expr("(CAST(promo_rev_e4 AS DECIMAL(38,0)) * 1000) div " +
          "CAST(total_rev_e4 AS DECIMAL(38,0))"))
      .orderBy("ship_month")

  /** DuckDB oracle for [[promoShareQ14]] — identical IEEE rev_e4 chain,
    * HUGEINT share. */
  private[graft] def promoShareQ14OracleSql: String =
    s"""WITH l AS (
       |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
       |    CAST(round(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
       |      * 10000) AS BIGINT) AS rev_e4,
       |    p_type = 'PROMO' AS is_promo
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |g AS (
       |  SELECT ship_month,
       |    CAST(sum(CASE WHEN is_promo THEN rev_e4 ELSE 0 END) AS BIGINT)
       |      AS promo_rev_e4,
       |    CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
       |    count(*) AS n_lines
       |  FROM l GROUP BY 1)
       |SELECT ship_month, promo_rev_e4, total_rev_e4, n_lines,
       |  CAST((CAST(promo_rev_e4 AS HUGEINT) * 1000) //
       |    CAST(total_rev_e4 AS HUGEINT) AS BIGINT) AS promo_mille
       |FROM g ORDER BY 1""".stripMargin

  /** SET-OPERATION semantics audit — INTERSECT / EXCEPT / UNION
    * DISTINCT pinned as five labeled counts over the 1996 vs 1997
    * active-customer key sets (the [[joinSemanticsAudit]] /
    * [[rankSemanticsAudit]] discipline applied to the relational set
    * operators, which no other query exercises). The spec asserts
    * inclusion–exclusion (|A∪B| = |A|+|B|−|A∩B|) and the EXCEPT
    * complement (|A∖B| = |A|−|A∩B|) over the emitted rows.
    *
    * Scale: each leg is one distinct-aggregate on the pre-filtered key
    * column; Spark plans INTERSECT/EXCEPT as left-semi/left-anti hash
    * joins on already-distinct inputs — key-partitioned, no row
    * explosion, same shape at any SF. */
  def setOpsAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // Dedup each year's key set ONCE and cut lineage: the five legs
    // below would otherwise each re-run the scan+filter+distinct
    // shuffle (the sourceDivergence multi-branch hazard). Set ops are
    // DISTINCT-semantics anyway, so pre-distinct inputs change nothing;
    // the checkpointed frames are active-customer-key-sized.
    def keys(yr: Int) = o
      .filter(expr(s"year(o_orderdate) = $yr"))
      .select(col("o_custkey"))
      .distinct()
      .localCheckpoint()
    val a = keys(1996)
    val b = keys(1997)
    def tag(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_keys"))
        .select(lit(name).as("set_op"), col("n_keys"))
    tag("a_1996", a)
      .unionByName(tag("b_1997", b))
      .unionByName(tag("intersect", a.intersect(b)))
      .unionByName(tag("except_a_minus_b", a.except(b)))
      .unionByName(tag("union_distinct", a.union(b).distinct()))
      .orderBy("set_op")
  }

  /** DuckDB oracle for [[setOpsAudit]] — the same five set legs (both
    * engines implement SQL DISTINCT set semantics). */
  private[graft] def setOpsAuditOracleSql: String =
    s"""WITH a AS (
       |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
       |b AS (
       |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
       |SELECT 'a_1996' AS set_op,
       |  count(*) AS n_keys FROM (SELECT DISTINCT o_custkey FROM a)
       |UNION ALL SELECT 'b_1997',
       |  count(*) FROM (SELECT DISTINCT o_custkey FROM b)
       |UNION ALL SELECT 'intersect',
       |  count(*) FROM (SELECT o_custkey FROM a INTERSECT
       |    SELECT o_custkey FROM b)
       |UNION ALL SELECT 'except_a_minus_b',
       |  count(*) FROM (SELECT o_custkey FROM a EXCEPT
       |    SELECT o_custkey FROM b)
       |UNION ALL SELECT 'union_distinct',
       |  count(*) FROM (SELECT o_custkey FROM a UNION
       |    SELECT o_custkey FROM b)
       |ORDER BY set_op""".stripMargin

  /** Custom GROUPING SETS — the margins-only shape ((status),
    * (priority)) that neither [[orderStatusCube]] (CUBE) nor
    * [[regionalRollup]] (ROLLUP) can express, via the native Spark 4
    * `Dataset.groupingSets` API: both one-dimension margins in ONE
    * Expand+aggregate corpus pass, no detail grain, no grand total,
    * grouping_id-matched to DuckDB GROUPING. Completes the
    * grouping-sets surface: CUBE, ROLLUP, manual union
    * (`time_rollup`), and now arbitrary set lists. */
  def marginsGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("rev_c"),
        grouping_id().as("grain"))
      .orderBy(col("grain").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** DuckDB oracle for [[marginsGroupingSets]]. */
  private[graft] def marginsGroupingSetsOracleSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |    AS rev_c,
       |  GROUPING(o_orderstatus, o_orderpriority) AS grain
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
       |ORDER BY grain NULLS FIRST, o_orderstatus NULLS FIRST,
       |  o_orderpriority NULLS FIRST""".stripMargin

  /** WIDE→LONG unpivot — per-segment metrics melted to (segment,
    * metric, value) rows via the `stack` generator, the missing
    * inverse of the pivot surface ([[segment_pivot]] / `lang_pivot`).
    * All three metrics share one BIGINT domain (counts + exact cents)
    * so the long `value` column stays hash-exact; negative account
    * balances are fine (no division anywhere).
    *
    * Scale: one aggregate at segment grain (tiny), then a 3× row
    * generator over the aggregate — the explode happens AFTER the
    * reduction, never on the fact. */
  def segmentMetricsUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_c"),
        max(round(col("c_acctbal") * 100).cast("long")).as("max_acctbal_c"))
      .selectExpr("segment",
        "stack(3, 'acctbal_cents', acctbal_c, " +
          "'max_acctbal_cents', max_acctbal_c, " +
          "'n_customers', n_customers) AS (metric, value)")
      .orderBy("segment", "metric")

  /** DuckDB oracle for [[segmentMetricsUnpivot]] — UNION ALL melt of
    * the same wide aggregate. */
  private[graft] def segmentMetricsUnpivotOracleSql: String =
    s"""WITH w AS (
       |  SELECT c_mktsegment AS segment, count(*) AS n_customers,
       |    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
       |      AS acctbal_c,
       |    CAST(max(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
       |      AS max_acctbal_c
       |  FROM customer GROUP BY 1)
       |SELECT segment, 'acctbal_cents' AS metric, acctbal_c AS value FROM w
       |UNION ALL
       |SELECT segment, 'max_acctbal_cents', max_acctbal_c FROM w
       |UNION ALL
       |SELECT segment, 'n_customers', n_customers FROM w
       |ORDER BY segment, metric""".stripMargin

  /** DISCRETE-TIME SURVIVAL over customer reorder gaps — the
    * life-table every retention model starts from, in EXACT integers
    * (no censoring in a closed dataset, so the Kaplan–Meier estimator
    * degenerates to the empirical survival function — no FP product
    * chains). Per distinct gap length g (days between a customer's
    * consecutive orders): events n(g), risk set R(g) = Σ_{g'≥g} n(g'),
    * discrete hazard h(g) = n(g)/R(g) and survival S(g) = P(gap > g),
    * both as the standing non-negative floor-div mille.
    *
    * Scale: the lag window is key-partitioned on o_custkey (fact-size
    * but shuffle-aligned); everything after runs at distinct-gap grain
    * — a few-hundred-row frame, so the single-partition risk-set
    * window is the documented tiny-frame pattern ([[acfProfile]]),
    * never a fact-size sort. */
  def reorderHazard(spark: SparkSession, dir: String): DataFrame =
    reorderHazardOf(Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate")))

  /** [[reorderHazard]]'s life-table core over an injectable orders
    * frame (o_custkey, o_orderkey, o_orderdate) — property-tested
    * against a plain-Scala reference in StatPropertiesSpec. */
  private[graft] def reorderHazardOf(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("od"), col("o_orderkey"))
    val gaps = orders
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"))
      .withColumn("prev_od", lag(col("od"), 1).over(w))
      .filter(col("prev_od").isNotNull)
      .select(datediff(col("od"), col("prev_od")).as("gap_days"))
    val wRisk = Window.orderBy("gap_days")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    gaps.groupBy("gap_days")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("n_at_risk", sum(col("n_events")).over(wRisk))
      .withColumn("n_total", sum(col("n_events")).over(wAll))
      .withColumn("hazard_mille",
        expr("(n_events * 1000) div n_at_risk"))
      .withColumn("survival_mille",
        expr("((n_at_risk - n_events) * 1000) div n_total"))
      .orderBy("gap_days")
  }

  /** DuckDB oracle for [[reorderHazard]] — same (od, orderkey) lag
    * walk, same windowed risk set (HUGEINT window sums cast back). */
  private[graft] def reorderHazardOracleSql: String =
    s"""WITH o2 AS (
       |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od
       |  FROM orders),
       |g AS (
       |  SELECT CAST(date_diff('day',
       |    lag(od) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey),
       |    od) AS INTEGER) AS gap_days
       |  FROM o2),
       |e AS (
       |  SELECT gap_days, count(*) AS n_events
       |  FROM g WHERE gap_days IS NOT NULL GROUP BY 1),
       |r AS (
       |  SELECT gap_days, n_events,
       |    CAST(sum(n_events) OVER (ORDER BY gap_days
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
       |      AS n_at_risk,
       |    CAST(sum(n_events) OVER () AS BIGINT) AS n_total
       |  FROM e)
       |SELECT gap_days, n_events, n_at_risk, n_total,
       |  (n_events * 1000) // n_at_risk AS hazard_mille,
       |  ((n_at_risk - n_events) * 1000) // n_total AS survival_mille
       |FROM r ORDER BY gap_days""".stripMargin

  /** COLUMN PROFILER — the per-column census (row/null/exact-distinct
    * counts, typed min/max rendered as strings) a dataset gets before
    * anyone trusts it; the statistical complement of [[dqReport]]'s
    * pass/fail integrity checks. min/max are computed on the TYPED
    * value and cast to string only for the unified output column
    * (string min would be lexicographic — wrong for numerics); the
    * double price column is profiled as exact cents since a raw
    * double→string rendering is not portable across engines.
    *
    * Scale: one column-pruned scan per profiled column (each UNION leg
    * reads ONLY its column's parquet pages) — deliberately NOT the
    * single-pass multi-countDistinct form, whose Expand would
    * replicate the whole fact ×columns through the shuffle. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def prof(name: String, c: Column): DataFrame =
      o.select(c.as("v"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).cast("string").as("min_s"),
          max(col("v")).cast("string").as("max_s"))
        .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    prof("o_custkey", col("o_custkey"))
      .unionByName(prof("o_orderdate", to_date(col("o_orderdate"))))
      .unionByName(prof("o_orderkey", col("o_orderkey")))
      .unionByName(prof("o_orderpriority", col("o_orderpriority")))
      .unionByName(prof("o_orderstatus", col("o_orderstatus")))
      .unionByName(prof("o_totalprice_cents",
        round(col("o_totalprice") * 100).cast("long")))
      .orderBy("col_name")
  }

  /** DuckDB oracle for [[columnProfile]] — same typed min/max then
    * VARCHAR render, same exact distincts. */
  private[graft] def columnProfileOracleSql: String = {
    def leg(name: String, v: String): String =
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  count(DISTINCT $v) AS n_distinct,
         |  CAST(min($v) AS VARCHAR) AS min_s,
         |  CAST(max($v) AS VARCHAR) AS max_s
         |FROM orders""".stripMargin
    Seq(
      leg("o_custkey", "o_custkey"),
      leg("o_orderdate", "CAST(o_orderdate AS DATE)"),
      leg("o_orderkey", "o_orderkey"),
      leg("o_orderpriority", "o_orderpriority"),
      leg("o_orderstatus", "o_orderstatus"),
      leg("o_totalprice_cents", "CAST(round(o_totalprice * 100) AS BIGINT)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Late-fulfilment grace period for [[lateFulfilmentQ4]] (shared
    * with the oracle). */
  val LateFulfilmentGraceDays = 90

  /** TPC-H Q4 adaptation — per-priority count of orders with AT LEAST
    * ONE late line (shipped more than [[LateFulfilmentGraceDays]] days
    * after the order date; the generator has no commit/receipt dates,
    * SURVEY §2.3). The EXISTS shape matters: an inner-join count would
    * double-count multi-late-line orders, so the probe is a LEFT SEMI
    * join — each order contributes at most once however many lines are
    * late. Share is the standing floor-div mille.
    *
    * Scale: the semi join shuffles both sides on the order key (no
    * broadcast — lineitem and orders are both facts) and short-circuits
    * per key; totals come from a separate orders-only aggregate and the
    * two priority-grain frames merge with a broadcast join. */
  def lateFulfilmentQ4(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od"))
    val lateLines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
    val lateOrders = o.join(lateLines,
      o("o_orderkey") === lateLines("l_orderkey") &&
        lateLines("sd") > date_add(o("od"), LateFulfilmentGraceDays),
      "left_semi")
    val totals = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    lateOrders.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .join(broadcast(totals), "o_orderpriority")
      .select(col("o_orderpriority"), col("n_orders"),
        col("n_late_orders"),
        expr("(n_late_orders * 1000) div n_orders").as("late_mille"))
      .orderBy("o_orderpriority")
  }

  /** DuckDB oracle for [[lateFulfilmentQ4]] — correlated EXISTS, same
    * grace arithmetic. */
  private[graft] def lateFulfilmentQ4OracleSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CAST(o_orderdate AS DATE) AS od
       |  FROM orders),
       |lt AS (
       |  SELECT o_orderpriority, count(*) AS n_late_orders
       |  FROM o
       |  WHERE EXISTS (
       |    SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND CAST(l.l_shipdate AS DATE) >
       |        o.od + INTERVAL $LateFulfilmentGraceDays DAY)
       |  GROUP BY 1),
       |t AS (
       |  SELECT o_orderpriority, count(*) AS n_orders FROM o GROUP BY 1)
       |SELECT t.o_orderpriority, t.n_orders, lt.n_late_orders,
       |  (lt.n_late_orders * 1000) // t.n_orders AS late_mille
       |FROM lt JOIN t USING (o_orderpriority)
       |ORDER BY o_orderpriority""".stripMargin

  /** WINDOW-FRAME semantics audit — ROWS vs RANGE cumulative frames
    * pinned against each other on a deliberately tie-heavy ordering
    * (order DATE within priority): a RANGE frame includes ALL peers of
    * the current row's sort key, a ROWS frame cuts mid-peer-group, and
    * the difference (`peer_mass_c` = Σ cum_range − cum_rows, exact
    * cents) is precisely the mass of same-day orders that sit AFTER
    * each row in the tiebroken physical order. The
    * [[rankSemanticsAudit]] discipline applied to frame specification
    * — the classic silent bug when a running total "randomly" differs
    * between engines is exactly this ROWS/RANGE confusion. The ROWS
    * leg is tiebroken on o_orderkey so both engines walk the identical
    * physical order (the peer-position sum is NOT permutation
    * invariant).
    *
    * Scale: `o_orderpriority` is a FIVE-value enum, so the keyed
    * cumulative windows would serialize the order frame through five
    * tasks; instead ONE [[GlobalRank.withGroupedRowNumberAndRunningSum]]
    * two-phase pass over the compound (priority, date, orderkey) order
    * carries the ROWS cumsum at full parallelism, and the RANGE leg
    * falls out WITHOUT a second sort: a RANGE cumulative frame equals
    * the ROWS cumsum of the LAST row in the current peer group, i.e.
    * `max_by(cum_rows, rn)` per (priority, day) — a date-grain
    * aggregate (≤ 5·|calendar| rows, horizon-bounded, broadcast back).
    * `n_peers` rides the same peer-grain aggregate. The audit then
    * re-aggregates to priority grain. DOMAIN BOUND: `rows_cum_total_c`
    * sums running totals, so it grows ~n²·avg_cents per priority —
    * int64-safe to ~10⁸ rows per priority; this is a SEMANTICS AUDIT
    * to run on a bounded slice (as here), not a production rollup to
    * point at an unbounded fact. */
  def windowFrameAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val ranked = GlobalRank.withGroupedRowNumberAndRunningSum(base,
      "rn", "cents", "cum_rows", Seq(col("o_orderpriority")),
      Seq(col("od"), col("o_orderkey")))
    val peers = ranked.groupBy("o_orderpriority", "od")
      .agg(max_by(col("cum_rows"), col("rn")).as("cum_range"),
        count(lit(1)).as("n_peers"))
    ranked
      .join(broadcast(peers), Seq("o_orderpriority", "od"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("n_peers") > 1, 1L).otherwise(0L)).as("n_tied_rows"),
        sum(col("cum_rows")).as("rows_cum_total_c"),
        sum(col("cum_range")).as("range_cum_total_c"),
        sum(col("cum_range") - col("cum_rows")).as("peer_mass_c"),
        max(col("cum_range") - col("cum_rows")).as("max_peer_gap_c"))
      .orderBy("o_orderpriority")
  }

  /** DuckDB oracle for [[windowFrameAudit]] — identical frames,
    * identical tiebreak, HUGEINT sums cast back. */
  private[graft] def windowFrameAuditOracleSql: String =
    s"""WITH b AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CAST(o_orderdate AS DATE) AS od,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |w AS (
       |  SELECT o_orderpriority,
       |    CAST(sum(cents) OVER (PARTITION BY o_orderpriority
       |      ORDER BY od, o_orderkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_rows,
       |    CAST(sum(cents) OVER (PARTITION BY o_orderpriority
       |      ORDER BY od
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_range,
       |    count(*) OVER (PARTITION BY o_orderpriority, od) AS n_peers
       |  FROM b)
       |SELECT o_orderpriority, count(*) AS n_orders,
       |  CAST(sum(CASE WHEN n_peers > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tied_rows,
       |  CAST(sum(cum_rows) AS BIGINT) AS rows_cum_total_c,
       |  CAST(sum(cum_range) AS BIGINT) AS range_cum_total_c,
       |  CAST(sum(cum_range - cum_rows) AS BIGINT) AS peer_mass_c,
       |  CAST(max(cum_range - cum_rows) AS BIGINT) AS max_peer_gap_c
       |FROM w
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Histogram bin width for [[priceHistogram]] (shared with the
    * oracle). */
  val PriceBinWidth = 10000

  /** Equi-width order-value histogram — the distribution profile every
    * analytics surface ships: one row per non-empty
    * [[PriceBinWidth]]-wide bin with count and exact decimal bounds.
    * The bin id is integer arithmetic on the decimal price (no
    * data-dependent anchors, no second pass); one hash aggregate on a
    * small key space. */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bin",
        floor(col("o_totalprice").cast("decimal(18,2)") / PriceBinWidth)
          .cast("int"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("min_price"),
        max(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("max_price"))
      .withColumn("bin_lo", (col("bin") * PriceBinWidth).cast("long"))
      .select("bin", "bin_lo", "n_orders", "min_price", "max_price")
      .orderBy("bin")

  /** DuckDB oracle for [[priceHistogram]]. */
  private[graft] def priceHistogramOracleSql: String =
    s"""SELECT
       |  CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / $PriceBinWidth)
       |    AS INT) AS bin,
       |  CAST(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / $PriceBinWidth)
       |    AS INT) * $PriceBinWidth AS BIGINT) AS bin_lo,
       |  count(*) AS n_orders,
       |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS min_price,
       |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS max_price
       |FROM orders
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** RFM quintile scoring — the classic customer-value segmentation:
    * per customer (with orders), recency (days since their last order,
    * against the corpus max date so the anchor is deterministic),
    * frequency (order count), monetary (exact decimal spend), each cut
    * into quintiles by `ntile(5)`, composed into the 3-digit RFM cell.
    * Every ntile ORDER BY carries the custkey tiebreak — quintile
    * boundaries on tied values are otherwise engine-dependent. Recency
    * orders DESC (most recent last ⇒ highest score), frequency and
    * monetary ASC (biggest last ⇒ highest score).
    *
    * Scale shape: one orders aggregate to customer grain, then THREE
    * [[GlobalRank.withNtile]] two-phase passes chained over that frame
    * (one range exchange each, full parallelism) — customer cardinality
    * is data-scaled, so the naive form (three unpartitioned ntile
    * windows = three `Exchange SinglePartition`s, each holding every
    * customer in one task) is not acceptable; the two-phase ntile is
    * bit-identical to `ntile(5)` per the GlobalRankSpec proof. */
  def rfmScores(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val anchor = o.agg(max(to_date(col("o_orderdate"))).as("max_day"))
    val base = o
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("monetary"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("max_day"), col("last_day")).cast("long"))
    val r = GlobalRank.withNtile(base, "r_score", 5,
      Seq(col("recency_days").desc, col("custkey")))
    val rf = GlobalRank.withNtile(r, "f_score", 5,
      Seq(col("frequency"), col("custkey")))
    GlobalRank.withNtile(rf, "m_score", 5,
        Seq(col("monetary"), col("custkey")))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .select("custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "rfm_cell")
      .orderBy("custkey")
  }

  /** DuckDB oracle for [[rfmScores]] — same aggregate, same tie-broken
    * ntile cuts. */
  private[graft] def rfmScoresOracleSql: String =
    """WITH b AS (
      |  SELECT o_custkey AS custkey,
      |    max(CAST(o_orderdate AS DATE)) AS last_day,
      |    count(*) AS frequency,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS monetary
      |  FROM orders GROUP BY 1),
      |a AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_day FROM orders),
      |s AS (
      |  SELECT b.custkey,
      |    CAST(date_diff('day', b.last_day, a.max_day) AS BIGINT)
      |      AS recency_days,
      |    b.frequency, b.monetary,
      |    ntile(5) OVER (ORDER BY
      |      date_diff('day', b.last_day, a.max_day) DESC, b.custkey)
      |      AS r_score,
      |    ntile(5) OVER (ORDER BY b.frequency, b.custkey) AS f_score,
      |    ntile(5) OVER (ORDER BY b.monetary, b.custkey) AS m_score
      |  FROM b CROSS JOIN a)
      |SELECT custkey, recency_days, frequency, monetary,
      |  r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS rfm_cell
      |FROM s
      |ORDER BY custkey""".stripMargin

  /** Top co-purchased part pairs to keep (shared with the oracle). */
  val CopurchaseTopK = 50

  /** Market-basket co-occurrence — which parts sell together: distinct
    * part pairs within each order counted across orders, top
    * [[CopurchaseTopK]] by (count desc, pair). An order's distinct
    * parts are single digits, so the in-order pairs are a tiny
    * quadratic per order. Top-k is orderBy+limit ⇒
    * TakeOrderedAndProject, never a global sort. */
  def partCopurchase(spark: SparkSession, dir: String): DataFrame =
    basketPairCounts(spark, dir)
      .withColumnRenamed("n_ab", "n_orders")
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(CopurchaseTopK)

  /** The basket pair-count PLAN (part_a < part_b, n_ab = co-occurrence
    * basket count) — the shared front of [[partCopurchase]] and
    * [[basketRules]] (collect_set over raw lineitem dedups exactly like
    * the lp DISTINCT projection, so the two fronts were always the same
    * computation; this just writes it once). Deliberately a plain plan,
    * NOT a session memo: an A/B measured the memoized checkpoint
    * NET-NEGATIVE on the suite total (populate 3.7 s — cold-codegen +
    * 1.5M-row checkpoint materialization — vs ~1.8 s of steady-state
    * reuse savings across both consumers at sf0.1). At 100 TB the
    * co-occurrence matrix is a persisted artifact, but that is a
    * storage decision the suite prices elsewhere. */
  private def basketPairCounts(spark: SparkSession,
      dir: String): DataFrame =
    pairCountsFrom(orderBaskets(spark, dir))

  /** Per-order distinct sorted part sets — the shared basket grain of
    * [[basketPairCounts]] and [[basketRules]]' marginals, so the rules
    * query derives its item counts and basket total from this one
    * aggregate, not a second fact-wide DISTINCT. A plain plan for the
    * single-consumer path
    * ([[partCopurchase]]); [[basketRules]] checkpoints it per call for
    * its three consumers. */
  private def orderBaskets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))

  /** The in-basket part pairs + co-occurrence count over a basket
    * frame from [[orderBaskets]]: its distinct parts, paired per order. */
  private def pairCountsFrom(baskets: DataFrame): DataFrame =
    Candidates.pairs(baskets.select(col("l_orderkey"),
        explode(col("parts")).as("part")), Seq("l_orderkey"), "part")
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_ab"))

  /** Association rules emitted from [[partCopurchase]]'s pair counts —
    * the directional upgrade: for each ordered rule A→B with pair
    * support ≥ [[BasketRuleMinCount]] baskets, `support`, `confidence`
    * = n_AB/n_A and `lift` = n_AB·T / (n_A·n_B). Every metric is one
    * division of exact integer basket counts, so the doubles (and the
    * lift-ordered top-[[BasketRuleTopK]] cut, tie-broken on the rule
    * key) are bit-deterministic cross-engine.
    *
    * Scale: basket pairs come from the same per-order pairs as
    * [[partCopurchase]] (bounded by per-basket size², never item²);
    * the item marginals join is keyed on the item id, and the global
    * basket total rides a 1-row broadcast. */
  def basketRules(spark: SparkSession, dir: String): DataFrame = {
    // One fact pass, shared: marginals and the pair counts all derive
    // from ONE per-order basket aggregate. The item
    // marginal = explode of the per-order distinct part sets (exactly
    // the old fact-wide (orderkey, partkey) DISTINCT, already grouped);
    // the basket total = the basket row count. The basket frame is
    // localCheckpointed per call — three consumers read one
    // materialization instead of the fact paying two full
    // dedup/aggregate passes. (Still NOT a session memo: an A/B
    // measured the cross-call memo net-negative; this checkpoint lives
    // and dies inside one call.)
    val baskets = orderBaskets(spark, dir).localCheckpoint()
    val itemN = baskets
      .select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    val total = baskets.agg(count(lit(1)).as("t"))
    val und = pairCountsFrom(baskets)
      .filter(col("n_ab") >= BasketRuleMinCount)
    val directed = und.select("part_a", "part_b", "n_ab")
      .unionByName(und.select(col("part_b").as("part_a"),
        col("part_a").as("part_b"), col("n_ab")))
    directed
      .join(itemN.select(col("l_partkey").as("part_a"),
        col("n_item").as("n_a")), Seq("part_a"))
      .join(itemN.select(col("l_partkey").as("part_b"),
        col("n_item").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(total))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        (col("n_ab").cast("double") / col("t").cast("double"))
          .as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_ab") * col("t")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(desc("lift"), col("part_a"), col("part_b"))
      .limit(BasketRuleTopK)
  }

  /** Minimum shared-basket count for a rule (shared with the oracle). */
  val BasketRuleMinCount = 2

  /** Rules kept after the lift-ordered cut (shared with the oracle). */
  val BasketRuleTopK = 100

  /** DuckDB oracle for [[basketRules]]. */
  private[graft] def basketRulesOracleSql: String =
    s"""WITH lp AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |item AS (
       |  SELECT l_partkey, count(*) AS n_item FROM lp GROUP BY 1),
       |tot AS (SELECT count(DISTINCT l_orderkey) AS t FROM lp),
       |und AS (
       |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       |    count(*) AS n_ab
       |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
       |    AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $BasketRuleMinCount),
       |d AS (
       |  SELECT part_a, part_b, n_ab FROM und
       |  UNION ALL
       |  SELECT part_b, part_a, n_ab FROM und)
       |SELECT d.part_a, d.part_b, d.n_ab,
       |  ia.n_item AS n_a, ib.n_item AS n_b,
       |  CAST(d.n_ab AS DOUBLE) / CAST(tot.t AS DOUBLE) AS support,
       |  CAST(d.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE)
       |    AS confidence,
       |  CAST(d.n_ab * tot.t AS DOUBLE) /
       |    CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
       |FROM d
       |JOIN item ia ON ia.l_partkey = d.part_a
       |JOIN item ib ON ib.l_partkey = d.part_b
       |CROSS JOIN tot
       |ORDER BY lift DESC, d.part_a, d.part_b
       |LIMIT $BasketRuleTopK""".stripMargin

  /** DuckDB oracle for [[partCopurchase]]. */
  private[graft] def partCopurchaseOracleSql: String =
    s"""WITH lp AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pr AS (
       |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       |    count(*) AS n_orders
       |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
       |    AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2)
       |SELECT part_a, part_b, n_orders
       |FROM pr
       |ORDER BY n_orders DESC, part_a, part_b
       |LIMIT $CopurchaseTopK""".stripMargin

  /** Bits per dimension folded into the Z-value, AFTER range-normalizing
    * each dimension onto [0, 2^bits) — without the normalization a key
    * domain narrower than the bit width leaves the high interleaved
    * bits zero and collapses every row into the first Z-range. Shared
    * with the oracle. */
  val ZorderBits = 8

  /** log₂ of the number of equal-width Z-range buckets. */
  val ZorderBucketLog = 6

  /** Z-order (Morton) layout diagnostics — the multi-dimensional
    * clustering move behind Delta/Iceberg OPTIMIZE ZORDER: interleave
    * the bits of (l_partkey, l_suppkey) into one Z-value, cut Z-space
    * into 2^[[ZorderBucketLog]] equal-width ranges (map-side integer
    * arithmetic — an equal-DEPTH cut would use repartitionByRange, whose
    * sampled boundaries are not reproducible, so the diagnostic uses the
    * deterministic equal-width form), and report each bucket's bounding
    * box on BOTH dimensions. The boxes are precisely what file-skipping
    * prunes on: under a Z-layout every bucket bounds both keys at once,
    * so a conjunctive 2-d predicate skips most buckets — a single-key
    * sort bounds only its own column. `n_rows` exposes Z-space skew
    * (sparse key regions → empty/thin buckets).
    *
    * Scale shape: one codegen'd projection (the interleave is 2·bits
    * shift-mask terms), one hash aggregate on a 64-key space. Nothing
    * shuffles but the 64 partial rows. */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val top = (1 << ZorderBits) - 1
    val zTerms = (0 until ZorderBits).map(i =>
      s"(((npk >> $i) & 1) << ${2 * i}) + " +
        s"(((nsk >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val shift = 2 * ZorderBits - ZorderBucketLog
    // 1-row min/max anchor, broadcast: the integer range-normalization
    // (x − min)·(2^bits − 1) div span is exact on both engines.
    val bounds = Tables.lineitem(spark, dir)
      .agg(min(col("l_partkey")).as("pk_lo"), max(col("l_partkey")).as("pk_hi"),
        min(col("l_suppkey")).as("sk_lo"), max(col("l_suppkey")).as("sk_hi"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(bounds))
      .withColumn("npk", expr(
        s"((l_partkey - pk_lo) * $top) div greatest(1L, pk_hi - pk_lo)"))
      .withColumn("nsk", expr(
        s"((l_suppkey - sk_lo) * $top) div greatest(1L, sk_hi - sk_lo)"))
      .withColumn("z", expr(s"cast(($zTerms) as bigint)"))
      .withColumn("z_bucket", expr(s"shiftright(z, $shift)"))
      .groupBy("z_bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
      .withColumn("pk_span", col("pk_max") - col("pk_min"))
      .withColumn("sk_span", col("sk_max") - col("sk_min"))
      .orderBy("z_bucket")
  }

  /** DuckDB oracle for [[zorderStats]] — the same generated interleave
    * terms and bucket shift. */
  private[graft] def zorderStatsOracleSql: String = {
    val top = (1 << ZorderBits) - 1
    val zTerms = (0 until ZorderBits).map(i =>
      s"(((npk >> $i) & 1) << ${2 * i}) + " +
        s"(((nsk >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val shift = 2 * ZorderBits - ZorderBucketLog
    s"""WITH b AS (
       |  SELECT min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
       |         min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi
       |  FROM lineitem),
       |nrm AS (
       |  SELECT l_partkey, l_suppkey,
       |    ((l_partkey - pk_lo) * $top) // greatest(1, pk_hi - pk_lo)
       |      AS npk,
       |    ((l_suppkey - sk_lo) * $top) // greatest(1, sk_hi - sk_lo)
       |      AS nsk
       |  FROM lineitem CROSS JOIN b),
       |z AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(($zTerms) AS BIGINT) >> $shift AS z_bucket
       |  FROM nrm)
       |SELECT z_bucket, count(*) AS n_rows,
       |  min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
       |  min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max,
       |  max(l_partkey) - min(l_partkey) AS pk_span,
       |  max(l_suppkey) - min(l_suppkey) AS sk_span
       |FROM z
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  /** Hilbert-curve quadrant index for one refinement level: rx,ry are
    * the level's bit tests and the value is (3·rx) XOR ry expressed as
    * pure arithmetic (3·rx + ry·(1−2·rx)) so the SAME string runs on
    * both engines without bitwise-XOR dialect differences. */
  private def hilbertQuadrant(rx: String, ry: String): String =
    s"(3 * $rx + $ry * (1 - 2 * $rx))"

  /** HILBERT-curve layout diagnostics — [[zorderStats]]'s twin on the
    * OTHER standard space-filling curve (the one Databricks liquid
    * clustering and many spatial stores prefer): unlike Z-order, the
    * Hilbert walk never makes the long diagonal jumps that blow up a
    * Z-range's bounding box mid-range. NOTE the honest caveat: at THIS
    * read-out's 4^k-aligned equal-width cut (64 buckets of a 256²
    * grid) both curves decompose into the same perfect 32×32 squares —
    * measured sum(pk_span+sk_span) is 16670 for BOTH at sf0.01; the
    * Hilbert advantage materializes on range scans and cuts that are
    * NOT powers of four, where Z-ranges straddle quadrant seams.
    * Identical normalization and read-out as [[zorderStats]]
    * (equal-width cut of curve space into 2^[[ZorderBucketLog]]
    * buckets, per-bucket 2-d bounding boxes + row counts), so the two
    * reports are directly comparable, bucket for bucket. The encoding
    * is the standard xy→d walk (Wikipedia's iterative form): per level
    * s = 128…1, accumulate s²·quadrant and apply the
    * reflect-and-transpose rotation; 8 unrolled levels of pure integer
    * CASE/shift arithmetic, identical text on both engines. The spec
    * proves the encoding is a BIJECTION on the full 256×256 grid (a
    * transcription error in any level collapses distinct cells).
    *
    * Scale shape: same as Z-order — one codegen'd projection per row,
    * one hash aggregate on a 64-key space; nothing shuffles but the 64
    * partial rows. */
  def hilbertStats(spark: SparkSession, dir: String): DataFrame = {
    val top = (1 << ZorderBits) - 1
    val bounds = Tables.lineitem(spark, dir)
      .agg(min(col("l_partkey")).as("pk_lo"), max(col("l_partkey")).as("pk_hi"),
        min(col("l_suppkey")).as("sk_lo"), max(col("l_suppkey")).as("sk_hi"))
    val normalized = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(bounds))
      .withColumn("hx", expr(
        s"((l_partkey - pk_lo) * $top) div greatest(1L, pk_hi - pk_lo)"))
      .withColumn("hy", expr(
        s"((l_suppkey - sk_lo) * $top) div greatest(1L, sk_hi - sk_lo)"))
    hilbertBucketed(normalized)
      .groupBy("h_bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
      .withColumn("pk_span", col("pk_max") - col("pk_min"))
      .withColumn("sk_span", col("sk_max") - col("sk_min"))
      .orderBy("h_bucket")
  }

  /** The unrolled xy→d Hilbert walk over input columns (hx, hy) in
    * [0, 2^[[ZorderBits]])² — adds `h` (the curve index) and
    * `h_bucket`; injectable so the spec can drive the full grid
    * through it. */
  private[graft] def hilbertBucketed(df: DataFrame): DataFrame = {
    val n = 1 << ZorderBits
    val shift = 2 * ZorderBits - ZorderBucketLog
    val walked = (0 until ZorderBits).reverse.map(1 << _)
      .foldLeft(df.withColumn("h", lit(0L))) { (acc, s) =>
        val rx = s"(case when (hx & $s) > 0 then 1 else 0 end)"
        val ry = s"(case when (hy & $s) > 0 then 1 else 0 end)"
        acc
          .withColumn("h", expr(
            s"h + cast($s as bigint) * $s * ${hilbertQuadrant(rx, ry)}"))
          // rot(n): if ry=0 reflect (iff rx=1) then transpose.
          .withColumn("nx", expr(s"case when $ry = 0 then " +
            s"(case when $rx = 1 then ${n - 1} - hy else hy end) " +
            s"else hx end"))
          .withColumn("ny", expr(s"case when $ry = 0 then " +
            s"(case when $rx = 1 then ${n - 1} - hx else hx end) " +
            s"else hy end"))
          .withColumn("hx", col("nx")).withColumn("hy", col("ny"))
          .drop("nx", "ny")
      }
    walked.withColumn("h_bucket", expr(s"shiftright(h, $shift)"))
  }

  /** The [[hilbertBucketed]] rotation walk as a pure driver-side
    * integer function — SAME levels (2^(ZorderBits−1) down to 1), same
    * arithmetic quadrant `3·rx + ry·(1−2·rx)`, same ry=0
    * reflect-then-transpose — so the two spellings are interchangeable
    * (spec-pinned equal on every cell of the grid). Exists because the
    * domain is code-bounded (2^(2·ZorderBits) cells): evaluating the
    * walk once here and broadcasting the lookup costs ~nothing, while
    * carrying the 8-level nested CASE tree in a plan costs ~1 s of
    * Catalyst optimizer + codegen per execution ([[layoutPruningSim]]'s
    * dominant cost in its first grid-grain fold). */
  /** Session-scoped memo of the hilbert grid LOOKUP used by
    * [[layoutPruningSim]] — [[hilbertIndex]] over every cell of the
    * code-bounded 2^(2·[[ZorderBits]]) domain, checkpointed (65,536
    * rows × 3 longs ≈ 1.5 MB broadcast at use). Exists because the
    * SQL spelling of the walk is an 8-level nested CASE tree that
    * costs ~1 s of Catalyst optimizer + codegen PER EXECUTION at any
    * data size (planning, not execution, cost), and re-creating even
    * the LocalRelation per run re-pays 65k row conversions. It reads no
    * input, so the memo is keyed by the session alone. */
  private def hilbertLut(spark: SparkSession): DataFrame =
    graft.Memos.memo("hilbert_lut", spark, Nil) {
      val shift = 2 * ZorderBits - ZorderBucketLog
      spark.createDataFrame(
          for {
            x <- 0 until (1 << ZorderBits)
            y <- 0 until (1 << ZorderBits)
          } yield (x.toLong, y.toLong, hilbertIndex(x, y) >> shift))
        .toDF("npk", "nsk", "h_bucket")
        .localCheckpoint()
    }

  private[graft] def hilbertIndex(x0: Int, y0: Int): Long = {
    val n = 1 << ZorderBits
    var hx = x0.toLong
    var hy = y0.toLong
    var h = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((hx & s) > 0) 1L else 0L
      val ry = if ((hy & s) > 0) 1L else 0L
      h += s.toLong * s * (3L * rx + ry * (1L - 2L * rx))
      if (ry == 0L) {
        val nx = if (rx == 1L) (n - 1L) - hy else hy
        val ny = if (rx == 1L) (n - 1L) - hx else hx
        hx = nx
        hy = ny
      }
      s >>= 1
    }
    h
  }

  /** DuckDB oracle for [[hilbertStats]] — the identical unrolled walk
    * as chained CTEs (one per level, same CASE arithmetic). */
  private[graft] def hilbertStatsOracleSql: String = {
    val top = (1 << ZorderBits) - 1
    val n = 1 << ZorderBits
    val shift = 2 * ZorderBits - ZorderBucketLog
    val levels = (0 until ZorderBits).reverse.map(1 << _).zipWithIndex
      .map { case (s, i) =>
        val prev = if (i == 0) "nrm" else s"lv${i - 1}"
        val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
        val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
        s"""lv$i AS (
           |  SELECT l_partkey, l_suppkey,
           |    h + CAST($s AS BIGINT) * $s * ${hilbertQuadrant(rx, ry)}
           |      AS h,
           |    CASE WHEN $ry = 0 THEN
           |      (CASE WHEN $rx = 1 THEN ${n - 1} - hy ELSE hy END)
           |      ELSE hx END AS hx,
           |    CASE WHEN $ry = 0 THEN
           |      (CASE WHEN $rx = 1 THEN ${n - 1} - hx ELSE hx END)
           |      ELSE hy END AS hy
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
       |         min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi
       |  FROM lineitem),
       |nrm AS (
       |  SELECT l_partkey, l_suppkey,
       |    ((l_partkey - pk_lo) * $top) // greatest(1, pk_hi - pk_lo)
       |      AS hx,
       |    ((l_suppkey - sk_lo) * $top) // greatest(1, sk_hi - sk_lo)
       |      AS hy,
       |    CAST(0 AS BIGINT) AS h
       |  FROM lineitem CROSS JOIN b),
       |$levels
       |SELECT h >> $shift AS h_bucket, count(*) AS n_rows,
       |  min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
       |  min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max,
       |  max(l_partkey) - min(l_partkey) AS pk_span,
       |  max(l_suppkey) - min(l_suppkey) AS sk_span
       |FROM lv${ZorderBits - 1}
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  /** Band predicates simulated by [[layoutPruningSim]], as (band, lo,
    * hi) over the normalized [0, 2^[[ZorderBits]]) domain of BOTH keys
    * (shared with the oracle): four quarter bands ALIGNED with the
    * bucket grid — friendly to any space-filling cut — plus two
    * boundary-STRADDLING bands (offset half a quarter), where box
    * quality and curve choice actually differentiate. */
  val PruningSimBandDefs: Seq[(Int, Long, Long)] = {
    val quarter = (1 << ZorderBits) / 4
    (0 until 4).map(q =>
      (q, (q * quarter).toLong, (q * quarter + quarter - 1).toLong)) ++
      Seq(
        // offset by a HALF-tile (quarter/4 = 16; tile = 2^(ZorderBits −
        // ZorderBucketLog/2) = 32 wide): 16 is not a multiple of 32, so
        // these bands straddle tile boundaries — a full-tile offset
        // would land on them and prune perfectly.
        (4, (quarter / 4).toLong, (quarter / 4 + quarter - 1).toLong),
        (5, (2 * quarter + quarter / 4).toLong,
          (2 * quarter + quarter / 4 + quarter - 1).toLong))
  }

  /** FILE-SKIPPING SIMULATION — the layout ADVISOR behind "should this
    * table be OPTIMIZE ZORDER'd": for each conjunctive 2-d band
    * predicate, replay min/max pruning (exactly what parquet row-group
    * / Delta file skipping does) against TWO physical layouts of the
    * same rows — a single-key sort (buckets = equal-width ranges of the
    * normalized partkey; each bucket bounds ONLY its own column tightly)
    * and the [[zorderStats]] Morton layout (every bucket bounds both
    * keys at once). A bucket is SCANNED iff its bounding box intersects
    * the band; the output quantifies the decision with rows_scanned vs
    * rows_matching per (band, layout) — the Z-layout's scan amplification
    * collapse is the whole point of the operator.
    *
    * Scale shape (r15 verdict order #4 — was 5 column-pruned fact
    * scans, now exactly 2): the bounds aggregate is one scan; the
    * second is a plain (npk, nsk) count — the normalized grid has at
    * most 2^(2·[[ZorderBits]]) = 65,536 cells at ANY data volume, so
    * the fact pass map-side-combines to a bounded frame,
    * localCheckpointed once, and every layout-specific computation
    * (the hilbert bucket lookup, the interleave, the 3-way stack to
    * (layout, bucket) grain, the box aggregate, the cell_rows-weighted
    * band selectivities) runs over the checkpointed grid, never the
    * fact. The simulation itself is a broadcast cross of 6 bands × 192
    * box rows. Nothing data-scaled shuffles — at 100 TB this runs as
    * two scan-shaped aggregates, which is what makes it usable as a
    * planning advisor at all. */
  def layoutPruningSim(spark: SparkSession, dir: String): DataFrame = {
    val top = (1 << ZorderBits) - 1
    val zTerms = (0 until ZorderBits).map(i =>
      s"(((npk >> $i) & 1) << ${2 * i}) + " +
        s"(((nsk >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val shift = 2 * ZorderBits - ZorderBucketLog
    // The 2-fact-scan frame, materialized ONCE (≤65,536 rows); every
    // downstream consumer — the box aggregate and the true-selectivity
    // fold — reads the checkpoint, never the fact.
    val grid = layoutPruningGrid(spark, dir).localCheckpoint()
    val lut = hilbertLut(spark)
    // All three bucket ids in one projection over the grid: linear =
    // equal-width npk ranges at the same bucket BUDGET as the
    // space-filling cuts (2^ZorderBucketLog, so the comparison is box
    // quality, not box count); zorder = the bit interleave; hilbert =
    // the LUT join. A 3-way stack unpivots to (layout, bucket) grain
    // and one aggregate builds every bounding box, cell_rows-weighted.
    val boxes = grid.join(broadcast(lut), Seq("npk", "nsk"))
      .withColumn("bucket_linear", expr(
        s"npk div ${(top + 1) / (1 << ZorderBucketLog)}"))
      .withColumn("bucket_z", expr(
        s"shiftright(cast(($zTerms) as bigint), $shift)"))
      .selectExpr("stack(3, 'linear_pk', bucket_linear, " +
        "'zorder', bucket_z, 'hilbert', h_bucket) AS (layout, bucket)",
        "npk", "nsk", "cell_rows")
      .groupBy("layout", "bucket")
      .agg(sum(col("cell_rows")).as("n_rows"),
        min(col("npk")).as("pk_min"), max(col("npk")).as("pk_max"),
        min(col("nsk")).as("sk_min"), max(col("nsk")).as("sk_max"))
    val bands = spark.createDataFrame(PruningSimBandDefs)
      .toDF("band", "b_lo", "b_hi")
    // True selectivity per band — layout-invariant, one conditional
    // cell_rows-weighted aggregate over the checkpointed grid (the
    // band bounds are compile-time constants, so this is 6 when-sums
    // in a single pass over ≤65k rows — no fact re-scan).
    val bandSums = PruningSimBandDefs.map { case (b, lo, hi) =>
      sum(when(col("npk") >= lo && col("npk") <= hi
          && col("nsk") >= lo && col("nsk") <= hi, col("cell_rows"))
        .otherwise(0L)).as(s"t_$b") }
    val matching = grid.agg(bandSums.head, bandSums.tail: _*)
      .selectExpr(s"stack(${PruningSimBandDefs.length}, " +
        PruningSimBandDefs.map { case (b, _, _) =>
          s"$b, t_$b" }.mkString(", ") +
        ") AS (band, rows_matching)")
    boxes
      .crossJoin(broadcast(bands))
      .withColumn("hit",
        col("pk_min") <= col("b_hi") && col("pk_max") >= col("b_lo")
          && col("sk_min") <= col("b_hi") && col("sk_max") >= col("b_lo"))
      .groupBy("band", "layout")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_scanned_buckets"),
        sum(when(col("hit"), col("n_rows")).otherwise(0L))
          .as("rows_scanned"))
      .join(broadcast(matching), Seq("band"), "left")
      .withColumn("rows_matching",
        coalesce(col("rows_matching"), lit(0L)))
      .orderBy("band", "layout")
  }

  /** [[layoutPruningSim]]'s fact passes, pre-checkpoint (factored out
    * so PlanSpec can assert the two-lineitem-scan shape directly — the
    * checkpoint hides the scans from the returned sim plan): the
    * normalized-GRID row counts, (npk, nsk, cell_rows), ≤ 65,536 rows
    * at any data volume. */
  private[graft] def layoutPruningGrid(spark: SparkSession,
      dir: String): DataFrame = {
    val top = (1 << ZorderBits) - 1
    val bounds = Tables.lineitem(spark, dir)
      .agg(min(col("l_partkey")).as("pk_lo"),
        max(col("l_partkey")).as("pk_hi"),
        min(col("l_suppkey")).as("sk_lo"),
        max(col("l_suppkey")).as("sk_hi"))
    val nrm = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(bounds))
      .withColumn("npk", expr(
        s"((l_partkey - pk_lo) * $top) div greatest(1L, pk_hi - pk_lo)"))
      .withColumn("nsk", expr(
        s"((l_suppkey - sk_lo) * $top) div greatest(1L, sk_hi - sk_lo)"))
      .select(col("npk"), col("nsk"))
    // ONE fact aggregate, at the normalized-GRID grain: (npk, nsk) has
    // at most 2^(2·ZorderBits) = 65,536 cells REGARDLESS of data
    // volume, so the fact pass is a plain two-key count with full
    // map-side combine, and everything layout-specific (the hilbert
    // LUT join, the bit interleave, the band sums, the 3-way stack)
    // runs over the code-bounded grid, never the fact. Two rejected
    // folds, measured at sf0.1: stacking the FACT rows 3× through the
    // box aggregate with the in-plan hilbert walk = 1.85 s; letting
    // exchange reuse dedup an un-checkpointed boxes frame = 6 scans
    // (the matching consumer's layout filter pushes into the Generate
    // and breaks subtree equality) — the checkpointed grid is the form
    // that is BOTH 2-scan and cheapest.
    nrm.groupBy("npk", "nsk")
      .agg(count(lit(1)).as("cell_rows"))
  }

  /** RLE candidate columns profiled by [[rleSortAdvisor]] as
    * (output name, integer-or-string SQL expression) — shared with the
    * oracle. */
  val RleColumns: Seq[(String, String)] = Seq(
    "returnflag" -> "l_returnflag",
    "linestatus" -> "l_linestatus",
    "quantity" -> "CAST(round(l_quantity) AS BIGINT)",
    "discount_c" -> "CAST(round(l_discount * 100) AS BIGINT)")

  /** Plain-encoding VALUE widths (bytes) for [[rleSortAdvisor]]'s size
    * estimate — the single-char flag columns store 1 byte/value, the
    * integer columns a fixed 8 (the advisor prices relative layout
    * choices, so a fixed-width model is the right grain; dictionary
    * and bit-packing refinements shift both sides equally). */
  val RleColWidthBytes: Map[String, Long] = Map(
    "returnflag" -> 1L, "linestatus" -> 1L,
    "quantity" -> 8L, "discount_c" -> 8L)

  /** Run-length word width (bytes) in [[rleSortAdvisor]]'s RLE size
    * model: each run stores one value plus one 32-bit length. */
  val RleRunLenBytes: Long = 4L

  /** Sort orders tried by [[rleSortAdvisor]]: name → compound sort
    * columns (always suffixed with (orderkey, linenumber) AND the
    * profiled columns themselves — the generator's (orderkey,
    * linenumber) is not unique, so only value-inclusive tie-breaking
    * makes the run counts order-independent across engines). */
  val RleSortOrders: Seq[(String, Seq[String])] = Seq(
    "by_shipdate" -> Seq("l_shipdate"),
    "by_flag_status_date" ->
      Seq("l_returnflag", "l_linestatus", "l_shipdate"))

  /** RLE SORT-ORDER ADVISOR — [[layoutPruningSim]]'s sibling for the
    * ENCODING side of layout choice: for each candidate sort order,
    * count each column's RLE runs (adjacent-unequal transitions + 1)
    * over the totally-ordered table — run count IS the run-length
    * encoding's size, so `rle_ratio_mille = 1000·runs/rows` directly
    * prices "sort by these keys and this column compresses ~N×", and
    * the byte columns price the actual OPTIMIZE decision:
    * `rle_bytes = runs · (value width + [[RleRunLenBytes]])` vs
    * `plain_bytes = value width · rows`, with
    * `bytes_ratio_mille = 1000·rle/plain` (values < 1000 mean RLE
    * wins; the flag columns' 1-byte values make the run-length word
    * dominate, so a near-random order can price RLE ABOVE plain —
    * exactly the case the advisor exists to catch). A
    * clustered order collapses the leading columns to |domain| runs
    * while a date order leaves them near-random — the trade a 100 TB
    * table owner reads off this table before an OPTIMIZE.
    *
    * Scale shape: per order, ONE range exchange (the same shuffle a
    * global ORDER BY pays) and one NARROW mapPartitions fold counting
    * every column's in-partition transitions at once — no rank, no
    * checkpoint, no self-join (the first cut ranked + successor-joined:
    * 5.6 s isolated at sf0.1 vs 3.2 s for this form — the residue is
    * the two range exchanges themselves, i.e. the cost of two global
    * ORDER BYs, which is the operator's honest floor; the
    * RangePartitioner's sampling pass scans each order's input twice,
    * the standing GlobalRank trade). Partition-BOUNDARY
    * transitions are stitched on the driver from each partition's
    * (first, last) value summary — a ≤ numShufflePartitions-row
    * collect, the same config-bounded contract as GlobalRank's offset
    * pass (range partition i orders before i+1, so adjacent non-empty
    * summaries are exactly the table's adjacent rows). Values compare
    * as strings in the summary (injective for these long/string
    * columns); the in-partition compare is native. */
  def rleSortAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
      StructType}
    val baseCols = RleColumns.map { case (n, sql) => expr(sql).as(n) }
    val k = RleColumns.length
    val sumSchema = RleColumns.zipWithIndex
      .foldLeft(new StructType()
        .add("pid", IntegerType, nullable = false)
        .add("n", LongType, nullable = false)) { case (s, ((cn, _), _)) =>
        s.add(s"tr_$cn", LongType, nullable = false)
          .add(s"first_$cn", StringType, nullable = true)
          .add(s"last_$cn", StringType, nullable = true)
      }
    // r18 optimization (guide §2.6 — overlap independent jobs): the
    // sort-order arms are fully independent (each = its own range
    // exchange + sort + fold + ≤P-row collect), and running them
    // serially left most cores idle during each arm's sampling pass,
    // exchange tail, and driver stitch. Submitting the arms from a
    // small thread pool lets arm B's scan/sort back-fill the executor
    // slots arm A's tail frees — the same wall-clock overlap a 100 TB
    // advisor run wants (each arm is a full table sort there too, and
    // FIFO scheduling gives exactly the back-fill behaviour). Results
    // are unchanged: arms are deterministic and Future.sequence
    // preserves arm order; the per-arm fold/stitch math is untouched.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // concurrent.blocking: each arm BLOCKS its pool thread on Spark
    // actions (collect/fold); marking the span lets the shared global
    // EC grow past its core count instead of starving other users if
    // the arm list (or a concurrent caller) ever grows.
    val out = Await.result(Future.sequence(RleSortOrders.map {
        case (orderName, sortCols) => Future { scala.concurrent.blocking {
      val base = Tables.lineitem(spark, dir)
        .select(baseCols ++ Seq(col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber")): _*)
      // (l_orderkey, l_linenumber) is NOT unique in this generator
      // (118k duplicate keys at sf0.1, with differing attributes), so
      // the profiled columns themselves join the tie-break: any rows
      // still tied are then IDENTICAL in every counted column, making
      // the run counts order-independent — without this, a tie between
      // rows with different discounts leaves the count ambiguous and
      // the two engines may legally disagree by one.
      val order = (sortCols :+ "l_orderkey" :+ "l_linenumber")
        .map(col) ++ RleColumns.map(c => col(c._1))
      val sorted = base.repartitionByRange(order: _*)
        .sortWithinPartitions(order: _*)
      val idx = RleColumns.map(c => sorted.schema.fieldIndex(c._1))
      val summaries = sorted.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var n = 0L
        val tr = new Array[Long](k)
        val first = new Array[String](k)
        val prev = new Array[Any](k)
        it.foreach { r =>
          n += 1
          var i = 0
          while (i < k) {
            val v = r.get(idx(i))
            if (n == 1L) first(i) = String.valueOf(v)
            else if (v != prev(i)) tr(i) += 1
            prev(i) = v
            i += 1
          }
        }
        val fields = Seq.tabulate(k) { i =>
          Seq(tr(i), first(i),
            if (n == 0L) null else String.valueOf(prev(i)))
        }.flatten
        Iterator.single(Row.fromSeq(pid +: n +: fields))
      }(Encoders.row(sumSchema)).collect().sortBy(_.getInt(0))
      val nonEmpty = summaries.filter(_.getLong(1) > 0L)
      val nRows = nonEmpty.map(_.getLong(1)).sum
      RleColumns.zipWithIndex.map { case ((cn, _), i) =>
        val inner = nonEmpty.map(_.getLong(2 + 3 * i)).sum
        val boundary = nonEmpty.sliding(2).count {
          case Array(a, b) =>
            // prev partition's LAST vs next partition's FIRST
            a.getString(4 + 3 * i) != b.getString(3 + 3 * i)
          case _ => false
        }
        val runs = inner + boundary + 1L
        // The estimated-size read-out the advisor exists for (r15
        // verdict order #5): the OPTIMIZE decision is priced in BYTES —
        // RLE stores one (value, run-length) word pair per run vs the
        // plain encoding's value width × rows — pure arithmetic on the
        // fold's run counts, no extra shuffle.
        val w = RleColWidthBytes(cn)
        val rleBytes = runs * (w + RleRunLenBytes)
        val plainBytes = w * nRows
        (orderName, cn, nRows, runs,
          (1000L * runs) / math.max(1L, nRows),
          rleBytes, plainBytes,
          (1000L * rleBytes) / math.max(1L, plainBytes))
      }
    }}}), Duration.Inf).flatten
    spark.createDataFrame(out)
      .toDF("sort_order", "column_name", "n_rows", "n_runs",
        "rle_ratio_mille", "rle_bytes", "plain_bytes",
        "bytes_ratio_mille")
      .orderBy("sort_order", "column_name")
  }

  /** DuckDB oracle for [[rleSortAdvisor]] — lag() over the identical
    * total order, same transitions + 1 run count, one UNION ALL arm per
    * (order, column). */
  private[graft] def rleSortAdvisorOracleSql: String = {
    val arms = RleSortOrders.flatMap { case (orderName, sortCols) =>
      // profiled columns in the tie-break — see the operator's note on
      // the generator's non-unique (orderkey, linenumber).
      val ord = ((sortCols :+ "l_orderkey" :+ "l_linenumber") ++
        RleColumns.map(_._2)).mkString(", ")
      RleColumns.map { case (n, sql) =>
        // Unfiltered count + coalesce'd transition sum: on an EMPTY
        // table the Scala fold emits (n_rows=0, n_runs=1) and the
        // previous `WHERE pc IS NOT NULL` form emitted (1, NULL) —
        // divergent degenerate behavior. On any non-empty input the
        // two forms are value-identical (count(*) over all rows = the
        // filtered count + 1; pc-NULL rows contribute 0 transitions).
        val w = RleColWidthBytes(n)
        s"""SELECT sort_order, column_name, n_rows, n_runs,
           |  CAST((1000 * n_runs) // greatest(1, n_rows) AS BIGINT)
           |    AS rle_ratio_mille,
           |  CAST(n_runs * ${w + RleRunLenBytes} AS BIGINT) AS rle_bytes,
           |  CAST($w * n_rows AS BIGINT) AS plain_bytes,
           |  CAST((1000 * n_runs * ${w + RleRunLenBytes})
           |    // greatest(1, $w * n_rows) AS BIGINT) AS bytes_ratio_mille
           |FROM (
           |  SELECT '$orderName' AS sort_order, '$n' AS column_name,
           |    CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(1 + coalesce(sum(CASE WHEN pc IS NOT NULL AND c <> pc
           |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_runs
           |  FROM (
           |    SELECT $sql AS c,
           |      lag($sql) OVER (ORDER BY $ord) AS pc
           |    FROM lineitem) t) s""".stripMargin
      }
    }
    arms.mkString("", "\nUNION ALL\n",
      "\nORDER BY sort_order, column_name")
  }

  /** DuckDB oracle for [[layoutPruningSim]] — same normalization, same
    * generated interleave, same unrolled Hilbert walk (npk/nsk carried
    * through the rotation), same box-intersection rule. */
  private[graft] def layoutPruningSimOracleSql: String = {
    val top = (1 << ZorderBits) - 1
    val n = 1 << ZorderBits
    val zTerms = (0 until ZorderBits).map(i =>
      s"(((npk >> $i) & 1) << ${2 * i}) + " +
        s"(((nsk >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val shift = 2 * ZorderBits - ZorderBucketLog
    val linStep = (top + 1) / (1 << ZorderBucketLog)
    val hLevels = (0 until ZorderBits).reverse.map(1 << _).zipWithIndex
      .map { case (s, i) =>
        val prev = if (i == 0) "hseed" else s"hlv${i - 1}"
        val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
        val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
        s"""hlv$i AS (
           |  SELECT npk, nsk,
           |    h + CAST($s AS BIGINT) * $s * ${hilbertQuadrant(rx, ry)}
           |      AS h,
           |    CASE WHEN $ry = 0 THEN
           |      (CASE WHEN $rx = 1 THEN ${n - 1} - hy ELSE hy END)
           |      ELSE hx END AS hx,
           |    CASE WHEN $ry = 0 THEN
           |      (CASE WHEN $rx = 1 THEN ${n - 1} - hx ELSE hx END)
           |      ELSE hy END AS hy
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
       |         min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi
       |  FROM lineitem),
       |nrm AS (
       |  SELECT
       |    ((l_partkey - pk_lo) * $top) // greatest(1, pk_hi - pk_lo)
       |      AS npk,
       |    ((l_suppkey - sk_lo) * $top) // greatest(1, sk_hi - sk_lo)
       |      AS nsk
       |  FROM lineitem CROSS JOIN b),
       |hseed AS (
       |  SELECT npk, nsk, npk AS hx, nsk AS hy, CAST(0 AS BIGINT) AS h
       |  FROM nrm),
       |$hLevels,
       |boxes AS (
       |  SELECT 'linear_pk' AS layout, npk // $linStep AS bucket,
       |    count(*) AS n_rows,
       |    min(npk) AS pk_min, max(npk) AS pk_max,
       |    min(nsk) AS sk_min, max(nsk) AS sk_max
       |  FROM nrm GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'zorder' AS layout,
       |    CAST(($zTerms) AS BIGINT) >> $shift AS bucket,
       |    count(*) AS n_rows,
       |    min(npk) AS pk_min, max(npk) AS pk_max,
       |    min(nsk) AS sk_min, max(nsk) AS sk_max
       |  FROM nrm GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'hilbert' AS layout, h >> $shift AS bucket,
       |    count(*) AS n_rows,
       |    min(npk) AS pk_min, max(npk) AS pk_max,
       |    min(nsk) AS sk_min, max(nsk) AS sk_max
       |  FROM hlv${ZorderBits - 1} GROUP BY 1, 2),
       |bands AS (
       |  SELECT CAST(band AS INT) AS band, CAST(b_lo AS BIGINT) AS b_lo,
       |    CAST(b_hi AS BIGINT) AS b_hi
       |  FROM (VALUES ${PruningSimBandDefs
             .map { case (b, lo, hi) => s"($b, $lo, $hi)" }
             .mkString(", ")}) AS t(band, b_lo, b_hi)),
       |m AS (
       |  SELECT band, CAST(count(*) AS BIGINT) AS rows_matching
       |  FROM nrm CROSS JOIN bands
       |  WHERE npk >= b_lo AND npk <= b_hi
       |    AND nsk >= b_lo AND nsk <= b_hi
       |  GROUP BY band),
       |sim AS (
       |  SELECT band, layout,
       |    CAST(count(*) AS BIGINT) AS n_buckets,
       |    CAST(sum(CASE WHEN pk_min <= b_hi AND pk_max >= b_lo
       |      AND sk_min <= b_hi AND sk_max >= b_lo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned_buckets,
       |    CAST(sum(CASE WHEN pk_min <= b_hi AND pk_max >= b_lo
       |      AND sk_min <= b_hi AND sk_max >= b_lo
       |      THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
       |  FROM boxes CROSS JOIN bands
       |  GROUP BY 1, 2)
       |SELECT sim.band, sim.layout, sim.n_buckets, sim.n_scanned_buckets,
       |  sim.rows_scanned, coalesce(m.rows_matching, 0) AS rows_matching
       |FROM sim LEFT JOIN m ON sim.band = m.band
       |ORDER BY sim.band, sim.layout""".stripMargin
  }

  /** Languages pivoted into fixed columns by [[langPivot]] (shared with
    * the oracle; a FIXED list — pivoting on discovered values would make
    * the schema data-dependent, which neither a SQL consumer nor the
    * oracle comparison could type statically). */
  val PivotLangs: Seq[String] = Seq("en", "de", "fr", "ja", "zh")

  /** Per-source language mix as a wide matrix: one row per source, one
    * count column per language — the pivot/crosstab surface. Spark's
    * `pivot(col, values)` with explicit values compiles to one
    * aggregate with `count(CASE WHEN lang = v)` branches (no
    * value-discovery job, no second shuffle); the oracle states the
    * same thing with FILTER clauses. Languages outside the fixed list
    * are rolled into `other`. */
  def langPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // Remap BEFORE pivoting: pivot matches values literally, so the
      // catch-all bucket must exist as a value, not as a pivot column.
      .withColumn("lang_b",
        when(col("lang").isin(PivotLangs: _*), col("lang"))
          .otherwise("other"))
      .groupBy("source")
      .pivot("lang_b", PivotLangs :+ "other")
      .agg(count(lit(1)))
      .na.fill(0L, PivotLangs :+ "other")
      .orderBy("source")

  /** DuckDB oracle for [[langPivot]]. */
  private[graft] def langPivotOracleSql: String = {
    val inList = PivotLangs.map(l => s"'$l'").mkString(", ")
    val cols = PivotLangs.map(l =>
      s"""count(*) FILTER (lang = '$l') AS "$l"""").mkString(",\n  ")
    s"""SELECT source,
       |  $cols,
       |  count(*) FILTER (lang NOT IN ($inList)) AS other
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Daily revenue with a cumulative running total and a 7-day moving
    * average — the sliding-frame window surface (`ROWS BETWEEN`):
    * running sums stay in decimal so every prefix is exact under any
    * partitioning, and the frames sit on the one date-sorted window.
    * At scale the single unpartitioned window is the honest cost of a
    * global cumulative metric over an already-aggregated (one row per
    * day) frame — thousands of rows, not the fact table. */
  def dailyRevenueRunning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("sales_dec"))
    val wAll = Window.orderBy("order_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w7 = Window.orderBy("order_day").rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("daily_sales", col("sales_dec").cast("double"))
      .withColumn("running_sales",
        sum(col("sales_dec")).over(wAll).cast("double"))
      // Double division of the exact decimal sum — not decimal/decimal,
      // whose result-scale rules differ between the two engines.
      .withColumn("avg7_sales",
        sum(col("sales_dec")).over(w7).cast("double") /
          count(lit(1)).over(w7).cast("double"))
      .select("order_day", "daily_sales", "running_sales", "avg7_sales")
      .orderBy("order_day")
  }

  /** Trailing decay-window width in days for [[ewmaDaily]] (shared with
    * the oracle): weights halve per day of age, 2^9 … 2^0. */
  val EwmaWindowDays = 10

  /** Exponentially-decayed daily revenue — the trend-smoothing
    * companion to [[dailyRevenueRunning]]'s flat 7-day average: each
    * day's smoothed value is the weight-normalized sum of the trailing
    * [[EwmaWindowDays]] days with per-day half-life decay. The usual
    * EWMA recurrence (s_t = α·x_t + (1−α)·s_{t−1}) is an infinite
    * float product — unverifiable cross-engine and inherently
    * sequential; the bounded form here keeps every weight an exact
    * POWER OF TWO (integer 2^(W−1−age), decimal-cast), so numerator and
    * denominator are exact decimal/long sums and the single division
    * happens once, in doubles, identically in both engines. Truncating
    * at W=10 days discards < 2^−10 of the mass — below double ulp of
    * any realistic revenue value.
    *
    * Scale shape: revenue first collapses to DAY GRAIN (one
    * partial+final aggregate — the only pass over the fact table), then
    * the decay window is an explicit offset fan-out (sequence 0..W−1,
    * date_sub) EQUI-joined back to the day frame: a hash join between
    * two calendar-sized frames (a millennium is ~365 K rows), never a
    * range/BNL join, never event grain. Gap days contribute nothing and
    * the denominator renormalizes over the days actually present —
    * lag-k windows would silently misalign across gaps. */
  def ewmaDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("n_orders"))
    val past = daily.select(col("day").as("pday"),
      col("rev").as("prev_rev"))
    daily
      .withColumn("off",
        explode(expr(s"sequence(0, ${EwmaWindowDays - 1})")))
      .withColumn("pday", date_sub(col("day"), col("off")))
      .join(past, "pday")
      .withColumn("w",
        expr(s"cast(shiftleft(1, ${EwmaWindowDays - 1} - off) as " +
          "decimal(10,0))"))
      .groupBy("day")
      .agg(
        max(col("n_orders")).as("n_orders"),
        max(col("rev")).cast("double").as("day_revenue"),
        count(lit(1)).as("n_win_days"),
        sum(col("prev_rev") * col("w")).cast("double").as("num"),
        sum(col("w").cast("long")).as("den"))
      .withColumn("ewma_revenue", col("num") / col("den").cast("double"))
      .select("day", "n_orders", "day_revenue", "n_win_days",
        "ewma_revenue")
      .orderBy("day")
  }

  /** DuckDB oracle for [[ewmaDaily]] — same power-of-two weights, same
    * offset fan-out join, same exact sums (BIGINT-cast denominator:
    * DuckDB widens integer sums to HUGEINT). */
  private[graft] def ewmaDailyOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
       |    count(*) AS n_orders
       |  FROM orders GROUP BY 1),
       |f AS (
       |  SELECT d.day, d.n_orders, d.rev, p.rev AS prev_rev,
       |    CAST(1 << (${EwmaWindowDays - 1} - o.off) AS DECIMAL(10,0))
       |      AS w
       |  FROM daily d
       |  CROSS JOIN (SELECT CAST(unnest(generate_series(0,
       |    ${EwmaWindowDays - 1})) AS INTEGER) AS off) o
       |  JOIN daily p ON p.day = d.day - o.off)
       |SELECT day, n_orders,
       |  CAST(max(rev) AS DOUBLE) AS day_revenue,
       |  count(*) AS n_win_days,
       |  CAST(sum(prev_rev * w) AS DOUBLE)
       |    / CAST(CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    AS ewma_revenue
       |FROM f
       |GROUP BY day, n_orders
       |ORDER BY day""".stripMargin

  /** DuckDB oracle for [[dailyRevenueRunning]] (same frames, same
    * decimal-exact prefix sums). */
  private[graft] def dailyRevenueRunningOracleSql: String =
    s"""WITH d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS order_day,
       |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sales_dec
       |  FROM orders GROUP BY 1)
       |SELECT order_day,
       |  CAST(sales_dec AS DOUBLE) AS daily_sales,
       |  CAST(sum(sales_dec) OVER (ORDER BY order_day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS running_sales,
       |  CAST(sum(sales_dec) OVER w7 AS DOUBLE)
       |    / CAST(count(*) OVER w7 AS DOUBLE) AS avg7_sales
       |FROM d
       |WINDOW w7 AS (ORDER BY order_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY order_day""".stripMargin

  /** Calendar densification — the date-spine pattern: generate every day
    * between the first and last order date (a `sequence` explode off the
    * one-row min/max aggregate — no driver round trip, no calendar
    * table), left-join the daily sales, and zero-fill the gaps with an
    * explicit `is_gap` marker. Downstream time-series consumers (moving
    * averages, day-over-day deltas) need the dense spine or silently
    * skip missing days. Spine cardinality is days-in-span — thousands of
    * rows at any data scale, so the join broadcasts the daily aggregate
    * side or the spine side, never the fact table. */
  def dailySalesDense(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(moneySum(col("o_totalprice")).as("daily_sales"))
    val spine = daily
      .agg(min(col("order_day")).as("d0"), max(col("order_day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)"))
        .as("order_day"))
    spine.join(daily, Seq("order_day"), "left_outer")
      .select(col("order_day"),
        coalesce(col("daily_sales"), lit(0.0)).as("daily_sales"),
        col("daily_sales").isNull.as("is_gap"))
      .orderBy("order_day")
  }

  /** DuckDB oracle for [[dailySalesDense]]. */
  private[graft] def dailySalesDenseOracleSql: String =
    s"""WITH d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS order_day,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS daily_sales
       |  FROM orders GROUP BY 1),
       |s AS (
       |  SELECT CAST(unnest(generate_series(
       |    CAST((SELECT min(order_day) FROM d) AS TIMESTAMP),
       |    CAST((SELECT max(order_day) FROM d) AS TIMESTAMP),
       |    INTERVAL 1 DAY)) AS DATE) AS order_day)
       |SELECT s.order_day,
       |  coalesce(d.daily_sales, 0.0) AS daily_sales,
       |  d.daily_sales IS NULL AS is_gap
       |FROM s LEFT JOIN d USING (order_day)
       |ORDER BY 1""".stripMargin

  /** Customer spend ranking — the ranking-function window surface:
    * quartile (`ntile`), `percent_rank`, and `cume_dist` over total
    * spend, tie-broken by key so every rank is deterministic in both
    * engines. percent_rank/cume_dist are rational values of row
    * positions ((rank−1)/(n−1), peers/n) — identical IEEE doubles under
    * the same ordering.
    *
    * Scale: customer cardinality is data-scaled, so the ranking rides
    * [[GlobalRank.withRowNumber]]'s two-phase pass (a naive
    * unpartitioned window = `Exchange SinglePartition` over every
    * customer). The order is TIE-BROKEN (custkey), so rank = row
    * number and all three functions are pure arithmetic on (rn, n):
    * ntile by the SQL bucket formula, percent_rank = (rn−1)/(n−1),
    * cume_dist = rn/n — each a single int64→double division, identical
    * IEEE both engines. n is a 1-row broadcast anchor. */
  def customerSpendRank(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(moneySum(col("o_totalprice")).as("total_spent"))
    GlobalRank.withRowNumber(spend, "rn",
        Seq(col("total_spent").desc, col("o_custkey")))
      .crossJoin(broadcast(spend.agg(count(lit(1)).as("n"))))
      .withColumn("spend_quartile", expr(
        "CAST(CASE WHEN rn <= (n % 4) * (n div 4 + 1) " +
        "THEN (rn - 1) div (n div 4 + 1) + 1 " +
        "ELSE (n % 4) + (rn - (n % 4) * (n div 4 + 1) - 1) " +
        "div greatest(n div 4, 1) + 1 END AS INT)"))
      .withColumn("pct_rank", expr(
        "CASE WHEN n = 1 THEN 0.0 " +
        "ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END"))
      .withColumn("cume", expr(
        "CAST(rn AS DOUBLE) / CAST(n AS DOUBLE)"))
      .select(col("o_custkey"), col("total_spent"),
        col("spend_quartile"), col("pct_rank"), col("cume"))
      .orderBy("o_custkey")
  }

  /** DuckDB oracle for [[customerSpendRank]]. */
  private[graft] def customerSpendRankOracleSql: String =
    s"""WITH s AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS total_spent
       |  FROM orders GROUP BY 1)
       |SELECT o_custkey, total_spent,
       |  ntile(4) OVER w AS spend_quartile,
       |  percent_rank() OVER w AS pct_rank,
       |  cume_dist() OVER w AS cume
       |FROM s
       |WINDOW w AS (ORDER BY total_spent DESC, o_custkey)
       |ORDER BY o_custkey""".stripMargin

  /** Pricing summary implemented through the SQL FRONT DOOR
    * (`spark.sql` over registered temp views) rather than the DataFrame
    * DSL — the same Catalyst plan either way, but this registers proof
    * that a SQL-speaking user of the reference can run ANSI SQL against
    * this engine verbatim: the oracle string below differs only in the
    * decimal cast spelling. TPC-H Q1-shaped: returnflag/linestatus
    * pricing rollup with exact decimal sums.
    *
    * Catalog hygiene: the temp view exists only for the duration of
    * this call — a uniquely-named view is registered, resolved (Dataset
    * analysis is eager, so the returned plan no longer needs the
    * catalog entry), and dropped. A fixed global name would clobber a
    * user's own view of the same name and leak catalog state between
    * concurrent callers; every other operator is catalog-side-effect
    * free and this one now is too. */
  def pricingSummarySql(spark: SparkSession, dir: String): DataFrame = {
    val view = "graft_lineitem_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    Tables.lineitem(spark, dir).createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         |    AS DOUBLE) AS sum_disc_price,
         |  count(*) AS count_order
         |FROM $view
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** DuckDB oracle for [[pricingSummarySql]] — the same ANSI text. */
  private[graft] def pricingSummarySqlOracleSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       |    AS DOUBLE) AS sum_disc_price,
       |  count(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Fan-out of the synthetic key hierarchy in [[keyHierarchyRollup]]:
    * parent(c) = c div [[HierarchyFanout]]; keys below the fanout are
    * roots. Derived arithmetically from the dense custkey space, so
    * both engines construct the identical tree from the raw table. */
  val HierarchyFanout = 8

  /** RECURSIVE-CTE hierarchy rollup (`WITH RECURSIVE`, new in Spark 4)
    * — the iterative relational surface none of the other 280 queries
    * touch: a parent tree over the customer key space walked to a
    * fixpoint, then a census at depth grain (row count, distinct
    * roots, balance cents). The recursion's work per level is ONE hash
    * join keyed on the parent key, and the level count is
    * log_fanout(N) — ~13 levels at 100 TB key cardinality, each a
    * bounded self-contained job (this is exactly the shape the
    * GraphX connected-components search of the dedup family runs;
    * `WITH RECURSIVE` is its declarative form, and the spec pins it to
    * the closed-form depth floor(log_fanout k)).
    *
    * Oracle: the identical recursion text in DuckDB (`div` ↔ `//`). */
  def keyHierarchyRollup(spark: SparkSession, dir: String): DataFrame = {
    val view = "graft_customer_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    Tables.customer(spark, dir).createOrReplaceTempView(view)
    try spark.sql(
      s"""WITH RECURSIVE h(c_custkey, root_key, depth, bal_c) AS (
         |  SELECT c_custkey, c_custkey, 0,
         |    CAST(round(c_acctbal * 100) AS BIGINT)
         |  FROM $view WHERE c_custkey < $HierarchyFanout
         |  UNION ALL
         |  SELECT c.c_custkey, h.root_key, h.depth + 1,
         |    CAST(round(c.c_acctbal * 100) AS BIGINT)
         |  FROM $view c JOIN h
         |    ON c.c_custkey div $HierarchyFanout = h.c_custkey
         |  WHERE c.c_custkey >= $HierarchyFanout)
         |SELECT depth, count(*) AS n_customers,
         |  count(DISTINCT root_key) AS n_roots,
         |  CAST(sum(bal_c) AS BIGINT) AS sum_bal_c,
         |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
         |FROM h GROUP BY depth ORDER BY depth""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** DuckDB oracle for [[keyHierarchyRollup]] — same recursion,
    * `//` floor div (keys non-negative, standing rule). */
  private[graft] def keyHierarchyRollupOracleSql: String =
    s"""WITH RECURSIVE h(c_custkey, root_key, depth, bal_c) AS (
       |  SELECT c_custkey, c_custkey, 0,
       |    CAST(round(c_acctbal * 100) AS BIGINT)
       |  FROM customer WHERE c_custkey < $HierarchyFanout
       |  UNION ALL
       |  SELECT c.c_custkey, h.root_key, h.depth + 1,
       |    CAST(round(c.c_acctbal * 100) AS BIGINT)
       |  FROM customer c JOIN h
       |    ON c.c_custkey // $HierarchyFanout = h.c_custkey
       |  WHERE c.c_custkey >= $HierarchyFanout)
       |SELECT depth, count(*) AS n_customers,
       |  count(DISTINCT root_key) AS n_roots,
       |  CAST(sum(bal_c) AS BIGINT) AS sum_bal_c,
       |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
       |FROM h GROUP BY depth ORDER BY depth""".stripMargin

  /** PENNY ALLOCATION (largest-remainder prorating) — distribute each
    * order's header total across its lines proportional to line price,
    * in cents, so the allocations SUM BACK EXACTLY: floor division
    * gives the base cents, and the leftover r = total − Σfloor pennies
    * go to the r lines with the largest division remainders
    * (linenumber tie-break). This is the financial-engineering
    * operator every billing/revenue-recognition pipeline needs and
    * floating-point prorating silently gets wrong — here every step is
    * integer (products in DECIMAL(38)/HUGEINT), and the emitted audit
    * proves conservation per order: alloc_sum_c ≡ total_c, n_bumped ≡
    * the remainder. Per-line values are pinned without emitting lines
    * by a linenumber-weighted checksum.
    *
    * Scale: line-grain work rides ONE orderkey-partitioned shuffle —
    * the per-order sum, the remainder rank, and the audit re-aggregate
    * all share it (co-partitioned window + aggs); output is order
    * grain. */
  def pennyAllocationAudit(spark: SparkSession, dir: String): DataFrame =
    pennyAllocationAuditOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("total_c")),
        col("l_orderkey") === col("o_orderkey")))

  /** [[pennyAllocationAudit]]'s math core over an injectable
    * (l_orderkey, ln, price_c, total_c) line frame — property-tested
    * against a plain-Scala BigInt largest-remainder reference in
    * StatPropertiesSpec. */
  private[graft] def pennyAllocationAuditOf(lines: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
    val scored = lines
      .withColumn("sum_c", sum(col("price_c")).over(w))
      .withColumn("base_c",
        expr("CAST(total_c AS DECIMAL(38,0)) * price_c div sum_c"))
      .withColumn("frac",
        expr("CAST(CAST(total_c AS DECIMAL(38,0)) * price_c % sum_c" +
          " AS BIGINT)"))
      .withColumn("r", col("total_c") - sum(col("base_c")).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("frac").desc, col("ln"))).cast("long"))
      .withColumn("alloc_c",
        col("base_c") + when(col("rk") <= col("r"), 1L).otherwise(0L))
    scored
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        max(col("total_c")).as("total_c"),
        sum(col("alloc_c")).as("alloc_sum_c"),
        sum(when(col("rk") <= col("r"), 1L).otherwise(0L)).as("n_bumped"),
        sum(col("alloc_c") * col("ln")).as("alloc_checksum"))
      .orderBy("l_orderkey")
  }

  /** DuckDB oracle for [[pennyAllocationAudit]] — same floor/mod
    * arithmetic over HUGEINT products. */
  private[graft] def pennyAllocationAuditOracleSql: String =
    s"""WITH l AS (
       |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_c
       |  FROM lineitem JOIN orders o ON l_orderkey = o.o_orderkey),
       |s AS (
       |  SELECT *,
       |    CAST(sum(price_c) OVER (PARTITION BY l_orderkey) AS BIGINT)
       |      AS sum_c
       |  FROM l),
       |b AS (
       |  SELECT *,
       |    CAST(CAST(total_c AS HUGEINT) * price_c // sum_c AS BIGINT)
       |      AS base_c,
       |    CAST(CAST(total_c AS HUGEINT) * price_c % sum_c AS BIGINT)
       |      AS frac
       |  FROM s),
       |r AS (
       |  SELECT *,
       |    total_c - CAST(sum(base_c) OVER (PARTITION BY l_orderkey)
       |      AS BIGINT) AS rem,
       |    CAST(row_number() OVER (PARTITION BY l_orderkey
       |      ORDER BY frac DESC, ln) AS BIGINT) AS rk
       |  FROM b),
       |a AS (
       |  SELECT *, base_c + CASE WHEN rk <= rem THEN 1 ELSE 0 END
       |    AS alloc_c
       |  FROM r)
       |SELECT l_orderkey,
       |  count(*) AS n_lines,
       |  max(total_c) AS total_c,
       |  CAST(sum(alloc_c) AS BIGINT) AS alloc_sum_c,
       |  CAST(sum(CASE WHEN rk <= rem THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bumped,
       |  CAST(sum(alloc_c * ln) AS BIGINT) AS alloc_checksum
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin

  /** Total sample budget for [[neymanSample]] (shared with the
    * oracle). */
  val NeymanBudget = 500

  /** NEYMAN-ALLOCATION STRATIFIED SAMPLE — the survey-sampling classic
    * a curation pipeline uses when strata differ in spread: a fixed
    * budget of [[NeymanBudget]] draws splits across market segments
    * proportional to N_h·σ_h (high-variance strata earn more of the
    * budget than proportional allocation would give), with the split
    * EXACT by construction: N_h·σ_h = √(n·Σv² − (Σv)²) — the
    * population-variance numerator in DECIMAL(38), its square root the
    * operator's ONE float (IEEE-correctly-rounded identically on both
    * engines, immediately re-quantized to int millis) — and the
    * integer budget split by the [[pennyAllocationAudit]]
    * largest-remainder device, so Σ quota ≡ the budget whenever every
    * stratum can fill its quota. The draw itself is
    * `TextOps.stratifiedSample`'s rule: deterministic salted md5
    * order, rank-capped per stratum.
    *
    * Scale shape: moments are one partial+final aggregate; the
    * allocation runs over the |segments|-row stats frame (the
    * unpartitioned windows see 5 rows, never the fact); the draw's
    * keyed rank filters `rk <= budget` FIRST — WindowGroupLimit
    * forwards at most budget rows per stratum from each map partition
    * — then the 5-row quota broadcast trims to the exact per-stratum
    * quota. */
  def neymanSample(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("v"))
    val alloc = budgetSplit(neymanStats(base), col("weight_milli"))
      .select(col("seg"), col("quota"))
    val wSeg = Window.partitionBy("seg")
      .orderBy(col("u"), col("c_custkey"))
    base
      .withColumn("u", expr("cast(conv(substring(md5(concat('neyman', " +
        "cast(c_custkey as string))), 1, 15), 16, 10) as bigint)"))
      .withColumn("rk", row_number().over(wSeg).cast("long"))
      .filter(col("rk") <= lit(NeymanBudget))
      .join(broadcast(alloc), Seq("seg"))
      .filter(col("rk") <= col("quota"))
      .select(col("seg"), col("quota"), col("rk"), col("c_custkey"))
      .orderBy("seg", "rk")
  }

  /** Per-stratum exact moments of the (seg, v) frame — count, Σv, Σv²
    * (DECIMAL(38)), the population-variance NUMERATOR n·Σv² − (Σv)²,
    * and the Neyman weight N_h·σ_h = √var_num re-quantized to int
    * millis (the one float, identically rounded both engines). Shared
    * by [[neymanSample]] and [[allocationVarianceAudit]].
    *
    * Cross-engine √ at ANY scale: a direct DECIMAL(38)→DOUBLE /
    * HUGEINT→DOUBLE cast is correctly rounded on Spark but DuckDB's
    * two-limb HUGEINT conversion can double-round above 2^64 (var_num
    * crosses 2^64 around sf1), so [[weightMilliSql]] first floor-divides
    * var_num by a power of 4 until it fits in a BIGINT (< 2^62 — both
    * engines then convert the SAME exact integer, correctly rounded by
    * IEEE), takes the one √, and multiplies back by the matching power
    * of 2 (an exact double exponent shift). The reduction loses < 2^-30
    * relative precision — identical on both engines by construction,
    * which is the property the oracle gate needs. */
  private def neymanStats(base: DataFrame): DataFrame =
    base.groupBy("seg").agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("s1"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("s2"))
      .withColumn("var_num",
        expr("CAST(n AS DECIMAL(38,0)) * s2 - " +
          "CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("weight_milli",
        expr(weightMilliSql("var_num", "DECIMAL(38,0)", "div")))

  /** The [[neymanStats]] weight expression, rendered for either engine
    * (`decTy`/`idiv` = `DECIMAL(38,0)`/`div` on Spark, `HUGEINT`/`//`
    * on DuckDB): BIGINT-safe scaled √ of an exact wide-integer column.
    * Branch thresholds 2^62 and 2^94 pick the smallest power-of-4
    * reduction that lands the operand under 2^62 (DECIMAL(38) < 2^127,
    * so two branches cover the whole domain); the scale-back multiplier
    * is the SQUARE ROOT of the reduction — √(2^32) = 2^16 after a 2^32
    * floor-divide, √(2^64) = 2^32 after a 2^64 one — both exact in a
    * double, so √v ≈ mult·√(v div 4^k) is continuous across the branch
    * thresholds (the r16 advisory caught the shipped 2^32 / 2^64
    * multipliers inflating branch-2/3 weights 65536× / ~4.3e9× and
    * breaking Neyman quotas whenever strata straddled a branch). */
  private[graft] def weightMilliSql(v: String, decTy: String,
      idiv: String): String = {
    val p62 = "4611686018427387904" // 2^62, a BIGINT literal
    val p94 = s"CAST('19807040628566084398385987584' AS $decTy)" // 2^94
    val d32 = s"CAST('4294967296' AS $decTy)" // 2^32
    val d64 = s"CAST('18446744073709551616' AS $decTy)" // 2^64
    s"""CAST(round(1000 * (CASE
       |  WHEN $v < $p62 THEN sqrt(CAST(CAST($v AS BIGINT) AS DOUBLE))
       |  WHEN $v < $p94 THEN CAST(65536 AS DOUBLE) *
       |    sqrt(CAST(CAST($v $idiv $d32 AS BIGINT) AS DOUBLE))
       |  ELSE CAST(4294967296 AS DOUBLE) *
       |    sqrt(CAST(CAST($v $idiv $d64 AS BIGINT) AS DOUBLE))
       |END)) AS BIGINT)""".stripMargin
  }

  /** Largest-remainder split of [[NeymanBudget]] across the stats
    * frame's strata proportional to `weightCol` (any non-negative
    * integer weight) — adds `quota` with Σ quota ≡ the budget; the
    * [[pennyAllocationAudit]] device over the |strata|-row frame (the
    * unpartitioned windows see 5 rows, never the fact). An
    * all-zero-weight corpus (every stratum zero-variance under Neyman)
    * degrades to EQUAL allocation — w=1 per stratum over a divisor of
    * |strata| — rather than to zero base quotas: the r16 advisory
    * showed the zero-quota degenerate handed every stratum a +1 from
    * the largest-remainder pass and summed to |strata|, silently
    * violating the documented Σ quota ≡ budget invariant (identically
    * on both engines, so the oracle gate could never see it). The
    * fallback is rendered identically in both engines' SQL. */
  private def budgetSplit(stats: DataFrame, weightCol: Column)
      : DataFrame = {
    val wAlloc = Window.partitionBy()
    stats
      .withColumn("w", weightCol.cast("long"))
      .withColumn("w_total", sum(col("w")).over(wAlloc))
      .withColumn("w_eff",
        when(col("w_total") === 0L, 1L).otherwise(col("w")))
      .withColumn("wt_eff",
        when(col("w_total") === 0L, count(lit(1)).over(wAlloc))
          .otherwise(col("w_total")))
      .withColumn("base_q",
        expr(s"CAST(CAST($NeymanBudget AS DECIMAL(38,0)) * w_eff" +
          " div wt_eff AS BIGINT)"))
      .withColumn("frac",
        expr(s"CAST(CAST($NeymanBudget AS DECIMAL(38,0)) * w_eff" +
          " % wt_eff AS BIGINT)"))
      .withColumn("leftover",
        lit(NeymanBudget.toLong) - sum(col("base_q")).over(wAlloc))
      .withColumn("rk_rem", row_number().over(
        wAlloc.orderBy(col("frac").desc, col("seg"))).cast("long"))
      .withColumn("quota", col("base_q") +
        when(col("rk_rem") <= col("leftover"), 1L).otherwise(0L))
      .drop("w", "w_total", "w_eff", "wt_eff", "base_q", "frac",
        "leftover", "rk_rem")
  }

  /** ALLOCATION-VARIANCE AUDIT — the quantified defense of
    * [[neymanSample]]'s allocation rule: for the three standard
    * stratified designs (equal, proportional, Neyman), the variance of
    * the stratified-mean estimator, Var = Σ_h (W_h·σ_h)²/n_h
    * = Σ_h var_num_h / (N²·n_h) (no finite-population correction),
    * emitted per (allocation, stratum) as an exact floor-milli integer
    * term so the three designs' totals compare directly — Neyman's
    * total is minimal by Cauchy-Schwarz, and this table shows it as
    * data rather than doctrine (it is also the input to the "is
    * Neyman worth the σ estimation pass" call a sampling pipeline
    * makes). All arithmetic rides [[neymanStats]]' exact DECIMAL(38)
    * variance numerators; quotas come from the SAME
    * [[budgetSplit]] device the sampler uses, so the audited design is
    * exactly the shipped one.
    *
    * Scale shape: one moments aggregate over the fact, then everything
    * runs on |strata|-row frames and a 1-row count broadcast. A
    * zero-quota stratum contributes a 0 term by convention (reachable
    * only with a zero-variance stratum under Neyman, where the true
    * term IS 0). */
  def allocationVarianceAudit(spark: SparkSession, dir: String)
      : DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("v"))
    val stats = neymanStats(base)
    val allocs = Seq(
        ("equal", lit(1L)),
        ("proportional", col("n")),
        ("neyman", col("weight_milli")))
      .map { case (nm, w) =>
        budgetSplit(stats, w).withColumn("allocation", lit(nm))
      }
      .reduce(_.unionByName(_))
    val nAll = base.agg(count(lit(1)).as("n_total"))
    allocs.crossJoin(broadcast(nAll))
      .withColumn("term_milli",
        expr("CASE WHEN quota = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "CAST(CAST(1000 AS DECIMAL(38,0)) * var_num div " +
          "(CAST(n_total AS DECIMAL(38,0)) * n_total * quota) " +
          "AS BIGINT) END"))
      .select(col("allocation"), col("seg"), col("n").as("n_members"),
        col("quota"), col("term_milli"))
      .orderBy("allocation", "seg")
  }

  /** DuckDB oracle for [[allocationVarianceAudit]] — same moments, same
    * three largest-remainder splits, same floor-milli variance terms
    * over HUGEINT products. */
  private[graft] def allocationVarianceAuditOracleSql: String = {
    val chains = Seq(
      ("equal", "1"),
      ("proportional", "n"),
      ("neyman", "weight_milli")).map { case (nm, w) =>
      s"""al_$nm AS (
         |  SELECT seg, n, var_num, CAST($w AS BIGINT) AS w,
         |    CAST(sum(CAST($w AS BIGINT)) OVER () AS BIGINT) AS w_total,
         |    CAST(count(*) OVER () AS BIGINT) AS n_strata
         |  FROM wg),
         |ew_$nm AS (
         |  SELECT seg, n, var_num,
         |    CASE WHEN w_total = 0 THEN 1 ELSE w END AS w_eff,
         |    CASE WHEN w_total = 0 THEN n_strata ELSE w_total END
         |      AS wt_eff
         |  FROM al_$nm),
         |bq_$nm AS (
         |  SELECT seg, n, var_num,
         |    CAST(CAST($NeymanBudget AS HUGEINT) * w_eff
         |      // wt_eff AS BIGINT) AS base_q,
         |    CAST(CAST($NeymanBudget AS HUGEINT) * w_eff
         |      % wt_eff AS BIGINT) AS frac
         |  FROM ew_$nm),
         |lo_$nm AS (
         |  SELECT seg, n, var_num, base_q,
         |    $NeymanBudget - CAST(sum(base_q) OVER () AS BIGINT)
         |      AS leftover,
         |    CAST(row_number() OVER (ORDER BY frac DESC, seg)
         |      AS BIGINT) AS rk
         |  FROM bq_$nm),
         |q_$nm AS (
         |  SELECT '$nm' AS allocation, seg, n, var_num,
         |    base_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
         |      AS quota
         |  FROM lo_$nm)""".stripMargin
    }.mkString(",\n")
    val unions = Seq("equal", "proportional", "neyman")
      .map(nm => s"SELECT * FROM q_$nm").mkString("\n  UNION ALL ")
    s"""WITH b AS (
       |  SELECT c_mktsegment AS seg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS v
       |  FROM customer),
       |st AS (
       |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s1,
       |    sum(CAST(v AS HUGEINT) * v) AS s2
       |  FROM b GROUP BY seg),
       |wg AS (
       |  SELECT seg, n, var_num,
       |    ${weightMilliSql("var_num", "HUGEINT", "//")} AS weight_milli
       |  FROM (SELECT seg, n,
       |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
       |      AS var_num FROM st) stv),
       |$chains,
       |u AS (
       |  $unions),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b)
       |SELECT u.allocation, u.seg, u.n AS n_members,
       |  CAST(u.quota AS BIGINT) AS quota,
       |  CASE WHEN u.quota = 0 THEN CAST(0 AS BIGINT) ELSE
       |    CAST(CAST(1000 AS HUGEINT) * u.var_num //
       |      (CAST(nt.n_total AS HUGEINT) * nt.n_total * u.quota)
       |      AS BIGINT) END AS term_milli
       |FROM u CROSS JOIN nt
       |ORDER BY u.allocation, u.seg""".stripMargin
  }

  /** DuckDB oracle for [[neymanSample]] — same DECIMAL/HUGEINT variance
    * numerator, same milli-quantized √, same largest-remainder split,
    * same salted-md5 draw order. */
  private[graft] def neymanSampleOracleSql: String =
    s"""WITH b AS (
       |  SELECT c_custkey, c_mktsegment AS seg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS v
       |  FROM customer),
       |st AS (
       |  SELECT seg, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS s1,
       |    sum(CAST(v AS HUGEINT) * v) AS s2
       |  FROM b GROUP BY seg),
       |wgt AS (
       |  SELECT seg,
       |    ${weightMilliSql("var_num", "HUGEINT", "//")} AS weight_milli
       |  FROM (SELECT seg,
       |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
       |      AS var_num FROM st) stv),
       |al AS (
       |  SELECT seg, weight_milli,
       |    CAST(sum(weight_milli) OVER () AS BIGINT) AS w_total,
       |    CAST(count(*) OVER () AS BIGINT) AS n_strata
       |  FROM wgt),
       |alw AS (
       |  SELECT seg,
       |    CASE WHEN w_total = 0 THEN 1 ELSE weight_milli END AS w_eff,
       |    CASE WHEN w_total = 0 THEN n_strata ELSE w_total END
       |      AS wt_eff
       |  FROM al),
       |al2 AS (
       |  SELECT seg,
       |    CAST(CAST($NeymanBudget AS HUGEINT) * w_eff
       |      // wt_eff AS BIGINT) AS base_q,
       |    CAST(CAST($NeymanBudget AS HUGEINT) * w_eff
       |      % wt_eff
       |      AS BIGINT) AS frac
       |  FROM alw),
       |al3 AS (
       |  SELECT seg, base_q, frac,
       |    $NeymanBudget - CAST(sum(base_q) OVER () AS BIGINT)
       |      AS leftover,
       |    CAST(row_number() OVER (ORDER BY frac DESC, seg) AS BIGINT)
       |      AS rk_rem
       |  FROM al2),
       |q AS (
       |  SELECT seg, base_q + CASE WHEN rk_rem <= leftover
       |    THEN 1 ELSE 0 END AS quota
       |  FROM al3),
       |d AS (
       |  SELECT seg, c_custkey,
       |    CAST(row_number() OVER (PARTITION BY seg ORDER BY
       |      CAST('0x' || substr(md5('neyman' ||
       |        CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT),
       |      c_custkey) AS BIGINT) AS rk
       |  FROM b)
       |SELECT d.seg, CAST(q.quota AS BIGINT) AS quota, d.rk, d.c_custkey
       |FROM d JOIN q ON d.seg = q.seg
       |WHERE d.rk <= q.quota
       |ORDER BY d.seg, d.rk""".stripMargin

  /** Data-quality report: one row per integrity check with its violation
    * count — referential orphans (LEFT ANTI joins: the dimension side
    * broadcasts when small, otherwise a null-safe hash shuffle on the
    * FK; either way no fact row survives past its check), duplicate
    * primary keys (count-per-key aggregate filtered > 1), null and
    * domain violations (plain filtered counts). This is the real DQ
    * pass behind the reference's cache-key-existence "validation"
    * (`airflow/dags/cdc_etl_orchestration.py:294-323`) — each check is
    * one scan-shaped aggregate, so the whole report is a union of
    * one-row frames and runs in a single job at any scale. */
  def dqReport(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    def count1(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check"), col("n_violations"))
    count1("duplicate_order_keys",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1))
      .unionByName(count1("lineitem_without_order",
        l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")))
      .unionByName(count1("lineitem_without_part",
        l.join(p, l("l_partkey") === p("p_partkey"), "left_anti")))
      .unionByName(count1("negative_totalprice",
        o.filter(col("o_totalprice") < 0)))
      .unionByName(count1("null_order_dates",
        o.filter(col("o_orderdate").isNull)))
      .unionByName(count1("orders_without_customer",
        o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
      .orderBy("check")
  }

  /** DuckDB oracle for [[dqReport]]. */
  private[graft] def dqReportOracleSql: String =
    s"""SELECT * FROM (
       |  SELECT 'duplicate_order_keys' AS check, count(*) AS n_violations
       |  FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
       |  UNION ALL
       |  SELECT 'lineitem_without_order', count(*) FROM lineitem l
       |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
       |  UNION ALL
       |  SELECT 'lineitem_without_part', count(*) FROM lineitem l
       |  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
       |  UNION ALL
       |  SELECT 'negative_totalprice', count(*) FROM orders WHERE o_totalprice < 0
       |  UNION ALL
       |  SELECT 'null_order_dates', count(*) FROM orders WHERE o_orderdate IS NULL
       |  UNION ALL
       |  SELECT 'orders_without_customer', count(*) FROM orders o
       |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
       |ORDER BY 1""".stripMargin

  /** Cross-derivation revenue reconciliation — the audit query every
    * warehouse runs: the SAME daily metric derived two independent ways
    * (order-header `o_totalprice` vs line-level Σ extendedprice·(1−disc)
    * rolled up through the join), FULL OUTER joined on the day so a day
    * present in only one derivation surfaces instead of disappearing
    * into an inner join. Emits both sides, their exact-decimal delta,
    * and the day's line/order counts; the generator's header-vs-lines
    * discrepancy is the REPORT, not an error — what matters is that
    * both paths and the delta are decimal-exact and the join drops
    * nothing.
    *
    * Scale shape: two independent partial+final day-grain aggregates
    * (one per derivation — each shuffles once on the day key), then a
    * day-grain FULL OUTER merge of two calendar-sized frames. The fact
    * tables are never joined row-to-row: reconciliation happens at the
    * AGGREGATE grain, which is what makes it run at 100 TB. */
  /** The five TPC-H market segments, pinned as PIVOT columns (a pivot
    * with an explicit value list stays a single-pass conditional
    * aggregation; an implicit list costs a distinct-scan first). */
  val MktSegments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** PIVOT surface: per-nation order revenue spread across one column
    * per market segment — the cross-tab report shape (nation rows ×
    * segment columns) every BI layer asks of an engine. Uses Spark's
    * native `pivot` WITH the explicit segment list so the plan is ONE
    * hash aggregate of conditional sums (no distinct pre-scan, no
    * second shuffle); the oracle mirrors it as CASE-filtered sums —
    * which is also this query's own 100 TB contract: a pivot over a
    * bounded, KNOWN column domain is a projection trick, and a pivot
    * over an unbounded domain is a design error, not a query.
    * Revenue is integer cents ⇒ hash-exact. */
  def segmentPivot(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        col("c_mktsegment"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    base.groupBy("n_name")
      .pivot("c_mktsegment", MktSegments)
      .agg(coalesce(sum(col("cents")), lit(0L)))
      // r19 correctness fix (inherited, surfaced at sf0.001): the
      // coalesce above runs INSIDE each (nation, segment) group, so a
      // combination with NO rows still pivots to NULL — the oracle's
      // CASE-filtered sums emit 0 there. Invisible at sf0.01/sf0.1
      // (every cell populated); the post-pivot coalesce makes the
      // empty-cell contract explicit and identical.
      .select(col("n_name") +:
        MktSegments.map(s => coalesce(col(s), lit(0L)).as(s)): _*)
      .orderBy("n_name")
  }

  /** DuckDB oracle for [[segmentPivot]] — the explicit conditional
    * aggregation the pivot compiles to. */
  private[graft] def segmentPivotOracleSql: String = {
    val arms = MktSegments.map(s =>
      s"""  CAST(coalesce(sum(CASE WHEN c_mktsegment = '$s'
         | THEN CAST(round(o_totalprice * 100) AS BIGINT) END), 0)
         | AS BIGINT) AS "$s"""".stripMargin.replace("\n", ""))
      .mkString(",\n")
    s"""SELECT n_name,
       |$arms
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin
  }

  /** Trailing-7-day revenue via an integer RANGE window frame — the
    * moving-total surface (`RANGE BETWEEN 6 PRECEDING AND CURRENT
    * ROW`) whose semantics differ from a ROWS frame exactly when days
    * are MISSING: a rows frame would reach back seven PRESENT days,
    * the range frame reaches back seven CALENDAR days and counts the
    * holes (n_days_present ≤ 7 says how many actually traded). The
    * frame key is the exact epoch-day integer, so frame membership is
    * pure integer arithmetic in both engines; the trailing average is
    * the standing non-negative floor division (cents).
    *
    * Scale: day-grain frame after one partial+final hash aggregate
    * (the [[paretoFrontier]] single-partition-by-design rule). */
  def revenueTrailing7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .withColumn("day_idx", datediff(col("day"), lit("1970-01-01")))
    val w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    daily
      .withColumn("rev_7d_c", sum(col("rev_c")).over(w))
      .withColumn("n_days_present", count(lit(1)).over(w))
      .select(col("day"), col("rev_c"), col("rev_7d_c"),
        col("n_days_present"),
        expr("rev_7d_c div n_days_present").as("avg_present_day_c"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[revenueTrailing7d]] — same epoch-day RANGE
    * frame, same floor division. */
  private[graft] def revenueTrailing7dOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1),
       |d AS (
       |  SELECT day, rev_c,
       |    datediff('day', DATE '1970-01-01', day) AS day_idx
       |  FROM daily),
       |wf AS (
       |  SELECT day, rev_c,
       |    CAST(sum(rev_c) OVER (ORDER BY day_idx
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS rev_7d_c,
       |    CAST(count(*) OVER (ORDER BY day_idx
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_days_present
       |  FROM d)
       |SELECT day, rev_c, rev_7d_c, n_days_present,
       |  rev_7d_c // n_days_present AS avg_present_day_c
       |FROM wf
       |ORDER BY day""".stripMargin

  /** Equi-depth decile boundaries over line-item quantities — the
    * NTILE surface: ten equal-population buckets with their observed
    * [min, max] envelope and mass, the equi-DEPTH histogram an
    * optimizer's statistics collector builds (contrast the equi-WIDTH
    * bins of `TextOps.splitDrift`). NTILE needs a TOTAL order to be
    * deterministic — quantity alone has massive ties, so the sort key
    * is (quantity, orderkey, linenumber), the standing tie-break rule.
    * Quantities are integral by data contract (asserted by the round
    * cast), so every output is an exact integer.
    *
    * Scale: an unpartitioned `ntile(10)` window would compile to
    * `Exchange SinglePartition` — the ENTIRE fact table through one
    * task. Instead the bucket comes from [[GlobalRank.withNtile]]'s
    * exact two-phase rank (one range exchange + per-partition row
    * numbers + broadcast prefix offsets — the same shuffle cost as a
    * plain ORDER BY, full parallelism, bit-identical to NTILE); the
    * decile read-out is a 10-row aggregate. At 100 TB the approximate
    * twin is `length_quantile_sketch`'s fixed-bin covering rule; this
    * is the exact form. */
  def quantityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(round(col("l_quantity")).cast("long").as("q"),
        col("l_orderkey"), col("l_linenumber"))
    GlobalRank.withNtile(base, "decile", 10,
        Seq(col("q"), col("l_orderkey"), col("l_linenumber")))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), min(col("q")).as("min_q"),
        max(col("q")).as("max_q"), sum(col("q")).as("sum_q"))
      .orderBy("decile")
  }

  /** DuckDB oracle for [[quantityDeciles]] — same total order, same
    * bucket read-out. */
  private[graft] def quantityDecilesOracleSql: String =
    s"""WITH t AS (
       |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
       |    ntile(10) OVER (ORDER BY round(l_quantity), l_orderkey,
       |      l_linenumber) AS decile
       |  FROM lineitem)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n,
       |  min(q) AS min_q, max(q) AS max_q,
       |  CAST(sum(q) AS BIGINT) AS sum_q
       |FROM t GROUP BY decile
       |ORDER BY decile""".stripMargin

  /** Percentiles picked by [[factPercentilesExact]] (shared with the
    * oracle). */
  val FactPercentiles: Seq[Int] = Seq(50, 90, 99)

  /** EXACT percentiles at FACT grain — the A4 surface taken to the
    * full lineitem table with no approximation and no single-partition
    * anything: nearest-rank p50/p90/p99 of the quantity distribution
    * via [[GlobalRank.withRowNumber]] (one range exchange at full
    * parallelism), the percentile positions ⌈p·n/100⌉ computed from a
    * 1-row count anchor against a 3-row percentile spine, and the
    * picks one broadcast hash join on the dense rank. This is the
    * exact complement of `length_quantile_sketch`'s mergeable
    * approximate form: same question, zero error, still
    * cluster-parallel — the pattern a 100 TB engine uses when an SLA
    * needs the TRUE p99, not a sketch bound. Nearest-rank definition
    * (no interpolation), so every output is a value that exists in
    * the data — integer-exact cross-engine. */
  def factPercentilesExact(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(round(col("l_quantity")).cast("long").as("q"),
        col("l_orderkey"), col("l_linenumber"))
    val ranked = GlobalRank.withRowNumber(base, "rn",
      Seq(col("q"), col("l_orderkey"), col("l_linenumber")))
    // r18 (guide §1.2): the count anchor reads the GlobalRank
    // checkpoint, not `base` — the old form paid a second full
    // lineitem scan for one number.
    val positions = ranked.agg(count(lit(1)).as("c"))
      .crossJoin(
        spark.createDataFrame(FactPercentiles.map(Tuple1(_))).toDF("pct"))
      .withColumn("pos", expr("(pct * c + 99) div 100"))
      .select(col("pct"), col("pos"))
    ranked
      .join(broadcast(positions), col("rn") === col("pos"))
      .select(col("pct"), col("pos"), col("q").as("value"))
      .orderBy("pct")
  }

  /** DuckDB oracle for [[factPercentilesExact]] — same tie-broken
    * total order, same ⌈p·n/100⌉ nearest-rank pick. */
  private[graft] def factPercentilesExactOracleSql: String =
    s"""WITH t AS (
       |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
       |    CAST(row_number() OVER (ORDER BY round(l_quantity),
       |      l_orderkey, l_linenumber) AS BIGINT) AS rn
       |  FROM lineitem),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem),
       |p AS (SELECT unnest([${FactPercentiles.mkString(", ")}]) AS pct),
       |pos AS (
       |  SELECT CAST(pct AS INT) AS pct,
       |    (pct * c + 99) // 100 AS pos
       |  FROM p CROSS JOIN n)
       |SELECT pos.pct, pos.pos, t.q AS value
       |FROM pos JOIN t ON t.rn = pos.pos
       |ORDER BY pos.pct""".stripMargin

  /** Percentiles interpolated by [[interpPercentilesExact]] (shared
    * with the oracle). */
  val InterpPcts: Seq[Int] = Seq(25, 50, 90)

  /** EXACT LINEARLY-INTERPOLATED percentiles (`percentile_cont`
    * semantics) per return flag, in PURE INTEGER arithmetic — the
    * interpolated sibling of [[factPercentilesExact]]'s nearest-rank
    * picks, and the engine's answer to "percentile_cont returns a
    * computed double whose float interpolation can't be hash-anchored
    * cross-engine": at q, the continuous position is
    * 1 + (n−1)·q/100 = lo + frac/100 with lo and frac EXACT integers,
    * so the interpolated value v_lo + (v_hi−v_lo)·frac/100 is an exact
    * integer in CENTI-CENTS (cents × 100) — every emitted number
    * derives from integers, the one double being a single division of
    * identical int64 operands.
    *
    * Scale: `flag` is a 3-value enum over lineitem grain — the rank
    * rides [[GlobalRank.withGroupedRowNumber]]'s two-phase pass (the
    * enum-keyed window hazard), n is a 3-row broadcast, and the two
    * bracketing values per (flag, pct) come from conditional
    * aggregates, not a sort-and-pick. Ties on cents leave rank
    * assignment among peers arbitrary — sound: tied rows carry equal
    * values, so the bracket picks are permutation-invariant. */
  def interpPercentilesExact(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
    // r18 optimizations (guide §1.2/§3.3): (a) the per-flag counts read
    // the GlobalRank checkpoint instead of replanning `base` — the old
    // form paid a second full lineitem scan for a 3-row aggregate; (b)
    // the 3-row bracket aggregate is localCheckpointed before the
    // per-percentile union fan-out — each of the 5 arms used to replan
    // the ENTIRE rank+aggregate pipeline (column pruning gives every
    // arm a differently-pruned aggregate, so no exchange reuse: the
    // before-plan carries 5 copies of the checkpoint-read+join+agg
    // subtree, 12 BroadcastHashJoins in all; after, ONE aggregate runs
    // and 5 projections read 3 checkpointed rows).
    val ranked0 = GlobalRank.withGroupedRowNumber(base, "rn",
      Seq(col("flag")),
      Seq(col("cents"), col("l_orderkey"), col("l_linenumber")))
    val counts = ranked0.groupBy("flag").agg(count(lit(1)).as("n"))
    val ranked = ranked0.join(broadcast(counts), Seq("flag"))
    val aggCols = max(col("n")).as("n") +: InterpPcts.flatMap { p => Seq(
      min(when(col("rn") === expr(s"1 + ((n - 1) * $p) div 100"),
        col("cents"))).as(s"vlo_$p"),
      min(when(col("rn") === expr(s"2 + ((n - 1) * $p) div 100"),
        col("cents"))).as(s"vhi_$p"))
    }
    val agg = ranked.groupBy("flag").agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint()
    InterpPcts.map { p =>
      agg.select(col("flag"), lit(p).as("pct"), col("n"),
        expr(s"1 + ((n - 1) * $p) div 100").as("lo_rank"),
        expr(s"((n - 1) * $p) % 100").as("frac_centi"),
        // frac = 0 ⇒ the position is exactly lo and v_hi is unused
        // (it may even not exist when lo = n) — coalesce keeps the
        // formula total without changing any interpolated value.
        expr(s"vlo_$p * 100 + (coalesce(vhi_$p, vlo_$p) - vlo_$p) * " +
          s"(((n - 1) * $p) % 100)").as("interp_centi"))
    }.reduce(_.unionByName(_))
      .withColumn("interp_price",
        expr("CAST(interp_centi AS DOUBLE) / 10000.0"))
      .orderBy("flag", "pct")
  }

  /** DuckDB oracle for [[interpPercentilesExact]] — same integer
    * position split, same bracket picks, same centi-cent
    * interpolation. */
  private[graft] def interpPercentilesExactOracleSql: String =
    s"""WITH b AS (
       |  SELECT l_returnflag AS flag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
       |    l_orderkey, l_linenumber
       |  FROM lineitem),
       |r AS (
       |  SELECT flag, cents,
       |    CAST(row_number() OVER (PARTITION BY flag
       |      ORDER BY cents, l_orderkey, l_linenumber) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n
       |  FROM b),
       |p AS (SELECT unnest([${InterpPcts.mkString(", ")}]) AS pct),
       |k AS (
       |  SELECT flag, CAST(pct AS INT) AS pct,
       |    CAST(min(n) AS BIGINT) AS n,
       |    CAST(1 + ((min(n) - 1) * pct) // 100 AS BIGINT) AS lo_rank,
       |    CAST(((min(n) - 1) * pct) % 100 AS BIGINT) AS frac_centi,
       |    min(CASE WHEN rn = 1 + ((n - 1) * pct) // 100
       |      THEN cents END) AS vlo,
       |    min(CASE WHEN rn = 2 + ((n - 1) * pct) // 100
       |      THEN cents END) AS vhi
       |  FROM r CROSS JOIN p
       |  GROUP BY flag, pct)
       |SELECT flag, pct, n, lo_rank, frac_centi,
       |  CAST(vlo * 100 + (coalesce(vhi, vlo) - vlo) * frac_centi
       |    AS BIGINT) AS interp_centi,
       |  CAST(CAST(vlo * 100 + (coalesce(vhi, vlo) - vlo) * frac_centi
       |    AS BIGINT) AS DOUBLE) / 10000.0 AS interp_price
       |FROM k
       |ORDER BY flag, pct""".stripMargin

  /** Per-SEGMENT spend inequality — `revenue_concentration`'s exact
    * closed-form Gini computed WITHIN each market segment (the "is one
    * segment whale-driven while another is flat" question a pricing
    * team asks): per segment, customer spend ranked ascending, Gini =
    * (2Σrank·x − (n+1)Σx)/(nΣx) in DECIMAL(38)/HUGEINT (the ×1000
    * numerator tops int64 exactly as the global form does), plus the
    * top-decile spend share.
    *
    * Scale: segment is a 5-value enum over CUSTOMER grain — the rank
    * rides [[GlobalRank.withGroupedRowNumber]]'s compound-order
    * two-phase pass; everything after is one segment-grain aggregate
    * plus a 5-row broadcast of per-segment counts for the decile cut. */
  def segmentGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend_c"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_custkey"), col("spend_c"))
    val ranked = GlobalRank.withGroupedRowNumber(spend, "rank",
      Seq(col("segment")), Seq(col("spend_c"), col("o_custkey")))
    val counts = ranked.groupBy("segment").agg(count(lit(1)).as("n"))
    val top = ranked.join(broadcast(counts), Seq("segment"))
      .filter(col("rank") > col("n") - expr("n div 10"))
      .groupBy("segment").agg(sum(col("spend_c")).as("top_decile_c"))
    ranked
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_c")).as("total_c"),
        sum(col("rank") * col("spend_c")).as("s1"))
      // LEFT join + coalesce: a segment with fewer than 10 customers
      // has n div 10 = 0 → an EMPTY top-decile frame; an inner join
      // would silently drop the whole segment from the output instead
      // of reporting top_decile_c = 0 (r14 advisory). No such segment
      // exists in the TPC-H-shaped data, so the oracle mirrors the
      // same left join rather than masking it.
      .join(broadcast(top), Seq("segment"), "left")
      .withColumn("top_decile_c", coalesce(col("top_decile_c"), lit(0L)))
      .withColumn("gini_mille",
        expr("((2 * CAST(s1 AS DECIMAL(38,0)) - (n_customers + 1) * " +
          "CAST(total_c AS DECIMAL(38,0))) * 1000) div " +
          "(n_customers * CAST(total_c AS DECIMAL(38,0)))"))
      .withColumn("top_decile_share_mille",
        expr("top_decile_c * 1000 div total_c"))
      .select("segment", "n_customers", "total_c", "top_decile_c",
        "top_decile_share_mille", "gini_mille")
      .orderBy("segment")
  }

  /** Deciles sampled by [[segmentLorenz]] (shared with the oracle). */
  val LorenzDeciles = 10

  /** LORENZ CURVE POINTS per market segment — [[segmentGini]]'s scalar
    * unpacked into the curve a pricing review actually plots: at each
    * population decile d, the share of segment spend held by the
    * bottom d/10 of customers, as an exact mille (cum spend at the
    * ceil(d·n/10)-th customer ÷ segment total, floor-div — zero
    * floats). Reads "the bottom half of BUILDING customers hold 21% of
    * its spend" directly; the d=10 row is 1000 by construction (a
    * built-in conservation check).
    *
    * Scale: ONE [[GlobalRank.withGroupedRowNumberAndRunningSum]]
    * compound-order two-phase pass carries BOTH the per-segment rank
    * and the per-segment cumulative spend (segment is a 5-value enum
    * over customer grain); the decile boundary spine is segments ×
    * [[LorenzDeciles]] rows, broadcast-joined on the dense rank. */
  def segmentLorenz(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend_c"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_custkey"), col("spend_c"))
    val ranked = GlobalRank.withGroupedRowNumberAndRunningSum(spend,
      "rn", "spend_c", "cum_c", Seq(col("segment")),
      Seq(col("spend_c"), col("o_custkey")))
    // r18 (guide §1.2): per-segment totals read the GlobalRank
    // checkpoint — the old `spend.groupBy` replanned the whole
    // orders-scan + customer-join a second time for a 5-row aggregate.
    // (spine now derives FROM ranked, so its key is renamed to keep the
    // rejoin unambiguous.)
    val tot = ranked.groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("spend_c")).as("total_c"))
      .withColumnRenamed("segment", "seg_s")
    val spine = tot
      .crossJoin(spark.createDataFrame(
        (1 to LorenzDeciles).map(Tuple1(_))).toDF("decile"))
      .withColumn("pos", expr(s"(decile * n + ${LorenzDeciles - 1}) " +
        s"div $LorenzDeciles"))
      .select(col("seg_s"), col("decile"), col("pos"), col("n"),
        col("total_c"))
    ranked
      .join(broadcast(spine),
        col("segment") === col("seg_s") &&
          col("rn") === col("pos"))
      .select(col("seg_s").as("segment"), col("decile"), col("pos"),
        col("n").as("n_customers"), col("cum_c"), col("total_c"))
      .withColumn("cum_share_mille",
        expr("(cum_c * 1000) div total_c"))
      .orderBy("segment", "decile")
  }

  /** DuckDB oracle for [[segmentLorenz]] — same compound rank order,
    * same ceil boundary, same floor mille. */
  private[graft] def segmentLorenzOracleSql: String =
    s"""WITH sp AS (
       |  SELECT c.c_mktsegment AS segment, o.o_custkey,
       |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS spend_c
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT segment, spend_c,
       |    CAST(row_number() OVER w AS BIGINT) AS rn,
       |    CAST(sum(spend_c) OVER (PARTITION BY segment
       |      ORDER BY spend_c, o_custkey
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
       |    CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n,
       |    CAST(sum(spend_c) OVER (PARTITION BY segment) AS BIGINT)
       |      AS total_c
       |  FROM sp
       |  WINDOW w AS (PARTITION BY segment ORDER BY spend_c, o_custkey)),
       |d AS (SELECT unnest(generate_series(1, $LorenzDeciles)) AS decile)
       |SELECT r.segment, CAST(d.decile AS INT) AS decile,
       |  (d.decile * r.n + ${LorenzDeciles - 1}) // $LorenzDeciles
       |    AS pos,
       |  r.n AS n_customers, r.cum_c, r.total_c,
       |  (r.cum_c * 1000) // r.total_c AS cum_share_mille
       |FROM r JOIN d
       |  ON r.rn = (d.decile * r.n + ${LorenzDeciles - 1})
       |    // $LorenzDeciles
       |ORDER BY r.segment, decile""".stripMargin

  /** DuckDB oracle for [[segmentGini]] — same per-segment rank order,
    * same HUGEINT closed form. */
  private[graft] def segmentGiniOracleSql: String =
    s"""WITH sp AS (
       |  SELECT c.c_mktsegment AS segment, o.o_custkey,
       |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS spend_c
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT segment, spend_c,
       |    CAST(row_number() OVER (PARTITION BY segment
       |      ORDER BY spend_c, o_custkey) AS BIGINT) AS rank,
       |    CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
       |  FROM sp),
       |a AS (
       |  SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
       |    CAST(sum(spend_c) AS BIGINT) AS total_c,
       |    CAST(sum(rank * spend_c) AS BIGINT) AS s1
       |  FROM r GROUP BY 1),
       |d AS (
       |  SELECT segment, CAST(sum(spend_c) AS BIGINT) AS top_decile_c
       |  FROM r WHERE rank > n - n // 10 GROUP BY 1)
       |SELECT a.segment, a.n_customers, a.total_c,
       |  CAST(coalesce(d.top_decile_c, 0) AS BIGINT) AS top_decile_c,
       |  coalesce(d.top_decile_c, 0) * 1000 // a.total_c
       |    AS top_decile_share_mille,
       |  CAST(((2 * CAST(a.s1 AS HUGEINT) - (a.n_customers + 1) *
       |    CAST(a.total_c AS HUGEINT)) * 1000) //
       |    (a.n_customers * CAST(a.total_c AS HUGEINT)) AS BIGINT)
       |    AS gini_mille
       |FROM a LEFT JOIN d ON a.segment = d.segment
       |ORDER BY a.segment""".stripMargin

  /** Orders above their OWN customer's average — the correlated-
    * subquery shape (`WHERE o.price > (SELECT avg(...) WHERE custkey =
    * o.custkey)`) DECORRELATED into one window pass, which is exactly
    * what a modern optimizer does with it; written directly in the
    * decorrelated form so the plan is one shuffle, not N subquery
    * scans. The float-free trick: `price > avg` is `price·n > total`
    * in exact integer cents — the [[revenueCusum]] clear-the-division
    * rule — so no row's verdict rides a double. Per-customer output:
    * order count, above-average count, above-share mille. */
  def aboveAvgOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("n_orders", count(lit(1)).over(w))
      .withColumn("total_c", sum(col("cents")).over(w))
      .withColumn("above",
        when(col("cents") * col("n_orders") > col("total_c"), 1L)
          .otherwise(0L))
      .groupBy("o_custkey")
      .agg(max(col("n_orders")).as("n_orders"),
        sum(col("above")).as("n_above"))
      .withColumn("above_mille", expr("(n_above * 1000) div n_orders"))
      .orderBy("o_custkey")
  }

  /** DuckDB oracle for [[aboveAvgOrders]]. */
  private[graft] def aboveAvgOrdersOracleSql: String =
    s"""WITH t AS (
       |  SELECT o_custkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT)
       |      AS n_orders,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |      OVER (PARTITION BY o_custkey) AS BIGINT) AS total_c
       |  FROM orders)
       |SELECT o_custkey, CAST(max(n_orders) AS BIGINT) AS n_orders,
       |  CAST(sum(CASE WHEN cents * n_orders > total_c THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_above,
       |  CAST(sum(CASE WHEN cents * n_orders > total_c THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000 // CAST(max(n_orders) AS BIGINT)
       |    AS above_mille
       |FROM t GROUP BY o_custkey
       |ORDER BY o_custkey""".stripMargin

  /** Relational DIVISION — "which suppliers ship to customers in EVERY
    * region": the classic universal-quantifier query (Codd's ÷), for
    * which no SQL engine ships an operator; the scalable decomposition
    * is counting distinct reached groups against the group total. Per
    * supplier: distinct customer REGIONS reached through its shipped
    * line items, flagged `full_coverage` when that count equals the
    * region census (a 1-row broadcast anchor). At 100 TB the distinct
    * reduces at (supplier, region) grain FIRST (a partial+final
    * aggregate on a 5-value secondary key — near-free) so the
    * count-distinct never holds per-supplier sets.
    * All-integer output. */
  def fullCoverageSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val reach = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir)
        .select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("l_suppkey").as("s_suppkey"), col("n_regionkey"))
      .distinct()
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_regions_reached"))
    val totalRegions = Tables.region(spark, dir)
      .agg(count(lit(1)).as("n_regions_total"))
    Tables.supplier(spark, dir).select("s_suppkey", "s_name")
      .join(reach, Seq("s_suppkey"), "left")
      .crossJoin(broadcast(totalRegions))
      .select(col("s_suppkey"), col("s_name"),
        coalesce(col("n_regions_reached"), lit(0L))
          .as("n_regions_reached"),
        col("n_regions_total"),
        (coalesce(col("n_regions_reached"), lit(0L)) ===
          col("n_regions_total")).as("full_coverage"))
      .orderBy("s_suppkey")
  }

  /** DuckDB oracle for [[fullCoverageSuppliers]]. */
  private[graft] def fullCoverageSuppliersOracleSql: String =
    s"""WITH reach AS (
       |  SELECT l_suppkey AS s_suppkey,
       |    CAST(count(DISTINCT n_regionkey) AS BIGINT)
       |      AS n_regions_reached
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_regions_total
       |        FROM region)
       |SELECT s.s_suppkey, s.s_name,
       |  CAST(coalesce(reach.n_regions_reached, 0) AS BIGINT)
       |    AS n_regions_reached,
       |  tot.n_regions_total,
       |  coalesce(reach.n_regions_reached, 0) = tot.n_regions_total
       |    AS full_coverage
       |FROM supplier s
       |LEFT JOIN reach ON s.s_suppkey = reach.s_suppkey
       |CROSS JOIN tot
       |ORDER BY s.s_suppkey""".stripMargin

  /** PAGINATION surface — page 2 (rows 11-20) of the revenue-ranked
    * part list: `offset(10).limit(10)` over the same deterministic
    * (revenue desc, partkey) total order as `top_parts_by_revenue`.
    * The scale note IS the point: OFFSET always pays the full top-
    * (offset+limit) sort work — a deep-paging UI over a fact table
    * must keyset-paginate (WHERE (rev, key) < last-seen) instead, and
    * this query documents the shallow-page case where OFFSET is
    * legitimate. */
  def topPartsPage2(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("rev_c"))
      .orderBy(col("rev_c").desc, col("l_partkey"))
      .offset(10)
      .limit(10)

  /** DuckDB oracle for [[topPartsPage2]]. */
  private[graft] def topPartsPage2OracleSql: String =
    s"""SELECT l_partkey,
       |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |    AS rev_c
       |FROM lineitem GROUP BY 1
       |ORDER BY rev_c DESC, l_partkey
       |LIMIT 10 OFFSET 10""".stripMargin

  /** Time-DIMENSION rollup: the same revenue measure at day, month,
    * and year grain in one frame with an explicit grain tag — the
    * calendar hierarchy every BI tool drills through, materialized as
    * the union of three re-aggregations of the DAY-grain frame (the
    * coarser grains re-aggregate the fine one — one corpus pass total,
    * the cube-maintenance shape). Grain keys are ISO `yyyy-MM-dd` /
    * `yyyy-MM` / `yyyy` strings so one column carries all three. */
  def timeRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .localCheckpoint()
    def grain(tag: String, key: org.apache.spark.sql.Column): DataFrame =
      daily.groupBy(key.as("bucket"))
        .agg(sum(col("n")).as("n_orders"), sum(col("rev_c")).as("rev_c"))
        .select(lit(tag).as("grain"), col("bucket"), col("n_orders"),
          col("rev_c"))
    grain("day", date_format(col("day"), "yyyy-MM-dd"))
      .unionByName(grain("month", date_format(col("day"), "yyyy-MM")))
      .unionByName(grain("year", date_format(col("day"), "yyyy")))
      .orderBy("grain", "bucket")
  }

  /** DuckDB oracle for [[timeRollup]]. */
  private[graft] def timeRollupOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1)
       |SELECT 'day' AS grain, strftime(day, '%Y-%m-%d') AS bucket,
       |  CAST(sum(n) AS BIGINT) AS n_orders,
       |  CAST(sum(rev_c) AS BIGINT) AS rev_c
       |FROM daily GROUP BY 2
       |UNION ALL
       |SELECT 'month', strftime(day, '%Y-%m'),
       |  CAST(sum(n) AS BIGINT), CAST(sum(rev_c) AS BIGINT)
       |FROM daily GROUP BY 2
       |UNION ALL
       |SELECT 'year', strftime(day, '%Y'),
       |  CAST(sum(n) AS BIGINT), CAST(sum(rev_c) AS BIGINT)
       |FROM daily GROUP BY 2
       |ORDER BY grain, bucket""".stripMargin

  /** JOIN-SEMANTICS audit — the four relational join flavors between
    * orders and customer pinned as one integer row: inner match count,
    * LEFT SEMI (customers with orders — no row multiplication), LEFT
    * ANTI (customers without), and the FULL OUTER row count with its
    * identity `inner + left_only + right_only`. The audit form of the
    * semantics every other query builds on; a planner regression in
    * any flavor breaks an exact count. */
  def joinSemanticsAudit(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val inner = o.join(c, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("n_inner"))
    val semi = c.join(o, col("c_custkey") === col("o_custkey"),
      "left_semi").agg(count(lit(1)).as("n_semi"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"),
      "left_anti").agg(count(lit(1)).as("n_anti"))
    val full = c.join(o, col("c_custkey") === col("o_custkey"),
      "full_outer")
      .agg(count(lit(1)).as("n_full"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("n_left_only"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
          .as("n_right_only"))
    inner.crossJoin(broadcast(semi)).crossJoin(broadcast(anti))
      .crossJoin(broadcast(full))
      .withColumn("full_identity_holds",
        col("n_full") ===
          (col("n_inner") + col("n_left_only") + col("n_right_only")))
  }

  /** DuckDB oracle for [[joinSemanticsAudit]]. */
  private[graft] def joinSemanticsAuditOracleSql: String =
    s"""WITH i AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_inner
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_semi
       |  FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_anti
       |  FROM customer
       |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)),
       |f AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_full,
       |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_left_only,
       |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_right_only
       |  FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey)
       |SELECT i.n_inner, s.n_semi, a.n_anti, f.n_full, f.n_left_only,
       |  f.n_right_only,
       |  f.n_full = i.n_inner + f.n_left_only + f.n_right_only
       |    AS full_identity_holds
       |FROM i CROSS JOIN s CROSS JOIN a CROSS JOIN f""".stripMargin

  /** Benford expected first-digit shares in mille — ⌊1000·log₁₀(1+1/d)⌋
    * computed ONCE here (Scala's correctly-rounded log10) and embedded
    * as literals in BOTH engines, so no transcendental is ever
    * evaluated per-row or cross-engine. */
  val BenfordMille: Map[Int, Long] =
    (1 to 9).map(d =>
      d -> math.floor(1000.0 * math.log10(1.0 + 1.0 / d)).toLong).toMap

  /** BENFORD first-digit screen over order totals — the classic
    * anomaly/fraud heuristic (organically-grown monetary values follow
    * log₁₀(1+1/d); fabricated or capped values don't): observed
    * first-digit counts and mille shares against the Benford
    * expectation, with the absolute deviation per digit. The
    * expectation constants are [[BenfordMille]] LITERALS — the only
    * transcendental is evaluated at compile-side constant generation,
    * never in either engine. A large total-variation-style deviation
    * flags a synthetic or clamped amount distribution (this corpus's
    * generator is uniform-ish — the screen duly reports the misfit,
    * which is the point: the measurement, not a pass).
    *
    * Scale: one projection (first digit = substring of the cent
    * string) + one 9-row aggregate. */
  def benfordScreen(spark: SparkSession, dir: String): DataFrame = {
    val expected = BenfordMille.toSeq.sortBy(_._1)
      .map { case (d, m) => s"$d, ${m}L" }
      .mkString("stack(9, ", ", ", ") as (digit, expected_mille)")
    val obs = Tables.orders(spark, dir)
      .select(expr("cast(substring(cast(cast(round(o_totalprice * 100)" +
        " as long) as string), 1, 1) as int)").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum(col("n")).as("n_total"))
    val exp = Tables.orders(spark, dir).sparkSession.range(1)
      .selectExpr(expected)
    obs.join(exp, Seq("digit"), "full_outer")
      .crossJoin(broadcast(tot))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("observed_mille", expr("(n * 1000) div n_total"))
      .select(col("digit"), col("n"), col("n_total"),
        col("observed_mille"), col("expected_mille"),
        abs(col("observed_mille") - col("expected_mille"))
          .as("deviation_mille"))
      .orderBy("digit")
  }

  /** DuckDB oracle for [[benfordScreen]] — identical literal
    * expectations. */
  private[graft] def benfordScreenOracleSql: String = {
    val expRows = BenfordMille.toSeq.sortBy(_._1)
      .map { case (d, m) => s"($d, $m)" }.mkString(", ")
    s"""WITH e(digit, expected_mille) AS (VALUES $expRows),
       |o AS (
       |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
       |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM orders GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM o)
       |SELECT e.digit, CAST(coalesce(o.n, 0) AS BIGINT) AS n, t.n_total,
       |  CAST(coalesce(o.n, 0) AS BIGINT) * 1000 // t.n_total
       |    AS observed_mille,
       |  CAST(e.expected_mille AS BIGINT) AS expected_mille,
       |  abs(CAST(coalesce(o.n, 0) AS BIGINT) * 1000 // t.n_total
       |    - e.expected_mille) AS deviation_mille
       |FROM e LEFT JOIN o ON e.digit = o.digit
       |CROSS JOIN t
       |ORDER BY e.digit""".stripMargin
  }

  /** Per-order WINDOW-FRAME profile — the remaining window-function
    * surface in one query: over each customer's order chain
    * (o_orderdate, o_orderkey order), the running total (UNBOUNDED
    * PRECEDING), the chain's first and LAST value (the last needs an
    * explicit UNBOUNDED FOLLOWING frame — the default frame stops at
    * CURRENT ROW and silently yields the running last; the classic
    * window bug, pinned here cross-engine), the second order's value
    * (`nth_value`), and the delta to the previous order (`lag`). All
    * cents, all exact.
    *
    * Scale: one customer-keyed exchange carries every frame. */
  def orderWindowProfile(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    base
      .withColumn("running_c", sum(col("cents")).over(wRun))
      .withColumn("first_c", first(col("cents")).over(wAll))
      .withColumn("last_c", last(col("cents")).over(wAll))
      .withColumn("second_c", nth_value(col("cents"), 2).over(wAll))
      .withColumn("delta_prev_c",
        col("cents") - lag(col("cents"), 1).over(w))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  /** DuckDB oracle for [[orderWindowProfile]]. */
  private[graft] def orderWindowProfileOracleSql: String =
    s"""WITH b AS (
       |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS day,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders)
       |SELECT o_custkey, o_orderkey, day, cents,
       |  CAST(sum(cents) OVER (PARTITION BY o_custkey
       |    ORDER BY day, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS running_c,
       |  first_value(cents) OVER (PARTITION BY o_custkey
       |    ORDER BY day, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS first_c,
       |  last_value(cents) OVER (PARTITION BY o_custkey
       |    ORDER BY day, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS last_c,
       |  nth_value(cents, 2) OVER (PARTITION BY o_custkey
       |    ORDER BY day, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS second_c,
       |  cents - lag(cents) OVER (PARTITION BY o_custkey
       |    ORDER BY day, o_orderkey) AS delta_prev_c
       |FROM b
       |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  /** Partial-aggregate MERGE, made observable — the property the whole
    * 100 TB posture leans on (map-side combine, AQE coalescing,
    * incremental backfill all assume partial states merge
    * associatively), pinned as DATA instead of asserted in prose: the
    * daily order rollup computed on two disjoint halves (orderkey
    * parity — any partitioning), MERGED by re-aggregation (sum of
    * counts, sum of cent sums — the exact combine step of a partial
    * aggregate), and reconciled against the direct single-pass rollup.
    * `merged_equal` must be TRUE on every row; the query emits both
    * sides so a violation (a non-mergeable accumulator sneaking into
    * the rollup) is visible at day grain, not as a silent wrong total.
    * This is also the INCREMENTAL-ETL shape: yesterday's state + one
    * new partition's partial = today's state, no recompute. */
  def mergePartials(spark: SparkSession, dir: String): DataFrame = {
    def half(parity: Int): DataFrame = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 2 === parity)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
    val merged = half(0).unionByName(half(1))
      .groupBy("day")
      .agg(sum(col("n")).as("n_merged"), sum(col("rev_c")).as("rev_merged"))
    val direct = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_direct"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_direct"))
    merged.join(direct, "day")
      .select(col("day"), col("n_merged"), col("n_direct"),
        col("rev_merged"), col("rev_direct"),
        (col("n_merged") === col("n_direct") &&
          col("rev_merged") === col("rev_direct")).as("merged_equal"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[mergePartials]]. */
  private[graft] def mergePartialsOracleSql: String =
    s"""WITH h AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1, o_orderkey % 2),
       |m AS (
       |  SELECT day, CAST(sum(n) AS BIGINT) AS n_merged,
       |    CAST(sum(rev_c) AS BIGINT) AS rev_merged
       |  FROM h GROUP BY 1),
       |d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS n_direct,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_direct
       |  FROM orders GROUP BY 1)
       |SELECT m.day, m.n_merged, d.n_direct, m.rev_merged, d.rev_direct,
       |  m.n_merged = d.n_direct AND m.rev_merged = d.rev_direct
       |    AS merged_equal
       |FROM m JOIN d ON m.day = d.day
       |ORDER BY m.day""".stripMargin

  /** RFM quintile segmentation — THE canonical marketing segmentation
    * (Recency of last order, Frequency of orders, Monetary total),
    * each scored 1-5 by NTILE over a deterministic total order and
    * fused into the classic 3-digit code (555 = best). Recency ranks
    * DESCENDING days-since (most recent = 5); all three sort keys are
    * exact integers tie-broken on custkey, so quintile boundaries are
    * hash-stable. The peer of [[customer]] segments' rule-based tiers:
    * RFM is distribution-relative where CLV tiers are absolute.
    *
    * Scale: one partial+final aggregate to customer grain; three
    * chained [[GlobalRank.withNtile]] two-phase passes on that frame
    * (customer cardinality is data-scaled — the naive unpartitioned
    * ntile windows would each be an `Exchange SinglePartition`). The
    * recency anchor is the dataset's max order date (1-row broadcast —
    * no wall clock). */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val anchor = Tables.orders(spark, dir)
      .agg(max(to_date(col("o_orderdate"))).as("anchor_day"))
    val cust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_c"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("anchor_day"), col("last_day")).cast("long"))
    val r = GlobalRank.withNtile(cust, "r_i", 5,
      Seq(col("recency_days").desc, col("c_custkey")))
    val rf = GlobalRank.withNtile(r, "f_i", 5,
      Seq(col("frequency"), col("c_custkey")))
    GlobalRank.withNtile(rf, "m_i", 5,
        Seq(col("monetary_c"), col("c_custkey")))
      .withColumn("r_score", col("r_i").cast("long"))
      .withColumn("f_score", col("f_i").cast("long"))
      .withColumn("m_score", col("m_i").cast("long"))
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("monetary_c"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("rfm_code"))
      .orderBy("c_custkey")
  }

  /** DuckDB oracle for [[rfmSegments]]. */
  private[graft] def rfmSegmentsOracleSql: String =
    s"""WITH anchor AS (
       |  SELECT max(CAST(o_orderdate AS DATE)) AS anchor_day FROM orders),
       |cust AS (
       |  SELECT o_custkey AS c_custkey,
       |    max(CAST(o_orderdate AS DATE)) AS last_day,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS monetary_c
       |  FROM orders GROUP BY 1),
       |r AS (
       |  SELECT cust.*, CAST(datediff('day', last_day, anchor.anchor_day)
       |      AS BIGINT) AS recency_days
       |  FROM cust CROSS JOIN anchor),
       |sc AS (
       |  SELECT *,
       |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey)
       |      AS BIGINT) AS r_score,
       |    CAST(ntile(5) OVER (ORDER BY frequency, c_custkey) AS BIGINT)
       |      AS f_score,
       |    CAST(ntile(5) OVER (ORDER BY monetary_c, c_custkey) AS BIGINT)
       |      AS m_score
       |  FROM r)
       |SELECT c_custkey, recency_days, frequency, monetary_c,
       |  r_score, f_score, m_score,
       |  r_score * 100 + f_score * 10 + m_score AS rfm_code
       |FROM sc
       |ORDER BY c_custkey""".stripMargin

  /** Supplier revenue scorecard — the RANKING-FUNCTION surface in one
    * query: `rank` (gaps on ties), `dense_rank` (no gaps),
    * `percent_rank` ((rank−1)/(n−1)) and `cume_dist` over per-supplier
    * revenue cents. Ties are REAL here (integer cents can collide), so
    * the four functions' tie semantics are what the hash pins —
    * both engines implement the same SQL-standard definitions and the
    * two float columns are single exact divisions of integers.
    *
    * Scale: one partial+final revenue aggregate to supplier grain.
    * Supplier cardinality is data-scaled, so instead of a naive
    * unpartitioned window (`Exchange SinglePartition` over every
    * supplier) the four functions decompose at the DISTINCT-REVENUE
    * grain: per distinct rev_c, its supplier count, its dense index,
    * and the cumulative supplier count in descending order — one
    * [[GlobalRank.withRowNumberAndRunningSum]] two-phase pass. Then,
    * exactly per the SQL-standard definitions, rank = cum − cnt + 1
    * (first position of the tie class), dense_rank = the dense index,
    * cume_dist = cum/n (peers INCLUDED), percent_rank = (rank−1)/(n−1)
    * — joined back to suppliers by rev_c (hash join) with n a 1-row
    * broadcast anchor. Bit-identical tie semantics, no global sort of
    * the supplier frame. */
  def supplierScorecard(spark: SparkSession, dir: String): DataFrame = {
    // r18 (guide §1.2): the supplier-grain revenue frame feeds THREE
    // consumers (the value histogram, the rank join, the count anchor)
    // and as a plain plan each replanned the full lineitem scan+agg.
    // One localCheckpoint of the small supplier-grain frame pays the
    // scan once; plan diff: 3 lineitem scans → 1.
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("rev_c"))
      .localCheckpoint()
    val byValue = rev.groupBy(col("rev_c"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = GlobalRank.withRowNumberAndRunningSum(
      byValue, "dense_rnk", "cnt", "cum", Seq(col("rev_c").desc))
    rev
      .join(ranked, Seq("rev_c"))
      .crossJoin(broadcast(rev.agg(count(lit(1)).as("n"))))
      .withColumn("rnk", col("cum") - col("cnt") + 1L)
      .withColumn("pct_rank", expr(
        "CASE WHEN n = 1 THEN 0.0 " +
        "ELSE CAST(rnk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END"))
      .withColumn("cume", expr("CAST(cum AS DOUBLE) / CAST(n AS DOUBLE)"))
      .select(col("s_suppkey"), col("rev_c"), col("rnk"),
        col("dense_rnk"), col("pct_rank"), col("cume"))
      .orderBy(col("rev_c").desc, col("s_suppkey"))
  }

  /** DuckDB oracle for [[supplierScorecard]]. */
  private[graft] def supplierScorecardOracleSql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey AS s_suppkey,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM lineitem GROUP BY 1)
       |SELECT s_suppkey, rev_c,
       |  CAST(rank() OVER (ORDER BY rev_c DESC) AS BIGINT) AS rnk,
       |  CAST(dense_rank() OVER (ORDER BY rev_c DESC) AS BIGINT) AS dense_rnk,
       |  percent_rank() OVER (ORDER BY rev_c DESC) AS pct_rank,
       |  cume_dist() OVER (ORDER BY rev_c DESC) AS cume
       |FROM rev
       |ORDER BY rev_c DESC, s_suppkey""".stripMargin

  /** Key-SKEW report over the fact table's join keys — the measurement
    * that DECIDES salting (SURVEY's skew posture is only actionable if
    * skew is measured, not guessed): per candidate key column, the key
    * count, total rows, the heaviest key's rows and share, and the
    * GINI coefficient of the per-key row distribution in exact scaled
    * integers — `G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)` over the
    * ascending-sorted counts, floor-quantized to mille. Gini ≈ 0 means
    * uniform keys (hash joins balance); a high Gini plus a high
    * max-share names the key that needs salting or a skew-join hint.
    * Integer bounds: n·Σx here is ≪ 2^63; at true 100 TB widen the
    * products to DECIMAL(38,0).
    *
    * Scale: one partial+final count aggregate per key column; the Gini
    * rank then rides [[GlobalRank.withRowNumber]]'s two-phase pass —
    * KEY grain is data-scaled for l_orderkey (order cardinality ≈ fact
    * cardinality / 4), so a naive unpartitioned rank window would be
    * `Exchange SinglePartition` over what is nearly the fact table. */
  def keySkewReport(spark: SparkSession, dir: String): DataFrame = {
    // r19 (guide §1.2 — one pass over the fact, not three): the three
    // per-key arms each re-scanned lineitem and ran their own count
    // aggregate + two-phase rank + checkpoint + offsets collect. One
    // scan now explodes each row into its three (key_col, key) probes,
    // ONE count aggregate and ONE grouped two-phase rank (key_col is a
    // 3-value enum — the grouped helpers' broadcast-small contract)
    // replace all of it. Per-arm rank over (x, k) = per-key_col grouped
    // rank over the same order, so every emitted number is unchanged.
    val keyed = Tables.lineitem(spark, dir)
      .select(explode(array(
        struct(lit("l_suppkey").as("key_col"),
          col("l_suppkey").cast("long").as("k")),
        struct(lit("l_partkey").as("key_col"),
          col("l_partkey").cast("long").as("k")),
        struct(lit("l_orderkey").as("key_col"),
          col("l_orderkey").cast("long").as("k")))).as("e"))
      .select(col("e.key_col").as("key_col"), col("e.k").as("k"))
    val counts = keyed.groupBy("key_col", "k")
      .agg(count(lit(1)).as("x"))
    GlobalRank.withGroupedRowNumber(counts, "i",
        Seq(col("key_col")), Seq(col("x"), col("k")))
      .groupBy("key_col")
      .agg(count(lit(1)).as("n_keys"), sum(col("x")).as("n_rows"),
        max(col("x")).as("max_rows"),
        sum(col("i") * col("x")).as("s1"))
      .select(col("key_col"), col("n_keys"), col("n_rows"),
        col("max_rows"),
        expr("(max_rows * 1000) div n_rows").as("max_share_mille"),
        expr("(1000 * (2 * s1 - (n_keys + 1) * n_rows))" +
          " div (n_keys * n_rows)").as("gini_mille"))
      .orderBy("key_col")
  }

  /** DuckDB oracle for [[keySkewReport]]. */
  private[graft] def keySkewReportOracleSql: String = {
    def arm(keyCol: String): String =
      s"""SELECT '$keyCol' AS key_col,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(x) AS BIGINT) AS n_rows,
         |  CAST(max(x) AS BIGINT) AS max_rows,
         |  CAST(max(x) AS BIGINT) * 1000 // CAST(sum(x) AS BIGINT)
         |    AS max_share_mille,
         |  (1000 * (2 * CAST(sum(i * x) AS BIGINT)
         |    - (CAST(count(*) AS BIGINT) + 1) * CAST(sum(x) AS BIGINT)))
         |    // (CAST(count(*) AS BIGINT) * CAST(sum(x) AS BIGINT))
         |    AS gini_mille
         |FROM (
         |  SELECT k, x, row_number() OVER (ORDER BY x, k) AS i
         |  FROM (SELECT $keyCol AS k, count(*) AS x
         |        FROM lineitem GROUP BY 1))""".stripMargin
    s"""${arm("l_suppkey")}
       |UNION ALL
       |${arm("l_partkey")}
       |UNION ALL
       |${arm("l_orderkey")}
       |ORDER BY key_col""".stripMargin
  }

  /** MAD outlier multiplier ("k·MAD" rule). */
  val MadK = 3L

  /** Robust outlier days via MEDIAN ABSOLUTE DEVIATION — the
    * heavy-tail-safe sibling of [[revenueCusum]] (a mean/σ rule is
    * poisoned by the very outliers it hunts; the median/MAD pair has a
    * 50% breakdown point). Median and MAD are ORDER-STATISTIC picks of
    * actual cent values by integer rank ([[winsorizedStats]]' rule —
    * never interpolated, so everything stays exact BIGINT), and a day
    * is flagged when `|rev − med| > MadK · MAD`, a pure integer
    * predicate.
    *
    * Scale: one hash aggregate to day grain; both rank picks and the
    * flags run on that small frame via 1-row broadcast anchors. */
  def revenueMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .localCheckpoint()
    def rankPick(df: DataFrame, c: String): DataFrame = {
      val w = Window.orderBy(col(c), col("day"))
      df.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col(c).as(s"${c}_med"))
    }
    val med = rankPick(daily, "rev_c")
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev_c", abs(col("rev_c") - col("rev_c_med")))
    val mad = rankPick(dev.select(col("day"), col("dev_c")), "dev_c")
      .withColumnRenamed("dev_c_med", "mad_c")
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("rev_c"), col("rev_c_med").as("median_c"),
        col("dev_c"), col("mad_c"),
        (col("dev_c") > lit(MadK) * col("mad_c")).as("is_outlier"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[revenueMadOutliers]] — same rank picks, same
    * integer flag. */
  private[graft] def revenueMadOutliersOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1),
       |md AS (
       |  SELECT rev_c AS median_c FROM (
       |    SELECT rev_c, row_number() OVER (ORDER BY rev_c, day) AS rk,
       |      count(*) OVER () AS n
       |    FROM daily)
       |  WHERE rk = (n + 1) // 2),
       |dev AS (
       |  SELECT day, rev_c, md.median_c,
       |    abs(rev_c - md.median_c) AS dev_c
       |  FROM daily CROSS JOIN md),
       |mad AS (
       |  SELECT dev_c AS mad_c FROM (
       |    SELECT dev_c, day, row_number() OVER (ORDER BY dev_c, day)
       |      AS rk, count(*) OVER () AS n
       |    FROM dev)
       |  WHERE rk = (n + 1) // 2)
       |SELECT day, rev_c, median_c, dev_c, mad.mad_c,
       |  dev_c > $MadK * mad.mad_c AS is_outlier
       |FROM dev CROSS JOIN mad
       |ORDER BY day""".stripMargin

  /** CUSUM change-point screen over daily order revenue — the
    * level-shift detector behind "did something change on day X?"
    * (a price change, an outage, a demand regime): per day, the
    * cumulative sum of deviations from the whole-period mean; the
    * CUSUM's extreme |value| marks the most likely change point (Page
    * 1954's cumulative-sum chart, offline form). A float mean would
    * poison every row, so deviations are EXACT SCALED integers:
    * `dev_scaled = rev_c · n_days − total_c` (the mean times n_days,
    * cleared of the division), and the running sum of BIGINTs is
    * order-independent-exact. Bounds: cents ≈ 2^40 at 10^9 $/day and
    * n_days ≈ 2^12 for a decade keep the product far inside int64 —
    * beyond that, widen to DECIMAL(38,0).
    *
    * Scale shape: one partial+final hash aggregate to DAY grain; the
    * running-sum window and the peak pick run on that ≤ few-thousand-row
    * frame (the [[paretoFrontier]] single-partition-by-design rule);
    * the peak is a 1-row broadcast anchor join-back. */
  def revenueCusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
    val tot = daily.agg(sum(col("rev_c")).as("total_c"),
      count(lit(1)).as("n_days"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily.crossJoin(broadcast(tot))
      .withColumn("dev_scaled",
        col("rev_c") * col("n_days") - col("total_c"))
      .withColumn("cusum_scaled", sum(col("dev_scaled")).over(w))
      .localCheckpoint()
    val peak = cusum.agg(max(abs(col("cusum_scaled"))).as("peak_abs"))
    cusum.crossJoin(broadcast(peak))
      .select(col("day"), col("rev_c"), col("n_days"), col("dev_scaled"),
        col("cusum_scaled"),
        (abs(col("cusum_scaled")) === col("peak_abs"))
          .as("is_change_point"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[revenueCusum]] — same scaled-integer
    * deviations, same running frame, same peak rule. */
  private[graft] def revenueCusumOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(rev_c) AS BIGINT) AS total_c,
       |    CAST(count(*) AS BIGINT) AS n_days
       |  FROM daily),
       |cs AS (
       |  SELECT day, rev_c, n_days,
       |    rev_c * n_days - total_c AS dev_scaled,
       |    CAST(sum(rev_c * n_days - total_c) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cusum_scaled
       |  FROM daily CROSS JOIN tot),
       |pk AS (SELECT max(abs(cusum_scaled)) AS peak_abs FROM cs)
       |SELECT day, rev_c, n_days, dev_scaled, cusum_scaled,
       |  abs(cusum_scaled) = pk.peak_abs AS is_change_point
       |FROM cs CROSS JOIN pk
       |ORDER BY day""".stripMargin

  def revenueReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val fromOrders = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("header_rev"),
        count(lit(1)).as("n_orders"))
    // r19 (guide §2.3 — aggregate before you shuffle): the line side
    // used to shuffle EVERY lineitem row into the orderkey join and
    // only then collapse to day grain. Pre-aggregating per order first
    // (decimal sums are associative, so sum-of-order-sums is exactly
    // the old per-line sum; n_lines = sum of per-order counts) shrinks
    // the join's probe side ~7× — the map-side partial agg collapses
    // most of it before the exchange because the fact arrives
    // orderkey-clustered.
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("o_line_rev"),
        count(lit(1)).as("o_n_lines"))
    val fromLines = perOrder
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_line_rev")).as("line_rev"),
        sum(col("o_n_lines")).as("n_lines"))
    fromOrders.join(fromLines, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("header_rev"), lit(0).cast("decimal(18,2)"))
          .cast("double").as("header_rev"),
        coalesce(col("line_rev"), lit(0).cast("decimal(18,2)"))
          .cast("double").as("line_rev"),
        (coalesce(col("line_rev"), lit(0).cast("decimal(18,2)")) -
          coalesce(col("header_rev"), lit(0).cast("decimal(18,2)")))
          .cast("double").as("delta"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[revenueReconciliation]] — same two decimal
    * derivations, same FULL OUTER day merge, same coalesce defaults. */
  private[graft] def revenueReconciliationOracleSql: String =
    s"""WITH ho AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS header_rev,
       |    count(*) AS n_orders
       |  FROM orders GROUP BY 1),
       |ln AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       |      AS line_rev,
       |    count(*) AS n_lines
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1)
       |SELECT coalesce(ho.day, ln.day) AS day,
       |  coalesce(n_orders, 0) AS n_orders,
       |  coalesce(n_lines, 0) AS n_lines,
       |  CAST(coalesce(header_rev, 0) AS DOUBLE) AS header_rev,
       |  CAST(coalesce(line_rev, 0) AS DOUBLE) AS line_rev,
       |  CAST(coalesce(line_rev, 0) - coalesce(header_rev, 0) AS DOUBLE)
       |    AS delta
       |FROM ho FULL OUTER JOIN ln ON ho.day = ln.day
       |ORDER BY 1""".stripMargin

  /** [[largeVolumeCustomers]]' quantity floor (shared with the oracle):
    * ~99.5th percentile of per-order quantity, so the cut is genuinely selective and the join-back frame genuinely broadcast-sized. */
  val LargeVolumeQtyMin = 280

  /** TPC-H Q18-shaped large-volume customers: orders whose TOTAL
    * lineitem quantity clears [[LargeVolumeQtyMin]], carrying the
    * customer identity — the aggregate-HAVING + join shape (the
    * classic "find the whales" probe). Plan posture: the quantity
    * rollup is one partial+final hash aggregate on the fact table
    * (decimal-exact, so the HAVING cut is deterministic at any
    * partitioning); only the surviving order keys — a tiny frame —
    * join back to orders/customer, and the order side of that join is
    * the BROADCAST side by construction. Never a fact×dim join before
    * the cut. */
  def largeVolumeCustomers(spark: SparkSession, dir: String): DataFrame = {
    val whales = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"))
      .filter(col("total_qty") >= LargeVolumeQtyMin)
    Tables.orders(spark, dir)
      .join(broadcast(whales), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("total_qty").cast("double").as("total_qty"))
      .orderBy("o_orderkey")
  }

  /** DuckDB oracle for [[largeVolumeCustomers]] — same decimal rollup,
    * same floor, same join-back. */
  private[graft] def largeVolumeCustomersOracleSql: String =
    s"""WITH w AS (
       |  SELECT l_orderkey,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2)))
       |    >= $LargeVolumeQtyMin)
       |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       |  CAST(total_qty AS DOUBLE) AS total_qty
       |FROM orders
       |JOIN w ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_orderkey""".stripMargin

  /** [[shippingPriority]]'s segment + date anchors (shared with the
    * oracle). The date sits mid-corpus so both filters keep and drop
    * real rows. */
  val ShipPrioSegment = "BUILDING"
  val ShipPrioCutoff = "1998-06-30"

  /** TPC-H Q3-shaped shipping priority: unshipped-revenue top-10 for
    * one market segment — the classic join+agg+top-k probe of the
    * star's selective path. Plan posture: the segment-filtered
    * customer key set broadcasts into the orders scan, the
    * orders⋈lineitem join is the only shuffle (both sides
    * date-pruned AT THE SCAN — `PushedFilters` carries both
    * predicates), the revenue rides the repo's exact-decimal money
    * arithmetic, and the top-10 compiles to TakeOrderedAndProject
    * (per-partition heads, never a global sort). The (revenue desc,
    * l_orderkey) tiebreak pins row order cross-engine. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === ShipPrioSegment)
      .select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(ShipPrioCutoff).cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(ShipPrioCutoff).cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).cast("double")
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** DuckDB oracle for [[shippingPriority]] — same anchors, same exact
    * decimal product/sum, same tiebreak. */
  private[graft] def shippingPriorityOracleSql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       |    AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = '$ShipPrioSegment'
       |  AND o_orderdate < TIMESTAMP '$ShipPrioCutoff'
       |  AND l_shipdate > TIMESTAMP '$ShipPrioCutoff'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** TPC-H Q10 date anchor: returns filed in the quarter starting
    * here. */
  val ReturnedRevStart = "1995-10-01"

  /** Exclusive end of the [[ReturnedRevStart]] quarter. */
  val ReturnedRevEnd = "1996-01-01"

  /** TPC-H Q10-shaped returned-item revenue: the top-20 customers by
    * revenue LOST to returned items (`l_returnflag = 'R'`) for orders
    * placed in one quarter, with their account balance and nation —
    * the customer-escalation report behind a returns spike.
    *
    * Scale shape: both fact predicates are scan-pushed (returnflag on
    * lineitem, the date window on orders); the lineitem⋈orders join is
    * a hash join at orderkey fact grain; revenue then reduces to
    * CUSTKEY GRAIN **before** any dimension joins — at 100 TB the
    * customer dim is itself fact-sized, so the dim join must see the
    * aggregated frame (≤ customers-with-returns rows), never the raw
    * line items; only the 25-row nation dim broadcasts. Revenue is the
    * exact decimal(18,2) product/sum of [[shippingPriority]]; top-20
    * rides a (revenue desc, c_custkey) TakeOrderedAndProject. */
  def returnedItemRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ReturnedRevStart).cast("timestamp") &&
        col("o_orderdate") < lit(ReturnedRevEnd).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).cast("double")
        .as("revenue"))
    rev
      .join(Tables.customer(spark, dir)
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
          .select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** DuckDB oracle for [[returnedItemRevenue]] — same anchors, same
    * exact decimal arithmetic, same tiebreak; aggregation mirrored at
    * custkey grain before the dim joins. */
  private[graft] def returnedItemRevenueOracleSql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       |      AS DOUBLE) AS revenue
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'
       |    AND o_orderdate >= TIMESTAMP '$ReturnedRevStart 00:00:00'
       |    AND o_orderdate < TIMESTAMP '$ReturnedRevEnd 00:00:00'
       |  GROUP BY o_custkey)
       |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
       |FROM rev
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** Two-dimensional Pareto frontier (skyline) over parts: minimize
    * price, maximize size — the "best value at every capacity" query
    * (SKYLINE OF in the research literature; no SQL engine ships the
    * operator, so it is composed from aggregates + one range window).
    * Price is integer cents (one IEEE multiply + round, identical both
    * engines) so the window's RANGE frame has exact integer semantics.
    *
    * The plan is the DISTRIBUTED skyline decomposition, not the naive
    * all-pairs dominance test: (1) local reduction — only the
    * min-price part(s) of each size can be on the frontier (any
    * same-size cheaper part dominates), one partial+final hash
    * aggregate; (2) the global dominance test runs over the SIZE-GRAIN
    * frame (≤ |distinct sizes| rows — 50 here, thousands at most
    * anywhere): a size's champion is on the frontier iff no strictly
    * larger size achieves an equal-or-lower minimum price, one
    * strictly-following RANGE window. The single-partition window is
    * deliberate and safe — it sorts 50 rows, never the parts table;
    * the part-grain work is all hash-partitioned. (3) champions join
    * back to count the parts at each frontier point — a broadcast join
    * of the size-grain frame against parts.
    *
    * Every size row ships with its `on_frontier` verdict (the
    * dominated ones are the "strictly worse than a bigger, cheaper
    * part" report — as useful as the frontier itself). */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val priced = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size"),
        round(col("p_retailprice") * 100).cast("bigint").as("price_cents"))
    val champs = priced.groupBy("p_size")
      .agg(min(col("price_cents")).as("min_price_cents"))
    val wFollow = Window.orderBy("p_size")
      .rangeBetween(1L, Window.unboundedFollowing)
    val flagged = champs
      .withColumn("best_larger",
        min(col("min_price_cents")).over(wFollow))
      .withColumn("on_frontier",
        col("best_larger").isNull ||
          col("best_larger") > col("min_price_cents"))
    val atMin = priced
      .join(broadcast(champs), "p_size")
      .filter(col("price_cents") === col("min_price_cents"))
      .groupBy("p_size")
      .agg(count(lit(1)).as("n_parts_at_min"),
        min(col("p_partkey")).as("rep_partkey"))
    flagged.join(atMin, "p_size")
      .select("p_size", "min_price_cents", "n_parts_at_min",
        "rep_partkey", "on_frontier")
      .orderBy("p_size")
  }

  /** Blocking-key prefix length for [[recordLinkage]]. */
  val LinkBlockLen = 4

  /** Edit-distance match threshold for [[recordLinkage]]. */
  val LinkMaxEdit = 2

  /** Entity resolution / record linkage — the blocking + pairwise-verify
    * + match operator of any customer-MDM or training-metadata pipeline:
    * candidate pairs form ONLY inside a blocking-key bucket (first
    * [[LinkBlockLen]] chars of the address field — the standard
    * cheap-key blocking that turns the N² all-pairs comparison into
    * per-bucket work), then each candidate is verified with a REAL
    * string-similarity measure (`levenshtein`, identical edit-distance
    * semantics in both engines) against [[LinkMaxEdit]]. Emits the
    * matched pairs with their distance and a ground-truth
    * `same_entity` flag, so precision is directly readable.
    *
    * Fixture honesty (the [[graft.operators.TextOps]] `pii_scrub`
    * precedent): the generated customer table carries no address-like
    * field, so the address is SYNTHESIZED as 16 hex chars of
    * md5(custkey) — cross-engine recomputable — and every third entity
    * gets a dirty twin (same address, last char dropped → edit
    * distance 1). md5 uniformity makes non-twin in-block distances
    * ~14+, so the threshold separates cleanly; the oracle recomputes
    * the same records, blocks, and distances from first principles.
    *
    * 100 TB: one hash shuffle on the blocking key; bucket population is
    * corpus-size-independent (hex⁴ uniform buckets), the verify is
    * codegen'd per pair inside the bucket, and the match output is
    * pairs-only (records never ride the join twice). A production
    * deployment swaps the synthesized address for the real column and
    * widens blocking to multi-pass keys; the plan shape is unchanged. */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val addr = substring(md5(col("c_custkey").cast("string")), 1, 16)
    val base = Tables.customer(spark, dir)
      .select((col("c_custkey") * 2).as("rec_id"),
        col("c_custkey").as("entity_key"), addr.as("addr"))
    val twins = Tables.customer(spark, dir)
      .filter(pmod(col("c_custkey"), lit(3)) === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        col("c_custkey").as("entity_key"),
        substring(md5(col("c_custkey").cast("string")), 1, 15).as("addr"))
    val recs = base.unionByName(twins)
      .withColumn("block", substring(col("addr"), 1, LinkBlockLen))
    Candidates.pairs(recs.select(col("block"), col("rec_id").as("rec"),
        col("addr"), col("entity_key").as("ent")), Seq("block"), "rec")
      .withColumn("lev", levenshtein(col("addr_a"), col("addr_b")))
      .filter(col("lev") <= LinkMaxEdit)
      .select(col("rec_a"), col("rec_b"), col("lev"),
        (col("ent_a") === col("ent_b")).as("same_entity"))
      .orderBy("rec_a", "rec_b")
  }

  /** DuckDB oracle for [[recordLinkage]] — same synthesized records,
    * same blocking, same edit-distance verify. */
  private[graft] def recordLinkageOracleSql: String =
    s"""WITH base AS (
       |  SELECT c_custkey * 2 AS rec_id, c_custkey AS entity_key,
       |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS addr
       |  FROM customer),
       |twins AS (
       |  SELECT c_custkey * 2 + 1 AS rec_id, c_custkey AS entity_key,
       |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15) AS addr
       |  FROM customer WHERE c_custkey % 3 = 0),
       |recs AS (
       |  SELECT *, substr(addr, 1, $LinkBlockLen) AS block
       |  FROM (SELECT * FROM base UNION ALL SELECT * FROM twins))
       |SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
       |  CAST(levenshtein(a.addr, b.addr) AS INTEGER) AS lev,
       |  a.entity_key = b.entity_key AS same_entity
       |FROM recs a JOIN recs b
       |  ON a.block = b.block AND a.rec_id < b.rec_id
       |WHERE levenshtein(a.addr, b.addr) <= $LinkMaxEdit
       |ORDER BY rec_a, rec_b""".stripMargin

  /** Coarse blocking-bin width (days) for [[shipmentOverlaps]]'s
    * interval self-join — wide enough that a max-length transit window
    * ([[MaxTransitDays]]) spans ≤ 3 bins (bounded fan-out in the
    * explode), narrow enough that a (supplier, bin) bucket holds only
    * genuinely-near-in-time shipments. */
  val OverlapBinDays = 16

  /** Upper bound (days) of the synthetic transit window. The generated
    * lineitem carries only l_shipdate (no l_receiptdate), so the
    * in-transit interval end is DERIVED deterministically from the
    * line's id via the shared 60-bit md5 hash — the same
    * engine-mirrorable synthesis the multimodal codecs use for bytes;
    * 1..[[MaxTransitDays]] matches TPC-H's receipt-lag distribution. */
  val MaxTransitDays = 28

  /** Interval-overlap RANGE JOIN — the classic operator Spark has no
    * native form for (Databricks exposes it only as a join hint):
    * per-supplier count of concurrently-in-transit shipment pairs, i.e.
    * a self-join on interval overlap, plus the total pairwise overlap
    * days. The scale answer is coarse-bin blocking: each interval
    * explodes to the ≤ 3 [[OverlapBinDays]]-day bins it touches, pairs
    * form inside a (supplier, bin) bucket via one shuffled EQUI-join —
    * never a nested-loop inequality join over the supplier's whole
    * history — and each qualifying pair is counted exactly once, in the
    * bin containing the later interval's start (both intervals provably
    * span that bin: overlap means max(start) ≤ min(end)). All
    * arithmetic is integer day-offsets from a fixed epoch, so the
    * result hash-matches the naive BETWEEN-join oracle exactly.
    *
    * 100 TB: the explode ≤ 3×s the fact, the join keys on
    * (supplier, bin) — fine-grained, uniformly distributed — and the
    * final rollup is a partial+final hash aggregate at supplier grain.
    * Bucket population is bounded by shipments-per-supplier-per-16-days,
    * not corpus size, so the in-bucket pair work scales linearly. */
  /** Shared in-transit interval base for [[shipmentOverlaps]] and
    * [[supplierTransitCoverage]]: one row per line with integer
    * day-offsets `[d0, d1]` (ship day, derived receipt day). */
  private def transitSpans(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("lid"),
        datediff(col("l_shipdate").cast("date"),
          to_date(lit("1992-01-01"))).cast("long").as("d0"))
      .withColumn("d1",
        col("d0") + pmod(expr("cast(conv(substring(md5(" +
          "cast(lid as string)), 1, 15), 16, 10) as bigint)"),
          lit(MaxTransitDays.toLong)) + lit(1L))

  def shipmentOverlaps(spark: SparkSession, dir: String): DataFrame = {
    val bin = OverlapBinDays
    val base = transitSpans(spark, dir)
    // r18 optimization (the [[TextOps]] keptCk device, guide §1.2): the
    // binned span frame feeds BOTH self-join aliases, and as a plain
    // plan the scan + md5 interval synthesis + bin explode executed
    // twice (one per alias — two full fact scans). One localCheckpoint
    // of the narrow all-long frame pays the front once; both aliases
    // read the stored rows. Plan diff: 2 parquet scans → 1 + checkpoint.
    val spans = base.withColumn("bin",
      explode(sequence(expr(s"d0 div $bin"), expr(s"d1 div $bin"))))
      .localCheckpoint()
    val lhs = spans.select(col("l_suppkey"), col("bin"),
      col("lid").as("lid_a"), col("d0").as("d0_a"), col("d1").as("d1_a"))
    val rhs = spans.select(col("l_suppkey"), col("bin"),
      col("lid").as("lid_b"), col("d0").as("d0_b"), col("d1").as("d1_b"))
    // SHUFFLE_HASH, not the broadcast the optimizer picks from local
    // byte stats: the span set IS the corpus (×3), so broadcasting one
    // side is exactly the wrong 100 TB shape — and locally it also
    // serialized pair generation onto the scan's 1-2 parquet splits
    // (7.5 s → the hash-partitioned form runs the in-bucket pair work
    // across every core). Both sides are the same size, so a shuffled
    // hash join on the fine-grained (supplier, bin) key is the right
    // physical form at ANY scale; no sort needed.
    lhs.join(rhs.hint("shuffle_hash"), Seq("l_suppkey", "bin"))
      .filter(col("lid_a") < col("lid_b")
        && col("d0_a") <= col("d1_b") && col("d0_b") <= col("d1_a")
        // Count-once rule: only the bin holding the later start emits.
        && col("bin") === expr(s"greatest(d0_a, d0_b) div $bin"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("d1_a"), col("d1_b")) -
          greatest(col("d0_a"), col("d0_b")) + lit(1L))
          .as("overlap_days"))
      .orderBy("l_suppkey")
  }

  /** DuckDB oracle for [[shipmentOverlaps]] — deliberately the NAIVE
    * inequality self-join (no bins): same synthetic transit windows,
    * every supplier pair tested directly. Hash-matching it proves the
    * blocked plan is lossless. */
  private[graft] def shipmentOverlapsOracleSql: String =
    s"""WITH li AS (
       |  SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS lid,
       |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
       |      AS d0
       |  FROM lineitem),
       |t AS (
       |  SELECT l_suppkey, lid, d0,
       |    d0 + CAST('0x' || substr(md5(CAST(lid AS VARCHAR)), 1, 15)
       |      AS BIGINT) % $MaxTransitDays + 1 AS d1
       |  FROM li)
       |SELECT a.l_suppkey,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(least(a.d1, b.d1) - greatest(a.d0, b.d0) + 1)
       |    AS BIGINT) AS overlap_days
       |FROM t a JOIN t b ON a.l_suppkey = b.l_suppkey AND a.lid < b.lid
       |  AND a.d0 <= b.d1 AND b.d0 <= a.d1
       |GROUP BY a.l_suppkey
       |ORDER BY a.l_suppkey""".stripMargin

  /** INTERVAL COVERAGE (union-of-intervals sweep) — per supplier, the
    * exact union of its in-transit day intervals: busy days, busy
    * islands, calendar span, and the busy/span utilization mille. The
    * ANALYTIC complement of [[shipmentOverlaps]]'s pairwise range
    * join: overlaps counts concurrency, coverage measures the merged
    * timeline (the two answers a capacity planner needs side by
    * side). Classic sweep, windowed: running max of interval ends per
    * supplier; an interval whose start clears prev_max+1 opens a new
    * island (adjacent intervals merge — union over integer day SETS,
    * so covered_days is exactly the union cardinality); islands are
    * the running sum of those flags. All integer day arithmetic.
    *
    * Scale: one shuffle to (supplier)-partitioned order, two window
    * passes over it (max, cumulative sum) in the same sort, then
    * partial+final aggregates at (supplier, island) and supplier
    * grain. No self-join, no explode — O(n log n) per supplier where
    * overlaps' pair count is quadratic in per-bucket density. */
  def supplierTransitCoverage(spark: SparkSession,
                              dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey").orderBy("d0", "d1", "lid")
    val prevMax = max(col("d1"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = transitSpans(spark, dir)
      .withColumn("newi",
        when(prevMax.isNull || col("d0") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("newi")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("l_suppkey"), col("island"))
      .agg(min(col("d0")).as("s"), max(col("d1")).as("e"),
        count(lit(1)).as("n"))
    islands
      .groupBy(col("l_suppkey"))
      .agg(
        sum(col("n")).as("n_shipments"),
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s") + 1).as("covered_days"),
        (max(col("e")) - min(col("s")) + 1).as("span_days"))
      .withColumn("busy_mille",
        expr("covered_days * 1000 div span_days"))
      .orderBy("l_suppkey")
  }

  /** DuckDB oracle for [[supplierTransitCoverage]] — same sweep in
    * window SQL (windowed/grouped BIGINT sums cast back per the
    * standing HUGEINT rule). */
  private[graft] def supplierTransitCoverageOracleSql: String =
    s"""WITH li AS (
       |  SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS lid,
       |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
       |      AS d0
       |  FROM lineitem),
       |t AS (
       |  SELECT l_suppkey, lid, d0,
       |    d0 + CAST('0x' || substr(md5(CAST(lid AS VARCHAR)), 1, 15)
       |      AS BIGINT) % $MaxTransitDays + 1 AS d1
       |  FROM li),
       |w AS (
       |  SELECT l_suppkey, lid, d0, d1,
       |    max(d1) OVER (PARTITION BY l_suppkey ORDER BY d0, d1, lid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS prev_max
       |  FROM t),
       |i AS (
       |  SELECT l_suppkey, d0, d1,
       |    CAST(sum(CASE WHEN prev_max IS NULL OR d0 > prev_max + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY l_suppkey
       |      ORDER BY d0, d1, lid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS island
       |  FROM w),
       |isl AS (
       |  SELECT l_suppkey, island, min(d0) AS s, max(d1) AS e,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM i GROUP BY 1, 2)
       |SELECT l_suppkey,
       |  CAST(sum(n) AS BIGINT) AS n_shipments,
       |  count(*) AS n_islands,
       |  CAST(sum(e - s + 1) AS BIGINT) AS covered_days,
       |  CAST(max(e) - min(s) + 1 AS BIGINT) AS span_days,
       |  CAST(CAST(sum(e - s + 1) AS HUGEINT) * 1000 //
       |    CAST(max(e) - min(s) + 1 AS HUGEINT) AS BIGINT)
       |    AS busy_mille
       |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-group result width for [[nationTopCustomers]]. */
  val TopCustomersK = 3

  /** PER-GROUP TOP-K as a typed bounded-heap AGGREGATE
    * ([[graft.functions.TopKAggregator]]) — top spenders per nation
    * WITHOUT the window-rank shuffle: each map task reduces its slice
    * to ≤ k pairs before the exchange, so shuffle volume is
    * O(nations × k × tasks) instead of every customer row. The spec
    * proves result-equality against the window-rank formulation and
    * asserts the ObjectHashAggregate partial-merge plan; the oracle is
    * the row_number() form — the two phrasings referee each other.
    *
    * Scale: spend reduces at custkey grain first (partial+final);
    * the nation dim broadcasts; the top-k aggregate's state is k pairs
    * per nation per task. The final explode is nations × k rows. */
  def nationTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("spend_c"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("spend_c"), col("c_custkey"))
      .as[(String, Long, Long)]
    spend
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAggregator(TopCustomersK).toColumn
        .name("top"))
      .toDF("n_name", "top")
      .select(col("n_name"), posexplode(col("top")))
      .select(col("n_name"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("c_custkey"), col("col._1").as("spend_c"))
      .orderBy("n_name", "rank")
  }

  /** DuckDB oracle for [[nationTopCustomers]] — the window-rank
    * formulation of the same report. */
  private[graft] def nationTopCustomersOracleSql: String =
    s"""WITH sp AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS spend_c
       |  FROM orders GROUP BY 1),
       |r AS (
       |  SELECT n.n_name, c.c_custkey, sp.spend_c,
       |    row_number() OVER (PARTITION BY n.n_name
       |      ORDER BY sp.spend_c DESC, c.c_custkey) AS rank
       |  FROM sp
       |  JOIN customer c ON sp.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
       |SELECT n_name, rank, c_custkey, spend_c
       |FROM r WHERE rank <= $TopCustomersK
       |ORDER BY n_name, rank""".stripMargin

  /** DuckDB oracle for [[paretoFrontier]] — same cents rounding, same
    * strictly-following RANGE frame, same champion join-back. */
  private[graft] def paretoFrontierOracleSql: String =
    s"""WITH priced AS (
       |  SELECT p_partkey, p_size,
       |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
       |  FROM part),
       |champs AS (
       |  SELECT p_size, min(price_cents) AS min_price_cents
       |  FROM priced GROUP BY p_size),
       |f AS (
       |  SELECT p_size, min_price_cents,
       |    min(min_price_cents) OVER (ORDER BY p_size
       |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |      AS best_larger
       |  FROM champs),
       |am AS (
       |  SELECT p.p_size, count(*) AS n_parts_at_min,
       |    min(p_partkey) AS rep_partkey
       |  FROM priced p JOIN champs c
       |    ON p.p_size = c.p_size AND p.price_cents = c.min_price_cents
       |  GROUP BY p.p_size)
       |SELECT f.p_size, min_price_cents, n_parts_at_min, rep_partkey,
       |  best_larger IS NULL OR best_larger > min_price_cents
       |    AS on_frontier
       |FROM f JOIN am ON f.p_size = am.p_size
       |ORDER BY f.p_size""".stripMargin

  /** Supplier CONCENTRATION (Herfindahl–Hirschman index) per nation:
    * how concentrated each nation's lineitem revenue is across its
    * suppliers — the market-structure metric behind sourcing-risk
    * dashboards (HHI → 1 means one supplier owns the nation's flow).
    * Determinism: per-supplier revenue is exact integer cents; shares
    * are quantized to integer MILLE by floor division before squaring,
    * so `hhi_scaled = Σ share_mille²` is an exact BIGINT under any
    * aggregation order (a double Σsᵢ² would be order-dependent).
    * Quantization bias is ≤ 2·suppliers·10⁻³ on a [0,1] metric and
    * identical in both engines.
    *
    * Scale: fact rolled up to (nation, supplier) grain first — the
    * share/HHI math runs on the supplier-count-sized frame; the
    * supplier dim joins in before the rollup on the supplier key. */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nationkey"), col("s_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("rev_c"))
    val tot = rev.groupBy("nationkey")
      .agg(sum(col("rev_c")).as("tot_c"),
        count(lit(1)).as("n_suppliers"))
    // NON-NEGATIVITY ASSUMPTION: Spark `div` truncates toward zero while
    // DuckDB `//` floors — they agree only because rev_c/tot_c are sums
    // of non-negative prices here (true of every mille/grid quantization
    // in this repo). A negative revenue adjustment (returns/credits)
    // would silently split the engines by 1 on negative shares; if that
    // ever becomes possible, normalize both sides to an explicit floor.
    rev.join(broadcast(tot), "nationkey")
      .withColumn("share_mille", expr("(rev_c * 1000) div tot_c"))
      .groupBy("nationkey", "n_suppliers")
      .agg(sum(col("share_mille") * col("share_mille"))
        .as("hhi_scaled"),
        max(col("share_mille")).as("top_share_mille"))
      .select(col("nationkey"), col("n_suppliers"), col("hhi_scaled"),
        col("top_share_mille"),
        (col("hhi_scaled").cast("double") / 1000000.0).as("hhi"))
      .orderBy("nationkey")
  }

  /** DuckDB oracle for [[supplierHhi]]. */
  private[graft] def supplierHhiOracleSql: String =
    """WITH rev AS (
      |  SELECT s_nationkey AS nationkey, s_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |tot AS (
      |  SELECT nationkey, CAST(sum(rev_c) AS BIGINT) AS tot_c,
      |    count(*) AS n_suppliers
      |  FROM rev GROUP BY nationkey),
      |s AS (
      |  SELECT rev.nationkey, tot.n_suppliers,
      |    (rev_c * 1000) // tot_c AS share_mille
      |  FROM rev JOIN tot ON rev.nationkey = tot.nationkey)
      |SELECT nationkey, n_suppliers,
      |  CAST(sum(share_mille * share_mille) AS BIGINT) AS hhi_scaled,
      |  CAST(max(share_mille) AS BIGINT) AS top_share_mille,
      |  CAST(sum(share_mille * share_mille) AS DOUBLE) / 1000000.0
      |    AS hhi
      |FROM s
      |GROUP BY nationkey, n_suppliers
      |ORDER BY nationkey""".stripMargin

  /** Open-order BACKLOG curve: per day, orders placed, orders fully
    * shipped (the max ship date across the order's lineitems), and the
    * running count of still-open orders — interval counting via ±1
    * EVENT accounting (one running sum over the day spine), never a
    * per-day × open-interval join (which re-scans every open order for
    * every day — quadratic at scale; the same event-ize discipline as
    * [[CdcOps]]' first-touch reach). All-integer. The ops curve behind
    * the reference's order-status monitoring
    * (`airflow/dags/etl_monitoring.py` health counts, here with full
    * daily history).
    *
    * Scale: completion day is one hash aggregate per order; daily
    * deltas are tiny (one row per active day), and the single running
    * sum runs over the day spine, not the fact table. */
  def orderBacklog(spark: SparkSession, dir: String): DataFrame = {
    val placed = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_placed"))
    val completed = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_completed"))
    val spine = placed.select("day")
      .unionByName(completed.select("day")).distinct()
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(placed, Seq("day"), "left")
      .join(completed, Seq("day"), "left")
      .withColumn("n_placed", coalesce(col("n_placed"), lit(0L)))
      .withColumn("n_completed", coalesce(col("n_completed"), lit(0L)))
      .withColumn("open_backlog",
        sum(col("n_placed") - col("n_completed")).over(w))
      .orderBy("day")
  }

  /** DuckDB oracle for [[orderBacklog]]. */
  private[graft] def orderBacklogOracleSql: String =
    """WITH placed AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_placed
      |  FROM orders GROUP BY 1),
      |comp AS (
      |  SELECT day, count(*) AS n_completed FROM (
      |    SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS day
      |    FROM lineitem GROUP BY l_orderkey)
      |  GROUP BY day),
      |spine AS (
      |  SELECT day FROM placed UNION SELECT day FROM comp)
      |SELECT spine.day,
      |  CAST(coalesce(n_placed, 0) AS BIGINT) AS n_placed,
      |  CAST(coalesce(n_completed, 0) AS BIGINT) AS n_completed,
      |  CAST(sum(coalesce(n_placed, 0) - coalesce(n_completed, 0))
      |    OVER (ORDER BY spine.day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS open_backlog
      |FROM spine
      |LEFT JOIN placed ON placed.day = spine.day
      |LEFT JOIN comp ON comp.day = spine.day
      |ORDER BY spine.day""".stripMargin

  /** WEIGHTED order statistics per return flag: the quantity-weighted
    * median and P90 of extended price — "the price at which half the
    * UNITS (not half the line items) sold at or below". Weighted
    * quantiles are the pricing/inventory form of the order-statistic
    * discipline: quantize price to cents and weight to centi-units
    * (exact integers), one per-flag cumulative-weight window, and the
    * quantile is the FIRST row whose running weight crosses the
    * threshold (`q·W ≤ 100·cumw` in cross-multiplied integers — no
    * division, no interpolation, no float until the final /100
    * display). Unweighted percentile ops ([[shippingLatency]],
    * `length_boxplot`) cannot express this without exploding each row
    * `weight` times.
    *
    * Scale: `flag` is a THREE-value enum — a keyed cumulative window
    * would serialize all of lineitem through three tasks (the
    * enum-keyed sibling of the SinglePartition hazard), so the
    * cumulative weight rides [[GlobalRank.withGroupedRunningSum]]'s
    * two-phase pass over the compound (flag, price, tiebreak) order at
    * full parallelism, and the per-flag total is a 3-row broadcast
    * aggregate instead of a whole-partition window. At very high
    * cardinality per key the fixed-bin sketch
    * (`length_quantile_sketch`) remains the documented bounded-state
    * twin. */
  def weightedMedianPrice(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        round(col("l_quantity") * 100).cast("long").as("w"),
        col("l_orderkey"), col("l_linenumber"))
    // r18 optimization (guide §1.2/§2.4): per-flag totals read the
    // GlobalRank checkpoint instead of replanning `base` — the old
    // `base.groupBy` paid a second full lineitem scan for a 3-row
    // aggregate the ranked frame already contains. Same totals.
    val ranked = GlobalRank.withGroupedRunningSum(base, "w", "cumw",
      Seq(col("flag")),
      Seq(col("price_c"), col("l_orderkey"), col("l_linenumber")))
    val totals = ranked.groupBy("flag").agg(sum(col("w")).as("totw"))
    ranked
      .join(broadcast(totals), Seq("flag"))
      .groupBy("flag")
      .agg(
        count(lit(1)).as("n_lines"),
        max(col("totw")).as("total_weight"),
        (min(when(col("cumw") * 2 >= col("totw"), col("price_c")))
          .cast("double") / 100.0).as("weighted_median_price"),
        (min(when(col("cumw") * 10 >= col("totw") * 9, col("price_c")))
          .cast("double") / 100.0).as("weighted_p90_price"))
      .orderBy("flag")
  }

  /** DuckDB oracle for [[weightedMedianPrice]] — same integer
    * cumulative-weight crossing rule. */
  private[graft] def weightedMedianPriceOracleSql: String =
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS w,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (
      |  SELECT flag, price_c, w,
      |    CAST(sum(w) OVER (PARTITION BY flag
      |      ORDER BY price_c, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cumw,
      |    CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS totw
      |  FROM b)
      |SELECT flag, count(*) AS n_lines,
      |  CAST(max(totw) AS BIGINT) AS total_weight,
      |  CAST(min(CASE WHEN cumw * 2 >= totw THEN price_c END)
      |    AS DOUBLE) / 100.0 AS weighted_median_price,
      |  CAST(min(CASE WHEN cumw * 10 >= totw * 9 THEN price_c END)
      |    AS DOUBLE) / 100.0 AS weighted_p90_price
      |FROM r
      |GROUP BY flag
      |ORDER BY flag""".stripMargin

  /** Late-shipment SLA threshold in days (shared with the oracle). */
  val SlaLateDays = 90

  /** Shipping-latency SLA report per order priority: lineitem-grain
    * order→ship latency in calendar days, with MEDIAN and P90 as
    * ORDER-STATISTIC picks (the actual value at integer rank
    * `ceil(q·n)` — the winsorized-stats discipline: never an
    * interpolated percentile, which would put engine-specific float
    * averaging into the hash) and the late share against
    * [[SlaLateDays]]. The ops dashboard every fulfillment pipeline
    * runs; reference analog: the pandas latency summaries in
    * `python/batch_processor.py:108-176` stop at means.
    *
    * Scale: one fact-fact join keyed on orderkey (both sides huge →
    * shuffle join is correct). `priority` is a FIVE-value enum, so the
    * rank is NOT a keyed window (that would drag lineitem-grain rows
    * through five tasks) but [[GlobalRank.withGroupedRowNumber]]'s
    * two-phase pass over the compound (priority, lat_days) order; the
    * per-priority count is a 5-row broadcast aggregate. Ties on
    * lat_days leave rank assignment among peers arbitrary, which is
    * sound here: the output only PICKS the value at a rank, and every
    * permutation of tied rows carries the same value. At scale latency
    * ranks usually move to the fixed-bin quantile sketch —
    * `length_quantile_sketch` is that twin. */
  def shippingLatency(spark: SparkSession, dir: String): DataFrame = {
    val lat = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("lat_days"))
    // r18 optimization (guide §1.2/§2.4 — don't compute things twice):
    // the per-priority counts read the GlobalRank CHECKPOINT (the ranked
    // frame is materialized once inside withGroupedRowNumber), not the
    // base-table plan — the old `lat.groupBy` replanned the ENTIRE
    // lineitem⋈orders fact-fact join a second time just to count rows
    // per priority (plan before: two parquet scan pairs + two joins;
    // after: one). Same 5 rows either way.
    val ranked = GlobalRank.withGroupedRowNumber(lat, "rn",
      Seq(col("priority")), Seq(col("lat_days")))
    val counts = ranked.groupBy("priority").agg(count(lit(1)).as("n"))
    ranked
      .join(broadcast(counts), Seq("priority"))
      .groupBy("priority")
      .agg(
        count(lit(1)).as("n_lineitems"),
        min(when(col("rn") === expr("(n + 1) div 2"), col("lat_days")))
          .cast("long").as("median_days"),
        min(when(col("rn") === expr("(9 * n + 9) div 10"),
          col("lat_days"))).cast("long").as("p90_days"),
        sum(when(col("lat_days") > SlaLateDays, 1L).otherwise(0L))
          .as("n_late"))
      .withColumn("late_share",
        col("n_late").cast("double") / col("n_lineitems").cast("double"))
      .orderBy("priority")
  }

  /** DuckDB oracle for [[shippingLatency]] — same rank picks, same SLA
    * cut. */
  private[graft] def shippingLatencyOracleSql: String =
    s"""WITH lat AS (
       |  SELECT o_orderpriority AS priority,
       |    date_diff('day', CAST(o_orderdate AS DATE),
       |      CAST(l_shipdate AS DATE)) AS lat_days
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |r AS (
       |  SELECT priority, lat_days,
       |    row_number() OVER (PARTITION BY priority ORDER BY lat_days)
       |      AS rn,
       |    count(*) OVER (PARTITION BY priority) AS n
       |  FROM lat)
       |SELECT priority, count(*) AS n_lineitems,
       |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN lat_days END) AS BIGINT)
       |    AS median_days,
       |  CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_days END)
       |    AS BIGINT) AS p90_days,
       |  CAST(sum(CASE WHEN lat_days > $SlaLateDays THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_late,
       |  CAST(sum(CASE WHEN lat_days > $SlaLateDays THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS late_share
       |FROM r
       |GROUP BY priority
       |ORDER BY priority""".stripMargin

  /** TPC-H Q5-shaped local-supplier revenue: for one region and one
    * order-date year, revenue per nation counting only lineitems whose
    * SUPPLIER sits in the CUSTOMER's own nation — the classic 6-table
    * join (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region)
    * with a cross-dimension equality (`c_nationkey = s_nationkey`) that
    * only materializes after both dimension paths have joined in.
    *
    * Join strategy is deliberately tiered for 100 TB: nation and region
    * carry explicit `broadcast()` hints (fixed 25/5-row tables at ANY
    * scale); customer and supplier get NO hint — they scale with the
    * corpus, so AQE picks broadcast at this SF and a shuffle join once
    * they outgrow the threshold. The orders date window is pushed to
    * the scan (plan-asserted), pruning the fact join's probe side
    * first. Revenue is the exact-decimal `price·(1−disc)` sum. */
  def localSupplierShare(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).cast("double")
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** DuckDB oracle for [[localSupplierShare]]. */
  private[graft] def localSupplierShareOracleSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DOUBLE) AS revenue,
      |  count(DISTINCT o_orderkey) AS n_orders,
      |  count(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |  AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= DATE '1996-01-01'
      |  AND o_orderdate < DATE '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Referential-integrity audit across the star schema's foreign keys:
    * for each child→parent relationship, total child rows/keys and the
    * rows/keys whose key has NO parent (LEFT ANTI join at the
    * key-grain — the child is pre-aggregated per key first, so the anti
    * join and everything after run on distinct keys, not rows). The
    * last relationship is a SEEDED-FAULT CONTROL (parents restricted to
    * even keys), guaranteeing nonzero orphan counts so a broken anti
    * join cannot pass on an all-clean dataset — the same
    * injected-ground-truth pattern as `record_linkage` and `pii_scrub`.
    * Reference analog: the FK relationships its generator maintains by
    * sampling live ids (`python/data_generator.py:82-94`) and that
    * `sql/init.sql:21,37,46-47` declares.
    *
    * Scale: each relationship is one key-grain hash aggregate + one
    * anti join keyed on the FK; parent sides ship keys only. The 1-row
    * per-relationship summaries union into a fixed-size report. */
  def fkOrphanAudit(spark: SparkSession, dir: String): DataFrame = {
    def rel(name: String, child: DataFrame, key: String,
            parent: DataFrame, pkey: String): DataFrame = {
      val ck = child.groupBy(col(key).as("fk"))
        .agg(count(lit(1)).as("c"))
      val orphan = ck.join(parent.select(col(pkey).as("fk")),
        Seq("fk"), "left_anti")
      ck.agg(
        sum(col("c")).as("n_child_rows"),
        count(lit(1)).as("n_child_keys"))
        .crossJoin(broadcast(orphan.agg(
          coalesce(sum(col("c")), lit(0L)).as("n_orphan_rows"),
          count(lit(1)).as("n_orphan_keys"))))
        .select(lit(name).as("relationship"), col("n_child_rows"),
          col("n_child_keys"), col("n_orphan_rows"), col("n_orphan_keys"))
    }
    val li = Tables.lineitem(spark, dir)
    rel("lineitem_orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(rel("lineitem_part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(rel("lineitem_supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionByName(rel("orders_customer", Tables.orders(spark, dir),
        "o_custkey", Tables.customer(spark, dir), "c_custkey"))
      .unionByName(rel("events_customer", Tables.events(spark, dir),
        "user_id", Tables.customer(spark, dir), "c_custkey"))
      .unionByName(rel("control_orders_evencustomer",
        Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir).filter(col("c_custkey") % 2 === 0),
        "c_custkey"))
      .orderBy("relationship")
  }

  /** DuckDB oracle for [[fkOrphanAudit]]. */
  private[graft] def fkOrphanAuditOracleSql: String = {
    def block(name: String, child: String, key: String,
              parent: String, pkey: String, pred: String = ""): String =
      s"""SELECT '$name' AS relationship,
         |  CAST(sum(c) AS BIGINT) AS n_child_rows,
         |  count(*) AS n_child_keys,
         |  CAST(coalesce(sum(c) FILTER (WHERE orphan), 0) AS BIGINT)
         |    AS n_orphan_rows,
         |  CAST(coalesce(count(*) FILTER (WHERE orphan), 0) AS BIGINT)
         |    AS n_orphan_keys
         |FROM (
         |  -- NOT EXISTS, not NOT IN: a NULL child key must count as an
         |  -- orphan (matching Spark's LEFT ANTI), and one NULL parent
         |  -- key must not nullify the whole NOT IN membership test
         |  SELECT $key AS fk, count(*) AS c,
         |    NOT EXISTS (SELECT 1 FROM $parent
         |                WHERE $pkey = $key${
                            if (pred.isEmpty) "" else s" AND $pred"})
         |      AS orphan
         |  FROM $child GROUP BY $key)""".stripMargin
    Seq(
      block("lineitem_orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      block("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      block("lineitem_supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      block("orders_customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      block("events_customer", "events", "user_id",
        "customer", "c_custkey"),
      block("control_orders_evencustomer", "orders", "o_custkey",
        "customer", "c_custkey", "c_custkey % 2 = 0"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  /** ABC cumulative-share boundaries (mille): class A covers the head
    * of the revenue-ranked part list up to 80% cumulative share, B to
    * 95%, C the tail. The part whose cumulative share CROSSES a
    * boundary lands in the next class (strict `<=` on the floor-mille
    * share) — pinned here so both engines make the same call. */
  val AbcAMille = 800L
  val AbcBMille = 950L

  /** ABC / Pareto inventory classification — every part ranked by
    * revenue, walked by CUMULATIVE share, and bucketed A (head 80%),
    * B (to 95%), C (tail); emitted at class grain (3 rows: part count,
    * class revenue, share, cumulative-share span). The classic
    * inventory-prioritization rollup (and the 80/20 statement
    * [[paretoFrontier]] does NOT make — that one is a skyline).
    *
    * Scale: the fact table collapses to part grain FIRST (partial+
    * final agg); the cumulative walk then rides
    * [[GlobalRank.withRunningSum]]'s exact two-phase prefix sum over
    * the part-grain frame — part cardinality is data-scaled (millions
    * to billions), so a naive unpartitioned window (= `Exchange
    * SinglePartition`, one task holding every part) is not acceptable
    * here; the two-phase form is one range exchange at full
    * parallelism and bit-identical. All integer cents / floor-mille —
    * hash-exact. */
  def abcClassification(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("rev_c"))
    GlobalRank.withRunningSum(perPart, "rev_c", "cum_c",
        Seq(col("rev_c").desc, col("l_partkey")))
      .crossJoin(broadcast(
        perPart.agg(sum(col("rev_c")).as("total_c"))))
      .withColumn("cum_mille", expr("cum_c * 1000 div total_c"))
      .withColumn("abc_class",
        when(col("cum_mille") <= AbcAMille, "A")
          .when(col("cum_mille") <= AbcBMille, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("rev_c")).as("class_rev_c"),
        max(col("total_c")).as("total_c"),
        min(col("cum_mille")).as("min_cum_mille"),
        max(col("cum_mille")).as("max_cum_mille"))
      .withColumn("share_mille", expr("class_rev_c * 1000 div total_c"))
      .select("abc_class", "n_parts", "class_rev_c", "share_mille",
        "min_cum_mille", "max_cum_mille")
      .orderBy("abc_class")
  }

  /** DuckDB oracle for [[abcClassification]]. */
  private[graft] def abcClassificationOracleSql: String =
    s"""WITH pp AS (
       |  SELECT l_partkey,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM lineitem GROUP BY 1),
       |t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM pp),
       |c AS (
       |  SELECT l_partkey, rev_c,
       |    CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_c
       |  FROM pp),
       |k AS (
       |  SELECT c.*, t.total_c, c.cum_c * 1000 // t.total_c AS cum_mille
       |  FROM c CROSS JOIN t),
       |cl AS (
       |  SELECT *,
       |    CASE WHEN cum_mille <= $AbcAMille THEN 'A'
       |         WHEN cum_mille <= $AbcBMille THEN 'B'
       |         ELSE 'C' END AS abc_class
       |  FROM k)
       |SELECT abc_class, count(*) AS n_parts,
       |  CAST(sum(rev_c) AS BIGINT) AS class_rev_c,
       |  CAST(sum(rev_c) AS BIGINT) * 1000 // CAST(max(total_c) AS BIGINT)
       |    AS share_mille,
       |  CAST(min(cum_mille) AS BIGINT) AS min_cum_mille,
       |  CAST(max(cum_mille) AS BIGINT) AS max_cum_mille
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin

  /** Mann-Kendall trend test over MONTHLY revenue per region — the
    * distribution-free "is this series trending?" screen that
    * complements [[revenueCusum]] (changepoint) and [[ewmaDaily]]
    * (smoothing): S = Σ sign(rev_j − rev_i) over all month pairs
    * i<j, plus the concordant/discordant/tie decomposition and
    * Kendall's tau = S / n_pairs. Signs are integer CASE (not
    * float signum) and tau is ONE int64→int64 double division —
    * both deterministic cross-engine.
    *
    * Scale: the only corpus pass is the month-grain aggregation
    * (partial+final, dims broadcast); the pair self-join is bounded
    * by CALENDAR months² per region (~84² here), corpus-size-
    * INDEPENDENT — the same explode at 100 TB is the same few
    * thousand rows. */
  def mannKendallTrend(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val monthly = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name"),
        (year(to_date(o("o_orderdate"))) * 12 +
          month(to_date(o("o_orderdate")))).as("midx"))
      .agg(sum(round(o("o_totalprice") * 100).cast("long")).as("rev_c"))
      .localCheckpoint()
    val a = monthly.select(col("r_name"), col("midx").as("mi"),
      col("rev_c").as("rev_i"))
    val b = monthly.select(col("r_name"), col("midx").as("mj"),
      col("rev_c").as("rev_j"))
    a.join(b, Seq("r_name")).filter(col("mi") < col("mj"))
      .withColumn("sgn",
        when(col("rev_j") > col("rev_i"), 1L)
          .when(col("rev_j") < col("rev_i"), -1L)
          .otherwise(0L))
      .groupBy("r_name")
      .agg(
        (countDistinct(col("mi")) + lit(1)).as("n_months"),
        count(lit(1)).as("n_pairs"),
        sum(col("sgn")).as("s_stat"),
        count(when(col("sgn") === 1L, true)).as("n_pos"),
        count(when(col("sgn") === -1L, true)).as("n_neg"),
        count(when(col("sgn") === 0L, true)).as("n_tie"))
      .withColumn("tau",
        col("s_stat").cast("double") / col("n_pairs").cast("double"))
      .orderBy("r_name")
  }

  /** DuckDB oracle for [[mannKendallTrend]]. */
  private[graft] def mannKendallTrendOracleSql: String =
    s"""WITH monthly AS (
       |  SELECT r.r_name,
       |    year(CAST(o.o_orderdate AS DATE)) * 12 +
       |      month(CAST(o.o_orderdate AS DATE)) AS midx,
       |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.r_name, a.midx AS mi,
       |    CASE WHEN b.rev_c > a.rev_c THEN 1
       |         WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END AS sgn
       |  FROM monthly a JOIN monthly b
       |    ON a.r_name = b.r_name AND a.midx < b.midx)
       |SELECT r_name,
       |  CAST(count(DISTINCT mi) + 1 AS BIGINT) AS n_months,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(sgn) AS BIGINT) AS s_stat,
       |  CAST(count(*) FILTER (WHERE sgn = 1) AS BIGINT) AS n_pos,
       |  CAST(count(*) FILTER (WHERE sgn = -1) AS BIGINT) AS n_neg,
       |  CAST(count(*) FILTER (WHERE sgn = 0) AS BIGINT) AS n_tie,
       |  CAST(CAST(sum(sgn) AS BIGINT) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS tau
       |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  /** PER-ENTITY Mann-Kendall census — [[mannKendallTrend]] run at
    * CUSTOMER grain and aggregated to a (segment, trend) table: how
    * many customers' monthly spend is trending up / down / flat (sign
    * of the per-customer S statistic over ≥3 active months). The
    * fleet-scale version of the single-series test: instead of one
    * S per region, millions of small tests run entity-parallel and
    * only the census crosses the wire. Shares are the standing
    * floor-div mille within segment.
    *
    * Scale: the pair self-join is per-customer-blocked — block size is
    * ACTIVE MONTHS per customer (calendar-bounded ≤ ~84, typically a
    * handful), so the explode is corpus-size-independent per entity
    * and embarrassingly parallel across entities; the census
    * re-aggregates a ≤ segments×3 frame. */
  def userValueTrend(spark: SparkSession, dir: String): DataFrame =
    userValueTrendOf(
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice")),
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")))

  /** [[userValueTrend]]'s census core over injectable orders
    * (o_custkey, o_orderdate, o_totalprice) and customer
    * (c_custkey, c_mktsegment) frames — property-tested against a
    * plain-Scala Mann-Kendall reference in StatPropertiesSpec. */
  private[graft] def userValueTrendOf(orders: DataFrame,
      customers: DataFrame): DataFrame = {
    val monthly = orders
      .groupBy(col("o_custkey"),
        (year(to_date(col("o_orderdate"))) * 12 +
          month(to_date(col("o_orderdate")))).as("midx"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .localCheckpoint()
    val a = monthly.select(col("o_custkey"), col("midx").as("mi"),
      col("rev_c").as("rev_i"))
    val b = monthly.select(col("o_custkey"), col("midx").as("mj"),
      col("rev_c").as("rev_j"))
    val perUser = a.join(b, Seq("o_custkey"))
      .filter(col("mi") < col("mj"))
      .withColumn("sgn",
        when(col("rev_j") > col("rev_i"), 1L)
          .when(col("rev_j") < col("rev_i"), -1L)
          .otherwise(0L))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_pairs"), sum(col("sgn")).as("s_stat"))
      // m(m−1)/2 ≥ 3 ⇔ m ≥ 3 active months: below that the test is
      // vacuous (a single pair always "trends").
      .filter(col("n_pairs") >= 3)
    val seg = customers
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val w = Window.partitionBy("segment")
    perUser
      .join(seg, col("o_custkey") === col("c_custkey"))
      .withColumn("trend",
        when(col("s_stat") > 0, "up")
          .when(col("s_stat") < 0, "down")
          .otherwise("flat"))
      .groupBy("segment", "trend")
      .agg(count(lit(1)).as("n_customers"))
      .withColumn("segment_total", sum(col("n_customers")).over(w))
      .withColumn("share_mille",
        expr("(n_customers * 1000) div segment_total"))
      .orderBy("segment", "trend")
  }

  /** DuckDB oracle for [[userValueTrend]] — same month grain, same
    * pair signs, same census. */
  private[graft] def userValueTrendOracleSql: String =
    s"""WITH monthly AS (
       |  SELECT o_custkey,
       |    year(CAST(o_orderdate AS DATE)) * 12 +
       |      month(CAST(o_orderdate AS DATE)) AS midx,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev_c
       |  FROM orders GROUP BY 1, 2),
       |pu AS (
       |  SELECT a.o_custkey, count(*) AS n_pairs,
       |    CAST(sum(CASE WHEN b.rev_c > a.rev_c THEN 1
       |      WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END) AS BIGINT)
       |      AS s_stat
       |  FROM monthly a JOIN monthly b
       |    ON a.o_custkey = b.o_custkey AND a.midx < b.midx
       |  GROUP BY 1
       |  HAVING count(*) >= 3),
       |cl AS (
       |  SELECT c.c_mktsegment AS segment,
       |    CASE WHEN pu.s_stat > 0 THEN 'up'
       |         WHEN pu.s_stat < 0 THEN 'down'
       |         ELSE 'flat' END AS trend
       |  FROM pu JOIN customer c ON pu.o_custkey = c.c_custkey),
       |g AS (
       |  SELECT segment, trend, count(*) AS n_customers
       |  FROM cl GROUP BY 1, 2)
       |SELECT segment, trend, n_customers,
       |  CAST(sum(n_customers) OVER (PARTITION BY segment) AS BIGINT)
       |    AS segment_total,
       |  (n_customers * 1000) //
       |    CAST(sum(n_customers) OVER (PARTITION BY segment) AS BIGINT)
       |    AS share_mille
       |FROM g
       |ORDER BY segment, trend""".stripMargin

  /** Seeded mutation moduli for [[snapshotDiff]] — chosen pairwise
    * coprime so every change class is exercised and expected counts
    * are known by construction: keys ≡0 (mod 37) exist only in v2
    * (added), ≡0 (mod 31) only in v1 (deleted), ≡0 (mod 7) get a
    * +10.00 balance bump, ≡0 (mod 11) a mutated segment. */
  val SnapInsMod = 37L
  val SnapDelMod = 31L
  val SnapBalMod = 7L
  val SnapSegMod = 11L

  /** Table-level DATA-DIFF between two snapshot versions — the
    * reconciliation report a CDC pipeline runs to validate a replica
    * (the "data-diff" every migration signs off on): v1/v2 are the
    * customer table under deterministic seeded divergence, FULL OUTER
    * joined on the key, and the report is ONE integer row — row
    * deltas (added/deleted/common) plus a per-column modified count,
    * with an untouched control column that must report 0. Column
    * compares run in cents (exact); expected counts are known by
    * construction, so the audit audits itself.
    *
    * Scale: one key-partitioned FULL OUTER hash join (both sides
    * shuffle once on the key) + one global partial+final aggregate;
    * no window, no explode. The per-column CASE counts are map-side
    * combinable. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"),
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"))
    val v1 = base.filter(col("key") % SnapInsMod =!= 0)
      .select(col("key"), col("bal_c").as("bal1"), col("seg").as("seg1"),
        col("nat").as("nat1"))
    val v2 = base.filter(col("key") % SnapDelMod =!= 0)
      .select(col("key"),
        (col("bal_c") + when(col("key") % SnapBalMod === 0, 1000L)
          .otherwise(0L)).as("bal2"),
        when(col("key") % SnapSegMod === 0, "MUTATED")
          .otherwise(col("seg")).as("seg2"),
        col("nat").as("nat2"))
    v1.join(v2, Seq("key"), "full_outer")
      .agg(
        count(when(col("bal1").isNotNull, true)).as("n_v1"),
        count(when(col("bal2").isNotNull, true)).as("n_v2"),
        count(when(col("bal1").isNull, true)).as("n_added"),
        count(when(col("bal2").isNull, true)).as("n_deleted"),
        count(when(col("bal1").isNotNull && col("bal2").isNotNull, true))
          .as("n_common"),
        count(when(col("bal1") =!= col("bal2"), true))
          .as("n_bal_modified"),
        count(when(col("seg1") =!= col("seg2"), true))
          .as("n_seg_modified"),
        count(when(col("nat1") =!= col("nat2"), true))
          .as("n_control_modified"),
        count(when(col("bal1") === col("bal2") &&
          col("seg1") === col("seg2") && col("nat1") === col("nat2"),
          true)).as("n_unchanged"))
  }

  /** DuckDB oracle for [[snapshotDiff]]. */
  private[graft] def snapshotDiffOracleSql: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS key,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
       |    c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat
       |  FROM customer),
       |v1 AS (
       |  SELECT key, bal_c AS bal1, seg AS seg1, nat AS nat1
       |  FROM base WHERE key % $SnapInsMod <> 0),
       |v2 AS (
       |  SELECT key,
       |    bal_c + CASE WHEN key % $SnapBalMod = 0 THEN 1000 ELSE 0 END
       |      AS bal2,
       |    CASE WHEN key % $SnapSegMod = 0 THEN 'MUTATED' ELSE seg END
       |      AS seg2,
       |    nat AS nat2
       |  FROM base WHERE key % $SnapDelMod <> 0),
       |j AS (
       |  SELECT v1.bal1, v1.seg1, v1.nat1, v2.bal2, v2.seg2, v2.nat2
       |  FROM v1 FULL OUTER JOIN v2 ON v1.key = v2.key)
       |SELECT
       |  CAST(count(*) FILTER (WHERE bal1 IS NOT NULL) AS BIGINT)
       |    AS n_v1,
       |  CAST(count(*) FILTER (WHERE bal2 IS NOT NULL) AS BIGINT)
       |    AS n_v2,
       |  CAST(count(*) FILTER (WHERE bal1 IS NULL) AS BIGINT) AS n_added,
       |  CAST(count(*) FILTER (WHERE bal2 IS NULL) AS BIGINT)
       |    AS n_deleted,
       |  CAST(count(*) FILTER (WHERE bal1 IS NOT NULL AND bal2 IS NOT
       |    NULL) AS BIGINT) AS n_common,
       |  CAST(count(*) FILTER (WHERE bal1 <> bal2) AS BIGINT)
       |    AS n_bal_modified,
       |  CAST(count(*) FILTER (WHERE seg1 <> seg2) AS BIGINT)
       |    AS n_seg_modified,
       |  CAST(count(*) FILTER (WHERE nat1 <> nat2) AS BIGINT)
       |    AS n_control_modified,
       |  CAST(count(*) FILTER (WHERE bal1 = bal2 AND seg1 = seg2
       |    AND nat1 = nat2) AS BIGINT) AS n_unchanged
       |FROM j""".stripMargin

  /** The (nation, region) focus pair for [[nationalMarketShare]] —
    * TPC-H Q8's canonical parameters. */
  val MarketShareNation = "BRAZIL"
  val MarketShareRegion = "AMERICA"

  /** NATIONAL MARKET SHARE (TPC-H Q8 shape): within one region's
    * customer demand, the yearly revenue share supplied by one
    * nation's suppliers — the deepest join chain in the registry
    * (lineitem ⋈ orders ⋈ customer ⋈ nation_c ⋈ region, supplier ⋈
    * nation_s) feeding a conditional-aggregate share. The share is a
    * `sum(CASE WHEN supplier-nation …)` over the SAME aggregate pass
    * as the total — one corpus pass, not two branches (the
    * conditional-aggregation idiom Q8 exists to teach).
    *
    * Scale: the two fact-side joins shuffle on their keys once; all
    * four dimension joins broadcast. Cents + floor-mille — exact. */
  def nationalMarketShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val nc = Tables.nation(spark, dir)
    val ns = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))
    val r = Tables.region(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(nc), c("c_nationkey") === nc("n_nationkey"))
      .join(broadcast(r), nc("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === MarketShareRegion)
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(ns), s("s_nationkey") === col("sn_key"))
      .withColumn("rev_c",
        round(l("l_extendedprice") * (lit(1) - l("l_discount")) * 100)
          .cast("long"))
      .groupBy(year(to_date(o("o_orderdate"))).as("o_year"))
      .agg(
        sum(col("rev_c")).as("total_rev_c"),
        sum(when(col("sn_name") === MarketShareNation, col("rev_c"))
          .otherwise(0L)).as("nation_rev_c"))
      .withColumn("share_mille",
        expr("nation_rev_c * 1000 div total_rev_c"))
      .orderBy("o_year")
  }

  /** DuckDB oracle for [[nationalMarketShare]]. */
  private[graft] def nationalMarketShareOracleSql: String =
    s"""SELECT year(CAST(o.o_orderdate AS DATE)) AS o_year,
       |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
       |    * 100) AS BIGINT)) AS BIGINT) AS total_rev_c,
       |  CAST(sum(CASE WHEN sn.n_name = '$MarketShareNation'
       |    THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
       |      * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS nation_rev_c,
       |  CAST(sum(CASE WHEN sn.n_name = '$MarketShareNation'
       |    THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
       |      * 100) AS BIGINT) ELSE 0 END) AS BIGINT) * 1000 //
       |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
       |      * 100) AS BIGINT)) AS BIGINT) AS share_mille
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation nc ON c.c_nationkey = nc.n_nationkey
       |JOIN region r ON nc.n_regionkey = r.r_regionkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |WHERE r.r_name = '$MarketShareRegion'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Autocorrelation lags for [[acfProfile]]: next-day, weekly,
    * lunar-monthly. */
  val AcfLags = Seq(1, 7, 28)

  /** AUTOCORRELATION profile of daily revenue — Pearson r between the
    * series and itself at lags 1/7/28, the ACF points a forecaster
    * reads for persistence and weekly/monthly seasonality (the
    * function-estimation sibling of [[hourlySeasonality]]'s seasonal
    * means and [[ewmaDaily]]'s smoothing). Follows the
    * [[priceQuantityCorr]] determinism discipline exactly: exact
    * DECIMAL sums per component, ONE double conversion per sum, the
    * same closed-form arithmetic order on both engines.
    *
    * Scale: the corpus pass collapses to day grain first; the lag
    * pairing is a calendar-bounded equi-join (day = day+lag — never a
    * range/window over the fact table), and the explode is
    * |[[AcfLags]]| per day row. */
  def acfProfile(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .localCheckpoint()
    val x = col("x")
    val y = col("y")
    daily.select(col("day"), col("rev").as("x"))
      .withColumn("lag",
        explode(array(AcfLags.map(l => lit(l)): _*)))
      .withColumn("day_y", expr("date_add(day, lag)"))
      .join(daily.select(col("day").as("day_y"), col("rev").as("y")),
        Seq("day_y"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(x).cast("double").as("sum_x"),
        sum(y).cast("double").as("sum_y"),
        sum((x * y).cast("decimal(38,6)")).cast("double").as("sum_xy"),
        sum((x * x).cast("decimal(38,6)")).cast("double").as("sum_xx"),
        sum((y * y).cast("decimal(38,6)")).cast("double").as("sum_yy"))
      .withColumn("nn", col("n_pairs").cast("double"))
      .select(
        col("lag"), col("n_pairs"),
        ((col("nn") * col("sum_xy") - col("sum_x") * col("sum_y")) /
          (sqrt(col("nn") * col("sum_xx") - col("sum_x") * col("sum_x")) *
            sqrt(col("nn") * col("sum_yy") - col("sum_y") * col("sum_y"))))
          .as("acf"))
      .orderBy("lag")
  }

  /** DuckDB oracle for [[acfProfile]] — decimal sums surfaced to
    * double through VARCHAR (the [[priceQuantityCorr]] ULP rule).
    * Product operands widen to DECIMAL(19,2) first: DuckDB executes a
    * DECIMAL(18)×DECIMAL(18) product in int64 and OVERFLOWS at daily-
    * revenue magnitudes (surfaced at sf0.1); 19+19 = 38 stays within
    * the width cap and runs in int128. Spark's decimal product is
    * BigDecimal-backed and needs no widening — values are identical. */
  private[graft] def acfProfileOracleSql: String = {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    def w(e: String) = s"CAST($e AS DECIMAL(19,2))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
       |      AS DECIMAL(18,2)) AS rev
       |  FROM orders GROUP BY 1),
       |p AS (
       |  SELECT l.lag, a.rev AS x, b.rev AS y
       |  FROM daily a
       |  CROSS JOIN (SELECT unnest([${AcfLags.mkString(", ")}]) AS lag) l
       |  JOIN daily b ON b.day = a.day + l.lag),
       |a2 AS (
       |  SELECT lag, count(*) AS n_pairs,
       |    ${d("sum(x)")} AS sum_x,
       |    ${d("sum(y)")} AS sum_y,
       |    ${d(s"sum(CAST(${w("x")} * ${w("y")} AS DECIMAL(38,6)))")}
       |      AS sum_xy,
       |    ${d(s"sum(CAST(${w("x")} * ${w("x")} AS DECIMAL(38,6)))")}
       |      AS sum_xx,
       |    ${d(s"sum(CAST(${w("y")} * ${w("y")} AS DECIMAL(38,6)))")}
       |      AS sum_yy
       |  FROM p GROUP BY lag)
       |SELECT CAST(lag AS INT) AS lag, n_pairs,
       |  (CAST(n_pairs AS DOUBLE) * sum_xy - sum_x * sum_y) /
       |    (sqrt(CAST(n_pairs AS DOUBLE) * sum_xx - sum_x * sum_x) *
       |     sqrt(CAST(n_pairs AS DOUBLE) * sum_yy - sum_y * sum_y))
       |    AS acf
       |FROM a2 ORDER BY lag""".stripMargin
  }

  /** Trailing window length and per-window list size for
    * [[trendingParts7d]]. */
  val TrendWindowDays = 7
  val TrendTopK = 3

  /** TRENDING parts — each ship-day's top-[[TrendTopK]] parts by
    * TRAILING-[[TrendWindowDays]]-day revenue, the "what's hot this
    * week" leaderboard every commerce dashboard serves. Built the
    * sliding-window-over-partials way: the fact collapses to
    * (day, part) grain ONCE, each partial row contributes itself to
    * the [[TrendWindowDays]] window-ends it belongs to via a bounded
    * calendar explode (never a RANGE-frame window over the fact), the
    * window re-aggregates partials, and the per-day list is a
    * WindowGroupLimit rank cap with the standing (revenue DESC, key)
    * tie-break.
    *
    * Scale: explode factor is the window length (a constant); both
    * aggregates are partial+final; the rank never sees more than one
    * day's part census. */
  def trendingParts7d(spark: SparkSession, dir: String): DataFrame = {
    val dayPart = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("day"), col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("rev_c"))
      .localCheckpoint()
    val realDays = dayPart.select(col("day").as("wend")).distinct()
    // r18 optimization (guide §2.4 — two operations keyed the same way
    // share one exchange): the aggregate and the rank window are both
    // keyed on wend, but groupBy(wend, l_partkey) hash-partitions on
    // the PAIR, so the window repaid its own hashpartitioning(wend)
    // exchange right after (plan before: Exchange(wend, partkey) →
    // agg → Exchange(wend) → rank; 4 exchanges total). Repartitioning
    // the exploded rows by wend FIRST satisfies both: hash(wend) is a
    // subset of the groupBy clustering keys, so the aggregate runs
    // complete on that partitioning and the window follows with no
    // further exchange (3 exchanges after). The dropped map-side
    // partial agg collapsed almost nothing here anyway — dayPart rows
    // are unique per (day, partkey), so the 7 exploded copies of a row
    // land on 7 DIFFERENT wend groups and partials only merge
    // same-partition same-(wend,partkey) rows from different days.
    val windowed = dayPart
      .withColumn("off",
        explode(sequence(lit(0), lit(TrendWindowDays - 1))))
      .withColumn("wend", expr("date_add(day, off)"))
      .join(realDays, Seq("wend"))
      // SKEW BOUND (r18 advisor): keying the pre-aggregate exchange on
      // wend alone makes parallelism day-grain — all 7×-exploded rows
      // for one window-end day land in one task (the rank window below
      // already had this bound, but on far fewer post-aggregate rows).
      // Acceptable while no single day dominates the fact; if one can
      // at 100 TB, split this into a two-level aggregate (partial on
      // (wend, l_partkey) salt, final on wend).
      .repartition(col("wend"))
      .groupBy(col("wend"), col("l_partkey"))
      .agg(sum(col("rev_c")).as("rev_7d_c"))
    val w = Window.partitionBy("wend")
      .orderBy(col("rev_7d_c").desc, col("l_partkey"))
    windowed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TrendTopK)
      .select(col("wend").as("day"), col("rank"), col("l_partkey"),
        col("rev_7d_c"))
      .orderBy("day", "rank")
  }

  /** The calendar MIDPOINT of the order history, as an ISO literal —
    * the period boundary for the two-period comparisons
    * ([[customerMigrationMatrix]], [[revenueBridge]]). Two-phase like
    * [[scopedOrders]]: the 1-row min/max collects to a literal so the
    * period predicate constant-folds and pushes into the scan; the
    * oracle derives the identical boundary in SQL. */
  private def orderDateMidpoint(spark: SparkSession, dir: String): String = {
    val r = Tables.orders(spark, dir)
      .agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
      .select(date_add(col("lo"),
        (datediff(col("hi"), col("lo")) / 2).cast("int")).as("mid"))
      .collect()(0)
    r.getDate(0).toString
  }

  /** The same boundary as a DuckDB scalar subquery. */
  private def midpointSql: String =
    """(SELECT CAST(min(o_orderdate) AS DATE) +
      |   CAST(datediff('day', CAST(min(o_orderdate) AS DATE),
      |     CAST(max(o_orderdate) AS DATE)) // 2 AS INTEGER)
      | FROM orders)""".stripMargin.replace("\n", "")

  /** SEGMENT MIGRATION MATRIX — each customer tercile-bucketed by
    * spend in the first and second half of the order history, counted
    * at (from, to) grain: the cohort-flow table behind "are my high-
    * value customers churning or upgrading". Terciles are `ntile(3)`
    * over the deterministic (spend cents, custkey) total order — both
    * engines define ntile identically (extra rows to the leading
    * buckets), so the bucketing is exact; customers active in only
    * one half enter as `absent`.
    *
    * Scale: ONE fact pass — spend collapses to (customer, half) grain
    * (partial+final), BOTH halves' terciles then ride a single
    * [[GlobalRank.withGroupedNtile]] compound-order two-phase pass
    * (half is the 2-value group key; customer cardinality is
    * data-scaled, so the naive windows — and the r13 form's two
    * separate global passes — paid two range exchanges over two fact
    * scans); the half-pivot is a custkey-grain conditional aggregate
    * (no full-outer join) and the matrix is ≤16 rows. */
  def customerMigrationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val mid = orderDateMidpoint(spark, dir)
    val spend = Tables.orders(spark, dir)
      .withColumn("half",
        when(to_date(col("o_orderdate")) <= lit(mid), 1).otherwise(2))
      .groupBy(col("o_custkey"), col("half"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("spend_c"))
    GlobalRank.withGroupedNtile(spend, "tercile", 3,
        Seq(col("half")), Seq(col("spend_c"), col("o_custkey")))
      .withColumn("seg",
        when(col("tercile") === 1, "L")
          .when(col("tercile") === 2, "M")
          .otherwise("H"))
      .groupBy("o_custkey")
      .agg(max(when(col("half") === 1, col("seg"))).as("seg_h1"),
        max(when(col("half") === 2, col("seg"))).as("seg_h2"))
      .groupBy(
        coalesce(col("seg_h1"), lit("absent")).as("seg_from"),
        coalesce(col("seg_h2"), lit("absent")).as("seg_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("seg_from", "seg_to")
  }

  /** DuckDB oracle for [[customerMigrationMatrix]]. */
  private[graft] def customerMigrationMatrixOracleSql: String = {
    def half(pred: String) =
      s"""SELECT o_custkey,
         |    CASE ntile(3) OVER (ORDER BY
         |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |        AS BIGINT), o_custkey)
         |      WHEN 1 THEN 'L' WHEN 2 THEN 'M' ELSE 'H' END AS seg
         |  FROM orders WHERE $pred GROUP BY o_custkey""".stripMargin
    s"""WITH h1 AS (${half(s"CAST(o_orderdate AS DATE) <= $midpointSql")}),
       |h2 AS (${half(s"CAST(o_orderdate AS DATE) > $midpointSql")})
       |SELECT coalesce(h1.seg, 'absent') AS seg_from,
       |  coalesce(h2.seg, 'absent') AS seg_to,
       |  CAST(count(*) AS BIGINT) AS n_customers
       |FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** REVENUE BRIDGE (price/volume/mix decomposition) — for every part
    * sold in BOTH halves of the order history, the classic waterfall
    * split of its revenue delta: price effect (Δunit-price × old
    * volume), volume effect (old unit-price × Δvolume), and the cross
    * term — the "why did revenue move" decomposition every finance
    * review runs. Quantities and cents are exact integers; unit
    * prices and effects are fixed-order double arithmetic from int64s
    * (the [[priceQuantityCorr]] discipline), emitted per part — never
    * summed across parts (float sum order would differ cross-engine).
    *
    * Scale: one fact pass per half collapsed to (part) grain, one
    * part-keyed hash join; no windows. */
  def revenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val mid = orderDateMidpoint(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    def half(p: Int, pred: org.apache.spark.sql.Column) =
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(pred)
        .groupBy(col("l_partkey"))
        .agg(
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as(s"rev${p}_c"),
          sum(round(col("l_quantity")).cast("long")).as(s"qty$p"))
    val b = half(1, to_date(o("o_orderdate")) <= lit(mid))
      .join(half(2, to_date(o("o_orderdate")) > lit(mid)),
        Seq("l_partkey"))
    val p1 = col("rev1_c").cast("double") / col("qty1").cast("double")
    val p2 = col("rev2_c").cast("double") / col("qty2").cast("double")
    b.select(col("l_partkey"), col("rev1_c"), col("rev2_c"),
        col("qty1"), col("qty2"),
        ((p2 - p1) * col("qty1").cast("double")).as("price_effect_c"),
        (p1 * (col("qty2") - col("qty1")).cast("double"))
          .as("volume_effect_c"),
        ((p2 - p1) * (col("qty2") - col("qty1")).cast("double"))
          .as("cross_effect_c"))
      .orderBy("l_partkey")
  }

  /** DuckDB oracle for [[revenueBridge]]. */
  private[graft] def revenueBridgeOracleSql: String = {
    def half(n: Int, pred: String) =
      s"""SELECT l_partkey,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
         |      AS BIGINT) AS rev${n}_c,
         |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
         |      AS qty$n
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE $pred GROUP BY 1""".stripMargin
    s"""WITH h1 AS (${half(1, s"CAST(o_orderdate AS DATE) <= $midpointSql")}),
       |h2 AS (${half(2, s"CAST(o_orderdate AS DATE) > $midpointSql")}),
       |b AS (
       |  SELECT h1.l_partkey, rev1_c, rev2_c, qty1, qty2
       |  FROM h1 JOIN h2 ON h1.l_partkey = h2.l_partkey)
       |SELECT l_partkey, rev1_c, rev2_c, qty1, qty2,
       |  (CAST(rev2_c AS DOUBLE) / CAST(qty2 AS DOUBLE)
       |    - CAST(rev1_c AS DOUBLE) / CAST(qty1 AS DOUBLE))
       |    * CAST(qty1 AS DOUBLE) AS price_effect_c,
       |  CAST(rev1_c AS DOUBLE) / CAST(qty1 AS DOUBLE)
       |    * CAST(qty2 - qty1 AS DOUBLE) AS volume_effect_c,
       |  (CAST(rev2_c AS DOUBLE) / CAST(qty2 AS DOUBLE)
       |    - CAST(rev1_c AS DOUBLE) / CAST(qty1 AS DOUBLE))
       |    * CAST(qty2 - qty1 AS DOUBLE) AS cross_effect_c
       |FROM b ORDER BY l_partkey""".stripMargin
  }

  /** Q6 parameters: ship-year window, discount band (permille), and
    * quantity cap. */
  val Q6YearStart = "1995-01-01"
  val Q6YearEnd = "1996-01-01"
  val Q6DiscLoPm = 50L
  val Q6DiscHiPm = 70L
  val Q6QtyCap = 24

  /** FORECAST REVENUE CHANGE (TPC-H Q6 shape) — "how much revenue
    * would we keep by eliminating small-quantity discounts in a band,
    * for one ship-year": one scalar row, `sum(price × discount)` under
    * three scan-pushable predicates. Q6 exists to exercise PREDICATE
    * PUSHDOWN — the date range and quantity cap reach the parquet scan
    * (plan-asserted in PlanSpec); the discount-band test runs on the
    * ROUNDED permille so no float boundary can split the engines.
    * The gain accumulates as cents×permille int64 (exact, mergeable);
    * the dollar figure is one int64→double division pair.
    *
    * Scale: a single projection+filter+partial/final aggregate — the
    * cheapest possible full-scan shape, and the query whose runtime IS
    * the scan-pruning story at 100 TB (date-partitioned layout prunes
    * to one year). */
  def revenueForecastQ6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) >= lit(Q6YearStart) &&
        to_date(col("l_shipdate")) < lit(Q6YearEnd) &&
        col("l_quantity") < Q6QtyCap)
      .withColumn("disc_pm", round(col("l_discount") * 1000).cast("long"))
      .filter(col("disc_pm") >= Q6DiscLoPm && col("disc_pm") <= Q6DiscHiPm)
      .agg(
        count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * 100).cast("long") *
          col("disc_pm")).as("gain_c_pm"))
      .withColumn("gain_dollars",
        col("gain_c_pm").cast("double") / lit(100000.0))

  /** DuckDB oracle for [[revenueForecastQ6]]. */
  private[graft] def revenueForecastQ6OracleSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
       |    CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT)
       |    AS gain_c_pm,
       |  CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
       |    CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT)
       |    AS DOUBLE) / 100000.0 AS gain_dollars
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) >= DATE '$Q6YearStart'
       |  AND CAST(l_shipdate AS DATE) < DATE '$Q6YearEnd'
       |  AND l_quantity < $Q6QtyCap
       |  AND CAST(round(l_discount * 1000) AS BIGINT)
       |    BETWEEN $Q6DiscLoPm AND $Q6DiscHiPm""".stripMargin

  /** Discount-band width (permille) for [[discountBandProfile]]. */
  val DiscBandPm = 20L

  /** DISCOUNT-BAND pricing profile — items, volume, gross revenue and
    * discount give-back per 2-percentage-point discount band: the
    * elasticity table a pricing review reads next to [[revenueForecastQ6]]'s
    * single what-if scalar. All integer (cents, permille, floor-div
    * bands); give-back stays in exact cents×permille.
    *
    * Scale: one projection + one partial+final aggregate at band grain
    * (≤ 6 cells). */
  def discountBandProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("disc_pm", round(col("l_discount") * 1000).cast("long"))
      .withColumn("band", expr(s"disc_pm div $DiscBandPm"))
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("long")).as("qty_total"),
        sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("gross_c"),
        sum(round(col("l_extendedprice") * 100).cast("long") *
          col("disc_pm")).as("giveback_c_pm"))
      .orderBy("band")

  /** DuckDB oracle for [[discountBandProfile]]. */
  private[graft] def discountBandProfileOracleSql: String =
    s"""WITH b AS (
       |  SELECT CAST(round(l_discount * 1000) AS BIGINT) AS disc_pm,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
       |    CAST(round(l_quantity) AS BIGINT) AS qty
       |  FROM lineitem)
       |SELECT disc_pm // $DiscBandPm AS band,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(qty) AS BIGINT) AS qty_total,
       |  CAST(sum(price_c) AS BIGINT) AS gross_c,
       |  CAST(sum(price_c * disc_pm) AS BIGINT) AS giveback_c_pm
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** RATIO-TO-PARENT rollup — each nation's revenue share inside its
    * region, the drill-down normalization every BI hierarchy renders
    * (child % of parent). Nation grain comes from one fact pass with
    * broadcast dims; the parent total re-aggregates the CHILD frame
    * (never a second corpus pass) and joins back at region grain.
    * Cents + floor-mille, exact. */
  def nationShareOfRegion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val nationRev = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name"), n("n_name"))
      .agg(sum(round(o("o_totalprice") * 100).cast("long")).as("rev_c"))
      .localCheckpoint()
    val regionRev = nationRev.groupBy("r_name")
      .agg(sum(col("rev_c")).as("region_rev_c"))
    nationRev.join(broadcast(regionRev), Seq("r_name"))
      .withColumn("share_mille", expr("rev_c * 1000 div region_rev_c"))
      .select("r_name", "n_name", "rev_c", "region_rev_c", "share_mille")
      .orderBy("r_name", "n_name")
  }

  /** DuckDB oracle for [[nationShareOfRegion]]. */
  private[graft] def nationShareOfRegionOracleSql: String =
    s"""WITH nr AS (
       |  SELECT r.r_name, n.n_name,
       |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  GROUP BY 1, 2),
       |rr AS (
       |  SELECT r_name, CAST(sum(rev_c) AS BIGINT) AS region_rev_c
       |  FROM nr GROUP BY 1)
       |SELECT nr.r_name, nr.n_name, nr.rev_c, rr.region_rev_c,
       |  nr.rev_c * 1000 // rr.region_rev_c AS share_mille
       |FROM nr JOIN rr ON nr.r_name = rr.r_name
       |ORDER BY nr.r_name, nr.n_name""".stripMargin

  /** FANOUT HISTOGRAM of the two core FK relationships — how many
    * children each parent key has, counted at fanout-value grain: the
    * join-cardinality statistic a planner (or a capacity review)
    * reads before choosing join strategy and skew handling — the
    * distributional upgrade of [[keySkewReport]]'s scalar skew
    * indices and [[fkOrphanAudit]]'s presence checks.
    *
    * Scale: one partial+final aggregate per relationship to parent
    * grain, then a second to fanout-value grain (value cardinality —
    * tiny); union of two fixed-schema frames. */
  def fkFanoutHistogram(spark: SparkSession, dir: String): DataFrame = {
    def rel(name: String, child: DataFrame, key: String): DataFrame =
      child.groupBy(col(key).as("k"))
        .agg(count(lit(1)).as("fanout"))
        .groupBy("fanout")
        .agg(count(lit(1)).as("n_parent_keys"))
        .select(lit(name).as("relationship"), col("fanout"),
          col("n_parent_keys"))
    rel("orders_per_customer", Tables.orders(spark, dir), "o_custkey")
      .unionByName(rel("lineitems_per_order",
        Tables.lineitem(spark, dir), "l_orderkey"))
      .orderBy("relationship", "fanout")
  }

  /** DuckDB oracle for [[fkFanoutHistogram]]. */
  private[graft] def fkFanoutHistogramOracleSql: String = {
    def rel(name: String, child: String, key: String) =
      s"""SELECT '$name' AS relationship,
         |  CAST(fanout AS BIGINT) AS fanout,
         |  CAST(count(*) AS BIGINT) AS n_parent_keys
         |FROM (SELECT $key, count(*) AS fanout FROM $child GROUP BY 1)
         |GROUP BY 2""".stripMargin
    s"""${rel("orders_per_customer", "orders", "o_custkey")}
       |UNION ALL
       |${rel("lineitems_per_order", "lineitem", "l_orderkey")}
       |ORDER BY relationship, fanout""".stripMargin
  }

  /** SEASONAL INDEX by calendar month — each month-of-year's average
    * daily revenue as a mille index against the overall daily average
    * (100 0 = flat): the classic multiplicative seasonality table a
    * forecaster divides out before trending, the calendar complement
    * of [[acfProfile]]'s lag view and `hourly_seasonality`'s
    * hour-of-day view. All cents and floor-milles; the "average" is
    * carried as exact (sum, count) pairs and the index is ONE
    * integer-ratio floor — no float averaging.
    *
    * Scale: one fact pass to day grain, re-aggregated to the 12-row
    * month-of-year frame; the overall average is a re-aggregation of
    * the same day frame, broadcast back. */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .localCheckpoint()
    val monthly = daily
      .groupBy(month(col("day")).as("month_of_year"))
      .agg(count(lit(1)).as("n_days"), sum(col("rev_c")).as("rev_c"))
    monthly
      .crossJoin(broadcast(daily.agg(
        count(lit(1)).as("n_days_total"),
        sum(col("rev_c")).as("rev_c_total"))))
      // index = (month_avg / overall_avg) in mille, as one integer
      // ratio — in DECIMAL(38,0): the rev_c·n_days·1000 numerator
      // brushes int64 at sf1 (~9e18), the same headroom trap
      // [[revenueConcentration]]'s Gini hit at sf0.1.
      .withColumn("index_mille",
        expr("(CAST(rev_c AS DECIMAL(38,0)) * n_days_total * 1000) div " +
          "(n_days * CAST(rev_c_total AS DECIMAL(38,0)))"))
      .select("month_of_year", "n_days", "rev_c", "index_mille")
      .orderBy("month_of_year")
  }

  /** SEASONAL INDEX by ISO weekday — [[seasonalIndex]]'s formula at
    * day-of-week grain, completing the calendar-seasonality set
    * (hour-of-day in `hourly_seasonality`, month-of-year above):
    * which weekdays over/under-index on revenue, as the same exact
    * (sum, count)-pair mille ratio. Weekday is pinned to ISO
    * (1 = Monday … 7 = Sunday) on BOTH engines — Spark's `dayofweek`
    * is 1 = Sunday while DuckDB's is 0 = Sunday, the classic silent
    * off-by-one; `weekday()+1` ↔ `isodow()` is the portable pair.
    *
    * Scale: identical to the monthly index — one fact pass to day
    * grain, a 7-row re-aggregate, a broadcast 1-row total. */
  def weekdaySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      .localCheckpoint()
    val byDow = daily
      .groupBy((weekday(col("day")) + 1).as("iso_weekday"))
      .agg(count(lit(1)).as("n_days"), sum(col("rev_c")).as("rev_c"))
    byDow
      .crossJoin(broadcast(daily.agg(
        count(lit(1)).as("n_days_total"),
        sum(col("rev_c")).as("rev_c_total"))))
      .withColumn("index_mille",
        expr("(CAST(rev_c AS DECIMAL(38,0)) * n_days_total * 1000) div " +
          "(n_days * CAST(rev_c_total AS DECIMAL(38,0)))"))
      .select("iso_weekday", "n_days", "rev_c", "index_mille")
      .orderBy("iso_weekday")
  }

  /** DuckDB oracle for [[weekdaySeasonality]]. */
  private[graft] def weekdaySeasonalityOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM orders GROUP BY 1),
       |m AS (
       |  SELECT isodow(day) AS iso_weekday,
       |    CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(rev_c) AS BIGINT) AS rev_c
       |  FROM daily GROUP BY 1),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_days_total,
       |    CAST(sum(rev_c) AS BIGINT) AS rev_c_total
       |  FROM daily)
       |SELECT CAST(m.iso_weekday AS INT) AS iso_weekday, m.n_days,
       |  m.rev_c,
       |  CAST((CAST(m.rev_c AS HUGEINT) * t.n_days_total * 1000) //
       |    (m.n_days * CAST(t.rev_c_total AS HUGEINT)) AS BIGINT)
       |    AS index_mille
       |FROM m CROSS JOIN t
       |ORDER BY 1""".stripMargin

  /** DuckDB oracle for [[seasonalIndex]]. */
  private[graft] def seasonalIndexOracleSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM orders GROUP BY 1),
       |m AS (
       |  SELECT month(day) AS month_of_year,
       |    CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(rev_c) AS BIGINT) AS rev_c
       |  FROM daily GROUP BY 1),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_days_total,
       |    CAST(sum(rev_c) AS BIGINT) AS rev_c_total
       |  FROM daily)
       |SELECT CAST(m.month_of_year AS INT) AS month_of_year, m.n_days,
       |  m.rev_c,
       |  CAST((CAST(m.rev_c AS HUGEINT) * t.n_days_total * 1000) //
       |    (m.n_days * CAST(t.rev_c_total AS HUGEINT)) AS BIGINT)
       |    AS index_mille
       |FROM m CROSS JOIN t
       |ORDER BY 1""".stripMargin

  /** REVENUE CONCENTRATION — the one-row inequality dashboard over
    * customer spend: top-decile revenue share and the exact GINI
    * coefficient, both as floor-milles from the closed-form rank
    * formula G = (2·Σ rank·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over the
    * ascending (spend, custkey) order — every term an int64, no
    * float Lorenz integration. The customer-grain sibling of
    * [[keySkewReport]]'s key-skew Gini and [[abcClassification]]'s
    * part-side Pareto walk.
    *
    * Scale: fact collapses to customer grain, then the rank comes from
    * [[GlobalRank.withRowNumber]]'s exact two-phase pass (customer
    * cardinality is data-scaled — a naive unpartitioned rank window
    * would be `Exchange SinglePartition`) and a single global
    * aggregate. Top-decile cut is rank > n − n div 10 — pure
    * integers. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val ranked = GlobalRank.withRowNumber(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("spend_c")),
      "rank", Seq(col("spend_c"), col("o_custkey")))
    val top = ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
      .filter(col("rank") > col("n") - expr("n div 10"))
      .agg(sum(col("spend_c")).as("top_decile_c"))
    ranked
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("spend_c")).as("total_c"),
        sum(col("rank") * col("spend_c")).as("s1"))
      .crossJoin(broadcast(top))
      // The Gini numerator ×1000 tops int64 once Σ rank·spend reaches
      // ~1e16 (surfaced at sf0.1) — the closed form runs in
      // DECIMAL(38,0) (HUGEINT on the oracle side); `div` on decimals
      // still yields the exact integral quotient as a long.
      .withColumn("gini_mille",
        expr("((2 * CAST(s1 AS DECIMAL(38,0)) - (n_customers + 1) * " +
          "CAST(total_c AS DECIMAL(38,0))) * 1000) div " +
          "(n_customers * CAST(total_c AS DECIMAL(38,0)))"))
      .withColumn("top_decile_share_mille",
        expr("top_decile_c * 1000 div total_c"))
      .select("n_customers", "total_c", "top_decile_c",
        "top_decile_share_mille", "gini_mille")
  }

  /** DuckDB oracle for [[revenueConcentration]]. */
  private[graft] def revenueConcentrationOracleSql: String =
    s"""WITH sp AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS spend_c
       |  FROM orders GROUP BY 1),
       |r AS (
       |  SELECT spend_c,
       |    CAST(row_number() OVER (ORDER BY spend_c, o_custkey)
       |      AS BIGINT) AS rank,
       |    CAST(count(*) OVER () AS BIGINT) AS n
       |  FROM sp),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_customers,
       |    CAST(sum(spend_c) AS BIGINT) AS total_c,
       |    CAST(sum(rank * spend_c) AS BIGINT) AS s1
       |  FROM r),
       |d AS (
       |  SELECT CAST(sum(spend_c) AS BIGINT) AS top_decile_c
       |  FROM r WHERE rank > n - n // 10)
       |SELECT a.n_customers, a.total_c, d.top_decile_c,
       |  d.top_decile_c * 1000 // a.total_c AS top_decile_share_mille,
       |  CAST(((2 * CAST(a.s1 AS HUGEINT) - (a.n_customers + 1) *
       |    CAST(a.total_c AS HUGEINT)) * 1000) //
       |    (a.n_customers * CAST(a.total_c AS HUGEINT)) AS BIGINT)
       |    AS gini_mille
       |FROM a CROSS JOIN d""".stripMargin

  /** WEEK-OVER-WEEK growth — weekly revenue with the previous week's
    * figure and a FLOOR-SAFE growth mille: `(cur·1000) div prev − 1000`
    * keeps the division non-negative (the standing div/floor rule —
    * a direct `(cur−prev) div prev` would silently split the engines
    * on negative weeks: Spark `div` truncates toward zero, DuckDB `//`
    * floors). Weeks key on ISO (yearofweek, week) — calendar `year()`
    * would misfile the Jan-1 days of spillover ISO weeks. The first
    * week emits a NULL growth (no prior), pinned cross-engine.
    *
    * Scale: day-grain pass, week re-aggregation, one lag window over
    * the week-cardinality frame. */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(spark, dir)
      .withColumn("day", to_date(col("o_orderdate")))
      .groupBy((expr("extract(YEAROFWEEK FROM day)") * 100 +
        weekofyear(col("day"))).cast("int").as("yearweek"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
    val w = Window.orderBy("yearweek")
    weekly
      .withColumn("prev_rev_c", lag(col("rev_c"), 1).over(w))
      .withColumn("growth_mille",
        expr("(rev_c * 1000) div prev_rev_c") - lit(1000L))
      .orderBy("yearweek")
  }

  /** DuckDB oracle for [[wowGrowth]]. */
  private[graft] def wowGrowthOracleSql: String =
    s"""WITH wk AS (
       |  SELECT isoyear(CAST(o_orderdate AS DATE)) * 100 +
       |      weekofyear(CAST(o_orderdate AS DATE)) AS yearweek,
       |    CAST(count(*) AS BIGINT) AS n_orders,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM orders GROUP BY 1)
       |SELECT CAST(yearweek AS INT) AS yearweek, n_orders, rev_c,
       |  lag(rev_c) OVER (ORDER BY yearweek) AS prev_rev_c,
       |  (rev_c * 1000) // lag(rev_c) OVER (ORDER BY yearweek) - 1000
       |    AS growth_mille
       |FROM wk ORDER BY yearweek""".stripMargin

  /** DuckDB oracle for [[trendingParts7d]]. */
  private[graft] def trendingParts7dOracleSql: String =
    s"""WITH dp AS (
       |  SELECT CAST(l_shipdate AS DATE) AS day, l_partkey,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS rev_c
       |  FROM lineitem GROUP BY 1, 2),
       |rd AS (SELECT DISTINCT day AS wend FROM dp),
       |w AS (
       |  SELECT dp.day + CAST(o.off AS INTEGER) AS wend, dp.l_partkey, dp.rev_c
       |  FROM dp CROSS JOIN (
       |    SELECT unnest(generate_series(0, ${TrendWindowDays - 1}))
       |      AS off) o),
       |agg AS (
       |  SELECT w.wend, w.l_partkey,
       |    CAST(sum(w.rev_c) AS BIGINT) AS rev_7d_c
       |  FROM w JOIN rd ON w.wend = rd.wend
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT wend AS day, l_partkey, rev_7d_c,
       |    CAST(row_number() OVER (PARTITION BY wend
       |      ORDER BY rev_7d_c DESC, l_partkey) AS INT) AS rank
       |  FROM agg)
       |SELECT day, rank, l_partkey, rev_7d_c
       |FROM r WHERE rank <= $TrendTopK
       |ORDER BY day, rank""".stripMargin

  /** Salt fan-out for the skew-salted join demo (shared with the spec;
    * the oracle is salt-free by design — see
    * [[saltedJoinRollup]]). */
  val SaltShards = 8

  /** SKEW-SALTED JOIN — the second half of the skew toolkit
    * ([[skewSafeDistinct]] shards a hot AGGREGATION key; this shards a
    * hot JOIN key). A shuffle hash join on a skewed fact key sends the
    * hot key's entire row mass to ONE reducer; salting splits it
    * `SaltShards` ways: the fact side gets a deterministic per-row
    * salt (`pmod(event_id, S)` — any row-uniform function works), the
    * dimension side replicates each row against ALL `S` salts
    * (`explode(sequence)`), and the join keys on (key, salt). Every
    * fact row still meets its dimension row exactly once, so the join
    * is LOSSLESS — which is precisely what the oracle proves: it runs
    * the PLAIN unsalted join, and the hashes must agree. The dim-side
    * cost is a bounded ×S blow-up of the SMALL side (here 1500 rows ×
    * 8), the classic trade for unbounding the hot reducer.
    *
    * The rollup applies [[skewSafeDistinct]]'s shard decomposition
    * INLINE for the per-segment distinct-user count (partials carry
    * the algebraic aggs along — one pass over the join), so one query
    * exercises both skew shards. `hint("shuffle_hash")` pins the join shape the
    * pattern exists for (at test SF the optimizer would broadcast the
    * dim and hide the salt's point; PlanSpec asserts no broadcast on
    * this path).
    *
    * Scale: fact rows ride ONE (user_id, salt) shuffle; the dim
    * explode is map-side; both aggregates are partial+final. */
  def saltedJoinRollup(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(spark, dir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        pmod(col("event_id"), lit(SaltShards)).cast("int").as("salt"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt",
        explode(sequence(lit(0), lit(SaltShards - 1))))
    val joined = fact
      .join(dim.hint("shuffle_hash"),
        fact("user_id") === dim("c_custkey") &&
          fact("salt") === dim("salt"))
      .select(col("c_mktsegment"), col("user_id"), col("cents"))
    // ONE pass over the join: the [[skewSafeDistinct]] shard
    // decomposition carries the algebraic aggregates along — per
    // (segment, user-shard) partials, then an exact re-aggregate
    // (shards slice the USER space disjointly, so partial distincts
    // sum). Running the rollup and the distinct as two consumers of
    // `joined` would re-execute the fact join per consumer at scale.
    joined
      .groupBy(col("c_mktsegment"),
        pmod(xxhash64(col("user_id")), lit(64)).as("__shard"))
      .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"),
        countDistinct(col("user_id")).as("pu"))
      .groupBy("c_mktsegment")
      .agg(sum(col("pn")).as("n_events"), sum(col("pc")).as("amount_cents"),
        sum(col("pu")).as("n_users"))
      .orderBy("c_mktsegment")
  }

  /** DuckDB oracle for [[saltedJoinRollup]] — deliberately the PLAIN
    * unsalted join + a direct `count(DISTINCT)`: a salting bug (lost
    * or doubled fact rows, shard overlap in the distinct
    * decomposition) cannot mirror itself here. */
  private[graft] def saltedJoinRollupOracleSql: String =
    s"""SELECT c.c_mktsegment,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
       |    AS amount_cents,
       |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ORDERED STRING AGGREGATION (`listagg ... WITHIN GROUP`, new in
    * Spark 4): each customer's chronological order-status path as one
    * string — the compact per-entity event-sequence encoding
    * session-path and funnel analyses consume (the CDC side builds
    * the same shape by hand with `array_join(array_sort(...))`; this
    * is the engine-native form). Deterministic because the WITHIN
    * GROUP order key (o_orderdate, o_orderkey) is unique per
    * customer.
    *
    * Scale: one o_custkey-partitioned partial+final aggregate; path
    * length is bounded by orders-per-customer (TPC-H ≤ ~40), so the
    * aggregation buffer is bounded — this is NOT for unbounded-fanout
    * keys (the same caveat as any collect_list). */
  def statusPathListagg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        expr("listagg(o_orderstatus) WITHIN GROUP " +
          "(ORDER BY o_orderdate, o_orderkey)").as("status_path"),
        expr("listagg(cast(o_orderpriority as string), '>') WITHIN GROUP " +
          "(ORDER BY o_orderdate, o_orderkey)").as("priority_path"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))
      .orderBy("o_custkey")

  /** Per-table stable identity columns for [[tableChecksums]] — keys,
    * enums and exact integers only: floats and timestamps RENDER
    * differently across engines, so they stay out of the canonical
    * string (shared with the oracle). */
  private[graft] val ChecksumCols: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey",
      "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey"),
    "part" -> Seq("p_partkey", "p_name", "p_size"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey"),
    "events" -> Seq("event_id", "user_id", "event_type"),
    "documents" -> Seq("doc_id", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "label"))

  /** Modulus keeping the per-row hash term small enough that a 64-bit
    * sum cannot overflow at any realistic row count (shared with the
    * oracle). */
  val ChecksumMod = 1000000007L

  /** TABLE CONTENT CHECKSUMS — the migration/backup validation
    * utility: one row per table with its row count and an ORDER-FREE
    * content checksum (Σ md5-band of the canonical identity string,
    * mod [[ChecksumMod]] per row so the sum stays in 64 bits). Copy a
    * lake to new storage, run this on both sides, diff 10 rows — a
    * lost, duplicated, or corrupted row moves the checksum; row order,
    * file layout and partitioning don't (addition commutes). The
    * canonical string uses keys/enums/exact ints only — floats and
    * timestamps render engine-specifically and belong in typed
    * reconciliations (`revenue_reconciliation`), not identity strings.
    *
    * Scale: one projection + one 1-row aggregate per table, all
    * independent (a scheduler runs them in parallel); nothing
    * shuffles but 10 partial rows. */
  def tableChecksums(spark: SparkSession, dir: String): DataFrame =
    ChecksumCols.map { case (tbl, cols) =>
      Tables.table(spark, dir, tbl)
        .select(expr(
          s"cast(conv(substring(md5(concat_ws('|', " +
            s"${cols.mkString(", ")})), 1, 15), 16, 10) as bigint)" +
            s" % $ChecksumMod").as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
        .select(lit(tbl).as("tbl"), col("n_rows"), col("checksum"))
    }.reduce(_ unionByName _).orderBy("tbl")

  /** DuckDB oracle for [[tableChecksums]]. */
  private[graft] def tableChecksumsOracleSql: String =
    ChecksumCols.map { case (tbl, cols) =>
      s"""  SELECT '$tbl' AS tbl, count(*) AS n_rows,
         |    CAST(sum(CAST('0x' || substr(md5(concat_ws('|',
         |      ${cols.mkString(", ")})), 1, 15) AS BIGINT)
         |      % $ChecksumMod) AS BIGINT) AS checksum
         |  FROM $tbl""".stripMargin
    }.mkString("SELECT * FROM (\n", "\n  UNION ALL\n",
      "\n) ORDER BY tbl")

  /** Histogram resolutions audited by [[joinCardinalityEstimate]]
    * (shared with the oracle). */
  val JoinEstBuckets: Seq[Int] = Seq(256, 4096)

  /** JOIN-CARDINALITY ESTIMATE — the statistic a cost-based optimizer
    * lives on: |A ⋈ B| estimated from per-side equi-width HASH
    * histograms as Σ_b n_A(b)·n_B(b). With one bucket per key the sum
    * is exact; at coarser resolutions hash collisions only ADD cross
    * terms, so the estimate is a deterministic UPPER bound whose error
    * mille quantifies what histogram resolution buys (the reason
    * engines keep ~10³ buckets of column stats, not 10). One row per
    * resolution: estimate, exact join count, and the signed error.
    *
    * Scale: each histogram is a bucket-grain partial+final count over
    * its own scan (B rows out); the estimate joins two B-row frames.
    * The exact count — the expensive truth the estimate exists to
    * avoid — is one key-shuffle count, included here as the audit's
    * referee. */
  def joinCardinalityEstimate(spark: SparkSession, dir: String): DataFrame = {
    // r18 optimization (guide §1.2 — don't compute things twice): each
    // resolution used to pay its OWN scan+md5 pass per table (2
    // resolutions × 2 tables = 4 histogram scans). The resolutions are
    // nested (256 | 4096 ⇒ h % 256 = (h % 4096) % 256), so ONE
    // finest-grain histogram per table (checkpointed: ≤ max(buckets)
    // rows) now feeds every coarser resolution as a bucket-grain
    // re-aggregate — one md5 pass per table total, and the before-plan's
    // four fact scans drop to two. Identical counts by the modulus
    // identity; the exact-join referee is untouched.
    val maxB = JoinEstBuckets.max
    require(JoinEstBuckets.forall(b => maxB % b == 0),
      "nested-resolution derivation needs every bucket count to divide the max")
    def hist(df: DataFrame, key: String): DataFrame = df
      .groupBy(pmod(expr(
        s"cast(conv(substring(md5(cast($key as string)), 1, 15), 16, 10)" +
          s" as bigint)"), lit(maxB.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    def atRes(fine: DataFrame, b: Int): DataFrame =
      if (b == maxB) fine
      else fine.groupBy(pmod(col("bucket"), lit(b.toLong)).as("bucket"))
        .agg(sum(col("n")).as("n"))
    val orders = Tables.orders(spark, dir).select(col("o_orderkey"))
    val lines = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val exact = orders.join(lines,
        col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("exact_rows"))
    val (hoF, hlF) = (hist(orders, "o_orderkey"), hist(lines, "l_orderkey"))
    val perRes = JoinEstBuckets.map { b =>
      atRes(hoF, b).as("ho")
        .join(atRes(hlF, b).as("hl"), "bucket")
        .agg(sum(col("ho.n") * col("hl.n")).as("est_rows"))
        .select(lit(b).as("n_buckets"), col("est_rows"))
    }.reduce(_ unionByName _)
    perRes
      .crossJoin(broadcast(exact))
      .select(col("n_buckets"), col("est_rows"), col("exact_rows"),
        expr("(est_rows - exact_rows) * 1000 div exact_rows")
          .as("overest_mille"))
      .orderBy("n_buckets")
  }

  /** DuckDB oracle for [[joinCardinalityEstimate]] — same md5-band
    * histograms per resolution, same exact-join referee. */
  private[graft] def joinCardinalityEstimateOracleSql: String = {
    def hist(table: String, key: String, b: Int, alias: String): String =
      s"""$alias AS (
         |  SELECT CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15)
         |      AS BIGINT) % $b AS bucket,
         |    count(*) AS n
         |  FROM $table GROUP BY 1)""".stripMargin
    val resCtes = JoinEstBuckets.map { b =>
      s"""${hist("orders", "o_orderkey", b, s"ho$b")},
         |${hist("lineitem", "l_orderkey", b, s"hl$b")}""".stripMargin
    }.mkString(",\n")
    val resSelects = JoinEstBuckets.map { b =>
      s"""  SELECT $b AS n_buckets,
         |    CAST(sum(ho$b.n * hl$b.n) AS BIGINT) AS est_rows
         |  FROM ho$b JOIN hl$b ON ho$b.bucket = hl$b.bucket""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH x AS (
       |  SELECT count(*) AS exact_rows
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |$resCtes,
       |e AS (
       |$resSelects)
       |SELECT e.n_buckets, e.est_rows, x.exact_rows,
       |  CAST((e.est_rows - x.exact_rows) * 1000 // x.exact_rows
       |    AS BIGINT) AS overest_mille
       |FROM e CROSS JOIN x
       |ORDER BY 1""".stripMargin
  }

  /** The k in k-anonymity for [[kAnonymityAudit]] (shared with the
    * oracle): equivalence classes smaller than this must be suppressed
    * or generalized before release. */
  val KAnonK = 5

  /** K-ANONYMITY AUDIT — the privacy-governance census a release gate
    * runs before publishing quasi-identified data (companion to the
    * GDPR erasure audit): group the dimension by its quasi-identifier
    * tuple (segment × nation × account-balance band — the attributes a
    * linkage attacker joins on), and report each equivalence class's
    * size, its re-identification risk (1000/n mille, the probability a
    * random member is re-identified by someone who knows the QI
    * tuple), and whether the class fails the [[KAnonK]] bar. The
    * release's k-anonymity level is the min class size — readable off
    * the first rows (sorted by size ascending).
    *
    * Scale: one QI-grain partial+final hash aggregate over the
    * dimension scan; banding is a projection. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("int").as("acctbal_band"))
      .groupBy("c_mktsegment", "c_nationkey", "acctbal_band")
      .agg(count(lit(1)).as("n_members"))
      .withColumn("risk_mille", expr(s"1000 div n_members"))
      .withColumn("suppress", col("n_members") < KAnonK)
      .orderBy(col("n_members"), col("c_mktsegment"), col("c_nationkey"),
        col("acctbal_band"))

  /** DuckDB oracle for [[kAnonymityAudit]] — same banding (double
    * floor on identical inputs, safe for the negative balances a
    * truncating integer div would split on). */
  private[graft] def kAnonymityAuditOracleSql: String =
    s"""WITH q AS (
       |  SELECT c_mktsegment, c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS INT) AS acctbal_band
       |  FROM customer),
       |g AS (
       |  SELECT c_mktsegment, c_nationkey, acctbal_band,
       |    count(*) AS n_members
       |  FROM q GROUP BY 1, 2, 3)
       |SELECT c_mktsegment, c_nationkey, acctbal_band, n_members,
       |  CAST(1000 // n_members AS BIGINT) AS risk_mille,
       |  n_members < $KAnonK AS suppress
       |FROM g
       |ORDER BY n_members, c_mktsegment, c_nationkey, acctbal_band""".stripMargin

  /** The l in l-diversity for [[lDiversityAudit]] (shared with the
    * oracle). */
  val LDiversityL = 2

  /** L-DIVERSITY AUDIT — k-anonymity's necessary companion
    * ([[kAnonymityAudit]]): a class of 50 identical quasi-identifiers
    * is useless to a linkage attacker ONLY if the sensitive attribute
    * varies inside it — if all 50 share one market segment, the QI
    * tuple still discloses it (the homogeneity attack k-anonymity
    * alone misses). Per QI class (nation × balance band): size,
    * distinct sensitive values (l), the modal sensitive value's share
    * in mille (1000 = fully homogeneous), and the failure flag
    * l < [[LDiversityL]].
    *
    * Scale: one (QI, sensitive) pre-aggregate, one QI-grain final —
    * both partial+final; the modal pick is the max(struct) pattern. */
  def lDiversityAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("int").as("acctbal_band"),
        col("c_mktsegment"))
      .groupBy("c_nationkey", "acctbal_band", "c_mktsegment")
      .agg(count(lit(1)).as("sn"))
      .groupBy("c_nationkey", "acctbal_band")
      .agg(sum(col("sn")).as("n_members"),
        count(lit(1)).as("l_distinct"),
        max(struct(col("sn"), col("c_mktsegment"))).as("modal"))
      .select(col("c_nationkey"), col("acctbal_band"), col("n_members"),
        col("l_distinct"),
        col("modal.c_mktsegment").as("modal_segment"),
        expr("modal.sn * 1000 div n_members").as("modal_mille"),
        (col("l_distinct") < LDiversityL).as("homogeneous"))
      .orderBy("c_nationkey", "acctbal_band")

  /** DuckDB oracle for [[lDiversityAudit]] — same two-level aggregate;
    * the modal pick mirrors max(struct) as (count, segment) DESC
    * row_number. */
  private[graft] def lDiversityAuditOracleSql: String =
    s"""WITH s AS (
       |  SELECT c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS INT) AS acctbal_band,
       |    c_mktsegment, count(*) AS sn
       |  FROM customer GROUP BY 1, 2, 3),
       |g AS (
       |  SELECT c_nationkey, acctbal_band,
       |    CAST(sum(sn) AS BIGINT) AS n_members,
       |    count(*) AS l_distinct
       |  FROM s GROUP BY 1, 2),
       |m AS (
       |  SELECT c_nationkey, acctbal_band, c_mktsegment, sn,
       |    row_number() OVER (PARTITION BY c_nationkey, acctbal_band
       |      ORDER BY sn DESC, c_mktsegment DESC) AS rk
       |  FROM s)
       |SELECT g.c_nationkey, g.acctbal_band, g.n_members, g.l_distinct,
       |  m.c_mktsegment AS modal_segment,
       |  CAST(m.sn * 1000 // g.n_members AS BIGINT) AS modal_mille,
       |  g.l_distinct < $LDiversityL AS homogeneous
       |FROM g JOIN m ON g.c_nationkey = m.c_nationkey
       |  AND g.acctbal_band = m.acctbal_band AND m.rk = 1
       |ORDER BY 1, 2""".stripMargin

  /** t threshold in MICRO (1e−6) total-variation units for
    * [[tClosenessAudit]] (shared with the oracle): groups whose
    * sensitive-value distribution sits further than 0.25 TVD from the
    * corpus distribution breach. */
  val TClosenessMicro = 250000L

  /** T-CLOSENESS AUDIT — the third member of the anonymization triad
    * ([[kAnonymityAudit]] / [[lDiversityAudit]] / this): l-diversity
    * only counts DISTINCT sensitive values, so a class that is 98% one
    * segment with a token second value passes l = 2 while still
    * leaking; t-closeness bounds the DISTANCE between each class's
    * sensitive distribution and the corpus-wide one. For the
    * categorical segment attribute the distance is total variation
    * ½·Σ_s |P_g(s) − P(s)|, computed EXACTLY in integers:
    * Σ_s |N·c_gs − n_g·C_s| over segments PRESENT in the class, plus
    * the absent segments' mass in closed form (Σ_absent n_g·C_s =
    * n_g·N − Σ_present n_g·C_s — no dense class×segment spine is ever
    * materialized), all products in DECIMAL(38)/HUGEINT, the result a
    * floor-micro ratio.
    *
    * Scale shape: two partial+final aggregates at class and
    * class×segment grain, a 5-row segment-total broadcast and a 1-row
    * corpus count — the sparse-join + closed-form-complement device is
    * what keeps the audit one shuffle at any class count. */
  def tClosenessAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("int").as("acctbal_band"),
        col("c_mktsegment"))
    val s = base.groupBy("c_nationkey", "acctbal_band", "c_mktsegment")
      .agg(count(lit(1)).as("sn"))
    val g = s.groupBy("c_nationkey", "acctbal_band")
      .agg(sum(col("sn")).as("n_members"))
    val tot = s.groupBy("c_mktsegment").agg(sum(col("sn")).as("cs"))
    val nAll = base.agg(count(lit(1)).as("n_total"))
    s.join(g, Seq("c_nationkey", "acctbal_band"))
      .join(broadcast(tot), Seq("c_mktsegment"))
      .crossJoin(broadcast(nAll))
      .groupBy("c_nationkey", "acctbal_band")
      .agg(
        max(col("n_members")).as("n_members"),
        max(col("n_total")).as("n_total"),
        sum(expr("abs(CAST(n_total AS DECIMAL(38,0)) * sn - " +
          "CAST(n_members AS DECIMAL(38,0)) * cs)")).as("abs_present"),
        sum(expr("CAST(n_members AS DECIMAL(38,0)) * cs"))
          .as("w_present"))
      .withColumn("numer",
        col("abs_present") +
          (expr("CAST(n_members AS DECIMAL(38,0)) * n_total") -
            col("w_present")))
      .withColumn("tvd_micro",
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * numer div " +
          "(2 * CAST(n_members AS DECIMAL(38,0)) * n_total) AS BIGINT)"))
      .withColumn("breach", col("tvd_micro") > lit(TClosenessMicro))
      .select(col("c_nationkey"), col("acctbal_band"), col("n_members"),
        col("tvd_micro"), col("breach"))
      .orderBy("c_nationkey", "acctbal_band")
  }

  /** DuckDB oracle for [[tClosenessAudit]] — same sparse-present sums,
    * same absent-mass closed form, same floor-micro ratio over HUGEINT
    * products. */
  private[graft] def tClosenessAuditOracleSql: String =
    s"""WITH b AS (
       |  SELECT c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS INT) AS acctbal_band,
       |    c_mktsegment
       |  FROM customer),
       |s AS (
       |  SELECT c_nationkey, acctbal_band, c_mktsegment,
       |    CAST(count(*) AS BIGINT) AS sn
       |  FROM b GROUP BY 1, 2, 3),
       |g AS (
       |  SELECT c_nationkey, acctbal_band,
       |    CAST(sum(sn) AS BIGINT) AS n_members
       |  FROM s GROUP BY 1, 2),
       |tot AS (
       |  SELECT c_mktsegment, CAST(sum(sn) AS BIGINT) AS cs
       |  FROM s GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
       |t AS (
       |  SELECT s.c_nationkey, s.acctbal_band,
       |    max(g.n_members) AS n_members,
       |    max(n.n_total) AS n_total,
       |    sum(abs(CAST(n.n_total AS HUGEINT) * s.sn -
       |      CAST(g.n_members AS HUGEINT) * tot.cs)) AS abs_present,
       |    sum(CAST(g.n_members AS HUGEINT) * tot.cs) AS w_present
       |  FROM s
       |  JOIN g ON s.c_nationkey = g.c_nationkey
       |    AND s.acctbal_band = g.acctbal_band
       |  JOIN tot ON s.c_mktsegment = tot.c_mktsegment
       |  CROSS JOIN n
       |  GROUP BY 1, 2)
       |SELECT c_nationkey, acctbal_band, n_members,
       |  CAST(CAST(1000000 AS HUGEINT) *
       |    (abs_present + (CAST(n_members AS HUGEINT) * n_total
       |      - w_present)) //
       |    (2 * CAST(n_members AS HUGEINT) * n_total) AS BIGINT)
       |    AS tvd_micro,
       |  CAST(CAST(1000000 AS HUGEINT) *
       |    (abs_present + (CAST(n_members AS HUGEINT) * n_total
       |      - w_present)) //
       |    (2 * CAST(n_members AS HUGEINT) * n_total) AS BIGINT)
       |    > $TClosenessMicro AS breach
       |FROM t
       |ORDER BY 1, 2""".stripMargin

  /** DuckDB oracle for [[statusPathListagg]] — `string_agg` with the
    * same ORDER BY. */
  private[graft] def statusPathListaggOracleSql: String =
    s"""SELECT o_custkey,
       |  count(*) AS n_orders,
       |  string_agg(o_orderstatus, '' ORDER BY o_orderdate, o_orderkey)
       |    AS status_path,
       |  string_agg(o_orderpriority, '>' ORDER BY o_orderdate, o_orderkey)
       |    AS priority_path,
       |  min(o_orderdate) AS first_order,
       |  max(o_orderdate) AS last_order
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
}
