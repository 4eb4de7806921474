package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{BatchOps, CdcOps, TextOps, VectorOps}

/** Physical-plan regression tests: the properties that make these
  * queries scale — scan-level predicate pushdown, top-k without a global
  * sort, no cartesian products — asserted against the AQE-final executed
  * plan over real (sf0.001) testdata, so a refactor that silently
  * reverts one of them fails here instead of at 100 TB. */
class PlanSpec extends GraftSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Execute the DataFrame's OWN QueryExecution to completion and return
    * the plan text — only then is the AdaptiveSparkPlan final
    * (isFinalPlan=true) and AQE-time changes (exchange coalescing, join
    * strategy switches) visible. A side write would spawn a separate
    * QueryExecution and stringify this one un-executed. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(!full.contains("isFinalPlan=false"),
      s"plan not AQE-finalized:\n$full")
    // AdaptiveSparkPlan stringifies BOTH the final plan and the pre-AQE
    // "Initial Plan" — keep only the final section so counts and
    // negative assertions don't see the discarded initial operators.
    full.split("== Initial Plan ==")(0)
  }

  test("pmi collocations: vocab joins are equi-joins, never nested-loop") {
    val plan = executedPlan(TextOps.pmiCollocations(spark, dir))
    // Two vocab-keyed hash joins + one 1-row broadcast total; a
    // refactor that turns either unigram join into a nested loop
    // re-derives pair×vocab work.
    assert(
      plan.split("\n").count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"unexpected nested-loop joins:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("MIH candidate generation is a bucket equi-join, never all-pairs") {
    val plan = executedPlan(VectorOps.annMihTop1(spark, dir))
    // The pigeonhole join must stay keyed on (band, value); an
    // all-pairs Hamming scan is exactly what MIH exists to avoid.
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"non-equi candidate join:\n$plan")
  }

  test("RP-256 candidate generation is a bucket equi-join, never all-pairs") {
    val plan = executedPlan(VectorOps.annRpRerankTop1(spark, dir))
    // Same pigeonhole contract as MIH at 4× the code length: candidates
    // through the (band, value) equi-join; the rerank joins embeddings
    // by hash on vec_id. Nothing here may fall back to all-pairs.
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"non-equi candidate join:\n$plan")
  }

  test("returned-item revenue: pushed flags, custkey-grain agg before dims") {
    val plan = executedPlan(BatchOps.returnedItemRevenue(spark, dir))
    // The returnflag predicate must reach the lineitem scan and the
    // date window the orders scan — at 100 TB they prune ~3/4 and
    // ~24/25 of the two fact reads respectively.
    assert(plan.split("\n").exists(l =>
      l.contains("FileScan") && l.contains("l_returnflag")),
      s"l_returnflag not pushed:\n$plan")
    assert(plan.split("\n").exists(l =>
      l.contains("FileScan") && l.contains("o_orderdate")),
      s"o_orderdate not pushed:\n$plan")
    // Top-20 must be a TakeOrderedAndProject heap, not a global sort.
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k is a global sort:\n$plan")
  }

  test("segment pivot compiles to one aggregate, no expand/distinct scan") {
    val plan = executedPlan(BatchOps.segmentPivot(spark, dir))
    // The explicit value list keeps the pivot a single conditional
    // aggregation; an implicit pivot inserts a distinct pre-scan and
    // an Expand node — both regressions here.
    assert(!plan.contains("Expand"), s"pivot expanded:\n$plan")
    val aggs = plan.split("\n").count(_.contains("HashAggregate"))
    assert(aggs <= 4, s"more than partial+final aggregates ($aggs):\n$plan")
  }

  test("shipping priority: pushed dates, broadcast dim, top-k heap") {
    val plan = executedPlan(BatchOps.shippingPriority(spark, dir))
    // Both date predicates must reach their scans (the selective path
    // of Q3 — at 100 TB these prune most of the fact table).
    assert(plan.split("\n").exists(l =>
      l.contains("FileScan") && l.contains("o_orderdate")),
      s"o_orderdate not pushed:\n$plan")
    assert(plan.split("\n").exists(l =>
      l.contains("FileScan") && l.contains("l_shipdate")),
      s"l_shipdate not pushed:\n$plan")
    // The segment-filtered customer key set rides a broadcast join.
    assert(plan.contains("BroadcastHashJoin"),
      s"customer dim not broadcast:\n$plan")
    // Top-10 is per-partition heads + merge, never a global sort.
    assert(plan.contains("TakeOrderedAndProject"),
      s"no top-k heap:\n$plan")
  }

  test("windowed extract pushes the date bound into the parquet scan") {
    val plan = executedPlan(BatchOps.customerRollupWindowed(spark, dir))
    // The literal-anchor rewrite exists precisely so this line appears:
    // a scan-level filter on o_orderdate (round-4 regression: the
    // predicate compared against a joined column and could never push).
    assert(plan.split("\n").exists(l =>
      l.contains("FileScan") && l.contains("o_orderdate") &&
        l.contains(">=")),
      s"no pushed o_orderdate bound in:\n$plan")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan(BatchOps.topPartsByRevenue(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("quantile sketch registers ride TakeOrderedAndProject " +
      "(per-partition bottom-k heaps), and the read-out windows " +
      "never see the corpus") {
    // The sketch's 100 TB story IS this operator: K rows per map
    // partition forwarded to the driver-side heap, merge by
    // construction. A plain Sort + GlobalLimit here would ship the
    // corpus through one task.
    val plan = executedPlan(TextOps.quantileSketch(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("pair edit verify joins ride hash/broadcast joins; no " +
      "cartesian product") {
    val plan = executedPlan(TextOps.pairEditVerify(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("threshold cross-joins broadcast; no cartesian product anywhere") {
    val plan = executedPlan(BatchOps.customerSegments(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"plan:\n$plan")
  }

  test("pruning advisor's band crosses broadcast; no shuffled cartesian") {
    // The 6-band × 192-box simulation crosses must ride broadcasts of
    // the tiny band table — a CartesianProduct here would shuffle the
    // normalized FACT rows against the bands at 100 TB.
    val plan = executedPlan(BatchOps.layoutPruningSim(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"plan:\n$plan")
    assert(!plan.contains("Window"), s"window crept in:\n$plan")
  }

  test("pruning advisor reads the fact exactly twice: bounds + grid count") {
    // r15 verdict order #4: the normalized projection used to recompute
    // for each of its four consumers (3 layout box aggregates + the
    // true-selectivity pass) — 5 column-pruned lineitem scans for a
    // diagnostic query. Now ONE (npk, nsk) grid count (≤65,536 cells at
    // any data volume) is the only fact aggregate besides the min/max
    // bounds pass; everything layout-specific runs over the
    // checkpointed grid. Assert the factored pre-checkpoint frame
    // carries exactly TWO lineitem scans, and that the post-checkpoint
    // sim plan carries NONE (i.e. no consumer re-derives the fact).
    val gridPlan = executedPlan(BatchOps.layoutPruningGrid(spark, dir))
    val scans = gridPlan.split("\n").count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(scans == 2, s"expected 2 lineitem scans, got $scans:\n$gridPlan")
    val simPlan = executedPlan(BatchOps.layoutPruningSim(spark, dir))
    assert(!simPlan.split("\n").exists(l =>
      l.contains("FileScan") && l.contains("lineitem")),
      s"a sim consumer re-scans the fact:\n$simPlan")
    assert(simPlan.contains("Generate"), s"no stack unpivot in:\n$simPlan")
  }

  test("vector fan-outs compile to BroadcastHashJoin, never a nested loop") {
    // The constant-key join device (pmod(id, 1) on both sides) exists so
    // the k×N / N×C fan-outs run as codegen'd BroadcastHashJoins. If an
    // optimizer change ever folds pmod(x, 1) to a literal, the join
    // silently reverts to an interpreted BroadcastNestedLoopJoin — a
    // large performance cliff that must fail here, not in the bench.
    for (df <- Seq(VectorOps.cosineTopK(spark, dir),
                   VectorOps.annIvfTop1(spark, dir))) {
      val plan = executedPlan(df)
      assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    }
  }

  test("attribution's top-1 runs as a rank-limit, not a full sort") {
    // WindowGroupLimit (partial before the shuffle, final after) keeps
    // only each purchase's best click on both sides of the exchange —
    // without it every (purchase, click) pair rides the shuffle and
    // gets fully sorted per group.
    val plan = executedPlan(CdcOps.purchaseAttribution(spark, dir))
    assert(plan.contains("WindowGroupLimit"), s"plan:\n$plan")
  }

  test("every rank-capped keyed-allowlist annotation compiles to WindowGroupLimit") {
    // DERIVED from WindowGateSpec.keyedAllowlist:
    // any entry whose justification cites a WindowGroupLimit cap (≤ cap
    // rows per group forwarded on the MAP side, before the exchange —
    // reverting to slice(collect_list(...)) or a plain post-window
    // filter would re-materialize a degenerate group's full membership)
    // must have a builder here AND its executed plan must actually
    // contain the operator. A new rank-capped annotation without a
    // builder fails immediately; an optimizer/operator change that
    // stops producing WindowGroupLimit fails the plan assert — the
    // annotation can no longer rot in either direction.
    val rankCapped = WindowGateSpec.keyedAllowlist
      .filter(_._2.contains("WindowGroupLimit")).keySet
    // A shared operator has one builder per caller.
    val builders: Seq[((String, String), () => DataFrame)] = Seq(
      ("BatchOps.scala", "neymanSample") ->
        (() => BatchOps.neymanSample(spark, dir)),
      ("BatchOps.scala", "trendingParts7d") ->
        (() => BatchOps.trendingParts7d(spark, dir)),
      ("CdcOps.scala", "kmvDistinct") ->
        (() => CdcOps.kmvDistinct(spark, dir)),
      ("CdcOps.scala", "kmvOverlap") ->
        (() => CdcOps.kmvOverlap(spark, dir)),
      ("Candidates.scala", "firstK") ->
        (() => TextOps.minhashCandidatesUncached(spark, dir)),
      ("Candidates.scala", "firstK") ->
        (() => VectorOps.lshScoredPairsUncached(spark, dir)),
      ("Candidates.scala", "firstK") ->
        (() => TextOps.simhashPairs(spark, dir)),
      ("TextOps.scala", "bm25TopK") ->
        (() => TextOps.bm25TopK(spark, dir)),
      ("TextOps.scala", "lpaStep") ->
        (() => {
          // one un-checkpointed propagation round over the real edge
          // set — the shape every checkpointed round of lpaCommunities
          // executes.
          val edges = TextOps.kcoreEdges(spark, dir)
          val l0 = edges.select(org.apache.spark.sql.functions.col("src")
              .as("node"))
            .distinct()
            .withColumn("lbl", org.apache.spark.sql.functions.col("node"))
          TextOps.lpaStep(edges, l0)
        }),
      ("TextOps.scala", "groupedQuantileRegisters") ->
        (() => TextOps.quantileSketchGrouped(spark, dir)),
      ("TextOps.scala", "stratifiedSample") ->
        (() => TextOps.stratifiedSample(spark, dir)),
      ("TextOps.scala", "tfidfTopK") ->
        (() => TextOps.tfidfTopK(spark, dir)),
      ("TextOps.scala", "zipfSlope") ->
        (() => TextOps.zipfSlope(spark, dir)),
      // the one IVF probe, as the untrained-quantizer query runs it
      ("VectorOps.scala", "ivfProbe") ->
        (() => VectorOps.annIvfTop1(spark, dir)),
      ("VectorOps.scala", "clusterSample") ->
        (() => VectorOps.clusterSample(spark, dir)),
      ("VectorOps.scala", "embeddingOutliers") ->
        (() => VectorOps.embeddingOutliers(spark, dir)),
      ("VectorOps.scala", "labelCohesion") ->
        (() => VectorOps.labelCohesion(spark, dir)),
      // the UNCACHED pipeline: the registered queries read the
      // session memo (a checkpoint scan), so the WindowGroupLimit
      // assert must run against the plan the populate executes.
      ("VectorOps.scala", "pqShortlistUncached") ->
        (() => VectorOps.pqShortlistUncached(spark, dir)),
      ("VectorOps.scala", "hammingShortlist") ->
        (() => VectorOps.hammingShortlist(
          VectorOps.mihScoredPairsUncached(spark, dir))))
    val unmapped = rankCapped.diff(builders.map(_._1).toSet)
    assert(unmapped.isEmpty,
      s"rank-capped annotation(s) without a plan-assert builder: $unmapped")
    builders.filter(b => rankCapped(b._1)).foreach { case (site, build) =>
      val plan = executedPlan(build())
      assert(plan.contains("WindowGroupLimit"),
        s"$site is annotated rank-capped but its executed plan has no " +
          s"WindowGroupLimit:\n$plan")
    }
  }

  test("minhash bucket caps run as pre-aggregate rank limits") {
    // Not WindowGroupLimit-ANNOTATED in the gate (its key is
    // data-grain), but the membership cap still must compile to one —
    // a degenerate band bucket otherwise materializes whole in an
    // aggregation buffer.
    val plan =
      executedPlan(TextOps.minhashCandidatesUncached(spark, dir))
    assert(plan.contains("WindowGroupLimit"), s"plan:\n$plan")
  }

  test("split assignment is shuffle-free up to the output sort") {
    // trainValSplit's whole point is that membership is a pure function
    // of doc_id: the only exchange allowed is the rangepartitioning for
    // the presentation sort — a hashpartitioning exchange would mean a
    // join or aggregate crept into the assignment.
    val plan = executedPlan(graft.operators.TextOps.trainValSplit(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"), s"plan:\n$plan")
  }

  test("DQ orphan checks broadcast, with no cartesian product") {
    val plan = executedPlan(graft.operators.BatchOps.dqReport(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("union-merge as-of runs in a single user-key exchange") {
    // The as-of's entire point vs a pair join: both sides union BEFORE
    // the one hashpartitioning(user_id) exchange, and the running carry
    // is a window over that single sort — a second user_id exchange
    // means the union degraded to a join-like two-shuffle plan.
    val plan = executedPlan(CdcOps.eventAsofOrder(spark, dir))
    val userExchanges = plan.split("\n").count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userExchanges == 1, s"$userExchanges user_id exchanges in:\n$plan")
  }

  test("sessionization runs in a single user-key exchange") {
    // lag, the island cumsum, and the session rollup must all reuse the
    // one hashpartitioning(user_id) exchange; a second user_id exchange
    // means the window specs diverged and the query shuffles the fact
    // stream twice.
    val plan = executedPlan(CdcOps.eventSessions(spark, dir))
    val userExchanges = plan.split("\n").count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userExchanges == 1, s"$userExchanges user_id exchanges in:\n$plan")
  }

  test("tfidf's per-doc top-k cap compiles to WindowGroupLimit") {
    val plan = executedPlan(TextOps.tfidfTopK(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"rank cap not a group limit:\n$plan")
  }

  test("bm25's per-doc top-k cap compiles to WindowGroupLimit") {
    val plan = executedPlan(TextOps.bm25TopK(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"rank cap not a group limit:\n$plan")
    // Corpus totals must ride a broadcast, never a shuffled join.
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"totals not broadcast:\n$plan")
  }

  test("regional revenue joins dims by broadcast, facts by hash — no cartesian") {
    val plan = executedPlan(BatchOps.regionalRevenue(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"cartesian in:\n$plan")
  }

  test("cluster sample's per-cluster quota compiles to WindowGroupLimit") {
    val plan = executedPlan(VectorOps.clusterSample(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"quota cap not a group limit:\n$plan")
    // The centroid side must ride a broadcast — embeddings never
    // shuffle for the assignment.
    assert(plan.contains("BroadcastExchange"),
      s"centroids not broadcast:\n$plan")
  }

  test("domain mixture is one aggregate over the corpus scan") {
    // One FileScan, one partial+final aggregate pair on source; the
    // |sources|-row normalizer windows never touch the corpus again.
    val plan = executedPlan(TextOps.domainMixture(spark, dir))
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      s"multiple scans:\n$plan")
  }

  test("scd2 history is one key shuffle, one sort, no join") {
    val plan = executedPlan(CdcOps.scd2History(spark, dir))
    // lead() and the running version count share partitioning AND
    // ordering: a second sort or a join would mean the shared frame
    // regressed to two passes.
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected exactly 1 key exchange, got $hashExchanges:\n$plan")
  }

  test("kmv sketch caps the per-group rank before the exchange") {
    val plan = executedPlan(CdcOps.kmvDistinct(spark, dir))
    // The K-smallest-per-group must run as a group limit (partial mode
    // ships ≤K rows per group per map task — the distributed sketch
    // merge), never a full per-group sort of all distinct users.
    assert(plan.contains("WindowGroupLimit"),
      s"rank cap not a group limit:\n$plan")
  }

  test("ngram decontam broadcasts the eval dirty list") {
    val plan = executedPlan(TextOps.ngramDecontam(spark, dir))
    // The eval-side distinct n-gram set is tiny by construction; the
    // train-side probe must be a broadcast join, not a corpus shuffle.
    assert(plan.contains("BroadcastHashJoin"),
      s"eval gram set not broadcast:\n$plan")
  }

  test("ewma decay joins day frames hash-to-hash, never nested-loop") {
    val plan = executedPlan(BatchOps.ewmaDaily(spark, dir))
    // The offset fan-out exists precisely so the decay window is an
    // EQUI join between calendar-sized frames.
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"non-equi join:\n$plan")
  }

  test("paragraph dedup scans the corpus exactly once, with no join") {
    val plan = executedPlan(TextOps.paragraphDedup(spark, dir))
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      s"multiple scans:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("bucketed co-located join runs with no exchange on either side") {
    import spark.implicits._
    // Broadcast off: a broadcast join would also be exchange-free on the
    // probe side and mask whether bucketing did anything.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.writeBucketed(
        (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "va"),
        "bk_a", 4, "k")
      Tables.writeBucketed(
        (1 to 200).map(i => (i.toLong, i * 2L)).toDF("k", "vb"),
        "bk_b", 4, "k")
      val plan =
        executedPlan(spark.table("bk_a").join(spark.table("bk_b"), "k"))
      // The write-time layout replaces the query-time shuffle: a
      // sort-merge join with zero Exchange operators anywhere.
      assert(plan.contains("SortMergeJoin"), s"not a SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bk_a")
      spark.sql("DROP TABLE IF EXISTS bk_b")
    }
  }

  test("partitioned layout prunes partitions at planning time") {
    import org.apache.spark.sql.functions.{col, date_format}
    val out = java.nio.file.Files
      .createTempDirectory("orders_by_month").toString
    try {
      val orders = graft.Tables.orders(spark, dir)
        .withColumn("order_month",
          date_format(col("o_orderdate"), "yyyy-MM"))
      graft.Tables.writePartitioned(orders, out, Seq("order_month"))
      val month = orders.selectExpr("max(order_month)").head.getString(0)
      val read = spark.read.parquet(out)
        .filter(col("order_month") === month)
      val plan = executedPlan(read)
      val scan = plan.split("\n").find(_.contains("FileScan")).get
      // The month predicate must be a PartitionFilter (directory-level
      // pruning before any IO), not a post-scan data filter.
      val partFilters = scan.split("PartitionFilters: \\[", 2)
        .lift(1).map(_.takeWhile(_ != ']')).getOrElse("")
      assert(partFilters.contains("order_month"),
        s"month not in PartitionFilters of:\n$scan")
    } finally deleteRecursively(out)
  }

  test("interval-overlap range join stays a bucket equi-join, never a " +
      "nested-loop inequality join") {
    val plan = executedPlan(BatchOps.shipmentOverlaps(spark, dir))
    // The coarse-bin blocking exists precisely so the overlap predicate
    // rides a (supplier, bin) hash join; an inequality-only join shape
    // re-derives the all-pairs scan per supplier.
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // And the equi-join must be the SHUFFLED hash form: both sides are
    // the corpus's span set, so the broadcast the optimizer picks from
    // local byte stats is wrong at scale (and serialized the in-bucket
    // pair work onto the scan's splits).
    assert(plan.contains("ShuffledHashJoin"), s"not shuffled-hash:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"span set broadcast:\n$plan")
  }

  test("penny allocation: windows, rank and audit share one orderkey " +
      "exchange per side") {
    val plan = executedPlan(BatchOps.pennyAllocationAudit(spark, dir))
    // The whole line-grain pipeline (per-order sum window, remainder
    // rank, audit re-aggregate) is keyed on l_orderkey, so everything
    // after the scan+join must ride ONE orderkey exchange — windows
    // re-partitioning per step would show up as extra exchanges.
    val exchanges = plan.split("\n").count(_.contains("Exchange"))
    assert(exchanges <= 3,
      s"expected <=3 exchanges (join sides + one orderkey), got " +
        s"$exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"bad join:\n$plan")
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true)") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    // The OTHER half of the skew story next to the salted join: when
    // the skew is discovered only at runtime, AQE's OptimizeSkewedJoin
    // must split the hot partition instead of serializing it onto one
    // task. Thresholds are lowered to make a test-sized hot key
    // qualify; the mechanism is identical at 100 TB defaults.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "32kb")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16kb")
      val fact = spark.range(40000L)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id"))
            .as("k"),
          concat(lit("x" * 64), col("id")).as("payload"))
      val dim = spark.range(1000L).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("name"))
      // No aggregate downstream of the join: splitting the hot
      // partition breaks hash-partitioning, so OptimizeSkewedJoin
      // (correctly) declines when a co-partitioned consumer follows —
      // the spec pins the pure-join case where the split is legal.
      val joined = fact.join(dim, "k")
        .select(col("k"), col("payload"), col("name"))
      val plan = executedPlan(joined)
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("skew-salted join runs as a shuffled hash join, never broadcast " +
      "or nested-loop") {
    val plan = executedPlan(BatchOps.saltedJoinRollup(spark, dir))
    // The salt exists to spread ONE hot fact key over SaltShards
    // reducers of a SHUFFLED join; a broadcast of the fan-out dim (what
    // local byte stats would pick) hides the pattern, and a nested loop
    // re-derives fact×dim.
    assert(plan.contains("ShuffledHashJoin"), s"not shuffled-hash:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("date-partitioned layout prunes a date-RANGE predicate at planning") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files
      .createTempDirectory("orders_by_date").toString
    try {
      // Keyed by the fact's own date column (day grain), so the
      // dominant fact filter shape — a BETWEEN — prunes directories at
      // planning time; a derived-bucket layout only prunes equality.
      val orders = graft.Tables.orders(spark, dir)
      graft.Tables.writeDatePartitioned(orders, out, "o_orderdate")
      val read = spark.read.parquet(out)
        .filter(col("o_orderdate")
          .between("1995-01-01", "1995-03-31"))
      val plan = executedPlan(read)
      val scan = plan.split("\n").find(_.contains("FileScan")).get
      val partFilters = scan.split("PartitionFilters: \\[", 2)
        .lift(1).map(_.takeWhile(_ != ']')).getOrElse("")
      assert(partFilters.contains("o_orderdate"),
        s"date range not in PartitionFilters of:\n$scan")
      // And the pruning is real: only the matching day-directories
      // survive into the scan's partition count.
      val total = orders.count()
      val kept = read.count()
      assert(kept > 0 && kept < total,
        s"range kept $kept of $total — fixture no longer selective")
    } finally deleteRecursively(out)
  }

  test("z-ordered layout tightens per-file bounds on BOTH dimensions") {
    import org.apache.spark.sql.functions._
    val zDir = java.nio.file.Files
      .createTempDirectory("li_zorder").toString
    val aDir = java.nio.file.Files
      .createTempDirectory("li_bypart").toString
    try {
      // sf0.01: a 2000-part × 100-supplier grid — deep enough that 16
      // contiguous Z-ranges resolve quadrants on both dimensions
      // (sf0.001's 200×10 grid is coarser than the file count).
      val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      Tables.writeZOrdered(li, zDir, "l_partkey", "l_suppkey", files = 16)
      // Baseline: the single-column clustering a plain sort gives.
      li.repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(aDir)
      def spans(d: String): (Double, Double) = {
        val perFile = spark.read.parquet(d)
          .groupBy(input_file_name().as("f"))
          .agg((max("l_partkey") - min("l_partkey")).as("pk"),
            (max("l_suppkey") - min("l_suppkey")).as("sk"))
          .agg(avg("pk"), avg("sk")).head()
        (perFile.getDouble(0), perFile.getDouble(1))
      }
      val (zPk, zSk) = spans(zDir)
      val (aPk, aSk) = spans(aDir)
      val fullPk = li.agg(max("l_partkey") - min("l_partkey"))
        .head().getLong(0).toDouble
      // The one-column sort leaves suppkey spanning ~the full domain
      // per file; the Z-layout must beat it decisively there while
      // still clustering partkey well below the full domain (count-
      // balanced Z-ranges straddle quadrant boundaries, so the bound
      // is a loose 0.7, not the aligned-quadrant 0.25-0.5).
      assert(zSk < aSk * 0.7, s"z suppkey span $zSk !< 0.7*$aSk")
      assert(zPk < fullPk * 0.7, s"z partkey span $zPk !< 0.7*$fullPk")
      assert(aPk <= zPk) // the baseline is optimal on its own column
    } finally { deleteRecursively(zDir); deleteRecursively(aDir) }
  }

  test("fact-side-first rollup keeps dimension strings off the shuffle") {
    val plan = executedPlan(BatchOps.productRollup(spark, dir))
    // Every hash-partitioned exchange must key on ids only — p_name /
    // p_brand riding an Exchange means the pre-aggregation regressed.
    val exchanges = plan.split("\n")
      .filter(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(l =>
      l.contains("p_name") || l.contains("p_brand")),
      s"dimension columns in exchange keys:\n${exchanges.mkString("\n")}")
  }

  test("local supplier share: pushed date window, no cartesian") {
    val plan = executedPlan(BatchOps.localSupplierShare(spark, dir))
    // The order-date year must prune the fact join's probe side at the
    // scan — Q5's selectivity lives or dies there at 100 TB.
    assert(plan.split("\n").exists(l =>
      l.contains("FileScan") && l.contains("o_orderdate")),
      s"o_orderdate not pushed:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the 6-table chain:\n$plan")
  }

  test("runtime bloom filter injects into a selective shuffled fact join") {
    // The 100 TB posture for selective dim-filtered fact joins that are
    // too big to broadcast: Spark's runtime bloom filter builds on the
    // filtered side and prunes the fact scan's shuffle input. Thresholds
    // are tuned for real sizes; at sf0.001 we lower them to prove the
    // injection path is live in THIS session's optimizer.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = Tables.orders(spark, dir)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority")
          === "1-URGENT")
        .select("o_orderkey")
      val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
      val df = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(l("l_orderkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val plan = executedPlan(df)
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("source divergence: the pair build is a token equi-join") {
    val plan = executedPlan(TextOps.sourceDivergence(spark, dir))
    // The OVERLAP mass must ride the token hash join with source<source
    // as a post-condition — a nested-loop over the token grain is
    // O(sources²·vocab²). The one allowed nested-loop is the PAIR
    // SPINE: a sources²-row broadcast cross of the per-source totals
    // (so fully-disjoint pairs still emit), corpus-size-independent.
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.split("\n").count(_.contains("BroadcastNestedLoopJoin"))
      <= 1, s"nested-loop beyond the totals spine:\n$plan")
  }

  test("gauge resample: one user shuffle feeds both as-of windows") {
    val plan = executedPlan(CdcOps.gaugeResample(spark, dir))
    // The backward and forward ignoreNulls windows share the same
    // (user_id) partitioning + (t, is_grid, event_id) order — a second
    // user_id exchange between them means the union-merge regressed
    // into per-window shuffles.
    val userExchanges = plan.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userExchanges.length <= 2, // event branch + grid-bounds branch
      s"extra user_id shuffles:\n${userExchanges.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("image phash census: neighbor lookup broadcasts the hash census") {
    val plan = executedPlan(
      graft.operators.MultiModalOps.imagePhashCensus(spark, dir))
    // The 12-variant Hamming-1 join must hit the <=2^12-row census via
    // a broadcast hash join, never a shuffle of the variant explode.
    assert(plan.contains("BroadcastHashJoin"),
      s"census join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("quantile normalization: rank lookup is an equi-join, not a range " +
      "scan") {
    val plan = executedPlan(TextOps.qualityCalibration(spark, dir))
    // The rank→value map join must stay a hash equi-join on g_rn; a
    // BETWEEN cum_start AND cum_end formulation would plan the
    // nested-loop range join this operator is built to avoid. The one
    // allowed nested loop is the 1-row n_total broadcast cross join.
    assert(
      plan.split("\n").count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"range-join fallback in rank lookup:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in rank lookup:\n$plan")
  }

  test("Q6 forecast: date and quantity predicates reach the parquet scan") {
    val plan = executedPlan(BatchOps.revenueForecastQ6(spark, dir))
    // Q6 IS the pushdown benchmark: the ship-date range and quantity
    // predicates must appear in PushedFilters (the permille band,
    // derived from round(), legitimately cannot). The plan string
    // TRUNCATES long pushed-filter lists, so assert on the visible
    // prefix: both columns' IsNotNull entries plus the date lower
    // bound prove the scan received the filter set. At 100 TB these
    // predicates are the difference between one year and the corpus.
    assert(plan.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity), " +
        "GreaterThanOrEqual(l_shipdate"),
      s"Q6 predicates not pushed to the scan:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("multiprobe RP: probe expansion stays a bucket equi-join") {
    val plan = executedPlan(VectorOps.annRpMultiprobeTop1(spark, dir))
    // The 9× probe explode must reach candidates through the same
    // (band, value) hash join as single-probe — a fallback to
    // nested-loop would turn the recall knob into an all-pairs scan.
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"non-equi probe join:\n$plan")
  }

  test("temporal dim join: the as-of walk runs without any join") {
    val plan = executedPlan(CdcOps.temporalDimJoin(spark, dir))
    // The whole point of the union-merge shape: version lookup happens
    // inside user-keyed windows over a union, never as a fact×version
    // interval join. ANY join operator in this plan is a regression
    // into the shape the operator exists to avoid.
    assert(!plan.contains("Join"), s"join crept into the as-of walk:\n$plan")
    val userExchanges = plan.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userExchanges.length <= 2,
      s"extra user_id shuffles:\n${userExchanges.mkString("\n")}")
  }

  test("promo share q14: part dim broadcasts; no nested loop") {
    val plan = executedPlan(BatchOps.promoShareQ14(spark, dir))
    // part is the classic broadcast dim: the fact (lineitem) must never
    // re-key on l_partkey. The month aggregate may shuffle; the join
    // may not.
    assert(plan.contains("BroadcastHashJoin"),
      s"part join not broadcast:\n$plan")
    assert(!plan.split("\n").exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_partkey")),
      s"fact re-keyed on l_partkey:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("late fulfilment q4: the EXISTS probe is a hash semi join") {
    val plan = executedPlan(BatchOps.lateFulfilmentQ4(spark, dir))
    // The at-most-once contract must come from a LeftSemi join operator
    // (never a distinct-after-inner-join rewrite, and never a
    // nested-loop probe) — the non-equi ship-date bound rides the semi
    // join's residual condition on the o_orderkey equi key.
    assert(plan.contains("LeftSemi"), s"no semi join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"EXISTS degraded to a nested loop:\n$plan")
  }

  test("window frame audit: no windows at all — grouped two-phase cumsum " +
      "+ broadcast peer frame") {
    val plan = executedPlan(BatchOps.windowFrameAudit(spark, dir))
    // Priority is a 5-value enum: the old keyed cum windows would push
    // the whole order frame through five tasks. After conversion the
    // ROWS cumsum rides GlobalRank's grouped two-phase pass and the
    // RANGE leg is a date-grain max_by aggregate broadcast back — the
    // plan must contain NO Window operator and the peer join must be
    // broadcast, not a re-shuffle of the fact.
    assert(!plan.contains("Window"), s"window crept back:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"peer frame join not broadcast:\n$plan")
  }

  test("market share: dims broadcast, only fact joins shuffle") {
    val plan = executedPlan(BatchOps.nationalMarketShare(spark, dir))
    // Four dimension joins (nation ×2, region, supplier) must ride
    // broadcast hash joins; only lineitem⋈orders and ⋈customer may
    // shuffle. A dimension falling back to a shuffle join re-keys the
    // whole fact table per dim at 100 TB.
    assert(plan.split("\n").count(_.contains("BroadcastHashJoin")) >= 4,
      s"dimension join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("pack policy compare: pruned scan, sort-eliminated packing, " +
      "driver census rides a LocalTableScan") {
    val plan = executedPlan(TextOps.packPolicyCompare(spark, dir))
    // The chunk scan must prune to (doc_id, text) — the md5 chunk_hash
    // and token array are unused here and their per-chunk cost is the
    // corpus-scan bill at 100 TB.
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"chunk scan not pruned:\n$plan")
    // chunkPacking's presentation orderBy must be optimizer-eliminated
    // under the pack aggregate: the only Sorts allowed are the window's
    // shard-partitioned sort and the final output sort (2 total).
    assert(plan.split("\n").count(_.trim.startsWith("Sort ")) <= 2
      || plan.split("\n").count(_.contains("+- Sort")) <= 2,
      s"redundant sort survived:\n$plan")
    // The BFD side is the bounded driver fold — it must enter the plan
    // as a LocalTableScan, never a second corpus scan (exactly one
    // parquet scan in the whole plan).
    assert(plan.contains("LocalTableScan"), s"census not local:\n$plan")
    assert(plan.split("\n").count(_.contains("Scan parquet")) == 1,
      s"corpus scanned more than once:\n$plan")
  }

  test("global order statistics never compile to a single-partition exchange") {
    // An unpartitioned Window.orderBy requires AllTuples distribution:
    // Spark inserts `Exchange SinglePartition` and ONE task sorts the
    // whole frame — fine for a bounded side frame, fatal at fact/corpus
    // grain. These four operators rank/cumsum at exactly that grain, so
    // they must ride GlobalRank's two-phase rank (range exchange +
    // per-partition row numbers + broadcast prefix offsets) instead; a
    // refactor that reverts any of them to the naive window fails here.
    // (The helper checkpoints its ranked frame, so the visible plan is
    // downstream-of-checkpoint — the assertion still holds end to end
    // because the pre-checkpoint segment is pure range exchange + narrow
    // map, asserted separately below.)
    // A `SinglePartition` exchange is ONLY acceptable as the final
    // stage of a global scalar aggregate (its input is one partial-agg
    // row per partition — partition-count-bounded, how any global sum
    // works). The hazard is a SinglePartition exchange whose CONSUMER
    // sorts or windows data grain — walk each exchange's ancestors in
    // the plan tree text (nearest smaller indentation), skipping AQE
    // stage wrappers, and require the consumer to be an aggregate.
    def singlePartitionConsumers(plan: String): Seq[String] = {
      val lines = plan.split("\n").toSeq
      def indent(l: String): Int =
        l.indexOf("- ") match { case -1 => Int.MaxValue; case i => i }
      for {
        i <- lines.indices
        if lines(i).contains("Exchange SinglePartition")
        consumer <- (i - 1 to 0 by -1).view
          .filter(j => indent(lines(j)) < indent(lines(i)))
          .map(lines(_))
          .filterNot(l => l.contains("QueryStage") ||
            l.contains("AQEShuffleRead") || l.contains("InputAdapter") ||
            l.contains("WholeStageCodegen"))
          .headOption
      } yield consumer.trim
    }
    for (df <- Seq(
        BatchOps.quantityDeciles(spark, dir),
        TextOps.snmNearDup(spark, dir),
        TextOps.tokenNovelty(spark, dir),
        TextOps.epochShuffleAudit(spark, dir),
        BatchOps.abcClassification(spark, dir),
        BatchOps.revenueConcentration(spark, dir),
        BatchOps.supplierScorecard(spark, dir),
        BatchOps.keySkewReport(spark, dir),
        BatchOps.rfmScores(spark, dir),
        BatchOps.customerSpendRank(spark, dir),
        TextOps.vocabCoverageCurve(spark, dir),
        // The r14 conversions — enum-keyed windows over data-scaled
        // frames (fact through 3-5 tasks), the sibling failure mode:
        BatchOps.weightedMedianPrice(spark, dir),
        BatchOps.shippingLatency(spark, dir),
        BatchOps.decileRankAudit(spark, dir),
        CdcOps.winsorizedStats(spark, dir),
        TextOps.lengthQualitySpearman(spark, dir),
        // r14 additions riding the grouped two-phase rank:
        BatchOps.interpPercentilesExact(spark, dir),
        BatchOps.segmentGini(spark, dir),
        BatchOps.segmentLorenz(spark, dir),
        CdcOps.funnelStepLatency(spark, dir),
        // r15: the grouped rank at posexplode grain (64 dim groups)
        // and its broadcast fence-table consumer:
        VectorOps.embeddingDimQuantiles(spark, dir),
        VectorOps.embeddingRobustOutliers(spark, dir))) {
      val plan = executedPlan(df)
      val rogue = singlePartitionConsumers(plan)
        .filterNot(c => c.contains("HashAggregate") ||
          c.contains("SortAggregate") || c.contains("ObjectHashAggregate") ||
          c.contains("BroadcastExchange"))
      assert(rogue.isEmpty,
        s"single-partition exchange feeding ${rogue.mkString("; ")}:\n$plan")
      // None of these queries may contain ANY Window after conversion —
      // their order statistics all ride GlobalRank. (Operators with
      // justified bounded-grain windows, e.g. qualityCalibration's
      // value-grain walks, are covered by WindowGateSpec's annotated
      // allowlist instead.)
      assert(!plan.contains("Window"), s"window crept back:\n$plan")
    }
  }

  test("GlobalRank's own plan: one range exchange, no window, no single partition") {
    import org.apache.spark.sql.functions.col
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"))
    // The pre-checkpoint shape is what runs at 100 TB: exactly one
    // range exchange (the same shuffle a global ORDER BY performs), a
    // partition-local sort, a narrow mapPartitions — and NO WindowExec
    // at data grain anywhere (offsets are a partition-count-bounded
    // driver-side prefix sum, not a window).
    val df = graft.operators.GlobalRank.withRowNumber(base, "rn",
      Seq(col("l_orderkey"), col("l_linenumber")))
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange SinglePartition"), s"plan:\n$plan")
    assert(!plan.contains("Window"), s"window crept in:\n$plan")
  }
}
