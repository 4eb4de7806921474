package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 that is batch-SQL-expressible is registered
  * here twice: a Spark query in `queries` and a DuckDB-equivalent oracle in
  * `oracleSql` (same column names, same ORDER BY, matched types — the
  * driver sorts columns by name and hash-compares values).
  *
  * Determinism rules used throughout (SURVEY §7.3): money/value sums go
  * through DECIMAL(18,2) (associative ⇒ identical at any parallelism);
  * every query ends in a total order with tiebreak keys; time anchors are
  * data-derived (never now()); percentile thresholds are only *compared*
  * against, never emitted, so FP interpolation differences between engines
  * cannot flip a row.
  *
  * Non-oracle queries (engine-specific hash / streaming-only semantics) are
  * registered in `queries` only → the driver records a rows-only check.
  */
object SparkEntry {

  /** Flagship query on sf0.001 — the M0 customer-360 segmentation pipeline
    * (scan → left join → agg → percentile thresholds → tiered CASE).
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    BatchOps.customerSegments(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // --- batch analytics (SURVEY §2.2-2.6) ---
    "customer_rollup" -> ((s, d) =>
      BatchOps.customerOrdersRollupCached(s, d).orderBy("c_custkey")),
    "customer_segments" -> ((s, d) => BatchOps.customerSegments(s, d)),
    "customer_rollup_windowed" -> ((s, d) =>
      BatchOps.customerRollupWindowed(s, d)),
    "product_rollup" -> ((s, d) =>
      BatchOps.productRollupCached(s, d).orderBy("p_partkey")),
    "product_performance" -> ((s, d) => BatchOps.productPerformance(s, d)),
    "product_rollup_windowed" -> ((s, d) =>
      BatchOps.productRollupWindowed(s, d)),
    "daily_order_analytics" -> ((s, d) => BatchOps.dailyOrderAnalytics(s, d)),
    "status_distribution" -> ((s, d) => BatchOps.statusDistribution(s, d)),
    "revenue_analytics" -> ((s, d) => BatchOps.revenueAnalytics(s, d)),
    "price_quantity_corr" -> ((s, d) => BatchOps.priceQuantityCorr(s, d)),
    "order_status_cube" -> ((s, d) => BatchOps.orderStatusCube(s, d)),
    "price_histogram" -> ((s, d) => BatchOps.priceHistogram(s, d)),
    "zorder_stats" -> ((s, d) => BatchOps.zorderStats(s, d)),
    "regional_revenue" -> ((s, d) => BatchOps.regionalRevenue(s, d)),
    "rfm_scores" -> ((s, d) => BatchOps.rfmScores(s, d)),
    "part_copurchase" -> ((s, d) => BatchOps.partCopurchase(s, d)),
    "pareto_frontier" -> ((s, d) => BatchOps.paretoFrontier(s, d)),
    "shipment_overlaps" -> ((s, d) => BatchOps.shipmentOverlaps(s, d)),
    "record_linkage" -> ((s, d) => BatchOps.recordLinkage(s, d)),
    "shipping_priority" -> ((s, d) => BatchOps.shippingPriority(s, d)),
    "returned_item_revenue" -> ((s, d) => BatchOps.returnedItemRevenue(s, d)),
    "large_volume_customers" -> ((s, d) => BatchOps.largeVolumeCustomers(s, d)),
    "bot_screen" -> ((s, d) => CdcOps.botScreen(s, d)),
    "arrival_disorder" -> ((s, d) => CdcOps.arrivalDisorder(s, d)),
    "replay_dedup" -> ((s, d) => CdcOps.replayDedup(s, d)),
    "kmv_overlap" -> ((s, d) => CdcOps.kmvOverlap(s, d)),
    "interarrival_histogram" -> ((s, d) => CdcOps.interarrivalHistogram(s, d)),
    "bitmap_membership" -> ((s, d) => CdcOps.bitmapMembership(s, d)),
    "deadletter_audit" -> ((s, d) => CdcOps.deadletterAudit(s, d)),
    "bounce_rate" -> ((s, d) => CdcOps.bounceRate(s, d)),
    "winsorized_stats" -> ((s, d) => CdcOps.winsorizedStats(s, d)),
    "revenue_reconciliation" -> ((s, d) => BatchOps.revenueReconciliation(s, d)),
    "revenue_cusum" -> ((s, d) => BatchOps.revenueCusum(s, d)),
    "revenue_mad_outliers" -> ((s, d) => BatchOps.revenueMadOutliers(s, d)),
    "key_skew_report" -> ((s, d) => BatchOps.keySkewReport(s, d)),
    "supplier_scorecard" -> ((s, d) => BatchOps.supplierScorecard(s, d)),
    "rfm_segments" -> ((s, d) => BatchOps.rfmSegments(s, d)),
    "merge_partials" -> ((s, d) => BatchOps.mergePartials(s, d)),
    "order_window_profile" -> ((s, d) => BatchOps.orderWindowProfile(s, d)),
    "benford_screen" -> ((s, d) => BatchOps.benfordScreen(s, d)),
    "top_parts_page2" -> ((s, d) => BatchOps.topPartsPage2(s, d)),
    "time_rollup" -> ((s, d) => BatchOps.timeRollup(s, d)),
    "join_semantics_audit" -> ((s, d) => BatchOps.joinSemanticsAudit(s, d)),
    "abc_classification" -> ((s, d) => BatchOps.abcClassification(s, d)),
    "mann_kendall_trend" -> ((s, d) => BatchOps.mannKendallTrend(s, d)),
    "segment_pivot" -> ((s, d) => BatchOps.segmentPivot(s, d)),
    "revenue_trailing_7d" -> ((s, d) => BatchOps.revenueTrailing7d(s, d)),
    "full_coverage_suppliers" -> ((s, d) => BatchOps.fullCoverageSuppliers(s, d)),
    "quantity_deciles" -> ((s, d) => BatchOps.quantityDeciles(s, d)),
    "fact_percentiles_exact" -> ((s, d) =>
      BatchOps.factPercentilesExact(s, d)),
    "interp_percentiles_exact" -> ((s, d) =>
      BatchOps.interpPercentilesExact(s, d)),
    "segment_gini" -> ((s, d) => BatchOps.segmentGini(s, d)),
    "segment_lorenz" -> ((s, d) => BatchOps.segmentLorenz(s, d)),
    "above_avg_orders" -> ((s, d) => BatchOps.aboveAvgOrders(s, d)),
    "attribution_linear" -> ((s, d) => CdcOps.attributionLinear(s, d)),
    "segment_counts" -> ((s, d) => BatchOps.segmentCounts(s, d)),
    "mktsegment_value_counts" -> ((s, d) =>
      BatchOps.mktsegmentValueCounts(s, d)),
    "batch_summary" -> ((s, d) => BatchOps.batchSummary(s, d)),
    "geo_region_mask" -> ((s, d) => BatchOps.geoRegionMask(s, d)),
    "top_parts_by_revenue" -> ((s, d) => BatchOps.topPartsByRevenue(s, d)),
    "random_order_pick" -> ((s, d) => BatchOps.randomOrderPick(s, d)),
    // --- CDC semantics over events (SURVEY §2.1/2.7, M2) ---
    "cdc_envelope_parse" -> ((s, d) => CdcOps.envelopeParse(s, d)),
    "cdc_envelope_nested" -> ((s, d) => CdcOps.envelopeNested(s, d)),
    "cdc_op_filter" -> ((s, d) => CdcOps.opFilter(s, d)),
    "cdc_upsert_latest" -> ((s, d) => CdcOps.upsertLatest(s, d)),
    "cdc_merge_snapshot" -> ((s, d) => CdcOps.mergeSnapshot(s, d)),
    "cdc_gap_detection" -> ((s, d) => CdcOps.cdcGapDetection(s, d)),
    "hll_merge_rollup" -> ((s, d) => CdcOps.hllMergeRollup(s, d)),
    "time_weighted_value" -> ((s, d) => CdcOps.timeWeightedValue(s, d)),
    "gauge_resample" -> ((s, d) => CdcOps.gaugeResample(s, d)),
    "cdc_event_type_counters" -> ((s, d) => CdcOps.eventTypeCounters(s, d)),
    "cdc_user_event_sets" -> ((s, d) => CdcOps.userEventSets(s, d)),
    "cdc_table_dispatch" -> ((s, d) => CdcOps.tableDispatch(s, d)),
    "minute_metrics" -> ((s, d) => CdcOps.minuteMetrics(s, d)),
    "daily_distinct_users" -> ((s, d) => CdcOps.dailyDistinctUsers(s, d)),
    "kmv_distinct" -> ((s, d) => CdcOps.kmvDistinct(s, d)),
    "hll_distinct" -> ((s, d) => CdcOps.hllDistinct(s, d)),
    "daily_active_users" -> ((s, d) => CdcOps.dailyActiveUsersBatch(s, d)),
    "cumulative_reach" -> ((s, d) => CdcOps.cumulativeReach(s, d)),
    "hourly_seasonality" -> ((s, d) => CdcOps.hourlySeasonality(s, d)),
    "event_sessions" -> ((s, d) => CdcOps.eventSessions(s, d)),
    "session_window_native" -> ((s, d) => CdcOps.sessionWindowNative(s, d)),
    "session_copresence" -> ((s, d) => CdcOps.sessionCopresence(s, d)),
    "fk_orphan_audit" -> ((s, d) => BatchOps.fkOrphanAudit(s, d)),
    "local_supplier_share" -> ((s, d) => BatchOps.localSupplierShare(s, d)),
    "basket_rules" -> ((s, d) => BatchOps.basketRules(s, d)),
    "shipping_latency" -> ((s, d) => BatchOps.shippingLatency(s, d)),
    "weighted_median_price" -> ((s, d) => BatchOps.weightedMedianPrice(s, d)),
    "order_backlog" -> ((s, d) => BatchOps.orderBacklog(s, d)),
    "supplier_hhi" -> ((s, d) => BatchOps.supplierHhi(s, d)),
    "activity_streaks" -> ((s, d) => CdcOps.activityStreaks(s, d)),
    "cdc_change_log" -> ((s, d) => CdcOps.changeLog(s, d)),
    "scd2_history" -> ((s, d) => CdcOps.scd2History(s, d)),
    "scd2_asof" -> ((s, d) => CdcOps.scd2Asof(s, d)),
    "event_transitions" -> ((s, d) => CdcOps.eventTransitions(s, d)),
    "session_paths" -> ((s, d) => CdcOps.sessionPaths(s, d)),
    "event_funnel" -> ((s, d) => CdcOps.eventFunnel(s, d)),
    "event_funnel_windowed" -> ((s, d) =>
      CdcOps.eventFunnelWindowed(s, d)),
    "funnel_step_latency" -> ((s, d) =>
      CdcOps.funnelStepLatency(s, d)),
    "cohort_retention" -> ((s, d) => CdcOps.cohortRetention(s, d)),
    "daily_anomaly_zscore" -> ((s, d) => CdcOps.dailyAnomalyZscore(s, d)),
    "mad_outliers" -> ((s, d) => CdcOps.madOutliers(s, d)),
    "cdc_incremental_rollup" -> ((s, d) => CdcOps.incrementalRollup(s, d)),
    "rolling_7d_metrics" -> ((s, d) => CdcOps.rolling7dMetrics(s, d)),
    "user_funnel" -> ((s, d) => CdcOps.userFunnel(s, d)),
    "purchase_attribution" -> ((s, d) => CdcOps.purchaseAttribution(s, d)),
    "event_asof_order" -> ((s, d) => CdcOps.eventAsofOrder(s, d)),
    "audience_overlap" -> ((s, d) => CdcOps.audienceOverlap(s, d)),
    // --- alert rules (SURVEY §2.2 P7, §2.6 C7/C8, §2.4 A13) ---
    "alerts_high_value" -> ((s, d) => AlertOps.highValueAlerts(s, d)),
    "alert_suppression" -> ((s, d) => AlertOps.alertSuppression(s, d)),
    "alerts_bulk_activity" -> ((s, d) => AlertOps.bulkActivityAlerts(s, d)),
    "alerts_velocity" -> ((s, d) => AlertOps.velocityAlerts(s, d)),
    "alerts_dominant_group" -> ((s, d) =>
      AlertOps.dominantGroupAnomaly(s, d)),
    "alerts_low_stock" -> ((s, d) => AlertOps.lowStockAlerts(s, d)),
    "health_score" -> ((s, d) => AlertOps.healthScore(s, d)),
    "dq_report" -> ((s, d) => BatchOps.dqReport(s, d)),
    "corpus_rollup" -> ((s, d) => BatchOps.corpusRollup(s, d)),
    "customer_spend_rank" -> ((s, d) => BatchOps.customerSpendRank(s, d)),
    "pricing_summary_sql" -> ((s, d) => BatchOps.pricingSummarySql(s, d)),
    "lang_pivot" -> ((s, d) => BatchOps.langPivot(s, d)),
    "daily_revenue_running" -> ((s, d) => BatchOps.dailyRevenueRunning(s, d)),
    "ewma_daily" -> ((s, d) => BatchOps.ewmaDaily(s, d)),
    "daily_sales_dense" -> ((s, d) => BatchOps.dailySalesDense(s, d)),
    // --- LLM-pipeline text ops over documents (M4) ---
    "docs_exact_dedup" -> ((s, d) => TextOps.exactDedupGroups(s, d)),
    "docs_deduped" -> ((s, d) => TextOps.dedupedDocs(s, d)),
    "text_stats" -> ((s, d) => TextOps.textStats(s, d)),
    "docs_quality_filter" -> ((s, d) => TextOps.qualityFilter(s, d)),
    "lang_stats" -> ((s, d) => TextOps.langStats(s, d)),
    "length_boxplot" -> ((s, d) => TextOps.lengthBoxplot(s, d)),
    "length_quantile_sketch" ->
      ((s, d) => TextOps.lengthQuantileSketch(s, d)),
    "curriculum_interleave" ->
      ((s, d) => TextOps.curriculumInterleave(s, d)),
    "language_id" -> ((s, d) => TextOps.languageId(s, d)),
    "doc_fingerprints" -> ((s, d) => TextOps.docFingerprints(s, d)),
    "neardup_jaccard" -> ((s, d) => TextOps.nearDupJaccard(s, d)),
    "neardup_jaccard_capped" -> ((s, d) =>
      TextOps.nearDupJaccardCapped(s, d)),
    "neardup_containment" -> ((s, d) =>
      TextOps.nearDupContainment(s, d)),
    "minhash_candidates" -> ((s, d) => TextOps.minhashCandidates(s, d)),
    "minhash_calibration" -> ((s, d) => TextOps.minhashCalibration(s, d)),
    "simhash_pairs" -> ((s, d) => TextOps.simhashPairs(s, d)),
    "dedup_features" -> ((s, d) => TextOps.dedupFeatures(s, d)),
    "rolling_fingerprints" -> ((s, d) => TextOps.rollingFingerprints(s, d)),
    "vocab_topk" -> ((s, d) => TextOps.vocabTopK(s, d)),
    "token_counts" -> ((s, d) => TextOps.tokenCounts(s, d)),
    "doc_repetition" -> ((s, d) => TextOps.docRepetition(s, d)),
    "train_val_split" -> ((s, d) => TextOps.trainValSplit(s, d)),
    "stratified_sample" -> ((s, d) => TextOps.stratifiedSample(s, d)),
    "doc_chunks" -> ((s, d) => TextOps.docChunks(s, d)),
    "pii_scrub" -> ((s, d) => TextOps.piiScrub(s, d)),
    "paragraph_dedup" -> ((s, d) => TextOps.paragraphDedup(s, d)),
    "tfidf_topk" -> ((s, d) => TextOps.tfidfTopK(s, d)),
    "bm25_topk" -> ((s, d) => TextOps.bm25TopK(s, d)),
    "domain_mixture" -> ((s, d) => TextOps.domainMixture(s, d)),
    "mixture_resample" -> ((s, d) => TextOps.mixtureResample(s, d)),
    "doc_surprisal" -> ((s, d) => TextOps.docSurprisal(s, d)),
    "bigram_surprisal" -> ((s, d) => TextOps.bigramSurprisal(s, d)),
    "boilerplate_prefixes" -> ((s, d) => TextOps.boilerplatePrefixes(s, d)),
    "tokenizer_fertility" -> ((s, d) => TextOps.tokenizerFertility(s, d)),
    "lexical_profile" -> ((s, d) => TextOps.lexicalProfile(s, d)),
    "source_divergence" -> ((s, d) => TextOps.sourceDivergence(s, d)),
    "zipf_slope" -> ((s, d) => TextOps.zipfSlope(s, d)),
    "token_entropy" -> ((s, d) => TextOps.tokenEntropy(s, d)),
    "chunk_packing" -> ((s, d) => TextOps.chunkPacking(s, d)),
    "pack_utilization" -> ((s, d) => TextOps.packUtilization(s, d)),
    "pack_policy_compare" -> ((s, d) => TextOps.packPolicyCompare(s, d)),
    "decontam_screen_agreement" ->
      ((s, d) => TextOps.decontamScreenAgreement(s, d)),
    "split_contamination" -> ((s, d) => TextOps.splitContamination(s, d)),
    "ngram_decontam" -> ((s, d) => TextOps.ngramDecontam(s, d)),
    "bloom_decontam" -> ((s, d) => TextOps.bloomDecontam(s, d)),
    "cms_heavy_hitters" -> ((s, d) => TextOps.cmsHeavyHitters(s, d)),
    "token_budget_sample" -> ((s, d) => TextOps.tokenBudgetSample(s, d)),
    "pmi_collocations" -> ((s, d) => TextOps.pmiCollocations(s, d)),
    "dup_span_census" -> ((s, d) => TextOps.dupSpanCensus(s, d)),
    "dup_span_removal" -> ((s, d) => TextOps.dupSpanRemoval(s, d)),
    "incremental_dedup" -> ((s, d) => TextOps.incrementalDedup(s, d)),
    "first_seen_screen" -> ((s, d) => TextOps.firstSeenScreen(s, d)),
    "split_drift" -> ((s, d) => TextOps.splitDrift(s, d)),
    "oov_rate" -> ((s, d) => TextOps.oovRate(s, d)),
    "split_balance" -> ((s, d) => TextOps.splitBalance(s, d)),
    "dedup_components" -> ((s, d) => TextOps.dedupComponents(s, d)),
    "dedup_components_df" -> ((s, d) => TextOps.dedupComponentsDf(s, d)),
    "dedup_components_guarded" -> ((s, d) =>
      TextOps.dedupComponentsGuarded(s, d)),
    "pagerank_neardup" -> ((s, d) => TextOps.pageRankNearDup(s, d)),
    "kcore_neardup" -> ((s, d) => TextOps.kcoreNearDup(s, d)),
    "lpa_communities" -> ((s, d) => TextOps.lpaCommunities(s, d)),
    "quality_calibration" -> ((s, d) => TextOps.qualityCalibration(s, d)),
    "bfs_levels" -> ((s, d) => TextOps.bfsLevels(s, d)),
    "snapshot_diff" -> ((s, d) => BatchOps.snapshotDiff(s, d)),
    "national_market_share" -> ((s, d) =>
      BatchOps.nationalMarketShare(s, d)),
    "acf_profile" -> ((s, d) => BatchOps.acfProfile(s, d)),
    "trending_parts_7d" -> ((s, d) => BatchOps.trendingParts7d(s, d)),
    "customer_migration_matrix" -> ((s, d) =>
      BatchOps.customerMigrationMatrix(s, d)),
    "revenue_bridge" -> ((s, d) => BatchOps.revenueBridge(s, d)),
    "revenue_forecast_q6" -> ((s, d) => BatchOps.revenueForecastQ6(s, d)),
    "discount_band_profile" -> ((s, d) =>
      BatchOps.discountBandProfile(s, d)),
    "nation_share_of_region" -> ((s, d) =>
      BatchOps.nationShareOfRegion(s, d)),
    "seasonal_index" -> ((s, d) => BatchOps.seasonalIndex(s, d)),
    "regional_rollup" -> ((s, d) => BatchOps.regionalRollup(s, d)),
    "margins_grouping_sets" -> ((s, d) =>
      BatchOps.marginsGroupingSets(s, d)),
    "promo_share_q14" -> ((s, d) => BatchOps.promoShareQ14(s, d)),
    "set_ops_audit" -> ((s, d) => BatchOps.setOpsAudit(s, d)),
    "segment_metrics_unpivot" -> ((s, d) =>
      BatchOps.segmentMetricsUnpivot(s, d)),
    "reorder_hazard" -> ((s, d) => BatchOps.reorderHazard(s, d)),
    "late_fulfilment_q4" -> ((s, d) => BatchOps.lateFulfilmentQ4(s, d)),
    "trade_volume_q7" -> ((s, d) => TpchOps.tradeVolumeQ7(s, d)),
    "profit_by_nation_q9" -> ((s, d) => TpchOps.profitByNationQ9(s, d)),
    "customer_order_dist_q13" -> ((s, d) =>
      TpchOps.customerOrderDistQ13(s, d)),
    "top_supplier_q15" -> ((s, d) => TpchOps.topSupplierQ15(s, d)),
    "small_qty_revenue_q17" -> ((s, d) => TpchOps.smallQtyRevenueQ17(s, d)),
    "discounted_revenue_q19" -> ((s, d) =>
      TpchOps.discountedRevenueQ19(s, d)),
    "waiting_suppliers_q21" -> ((s, d) => TpchOps.waitingSuppliersQ21(s, d)),
    "global_sales_opp_q22" -> ((s, d) => TpchOps.globalSalesOppQ22(s, d)),
    "cramers_v" -> ((s, d) => BatchOps.cramersV(s, d)),
    "ks_drift" -> ((s, d) => TextOps.ksDrift(s, d)),
    "supplier_transit_coverage" -> ((s, d) =>
      BatchOps.supplierTransitCoverage(s, d)),
    "nation_top_customers" -> ((s, d) => BatchOps.nationTopCustomers(s, d)),
    "key_hierarchy_rollup" -> ((s, d) => BatchOps.keyHierarchyRollup(s, d)),
    "penny_allocation_audit" -> ((s, d) =>
      BatchOps.pennyAllocationAudit(s, d)),
    "neyman_sample" -> ((s, d) => BatchOps.neymanSample(s, d)),
    "layout_pruning_sim" -> ((s, d) => BatchOps.layoutPruningSim(s, d)),
    "t_closeness_audit" -> ((s, d) => BatchOps.tClosenessAudit(s, d)),
    "rle_sort_advisor" -> ((s, d) => BatchOps.rleSortAdvisor(s, d)),
    "allocation_variance_audit" -> ((s, d) =>
      BatchOps.allocationVarianceAudit(s, d)),
    "props_variant_stats" -> ((s, d) => CdcOps.propsVariantStats(s, d)),
    "salted_join_rollup" -> ((s, d) => BatchOps.saltedJoinRollup(s, d)),
    "status_path_listagg" -> ((s, d) => BatchOps.statusPathListagg(s, d)),
    "semantic_decontam" -> ((s, d) => VectorOps.semanticDecontam(s, d)),
    "matryoshka_recall" -> ((s, d) => VectorOps.matryoshkaRecall(s, d)),
    "dsir_weights" -> ((s, d) => TextOps.dsirWeights(s, d)),
    "dsir_resample" -> ((s, d) => TextOps.dsirResample(s, d)),
    "shingle_df_profile" -> ((s, d) => TextOps.shingleDfProfile(s, d)),
    "lsh_band_planner" -> ((s, d) => TextOps.lshBandPlanner(s, d)),
    "dedup_inflation_by_source" ->
      ((s, d) => TextOps.dedupInflationBySource(s, d)),
    "source_cross_dup_matrix" ->
      ((s, d) => TextOps.sourceCrossDupMatrix(s, d)),
    "winnow_fingerprints" ->
      ((s, d) => TextOps.winnowFingerprints(s, d)),
    "winnow_pairs" -> ((s, d) => TextOps.winnowPairs(s, d)),
    "winnow_components" -> ((s, d) => TextOps.winnowComponents(s, d)),
    "winnow_decontam" -> ((s, d) => TextOps.winnowDecontam(s, d)),
    "winnow_match_spans" ->
      ((s, d) => TextOps.winnowMatchSpans(s, d)),
    "winnow_k_planner" -> ((s, d) => TextOps.winnowKPlanner(s, d)),
    "dup_graph_pagerank" ->
      ((s, d) => TextOps.dupGraphPagerank(s, d)),
    "pair_edit_verify" -> ((s, d) => TextOps.pairEditVerify(s, d)),
    "quantile_sketch" -> ((s, d) => TextOps.quantileSketch(s, d)),
    "quantile_sketch_grouped" ->
      ((s, d) => TextOps.quantileSketchGrouped(s, d)),
    "quantile_sketch_calibration" ->
      ((s, d) => TextOps.quantileSketchCalibration(s, d)),
    "dedup_threshold_sweep" ->
      ((s, d) => TextOps.dedupThresholdSweep(s, d)),
    "bpe_merge_census" -> ((s, d) => TextOps.bpeMergeCensus(s, d)),
    "bpe_merge_rounds" -> ((s, d) => TextOps.bpeMergeRounds(s, d)),
    "bpe_tokenize_census" -> ((s, d) => TextOps.bpeTokenizeCensus(s, d)),
    "epoch_shuffle_audit" -> ((s, d) => TextOps.epochShuffleAudit(s, d)),
    "vocab_growth_heaps" -> ((s, d) => TextOps.vocabGrowthHeaps(s, d)),
    "k_anonymity_audit" -> ((s, d) => BatchOps.kAnonymityAudit(s, d)),
    "l_diversity_audit" -> ((s, d) => BatchOps.lDiversityAudit(s, d)),
    "join_cardinality_estimate" -> ((s, d) =>
      BatchOps.joinCardinalityEstimate(s, d)),
    "table_checksums" -> ((s, d) => BatchOps.tableChecksums(s, d)),
    "image_dup_clusters" -> ((s, d) =>
      MultiModalOps.imageDupClusters(s, d)),
    "hilbert_stats" -> ((s, d) => BatchOps.hilbertStats(s, d)),
    "decile_rank_audit" -> ((s, d) => BatchOps.decileRankAudit(s, d)),
    "window_frame_audit" -> ((s, d) => BatchOps.windowFrameAudit(s, d)),
    "column_profile" -> ((s, d) => BatchOps.columnProfile(s, d)),
    "user_value_trend" -> ((s, d) => BatchOps.userValueTrend(s, d)),
    "revenue_concentration" -> ((s, d) =>
      BatchOps.revenueConcentration(s, d)),
    "wow_growth" -> ((s, d) => BatchOps.wowGrowth(s, d)),
    "fk_fanout_histogram" -> ((s, d) => BatchOps.fkFanoutHistogram(s, d)),
    "normalized_dedup" -> ((s, d) => TextOps.normalizedDedup(s, d)),
    "psi_drift" -> ((s, d) => TextOps.psiDrift(s, d)),
    "dedup_rate_by_source" -> ((s, d) => TextOps.dedupRateBySource(s, d)),
    "dedup_weights" -> ((s, d) => TextOps.dedupWeights(s, d)),
    "vocab_coverage_curve" -> ((s, d) => TextOps.vocabCoverageCurve(s, d)),
    "rank_semantics_audit" -> ((s, d) =>
      BatchOps.rankSemanticsAudit(s, d)),
    "segment_priority_chi2" -> ((s, d) =>
      BatchOps.segmentPriorityChi2(s, d)),
    "trailing_dau" -> ((s, d) => CdcOps.trailingDau(s, d)),
    "stickiness_ratio" -> ((s, d) => CdcOps.stickinessRatio(s, d)),
    "new_vs_returning" -> ((s, d) => CdcOps.newVsReturning(s, d)),
    "weekday_seasonality" -> ((s, d) =>
      BatchOps.weekdaySeasonality(s, d)),
    "attribution_models_compare" -> ((s, d) =>
      CdcOps.attributionModelsCompare(s, d)),
    "conversion_lag_histogram" -> ((s, d) =>
      CdcOps.conversionLagHistogram(s, d)),
    "session_entry_exit" -> ((s, d) => CdcOps.sessionEntryExit(s, d)),
    "temporal_dim_join" -> ((s, d) => CdcOps.temporalDimJoin(s, d)),
    "readability_scores" -> ((s, d) => TextOps.readabilityScores(s, d)),
    "embedding_covariance" -> ((s, d) =>
      VectorOps.embeddingCovariance(s, d)),
    "embedding_dim_quantiles" -> ((s, d) =>
      VectorOps.embeddingDimQuantiles(s, d)),
    "embedding_robust_outliers" -> ((s, d) =>
      VectorOps.embeddingRobustOutliers(s, d)),
    "sq8_quantization_audit" -> ((s, d) =>
      VectorOps.sq8QuantizationAudit(s, d)),
    "gdpr_erasure_audit" -> ((s, d) => CdcOps.gdprErasureAudit(s, d)),
    "props_key_census" -> ((s, d) => CdcOps.propsKeyCensus(s, d)),
    "props_key_timeline" -> ((s, d) => CdcOps.propsKeyTimeline(s, d)),
    "langid_confusion" -> ((s, d) => TextOps.langidConfusion(s, d)),
    "dedup_waterfall" -> ((s, d) => TextOps.dedupWaterfall(s, d)),
    "neardup_triangles" -> ((s, d) => TextOps.nearDupTriangles(s, d)),
    "neardup_jaccard_prefix" -> ((s, d) => TextOps.nearDupJaccardPrefix(s, d)),
    "neardup_survivors" -> ((s, d) => TextOps.nearDupSurvivors(s, d)),
    "dedup_best_survivors" -> ((s, d) => TextOps.dedupBestSurvivors(s, d)),
    "snm_neardup" -> ((s, d) => TextOps.snmNearDup(s, d)),
    "token_novelty" -> ((s, d) => TextOps.tokenNovelty(s, d)),
    "length_quality_spearman" -> ((s, d) => TextOps.lengthQualitySpearman(s, d)),
    "source_quality_profile" -> ((s, d) => TextOps.sourceQualityProfile(s, d)),
    "cross_source_contamination" -> ((s, d) =>
      TextOps.crossSourceContamination(s, d)),
    // --- multimodal columns: binary payloads + nested structs ---
    "binary_doc_stats" -> ((s, d) => MultiModalOps.binaryDocStats(s, d)),
    "doc_page_stats" -> ((s, d) => MultiModalOps.docPageStats(s, d)),
    "wav_features" -> ((s, d) => MultiModalOps.wavFeatures(s, d)),
    "bmp_features" -> ((s, d) => MultiModalOps.bmpFeatures(s, d)),
    "image_resize" -> ((s, d) => MultiModalOps.imageResize(s, d)),
    "image_phash_census" -> ((s, d) => MultiModalOps.imagePhashCensus(s, d)),
    "video_frame_sample" -> ((s, d) => MultiModalOps.videoFrameSampleQuery(s, d)),
    "audio_resample" -> ((s, d) => MultiModalOps.audioResample(s, d)),
    "audio_clipping" -> ((s, d) => MultiModalOps.audioClipping(s, d)),
    "codec_integrity_screen" -> ((s, d) =>
      MultiModalOps.codecIntegrityScreen(s, d)),
    "png_features" -> ((s, d) => MultiModalOps.pngFeatures(s, d)),
    // --- similarity search over embeddings (M4) ---
    "embedding_norms" -> ((s, d) => VectorOps.embeddingNorms(s, d)),
    "embedding_quantize" -> ((s, d) => VectorOps.embeddingQuantize(s, d)),
    "ann_ivf_trained_top1" -> ((s, d) => VectorOps.annIvfTrainedTop1(s, d)),
    "cluster_profile" -> ((s, d) => VectorOps.clusterProfile(s, d)),
    "cluster_sample" -> ((s, d) => VectorOps.clusterSample(s, d)),
    "embedding_outliers" -> ((s, d) => VectorOps.embeddingOutliers(s, d)),
    "label_cohesion" -> ((s, d) => VectorOps.labelCohesion(s, d)),
    "cluster_label_matrix" -> ((s, d) => VectorOps.clusterLabelMatrix(s, d)),
    "cluster_separation" -> ((s, d) => VectorOps.clusterSeparation(s, d)),
    "label_stats" -> ((s, d) => VectorOps.labelStats(s, d)),
    "cosine_topk" -> ((s, d) => VectorOps.cosineTopK(s, d)),
    "ann_lsh_top1" -> ((s, d) => VectorOps.annLshTop1(s, d)),
    "ann_mih_top1" -> ((s, d) => VectorOps.annMihTop1(s, d)),
    "ann_mih_rerank_top1" -> ((s, d) => VectorOps.annMihRerankTop1(s, d)),
    "ann_rp_rerank_top1" -> ((s, d) => VectorOps.annRpRerankTop1(s, d)),
    "ann_rp_multiprobe_top1" -> ((s, d) =>
      VectorOps.annRpMultiprobeTop1(s, d)),
    "ann_quality_report" -> ((s, d) => VectorOps.annQualityReport(s, d)),
    "knn_label_agreement" -> ((s, d) => VectorOps.knnLabelAgreement(s, d)),
    "knn_confusion" -> ((s, d) => VectorOps.knnConfusion(s, d)),
    "lsh_recall_at_k" -> ((s, d) => VectorOps.lshRecallAtK(s, d)),
    "rp_multiprobe_recall_at_k" -> ((s, d) =>
      VectorOps.rpMultiprobeRecallAtK(s, d)),
    "embedding_drift" -> ((s, d) => VectorOps.embeddingDrift(s, d)),
    "ann_ivf_top1" -> ((s, d) => VectorOps.annIvfTop1(s, d)),
    "ann_pq_top1" -> ((s, d) => VectorOps.annPqTop1(s, d)),
    "ann_pq_rerank_top1" -> ((s, d) => VectorOps.annPqRerankTop1(s, d)),
    "pq_distortion" -> ((s, d) => VectorOps.pqDistortion(s, d)),
    "cosine_neardup" -> ((s, d) => VectorOps.cosineNearDup(s, d)),
    "hard_negatives" -> ((s, d) => VectorOps.hardNegatives(s, d)),
    "semantic_dedup_survivors" -> ((s, d) =>
      VectorOps.semanticDedupSurvivors(s, d)),
    "doc_embedding_stats" -> ((s, d) => VectorOps.docEmbeddingStats(s, d)),
  )

  // Shared oracle fragments (DuckDB SQL).
  private val custRollupSql =
    """SELECT c.c_custkey, c.c_name, c.c_mktsegment,
      |  count(o.o_orderkey) AS total_orders,
      |  coalesce(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent,
      |  max(o.o_orderdate) AS last_order_date
      |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY 1, 2, 3""".stripMargin

  private val partRollupSql =
    """SELECT p.p_partkey, p.p_name, p.p_brand, p.p_type, p.p_size,
      |  coalesce(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS units_sold,
      |  coalesce(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 0.0) AS revenue,
      |  count(DISTINCT o.o_orderkey) AS order_count
      |FROM part p
      |LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
      |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin

  private val opCaseSql =
    "CASE WHEN event_type = 'signup' THEN 'c' WHEN event_type = 'error' THEN 'd' ELSE 'u' END"

  private val stopListSql = "('a','the','of','and','to','in')"

  private val shinglesSql =
    "list_transform(range(1, len(string_split(text, ' '))), i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])"

  def oracleSql: Map[String, String] = ListMap(
    "customer_rollup" ->
      s"$custRollupSql\nORDER BY c.c_custkey",

    "customer_segments" ->
      s"""WITH roll AS ($custRollupSql),
         |th AS (
         |  SELECT quantile_cont(total_spent, 0.8) AS p80_spent,
         |         quantile_cont(total_spent, 0.6) AS p60_spent,
         |         quantile_cont(CAST(total_orders AS DOUBLE), 0.8) AS p80_orders
         |  FROM roll),
         |anchor AS (SELECT CAST(max(o_orderdate) AS DATE) AS anchor_day FROM orders),
         |seg AS (
         |  SELECT r.*,
         |    CASE WHEN r.total_spent >= th.p80_spent AND CAST(r.total_orders AS DOUBLE) >= th.p80_orders THEN 'Gold'
         |         WHEN r.total_spent >= th.p60_spent OR CAST(r.total_orders AS DOUBLE) >= th.p80_orders THEN 'Silver'
         |         ELSE 'Bronze' END AS segment,
         |    r.total_spent * 2 AS estimated_clv,
         |    CAST(coalesce(date_diff('day', CAST(r.last_order_date AS DATE), anchor.anchor_day), 999) AS INT) AS days_since_last_order
         |  FROM roll r CROSS JOIN th CROSS JOIN anchor)
         |SELECT c_custkey, c_name, c_mktsegment, total_orders, total_spent,
         |  last_order_date, segment, estimated_clv, days_since_last_order,
         |  CASE WHEN days_since_last_order <= 7 THEN 'Very Active'
         |       WHEN days_since_last_order <= 30 THEN 'Active'
         |       ELSE 'Inactive' END AS recency_segment
         |FROM seg
         |ORDER BY c_custkey""".stripMargin,

    "customer_rollup_windowed" ->
      """WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
        |so AS (SELECT o.* FROM orders o CROSS JOIN anchor
        |       WHERE o.o_orderdate >= anchor.a - INTERVAL 30 DAY)
        |SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |  count(o.o_orderkey) AS total_orders,
        |  coalesce(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent,
        |  max(o.o_orderdate) AS last_order_date
        |FROM customer c LEFT JOIN so o ON c.c_custkey = o.o_custkey
        |GROUP BY 1, 2, 3
        |ORDER BY c.c_custkey""".stripMargin,

    "product_rollup" ->
      s"$partRollupSql\nORDER BY p.p_partkey",

    "product_performance" ->
      s"""WITH roll AS ($partRollupSql),
         |perf AS (
         |  SELECT *,
         |    revenue / (CASE WHEN units_sold = 0 THEN 1.0 ELSE units_sold END) AS revenue_per_unit,
         |    units_sold / CAST(greatest(p_size, 1) AS DOUBLE) AS turnover_rate
         |  FROM roll),
         |th AS (
         |  SELECT quantile_cont(revenue, 0.8) AS p80_revenue,
         |         quantile_cont(turnover_rate, 0.8) AS p80_turnover
         |  FROM perf)
         |SELECT p.p_partkey, p.p_name, p.p_brand, p.p_type, p.p_size,
         |  p.units_sold, p.revenue, p.order_count, p.revenue_per_unit,
         |  p.turnover_rate,
         |  CASE WHEN p.revenue >= th.p80_revenue AND p.turnover_rate >= th.p80_turnover THEN 'Star Product'
         |       WHEN p.turnover_rate >= th.p80_turnover THEN 'Fast Moving'
         |       WHEN p.revenue >= th.p80_revenue THEN 'High Revenue'
         |       ELSE 'Low Performer' END AS performance_category,
         |  CASE WHEN p.p_size <= 0 THEN 'Out of Stock'
         |       WHEN p.p_size <= 10 THEN 'Low Stock'
         |       WHEN p.p_size >= 40 THEN 'Overstock'
         |       ELSE 'Normal' END AS stock_status
         |FROM perf p CROSS JOIN th
         |ORDER BY p.p_partkey""".stripMargin,

    "product_rollup_windowed" ->
      """WITH anchor AS (SELECT max(l_shipdate) AS a FROM lineitem)
        |SELECT p.p_partkey, p.p_name, p.p_brand,
        |  coalesce(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS units_sold,
        |  coalesce(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 0.0) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS order_count
        |FROM part p
        |LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
        |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |CROSS JOIN anchor
        |WHERE l.l_shipdate >= anchor.a - INTERVAL 90 DAY
        |   OR o.o_orderdate >= anchor.a - INTERVAL 90 DAY
        |GROUP BY 1, 2, 3
        |ORDER BY p.p_partkey""".stripMargin,

    "daily_order_analytics" ->
      """SELECT CAST(o_orderdate AS DATE) AS order_day, o_orderstatus,
        |  count(*) AS order_count,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_order_value,
        |  min(o_totalprice) AS min_order,
        |  max(o_totalprice) AS max_order
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "status_distribution" ->
      """SELECT o_orderstatus,
        |  count(*) AS total_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "revenue_analytics" ->
      """SELECT
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  count(*) AS order_count,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(greatest(count(*), 1) AS DOUBLE) AS avg_order_value
        |FROM orders""".stripMargin,

    // Pearson r + regression from exact decimal component sums (the
    // built-in corr streams doubles in partition order — not
    // cross-engine-reproducible; the component-sum form is).
    "price_quantity_corr" -> BatchOps.priceQuantityCorrOracleSql,
    "order_status_cube" -> BatchOps.orderStatusCubeOracleSql,
    "price_histogram" -> BatchOps.priceHistogramOracleSql,
    // Morton-interleave layout diagnostics, bit-exact integer terms.
    "zorder_stats" -> BatchOps.zorderStatsOracleSql,
    // Q5-shaped full-star rollup with the local-supplier condition.
    "regional_revenue" -> BatchOps.regionalRevenueOracleSql,
    // RFM quintiles with custkey tie-broken ntile cuts.
    "rfm_scores" -> BatchOps.rfmScoresOracleSql,
    // In-order distinct part pairs, top-k by (count desc, pair).
    "part_copurchase" -> BatchOps.partCopurchaseOracleSql,
    // Distributed skyline: per-size champions, size-grain range window.
    "pareto_frontier" -> BatchOps.paretoFrontierOracleSql,
    // Interval-overlap range join: naive BETWEEN self-join oracle
    // proves the coarse-bin-blocked equi-join plan lossless.
    "shipment_overlaps" -> BatchOps.shipmentOverlapsOracleSql,
    // Entity resolution: blocking-key buckets + levenshtein verify over
    // injected dirty twins; ground-truth flag makes precision readable.
    "record_linkage" -> BatchOps.recordLinkageOracleSql,
    // TPC-H Q3 shape: broadcast dim, scan-pruned dates, top-10 heap.
    "shipping_priority" -> BatchOps.shippingPriorityOracleSql,
    "returned_item_revenue" -> BatchOps.returnedItemRevenueOracleSql,
    // TPC-H Q18 shape: decimal HAVING cut, then tiny-frame join-back.
    "large_volume_customers" -> BatchOps.largeVolumeCustomersOracleSql,
    // Metronomic-cadence abuse filter: integer-exact verdict.
    "bot_screen" -> CdcOps.botScreenOracleSql,
    "arrival_disorder" -> CdcOps.arrivalDisorderOracleSql,
    "replay_dedup" -> CdcOps.replayDedupOracleSql,
    "kmv_overlap" -> CdcOps.kmvOverlapOracleSql,
    "interarrival_histogram" -> CdcOps.interarrivalHistogramOracleSql,
    "bitmap_membership" -> CdcOps.bitmapMembershipOracleSql,
    "deadletter_audit" -> CdcOps.deadletterAuditOracleSql,
    "bounce_rate" -> CdcOps.bounceRateOracleSql,
    // Robust mean via ORDER-STATISTIC clipping (never interpolated).
    "winsorized_stats" -> CdcOps.winsorizedStatsOracleSql,
    // FULL OUTER cross-derivation audit at the aggregate grain.
    "revenue_reconciliation" -> BatchOps.revenueReconciliationOracleSql,
    "revenue_cusum" -> BatchOps.revenueCusumOracleSql,
    "revenue_mad_outliers" -> BatchOps.revenueMadOutliersOracleSql,
    "key_skew_report" -> BatchOps.keySkewReportOracleSql,
    "supplier_scorecard" -> BatchOps.supplierScorecardOracleSql,
    "rfm_segments" -> BatchOps.rfmSegmentsOracleSql,
    "merge_partials" -> BatchOps.mergePartialsOracleSql,
    "order_window_profile" -> BatchOps.orderWindowProfileOracleSql,
    "benford_screen" -> BatchOps.benfordScreenOracleSql,
    "top_parts_page2" -> BatchOps.topPartsPage2OracleSql,
    "time_rollup" -> BatchOps.timeRollupOracleSql,
    "join_semantics_audit" -> BatchOps.joinSemanticsAuditOracleSql,
    "abc_classification" -> BatchOps.abcClassificationOracleSql,
    "mann_kendall_trend" -> BatchOps.mannKendallTrendOracleSql,
    "segment_pivot" -> BatchOps.segmentPivotOracleSql,
    "revenue_trailing_7d" -> BatchOps.revenueTrailing7dOracleSql,
    "full_coverage_suppliers" -> BatchOps.fullCoverageSuppliersOracleSql,
    "quantity_deciles" -> BatchOps.quantityDecilesOracleSql,
    // Fact-grain exact nearest-rank percentiles off the two-phase rank.
    "fact_percentiles_exact" -> BatchOps.factPercentilesExactOracleSql,
    // Interpolated (percentile_cont) siblings in pure integer
    // centi-cents off the grouped two-phase rank.
    "interp_percentiles_exact" -> BatchOps.interpPercentilesExactOracleSql,
    // Per-segment exact closed-form Gini off the grouped rank.
    "segment_gini" -> BatchOps.segmentGiniOracleSql,
    // Per-segment Lorenz decile points off ONE grouped rank+cumsum pass.
    "segment_lorenz" -> BatchOps.segmentLorenzOracleSql,
    "above_avg_orders" -> BatchOps.aboveAvgOrdersOracleSql,
    // Linear multi-touch split of the purchase value over lookback clicks.
    "attribution_linear" -> CdcOps.attributionLinearOracleSql,

    "segment_counts" ->
      s"""WITH roll AS ($custRollupSql),
         |th AS (
         |  SELECT quantile_cont(total_spent, 0.8) AS p80_spent,
         |         quantile_cont(total_spent, 0.6) AS p60_spent,
         |         quantile_cont(CAST(total_orders AS DOUBLE), 0.8) AS p80_orders
         |  FROM roll)
         |SELECT
         |  CASE WHEN r.total_spent >= th.p80_spent AND CAST(r.total_orders AS DOUBLE) >= th.p80_orders THEN 'Gold'
         |       WHEN r.total_spent >= th.p60_spent OR CAST(r.total_orders AS DOUBLE) >= th.p80_orders THEN 'Silver'
         |       ELSE 'Bronze' END AS segment,
         |  count(*) AS customers
         |FROM roll r CROSS JOIN th
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    "mktsegment_value_counts" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "batch_summary" ->
      """WITH c AS (SELECT count(*) AS total_customers FROM customer),
        |o AS (SELECT count(*) AS total_orders,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |      FROM orders)
        |SELECT total_customers, total_orders, total_revenue,
        |  total_revenue / CAST(greatest(total_orders, 1) AS DOUBLE) AS avg_order_value,
        |  total_revenue / CAST(greatest(total_customers, 1) AS DOUBLE) AS avg_customer_value
        |FROM c CROSS JOIN o""".stripMargin,

    "geo_region_mask" ->
      """SELECT c.c_mktsegment,
        |  CAST(bit_or(CAST(1 AS BIGINT) << n.n_regionkey) AS BIGINT) AS region_mask,
        |  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << n.n_regionkey)) AS INT) AS region_count,
        |  count(*) AS customers
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "top_parts_by_revenue" ->
      s"""WITH roll AS ($partRollupSql)
         |SELECT p_partkey, p_name, revenue, units_sold, order_count
         |FROM roll
         |ORDER BY revenue DESC, p_partkey
         |LIMIT 10""".stripMargin,

    "random_order_pick" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
        |LIMIT 1""".stripMargin,

    "cdc_envelope_parse" ->
      s"""SELECT event_id, user_id, event_type,
         |  $opCaseSql AS op,
         |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
         |  value,
         |  CAST(json_extract_string(props, '$$.k') AS INT) AS k
         |FROM events
         |ORDER BY event_id""".stripMargin,

    // The Spark side round-trips through real nested envelope JSON
    // (to_json → from_json over the Debezium StructType); the oracle
    // verifies the extracted/diffed values straight from the source rows
    // (value_delta = value - (value - 10), computed with the same two
    // FP operations the Spark side performs on the parsed doubles).
    "cdc_envelope_nested" ->
      s"""SELECT event_id, $opCaseSql AS op,
         |  CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
         |  'events' AS src_table,
         |  CASE WHEN $opCaseSql = 'd' THEN NULL ELSE user_id END AS after_user_id,
         |  CASE WHEN $opCaseSql = 'd' THEN NULL ELSE value END AS after_value,
         |  CASE WHEN $opCaseSql = 'c' THEN NULL ELSE value - 10 END AS before_value,
         |  CASE WHEN $opCaseSql IN ('c', 'd') THEN NULL ELSE value - (value - 10) END AS value_delta
         |FROM events
         |ORDER BY event_id""".stripMargin,

    "cdc_op_filter" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE event_type IN ('click', 'purchase') AND value >= 10.0
        |ORDER BY event_id""".stripMargin,

    "cdc_upsert_latest" ->
      """SELECT user_id, event_type AS last_event_type, value AS last_value,
        |  CAST(epoch_ms(ts) AS BIGINT) AS last_ts_ms
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // Lakehouse MERGE: feed compaction + FULL OUTER against the base
    // snapshot; all five branch outcomes tagged in `src`.
    "cdc_merge_snapshot" -> CdcOps.mergeSnapshotOracleSql,
    "cdc_gap_detection" -> CdcOps.cdcGapDetectionOracleSql,
    "cumulative_reach" -> CdcOps.cumulativeReachOracleSql,
    "hourly_seasonality" -> CdcOps.hourlySeasonalityOracleSql,
    "hll_merge_rollup" -> CdcOps.hllMergeRollupOracleSql,
    "time_weighted_value" -> CdcOps.timeWeightedValueOracleSql,
    "gauge_resample" -> CdcOps.gaugeResampleOracleSql,
    "session_window_native" -> CdcOps.sessionWindowNativeOracleSql,
    "session_copresence" -> CdcOps.sessionCopresenceOracleSql,
    "fk_orphan_audit" -> BatchOps.fkOrphanAuditOracleSql,
    "local_supplier_share" -> BatchOps.localSupplierShareOracleSql,
    "basket_rules" -> BatchOps.basketRulesOracleSql,
    "shipping_latency" -> BatchOps.shippingLatencyOracleSql,
    "weighted_median_price" -> BatchOps.weightedMedianPriceOracleSql,
    "order_backlog" -> BatchOps.orderBacklogOracleSql,
    "supplier_hhi" -> BatchOps.supplierHhiOracleSql,

    "cdc_event_type_counters" ->
      s"""SELECT event_type, $opCaseSql AS op,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         |  count(DISTINCT user_id) AS distinct_users
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY 1""".stripMargin,

    "cdc_user_event_sets" ->
      s"""WITH latest AS (
         |  SELECT user_id, op FROM (
         |    SELECT user_id, $opCaseSql AS op,
         |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events) WHERE rn = 1)
         |SELECT e.user_id,
         |  array_to_string(list_sort(list_distinct(list(e.event_type))), ',') AS event_types,
         |  count(*) AS n_events
         |FROM events e JOIN latest l ON e.user_id = l.user_id
         |WHERE l.op <> 'd'
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    "cdc_table_dispatch" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, 'customer_cache' AS target, value
        |  FROM events WHERE event_type = 'signup'
        |  UNION ALL
        |  SELECT event_id, user_id, 'order_cache' AS target, value
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT event_id, user_id, 'activity_cache' AS target, value
        |  FROM events WHERE event_type IN ('click', 'view'))
        |ORDER BY event_id, target""".stripMargin,

    "minute_metrics" ->
      """SELECT date_trunc('minute', ts) AS minute_start,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CASE WHEN count(*) > 0
        |       THEN CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |       ELSE 0.0 END AS avg_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // The oracle states plain count(DISTINCT); the Spark side computes it
    // as the sharded two-stage decomposition — the hash match proves the
    // shard/re-aggregate is exactly distinct-count-equivalent.
    "daily_distinct_users" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // Deterministic approximate-distinct: KMV order statistics and a
    // fully deterministic raw HLL (registers and even estimation error
    // derive from the shared 60-bit md5, so both hash-check).
    "kmv_distinct" -> CdcOps.kmvDistinctOracleSql,
    "hll_distinct" -> CdcOps.hllDistinctOracleSql,

    // The Spark side is the STREAMING dailyActiveUsers code run in batch
    // (window-struct dedup + windowed count): the hash match anchors the
    // streaming twin's semantics to the oracle. Epoch-aligned UTC day
    // windows == date_trunc('day') for any positive-epoch timestamp.
    "daily_active_users" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // Sessionization (gaps-and-islands): ms-truncated ordering with the
    // Calendar-grain gaps-and-islands: consecutive-day streaks per user,
    // argmin tie-break via a packed integer key (pure BIGINT ordering).
    "activity_streaks" -> CdcOps.activityStreaksOracleSql,
    // event_id tiebreak keeps island numbering identical across engines
    // (ns vs µs native timestamp precision).
    "event_sessions" ->
      s"""WITH o AS (
         |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
         |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts), event_id) AS prev_ms
         |  FROM events),
         |f AS (
         |  SELECT *, CASE WHEN prev_ms IS NULL
         |      OR ts_ms - prev_ms > ${CdcOps.SessionGapMs} THEN 1 ELSE 0
         |    END AS new_sess
         |  FROM o),
         |s AS (
         |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
         |      ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS session_seq
         |  FROM f)
         |SELECT user_id, session_seq,
         |  min(ts_ms) AS session_start_ms,
         |  max(ts_ms) AS session_end_ms,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         |  max(ts_ms) - min(ts_ms) AS duration_ms
         |FROM s
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    // Field-level diffs between consecutive row versions per key.
    "cdc_change_log" -> CdcOps.changeLogOracleSql,
    // Type-2 validity intervals from the same chain (lead over c/u/d
    // BEFORE the tombstone filter, so deletes close their version).
    "scd2_history" -> CdcOps.scd2HistoryOracleSql,
    // Point-in-time snapshot at the integer-exact midpoint anchor.
    "scd2_asof" -> CdcOps.scd2AsofOracleSql,
    "event_transitions" -> CdcOps.eventTransitionsOracleSql,
    // Whole-journey path census: per-group chain-order sort, path-grain
    // count, tie-broken top-k heap.
    "session_paths" -> CdcOps.sessionPathsOracleSql,
    // Strictly-ordered step funnel: chained conditional first-anchors.
    "event_funnel" -> CdcOps.eventFunnelOracleSql,
    // Same funnel under the 24h conversion deadline.
    "event_funnel_windowed" -> CdcOps.eventFunnelWindowedOracleSql,
    // Time-to-convert order statistics per funnel transition.
    "funnel_step_latency" -> CdcOps.funnelStepLatencyOracleSql,
    "cohort_retention" -> CdcOps.cohortRetentionOracleSql,
    "daily_anomaly_zscore" -> CdcOps.dailyAnomalyZscoreOracleSql,
    "mad_outliers" -> CdcOps.madOutliersOracleSql,
    "cdc_incremental_rollup" -> CdcOps.incrementalRollupOracleSql,
    // True RANGE frame on the day number (not ROWS — gap semantics).
    "rolling_7d_metrics" -> CdcOps.rolling7dMetricsOracleSql,
    "user_funnel" -> CdcOps.userFunnelOracleSql,

    // Last-click attribution: interval self-join on the user key with a
    // deterministic (click_ms, click_id) top-1 pick per purchase.
    "purchase_attribution" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, value,
         |    epoch_ms(ts) AS ts_ms
         |  FROM events),
         |c AS (SELECT user_id, event_id AS click_id, ts_ms AS click_ms
         |      FROM ev WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS purchase_id, value,
         |        ts_ms AS purchase_ms
         |      FROM ev WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT p.purchase_id, p.user_id, p.value, p.purchase_ms,
         |    c.click_id, c.click_ms,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.click_ms DESC, c.click_id DESC) AS rk
         |  FROM p JOIN c ON p.user_id = c.user_id
         |  WHERE c.click_ms <= p.purchase_ms
         |    AND p.purchase_ms - c.click_ms <= ${CdcOps.AttributionWindowMs})
         |SELECT purchase_id, user_id, value, purchase_ms, click_id,
         |  click_ms, purchase_ms - click_ms AS lag_ms
         |FROM j WHERE rk = 1
         |ORDER BY purchase_id""".stripMargin,

    "audience_overlap" -> CdcOps.audienceOverlapOracleSql,

    // Union-merge as-of: one timeline per user, orders (kind 0) sort
    // before events (kind 1) on equal ms, running IGNORE NULLS carry.
    "event_asof_order" ->
      """WITH u AS (
        |  SELECT o_custkey AS user_id, epoch_ms(o_orderdate) AS t_ms,
        |    0 AS kind, CAST(NULL AS BIGINT) AS event_id,
        |    o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT user_id, epoch_ms(ts), 1, event_id,
        |    NULL, NULL, NULL
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    last_value(o_orderkey IGNORE NULLS) OVER win AS asof_orderkey,
        |    last_value(o_orderdate_ms IGNORE NULLS) OVER win AS asof_orderdate_ms,
        |    last_value(o_totalprice IGNORE NULLS) OVER win AS asof_totalprice
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id
        |    ORDER BY t_ms, kind, coalesce(o_orderkey, event_id)
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, t_ms AS ts_ms,
        |  asof_orderkey, asof_orderdate_ms, asof_totalprice
        |FROM w WHERE kind = 1
        |ORDER BY event_id""".stripMargin,

    "alerts_high_value" ->
      """SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value,
        |  'high_value_order' AS alert_type,
        |  CASE WHEN value >= 400.0 THEN 'HIGH'
        |       WHEN value >= 300.0 THEN 'MEDIUM'
        |       ELSE 'LOW' END AS severity
        |FROM events
        |WHERE value > 200.0
        |ORDER BY event_id""".stripMargin,

    // Alert-storm rate limit: first high-value alert per (user, hour)
    // pages, the rest are counted suppressed.
    "alert_suppression" -> AlertOps.alertSuppressionOracleSql,

    "alerts_bulk_activity" ->
      """SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
        |  'bulk_orders' AS alert_type
        |FROM events
        |GROUP BY 1, 2
        |HAVING count(*) >= 5
        |ORDER BY user_id, day""".stripMargin,

    "alerts_velocity" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour_start,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_value,
        |  count(*) AS n_events,
        |  'rapid_stock_depletion' AS alert_type
        |FROM events
        |GROUP BY 1, 2
        |HAVING CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) > 400.0
        |ORDER BY event_type, hour_start""".stripMargin,

    "alerts_dominant_group" ->
      """WITH pt AS (
        |  SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *,
        |    CAST(sum(n) OVER (PARTITION BY hour_start) AS BIGINT) AS total,
        |    row_number() OVER (PARTITION BY hour_start ORDER BY n DESC, event_type) AS rk
        |  FROM pt)
        |SELECT hour_start, event_type AS dominant_type, n, total,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  'dominant_group_anomaly' AS alert_type
        |FROM r
        |WHERE rk = 1 AND total >= 5
        |  AND CAST(n AS DOUBLE) / CAST(total AS DOUBLE) >= 0.4
        |ORDER BY hour_start""".stripMargin,

    "alerts_low_stock" ->
      """SELECT p_partkey, p_name, p_size, 'low_stock' AS alert_type,
        |  CASE WHEN p_size <= 2 THEN 'HIGH' ELSE 'MEDIUM' END AS severity
        |FROM part
        |WHERE p_size <= 5
        |ORDER BY p_partkey""".stripMargin,

    "health_score" ->
      """WITH a AS (
        |  SELECT count(*) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |    count(DISTINCT user_id) AS n_users,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM events),
        |s AS (
        |  SELECT *,
        |    CASE WHEN n_events > 0 THEN 20.0 ELSE 0.0 END AS freshness_score,
        |    20.0 * (1.0 - CAST(n_errors AS DOUBLE) / CAST(greatest(n_events, 1) AS DOUBLE)) AS error_score,
        |    least(20.0, 20.0 * CAST(n_users AS DOUBLE) / 100.0) AS activity_score,
        |    least(20.0, 20.0 * CAST(n_events AS DOUBLE) / 5000.0) AS volume_score,
        |    least(20.0, 20.0 * (total_value / CAST(greatest(n_events, 1) AS DOUBLE)) / 100.0) AS value_score
        |  FROM a),
        |h AS (
        |  SELECT *,
        |    freshness_score + error_score + activity_score + volume_score + value_score AS health_score
        |  FROM s)
        |SELECT n_events, n_errors, n_users, freshness_score, error_score,
        |  activity_score, volume_score, value_score, health_score,
        |  CASE WHEN health_score >= 90.0 THEN 'healthy'
        |       WHEN health_score >= 70.0 THEN 'degraded'
        |       WHEN health_score >= 50.0 THEN 'warning'
        |       ELSE 'critical' END AS health_band
        |FROM h""".stripMargin,

    "docs_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY keep_id""".stripMargin,

    "docs_deduped" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |      FROM documents)
        |WHERE doc_id = keep_id
        |ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      s"""SELECT doc_id, lang, n_chars,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
         |  CAST(len(list_filter(toks, t -> t IN $stopListSql)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
         |FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // Per-language Tukey box plot over n_chars (exact quartiles).
    "length_boxplot" -> TextOps.lengthBoxplotOracleSql,
    // Mergeable fixed-bin quantile sketch: partial+final hash agg twin
    // of the exact boxplot; integer covering-rule read-out.
    "length_quantile_sketch" -> TextOps.lengthQuantileSketchOracleSql,
    // Deterministic source-round-robin training order; sharded rank
    // windows, sparse arithmetic positions.
    "curriculum_interleave" -> TextOps.curriculumInterleaveOracleSql,

    "language_id" ->
      s"""SELECT doc_id, lang AS labeled_lang,
         |  CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END AS predicted_lang,
         |  stop_ratio,
         |  (CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END) = lang AS agrees
         |FROM (SELECT *,
         |        CAST(len(list_filter(string_split(text, ' '), t -> t IN $stopListSql)) AS DOUBLE)
         |          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
         |      FROM documents WHERE text IS NOT NULL)
         |ORDER BY doc_id""".stripMargin,

    "doc_fingerprints" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "neardup_jaccard" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(n_chars / 100) AS INT) AS len_bucket,
         |    list_distinct($shinglesSql) AS sh
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter,
         |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS INT) AS n_union,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |FROM d a JOIN d b
         |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,

    "vocab_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY 1
        |ORDER BY n DESC, token
        |LIMIT 100""".stripMargin,

    "token_counts" -> TextOps.tokenCountsOracleSql,
    "dq_report" -> BatchOps.dqReportOracleSql,
    "corpus_rollup" -> BatchOps.corpusRollupOracleSql,
    "customer_spend_rank" -> BatchOps.customerSpendRankOracleSql,
    "pricing_summary_sql" -> BatchOps.pricingSummarySqlOracleSql,
    "lang_pivot" -> BatchOps.langPivotOracleSql,
    "daily_revenue_running" -> BatchOps.dailyRevenueRunningOracleSql,
    // Bounded half-life decay: exact power-of-two weights, one division.
    "ewma_daily" -> BatchOps.ewmaDailyOracleSql,
    "daily_sales_dense" -> BatchOps.dailySalesDenseOracleSql,
    "train_val_split" -> TextOps.trainValSplitOracleSql,
    "stratified_sample" -> TextOps.stratifiedSampleOracleSql,
    "doc_chunks" -> TextOps.docChunksOracleSql,
    "pii_scrub" -> TextOps.piiScrubOracleSql,
    "paragraph_dedup" -> TextOps.paragraphDedupOracleSql,
    "tfidf_topk" -> TextOps.tfidfTopKOracleSql,
    // BM25 keeps every step hash-exact: integer-rational saturation
    // term (one double division of exact longs), bit-quantized idf
    // (no floating log), one IEEE multiply.
    "bm25_topk" -> TextOps.bm25TopKOracleSql,
    // √-temperature mixture: sqrt is correctly-rounded IEEE in both
    // engines (pow is not), and the normalizer sums decimals.
    "domain_mixture" -> TextOps.domainMixtureOracleSql,
    // Stochastic-rounding copy counts off the mixture weights; the
    // hash-uniform comparison is bit-deterministic on both engines.
    "mixture_resample" -> TextOps.mixtureResampleOracleSql,
    "doc_surprisal" -> TextOps.docSurprisalOracleSql,
    // Context-aware LM screen: integer-bit conditional bigram
    // surprisal; low mean bits flags templated text.
    "bigram_surprisal" -> TextOps.bigramSurprisalOracleSql,
    "boilerplate_prefixes" -> TextOps.boilerplatePrefixesOracleSql,
    "tokenizer_fertility" -> TextOps.tokenizerFertilityOracleSql,
    "lexical_profile" -> TextOps.lexicalProfileOracleSql,
    "source_divergence" -> TextOps.sourceDivergenceOracleSql,
    "zipf_slope" -> TextOps.zipfSlopeOracleSql,
    "token_entropy" -> TextOps.tokenEntropyOracleSql,
    "chunk_packing" -> TextOps.chunkPackingOracleSql,
    // Shard-grain pack fill/overflow audit over the same layout.
    "pack_utilization" -> TextOps.packUtilizationOracleSql,
    // Running-sum truncation layout vs best-fit-decreasing, side by
    // side per shard (the pack-policy advisor).
    "pack_policy_compare" -> TextOps.packPolicyCompareOracleSql,
    // The three text decontam screens cross-priced on one split.
    "decontam_screen_agreement" ->
      TextOps.decontamScreenAgreementOracleSql,
    "split_contamination" -> TextOps.splitContaminationOracleSql,
    // Train-side n-gram decontamination (the GPT-3 appendix direction).
    "ngram_decontam" -> TextOps.ngramDecontamOracleSql,
    // Sketch family: the Bloom filter's false positives and the CMS's
    // overestimates are themselves deterministic and hash-checked.
    "bloom_decontam" -> TextOps.bloomDecontamOracleSql,
    "cms_heavy_hitters" -> TextOps.cmsHeavyHittersOracleSql,
    // Token-proportional systematic sampling (integer lattice crossing).
    "token_budget_sample" -> TextOps.tokenBudgetSampleOracleSql,
    // Exact-count PMI lift (one IEEE divide at the end, no log taken).
    "pmi_collocations" -> TextOps.pmiCollocationsOracleSql,
    // Lee-et-al-style sub-document duplication census (stride-1 spans).
    "dup_span_census" -> TextOps.dupSpanCensusOracleSql,
    // The census's removal pass: merged token islands + residual text.
    "dup_span_removal" -> TextOps.dupSpanRemovalOracleSql,
    // Production ingest screen: new batch vs standing corpus.
    "incremental_dedup" -> TextOps.incrementalDedupOracleSql,
    // Arrival-order screen: every doc vs every earlier doc_id;
    // `StreamOps.firstSeenScreenStream` is spec-pinned to this operator.
    "first_seen_screen" -> TextOps.firstSeenScreenOracleSql,
    // Per-bin train/val drift over a fixed histogram (no scalar PSI —
    // a transcendental log and an ordered float sum are both
    // cross-engine-inexact; the per-bin frame is all exact counts).
    "split_drift" -> TextOps.splitDriftOracleSql,
    "oov_rate" -> TextOps.oovRateOracleSql,
    "split_balance" -> TextOps.splitBalanceOracleSql,
    "dedup_components" -> TextOps.dedupComponentsOracleSql(shinglesSql),
    // Same labels, same recursive-CTE oracle — the pure-DataFrame
    // min-label-propagation twin of the GraphX form.
    "dedup_components_df" -> TextOps.dedupComponentsOracleSql(shinglesSql),
    // Density-guarded CC: high-degree hubs cut from the closure, the
    // guard predicate verified inside the recursive oracle.
    "dedup_components_guarded" ->
      TextOps.dedupComponentsGuardedOracleSql(shinglesSql),
    // Damped PageRank over the same capped edge set, one CTE per
    // iteration; decimal-exact contribution sums.
    "pagerank_neardup" -> TextOps.pageRankNearDupOracleSql(shinglesSql),
    "kcore_neardup" -> TextOps.kcoreNearDupOracleSql(shinglesSql),
    "lpa_communities" -> TextOps.lpaCommunitiesOracleSql(shinglesSql),
    "quality_calibration" -> TextOps.qualityCalibrationOracleSql,
    "bfs_levels" -> TextOps.bfsLevelsOracleSql(shinglesSql),
    "snapshot_diff" -> BatchOps.snapshotDiffOracleSql,
    "national_market_share" -> BatchOps.nationalMarketShareOracleSql,
    "acf_profile" -> BatchOps.acfProfileOracleSql,
    "trending_parts_7d" -> BatchOps.trendingParts7dOracleSql,
    "customer_migration_matrix" ->
      BatchOps.customerMigrationMatrixOracleSql,
    "revenue_bridge" -> BatchOps.revenueBridgeOracleSql,
    "revenue_forecast_q6" -> BatchOps.revenueForecastQ6OracleSql,
    "discount_band_profile" -> BatchOps.discountBandProfileOracleSql,
    "nation_share_of_region" -> BatchOps.nationShareOfRegionOracleSql,
    "seasonal_index" -> BatchOps.seasonalIndexOracleSql,
    "regional_rollup" -> BatchOps.regionalRollupOracleSql,
    "margins_grouping_sets" -> BatchOps.marginsGroupingSetsOracleSql,
    "promo_share_q14" -> BatchOps.promoShareQ14OracleSql,
    "set_ops_audit" -> BatchOps.setOpsAuditOracleSql,
    "segment_metrics_unpivot" -> BatchOps.segmentMetricsUnpivotOracleSql,
    "reorder_hazard" -> BatchOps.reorderHazardOracleSql,
    "late_fulfilment_q4" -> BatchOps.lateFulfilmentQ4OracleSql,
    "trade_volume_q7" -> TpchOps.tradeVolumeQ7OracleSql,
    "profit_by_nation_q9" -> TpchOps.profitByNationQ9OracleSql,
    "customer_order_dist_q13" -> TpchOps.customerOrderDistQ13OracleSql,
    "top_supplier_q15" -> TpchOps.topSupplierQ15OracleSql,
    "small_qty_revenue_q17" -> TpchOps.smallQtyRevenueQ17OracleSql,
    "discounted_revenue_q19" -> TpchOps.discountedRevenueQ19OracleSql,
    "waiting_suppliers_q21" -> TpchOps.waitingSuppliersQ21OracleSql,
    "global_sales_opp_q22" -> TpchOps.globalSalesOppQ22OracleSql,
    "cramers_v" -> BatchOps.cramersVOracleSql,
    "ks_drift" -> TextOps.ksDriftOracleSql,
    "supplier_transit_coverage" ->
      BatchOps.supplierTransitCoverageOracleSql,
    "nation_top_customers" -> BatchOps.nationTopCustomersOracleSql,
    "key_hierarchy_rollup" -> BatchOps.keyHierarchyRollupOracleSql,
    "penny_allocation_audit" -> BatchOps.pennyAllocationAuditOracleSql,
    "neyman_sample" -> BatchOps.neymanSampleOracleSql,
    "layout_pruning_sim" -> BatchOps.layoutPruningSimOracleSql,
    "t_closeness_audit" -> BatchOps.tClosenessAuditOracleSql,
    "rle_sort_advisor" -> BatchOps.rleSortAdvisorOracleSql,
    "allocation_variance_audit" ->
      BatchOps.allocationVarianceAuditOracleSql,
    "props_variant_stats" -> CdcOps.propsVariantStatsOracleSql,
    "salted_join_rollup" -> BatchOps.saltedJoinRollupOracleSql,
    "status_path_listagg" -> BatchOps.statusPathListaggOracleSql,
    "semantic_decontam" -> VectorOps.semanticDecontamOracleSql,
    "matryoshka_recall" -> VectorOps.matryoshkaRecallOracleSql,
    "dsir_weights" -> TextOps.dsirWeightsOracleSql,
    "dsir_resample" -> TextOps.dsirResampleOracleSql,
    "shingle_df_profile" -> TextOps.shingleDfProfileOracleSql(shinglesSql),
    "lsh_band_planner" -> TextOps.lshBandPlannerOracleSql(shinglesSql),
    "dedup_inflation_by_source" ->
      TextOps.dedupInflationBySourceOracleSql,
    "source_cross_dup_matrix" ->
      TextOps.sourceCrossDupMatrixOracleSql(shinglesSql),
    "winnow_fingerprints" ->
      TextOps.winnowFingerprintsOracleSql(shinglesSql),
    // Winnowing's pair search: fingerprint postings, df cut, self-join.
    "winnow_pairs" -> TextOps.winnowPairsOracleSql,
    // Guarded CC over the winnow pair graph (passage-copy clusters).
    "winnow_components" -> TextOps.winnowComponentsOracleSql,
    // Sparse-index decontam: winnow fingerprints vs the eval band.
    "winnow_decontam" -> TextOps.winnowDecontamOracleSql,
    // MOSS match localization: positional anchors -> token spans.
    "winnow_match_spans" -> TextOps.winnowMatchSpansOracleSql,
    // The k-width cost table: pair mass per k, kept vs df-cap-dropped.
    "winnow_k_planner" -> TextOps.winnowKPlannerOracleSql,
    // Integer-micro damped power iteration, unrolled 5-CTE oracle.
    "dup_graph_pagerank" ->
      TextOps.dupGraphPagerankOracleSql(shinglesSql),
    // Thresholded Levenshtein over the candidate memo; DuckDB computes
    // the uncapped distance and applies the cap as a CASE.
    "pair_edit_verify" -> TextOps.pairEditVerifyOracleSql(shinglesSql),
    // Bottom-k md5-draw rank sketch vs exact nearest-rank quantiles.
    "quantile_sketch" -> TextOps.quantileSketchOracleSql,
    // Per-lang bottom-k registers (WindowGroupLimit cap) vs exact.
    "quantile_sketch_grouped" ->
      TextOps.quantileSketchGroupedOracleSql,
    // K sweep over register-set prefixes, floor-milli cdf scoring.
    "quantile_sketch_calibration" ->
      TextOps.quantileSketchCalibrationOracleSql,
    "dedup_threshold_sweep" ->
      TextOps.dedupThresholdSweepOracleSql(shinglesSql),
    "bpe_merge_census" -> TextOps.bpeMergeCensusOracleSql,
    // The iterated trainer: N unrolled merge rounds over the vocab.
    "bpe_merge_rounds" -> TextOps.bpeMergeRoundsOracleSql,
    // The trainer's consumer dashboard: per-round symbol mass / types
    // / compression over the same unrolled rounds.
    "bpe_tokenize_census" -> TextOps.bpeTokenizeCensusOracleSql,
    "epoch_shuffle_audit" -> TextOps.epochShuffleAuditOracleSql,
    "vocab_growth_heaps" -> TextOps.vocabGrowthHeapsOracleSql,
    "k_anonymity_audit" -> BatchOps.kAnonymityAuditOracleSql,
    "l_diversity_audit" -> BatchOps.lDiversityAuditOracleSql,
    "join_cardinality_estimate" ->
      BatchOps.joinCardinalityEstimateOracleSql,
    "table_checksums" -> BatchOps.tableChecksumsOracleSql,
    "image_dup_clusters" -> MultiModalOps.imageDupClustersOracleSql,
    "hilbert_stats" -> BatchOps.hilbertStatsOracleSql,
    "decile_rank_audit" -> BatchOps.decileRankAuditOracleSql,
    "window_frame_audit" -> BatchOps.windowFrameAuditOracleSql,
    "column_profile" -> BatchOps.columnProfileOracleSql,
    "user_value_trend" -> BatchOps.userValueTrendOracleSql,
    "revenue_concentration" -> BatchOps.revenueConcentrationOracleSql,
    "wow_growth" -> BatchOps.wowGrowthOracleSql,
    "fk_fanout_histogram" -> BatchOps.fkFanoutHistogramOracleSql,
    "normalized_dedup" -> TextOps.normalizedDedupOracleSql,
    "psi_drift" -> TextOps.psiDriftOracleSql,
    "dedup_rate_by_source" -> TextOps.dedupRateBySourceOracleSql,
    "dedup_weights" -> TextOps.dedupWeightsOracleSql(shinglesSql),
    "vocab_coverage_curve" -> TextOps.vocabCoverageCurveOracleSql,
    "rank_semantics_audit" -> BatchOps.rankSemanticsAuditOracleSql,
    "segment_priority_chi2" -> BatchOps.segmentPriorityChi2OracleSql,
    "trailing_dau" -> CdcOps.trailingDauOracleSql,
    "stickiness_ratio" -> CdcOps.stickinessRatioOracleSql,
    "new_vs_returning" -> CdcOps.newVsReturningOracleSql,
    "weekday_seasonality" -> BatchOps.weekdaySeasonalityOracleSql,
    "attribution_models_compare" ->
      CdcOps.attributionModelsCompareOracleSql,
    "conversion_lag_histogram" -> CdcOps.conversionLagHistogramOracleSql,
    "session_entry_exit" -> CdcOps.sessionEntryExitOracleSql,
    "temporal_dim_join" -> CdcOps.temporalDimJoinOracleSql,
    "readability_scores" -> TextOps.readabilityScoresOracleSql,
    "embedding_covariance" -> VectorOps.embeddingCovarianceOracleSql,
    "embedding_dim_quantiles" -> VectorOps.embeddingDimQuantilesOracleSql,
    "sq8_quantization_audit" -> VectorOps.sq8QuantizationAuditOracleSql,
    "embedding_robust_outliers" ->
      VectorOps.embeddingRobustOutliersOracleSql,
    "gdpr_erasure_audit" -> CdcOps.gdprErasureAuditOracleSql,
    "props_key_census" -> CdcOps.propsKeyCensusOracleSql,
    "props_key_timeline" -> CdcOps.propsKeyTimelineOracleSql,
    "langid_confusion" -> TextOps.langidConfusionOracleSql,
    "dedup_waterfall" -> TextOps.dedupWaterfallOracleSql(shinglesSql),
    "neardup_triangles" -> TextOps.nearDupTrianglesOracleSql(shinglesSql),
    // Naive-form oracle on purpose: prefix filtering is lossless, so a
    // prefix bug shows up as a missing row, not a mirrored mistake.
    "neardup_jaccard_prefix" ->
      TextOps.nearDupJaccardPrefixOracleSql(shinglesSql),
    "neardup_survivors" -> TextOps.nearDupSurvivorsOracleSql(shinglesSql),
    "dedup_best_survivors" -> TextOps.dedupBestSurvivorsOracleSql(shinglesSql),
    "snm_neardup" -> TextOps.snmNearDupOracleSql,
    "token_novelty" -> TextOps.tokenNoveltyOracleSql,
    "length_quality_spearman" -> TextOps.lengthQualitySpearmanOracleSql,
    "source_quality_profile" -> TextOps.sourceQualityProfileOracleSql,

    "doc_repetition" ->
      s"""WITH c AS (
         |  SELECT doc_id, token, count(*) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |        FROM documents)
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT doc_id,
         |    CAST(sum(c) AS BIGINT) AS n_tokens,
         |    max(c) AS top_token_count,
         |    count(*) AS n_distinct
         |  FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, top_token_count, n_distinct,
         |  CAST(top_token_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    AS top_ratio,
         |  CAST(top_token_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    >= ${TextOps.RepetitiveTopRatio} AS repetitive
         |FROM r
         |ORDER BY doc_id""".stripMargin,

    "neardup_jaccard_capped" ->
      TextOps.nearDupJaccardCappedOracleSql(shinglesSql),
    "neardup_containment" ->
      TextOps.nearDupContainmentOracleSql(shinglesSql),

    // Generated from the same band seeds + bucket cap as the Spark query.
    "minhash_candidates" -> TextOps.minhashCandidatesOracleSql(shinglesSql),
    "minhash_calibration" ->
      TextOps.minhashCalibrationOracleSql(shinglesSql),
    "simhash_pairs" -> TextOps.simhashPairsOracleSql(shinglesSql),
    // All three dedup modalities side by side per candidate pair.
    "dedup_features" -> TextOps.dedupFeaturesOracleSql(shinglesSql),
    "docs_quality_filter" -> TextOps.qualityFilterOracleSql,
    "rolling_fingerprints" -> TextOps.rollingFingerprintsOracleSql,
    "cross_source_contamination" ->
      TextOps.crossSourceContaminationOracleSql,

    // Binary-payload stats: octet_length/md5/hex are byte-level in both
    // engines (DuckDB needs the explicit ::BLOB; the corpus is ASCII so
    // byte substrings equal char substrings).
    "binary_doc_stats" ->
      s"""SELECT doc_id,
         |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
         |  md5(text) AS payload_md5,
         |  hex(substr(text, 1, 4)) AS magic_hex,
         |  CAST(ceil(octet_length(CAST(text AS BLOB)) / ${MultiModalOps.PageChars}.0) AS INT) AS n_chunks
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    // The Spark side materializes a nested array<struct> pages column,
    // explodes, and re-aggregates; the oracle verifies the resulting
    // per-document facts from flat arithmetic over the text.
    "doc_page_stats" ->
      s"""SELECT doc_id,
         |  CAST(greatest(ceil(length(text) / ${MultiModalOps.PageChars}.0), 1) AS INT) AS n_pages,
         |  CAST(length(text) AS BIGINT) AS total_chars,
         |  CAST(least(length(text), ${MultiModalOps.PageChars}) AS INT) AS max_page_chars,
         |  md5(substr(text, 1, ${MultiModalOps.PageChars})) AS first_page_md5
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    // Real-codec roundtrip: the Spark side builds genuine RIFF/WAVE
    // bytes and parses them back with a chunk-walking decoder; the
    // oracle recomputes the features from (doc_id, length(text)) alone,
    // never seeing the container, so a hash match proves byte-level
    // encode/parse correctness.
    "wav_features" -> MultiModalOps.wavFeaturesOracleSql,
    // BMP twin of the above: same contract, plus the two codec hazards
    // WAV lacks (bottom-up row order, stride padding) made
    // hash-observable via the top-row checksum and padded-stride walk.
    "bmp_features" -> MultiModalOps.bmpFeaturesOracleSql,
    // Block-mean downsample + aHash off the real BMP parse.
    "image_resize" -> MultiModalOps.imageResizeOracleSql,
    "image_phash_census" -> MultiModalOps.imagePhashCensusOracleSql,
    // Multi-frame container walk + stride-2 frame sampling.
    "video_frame_sample" -> MultiModalOps.videoFrameSampleOracleSql,
    // Exact-integer audio decimation off the real WAV parse.
    "audio_resample" -> MultiModalOps.audioResampleOracleSql,
    "audio_clipping" -> MultiModalOps.audioClippingOracleSql,
    "codec_integrity_screen" ->
      MultiModalOps.codecIntegrityScreenOracleSql,
    // PNG completes the codec triad with the compressed-container
    // hazards: big-endian fields, per-chunk CRC-32, zlib inflate, and
    // per-row defiltering (None/Sub/Up) verified via the bottom-row
    // checksum (an Up-chain bug corrupts downward).
    "png_features" -> MultiModalOps.pngFeaturesOracleSql,

    // Vector-query oracles are GENERATED from the same unrolled
    // arithmetic + hyperplane constants the Spark queries use
    // (VectorOps.*Sql) — one source of truth for both engines.
    "embedding_norms" -> VectorOps.embeddingNormsOracleSql,
    "embedding_quantize" -> VectorOps.embeddingQuantizeOracleSql,
    "ann_ivf_trained_top1" -> VectorOps.annIvfTrainedTop1OracleSql,
    // K-means-as-a-product: per-cluster moments + label purity off the
    // same trained quantizer CTE chain.
    "cluster_profile" -> VectorOps.clusterProfileOracleSql,
    // Cluster-balanced sampling: rank-only output (the cosine orders,
    // never emits), so the hash is rank-exact.
    "cluster_sample" -> VectorOps.clusterSampleOracleSql,
    "embedding_outliers" -> VectorOps.embeddingOutliersOracleSql,
    "label_cohesion" -> VectorOps.labelCohesionOracleSql,
    "cluster_label_matrix" -> VectorOps.clusterLabelMatrixOracleSql,
    // Between-centroid nearest-neighbor margins off the same chain.
    "cluster_separation" -> VectorOps.clusterSeparationOracleSql,
    "label_stats" -> VectorOps.labelStatsOracleSql,
    "cosine_topk" -> VectorOps.cosineTopKOracleSql,
    "ann_lsh_top1" -> VectorOps.annLshTop1OracleSql,
    // Binary-quantized Hamming ANN: exact-by-pigeonhole MIH candidates.
    "ann_mih_top1" -> VectorOps.annMihTop1OracleSql,
    "ann_mih_rerank_top1" -> VectorOps.annMihRerankTop1OracleSql,
    "ann_rp_rerank_top1" -> VectorOps.annRpRerankTop1OracleSql,
    "ann_rp_multiprobe_top1" -> VectorOps.annRpMultiprobeTop1OracleSql,
    "ann_quality_report" -> VectorOps.annQualityReportOracleSql,
    "knn_label_agreement" -> VectorOps.knnLabelAgreementOracleSql,
    "knn_confusion" -> VectorOps.knnConfusionOracleSql,
    "lsh_recall_at_k" -> VectorOps.lshRecallAtKOracleSql,
    "rp_multiprobe_recall_at_k" ->
      VectorOps.rpMultiprobeRecallAtKOracleSql,
    "embedding_drift" -> VectorOps.embeddingDriftOracleSql,
    "ann_ivf_top1" -> VectorOps.annIvfTop1OracleSql,
    // IVF-PQ: coarse candidates scored by asymmetric distance over
    // product-quantization codes — the compressed-index ANN scale path.
    "ann_pq_top1" -> VectorOps.annPqTop1OracleSql,
    "ann_pq_rerank_top1" -> VectorOps.annPqRerankTop1OracleSql,
    // Per-subspace quantization error off the shared PQ index chain.
    "pq_distortion" -> VectorOps.pqDistortionOracleSql,
    "cosine_neardup" -> VectorOps.cosineNearDupOracleSql,
    // Contrastive mining: nearest DIFFERENT-label neighbor off the
    // shared LSH candidate core.
    "hard_negatives" -> VectorOps.hardNegativesOracleSql,
    "semantic_dedup_survivors" ->
      VectorOps.semanticDedupSurvivorsOracleSql,
    "doc_embedding_stats" -> VectorOps.docEmbeddingStatsOracleSql,
  )
}
