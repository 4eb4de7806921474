package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Orchestration entry point — the reference's Airflow DAG ordering as a
  * plain Scala main (`airflow/dags/cdc_etl_orchestration.py:325-355`:
  * health gates → CDC per-table processing → stream analytics → batch
  * ETL → geo analytics → quality validation). Each DAG task node is a
  * registered query; tasks in the same phase share one SparkSession and
  * run sequentially like the reference's `>>` chains. Usage:
  * `runMain graft.Pipeline [sfDir]`. */
object Pipeline {
  /** Phase → query names, in reference DAG order. */
  val phases: Seq[(String, Seq[String])] = Seq(
    "health_gate" -> Seq("health_score"),
    "cdc_processing" -> Seq(
      "cdc_envelope_parse", "cdc_envelope_nested", "cdc_op_filter",
      "cdc_table_dispatch", "cdc_upsert_latest", "cdc_event_type_counters",
      "cdc_user_event_sets"),
    "stream_analytics" -> Seq(
      "minute_metrics", "alerts_high_value", "alerts_bulk_activity",
      "alerts_velocity", "alerts_dominant_group", "alerts_low_stock"),
    "batch_etl" -> Seq(
      "customer_rollup", "customer_segments", "customer_rollup_windowed",
      "product_rollup", "product_performance", "product_rollup_windowed",
      "daily_order_analytics", "status_distribution", "revenue_analytics",
      "segment_counts", "mktsegment_value_counts", "batch_summary",
      "salted_join_rollup", "status_path_listagg"),
    "geo_analytics" -> Seq("geo_region_mask"),
    // The reference DAG closes with validate_data_quality
    // (cdc_etl_orchestration.py:294-323), which only checks cache-key
    // existence; dq_report is its real implementation (referential
    // orphans, duplicate PKs, null/domain violations), joined in round
    // 11 by the full FK-orphan audit and the CDC offset-continuity
    // audit — the two checks a production run gates deploys on.
    "quality_validation" -> Seq("dq_report", "fk_orphan_audit",
      "cdc_gap_detection", "column_profile"),
    // Round-12 extension phase (no reference counterpart): the
    // governance checks a production CDC platform gates on — dead
    // letters triaged, payload schema drift censused, replica diffs
    // reconciled, and erasure completeness proven.
    "governance_audit" -> Seq("deadletter_audit", "props_key_census",
      "props_key_timeline", "props_variant_stats", "snapshot_diff",
      "gdpr_erasure_audit", "penny_allocation_audit",
      "k_anonymity_audit", "l_diversity_audit"),
    // Round-12 statistics phase: the exact-integer monitoring tests a
    // warehouse runs on a schedule — independence drift between two
    // categorical dims, the reorder life table, and the per-customer
    // trend census.
    "statistical_monitors" -> Seq("segment_priority_chi2", "cramers_v",
      "reorder_hazard", "user_value_trend", "ks_drift"),
    // Round-12 relational-surface phase: the adapted TPC-H classics —
    // the ad-hoc analyst workload a warehouse serves between the
    // scheduled DAGs above (join-shape coverage: two-dim-chain Q7,
    // zero-bucket LEFT Q13, tie-argmax Q15, decorrelated-scalar Q17,
    // OR-pushdown Q19, double-correlation Q21, anti-join Q22).
    "adhoc_analytics" -> Seq("trade_volume_q7", "profit_by_nation_q9",
      "customer_order_dist_q13", "top_supplier_q15",
      "small_qty_revenue_q17", "discounted_revenue_q19",
      "waiting_suppliers_q21", "global_sales_opp_q22",
      "nation_top_customers", "supplier_transit_coverage",
      "key_hierarchy_rollup"))

  /** The engine's OWN second DAG — the training-data curation pipeline
    * over the documents/embeddings tables (no reference counterpart;
    * the extension surface of SURVEY §2.8b composed in the order a
    * corpus run executes): profile → scrub → dedup (exact, paragraph,
    * near-dup survivors) → decontaminate → quality-gate → assemble. */
  val curationPhases: Seq[(String, Seq[String])] = Seq(
    "corpus_profile" -> Seq("text_stats", "lang_stats",
      "source_quality_profile", "length_boxplot",
      "vocab_coverage_curve"),
    "privacy_scrub" -> Seq("pii_scrub"),
    "dedup" -> Seq("normalized_dedup", "docs_exact_dedup",
      "paragraph_dedup", "neardup_survivors", "semantic_dedup_survivors",
      "dedup_features", "dup_span_census", "incremental_dedup",
      "first_seen_screen", "dedup_components_guarded",
      "dedup_waterfall", "lpa_communities", "dedup_weights",
      // r17/r18 members in execution order: the span-REMOVED text is
      // the pass the corpus actually ships (Lee et al. 2022); the
      // winnow (MOSS) family finds the passage-level copying doc-grain
      // Jaccard dilutes — pairs → localized spans → edit verify →
      // clusters → hub centrality.
      "dup_span_removal", "winnow_pairs", "winnow_match_spans",
      "pair_edit_verify", "winnow_components", "dup_graph_pagerank"),
    "decontamination" -> Seq("cross_source_contamination",
      "split_contamination", "bloom_decontam", "semantic_decontam",
      "ngram_decontam", "winnow_decontam", "decontam_screen_agreement"),
    "quality_gate" -> Seq("docs_quality_filter", "doc_repetition",
      "oov_rate", "token_entropy", "readability_scores"),
    // Embedding-space curation: the trained-quantizer dashboard
    // (tightness / margins) and the cluster-balanced sample feeding
    // assembly.
    "semantic_curation" -> Seq("cluster_profile", "cluster_separation",
      "cluster_sample", "embedding_outliers", "label_cohesion",
      "embedding_covariance"),
    // Multimodal ingest: payload stats, the three real codecs, and the
    // decode→resize / frame-sample / decimate stages over them.
    "multimodal" -> Seq("binary_doc_stats", "doc_page_stats",
      "codec_integrity_screen", "wav_features", "audio_resample",
      "bmp_features", "image_resize", "png_features",
      "video_frame_sample", "doc_embedding_stats"),
    // Retrieval eval: label-space and shortlist-depth quality gates
    // off the memoized LSH core and exact ground truth.
    "retrieval_eval" -> Seq("knn_confusion", "lsh_recall_at_k",
      "rp_multiprobe_recall_at_k", "matryoshka_recall"),
    "assembly" -> Seq("train_val_split", "stratified_sample",
      "domain_mixture", "mixture_resample", "dsir_weights",
      "bpe_merge_census", "epoch_shuffle_audit", "vocab_growth_heaps",
      "doc_chunks",
      "chunk_packing", "tfidf_topk", "split_balance", "split_drift",
      "token_budget_sample", "pmi_collocations", "quality_calibration",
      // r18: the trained tokenizer artifacts and the pack ledger.
      "bpe_merge_rounds", "bpe_tokenize_census", "pack_utilization"),
    // The ADVISOR pass a production run prices its knobs with BEFORE
    // burning corpus-scale compute: every tunable above (jaccard
    // threshold, LSH banding, winnow k-gram width, sketch register
    // budget, pack policy) has an oracle-checked query that reads the
    // decision off the corpus itself rather than asserting a default.
    "curation_advisors" -> Seq("dedup_threshold_sweep",
      "shingle_df_profile", "lsh_band_planner", "winnow_k_planner",
      "quantile_sketch", "quantile_sketch_grouped",
      "quantile_sketch_calibration", "pack_policy_compare"))

  /** Tasks allowed to emit zero rows: threshold-alert filters fire only
    * when their rule trips — an empty alert set is a healthy outcome,
    * not a broken phase (at sf0.001 no hour crosses the velocity
    * threshold, for example). Every other task must produce rows. */
  val mayBeEmpty: Set[String] = Set(
    "alerts_high_value", "alerts_bulk_activity", "alerts_velocity",
    "alerts_dominant_group", "alerts_low_stock",
    // Decontamination reports shared content (cross-source, or across
    // the train/eval split) — a clean corpus legitimately reports none.
    "cross_source_contamination", "split_contamination",
    // The Q7 focus-nation pair sample is legitimately empty at tiny SF
    // (2/25ths of suppliers × 2/25ths of customers × 2 ship-years).
    "trade_volume_q7")

  /** Layout-maintenance phase (round 12: the r11 verdict's "exercise
    * the layouts end-to-end" order): the `Tables` layout WRITERS had
    * plan tests but no pipeline phase ever wrote-then-read them, so the
    * storage half of the 100 TB posture never ran end-to-end. This
    * phase is the nightly OPTIMIZE job's shape:
    *  1. write the orders fact day-partitioned by its own date column
    *     ([[Tables.writeDatePartitioned]]),
    *  2. re-read it through a date-RANGE predicate and require (a) the
    *     scan PRUNES (PartitionFilters in the executed plan — same
    *     assertion as PlanSpec, now against freshly-written data) and
    *     (b) row-count parity with the unpartitioned filter,
    *  3. write lineitem Z-ORDERED on (l_orderkey, l_partkey)
    *     ([[Tables.writeZOrdered]]) and require read-back row parity
    *     under a single-dimension predicate — the two-sided-clustering
    *     read the layout exists for.
    * Scratch lives under java.io.tmpdir; row-count gates follow the
    * phase-must-produce-rows rule of the DAG proper. */
  def layoutPhase(spark: SparkSession, sfDir: String): Unit = {
    println("== phase layout_maintenance ==")
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_layout").toString
    val orders = Tables.orders(spark, sfDir)
    Tables.writeDatePartitioned(
      orders.coalesce(2), s"$scratch/orders_by_date", "o_orderdate")
    val (lo, hi) = ("1995-01-01", "1995-03-31")
    val reread = spark.read.parquet(s"$scratch/orders_by_date")
      .filter(col("o_orderdate").between(lo, hi))
    val plan = reread.queryExecution.executedPlan.toString
    require("""PartitionFilters: \[[^\]]""".r.findFirstIn(plan).isDefined,
      "date-range predicate must land in a non-empty PartitionFilters " +
        "(prune whole days at planning time), got:\n" + plan.take(2000))
    val pruned = reread.count()
    val direct = orders
      .filter(col("o_orderdate").between(lo, hi)).count()
    require(pruned == direct && pruned > 0,
      s"partition-pruned read must match the direct filter " +
        s"($pruned vs $direct)")
    println(f"   orders_by_date${""}%-14s $pruned%8d rows (pruned scan)")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    Tables.writeZOrdered(li, s"$scratch/lineitem_z",
      "l_orderkey", "l_partkey", files = 4)
    val zRead = spark.read.parquet(s"$scratch/lineitem_z")
    val partkeyPick = li.agg(org.apache.spark.sql.functions
      .min(col("l_partkey"))).head().getAs[Number](0).longValue
    val zCount = zRead.filter(col("l_partkey") === partkeyPick).count()
    val liCount = li.filter(col("l_partkey") === partkeyPick).count()
    require(zRead.count() == li.count(),
      "z-ordered rewrite must preserve every row")
    require(zCount == liCount && zCount > 0,
      s"z-ordered single-dimension read must match ($zCount vs $liCount)")
    println(f"   lineitem_z${""}%-18s $zCount%8d rows (dim filter)")
    // 3. SMALL-FILE COMPACTION — the third OPTIMIZE pillar (partition
    //    layout, clustering, then compaction): a streaming/CDC sink
    //    leaves many small files whose per-file open/footer cost
    //    dominates a 100 TB scan. Simulate the degenerate state (64
    //    shards of one small table), compact to a target file count,
    //    and gate on file count AND row parity.
    val frag = s"$scratch/events_fragmented"
    Tables.events(spark, sfDir).repartition(64).write.parquet(frag)
    def parquetFiles(p: String): Long = new java.io.File(p)
      .listFiles().count(f => f.getName.endsWith(".parquet")).toLong
    require(parquetFiles(frag) == 64, "fragmentation setup must shard")
    val compacted = s"$scratch/events_compacted"
    spark.read.parquet(frag).coalesce(2).write.parquet(compacted)
    val (nf, nc) = (parquetFiles(frag), parquetFiles(compacted))
    val (rf, rc) = (spark.read.parquet(frag).count(),
      spark.read.parquet(compacted).count())
    require(nc <= 2 && rc == rf && rc > 0,
      s"compaction must cut $nf files to <=2 preserving $rf rows " +
        s"(got $nc files, $rc rows)")
    println(f"   events_compacted${""}%-12s $rc%8d rows ($nf -> $nc files)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
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
    // Entry smoke with `observe()` — production metric collection
    // WITHOUT a second pass: the Observation rides the same action
    // that materializes the frame (at 100 TB a separate metrics
    // .count() is a second full scan), and the require pins the
    // observed figure to the action's own count.
    val obs = new org.apache.spark.sql.Observation("entry_metrics")
    val entryRows = SparkEntry.entry(spark)
      .observe(obs, org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("rows"))
      .count()
    val observed = obs.get("rows").asInstanceOf[Long]
    require(observed == entryRows && observed > 0,
      s"observe() metrics must match the action ($observed vs $entryRows)")
    println(f"== entry smoke: $observed rows (observe == action) ==")
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
    (phases ++ curationPhases).foreach { case (phase, names) =>
      println(s"== phase $phase ==")
      names.foreach { name =>
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        counts(name) = n
        println(f"   $name%-28s $n%8d rows")
      }
    }
    // Storage-layout maintenance rides after the analytic DAGs: it
    // rewrites the facts the next run would read, gated on pruned-scan
    // and row-parity requires of its own.
    layoutPhase(spark, sfDir)
    // Quality validation (the DAG's final task,
    // cdc_etl_orchestration.py:294-323, which checks cache-key
    // existence): EVERY task emitted rows, and the health gate emitted
    // exactly its one summary row — a phase producing 0 rows must fail
    // the run, not scroll past as a log line.
    require(counts("health_score") == 1,
      "health gate must emit exactly one row")
    val empty = counts.collect {
      case (name, 0L) if !mayBeEmpty(name) => name
    }
    require(empty.isEmpty,
      s"pipeline tasks emitted no rows: ${empty.mkString(", ")}")
    println("== pipeline complete ==")
    spark.stop()
  }
}
