package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** STANDING GATE against the window-serialization hazards, in THREE
  * spellings:
  *
  *  1. UNPARTITIONED `Window.orderBy` / `Window.rowsBetween` (or the
  *     degenerate `partitionBy(lit(...))` / empty `partitionBy()`) —
  *     compiles to `Exchange SinglePartition`: every input row through
  *     ONE task.
  *  2. ENUM-KEYED `Window.partitionBy(k)` where k's cardinality is a
  *     tiny value domain (returnflag, priority, event_type, source…)
  *     over a DATA-SCALED frame — the sibling failure mode: the fact
  *     table through |enum| tasks. A keyed window is only sound when
  *     the per-group row count is bounded by something OTHER than the
  *     data (a calendar, a value domain, a WindowGroupLimit rank cap,
  *     an upstream aggregate), or the key itself is data-grain
  *     (user/doc/order ids — group count scales with the data, so
  *     parallelism scales too).
  *  3. SQL-STRING windows — `expr("... over (...)")` — the spelling
  *     that evades any DataFrame-API regex.
  *
  * At fact/doc/entity grain the exact two-phase
  * [[graft.operators.GlobalRank]] helpers (global + grouped) must be
  * used instead. This spec scans the main source tree and pins every
  * window site to an explicit allowlist of (file, enclosing def)
  * pairs, each annotated with the bound that justifies its task
  * layout. Adding ANY new window anywhere fails this test until the
  * author either converts it to GlobalRank or argues its bound here —
  * the review step the round-12/13 audits asked to make structural. */
object WindowGateSpec {
  /** (file, enclosing def) → why this KEYED window's task layout is
    * sound. Three legitimate classes (anything else must convert to
    * [[graft.operators.GlobalRank]]'s grouped helpers):
    *  - "data-keyed": group COUNT scales with the data (ids), so
    *    parallelism scales with it;
    *  - "rank-capped": row_number <= k filter compiles to
    *    WindowGroupLimit — each map partition forwards <= k rows per
    *    group BEFORE the exchange, so per-task rows are config-bounded;
    *  - "bounded frame": the window input is already an aggregate /
    *    calendar / value-domain grain, not the fact.
    *
    * Lives on the companion so [[PlanSpec]] can DERIVE its
    * WindowGroupLimit assertions from the annotations: every entry
    * whose justification cites a WindowGroupLimit cap is plan-asserted
    * there in one loop, so an annotation cannot rot when Spark's
    * optimizer or the operator changes (r14 audit order #3). */
  val keyedAllowlist: Map[(String, String), String] = Map(
    ("AlertOps.scala", "dominantGroupAnomaly") ->
      "bounded frame: (hour, event_type) aggregate — per-hour rows <= |event types|",
    ("BatchOps.scala", "aboveAvgOrders") ->
      "data-keyed: o_custkey — group count scales with customers",
    ("BatchOps.scala", "orderWindowProfile") ->
      "data-keyed: o_custkey",
    ("BatchOps.scala", "pennyAllocationAuditOf") ->
      "data-keyed: l_orderkey — per-order line groups (<= 7 lines)",
    ("BatchOps.scala", "reorderHazardOf") ->
      "data-keyed: o_custkey (gap walk per customer)",
    ("BatchOps.scala", "supplierTransitCoverage") ->
      "data-keyed: l_suppkey — group count scales with suppliers",
    ("BatchOps.scala", "trendingParts7d") ->
      "calendar-keyed week end + rank-capped: top-k per window compiles to WindowGroupLimit",
    ("BatchOps.scala", "userValueTrendOf") ->
      "bounded frame: (segment, trend) census — <= |segments| x 3 rows",
    ("CdcOps.scala", "activityStreaks") -> "data-keyed: user_id",
    ("CdcOps.scala", "arrivalDisorder") -> "data-keyed: user_id",
    ("CdcOps.scala", "attributionLinear") -> "data-keyed: purchase_id",
    ("CdcOps.scala", "attributionModelsCompare") ->
      "data-keyed: purchase_id",
    ("CdcOps.scala", "botScreen") -> "data-keyed: user_id",
    ("CdcOps.scala", "changeLogOf") -> "data-keyed: user_id",
    ("CdcOps.scala", "cohortRetentionOf") -> "data-keyed: user_id",
    ("CdcOps.scala", "conversionLagHistogram") ->
      "data-keyed: purchase_id",
    ("CdcOps.scala", "dailyAnomalyZscoreOf") ->
      "bounded frame: (event_type, day) daily aggregate — calendar x enum",
    ("BatchOps.scala", "neymanSample") ->
      "enum-keyed seg + rank-capped: rk <= budget literal compiles to WindowGroupLimit before the quota trim",
    ("CdcOps.scala", "eventAsofOrder") -> "data-keyed: user_id",
    ("CdcOps.scala", "eventTransitionsOf") ->
      "data-keyed lag: user_id; normalizer over (prev, next) census <= |types|^2",
    ("CdcOps.scala", "gaugeResampleOf") -> "data-keyed: user_id",
    ("CdcOps.scala", "gdprErasureAudit") -> "data-keyed: user_id",
    ("CdcOps.scala", "interarrivalHistogram") -> "data-keyed: user_id",
    ("CdcOps.scala", "kmvDistinct") ->
      "rank-capped: rk <= KmvK compiles to WindowGroupLimit (<= K rows per type per map partition)",
    ("CdcOps.scala", "kmvOverlap") ->
      "rank-capped: rk <= KmvK compiles to WindowGroupLimit; pair frame is |types|^2-bounded",
    ("CdcOps.scala", "mergeSnapshot") -> "data-keyed: entity_key",
    ("CdcOps.scala", "purchaseAttribution") -> "data-keyed: purchase_id",
    ("CdcOps.scala", "scd2HistoryOf") -> "data-keyed: user_id",
    ("CdcOps.scala", "sessionEntryExit") ->
      "data-keyed: (user_id, session_seq)",
    ("CdcOps.scala", "temporalDimJoin") -> "data-keyed: user_id",
    ("CdcOps.scala", "timeWeightedValueOf") -> "data-keyed: user_id",
    ("CdcOps.scala", "upsertLatestOf") -> "data-keyed: user_id",
    ("CdcOps.scala", "userFunnel") -> "data-keyed: user_id",
    ("CdcOps.scala", "withSessionSeq") -> "data-keyed: user_id",
    ("TextOps.scala", "bigramSurprisal") -> "data-keyed: doc_id",
    ("TextOps.scala", "dsirWeights") -> "data-keyed: doc_id",
    ("TextOps.scala", "bm25TopK") ->
      "data-keyed: doc_id; cap compiles to WindowGroupLimit",
    ("TextOps.scala", "chunkPacking") ->
      "shard-keyed: PackShards is the explicit parallelism knob — per-worker packing IS the semantics; raise shards with the cluster",
    ("TextOps.scala", "curriculumInterleave") ->
      "shard-keyed: (source, shard) — shard is the parallelism knob",
    ("TextOps.scala", "dupSpanCensus") ->
      "data-keyed: span hash h — group count scales with distinct spans",
    ("TextOps.scala", "dupSpanRemoval") ->
      ("data-keyed: span hash h (duplicate test) and doc_id (island " +
        "sweep over flagged rows only) — both scale with the data"),
    ("TextOps.scala", "ksDriftOf") ->
      "bounded frame: merged length grid per source pair — value-domain",
    ("TextOps.scala", "lengthQuantileSketch") ->
      "bounded frame: (lang, fixed bin) sketch grain",
    ("TextOps.scala", "groupedQuantileRegisters") ->
      ("rank-capped: rk <= GroupQSampleK per lang compiles to " +
        "WindowGroupLimit"),
    ("TextOps.scala", "quantileSketchGrouped") ->
      ("bounded frame: read-out windows see <= GroupQSampleK rows per " +
        "lang (rank-capped upstream); exact-side cumulative at " +
        "(lang, n_chars) value grain"),
    ("TextOps.scala", "lpaStep") ->
      "data-keyed: src vertex id; rn = 1 majority pick compiles to WindowGroupLimit",
    ("TextOps.scala", "nearDupJaccardPrefix") -> "data-keyed: doc_id",
    ("TextOps.scala", "paragraphDedup") ->
      "data-keyed: md5(paragraph) — group count scales with distinct paragraphs",
    ("TextOps.scala", "qualityCalibration") ->
      "bounded frame: (source, n_chars) distinct grain — value-domain",
    ("TextOps.scala", "splitBalance") ->
      "bounded frame: (split, lang) aggregate — 3 x |langs| rows",
    ("TextOps.scala", "stratifiedSample") ->
      "rank-capped: rk <= StratumSampleK compiles to WindowGroupLimit",
    ("TextOps.scala", "tfidfTopK") ->
      "data-keyed: doc_id; cap compiles to WindowGroupLimit",
    ("TextOps.scala", "tokenBudgetSample") ->
      "shard-keyed: SampleShards is the explicit parallelism knob (scaladoc: raise with the cluster)",
    ("TextOps.scala", "tokenEntropy") -> "data-keyed: doc_id",
    ("TextOps.scala", "withExactKeepId") ->
      "data-keyed: md5(text) — group count scales with distinct texts",
    ("TextOps.scala", "zipfSlope") ->
      "rank-capped: rank <= ZipfTopRanks compiles to WindowGroupLimit",
    ("VectorOps.scala", "ivfProbe") ->
      "data-keyed: vec_id assignment; in-cell scoring rank-capped (NProbe/CellCap -> WindowGroupLimit)",
    ("VectorOps.scala", "clusterSample") ->
      "rank-capped: samp_rank <= SampleQuota compiles to WindowGroupLimit",
    ("VectorOps.scala", "hammingShortlist") ->
      "data-keyed: q_id; rank-capped: rk <= MihRerankCap compiles to WindowGroupLimit",
    ("VectorOps.scala", "cosineTopK") -> "data-keyed: q_id",
    ("VectorOps.scala", "embeddingOutliers") ->
      "rank-capped: out_rank <= SampleQuota compiles to WindowGroupLimit",
    ("VectorOps.scala", "labelCohesion") ->
      "rank-capped: rn <= CohesionCap compiles to WindowGroupLimit",
    ("VectorOps.scala", "lshRecallAtK") -> "data-keyed: q_id",
    ("VectorOps.scala", "pqEncodeUncached") ->
      "bounded frame: codebook grain — PqCodebook rows per subspace",
    ("VectorOps.scala", "pqShortlistUncached") ->
      "data-keyed: q_id; shortlist rank-capped: rk <= PqRerankCap compiles to WindowGroupLimit",
    ("Candidates.scala", "dropAbove") ->
      ("data-keyed: posting bucket key (shingle, fingerprint, band " +
        "value) — bucket count scales with the data"),
    ("Candidates.scala", "firstK") ->
      ("data-keyed: posting bucket key (minhash, simhash, LSH bucket); " +
        "rank-capped: rn <= k compiles to WindowGroupLimit"))
}

class WindowGateSpec extends AnyFunSuite {

  /** (file, enclosing def) → the bound that justifies one task. */
  private val allowlist: Map[(String, String), String] = Map(
    ("BatchOps.scala", "reorderHazardOf") ->
      "distinct gap-days grain: bounded by the order-date span in days",
    ("BatchOps.scala", "dailyRevenueRunning") ->
      "day grain: calendar-bounded (thousands of rows a decade)",
    ("BatchOps.scala", "revenueTrailing7d") ->
      "day grain: calendar-bounded",
    ("BatchOps.scala", "rankPick") ->
      "day grain (revenueMadOutliers median picks): calendar-bounded",
    ("BatchOps.scala", "revenueCusum") ->
      "day grain: calendar-bounded",
    ("BatchOps.scala", "paretoFrontier") ->
      "distinct p_size grain: value-domain-bounded (~50)",
    ("BatchOps.scala", "orderBacklog") ->
      "day-spine grain: calendar-bounded",
    ("BatchOps.scala", "wowGrowth") ->
      "ISO-week grain: calendar-bounded",
    ("CdcOps.scala", "rolling7dMetricsOf") ->
      "day grain: calendar-bounded",
    ("CdcOps.scala", "cumulativeReachOf") ->
      "day-spine grain: calendar-bounded",
    ("MultiModalOps.scala", "codecIntegrityScreen") ->
      "status-enum grain: 4 statuses",
    ("TextOps.scala", "curriculumInterleave") ->
      "distinct-source grain: source enum (~5)",
    ("TextOps.scala", "qualityCalibration") ->
      "distinct n_chars grain: value-domain-bounded",
    ("TextOps.scala", "quantileSketch") ->
      ("post-LIMIT register frame: <= QSampleK rows (read-out rank); " +
        "exact-side cumulative at distinct-n_chars grain: " +
        "value-domain-bounded"),
    ("TextOps.scala", "quantileSketchCalibration") ->
      ("post-LIMIT register frame: <= QSampleK rows (prefix ranks + " +
        "per-K read-outs); exact-side cumulative at distinct-n_chars " +
        "grain: value-domain-bounded"),
    ("TextOps.scala", "ksDriftOf") ->
      "merged length-grid grain: value-domain-bounded",
    ("TextOps.scala", "bpeMergeCensus") ->
      "post-LIMIT frame: <= BpeTopK rows by construction",
    ("TextOps.scala", "vocabGrowthHeaps") ->
      "decile grain: HeapsDeciles = 10 rows",
    ("TextOps.scala", "domainMixture") ->
      "|sources|-row per-source aggregate frame (empty partitionBy())",
    ("BatchOps.scala", "budgetSplit") ->
      "|segments|-row allocation frame: 5 rows (empty partitionBy())")

  private val keyedAllowlist = WindowGateSpec.keyedAllowlist

  /** Scan the main tree for `pat` matches (whole-file, so line-wrapped
    * calls can't evade), mapped to (file, enclosing def) sites;
    * comment-only lines are skipped. */
  private def scanSites(pat: scala.util.matching.Regex,
      skipDef: String => Boolean = _ => false,
      topLevelDefsOnly: Boolean = false): Set[(String, String)] = {
    // topLevelDefsOnly: attribute a match to the nearest CLASS-MEMBER
    // def (indent <= 2) rather than a local helper def nested inside
    // it — a multi-line oracle string with local `def` helpers above
    // it must still attribute to the *OracleSql def that owns it.
    val defPat =
      if (topLevelDefsOnly) """^\s{0,2}(?:\w+[\[\]\w, ]*\s+)*def (\w+)""".r
      else """\bdef (\w+)""".r
    val root = Paths.get("src/main/scala/graft")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.getFileName.toString.equals("GlobalRank.scala"))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        val lines = text.split("\n", -1)
        val lineStarts = lines.scanLeft(0)(_ + _.length + 1)
        def lineOf(offset: Int): Int =
          lineStarts.lastIndexWhere(_ <= offset) // 0-based line index
        pat.findAllMatchIn(text).flatMap { m =>
          val li = math.min(lineOf(m.start), lines.length - 1)
          val trimmed = lines(li).trim
          val isComment = trimmed.startsWith("*") || trimmed.startsWith("//")
          if (isComment) None
          else {
            val lastDef = lines.take(li + 1).reverseIterator
              .flatMap(l => defPat.findFirstMatchIn(l).map(_.group(1)))
              .toSeq.headOption.getOrElse("<top>")
            if (skipDef(lastDef)) None
            else Some((p.getFileName.toString, lastDef))
          }
        }
      }.toSet
  }

  private def gate(sites: Set[(String, String)],
      allowed: Set[(String, String)], what: String): Unit = {
    val rogue = sites.diff(allowed)
    assert(rogue.isEmpty,
      s"$what outside the allowlist — convert to GlobalRank (grouped " +
        s"helpers for keyed sites) or argue a data-independent per-task " +
        s"bound here: $rogue")
    // Keep the list honest in the other direction too: an entry whose
    // site was removed must be deleted, so the allowlist never grows
    // stale entries that silently re-authorize a future window.
    val stale = allowed.diff(sites)
    assert(stale.isEmpty, s"stale allowlist entries (site removed): $stale")
  }

  /** (file, enclosing def) → the group-key cardinality bound that makes
    * [[graft.operators.GlobalRank]]'s GROUPED helpers sound at that
    * site. The helpers broadcast a one-row-per-group base frame
    * (`joinGroupBase`), so they are only correct at scale when group
    * cardinality is bounded by an enum / value domain / config — a
    * data-grain key (user_id, doc_id) builds a data-scaled broadcast
    * that melts the driver at 100 TB while passing silently at sf0.1. */
  private val groupedRankAllowlist: Map[(String, String), String] = Map(
    ("BatchOps.scala", "decileRankAudit") ->
      "o_orderpriority enum: 5 groups",
    ("BatchOps.scala", "windowFrameAudit") ->
      "o_orderpriority enum: 5 groups",
    ("BatchOps.scala", "interpPercentilesExact") ->
      "l_returnflag enum: 3 groups",
    ("BatchOps.scala", "segmentGini") -> "c_mktsegment enum: 5 groups",
    ("BatchOps.scala", "segmentLorenz") -> "c_mktsegment enum: 5 groups",
    ("BatchOps.scala", "weightedMedianPrice") ->
      "l_returnflag enum: 3 groups",
    ("BatchOps.scala", "shippingLatency") ->
      "o_orderpriority enum: 5 groups",
    ("BatchOps.scala", "customerMigrationMatrix") ->
      "half enum: 2 groups",
    ("BatchOps.scala", "keySkewReport") ->
      "key_col enum: 3 groups (the audited join-key columns)",
    ("CdcOps.scala", "funnelStepLatency") ->
      "funnel-step enum: 3 groups",
    ("CdcOps.scala", "winsorizedStats") ->
      "event_type enum: value-domain groups",
    ("CdcOps.scala", "cdcGapDetectionOf") ->
      "dispatch-target enum: |routed tables| groups",
    ("TextOps.scala", "lengthQualitySpearman") ->
      "source enum: value-domain groups",
    ("TextOps.scala", "qualityCalibration") ->
      "(source, n_chars): value-domain x value-domain groups",
    ("TextOps.scala", "epochShuffleAudit") -> "EpochCount = 3 groups",
    ("VectorOps.scala", "dimQuantileStats") ->
      "embedding dim index: Dim = 64 groups")

  test("every GlobalRank grouped-helper call site is allowlisted with a group-cardinality bound") {
    // Same annotate-or-fail discipline as the window gates (r14 audit
    // order #4): a new withGrouped* call anywhere fails this test until
    // its key's data-independent cardinality bound is argued here.
    gate(scanSites("""GlobalRank\s*\.\s*withGrouped""".r),
      groupedRankAllowlist.keySet,
      "GlobalRank grouped-helper call site(s)")
  }

  test("every unpartitioned window site is allowlisted with a cardinality bound") {
    val pat = ("""Window\s*\.\s*(orderBy|rowsBetween)""" +
      """|Window\s*\.\s*partitionBy\(\s*(lit\(|\))""").r
    gate(scanSites(pat), allowlist.keySet, "unpartitioned window(s)")
  }

  test("every KEYED window site is allowlisted as data-keyed, rank-capped, or bounded-frame") {
    // Everything partitionBy that is NOT the degenerate lit()/empty
    // form (those are gated above). An enum key over a fact-grain
    // frame pushes the fact through |enum| tasks — the class the r13
    // audit flagged; the annotation records which legitimacy class
    // each surviving site claims.
    // Everything except the degenerate forms: ')' (empty — gated
    // above) and expressions starting with `lit(` (ditto). A key
    // expression that merely STARTS with the letter l (col("l_..."),
    // lower(...)) must still land here — hence the subtraction rather
    // than excluding the letter in the char class.
    val keyed = scanSites("""Window\s*\.\s*partitionBy\(\s*[^l)\s]""".r)
    val lAll = scanSites("""Window\s*\.\s*partitionBy\(\s*l""".r)
    val lLit = scanSites("""Window\s*\.\s*partitionBy\(\s*lit\(""".r)
    gate(keyed ++ (lAll -- lLit), keyedAllowlist.keySet,
      "keyed window(s)")
  }

  test("no SQL-string windows: expr/selectExpr/sql strings must not contain OVER (") {
    // The spelling both regex gates above cannot see. Oracle SQL (the
    // DuckDB side of the correctness gate) legitimately uses windows —
    // those defs are named *OracleSql* and excluded; everything else
    // containing ` over (` inside a string literal (single-line `"…"`
    // or a stripMargin `|…` line) is a Spark-side window in disguise
    // and must go through the gated DataFrame API or GlobalRank
    // instead. The lookbehind excludes the DataFrame `.over(` method
    // call, which shares every such line with a col("…") quote.
    val pat = """(?i)["|][^"\n]*?(?<![.\w])over\s*\(""".r
    val sites = scanSites(pat,
      skipDef = d => {
        val n = d.toLowerCase
        n.contains("oraclesql") || n.contains("sqlprefix")
      },
      topLevelDefsOnly = true)
    assert(sites.isEmpty,
      s"SQL-string window(s) outside oracle text: $sites")
  }
}
