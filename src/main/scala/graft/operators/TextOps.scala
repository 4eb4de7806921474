package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Large-scale training-data text operators over the `documents` table:
  * exact + near deduplication, quality stats, language ID, fingerprinting.
  * These extend the reference's capability surface toward an LLM data
  * pipeline (BASELINE.json north star; no reference counterpart — the
  * reference's closest analogs are the pandas transform passes in
  * `/root/reference/python/batch_processor.py:108-176`).
  *
  * Scale posture: no UDFs, no driver-side loops. Per-document token work
  * uses Spark's higher-order functions (whose lambdas are interpreted,
  * not codegen'd — acceptable once per document); the per-SHINGLE hot
  * path (minhash signatures) is plain codegen'd expressions over an
  * exploded shingle column. Near-dup detection NEVER does an unblocked
  * all-pairs join: the Jaccard variant blocks on (lang, length bucket)
  * with an optional document-frequency cut for stop-shingle skew, and
  * the MinHash variant blocks on capped LSH band buckets, so candidate
  * generation is a hash-partitioned groupBy join at any scale.
  */
object TextOps {

  /** Whitespace tokens of the document text. */
  private def tokens: Column = split(col("text"), " ")

  // (r19: the r18 zip_with bigram former was removed — it lost its A/B
  // in BOTH former consumers; bigramSurprisal and dsirWeights pair
  // tokens through the native per-doc lag window instead.)

  private val stopwords = Seq("a", "the", "of", "and", "to", "in")

  /** Exact dedup groups: one row per distinct text with the surviving
    * (first-wins = min) doc_id and the duplicate count — the hash-groupBy
    * exact dedup of a training corpus. */
  def exactDedupGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Exact-dedup keep rule (min doc_id per exact-text md5 group,
    * first-wins) — the ONE copy shared by [[dedupedDocs]] and
    * [[dedupWaterfall]], so the survivor rule (incl. its tie-break)
    * cannot drift between the stage and its provenance report. */
  private def withExactKeepId(docs: DataFrame): DataFrame =
    docs.withColumn("keep_id",
      min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))

  /** Exact dedup survivors: documents whose doc_id is the minimum of their
    * exact-text group (first-wins), via a key-partitioned window — the
    * standard distributed dedup-keep plan (one shuffle on the text hash). */
  def dedupedDocs(spark: SparkSession, dir: String): DataFrame =
    withExactKeepId(Tables.documents(spark, dir))
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Per-document quality stats: token counts, distinct ratio, stopword
    * ratio, average token length — the length/stopword quality-scoring
    * heuristics of a training-data pipeline, via higher-order functions
    * on the token array (whose lambdas evaluate interpreted — fine here:
    * once per document, never in a per-pair hot path). */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    Tables.documents(spark, dir)
      .withColumn("toks", tokens)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("n_stopwords",
        size(expr(s"filter(toks, t -> t in $stopList)")))
      .withColumn("sum_token_len",
        expr("aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)"))
      .select(
        col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"),
        col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("distinct_ratio"),
        (col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
          .as("stopword_ratio"),
        (col("sum_token_len").cast("double") / col("n_tokens").cast("double"))
          .as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** Quality-filter thresholds (shared with the oracle): a document
    * passes when it has enough tokens, a plausible stopword ratio, and
    * plausible average token length — the length/punct/stopword gating
    * pass of a training-data pipeline. */
  val QualityMinTokens = 10
  val QualityMinStopRatio = 0.02
  val QualityMaxAvgTokenLen = 12.0

  /** The quality gate itself: every document with its pass/fail verdict
    * and the FIRST failing rule as the drop reason (precedence mirrors a
    * pipeline that short-circuits on the cheapest signal). Built on the
    * same token-array stats as [[textStats]]; at scale this is a linear
    * scan whose survivors feed every downstream stage. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    Tables.documents(spark, dir)
      .withColumn("toks", tokens)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        size(expr(s"filter(toks, t -> t in $stopList)")).cast("double") /
          col("n_tokens").cast("double"))
      .withColumn("avg_token_len",
        expr("aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)")
          .cast("double") / col("n_tokens").cast("double"))
      .withColumn("drop_reason",
        when(col("n_tokens") < QualityMinTokens, "too_short")
          .when(col("stop_ratio") < QualityMinStopRatio, "no_stopwords")
          .when(col("avg_token_len") > QualityMaxAvgTokenLen, "gibberish")
          .otherwise(lit(null).cast("string")))
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("avg_token_len"),
        col("drop_reason").isNull.as("passes"), col("drop_reason"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[qualityFilter]]. */
  private[graft] def qualityFilterOracleSql: String = {
    val stopList = stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    CAST(len(list_filter(toks, t -> t IN $stopList)) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS stop_ratio,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |      / CAST(len(toks) AS DOUBLE) AS avg_token_len
       |  FROM t),
       |r AS (
       |  SELECT *,
       |    CASE WHEN n_tokens < $QualityMinTokens THEN 'too_short'
       |         WHEN stop_ratio < $QualityMinStopRatio THEN 'no_stopwords'
       |         WHEN avg_token_len > $QualityMaxAvgTokenLen THEN 'gibberish'
       |         ELSE NULL END AS drop_reason
       |  FROM s)
       |SELECT doc_id, n_tokens, stop_ratio, avg_token_len,
       |  drop_reason IS NULL AS passes, drop_reason
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  /** Corpus stats per language: doc/token counts and average length
    * (integer sums — exact at any parallelism). */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(tokens))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("avg_chars",
        col("total_chars").cast("double") / col("n_docs").cast("double"))
      .orderBy("lang")

  /** Language-ID heuristic: n-gram/stopword-frequency scoring — the
    * lightweight langid a data pipeline runs before model-based ID. The
    * corpus is synthetic English-vocabulary text, so the heuristic
    * resolves to en/other with a confidence score; the operator shape
    * (token-ratio scoring + argmax CASE) is the real thing. */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    Tables.documents(spark, dir)
      .withColumn("toks", tokens)
      // Null-text guard on BOTH engines: size(null) = -1 would make
      // stop_ratio = (-1)/(-1) = 1.0 → 'en' here while the oracle's
      // CASE on a NULL ratio yields 'other' — a silent cross-engine
      // split the moment a null-text row appears (every other text
      // oracle already filters `text IS NOT NULL`).
      .filter(col("text").isNotNull)
      .withColumn("stop_ratio",
        size(expr(s"filter(toks, t -> t in $stopList)")).cast("double") /
          size(col("toks")).cast("double"))
      .withColumn("predicted_lang",
        when(col("stop_ratio") >= 0.08, "en").otherwise("other"))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        col("predicted_lang"), col("stop_ratio"),
        (col("predicted_lang") === col("lang")).as("agrees"))
      .orderBy("doc_id")
  }

  /** Language-ID CONFUSION MATRIX — the classifier-evaluation closure
    * over [[languageId]]: every (labeled, predicted) cell with its
    * count, recall share (of the true label's row) and precision share
    * (of the prediction's column). The eval artifact that turns the
    * per-doc `agrees` flag into the per-class error structure a
    * threshold tune needs (which true langs leak into 'other', what
    * 'en' precision actually is). All-integer counts; shares are
    * single exact divisions. Same contingency shape as the embedding
    * side's `cluster_label_matrix`.
    *
    * Scale: one hash aggregate to the langs×langs cell grain;
    * marginals ride the checkpointed tiny cell frame. */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = languageId(spark, dir)
      .groupBy("labeled_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val rowTot = cells.groupBy("labeled_lang")
      .agg(sum(col("n")).as("n_labeled"))
    val colTot = cells.groupBy("predicted_lang")
      .agg(sum(col("n")).as("n_predicted"))
    cells
      .join(broadcast(rowTot), "labeled_lang")
      .join(broadcast(colTot), "predicted_lang")
      .select(col("labeled_lang"), col("predicted_lang"), col("n"),
        col("n_labeled"), col("n_predicted"),
        (col("n").cast("double") / col("n_labeled").cast("double"))
          .as("recall_share"),
        (col("n").cast("double") / col("n_predicted").cast("double"))
          .as("precision_share"))
      .orderBy("labeled_lang", "predicted_lang")
  }

  /** DuckDB oracle for [[langidConfusion]] — same stop-ratio rule, same
    * contingency margins. */
  private[graft] def langidConfusionOracleSql: String =
    s"""WITH p AS (
       |  SELECT lang AS labeled_lang,
       |    CASE WHEN CAST(len(list_filter(string_split(text, ' '),
       |        t -> t IN ${stopwords.map(s => s"'$s'")
                  .mkString("(", ",", ")")})) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.08
       |    THEN 'en' ELSE 'other' END AS predicted_lang
       |  FROM documents WHERE text IS NOT NULL),
       |cells AS (
       |  SELECT labeled_lang, predicted_lang, count(*) AS n
       |  FROM p GROUP BY 1, 2),
       |rt AS (SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS n_labeled
       |       FROM cells GROUP BY 1),
       |ct AS (SELECT predicted_lang,
       |         CAST(sum(n) AS BIGINT) AS n_predicted
       |       FROM cells GROUP BY 1)
       |SELECT cells.labeled_lang, cells.predicted_lang, cells.n,
       |  rt.n_labeled, ct.n_predicted,
       |  CAST(cells.n AS DOUBLE) / CAST(rt.n_labeled AS DOUBLE)
       |    AS recall_share,
       |  CAST(cells.n AS DOUBLE) / CAST(ct.n_predicted AS DOUBLE)
       |    AS precision_share
       |FROM cells
       |JOIN rt ON rt.labeled_lang = cells.labeled_lang
       |JOIN ct ON ct.predicted_lang = cells.predicted_lang
       |ORDER BY cells.labeled_lang, cells.predicted_lang""".stripMargin

  /** Content fingerprint: md5 of the raw text plus an order-insensitive
    * bag-of-words fingerprint (md5 of the sorted distinct token list) —
    * the document-fingerprinting primitive for shingle-free near-dup
    * screening. */
  def docFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("text_md5"),
        md5(array_join(array_sort(array_distinct(tokens)), " "))
          .as("bag_md5"))
      .orderBy("doc_id")

  /** Word-bigram shingles of the text, built as zip_with(tokens[0..n-2],
    * tokens[1..n-1]) — O(n) per evaluation. The earlier
    * `transform(sequence(1, n-1), i -> element_at(split(text), i) ...)`
    * form was O(n²): HOF lambdas are interpreted and re-run `split(text)`
    * on every element access. A <2-token doc must yield an empty array
    * explicitly: `sequence(1, 0)` is DESCENDING in Spark ([1, 0]) and
    * element_at(_, 0) throws, so n<2 cannot be guarded with greatest()
    * alone — zip_with of empty/size-0 slices handles it, but the case
    * guard keeps the semantics obvious. */
  private val shinglesSqlExpr: String =
    """case when size(split(text, ' ')) < 2
         then cast(array() as array<string>)
         else zip_with(
           slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
           slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
           (x, y) -> concat(x, ' ', y))
       end"""

  private def shingles: Column = expr(shinglesSqlExpr)

  /** n-gram Jaccard near-dup pairs with (lang, length-bucket) blocking,
    * computed via an inverted index: explode distinct shingles into postings,
    * self-join postings on (shingle, block) to count common shingles per
    * pair, then |A∪B| = |A| + |B| − |A∩B|. Candidate pairs only materialize
    * when they share ≥1 shingle (zero-overlap pairs can never reach the 0.1
    * threshold), so the per-pair array_intersect of the naive block
    * self-join never happens — work is proportional to actual overlap, not
    * block².
    *
    * At 100 TB the posting join is a hash shuffle on (shingle, block),
    * and `docFreqCap` is the skew guard: a posting list longer than the
    * cap (a stop-shingle like "of the" that lands ~every doc in one row)
    * is dropped entirely before pair explosion, bounding any single
    * task's work at cap² — the standard document-frequency cut of
    * inverted-index dedup. Pairs whose ONLY overlap is stop-shingles
    * disappear and counted intersections shrink accordingly (web-scale
    * practice accepts this: ubiquitous shingles carry no near-dup
    * signal). BOTH variants are registered with oracles: the uncapped
    * form checks the exact per-pair intersection, and the capped form
    * (`neardup_jaccard_capped`, df ≤ `NearDupDocFreqCap`) checks the
    * skew-guarded shape that actually ships at scale. */
  def nearDupJaccard(spark: SparkSession, dir: String,
                     docFreqCap: Option[Int] = None): DataFrame = {
    // The shingled corpus plan is shared by BOTH Jaccard variants and
    // the prefix join (shingling — split + zip_with + array_distinct
    // per doc — is the common front of all three pipelines). Shingles
    // arrive HASHED TO LONGS (see [[shingleDocs]]): postings, the join
    // key, and the pair aggregate all carry fixed-width longs; a
    // deterministic xxhash64 collision would fail the string-based
    // oracle — the gate absorbs that risk, as in the prefix variant.
    val docs = shingleDocs(spark, dir)
    val post = docs.select(col("doc_id"), col("lang"), col("len_bucket"),
      col("n_sh"), explode(col("sh")).as("shingle"))
    val block = Seq("shingle", "lang", "len_bucket")
    // Exact variant (the correctness twin): every posting kept, bucket
    // size unbounded by design. The capped form is what ships: the df
    // cut runs BEFORE pair generation, bounding any bucket at cap.
    val kept = docFreqCap.fold(post)(Candidates.dropAbove(post, block, _))
    // The FLAT posting frame is checkpointed so both join sides read one
    // materialization (fixed-width rows checkpoint in ~0.1 s;
    // checkpointing the upstream shingle ARRAY column instead measured
    // ~5 s at sf0.1 — more than the whole join — which is why the
    // shared [[shingleDocs]] front stays a plan, not a memo).
    val keptCk = kept.localCheckpoint()
    Candidates.pairs(keptCk.select(col("shingle"), col("lang"),
        col("len_bucket"), col("doc_id").as("doc"), col("n_sh").as("n")),
        block, "doc")
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).cast("int").as("n_inter"))
      .withColumn("n_union", (col("n_a") + col("n_b") - col("n_inter")).cast("int"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= 0.1)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The shingled corpus PLAN: (doc_id, lang, len_bucket, distinct
    * word-bigram shingles HASHED TO LONGS, their count) — the shared
    * front of [[nearDupJaccard]] (both variants) and
    * [[nearDupJaccardPrefix]]. Hashing at this boundary keeps every
    * downstream posting, join key, and verify array fixed-width (the
    * prefix join's existing discipline: a vanishingly-unlikely,
    * deterministic xxhash64 collision would alter n_inter/n_sh and
    * fail the STRING-based oracles — the gate, not silence, absorbs
    * that risk). Deliberately a PLAN, not a checkpointed memo: the
    * projection is a pure function of `text`, so two join aliases
    * recomputing it agree bit-for-bit, and measurement chose this —
    * materializing the array column cost ~5 s at sf0.1 while the
    * recompute inside a codegen'd join pass adds well under half
    * that. The repartition exists because the corpus arrives as few
    * parquet splits — without it the per-doc shingle work would run on
    * a single core (at real scale the scan has many splits already). */
  private[graft] def shingleDocs(spark: SparkSession,
      dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / lit(100)).cast("int").as("len_bucket"),
        expr(s"transform(array_distinct($shinglesSqlExpr), " +
          "s -> xxhash64(s))").as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** Document-frequency cap for the production-shaped Jaccard variant
    * (shared with its generated oracle): a shingle appearing in more
    * than this many documents of one block carries no near-dup signal
    * and is dropped before pair explosion. */
  val NearDupDocFreqCap = 64

  /** DuckDB oracle for the CAPPED [[nearDupJaccard]] — the
    * document-frequency cut expressed relationally (posting counts per
    * (shingle, block), postings kept only when 2 ≤ df ≤ cap), so the
    * skew-guarded production shape is oracle-checked, not spec-only.
    * n_union still uses the FULL distinct-shingle counts; only the
    * intersection is computed over surviving postings — exactly what
    * the Spark side does. */
  private[graft] def nearDupJaccardCappedOracleSql(
      shinglesSql: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(floor(n_chars / 100) AS INT) AS len_bucket,
       |    list_distinct($shinglesSql) AS sh
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, lang, len_bucket,
       |    CAST(len(sh) AS INT) AS n_sh, sh
       |  FROM d),
       |p AS (
       |  SELECT lang, len_bucket, unnest(sh) AS shingle, doc_id
       |  FROM n),
       |c AS (
       |  SELECT lang, len_bucket, shingle, count(*) AS df
       |  FROM p GROUP BY 1, 2, 3),
       |pf AS (
       |  SELECT p.lang, p.len_bucket, p.shingle, p.doc_id
       |  FROM p JOIN c ON p.lang = c.lang AND p.len_bucket = c.len_bucket
       |    AND p.shingle = c.shingle
       |  WHERE c.df BETWEEN 2 AND $NearDupDocFreqCap),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM pf a JOIN pf b ON a.lang = b.lang
       |    AND a.len_bucket = b.len_bucket AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT pairs.doc_a, pairs.doc_b,
       |  CAST(pairs.n_inter AS INT) AS n_inter,
       |  CAST(na.n_sh + nb.n_sh - pairs.n_inter AS INT) AS n_union,
       |  CAST(pairs.n_inter AS DOUBLE)
       |    / CAST(na.n_sh + nb.n_sh - pairs.n_inter AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN n na ON pairs.doc_a = na.doc_id
       |JOIN n nb ON pairs.doc_b = nb.doc_id
       |WHERE CAST(pairs.n_inter AS DOUBLE)
       |    / CAST(na.n_sh + nb.n_sh - pairs.n_inter AS DOUBLE) >= 0.1
       |ORDER BY 1, 2""".stripMargin

  /** Jaccard threshold for the prefix-filtered join, as the exact
    * rational 3/5 (the required-overlap ceiling is computed in
    * integers: ⌈3n/5⌉ = (3n+4) div 5). */
  val PrefixJaccardNum = 3
  val PrefixJaccardDen = 5

  /** Prefix-filtered set-similarity join (PPJoin-family, Chaudhuri/
    * Xiao et al.): the LOSSLESS high-threshold alternative to the
    * df-capped inverted index. Order every document's shingles by
    * (global df asc, shingle) — rarest first — and index only each
    * doc's PREFIX of length n − ⌈t·n⌉ + 1: two sets with J ≥ t MUST
    * share a prefix token under any common total order (if all shared
    * tokens hid in both suffixes, the overlap would be < ⌈t·n⌉ on
    * either side — too small). Candidates therefore come from prefix
    * postings only, and exact verification runs per candidate pair.
    *
    * Unlike the df cap this prunes NOTHING that qualifies, so the
    * oracle is the genuinely independent naive form (all pairs sharing
    * any shingle, exact Jaccard ≥ t) — a Spark-side prefix bug (too
    * short a prefix, a wrong ceiling) surfaces as a missing row, not a
    * mirrored mistake. The t = [[PrefixJaccardNum]]/[[PrefixJaccardDen]]
    * regime is where prefix filtering earns its keep (at t = 0.6 the
    * indexed volume is ~40% of postings; at the 0.1 of the df-capped
    * variant prefixes approach whole documents — the two variants
    * cover complementary threshold regimes).
    *
    * Scale shape: one global df aggregate (vocab-sized), a per-doc rank
    * window (partitioned by doc — never global), prefix postings
    * paired per (shingle, block) by the same [[Candidates.pairs]] join
    * as [[nearDupJaccard]], DISTINCT candidate pairs, then one
    * verification join carrying the two shingle arrays per CANDIDATE
    * (candidate volume is the filtered minority — exactly PPJoin's
    * bet). No unbounded buffer: a prefix posting list is df-bounded by
    * the prefix discipline itself at high t. */
  def nearDupJaccardPrefix(spark: SparkSession, dir: String): DataFrame = {
    // Shingles are HASHED TO LONGS at the source: every downstream
    // structure — postings, the df join, the rank window, the candidate
    // buckets, and the verification arrays — carries fixed-width longs
    // instead of bigram strings, so shuffles shrink ~5× and the exact
    // per-pair intersection compares longs. Jaccard is on DISTINCT
    // shingles, so a (vanishingly unlikely, deterministic) xxhash64
    // collision would alter n_inter and fail the string-based naive
    // oracle — the gate, not silence, absorbs that risk.
    // NO n_sh > 0 filter here: it is semantically redundant (explode
    // drops empty-shingle docs from the posting side, and the verify
    // legs inner-join to candidates that by construction had postings)
    // and it was actively expensive — Catalyst substitutes the filter's
    // n_sh down through the projection as size(transform(...)) > 0 and
    // PUSHES IT INTO THE PARQUET SCAN FILTER, so the full shingle
    // transform ran once per row in the scan predicate and AGAIN in
    // the projection, on every one of the plan's document legs
    // (measured: removing it + checkpointing the flat postings took
    // the sf0.1 median from 2.16 s to ~1.2 s).
    val docs = shingleDocs(spark, dir)
    val post = docs.select(col("doc_id"), col("lang"), col("len_bucket"),
      col("n_sh"), explode(col("sh")).as("shingle"))
    val dfreq = post.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    val prefixLen = col("n_sh") -
      expr(s"($PrefixJaccardNum * n_sh + ${PrefixJaccardDen - 1}) " +
        s"div $PrefixJaccardDen") + lit(1)
    val prefixPost = post.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= prefixLen)
    // In-bucket pair generation with PPJoin's LENGTH and POSITIONAL
    // filters, both in integer arithmetic. This corpus is the regime
    // that needs them: a ~1k-shingle vocabulary makes every posting
    // list huge, so the bare in-bucket explode emits ~350k distinct
    // candidates at sf0.1 — the filters prune inside the bucket, before
    // any struct is built or shuffled.
    //   Length: J ≥ t ⟹ inter ≥ t·max ⟹ DEN·min ≥ NUM·max.
    //   Positional (lossless): a qualifying pair's FIRST common token
    //   in the global (df, shingle) order sits in BOTH prefixes — if it
    //   hid in a's suffix, the overlap would be ≤ ⌈t·n_a⌉ − 1 < α —
    //   and every other common token follows it in both docs' orders,
    //   so overlap ≤ 1 + min(n_a − rk_a, n_b − rk_b). Any occurrence
    //   with that bound < α = ⌈t/(1+t)·(n_a+n_b)⌉ can be dropped; the
    //   first-common-token occurrence always survives, and DISTINCT
    //   keeps the pair if ANY occurrence does.
    val alphaNum = PrefixJaccardNum                    // t/(1+t) = 3/8
    val alphaDen = PrefixJaccardNum + PrefixJaccardDen
    // The FLAT prefix-posting frame is checkpointed before the
    // self-join (the [[nearDupJaccard]] `keptCk` device): without it
    // the scan → repartition → shingle transform → explode → df join →
    // per-doc rank window executes on BOTH join sides — ~2× the
    // scan+shuffle bill at 100 TB, and a 3× run-to-run scatter at sf0.1
    // under load. The frame is fixed-width longs and, at t = 3/5, ~40%
    // of postings (105k of 265k rows at sf0.1); the eager
    // materialization measures ~1.0 s — it pays the front once,
    // including the dfreq leg — and every downstream consumer (both
    // join sides, the dedup, the verify probe) reads the stored rows.
    // Only the two verify-side `docs` lookups still recompute the
    // shingle arrays: the array column is the one that measured ~5 s to
    // materialize, and the verify join touches it once per candidate
    // side, not per posting. (Measured-and-rejected alternatives, sf0.1
    // medians: no checkpoint 2.7 s steady but 3× scatter under suite
    // pressure; checkpointing the full posting frame + relational
    // posting-count verification 4.7 s; checkpointing the array frame
    // 3.4 s.) Absolute times move with the box's load; the phase
    // proportions (checkpoint ~1.0 / self-join ~0.6 / verify ~1.4) and
    // the ordering against the rejected alternatives are the stable
    // fact, per SURVEY §6 note 6.
    val pp = prefixPost.select(col("shingle"), col("lang"),
      col("len_bucket"), col("doc_id"), col("n_sh"), col("rk"))
      .localCheckpoint()
    val cands = Candidates.pairs(pp.toDF("shingle", "lang", "len_bucket",
        "doc", "n0", "rk"), Seq("shingle", "lang", "len_bucket"), "doc")
      .filter(
        // Length filter: J ≥ t ⟹ inter ≥ t·max ⟹ DEN·min ≥ NUM·max.
        lit(PrefixJaccardDen) * least(col("n0_a"), col("n0_b")) >=
          lit(PrefixJaccardNum) * greatest(col("n0_a"), col("n0_b"))
        // Positional filter (lossless): a qualifying pair's FIRST
        // common token in the global (df, shingle) order sits in BOTH
        // prefixes — if it hid in a's suffix the overlap would be
        // ≤ ⌈t·n_a⌉ − 1 < α — and every other common token follows it
        // in both docs' orders, so overlap ≤ 1 + min(remaining). Any
        // occurrence with that bound < α = ⌈t/(1+t)·(n_a+n_b)⌉ drops;
        // the first-common-token occurrence always survives, and
        // DISTINCT keeps the pair if ANY occurrence does.
        && lit(1) + least(col("n0_a") - col("rk_a"),
          col("n0_b") - col("rk_b")) >=
          expr(s"($alphaNum * (n0_a + n0_b) + ${alphaDen - 1}) " +
            s"div $alphaDen"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // shuffle_hash on the candidate side: Catalyst's stats pick the
    // docs legs as broadcast build sides (they are the only
    // parquet-estimable inputs once `pp` is a stats-less checkpoint
    // RDD), which serializes the 60k-row shingle-ARRAY frame into two
    // broadcasts — measured 5.9 s vs 2.2 s for the whole query at
    // sf0.1. The hinted shape shuffles the tiny (doc_a, doc_b) pair
    // set instead and STREAMS the array legs; the docs side arrives
    // already hash-partitioned by doc_id (the [[shingleDocs]]
    // repartition), so at any scale the arrays move through no extra
    // exchange and the build side is the filtered candidate minority —
    // exactly the side you'd want built at 100 TB.
    cands.hint("shuffle_hash")
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      // The SECOND lookup is deliberately un-hinted: a hint marks one
      // side of one join, so this one broadcasts the docs_b arrays —
      // but that choice is STATS-DRIVEN (Catalyst broadcasts because
      // the parquet-estimated docs frame fits; at 100 TB the same
      // stats flip it to a shuffle join with no code change), whereas
      // hinting it shuffle_hash forces the pairs+sh_a frame through an
      // extra array-carrying exchange (interleaved A/B at sf0.1:
      // hint-both 2.49 s vs 2.17 s, and wider scatter).
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union", (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("n_inter") * lit(PrefixJaccardDen) >=
        col("n_union") * lit(PrefixJaccardNum))
      .select(col("doc_a"), col("doc_b"), col("n_inter").cast("int")
        .as("n_inter"), col("n_union").cast("int").as("n_union"),
        (col("n_inter").cast("double") / col("n_union").cast("double"))
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[nearDupJaccardPrefix]] — deliberately the
    * NAIVE form: all in-block pairs sharing any shingle, exact Jaccard,
    * integer-rational threshold compare (n_inter·den ≥ n_union·num —
    * no float in the predicate). Independence from the prefix machinery
    * is the point: a lossy prefix would drop rows here. */
  private[graft] def nearDupJaccardPrefixOracleSql(
      shinglesSql: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(floor(n_chars / 100) AS INT) AS len_bucket,
       |    list_distinct($shinglesSql) AS sh
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, lang, len_bucket,
       |    CAST(len(sh) AS INT) AS n_sh, sh
       |  FROM d WHERE len(sh) > 0),
       |p AS (
       |  SELECT lang, len_bucket, unnest(sh) AS shingle, doc_id
       |  FROM n),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM p a JOIN p b ON a.lang = b.lang
       |    AND a.len_bucket = b.len_bucket AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT pairs.doc_a, pairs.doc_b,
       |  CAST(pairs.n_inter AS INT) AS n_inter,
       |  CAST(na.n_sh + nb.n_sh - pairs.n_inter AS INT) AS n_union,
       |  CAST(pairs.n_inter AS DOUBLE)
       |    / CAST(na.n_sh + nb.n_sh - pairs.n_inter AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN n na ON pairs.doc_a = na.doc_id
       |JOIN n nb ON pairs.doc_b = nb.doc_id
       |WHERE pairs.n_inter * $PrefixJaccardDen >=
       |  (na.n_sh + nb.n_sh - pairs.n_inter) * $PrefixJaccardNum
       |ORDER BY 1, 2""".stripMargin

  /** Containment threshold in mille for [[nearDupContainment]]. */
  val ContainmentMille = 800

  /** CONTAINMENT dedup (asymmetric set containment, Broder's
    * containment coefficient): pairs where the SMALLER document's
    * shingle set is ≥ [[ContainmentMille]]/1000 inside the larger's —
    * the crawl-dedup case Jaccard cannot see (a short doc pasted into
    * a long one has Jaccard ≈ n_small/n_big, far below any symmetric
    * threshold, while its containment is ≈ 1). Deliberately blocked on
    * LANGUAGE ONLY: the (lang, len_bucket) blocking of the Jaccard
    * family is exactly wrong here — container and contained sit in
    * DIFFERENT length buckets by construction. The candidate volume
    * that blocking absorbed is bounded instead by the same
    * document-frequency cut as the capped Jaccard variant (postings
    * with 2 ≤ df ≤ [[NearDupDocFreqCap]] only — the skew guard that
    * also drops signal-free stop-shingles), so per-shingle work stays
    * ≤ cap² and the shape ships at 100 TB. Denominator = the FULL
    * distinct-shingle count of the smaller doc (the df cut prunes the
    * intersection only — mirrored exactly in the oracle).
    * Contained = fewer shingles (tie: smaller doc_id); all-integer
    * floor-mille; one [[Candidates.pairs]] join over a checkpointed
    * flat frame (the [[nearDupJaccard]] keptCk device). */
  def nearDupContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingleDocs(spark, dir)
    val post = docs.select(col("doc_id"), col("lang"), col("n_sh"),
      explode(col("sh")).as("shingle"))
    val keptCk = Candidates.dropAbove(post, Seq("shingle", "lang"),
      NearDupDocFreqCap).localCheckpoint()
    Candidates.pairs(keptCk.select(col("shingle"), col("lang"),
        col("doc_id").as("doc"), col("n_sh").as("n")),
        Seq("shingle", "lang"), "doc")
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).cast("int").as("n_inter"))
      .withColumn("containment_mille",
        expr("n_inter * 1000 div least(n_a, n_b)"))
      .filter(col("containment_mille") >= ContainmentMille)
      .select(
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"),
        when(col("n_a") <= col("n_b"), col("doc_b")).otherwise(col("doc_a"))
          .as("container_id"),
        col("n_inter"),
        least(col("n_a"), col("n_b")).cast("int").as("n_contained"),
        greatest(col("n_a"), col("n_b")).cast("int").as("n_container"),
        col("containment_mille").cast("int").as("containment_mille"))
      .orderBy("contained_id", "container_id")
  }

  /** DuckDB oracle for [[nearDupContainment]] — the same lang-blocked,
    * df-capped posting form expressed relationally over STRING shingles
    * (the Spark side hashes to longs; a collision would fail here). */
  private[graft] def nearDupContainmentOracleSql(
      shinglesSql: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, list_distinct($shinglesSql) AS sh
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, lang, CAST(len(sh) AS INT) AS n_sh, sh
       |  FROM d),
       |p AS (
       |  SELECT lang, unnest(sh) AS shingle, doc_id FROM n),
       |c AS (
       |  SELECT lang, shingle, count(*) AS df FROM p GROUP BY 1, 2),
       |pf AS (
       |  SELECT p.lang, p.shingle, p.doc_id
       |  FROM p JOIN c ON p.lang = c.lang AND p.shingle = c.shingle
       |  WHERE c.df BETWEEN 2 AND $NearDupDocFreqCap),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM pf a JOIN pf b ON a.lang = b.lang AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |k AS (
       |  SELECT pairs.doc_a, pairs.doc_b, pairs.n_inter,
       |    na.n_sh AS n_a, nb.n_sh AS n_b,
       |    pairs.n_inter * 1000 // least(na.n_sh, nb.n_sh)
       |      AS containment_mille
       |  FROM pairs
       |  JOIN n na ON pairs.doc_a = na.doc_id
       |  JOIN n nb ON pairs.doc_b = nb.doc_id)
       |SELECT
       |  CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS contained_id,
       |  CASE WHEN n_a <= n_b THEN doc_b ELSE doc_a END AS container_id,
       |  CAST(n_inter AS INT) AS n_inter,
       |  CAST(least(n_a, n_b) AS INT) AS n_contained,
       |  CAST(greatest(n_a, n_b) AS INT) AS n_container,
       |  CAST(containment_mille AS INT) AS containment_mille
       |FROM k WHERE containment_mille >= $ContainmentMille
       |ORDER BY 1, 2""".stripMargin

  /** Number of LSH bands and the per-(band, signature) bucket membership
    * cap shared by the Spark query and its generated oracle. */
  val MinhashBands = 8
  val MinhashBucketCap = 50

  /** One 60-bit integer hash per (doc, shingle): md5, keep 15 hex chars
    * (stays positive in a signed 64-bit long in both engines), parse.
    * Shared by the minhash and simhash pipelines — the only string
    * hashing either performs; everything downstream is integer
    * arithmetic. */
  private def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(shingles).as("shingle"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint)")
          .as("h"))

  /** Fixed 60-bit band seeds (one per band) for the xor-minhash below.
    * java.util.Random's sequence is part of its spec → stable constants;
    * the oracle SQL embeds the same decimal literals. */
  private[graft] val bandSeeds: Array[Long] = {
    val rnd = new java.util.Random(20260812L)
    Array.fill(MinhashBands)(rnd.nextLong() & ((1L << 60) - 1))
  }

  /** MinHash-LSH near-dup candidates. ONE md5 per (doc, shingle) — the
    * only string hashing in the pipeline — parsed into a 60-bit integer
    * (15 hex chars: stays positive in a 64-bit signed long in both
    * engines); the `MinhashBands` band signatures are then derived
    * arithmetically as min(h XOR band_seed) in a single hash aggregate.
    * XOR by a fixed seed re-ranks the hash values per band (a bijection),
    * so each band takes its min over an independently shuffled order —
    * the classic cheap approximation of k independent minhash
    * permutations. Everything per-shingle is plain codegen'd expressions
    * (bands × shingles interpreted md5 lambdas made this the bench's
    * hottest query).
    *
    * Candidates share a (band, signature) bucket whose membership is
    * CAPPED at the `MinhashBucketCap` smallest doc_ids — a degenerate
    * bucket (boilerplate-heavy corpora hashing thousands of docs to one
    * signature) contributes at most cap² pairs instead of m². Output:
    * candidate pairs with the number of colliding bands. */
  def minhashCandidates(spark: SparkSession, dir: String): DataFrame =
    minhashCandidatesCore(spark, dir).orderBy("doc_a", "doc_b")

  /** [[minhashCandidates]] without the presentation sort (the CoreSql
    * convention): the session memo of the capped minhash candidate PAIR
    * set — the [[nearDupPairsCore]] contract applied to the minhash
    * family. The checkpointed frame is pair-count-sized (bucket-capped —
    * KBs), and both consumers ([[minhashCandidates]]' own query and
    * [[minhashCalibration]]'s verify) read one materialization instead
    * of re-running the explode→signature→bucket pipeline each. */
  private def minhashCandidatesCore(spark: SparkSession,
      dir: String): DataFrame =
    graft.Memos.memo("minhash_pairs", spark, Seq(dir))(
      minhashCandidatesUncached(spark, dir).localCheckpoint())

  /** The explode→xor-minhash→capped-bucket pipeline behind the memo;
    * PlanSpec asserts the WindowGroupLimit cap against THIS builder
    * (the memoized frame's plan is just a checkpoint scan). */
  private[graft] def minhashCandidatesUncached(spark: SparkSession,
      dir: String): DataFrame = {
    // Explode shingles ONCE (shingleHashes); everything after is integer
    // arithmetic in a single hash aggregate.
    val h = shingleHashes(spark, dir)
    val sigAggs = (0 until MinhashBands).map(b =>
      min(expr(s"h ^ ${bandSeeds(b)}")).as(s"sig$b"))
    val sig = h.groupBy("doc_id")
      .agg(sigAggs.head, sigAggs.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until MinhashBands).map(b => col(s"sig$b")): _*))
          .as(Seq("band", "band_sig")))
    // A doc holds one signature per band, so a pair meets once per
    // colliding band and the per-pair count is n_bands.
    val bucket = Seq("band", "band_sig")
    Candidates.pairs(Candidates.firstK(
        sig.withColumnRenamed("doc_id", "doc"), bucket, "doc",
        MinhashBucketCap), bucket, "doc")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** DuckDB oracle for [[minhashCandidates]], generated from the same
    * band seeds, hex-parse width, and bucket cap. DuckDB parses
    * `'0x…'::BIGINT`; Spark uses `conv(hex, 16, 10)` — verified to agree
    * on 15-hex-char (60-bit) inputs. */
  private[graft] def minhashCandidatesOracleSql(shinglesSql: String): String = {
    val seedValues = (0 until MinhashBands)
      .map(b => s"($b, ${bandSeeds(b)})").mkString(", ")
    s"""WITH s AS (
       |  SELECT doc_id, unnest($shinglesSql) AS shingle FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h
       |  FROM s),
       |sig AS (
       |  SELECT doc_id, band, min(xor(h, seed)) AS band_sig
       |  FROM h CROSS JOIN (VALUES $seedValues) AS b(band, seed)
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT band, band_sig, doc_id,
       |    row_number() OVER (PARTITION BY band, band_sig ORDER BY doc_id) AS rn
       |  FROM sig)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
       |FROM m a JOIN m b ON a.band = b.band AND a.band_sig = b.band_sig
       |  AND a.doc_id < b.doc_id
       |WHERE a.rn <= $MinhashBucketCap AND b.rn <= $MinhashBucketCap
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** SimHash geometry: 60-bit fingerprints (the shingle-hash width),
    * searched via 10 bands × 6 bits. By pigeonhole, two fingerprints
    * within Hamming distance 9 (< number of bands) must agree exactly on
    * at least one band — so recall is 1.0 for the `SimhashHammingMax`
    * threshold below, modulo the bucket cap. */
  val SimhashBits = 60
  val SimhashBands = 10
  val SimhashBandBits = 6
  val SimhashHammingMax = 8
  val SimhashBucketCap = 100

  /** SimHash near-dup pairs. Per document: the 60-bit simhash is the
    * bitwise sign of per-bit vote sums over the doc's shingle hashes
    * (bit b votes +1 if set in a shingle's hash, −1 otherwise) — one
    * hash aggregate with 60 integer sums, all codegen'd. Candidate
    * pairs share at least one exact 6-bit band (capped buckets, same
    * skew guard as the other LSH pipelines); survivors are filtered by
    * true Hamming distance ≤ `SimhashHammingMax` via
    * bit_count(xor). Complements minhash: simhash distance approximates
    * cosine-over-shingle-sets rather than Jaccard, and the fingerprint
    * is a single integer per doc — the cheapest near-dup signature to
    * store at 100 TB. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Natives.ensure(spark)
    // The fingerprint is ONE native expression over the per-doc hash
    // list ([[graft.functions.Simhash60]]) — the previous 60-column
    // sum(CASE) aggregate plus 60-term bit assembly was the last wide
    // generated-code stage in the engine and degraded the JIT under a
    // long-lived JVM. Votes are integer sums, so the collect_list
    // order is irrelevant and the result is identical; the buffer is
    // bounded by the longest single document (the per-document
    // invariant, same as rollingFingerprints).
    val sim = shingleHashes(spark, dir)
      .groupBy("doc_id")
      .agg(collect_list(col("h")).as("hs"))
      .select(col("doc_id"), expr("simhash60(hs)").as("simhash"))
    // The fingerprint rides through the band buckets (one long per
    // member), so the Hamming check needs no join back to `sim` — the
    // vote aggregate runs ONCE and the pair stage is pure integer
    // arithmetic on (id, simhash) structs.
    val banded = sim.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimhashBands).map(k =>
        expr(s"(simhash >> ${k * SimhashBandBits}) & ${(1 << SimhashBandBits) - 1}")): _*))
        .as(Seq("band", "band_key")))
    // Buckets keep their first `SimhashBucketCap` members in doc_id
    // order (the minhashCandidates cap).
    Candidates.firstK(banded, Seq("band", "band_key"), "doc_id",
        SimhashBucketCap)
      .groupBy("band", "band_key")
      .agg(array_sort(collect_list(
        struct(col("doc_id"), col("simhash")))).as("ds"))
      .filter(size(col("ds")) > 1)
      // In-bucket ordered-pair emission as TWO chained generators —
      // posexplode picks the left member, explode over the slice past
      // it picks every right member; all codegen'd, i < j by the
      // sorted-struct order, at most cap²/2 pairs per bucket. This is
      // the one pair generator outside [[Candidates.pairs]]: the
      // posting self-join measured slower here (sf0.1, 4 cores,
      // interleaved in one JVM: 0.90 s against 0.84 s), because each
      // join side re-runs the rank-capped bucket window.
      .select(posexplode(col("ds")).as(Seq("i", "x")), col("ds"))
      .select(col("x.doc_id").as("doc_a"), col("x.simhash").as("sim_a"),
        explode(slice(col("ds"), col("i") + lit(2),
          greatest(lit(0), size(col("ds")) - col("i") - lit(1)))).as("y"))
      .select(col("doc_a"), col("y.doc_id").as("doc_b"),
        expr("cast(bit_count(sim_a ^ y.simhash) as int)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimhashHammingMax)
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[simhashPairs]] (same bit votes, bands, cap,
    * threshold). */
  /** The per-document simhash fingerprint as CTEs `s`/`h`/`v`/`sim`
    * (shingle stream → 60-bit hashes → bit votes → assembled
    * fingerprint), shared by [[simhashPairsOracleSql]] and
    * [[dedupFeaturesOracleSql]]. */
  private def simhashFingerprintSqlCtes(shinglesSql: String): String = {
    val votes = (0 until SimhashBits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val bits = (0 until SimhashBits)
      .map(b => s"(CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""s AS (
       |  SELECT doc_id, unnest($shinglesSql) AS shingle FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h
       |  FROM s),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY 1),
       |sim AS (SELECT doc_id, $bits AS simhash FROM v)""".stripMargin
  }

  private[graft] def simhashPairsOracleSql(shinglesSql: String): String = {
    val bandUnion = (0 until SimhashBands)
      .map(k => s"SELECT doc_id, $k AS band, (simhash >> ${k * SimhashBandBits}) & ${(1 << SimhashBandBits) - 1} AS band_key FROM sim")
      .mkString("\n    UNION ALL ")
    s"""WITH ${simhashFingerprintSqlCtes(shinglesSql)},
       |m AS (
       |  SELECT band, band_key, doc_id, simhash,
       |    row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
       |  FROM (SELECT b.*, sim.simhash FROM ($bandUnion) b
       |        JOIN sim ON b.doc_id = sim.doc_id)),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM m a JOIN m b ON a.band = b.band AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id
       |  WHERE a.rn <= $SimhashBucketCap AND b.rn <= $SimhashBucketCap)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
       |FROM p
       |WHERE bit_count(xor(sim_a, sim_b)) <= $SimhashHammingMax
       |ORDER BY 1, 2""".stripMargin
  }

  /** Per-candidate-pair dedup feature table — the training set a
    * dedup-decision classifier consumes: for every lexical near-dup
    * candidate (the df-capped production Jaccard screen), all three
    * similarity modalities side by side — exact n-gram Jaccard,
    * simhash Hamming distance, and embedding cosine (LEFT join: a doc
    * without an embedding row keeps its lexical features, cosine
    * null). Disagreement between columns is the signal: high jaccard +
    * low cosine flags templated boilerplate; low jaccard + high cosine
    * flags paraphrase — the pairs a threshold-per-modality pipeline
    * misclassifies.
    *
    * Scale shape: the pair list is the filtered minority; the per-doc
    * simhash aggregate and the embedding table join onto it hash-to-
    * hash (the pair side is small enough that AQE broadcasts it). No
    * stage is quadratic beyond the already-capped candidate screen. */
  def dedupFeatures(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Natives.ensure(spark)
    val pairs = nearDupPairsCore(spark, dir)
    val sim = shingleHashes(spark, dir)
      .groupBy("doc_id")
      .agg(collect_list(col("h")).as("hs"))
      .select(col("doc_id"), expr("simhash60(hs)").as("simhash"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("norm"))
    pairs
      .join(sim.select(col("doc_id").as("doc_a"),
        col("simhash").as("sim_a")), "doc_a")
      .join(sim.select(col("doc_id").as("doc_b"),
        col("simhash").as("sim_b")), "doc_b")
      .join(e.select(col("vec_id").as("doc_a"),
        col("embedding").as("emb_a"), col("norm").as("norm_a")),
        Seq("doc_a"), "left")
      .join(e.select(col("vec_id").as("doc_b"),
        col("embedding").as("emb_b"), col("norm").as("norm_b")),
        Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        expr("cast(bit_count(sim_a ^ sim_b) as int)").as("hamming"),
        round(expr("vec_dot(emb_a, emb_b)") /
          (col("norm_a") * col("norm_b")), 9).as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[dedupFeatures]] — the capped-Jaccard pair CTEs,
    * the shared simhash fingerprint CTEs, and a term-order-mirrored
    * cosine over the embeddings, LEFT-joined like the Spark side. */
  private[graft] def dedupFeaturesOracleSql(shinglesSql: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(floor(n_chars / 100) AS INT) AS len_bucket,
       |    list_distinct($shinglesSql) AS sh
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, lang, len_bucket,
       |    CAST(len(sh) AS INT) AS n_sh, sh
       |  FROM d),
       |p AS (
       |  SELECT lang, len_bucket, unnest(sh) AS shingle, doc_id
       |  FROM n),
       |c AS (
       |  SELECT lang, len_bucket, shingle, count(*) AS df
       |  FROM p GROUP BY 1, 2, 3),
       |pf AS (
       |  SELECT p.lang, p.len_bucket, p.shingle, p.doc_id
       |  FROM p JOIN c ON p.lang = c.lang AND p.len_bucket = c.len_bucket
       |    AND p.shingle = c.shingle
       |  WHERE c.df BETWEEN 2 AND $NearDupDocFreqCap),
       |prs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM pf a JOIN pf b ON a.lang = b.lang
       |    AND a.len_bucket = b.len_bucket AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT prs.doc_a, prs.doc_b,
       |    CAST(prs.n_inter AS DOUBLE)
       |      / CAST(na.n_sh + nb.n_sh - prs.n_inter AS DOUBLE) AS jaccard
       |  FROM prs
       |  JOIN n na ON prs.doc_a = na.doc_id
       |  JOIN n nb ON prs.doc_b = nb.doc_id
       |  WHERE CAST(prs.n_inter AS DOUBLE)
       |      / CAST(na.n_sh + nb.n_sh - prs.n_inter AS DOUBLE) >= 0.1),
       |${simhashFingerprintSqlCtes(shinglesSql)},
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${graft.operators.VectorOps.sqSql("embedding")}) AS norm
       |  FROM embeddings)
       |SELECT jp.doc_a, jp.doc_b, jp.jaccard,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming,
       |  round(${graft.operators.VectorOps.dotSql("ea.embedding", "eb.embedding")}
       |    / (ea.norm * eb.norm), 9) AS cosine
       |FROM jp
       |JOIN sim sa ON jp.doc_a = sa.doc_id
       |JOIN sim sb ON jp.doc_b = sb.doc_id
       |LEFT JOIN e ea ON jp.doc_a = ea.vec_id
       |LEFT JOIN e eb ON jp.doc_b = eb.vec_id
       |ORDER BY 1, 2""".stripMargin

  /** Edit-distance cap for [[pairEditVerify]] (shared with the
    * oracle): distances past this report the −1 sentinel. */
  val PairEditMaxEdit = 100

  /** CHARACTER-LEVEL EDIT-DISTANCE VERIFY over the candidate-pair memo
    * (r16 verdict order #4) — the modality [[dedupFeatures]]' three
    * columns all miss: a small-edit paraphrase (one word swapped, a
    * date bumped) can sit below a Jaccard threshold, past a simhash
    * Hamming cut, and off an embedding's resolution, while its
    * Levenshtein distance is single-digit. Computes the thresholded
    * distance for every verified candidate pair, capped at
    * [[PairEditMaxEdit]] (−1 past the cap), plus a length-normalized
    * ratio in mille.
    *
    * Engine choice (the (a)-before-(b) rule): Spark's native
    * `levenshtein(l, r, threshold)` (3-arg form, Spark ≥ 3.5) already
    * IS the banded algorithm this order asked for — it early-exits on
    * the threshold diagonal band exactly like a hand-rolled
    * Myers/Ukkonen `Expression` would, runs inside codegen, and costs
    * O(min(n,m)·k) per pair, so a custom expression would duplicate a
    * built-in. Applied to the KB-sized [[nearDupPairsCore]] memo ONLY
    * — never corpus×corpus; at 100 TB the candidate screen (df-capped
    * posting join) owns the quadratic risk, and this verify stays
    * linear in the surviving pair count. */
  def pairEditVerify(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    nearDupPairsCore(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(t.select(col("doc_id").as("doc_a"),
        col("text").as("text_a")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"),
        col("text").as("text_b")), Seq("doc_b"))
      .withColumn("edit_distance",
        levenshtein(col("text_a"), col("text_b"), PairEditMaxEdit))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("edit_distance"),
        expr("CASE WHEN edit_distance >= 0 THEN " +
          "(1000 * cast(edit_distance as bigint)) div " +
          "greatest(1L, cast(greatest(length(text_a), " +
          "length(text_b)) as bigint)) " +
          "ELSE CAST(-1 AS BIGINT) END").as("edit_rel_mille"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[pairEditVerify]] — the capped-Jaccard pair
    * CTEs and DuckDB's `levenshtein()` with the cap expressed as a
    * CASE (DuckDB computes the full distance; the KB-sized pair memo
    * makes that affordable on the oracle side). */
  private[graft] def pairEditVerifyOracleSql(shinglesSql: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(floor(n_chars / 100) AS INT) AS len_bucket,
       |    list_distinct($shinglesSql) AS sh
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, lang, len_bucket,
       |    CAST(len(sh) AS INT) AS n_sh, sh
       |  FROM d),
       |p AS (
       |  SELECT lang, len_bucket, unnest(sh) AS shingle, doc_id
       |  FROM n),
       |c AS (
       |  SELECT lang, len_bucket, shingle, count(*) AS df
       |  FROM p GROUP BY 1, 2, 3),
       |pf AS (
       |  SELECT p.lang, p.len_bucket, p.shingle, p.doc_id
       |  FROM p JOIN c ON p.lang = c.lang AND p.len_bucket = c.len_bucket
       |    AND p.shingle = c.shingle
       |  WHERE c.df BETWEEN 2 AND $NearDupDocFreqCap),
       |prs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM pf a JOIN pf b ON a.lang = b.lang
       |    AND a.len_bucket = b.len_bucket AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT prs.doc_a, prs.doc_b,
       |    CAST(prs.n_inter AS DOUBLE)
       |      / CAST(na.n_sh + nb.n_sh - prs.n_inter AS DOUBLE) AS jaccard
       |  FROM prs
       |  JOIN n na ON prs.doc_a = na.doc_id
       |  JOIN n nb ON prs.doc_b = nb.doc_id
       |  WHERE CAST(prs.n_inter AS DOUBLE)
       |      / CAST(na.n_sh + nb.n_sh - prs.n_inter AS DOUBLE) >= 0.1),
       |lv AS (
       |  SELECT jp.doc_a, jp.doc_b, jp.jaccard,
       |    levenshtein(ta.text, tb.text) AS lev,
       |    greatest(len(ta.text), len(tb.text)) AS max_len
       |  FROM jp
       |  JOIN documents ta ON jp.doc_a = ta.doc_id
       |  JOIN documents tb ON jp.doc_b = tb.doc_id)
       |SELECT doc_a, doc_b, jaccard,
       |  CASE WHEN lev <= $PairEditMaxEdit THEN CAST(lev AS INT)
       |    ELSE -1 END AS edit_distance,
       |  CASE WHEN lev <= $PairEditMaxEdit
       |    THEN CAST((1000 * lev) // greatest(1, max_len) AS BIGINT)
       |    ELSE CAST(-1 AS BIGINT) END AS edit_rel_mille
       |FROM lv
       |ORDER BY 1, 2""".stripMargin

  /** Per-language length box-plot — the distribution profile behind a
    * per-language length filter (a fixed global cut mis-filters CJK
    * against English; quartile whiskers per language are the standard
    * fix): exact p25/p50/p75 over n_chars, IQR, and 1.5·IQR Tukey
    * whiskers. Exact `percentile` matches DuckDB's `quantile_cont`
    * bit-for-bit on integer inputs (the established A4 pattern); the
    * whisker arithmetic is the same expression tree on both engines.
    * One hash aggregate on a language-sized key space. */
  def lengthBoxplot(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(cast(n_chars as double), 0.25)").as("p25"),
        expr("percentile(cast(n_chars as double), 0.5)").as("p50"),
        expr("percentile(cast(n_chars as double), 0.75)").as("p75"))
      .withColumn("iqr", col("p75") - col("p25"))
      .withColumn("whisker_lo", col("p25") - lit(1.5) * (col("p75") - col("p25")))
      .withColumn("whisker_hi", col("p75") + lit(1.5) * (col("p75") - col("p25")))
      .orderBy("lang")

  /** DuckDB oracle for [[lengthBoxplot]]. */
  private[graft] def lengthBoxplotOracleSql: String =
    """WITH q AS (
      |  SELECT lang, count(*) AS n_docs,
      |    quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
      |    quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
      |    quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75
      |  FROM documents GROUP BY lang)
      |SELECT lang, n_docs, p25, p50, p75,
      |  p75 - p25 AS iqr,
      |  p25 - 1.5 * (p75 - p25) AS whisker_lo,
      |  p75 + 1.5 * (p75 - p25) AS whisker_hi
      |FROM q
      |ORDER BY lang""".stripMargin

  /** [[lengthQuantileSketch]] geometry (shared with the oracle): fixed
    * [[QSketchWidth]]-char equi-width bins, ids 0..[[QSketchBins]]−1
    * with the last bin open-ended. */
  val QSketchBins = 64
  val QSketchWidth = 60

  /** Mergeable histogram-quantile SKETCH — the single-pass scale twin
    * of [[lengthBoxplot]]: exact `percentile()` buffers and sorts every
    * value per group (per-group memory ∝ group size — the aggregate
    * that breaks first at 100 TB), while a fixed equi-width histogram
    * is a plain partial+final hash aggregate at (lang, bin) grain —
    * counts combine map-side, merge associatively across any partition
    * layout, and the state per group is ≤ [[QSketchBins]] longs
    * regardless of corpus size (the t-digest/KLL trade expressed in
    * its simplest exactly-deterministic form; those sketches'
    * float-centroid merges are order-dependent and could never
    * hash-match an oracle). Quantile read-out: smallest bin whose
    * cumulative count covers ⌈q·n⌉, reported as bin id + upper edge —
    * error is bounded by the bin width, known in advance, and the
    * integer arithmetic is engine-exact. The cumulative window runs at
    * BIN grain (≤ 64 rows per lang), not document grain. */
  def lengthQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.documents(spark, dir)
      .select(col("lang"),
        least(expr(s"n_chars div $QSketchWidth"),
          lit(QSketchBins - 1L)).as("bin"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy("bin")
    val cum = binned
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
    def qBin(q: Int) =
      min(when(col("cum") * 100 >= col("n") * q, col("bin")))
    cum.groupBy("lang")
      .agg(max(col("n")).as("n_docs"),
        qBin(50).as("p50_bin"), qBin(90).as("p90_bin"),
        qBin(99).as("p99_bin"))
      .select(col("lang"), col("n_docs"),
        col("p50_bin"),
        ((col("p50_bin") + 1) * QSketchWidth).as("p50_hi"),
        col("p90_bin"),
        ((col("p90_bin") + 1) * QSketchWidth).as("p90_hi"),
        col("p99_bin"),
        ((col("p99_bin") + 1) * QSketchWidth).as("p99_hi"))
      .orderBy("lang")
  }

  /** DuckDB oracle for [[lengthQuantileSketch]] — same bins, same
    * integer covering rule. */
  private[graft] def lengthQuantileSketchOracleSql: String =
    s"""WITH b AS (
       |  SELECT lang,
       |    least(n_chars // $QSketchWidth, ${QSketchBins - 1}) AS bin
       |  FROM documents),
       |c AS (SELECT lang, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
       |w AS (
       |  SELECT lang, bin,
       |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bin
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM c)
       |SELECT lang, max(n) AS n_docs,
       |  min(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS p50_bin,
       |  (min(CASE WHEN cum * 100 >= n * 50 THEN bin END) + 1)
       |    * $QSketchWidth AS p50_hi,
       |  min(CASE WHEN cum * 100 >= n * 90 THEN bin END) AS p90_bin,
       |  (min(CASE WHEN cum * 100 >= n * 90 THEN bin END) + 1)
       |    * $QSketchWidth AS p90_hi,
       |  min(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS p99_bin,
       |  (min(CASE WHEN cum * 100 >= n * 99 THEN bin END) + 1)
       |    * $QSketchWidth AS p99_hi
       |FROM w
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Register capacity of [[quantileSketch]] — the fixed sample size
    * (shared with the oracle and the merge spec). */
  val QSampleK = 256

  /** The quantile points [[quantileSketch]] reads out, in percent. */
  val QSketchQs = Seq(10, 50, 90, 99)

  /** The md5-derived draw for [[quantileSketch]]'s registers (shared
    * with the oracle): a deterministic 60-bit uniform per doc. */
  private val qskDrawExpr =
    "cast(conv(substring(md5(concat('qsk', " +
      "cast(doc_id as string))), 1, 15), 16, 10) as bigint)"

  /** The [[quantileSketch]] register set for a (doc_id, v) frame: the
    * [[QSampleK]] rows with the SMALLEST md5-derived draws — a
    * deterministic bottom-k uniform sample. Exposed so the merge spec
    * pins the sketch's defining property on the real code path: the
    * bottom-k of a union of two halves' bottom-k sets IS the
    * full-corpus bottom-k (each register survives iff its draw is
    * among the k smallest overall, and every such draw survives its
    * own half). */
  private[graft] def quantileSketchRegisters(base: DataFrame): DataFrame =
    base
      .withColumn("u", expr(qskDrawExpr))
      .orderBy(col("u"), col("doc_id"))
      .limit(QSampleK)

  /** MERGEABLE RANK SKETCH over document lengths — the KMV/HLL/CMS
    * family's missing member (r16 verdict order #3) and the
    * deterministic stand-in for KLL/t-digest (whose float-centroid,
    * order-dependent merges could never hash-match an oracle): keep
    * the [[QSampleK]] documents with the smallest md5-derived draws —
    * a uniform-without-replacement sample whose registers are exact
    * integers — and read each quantile as the covering value inside
    * the value-sorted register set. Unlike the fixed-grid
    * [[lengthQuantileSketch]] its error is a RANK bound (±O(1/√K)
    * quantile positions, distribution-free), not a value-width bound —
    * the right tool when the value scale is skewed or unknown.
    * The exact nearest-rank quantile is computed alongside and the
    * estimate-vs-exact gap emitted per point, the [[CdcOps.kmvDistinct]]
    * audit convention: at 100 TB only the sketch side ships (a
    * TakeOrderedAndProject — per-partition bottom-k heaps, K rows to
    * the driver, mergeable by construction); the exact side is the
    * audit this query exists to print.
    *
    * Scale shape: registers ride one TakeOrderedAndProject; the
    * read-out windows see ≤ [[QSampleK]] rows; the exact side
    * aggregates to VALUE grain (distinct n_chars — a value-domain,
    * not data-grain, frame) before its ≤|domain|-row cumulative
    * window. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("v"))
    val rr = quantileSketchRegisters(base)
      .withColumn("rv",
        row_number().over(Window.orderBy(col("v"), col("doc_id")))
          .cast("long"))
      .withColumn("k_eff",
        count(lit(1)).over(Window.partitionBy()))
    val estAggs = QSketchQs.map(q =>
      min(when(col("rv") * 100 >= col("k_eff") * q, col("v")))
        .as(s"est_$q"))
    val est = rr.groupBy().agg(estAggs.head, estAggs.tail: _*)
    val cum = base.groupBy("v")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("v")))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
    val exAggs = QSketchQs.map(q =>
      min(when(col("cum") * 100 >= col("n") * q, col("v")))
        .as(s"ex_$q"))
    val ex = cum.groupBy()
      .agg(max(col("n")).as("n_docs"), exAggs: _*)
    val stacked = QSketchQs
      .map(q => s"$q, est_$q, ex_$q").mkString(", ")
    est.crossJoin(ex)
      .select(col("n_docs"), expr(
        s"stack(${QSketchQs.size}, $stacked) AS (q, est_v, exact_v)"))
      .select(col("q"), col("n_docs"), col("est_v"), col("exact_v"),
        abs(col("est_v") - col("exact_v")).as("err_abs"),
        expr("(1000 * abs(est_v - exact_v)) div greatest(1L, exact_v)")
          .as("err_rel_mille"))
      .orderBy("q")
  }

  /** DuckDB oracle for [[quantileSketch]] — same draws, same bottom-k,
    * same covering rules, same integer error read-out. */
  private[graft] def quantileSketchOracleSql: String = {
    val estCols = QSketchQs.map(q =>
      s"min(CASE WHEN rv * 100 >= k_eff * $q THEN v END) AS est_$q")
      .mkString(",\n    ")
    val exCols = QSketchQs.map(q =>
      s"min(CASE WHEN cum * 100 >= n * $q THEN v END) AS ex_$q")
      .mkString(",\n    ")
    val unions = QSketchQs.map(q =>
      s"SELECT $q AS q, n_docs, est_$q AS est_v, ex_$q AS exact_v " +
        "FROM est, ex").mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT doc_id, n_chars AS v FROM documents),
       |reg AS (
       |  SELECT doc_id, v FROM b
       |  ORDER BY CAST('0x' || substr(md5('qsk' ||
       |    CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), doc_id
       |  LIMIT $QSampleK),
       |rr AS (
       |  SELECT v,
       |    CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT) AS rv,
       |    CAST(count(*) OVER () AS BIGINT) AS k_eff
       |  FROM reg),
       |est AS (
       |  SELECT
       |    $estCols
       |  FROM rr),
       |vg AS (SELECT v, count(*) AS cnt FROM b GROUP BY 1),
       |cw AS (
       |  SELECT v,
       |    CAST(sum(cnt) OVER (ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS n
       |  FROM vg),
       |ex AS (
       |  SELECT max(n) AS n_docs,
       |    $exCols
       |  FROM cw),
       |u AS (
       |  $unions)
       |SELECT q, n_docs, est_v, exact_v,
       |  abs(est_v - exact_v) AS err_abs,
       |  CAST((1000 * abs(est_v - exact_v)) // greatest(1, exact_v)
       |    AS BIGINT) AS err_rel_mille
       |FROM u
       |ORDER BY q""".stripMargin
  }

  /** Per-group register capacity of [[quantileSketchGrouped]] —
    * smaller than the global [[QSampleK]] because every group pays it
    * (shared with the oracle and the merge spec). */
  val GroupQSampleK = 64

  /** The per-language register sets of [[quantileSketchGrouped]]: per
    * lang, the [[GroupQSampleK]] docs with the smallest md5-derived
    * draws. The rank filter sits directly on the keyed row_number so
    * it compiles to WindowGroupLimit — each map partition forwards at
    * most K rows per lang BEFORE the exchange, which is what makes a
    * per-group sketch affordable when one group holds most of a 100 TB
    * corpus. Exposed for the merge spec (same bottom-k-per-group law
    * as the global sketch). */
  private[graft] def groupedQuantileRegisters(base: DataFrame)
      : DataFrame = {
    val wCap = Window.partitionBy("lang")
      .orderBy(col("u"), col("doc_id"))
    base
      .withColumn("u", expr(qskDrawExpr))
      .withColumn("rk", row_number().over(wCap))
      .filter(col("rk") <= GroupQSampleK)
      .drop("rk")
  }

  /** PER-GROUP MERGEABLE RANK SKETCH — [[quantileSketch]] at (lang)
    * grain: one bottom-k register set per language, quantiles read by
    * the covering rule inside each group's value-sorted registers,
    * exact nearest-rank computed alongside per group with integer
    * error columns. This is the form a per-language length-filter
    * pipeline actually consumes (the fixed global cut mis-filters CJK
    * against English — [[lengthBoxplot]]'s motivation — but exact
    * per-group percentiles buffer whole groups; per-group bottom-k
    * state is K longs per language, mergeable by construction).
    *
    * Scale shape: the register cap is a keyed row_number whose filter
    * compiles to WindowGroupLimit (plan-asserted via the derived
    * allowlist loop) — map-side capping, so a language holding 90% of
    * the corpus forwards K rows per partition, not its mass; read-out
    * windows see ≤ K rows per lang; the exact side aggregates to
    * (lang, n_chars) value grain before its cumulative window. */
  def quantileSketchGrouped(spark: SparkSession, dir: String)
      : DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars").as("v"))
    val rr = groupedQuantileRegisters(base)
      .withColumn("rv",
        row_number().over(Window.partitionBy("lang")
          .orderBy(col("v"), col("doc_id"))).cast("long"))
      .withColumn("k_eff",
        count(lit(1)).over(Window.partitionBy("lang")))
    val estAggs = QSketchQs.map(q =>
      min(when(col("rv") * 100 >= col("k_eff") * q, col("v")))
        .as(s"est_$q"))
    val est = rr.groupBy("lang").agg(estAggs.head, estAggs.tail: _*)
    val cum = base.groupBy("lang", "v")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy("lang").orderBy("v")))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy("lang")))
    val exAggs = QSketchQs.map(q =>
      min(when(col("cum") * 100 >= col("n") * q, col("v")))
        .as(s"ex_$q"))
    val ex = cum.groupBy("lang")
      .agg(max(col("n")).as("n_docs"), exAggs: _*)
    val stacked = QSketchQs
      .map(q => s"$q, est_$q, ex_$q").mkString(", ")
    est.join(ex, Seq("lang"))
      .select(col("lang"), col("n_docs"), expr(
        s"stack(${QSketchQs.size}, $stacked) AS (q, est_v, exact_v)"))
      .select(col("lang"), col("q"), col("n_docs"), col("est_v"),
        col("exact_v"),
        abs(col("est_v") - col("exact_v")).as("err_abs"),
        expr("(1000 * abs(est_v - exact_v)) div greatest(1L, exact_v)")
          .as("err_rel_mille"))
      .orderBy("lang", "q")
  }

  /** DuckDB oracle for [[quantileSketchGrouped]] — same per-lang
    * draws, caps, covering rules, and integer error read-out. */
  private[graft] def quantileSketchGroupedOracleSql: String = {
    val estCols = QSketchQs.map(q =>
      s"min(CASE WHEN rv * 100 >= k_eff * $q THEN v END) AS est_$q")
      .mkString(",\n    ")
    val exCols = QSketchQs.map(q =>
      s"min(CASE WHEN cum * 100 >= n * $q THEN v END) AS ex_$q")
      .mkString(",\n    ")
    val unions = QSketchQs.map(q =>
      s"SELECT est.lang, $q AS q, ex.n_docs, est.est_$q AS est_v, " +
        s"ex.ex_$q AS exact_v FROM est JOIN ex ON est.lang = ex.lang")
      .mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT lang, doc_id, n_chars AS v FROM documents),
       |reg AS (
       |  SELECT lang, doc_id, v FROM (
       |    SELECT lang, doc_id, v,
       |      row_number() OVER (PARTITION BY lang ORDER BY
       |        CAST('0x' || substr(md5('qsk' ||
       |          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), doc_id)
       |        AS rk
       |    FROM b)
       |  WHERE rk <= $GroupQSampleK),
       |rr AS (
       |  SELECT lang, v,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY v, doc_id) AS BIGINT) AS rv,
       |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS k_eff
       |  FROM reg),
       |est AS (
       |  SELECT lang,
       |    $estCols
       |  FROM rr GROUP BY lang),
       |vg AS (SELECT lang, v, count(*) AS cnt FROM b GROUP BY 1, 2),
       |cw AS (
       |  SELECT lang, v,
       |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM vg),
       |ex AS (
       |  SELECT lang, max(n) AS n_docs,
       |    $exCols
       |  FROM cw GROUP BY lang),
       |u AS (
       |  $unions)
       |SELECT lang, q, n_docs, est_v, exact_v,
       |  abs(est_v - exact_v) AS err_abs,
       |  CAST((1000 * abs(est_v - exact_v)) // greatest(1, exact_v)
       |    AS BIGINT) AS err_rel_mille
       |FROM u
       |ORDER BY lang, q""".stripMargin
  }

  /** Register budgets swept by [[quantileSketchCalibration]] (shared
    * with the oracle). The largest must equal [[QSampleK]] so the
    * sweep reads PREFIXES of the one shipped register set. */
  val QCalibKs = Seq(16, 64, 256)

  /** QUANTILE-SKETCH CALIBRATION — the advisor that prices the
    * [[QSampleK]] choice: for each candidate register budget K, read
    * the sketch's quantile estimates and score each against the TRUE
    * cdf position of the estimated value, in floor-milli
    * (rank_err_mille = |cdf_mille(est) − 10·q| — the rank error is the
    * distribution-free quantity a bottom-k sample controls, ±O(1/√K);
    * value error depends on local density and is already reported by
    * [[quantileSketch]]). The sweep exploits the sketch's prefix
    * property: the bottom-16 draws are a PREFIX of the bottom-256 in
    * draw order, so one TakeOrderedAndProject pays for every budget
    * and the per-K read-outs are windows over a checkpointed ≤256-row
    * frame. The exact side is the same (n_chars)-value-grain
    * cumulative the sketch family already uses; the estimate's cdf
    * position is one hash join of ≤12 estimate rows against it. */
  def quantileSketchCalibration(spark: SparkSession, dir: String)
      : DataFrame = {
    require(QCalibKs.max == QSampleK,
      "the sweep must read prefixes of the shipped register set")
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("v"))
    // Checkpointed so the three prefix read-outs share one corpus
    // pass (the frame is <= QSampleK rows).
    val regs = quantileSketchRegisters(base)
      .withColumn("ru", row_number()
        .over(Window.orderBy(col("u"), col("doc_id"))).cast("long"))
      .localCheckpoint()
    val est = QCalibKs.map { k =>
      val sub = regs.filter(col("ru") <= k)
        .withColumn("rv", row_number()
          .over(Window.orderBy(col("v"), col("doc_id"))).cast("long"))
        .withColumn("k_eff", count(lit(1)).over(Window.partitionBy()))
      val aggs = QSketchQs.map(q =>
        min(when(col("rv") * 100 >= col("k_eff") * q, col("v")))
          .as(s"est_$q"))
      sub.groupBy().agg(aggs.head, aggs.tail: _*)
        .withColumn("k", lit(k))
    }.reduce(_.unionByName(_))
    val stackQ = QSketchQs.map(q => s"$q, est_$q").mkString(", ")
    val estLong = est.select(col("k"), expr(
      s"stack(${QSketchQs.size}, $stackQ) AS (q, est_v)"))
    val cum = base.groupBy("v")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("v")))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
    val exAggs = QSketchQs.map(q =>
      min(when(col("cum") * 100 >= col("n") * q, col("v")))
        .as(s"ex_$q"))
    val ex = cum.groupBy().agg(max(col("n")).as("n_docs"), exAggs: _*)
    val exLong = ex.select(col("n_docs"), expr(
      s"stack(${QSketchQs.size}, ${QSketchQs.map(q => s"$q, ex_$q")
        .mkString(", ")}) AS (q, exact_v)"))
    estLong.join(exLong, Seq("q"))
      .join(cum.select(col("v").as("est_v"), col("cum"), col("n")),
        Seq("est_v"))
      .select(col("k"), col("q"), col("n_docs"), col("est_v"),
        col("exact_v"),
        expr("(1000 * cum) div n").as("cdf_mille"))
      .withColumn("rank_err_mille",
        abs(col("cdf_mille") - col("q") * 10))
      .orderBy("k", "q")
  }

  /** DuckDB oracle for [[quantileSketchCalibration]] — same prefix
    * read-outs, same covering rules, same floor-milli cdf scoring. */
  private[graft] def quantileSketchCalibrationOracleSql: String = {
    val estCols = QSketchQs.map(q =>
      s"min(CASE WHEN rv * 100 >= k_eff * $q THEN v END) AS est_$q")
      .mkString(",\n    ")
    val exCols = QSketchQs.map(q =>
      s"min(CASE WHEN cum * 100 >= n * $q THEN v END) AS ex_$q")
      .mkString(",\n    ")
    val perK = QCalibKs.map { k =>
      s"""rr_$k AS (
         |  SELECT v,
         |    CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT)
         |      AS rv,
         |    CAST(count(*) OVER () AS BIGINT) AS k_eff
         |  FROM reg WHERE ru <= $k),
         |est_$k AS (
         |  SELECT
         |    $estCols
         |  FROM rr_$k)""".stripMargin
    }.mkString(",\n")
    val estUnion = (for (k <- QCalibKs; q <- QSketchQs) yield
      s"SELECT $k AS k, $q AS q, est_$q AS est_v FROM est_$k")
      .mkString("\n  UNION ALL ")
    val exUnion = QSketchQs.map(q =>
      s"SELECT $q AS q, n_docs, ex_$q AS exact_v FROM ex")
      .mkString("\n  UNION ALL ")
    s"""WITH b AS (SELECT doc_id, n_chars AS v FROM documents),
       |reg AS (
       |  SELECT doc_id, v,
       |    CAST(row_number() OVER (ORDER BY
       |      CAST('0x' || substr(md5('qsk' ||
       |        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), doc_id)
       |      AS BIGINT) AS ru
       |  FROM b),
       |$perK,
       |eu AS (
       |  $estUnion),
       |vg AS (SELECT v, count(*) AS cnt FROM b GROUP BY 1),
       |cw AS (
       |  SELECT v,
       |    CAST(sum(cnt) OVER (ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS n
       |  FROM vg),
       |ex AS (
       |  SELECT max(n) AS n_docs,
       |    $exCols
       |  FROM cw),
       |xu AS (
       |  $exUnion)
       |SELECT eu.k, eu.q, xu.n_docs, eu.est_v, xu.exact_v,
       |  CAST((1000 * cw.cum) // cw.n AS BIGINT) AS cdf_mille,
       |  abs(CAST((1000 * cw.cum) // cw.n AS BIGINT) - eu.q * 10)
       |    AS rank_err_mille
       |FROM eu
       |JOIN xu ON eu.q = xu.q
       |JOIN cw ON eu.est_v = cw.v
       |ORDER BY eu.k, eu.q""".stripMargin
  }

  /** Shards for [[curriculumInterleave]]'s per-source rank windows. */
  val InterleaveShards = 8

  /** Deterministic source-interleaved training ORDER — the data-order
    * op an epoch builder runs last: lay documents out so consecutive
    * training positions rotate through sources (no source ever
    * dominates a context window's neighborhood) and the layout is a
    * pure function of ids (reproducible across runs, engines, and
    * cluster layouts — the same determinism contract as
    * [[trainValSplit]]). Each doc gets `pos = ((rk−1)·S + shard)·n_src
    * + src_idx`: round-robin across sources by construction (positions
    * mod n_src = the source's index), hash-shuffled within a source
    * (rank by 60-bit md5 of doc_id), and SHARDED so no per-source
    * global window exists — rank windows run at (source, shard) grain,
    * S× the parallelism of a naive per-source row_number, the
    * [[tokenBudgetSample]] shard pattern. `pos` is a sparse total sort
    * key, not a dense index: density would need exactly the global
    * coordination the sharding avoids, and a consumer only ever sorts
    * by it. The source index comes from a bin-grain rank over the
    * (tiny, bounded) distinct-source frame. */
  def curriculumInterleave(spark: SparkSession, dir: String): DataFrame = {
    val srcIdx = Tables.documents(spark, dir)
      .select(col("source")).distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy("source")) - 1)
      .withColumn("n_src",
        count(lit(1)).over(Window.partitionBy(lit(1))))
    val ranked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        h60("cast(doc_id as string)").as("ord"))
      .withColumn("shard",
        pmod(col("ord"), lit(InterleaveShards.toLong)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source", "shard").orderBy("ord", "doc_id")))
    ranked.join(broadcast(srcIdx), "source")
      .select(col("doc_id"), col("source"),
        (((col("rk") - 1).cast("long") * InterleaveShards + col("shard"))
          * col("n_src") + col("src_idx")).as("pos"))
      .orderBy("pos")
  }

  /** DuckDB oracle for [[curriculumInterleave]] — same hash, same
    * shard/rank/index arithmetic. */
  private[graft] def curriculumInterleaveOracleSql: String =
    s"""WITH s AS (
       |  SELECT source,
       |    CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
       |      AS src_idx,
       |    CAST(count(*) OVER () AS BIGINT) AS n_src
       |  FROM (SELECT DISTINCT source FROM documents)),
       |r AS (
       |  SELECT doc_id, source, ord, ord % $InterleaveShards AS shard,
       |    CAST(row_number() OVER (PARTITION BY source,
       |      ord % $InterleaveShards ORDER BY ord, doc_id) AS BIGINT)
       |      AS rk
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |        AS BIGINT) AS ord
       |    FROM documents))
       |SELECT r.doc_id, r.source,
       |  ((r.rk - 1) * $InterleaveShards + r.shard) * s.n_src + s.src_idx
       |    AS pos
       |FROM r JOIN s ON r.source = s.source
       |ORDER BY pos""".stripMargin

  /** Cross-source contamination screen — the train/test decontamination
    * pass of a dataset pipeline: for every pair of sources, how many
    * content groups they share. Grouping is on the order-insensitive
    * bag-of-words fingerprint (a reordered copy of a test document in
    * the training crawl is still contamination), so this catches what
    * exact-hash dedup misses. One hash aggregate + a per-group source-set
    * explode; no pairwise document join at any scale. The source pairs
    * are the one nested-lambda explode outside [[Candidates.pairs]]: a
    * bag's source set has a handful of members, and the posting
    * self-join measured slower on it (sf0.1, 4 cores, interleaved in
    * one JVM: 0.36 s against 0.31 s), paying a second shuffle and a
    * sort for pairs the lambda emits from one aggregate row. */
  def crossSourceContamination(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(array_join(array_sort(array_distinct(tokens)), " "))
        .as("bag"))
      .agg(array_sort(collect_set(col("source"))).as("sources"))
      .filter(size(col("sources")) > 1)
      .select(explode(expr(
        """flatten(transform(sources, x ->
             transform(filter(sources, y -> y > x), y ->
               named_struct('src_a', x, 'src_b', y))))""")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")

  /** DuckDB oracle for [[crossSourceContamination]]. */
  private[graft] def crossSourceContaminationOracleSql: String =
    """WITH g AS (
      |  SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag,
      |    list_sort(list_distinct(list(source))) AS sources
      |  FROM documents
      |  GROUP BY 1)
      |SELECT t1.s AS src_a, t2.s AS src_b, count(*) AS n_shared
      |FROM g, unnest(g.sources) AS t1(s), unnest(g.sources) AS t2(s)
      |WHERE t1.s < t2.s
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Vocabulary head: corpus-wide token frequencies, top `k` by
    * (count desc, token) — the vocabulary/stopword audit a tokenizer
    * pipeline runs before training a BPE merge table. Explode → one hash
    * aggregate on the token → TakeOrderedAndProject: the full frequency
    * table never sorts globally, and the map-side partial aggregation
    * collapses each partition's duplicates before the shuffle (token
    * cardinality ≪ token count at any scale). */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(tokens).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** BPE-ish pre-tokenizer pattern (shared with the oracle): letter
    * runs, digit runs, and single non-alphanumeric marks — the classic
    * GPT-2-style pre-split shape a byte-pair tokenizer refines. Kept to
    * character classes that mean the same thing in Java regex (Spark)
    * and RE2 (DuckDB). */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Token-count accounting: whitespace tokens vs BPE-ish pre-tokens
    * per document plus the chars-per-token compression ratio — the
    * token-budget estimate a training pipeline runs before paying for
    * real tokenization. Linear scan, one codegen'd regex projection per
    * document. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(tokens).as("n_ws_tokens"),
        size(expr(s"regexp_extract_all(text, '$BpeTokenPattern', 0)"))
          .as("n_bpe_tokens"))
      // Null (not NaN/Infinity) when a document yields zero BPE tokens
      // (empty or all-space text): Spark and DuckDB disagree on float
      // division-by-zero semantics, and null is the honest answer for a
      // ratio with no denominator. Oracle mirrors via NULLIF.
      .withColumn("chars_per_bpe_token",
        when(col("n_bpe_tokens") > 0,
          col("n_chars").cast("double") / col("n_bpe_tokens").cast("double")))
      .orderBy("doc_id")

  /** DuckDB oracle for [[tokenCounts]]. */
  private[graft] def tokenCountsOracleSql: String =
    s"""SELECT doc_id, n_chars,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$BpeTokenPattern')) AS INT)
       |    AS n_bpe_tokens,
       |  CAST(n_chars AS DOUBLE)
       |    / NULLIF(CAST(len(regexp_extract_all(text, '$BpeTokenPattern')) AS DOUBLE), 0)
       |    AS chars_per_bpe_token
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** A document is flagged repetitive when its most frequent token
    * accounts for at least this share of all tokens (shared with the
    * oracle). */
  val RepetitiveTopRatio = 0.05

  /** Repetition screen: per document, how dominant is the single most
    * frequent token — the cheap repetition/boilerplate quality signal
    * (template pages and keyword-stuffed spam score high; natural prose
    * stays low). Two hash aggregates — (doc, token) counts, then a
    * per-doc rollup — both key-partitioned, no window and no sort until
    * the final output ordering. */
  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tokens"),
        max(col("c")).as("top_token_count"),
        count(lit(1)).as("n_distinct"))
      .withColumn("top_ratio",
        col("top_token_count").cast("double") /
          col("n_tokens").cast("double"))
      .withColumn("repetitive", col("top_ratio") >= RepetitiveTopRatio)
      .orderBy("doc_id")

  /** Rolling-hash parameters (shared with the oracle): polynomial base
    * and modulus, applied over per-token hashes in token order. */
  val RollBase = 1048573L
  val RollMod = 2147483647L

  /** Order-sensitive document fingerprint: a polynomial rolling hash
    * over the token stream — fold((acc * B + h(token)) mod M) in token
    * order — versus `docFingerprints`' order-insensitive bag hash.
    * Two docs with identical token multisets but different order get the
    * same bag_md5 and DIFFERENT roll_hash.
    *
    * The md5 runs in a CODEGEN'D projection over exploded (doc, pos,
    * token) rows — the earlier form hashed inside the fold lambda, and
    * HOF lambdas evaluate interpreted per element (tokens × docs
    * interpreted md5 was 12 s of the sf0.1 bench vs ~1 s for this
    * shape). The fold itself stays a per-doc lambda, but over plain
    * 64-bit ints in token order (array_sort on (pos, h) structs), which
    * is cheap. One hash shuffle on doc_id — the same posture as the
    * minhash pipeline. Intermediate values stay < 2^52 (M ≈ 2^31,
    * B ≈ 2^20), so the fold is exact in 64-bit integers in both
    * engines. The per-doc collect buffer is bounded by the longest
    * SINGLE document — the invariant every per-document op here shares
    * (the quality gate upstream is what caps document size in a real
    * pipeline), unlike a bucket membership whose size is data-coupled
    * across documents and therefore rank-capped. */
  def rollingFingerprints(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Natives.ensure(spark)
    Tables.documents(spark, dir)
      // Null-text docs emit NO fingerprint row, by construction on BOTH
      // sides (the oracle filters identically): the inner posexplode
      // would silently drop them here anyway while the oracle kept a
      // null row — an explicit symmetric filter instead of a corpus
      // invariant.
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"),
        expr(s"cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint) % $RollMod")
          .as("h"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("h"))))
        .as("hs"))
      // The fold is the native poly_roll expression
      // ([[graft.functions.PolyRollHash]]): the previous aggregate()
      // HOF evaluated its lambda interpreted per token — cheap in a
      // fresh JVM, multi-second jitter once the bench JVM carried
      // enough generated code. Same left-to-right (pos-sorted)
      // arithmetic; the oracle's list_reduce form is unchanged.
      .select(
        col("doc_id"),
        size(col("hs")).as("n_tokens"),
        expr(s"poly_roll(hs, ${RollBase}L, ${RollMod}L)").as("roll_hash"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[rollingFingerprints]] — list_reduce has no
    * initial accumulator, so a 0 is prepended to match Spark's
    * aggregate(…, 0, …) fold exactly. */
  private[graft] def rollingFingerprintsOracleSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '), t ->
       |        CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $RollMod)),
       |    (acc, x) -> (acc * $RollBase + x) % $RollMod) AS roll_hash
       |FROM documents
       |WHERE text IS NOT NULL
       |ORDER BY doc_id""".stripMargin

  // ==========================================================================
  // Dataset assembly: deterministic splits, stratified samples, chunking
  // ==========================================================================

  /** Split fractions in percent: train = [0, TrainPct), val =
    * [TrainPct, TrainPct+ValPct), test = the rest (shared with the
    * oracle). */
  val TrainPct = 90
  val ValPct = 5

  /** 60-bit md5 integer of an expression, the cross-engine deterministic
    * hash (15 hex chars stay positive in a signed 64-bit long in both
    * engines). */
  private def h60(sqlExpr: String): Column =
    expr(s"cast(conv(substring(md5($sqlExpr), 1, 15), 16, 10) as bigint)")

  /** Deterministic train/val/test assignment — the split step every
    * training pipeline runs last. Membership is a pure function of
    * doc_id (hash mod 100 against fixed percent bands), so the split is
    * reproducible across runs, clusters, and engines, needs no stored
    * split table, and any JOIN-shaped leak check can recompute it.
    * Embarrassingly parallel: one codegen'd projection, no shuffle at
    * all before the output sort. */
  def trainValSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        pmod(h60("cast(doc_id as string)"), lit(100)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  /** DuckDB oracle for [[trainValSplit]]. */
  private[graft] def trainValSplitOracleSql: String =
    s"""SELECT doc_id, lang, source, bucket,
       |  CASE WHEN bucket < $TrainPct THEN 'train'
       |       WHEN bucket < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, lang, source,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
       |      AS bucket
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Vocabulary size for the OOV screen (shared with the oracle). */
  val OovVocabK = 20

  /** Coverage checkpoints for [[vocabCoverageCurve]] (shared with the
    * oracle). */
  val CoverageKs: Seq[Int] =
    Seq(1, 2, 5, 10, 20, 50, 100, 200, 500, 1000)

  /** VOCABULARY COVERAGE CURVE — cumulative share of total token mass
    * covered by the top-k vocabulary, sampled at the [[CoverageKs]]
    * checkpoints: the sizing curve behind every "how big must the
    * tokenizer vocab be" decision (a steep curve means a small vocab
    * suffices; a flat tail predicts the [[oovRate]] cost of truncating
    * it). Rank order is the deterministic (count DESC, token) total
    * order; coverage is the standing non-negative floor-div mille, so
    * every emitted value is an exact integer.
    *
    * Scale: explode → one map-side-combinable hash aggregate at token
    * grain; the rank+cumsum then ride ONE
    * [[GlobalRank.withRowNumberAndRunningSum]] two-phase pass — vocab
    * cardinality is ≪ corpus but still DATA-scaled (Heaps' law: tens
    * of millions of types at real corpus sizes), so a naive
    * unpartitioned window (`Exchange SinglePartition` holding the
    * whole vocabulary in one task) is not acceptable; the total is a
    * 1-row broadcast anchor and the checkpoint filter prunes before
    * emission. */
  def vocabCoverageCurve(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(tokens).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
    // r18 (guide §1.2): the total-token anchor reads the GlobalRank
    // checkpoint — the old `freq.agg` re-ran the full token explode +
    // vocabulary aggregate a second time for one number.
    val ranked = GlobalRank.withRowNumberAndRunningSum(freq, "k_rn", "n",
      "cum_tokens", Seq(col("n").desc, col("token")))
    ranked
      .withColumn("k", col("k_rn").cast("int"))
      .crossJoin(broadcast(ranked.agg(sum(col("n")).as("total_tokens"))))
      .filter(col("k").isin(CoverageKs.map(Integer.valueOf): _*))
      .select(col("k"), col("token").as("token_at_k"), col("cum_tokens"),
        col("total_tokens"),
        expr("(cum_tokens * 1000) div total_tokens").as("coverage_mille"))
      .orderBy("k")
  }

  /** DuckDB oracle for [[vocabCoverageCurve]] — same total order, same
    * HUGEINT-cast window sums, same checkpoint list. */
  private[graft] def vocabCoverageCurveOracleSql: String =
    s"""WITH f AS (
       |  SELECT token, count(*) AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token
       |    FROM documents WHERE text IS NOT NULL)
       |  GROUP BY 1),
       |r AS (
       |  SELECT token, n,
       |    row_number() OVER (ORDER BY n DESC, token) AS k,
       |    CAST(sum(n) OVER (ORDER BY n DESC, token
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens,
       |    CAST(sum(n) OVER () AS BIGINT) AS total_tokens
       |  FROM f)
       |SELECT CAST(k AS INTEGER) AS k, token AS token_at_k, cum_tokens,
       |  total_tokens,
       |  (cum_tokens * 1000) // total_tokens AS coverage_mille
       |FROM r
       |WHERE k IN (${CoverageKs.mkString(", ")})
       |ORDER BY k""".stripMargin

  /** Out-of-vocabulary rate — tokenizer health per document: what share
    * of a document's tokens fall outside the corpus's
    * top-[[OovVocabK]] vocabulary. High-OOV documents are the ones a
    * fixed tokenizer will shred into bytes (or a cheap filter should
    * route to review). Vocab selection is the deterministic
    * (count desc, token asc) head; the membership test is one broadcast
    * of K tokens against the exploded stream, flagged in a LEFT join so
    * totals and known-counts come from a single aggregate — one corpus
    * scan for the stream plus one for the vocab head, nothing
    * quadratic. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val vocab = vocabTopK(spark, dir, OovVocabK)
      .select(col("token"), lit(1L).as("known"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(tokens).as("token"))
      .join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("known"), lit(0L))).as("n_known"))
      .select(col("doc_id"), col("n_tokens"), col("n_known"),
        (col("n_tokens") - col("n_known")).as("n_oov"),
        ((col("n_tokens") - col("n_known")).cast("double") /
          col("n_tokens").cast("double")).as("oov_ratio"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[oovRate]] — same vocab head, same flagged-join
    * accounting, same exact IEEE division. */
  private[graft] def oovRateOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents WHERE text IS NOT NULL),
       |v AS (
       |  SELECT token FROM tok
       |  GROUP BY token
       |  ORDER BY count(*) DESC, token
       |  LIMIT $OovVocabK),
       |f AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN token IN (SELECT token FROM v)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_known
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_known,
       |  n_tokens - n_known AS n_oov,
       |  CAST(n_tokens - n_known AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    AS oov_ratio
       |FROM f
       |ORDER BY doc_id""".stripMargin

  /** Split-balance QA — the distribution check after dataset assembly:
    * per (split, lang), document and character counts plus each
    * language's share of its split. A skewed share (a language
    * over-represented in val vs train) is the classic silent eval bias;
    * the window sum per split makes the share exact (IEEE division of
    * exact longs). */
  def splitBalance(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("split")
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"),
        pmod(h60("cast(doc_id as string)"), lit(100)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("split_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(w).cast("double"))
      .orderBy("split", "lang")
  }

  /** DuckDB oracle for [[splitBalance]]. */
  private[graft] def splitBalanceOracleSql: String =
    s"""WITH b AS (
       |  SELECT lang, n_chars,
       |    CASE WHEN bucket < $TrainPct THEN 'train'
       |         WHEN bucket < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (
       |    SELECT lang, n_chars,
       |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
       |        AS bucket
       |    FROM documents)),
       |g AS (
       |  SELECT split, lang, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars
       |  FROM b GROUP BY split, lang)
       |SELECT split, lang, n_docs, total_chars,
       |  CAST(n_docs AS DOUBLE) /
       |    CAST(sum(n_docs) OVER (PARTITION BY split) AS DOUBLE)
       |    AS split_share
       |FROM g
       |ORDER BY split, lang""".stripMargin

  /** Eval-set decontamination — the check an LLM pipeline runs before
    * trusting its held-out numbers: val/test documents sharing a chunk
    * fingerprint ([[docChunks]]' 64-token window hashes) with ANY train
    * document, i.e. evaluation text the model may have memorized from
    * training. Reuses [[trainValSplit]]'s hash-band assignment (a pure
    * function of doc_id) and the chunk stream: the train side collapses
    * to DISTINCT fingerprints before the join, the eval side is the
    * split's small minority, and the semi join is a plain hash join on
    * the fingerprint — each side shuffles once on chunk_hash, nothing
    * quadratic. An exact document duplicate straddling the split
    * boundary is the canonical catch (every window shared). */
  def splitContamination(spark: SparkSession, dir: String): DataFrame = {
    val chunks = docChunksCore(spark, dir)
      .select(col("doc_id"), col("chunk_hash"))
      .withColumn("bucket",
        pmod(h60("cast(doc_id as string)"), lit(100)))
    val trainHashes = chunks.filter(col("bucket") < TrainPct)
      .select("chunk_hash").distinct()
    chunks.filter(col("bucket") >= TrainPct)
      .join(trainHashes, Seq("chunk_hash"), "left_semi")
      .groupBy("doc_id", "bucket")
      .agg(countDistinct(col("chunk_hash")).as("n_shared_chunks"))
      .select(col("doc_id"),
        when(col("bucket") < TrainPct + ValPct, "val").otherwise("test")
          .as("split"),
        col("n_shared_chunks"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[splitContamination]] — same chunk geometry,
    * same hash bands, same distinct-fingerprint semi join. */
  private[graft] def splitContaminationOracleSql: String =
    s"""WITH c AS (
       |${docChunksOracleSql.replace("ORDER BY doc_id, chunk_id", "")}),
       |b AS (
       |  SELECT doc_id, chunk_hash,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
       |      AS bucket
       |  FROM c),
       |tr AS (SELECT DISTINCT chunk_hash FROM b WHERE bucket < $TrainPct)
       |SELECT doc_id,
       |  CASE WHEN bucket < ${TrainPct + ValPct} THEN 'val' ELSE 'test' END
       |    AS split,
       |  count(DISTINCT chunk_hash) AS n_shared_chunks
       |FROM b
       |WHERE bucket >= $TrainPct
       |  AND chunk_hash IN (SELECT chunk_hash FROM tr)
       |GROUP BY doc_id, bucket
       |ORDER BY doc_id""".stripMargin

  /** Word n-gram width for [[ngramDecontam]] (real pipelines run 8–13;
    * 3 keeps collisions nonzero on the short synthetic docs — the
    * machinery is width-independent). */
  val DecontamN = 3

  /** Word 3-grams of a pre-split token array column — the O(n)
    * zip_with composition ([[shingles]]' trick widened one step:
    * ((t_i · t_{i+1}) · t_{i+2})); the <n guard returns an explicit
    * empty array for the same `sequence(1, 0)`-descends reason. */
  private def ngrams3(toksCol: String): Column =
    expr(s"""case when size($toksCol) < 3
              then cast(array() as array<string>)
              else zip_with(
                zip_with(
                  slice($toksCol, 1, size($toksCol) - 2),
                  slice($toksCol, 2, size($toksCol) - 2),
                  (x, y) -> concat(x, ' ', y)),
                slice($toksCol, 3, size($toksCol) - 2),
                (xy, z) -> concat(xy, ' ', z))
            end""")

  /** n-gram eval decontamination, the GPT-3 direction: flag TRAIN
    * documents that share any word [[DecontamN]]-gram with the held-out
    * split, so they can be dropped from training before the eval is
    * compromised ([[splitContamination]] is the mirror check — eval
    * docs contaminated by train chunks; this one is finer-grained and
    * aims the removal at the training side, which is what the GPT-3 /
    * PaLM decontamination appendix actually does). Per train doc:
    * distinct n-grams, distinct n-grams also present anywhere in eval,
    * the hit share, and the drop flag.
    *
    * Scale shape: the corpus is scanned once per side for n-grams (one
    * codegen'd projection + explode, hashes immediately — strings never
    * shuffle); the eval side collapses to DISTINCT 60-bit hashes and is
    * BROADCAST (an eval set is tiny by construction — broadcasting the
    * dirty list is the canonical decontamination join at any corpus
    * size); the train side aggregates partial+final per doc. Nothing
    * quadratic, no corpus-side shuffle except the per-doc aggregate. */
  def ngramDecontam(spark: SparkSession, dir: String): DataFrame = {
    // Distinct-compact each side on the gram TEXT before hashing (the
    // [[bloomDecontam]] restructure): the 60-bit md5 runs once per
    // distinct eval gram / distinct train (doc, gram) instead of once
    // per occurrence per consumer, and the per-doc tallies become
    // plain counts over the pre-compacted frame (countDistinct's
    // in-aggregate dedup priced the distinct anyway).
    val gramsRaw = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        pmod(h60("cast(doc_id as string)"), lit(100)).as("bucket"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("bucket"),
        explode(ngrams3("toks")).as("g"))
    // The trailing hash-keyed distincts keep the contract symmetric
    // with the oracle under a 60-bit collision (it dedups on the HASH,
    // not the gram text); they run over the already-compacted frames.
    val evalGrams = gramsRaw.filter(col("bucket") >= TrainPct)
      .select("g").distinct()
      .select(h60("g").as("ev_gh")).distinct()
    gramsRaw.filter(col("bucket") < TrainPct)
      .select("doc_id", "g").distinct()
      .select(col("doc_id"), h60("g").as("gh")).distinct()
      .join(broadcast(evalGrams), col("gh") === col("ev_gh"), "left")
      .groupBy("doc_id")
      .agg(
        count(col("gh")).as("n_ngrams"),
        count(col("ev_gh")).as("n_hits"))
      .withColumn("hit_rate",
        col("n_hits").cast("double") / col("n_ngrams").cast("double"))
      .withColumn("contaminated", col("n_hits") > 0)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[ngramDecontam]] — same 3-gram stream (DuckDB
    * builds it with a list comprehension over 1-based slices), same
    * hash bands, same distinct-hit LEFT join. */
  private[graft] def ngramDecontamOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % 100 AS bucket,
       |    string_split(text, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (
       |  SELECT doc_id, bucket,
       |    CAST('0x' || substr(md5(gr), 1, 15) AS BIGINT) AS gh
       |  FROM (
       |    SELECT doc_id, bucket,
       |      unnest(list_transform(generate_series(1, len(toks) - 2),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |        AS gr
       |    FROM d WHERE len(toks) >= 3)),
       |ev AS (SELECT DISTINCT gh AS ev_gh FROM g
       |       WHERE bucket >= $TrainPct),
       |tr AS (SELECT doc_id, gh FROM g WHERE bucket < $TrainPct)
       |SELECT tr.doc_id,
       |  count(DISTINCT tr.gh) AS n_ngrams,
       |  count(DISTINCT ev.ev_gh) AS n_hits,
       |  CAST(count(DISTINCT ev.ev_gh) AS DOUBLE)
       |    / CAST(count(DISTINCT tr.gh) AS DOUBLE) AS hit_rate,
       |  count(DISTINCT ev.ev_gh) > 0 AS contaminated
       |FROM tr LEFT JOIN ev ON tr.gh = ev.ev_gh
       |GROUP BY tr.doc_id
       |ORDER BY tr.doc_id""".stripMargin

  /** Documents kept per language stratum by [[stratifiedSample]]
    * (shared with the oracle). */
  val StratumSampleK = 50

  /** Deterministic stratified sample: the k lowest-salted-hash documents
    * per language — a uniform-at-random-but-reproducible pick (the hash
    * is a fixed permutation of doc ids), the eval-set / human-review
    * sampling step of a data pipeline. The salt decorrelates the sample
    * order from [[trainValSplit]]'s bucket hash. rank ≤ k over the
    * hash order compiles to WindowGroupLimit: each map partition
    * forwards at most k rows per stratum, so the sample of a 100 TB
    * corpus shuffles ~k × strata rows, not the corpus. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        h60("concat('smpl:', cast(doc_id as string))").as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratumSampleK)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  /** DuckDB oracle for [[stratifiedSample]]. */
  private[graft] def stratifiedSampleOracleSql: String =
    s"""SELECT lang, rk, doc_id FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY
       |      CAST('0x' || substr(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
       |      doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $StratumSampleK
       |ORDER BY lang, rk""".stripMargin

  /** Near-dup CLUSTERS from near-dup pairs: connected components over
    * the capped-Jaccard edge set, each doc labelled by its component's
    * minimum doc_id ([[Components.label]]) — the step that turns
    * pairwise detections into dedup groups (keep `component_id`, drop
    * the rest). Vertices are docs with ≥1 near-dup pair only; at scale
    * the search is diameter-bound over an edge set already blocked and
    * df-capped upstream. Served from the `cc_labels` memo. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    dedupComponentsCore(spark, dir).orderBy("doc_id")

  /** [[dedupComponents]] computed fresh on every call instead of served
    * from the `cc_labels` memo: same labels, same oracle, and its bench
    * time is the full connected-components search over the memoized
    * pair set. */
  def dedupComponentsDf(spark: SparkSession, dir: String): DataFrame =
    Components.label(nearDupPairsCore(spark, dir).select("doc_a", "doc_b"))
      .select(col("v").as("doc_id"), col("component_id"))
      .orderBy("doc_id")

  /** Near-dup degree above which a document is a HUB for
    * [[dedupComponentsGuarded]] (shared with the oracle). Shipped-corpus
    * degrees max out at 2 (blocked + df-capped pairs), so the guard
    * bites nothing here — the crafted-fixture spec proves it bites; a
    * boilerplate-heavy crawl is where it matters. */
  val TextDupDegreeCap = 5

  /** DENSITY-GUARDED text CC — [[dedupComponents]] with the hub guard
    * of [[Components.label]] at [[TextDupDegreeCap]]: a doc whose
    * verified near-dup degree exceeds the cap is a HUB (a
    * template/boilerplate family centre — exactly what
    * [[pageRankNearDup]] scores high), its edges are excluded from the
    * closure, and it emits as its own flagged singleton component. This
    * is the structural answer to CC's over-merge failure mode at corpus
    * scale: transitive chains A≈B≈C≈… through template pages merge
    * unrelated content; cutting at the high-degree nodes keeps genuine
    * pairwise clusters intact. The oracle runs the same degree predicate
    * inside its recursive closure, so the guard itself is hash-verified. */
  def dedupComponentsGuarded(spark: SparkSession, dir: String): DataFrame =
    Components.label(nearDupPairsCore(spark, dir).select("doc_a", "doc_b"),
        Some(TextDupDegreeCap))
      .select(col("v").as("doc_id"), col("component_id"), col("is_hub"))
      .orderBy("doc_id")

  /** DuckDB oracle for [[dedupComponentsGuarded]] — same capped pair
    * base, same degree predicate, same guarded recursive closure. */
  private[graft] def dedupComponentsGuardedOracleSql(
      shinglesSql: String): String =
    s"""WITH RECURSIVE base AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)
          .replace("ORDER BY 1, 2", "")}),
       |e AS (
       |  SELECT doc_a, doc_b FROM base
       |  UNION ALL SELECT doc_b, doc_a FROM base),
       |hub AS (
       |  SELECT doc_a AS u FROM e GROUP BY doc_a
       |  HAVING count(*) > $TextDupDegreeCap),
       |ge AS (
       |  SELECT doc_a, doc_b FROM e
       |  WHERE doc_a NOT IN (SELECT u FROM hub)
       |    AND doc_b NOT IN (SELECT u FROM hub)),
       |r AS (
       |  SELECT doc_a AS v, doc_a AS u FROM ge
       |  UNION
       |  SELECT r.v, ge.doc_b AS u FROM r JOIN ge ON r.u = ge.doc_a),
       |lbl AS (SELECT v, min(u) AS l FROM r GROUP BY v),
       |u0 AS (SELECT DISTINCT doc_a AS d FROM e)
       |SELECT u0.d AS doc_id, coalesce(lbl.l, u0.d) AS component_id,
       |  u0.d IN (SELECT u FROM hub) AS is_hub
       |FROM u0 LEFT JOIN lbl ON u0.d = lbl.v
       |ORDER BY 1""".stripMargin

  /** [[dedupComponents]] without the presentation sort — the shared core
    * for consumers that join the labels onward (a pre-join sort would be
    * executed, then destroyed by the join shuffle) — as the session memo
    * of the CC labels. The labels frame is the dedup pipeline's
    * materialized intermediate: [[dedupComponents]], [[nearDupSurvivors]],
    * [[dedupBestSurvivors]], [[dedupWeights]] and [[dedupWaterfall]] all
    * consume it, and at 100 TB you would persist it once and fan out
    * rather than rerun the whole candidates→verify→CC pipeline per
    * consumer. The cached frame is the localCheckpoint'd label set (docs
    * with ≥1 near-dup pair only — KBs, not corpus-sized), so the memo's
    * block footprint is negligible. */
  private def dedupComponentsCore(spark: SparkSession,
      dir: String): DataFrame =
    graft.Memos.memo("cc_labels", spark, Seq(dir))(
      Components.label(nearDupPairsCore(spark, dir).select("doc_a", "doc_b"))
        .select(col("v").as("doc_id"), col("component_id")))

  /** Session memo of the verified capped near-dup PAIR set — the edge
    * list the graph consumers (the near-dup components and
    * [[pageRankNearDup]]) build on; the checkpointed frame is
    * pair-count-sized (KBs).
    *
    * The memoized frame carries `jaccard` and the exact counts too:
    * [[dedupFeatures]] needs the score, [[nearDupJaccardCapped]] IS
    * this frame re-emitted, every graph consumer just ignores the
    * trailing columns, and keeping one memo (not several) means one
    * checkpoint and one pipeline run feed ALL pair consumers. */
  private def nearDupPairsCore(spark: SparkSession,
      dir: String): DataFrame =
    graft.Memos.memo("neardup_pairs", spark, Seq(dir))(
      nearDupJaccard(spark, dir, Some(NearDupDocFreqCap))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          col("n_inter"), col("n_union"))
        .localCheckpoint())

  /** The REGISTERED capped-Jaccard query — exactly the
    * [[nearDupPairsCore]] frame (same pipeline, same cap) re-emitted
    * in the oracle's column order, so the bench charges the
    * candidates→verify pipeline once (the memo populate, counted in
    * the total) instead of once per consumer. The DuckDB oracle
    * ([[nearDupJaccardCappedOracleSql]]) stays the independently
    * derived relational df-cut form — what is shared is the Spark-side
    * frame, not the check.
    *
    * BENCH NOTE (memo-backed since r14): this query's recorded
    * per-query time measures a checkpoint SCAN (~0.07 s at sf0.1); the
    * pipeline cost it used to carry (~2.5 s in r13) now appears as the
    * `neardup_pairs` entry of `memo_populate`. Round-over-round
    * comparisons of this query must read the two together. */
  def nearDupJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsCore(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** The dedup pipeline's FINAL step: the corpus with near-duplicate
    * clusters collapsed to one representative each. A document survives
    * iff it is its component's minimum doc_id (the cluster
    * representative) or belongs to no component at all — LEFT ANTI
    * against the non-representative members, the same keep rule as
    * [[dedupedDocs]] lifted from exact-text groups to near-dup clusters.
    * Completes candidates → verify → cluster → survivors; at scale the
    * anti join is a hash join on doc_id against a set no larger than the
    * clustered minority of the corpus. */
  def nearDupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val dropped = dedupComponentsCore(spark, dir)
      .filter(col("doc_id") =!= col("component_id"))
      .select("doc_id")
    Tables.documents(spark, dir)
      .join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** QUALITY-AWARE near-dup survivors — [[nearDupSurvivors]] with the
    * production keep-policy upgrade: instead of the min-doc_id
    * representative, each cluster keeps its RICHEST member (most
    * distinct tokens — the doc that preserves the most content when
    * its near-copies are truncated or boilerplate-padded), tie-broken
    * min doc_id. Exactly the policy question real dedup pipelines
    * tune (keep-longest / keep-highest-quality / keep-canonical-URL);
    * the richness key is an exact integer so the pick is hash-stable.
    *
    * Scale: rides the one memoized CC labeling; richness is computed
    * for MEMBER docs only (the clustered minority), the argmax is a
    * component-grain max(struct), and the final anti join is id-only. */
  def dedupBestSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupComponentsCore(spark, dir)
    val best = labels
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(array_distinct(tokens)).cast("long").as("n_distinct")),
        "doc_id")
      .groupBy("component_id")
      .agg(max(struct(col("n_distinct"), (-col("doc_id")).as("neg_id")))
        .as("b"))
      .select(col("component_id"), (-col("b.neg_id")).as("keep_id"))
    val dropped = labels.join(best, "component_id")
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    Tables.documents(spark, dir)
      .join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[dedupBestSurvivors]] — the component core plus
    * the (n_distinct desc, doc_id) representative rank. */
  private[graft] def dedupBestSurvivorsOracleSql(shinglesSql: String): String =
    s"""WITH comp AS (
       |${dedupComponentsOracleCoreSql(shinglesSql)}),
       |rich AS (
       |  SELECT comp.doc_id, comp.component_id,
       |    CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT)
       |      AS n_distinct
       |  FROM comp JOIN documents d ON comp.doc_id = d.doc_id),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY component_id
       |    ORDER BY n_distinct DESC, doc_id) AS rn
       |  FROM rich),
       |dropped AS (SELECT doc_id FROM rk WHERE rn > 1)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY d.doc_id""".stripMargin

  /** DEDUP SURVIVOR WEIGHTS — each near-dup component collapses to its
    * min-id representative carrying `weight` = component size, and
    * every unclustered document survives with weight 1. The re-weighted
    * corpus preserves total sampling mass (Σ weight = corpus size), so
    * a training pipeline can dedup WITHOUT shifting the source/topic
    * mixture — the loss-weighting alternative to [[nearDupSurvivors]]'s
    * hard drop (dropping N−1 copies silently down-weights whatever got
    * duplicated most, which is often the highest-quality boilerplate).
    *
    * Scale: rides the memoized CC label core (pair-count-sized); the
    * singleton leg is one left-anti join of the corpus against that
    * tiny frame — no new fact-size shuffles. */
  def dedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupComponentsCore(spark, dir)
    val reps = labels.groupBy("component_id")
      .agg(count(lit(1)).as("weight"))
      .select(col("component_id").as("doc_id"), col("weight"))
    val singletons = Tables.documents(spark, dir)
      .select("doc_id")
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("weight", lit(1L))
    reps.unionByName(singletons).orderBy("doc_id")
  }

  /** DuckDB oracle for [[dedupWeights]] — component sizes at the min-id
    * representative plus weight-1 singletons. */
  private[graft] def dedupWeightsOracleSql(shinglesSql: String): String =
    s"""WITH comp AS (
       |${dedupComponentsOracleCoreSql(shinglesSql)}),
       |reps AS (
       |  SELECT component_id AS doc_id, count(*) AS weight
       |  FROM comp GROUP BY 1)
       |SELECT doc_id, weight FROM reps
       |UNION ALL
       |SELECT d.doc_id, CAST(1 AS BIGINT) AS weight
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[nearDupSurvivors]] — the recursive-CTE
    * component labels, dropping every non-minimum member. */
  private[graft] def nearDupSurvivorsOracleSql(shinglesSql: String): String =
    s"""WITH comp AS (
       |${dedupComponentsOracleCoreSql(shinglesSql)}),
       |dropped AS (
       |  SELECT doc_id FROM comp WHERE doc_id <> component_id)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB oracle for [[dedupComponents]]: reachability via a recursive
    * CTE (UNION's set semantics terminates the recursion on cyclic
    * graphs), component id = min reachable vertex. Composed as an
    * UNSORTED core + trailing presentation sort so consumers that embed
    * the labels ([[nearDupSurvivorsOracleSql]]) reuse the core rather
    * than string-stripping the ORDER BY (a global replace would corrupt
    * the SQL if the inner oracle ever gained another one). */
  private def dedupComponentsOracleCoreSql(shinglesSql: String): String =
    s"""WITH RECURSIVE base AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)
          .replace("ORDER BY 1, 2", "")}),
       |e AS (
       |  SELECT doc_a, doc_b FROM base
       |  UNION ALL SELECT doc_b, doc_a FROM base),
       |r AS (
       |  SELECT doc_a AS v, doc_a AS u FROM e
       |  UNION
       |  SELECT r.v, e.doc_b AS u FROM r JOIN e ON r.u = e.doc_a)
       |SELECT v AS doc_id, min(u) AS component_id
       |FROM r GROUP BY v""".stripMargin

  private[graft] def dedupComponentsOracleSql(shinglesSql: String): String =
    dedupComponentsOracleCoreSql(shinglesSql) + "\nORDER BY 1"

  /** Fixed PageRank iteration count for [[pageRankNearDup]] (shared
    * with the generated oracle — one CTE per iteration). */
  val PageRankIters = 3

  /** PageRank centrality over the near-dup graph — which documents are
    * HUBS of a duplication cluster (a template page near-dupping
    * against hundreds of fills scores high; a one-off pair scores
    * ~0.15+0.85/2). Complements [[dedupComponents]]: CC says which
    * cluster a doc is in, PageRank says how central it is inside it —
    * the signal a curation pipeline uses to pick what to KEEP (or to
    * find boilerplate families). [[PageRankIters]] damped iterations
    * (d = 0.85) over the symmetrized [[nearDupPairsCore]] edge set;
    * ranks start at 1 (unnormalized form — the fixpoint is the same up
    * to the constant Σpr, and 1 is exact where 1/N is not).
    *
    * Cross-engine exactness: the whole iteration is FIXED-POINT INTEGER
    * arithmetic — ranks carry 12 decimal digits as scaled longs
    * ([[PageRankScale]]), contributions are integer floor divisions
    * pr÷outdeg, per-vertex sums are exact long sums, and the damped
    * update is 0.15·S + (17·s)÷20 in integers. A first cut summed
    * DECIMAL(28,12)-cast double contributions and failed the sf0.1
    * hash by ~1e-12 on 4 of 1557 rows: the double→decimal cast lands
    * on half-ties where Spark (HALF_UP) and DuckDB (half-even)
    * disagree — integers have no rounding mode at all. The ÷ truncation
    * loses < 10⁻¹² per term (damped geometrically); floats appear only
    * in the final display division. GraphX's `staticPageRank` is the
    * Pregel-scale path but accumulates doubles in visit order —
    * unverifiable across engines; this DataFrame form is its
    * oracle-checkable twin (the CC precedent in reverse: there GraphX
    * was checkable because labels are integers).
    *
    * Scale shape: [[PageRankIters]] joins+aggregates over the BLOCKED,
    * df-CAPPED pair set (never corpus-sized); the edge frame is the
    * memoized checkpoint, so iterations reference a materialized
    * KB-sized input rather than re-running the candidate pipeline.
    * Overflow headroom: 17·s needs s < 5.4e17, i.e. Σ neighbor ranks
    * < 540 000 in rank units — degrees here are bucket-capped at
    * [[MinhashBucketCap]]-scale, orders of magnitude under it. */
  def pageRankNearDup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairsCore(spark, dir)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(outdeg, "src")
    var ranks = outdeg.select(col("src").as("id"),
      lit(PageRankScale).as("pr"))
    for (_ <- 1 to PageRankIters) {
      ranks = withDeg.join(ranks, col("src") === col("id"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy("dst")
        .agg((lit(PageRankScale * 15L / 100L) +
          expr("(17 * sum(c)) div 20")).as("pr"))
        .select(col("dst").as("id"), col("pr"))
    }
    ranks.join(outdeg, col("id") === col("src"))
      .select(col("id").as("doc_id"), col("outdeg").as("n_neighbors"),
        (col("pr").cast("double") / lit(PageRankScale.toDouble))
          .as("pagerank"))
      .orderBy("doc_id")
  }

  /** Fixed-point scale for [[pageRankNearDup]]: ranks are longs in
    * units of 10⁻¹². */
  val PageRankScale = 1000000000000L

  /** DuckDB oracle for [[pageRankNearDup]] — the capped-pair CTE chain
    * plus one generated CTE per damped iteration, each mirroring the
    * fixed-point integer update (BIGINT-cast sums: DuckDB widens
    * integer sums to HUGEINT; `//` is DuckDB's integer floor division,
    * `div` Spark's — both truncate toward zero on these positives). */
  private[graft] def pageRankNearDupOracleSql(shinglesSql: String): String = {
    val iterCtes = (1 to PageRankIters).map { i =>
      s"""r$i AS (
         |  SELECT ed.dst AS id,
         |    ${PageRankScale * 15L / 100L} +
         |      (17 * CAST(sum(r${i - 1}.pr // ed.outdeg) AS BIGINT)) // 20
         |      AS pr
         |  FROM ed JOIN r${i - 1} ON ed.src = r${i - 1}.id
         |  GROUP BY ed.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)
          .replace("ORDER BY 1, 2", "")}),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM base
       |  UNION ALL SELECT doc_b, doc_a FROM base),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e
       |       JOIN deg USING (src)),
       |r0 AS (SELECT src AS id, CAST($PageRankScale AS BIGINT) AS pr
       |       FROM deg),
       |$iterCtes
       |SELECT r$PageRankIters.id AS doc_id,
       |  deg.outdeg AS n_neighbors,
       |  CAST(CAST(r$PageRankIters.pr AS BIGINT) AS DOUBLE)
       |    / ${PageRankScale.toDouble} AS pagerank
       |FROM r$PageRankIters JOIN deg ON r$PageRankIters.id = deg.src
       |ORDER BY doc_id""".stripMargin
  }

  /** Dedup WATERFALL — the per-document provenance report every
    * curation run publishes: which stage of the dedup ladder (exact
    * text → near-dup text cluster → semantic embedding cluster) claims
    * each document, with first-stage-wins attribution. This is the
    * composition query over the survivor passes the pipeline already
    * runs — the artifact that answers "why did doc X disappear" and
    * lets per-stage removal rates be monitored release over release.
    * All flags are integer/set-membership logic; the three stage cores
    * ride their session memos, so the waterfall adds three id-only
    * joins, not three recomputations.
    *
    * Scale: each flag is a key-grain LEFT join against a removed-id
    * set no larger than the clustered minority of the corpus. */
  def dedupWaterfall(spark: SparkSession, dir: String): DataFrame = {
    val exact = withExactKeepId(Tables.documents(spark, dir))
      .select(col("doc_id"),
        (col("doc_id") =!= col("keep_id")).as("is_exact_dup"))
    val nearDropped = dedupComponentsCore(spark, dir)
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id"), lit(true).as("near_flag"))
    val semDropped = graft.operators.VectorOps
      .semanticCcLabels(spark, dir)
      .filter(col("vec_id") =!= col("component_id"))
      .select(col("vec_id").as("doc_id"), lit(true).as("sem_flag"))
    exact
      .join(nearDropped, Seq("doc_id"), "left")
      .join(semDropped.select("doc_id", "sem_flag"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("near_flag"), lit(false)).as("is_near_dup"),
        coalesce(col("sem_flag"), lit(false)).as("is_semantic_dup"),
        when(col("is_exact_dup"), "exact")
          .when(coalesce(col("near_flag"), lit(false)), "near")
          .when(coalesce(col("sem_flag"), lit(false)), "semantic")
          .otherwise("kept").as("verdict"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[dedupWaterfall]] — the exact-group window, the
    * recursive-CTE component labels, and the (nested) semantic-survivor
    * oracle, composed with the same first-stage-wins CASE. */
  private[graft] def dedupWaterfallOracleSql(shinglesSql: String): String =
    s"""WITH exact AS (
       |  SELECT doc_id,
       |    doc_id <> min(doc_id) OVER (PARTITION BY md5(text))
       |      AS is_exact_dup
       |  FROM documents),
       |comp AS (
       |${dedupComponentsOracleCoreSql(shinglesSql)}),
       |ndropped AS (
       |  SELECT doc_id FROM comp WHERE doc_id <> component_id),
       |sem_surv AS (
       |${graft.operators.VectorOps.semanticDedupSurvivorsOracleCoreSql}),
       |sdropped AS (
       |  SELECT vec_id AS doc_id FROM embeddings
       |  WHERE vec_id NOT IN (SELECT vec_id FROM sem_surv))
       |SELECT e.doc_id, e.is_exact_dup,
       |  e.doc_id IN (SELECT doc_id FROM ndropped) AS is_near_dup,
       |  e.doc_id IN (SELECT doc_id FROM sdropped) AS is_semantic_dup,
       |  CASE WHEN e.is_exact_dup THEN 'exact'
       |       WHEN e.doc_id IN (SELECT doc_id FROM ndropped) THEN 'near'
       |       WHEN e.doc_id IN (SELECT doc_id FROM sdropped)
       |         THEN 'semantic'
       |       ELSE 'kept' END AS verdict
       |FROM exact e
       |ORDER BY e.doc_id""".stripMargin

  /** k-core threshold for [[kcoreNearDup]] (shared with the oracle). */
  val KCoreK = 2

  /** Fixed peel rounds for [[kcoreNearDup]] — one generated oracle CTE
    * per round; both engines unroll the SAME rounds, so the hash match
    * holds even mid-convergence (the CC/PageRank precedent). */
  val KCorePeelRounds = 4

  /** k-core decomposition of the near-dup graph: iteratively peel
    * vertices with fewer than [[KCoreK]] surviving neighbors. The
    * 2-core separates documents embedded in DENSE duplication families
    * (template farms — every member near-dups several others) from
    * docs with only pendant/chain duplication (a single re-post), a
    * sharper keep/drop signal than raw degree: a hub with 50 pendant
    * copies has degree 50 but its copies all peel. Completes the graph
    * toolkit next to CC ([[dedupComponents]]), PageRank
    * ([[pageRankNearDup]]), and triangles ([[nearDupTriangles]]).
    * All-integer (degrees + flags) — nothing floating anywhere.
    *
    * Scale shape: each peel round is one semi-join of the blocked,
    * capped edge set against the shrinking alive set + one degree
    * aggregate — never corpus-sized, lineage cut per round
    * (localCheckpoint). */
  def kcoreNearDup(spark: SparkSession, dir: String): DataFrame = {
    val edges = kcoreEdges(spark, dir)
    val initDeg = edges.groupBy("src").agg(count(lit(1)).as("deg0"))
    // `in_core` SEMANTICS: membership in the alive set after the FIXED
    // [[KCorePeelRounds]] peel rounds — a post-round-N survivor flag,
    // not a proof of k-core membership. If peeling has not converged in
    // N rounds a survivor can report core_degree < KCoreK (both engines
    // agree on the same fixed-round rule, so hashes hold either way).
    // KCoreNearDupSpec asserts convergence on the real sf0.001 graph
    // (alive set identical one round past the emitted one), so the flag
    // IS true k-core membership on the shipped data; the caveat is for
    // adversarial graphs whose peel cascade is deeper than N.
    val alive = kcoreAliveAfter(edges, initDeg, KCorePeelRounds)
    val coreDeg = edges
      .join(alive.select(col("id").as("src")), Seq("src"))
      .join(alive.select(col("id").as("dst")), Seq("dst"))
      .groupBy("src").agg(count(lit(1)).as("core_degree"))
    initDeg.join(coreDeg, Seq("src"), "left")
      .select(col("src").as("doc_id"), col("deg0").as("n_neighbors"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        col("core_degree").isNotNull.as("in_core"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY profile per source — the budgeting statistic
    * behind "how many model tokens does this corpus cost": whitespace
    * words vs BPE-ish regex segments vs raw chars, aggregated per
    * source with exact integer sums and floor-division milles
    * (bpe-per-word fertility, chars-per-bpe-token). A source whose
    * fertility spikes (code, non-Latin scripts, URL soup) costs
    * disproportionate context budget — the per-source aggregate of
    * [[tokenCounts]]' per-doc view, and the source-mixing input next
    * to [[sourceQualityProfile]].
    *
    * Scale: one regex projection pass, one partial+final hash
    * aggregate to source grain. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), col("n_chars"),
        size(tokens).cast("long").as("ws"),
        size(expr(s"regexp_extract_all(text, '$BpeTokenPattern', 0)"))
          .cast("long").as("bpe"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_total"),
        sum(col("ws")).as("ws_tokens_total"),
        sum(col("bpe")).as("bpe_tokens_total"))
      .withColumn("bpe_per_ws_mille",
        expr("(bpe_tokens_total * 1000) div ws_tokens_total"))
      .withColumn("chars_per_bpe_mille",
        expr("(chars_total * 1000) div bpe_tokens_total"))
      .orderBy("source")

  /** DuckDB oracle for [[tokenizerFertility]]. */
  private[graft] def tokenizerFertilityOracleSql: String =
    s"""WITH t AS (
       |  SELECT source, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '$BpeTokenPattern'))
       |      AS BIGINT) AS bpe
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |  CAST(sum(ws) AS BIGINT) AS ws_tokens_total,
       |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens_total,
       |  CAST(sum(bpe) AS BIGINT) * 1000 // CAST(sum(ws) AS BIGINT)
       |    AS bpe_per_ws_mille,
       |  CAST(sum(n_chars) AS BIGINT) * 1000 // CAST(sum(bpe) AS BIGINT)
       |    AS chars_per_bpe_mille
       |FROM t GROUP BY source
       |ORDER BY source""".stripMargin

  /** Token NOVELTY curve — the diminishing-returns measurement behind
    * "is more of this data still worth ingesting": processing documents
    * in doc_id order, how many of each document's distinct tokens are
    * NEW to the corpus so far (their first occurrence), plus the
    * running vocabulary size. A flattening curve says the source is
    * exhausted (new docs only repeat the vocabulary); the curve's shape
    * is Heaps' law read directly off exact integers instead of a float
    * fit. First-occurrence is `min(doc_id)` per token — ORDER-FREE
    * (partial+final aggregable), which is what makes the "cumulative
    * distinct" well-defined at any parallelism.
    *
    * Scale: one token-grain hash aggregate (min doc), one join-back
    * count at doc grain, then the corpus-grain running sum via
    * [[GlobalRank.withRunningSum]]'s exact two-phase prefix sum — a
    * naive `sum OVER (ORDER BY doc_id)` would compile to `Exchange
    * SinglePartition` (the whole doc-grain frame through one task);
    * the two-phase form is one range exchange at full parallelism and
    * is bit-identical. */
  def tokenNovelty(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(tokens)).as("token"))
      .groupBy("token")
      .agg(min(col("doc_id")).as("first_doc"))
    val perDoc = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(array_distinct(tokens)).cast("long").as("n_distinct"))
      .join(firstSeen.groupBy("first_doc")
          .agg(count(lit(1)).as("n_new"))
          .withColumnRenamed("first_doc", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
    GlobalRank.withRunningSum(perDoc, "n_new", "vocab_so_far",
        Seq(col("doc_id")))
      .select(col("doc_id"), col("n_distinct"), col("n_new"),
        col("vocab_so_far"),
        expr("(n_new * 1000) div n_distinct").as("novelty_mille"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[tokenNovelty]]. */
  private[graft] def tokenNoveltyOracleSql: String =
    s"""WITH fs AS (
       |  SELECT token, min(doc_id) AS first_doc
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
       |          AS token
       |        FROM documents WHERE text IS NOT NULL)
       |  GROUP BY token),
       |nn AS (
       |  SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
       |  FROM fs GROUP BY 1),
       |d AS (
       |  SELECT doc_id,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |      AS n_distinct
       |  FROM documents WHERE text IS NOT NULL),
       |j AS (
       |  SELECT d.doc_id, d.n_distinct,
       |    CAST(coalesce(nn.n_new, 0) AS BIGINT) AS n_new
       |  FROM d LEFT JOIN nn ON d.doc_id = nn.doc_id)
       |SELECT doc_id, n_distinct, n_new,
       |  CAST(sum(n_new) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS vocab_so_far,
       |  (n_new * 1000) // n_distinct AS novelty_mille
       |FROM j
       |ORDER BY doc_id""".stripMargin

  /** SPEARMAN rank correlation, exactly — "does document length track
    * lexical richness per source": rank n_chars and rank distinct-token
    * count within each source (both orders made total by the standing
    * (value, doc_id) tie-break, so ranks are permutations and the
    * classic `ρ = 1 − 6Σd²/(n(n²−1))` closed form is exact), and emit
    * the INTEGER pieces (n, Σd²) plus the floor-quantized (1+ρ) in
    * mille — a correlation surface with zero float accumulation, where
    * a Pearson on raw values would be fold-order-dependent. 2000 says
    * longer docs are richer (length is a quality proxy for this
    * source); 1000 says length gates and richness gates are
    * independent signals; 0 is full anti-correlation.
    *
    * Scale: `source` is a handful of values — keyed rank windows would
    * drag the whole corpus through |sources| tasks (the enum-keyed
    * sibling of the SinglePartition hazard), so both rankings ride
    * [[GlobalRank.withGroupedRowNumber]]: two two-phase passes (one per
    * ranking — Spearman inherently sorts the frame twice) at full
    * parallelism, then one aggregate. */
  def lengthQualitySpearman(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"), col("n_chars"),
        size(array_distinct(tokens)).cast("long").as("n_distinct"))
    val rLen = GlobalRank.withGroupedRowNumber(base, "r_len",
      Seq(col("source")), Seq(col("n_chars"), col("doc_id")))
    GlobalRank.withGroupedRowNumber(rLen, "r_rich",
        Seq(col("source")), Seq(col("n_distinct"), col("doc_id")))
      .withColumn("d", col("r_len") - col("r_rich"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("d") * col("d")).as("sum_d2"))
      // Emitted as (1+ρ)·1000 ∈ [0, 2000]: the raw ρ numerator goes
      // NEGATIVE for anti-correlated ranks, where Spark `div`
      // (truncate-toward-zero) and DuckDB `//` (floor) differ by 1 —
      // the shift keeps the standing non-negative floor-division
      // contract. 1000 = ρ 0, 2000 = ρ +1.
      .withColumn("rho_plus1_mille",
        expr("(1000 * (2 * n * (n * n - 1) - 6 * sum_d2))" +
          " div (n * (n * n - 1))"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[lengthQualitySpearman]]. */
  private[graft] def lengthQualitySpearmanOracleSql: String =
    s"""WITH b AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |      AS n_distinct
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (
       |  SELECT source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars, doc_id) AS BIGINT)
       |    - CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY n_distinct, doc_id) AS BIGINT) AS d
       |  FROM b)
       |SELECT source, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(d * d) AS BIGINT) AS sum_d2,
       |  (1000 * (2 * CAST(count(*) AS BIGINT)
       |      * (CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT) - 1)
       |    - 6 * CAST(sum(d * d) AS BIGINT)))
       |   // (CAST(count(*) AS BIGINT)
       |      * (CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT) - 1))
       |   AS rho_plus1_mille
       |FROM r GROUP BY source
       |ORDER BY source""".stripMargin

  /** Sort-key prefix length for [[snmNearDup]] (tokens). */
  val SnmKeyTokens = 4

  /** Near-dup flag threshold for [[snmNearDup]] (Jaccard mille). */
  val SnmFlagMille = 500L

  /** SORTED-NEIGHBORHOOD near-dup blocking (Hernández & Stolfo 1995) —
    * the third blocking strategy next to the shingle inverted index
    * ([[nearDupJaccard]]) and MinHash LSH: sort the corpus by a
    * discriminating key (the opening-token prefix — near-copies share
    * openings) and compare each document ONLY with its successor in
    * sort order, giving exactly N−1 candidate pairs. Each consecutive
    * pair carries its exact distinct-token Jaccard (scaled integer
    * mille, the standing rule) and a flag at [[SnmFlagMille]]. The
    * sort key is plain ASCII tokens, so byte order agrees across
    * engines (never sort raw free text cross-engine — collation).
    *
    * Scale: a global `lead` window would be `Exchange SinglePartition`
    * — the whole corpus through one task. Instead the successor pairing
    * rides [[GlobalRank.withRowNumber]]'s exact two-phase rank (one
    * range exchange — the sort an SNM pass needs anyway — at full
    * parallelism) and an rn = rn+1 self-join on the DENSE integer rank
    * (hash join on a gap-free key: no skew possible, and the ranked
    * frame is checkpointed so both join sides read one materialization).
    * Still exactly N−1 candidate pairs, no pair explosion; the trade is
    * recall (near-dups with different openings land apart — production
    * runs multiple passes with different keys, which here is this op
    * next to the other two blocking families). */
  def snmNearDup(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_join(slice(tokens, 1, SnmKeyTokens), " ").as("sort_key"),
        array_distinct(tokens).as("toks"))
    val ranked = GlobalRank.withRowNumber(keyed, "rn",
      Seq(col("sort_key"), col("doc_id")))
    val successor = ranked.select((col("rn") - 1).as("rn"),
      col("doc_id").as("next_id"), col("toks").as("next_toks"))
    ranked
      .join(successor, Seq("rn"))
      .withColumn("n_inter",
        size(array_intersect(col("toks"), col("next_toks"))).cast("long"))
      .withColumn("n_union",
        (size(col("toks")) + size(col("next_toks"))).cast("long") -
          col("n_inter"))
      .withColumn("jaccard_mille", expr("(n_inter * 1000) div n_union"))
      .select(col("doc_id").as("doc_a"), col("next_id").as("doc_b"),
        col("n_inter"), col("n_union"), col("jaccard_mille"),
        (col("jaccard_mille") >= SnmFlagMille).as("flagged"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[snmNearDup]] — same sort key, same successor
    * pairing, same integer Jaccard. */
  private[graft] def snmNearDupOracleSql: String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    array_to_string(string_split(text, ' ')[1:$SnmKeyTokens], ' ')
       |      AS sort_key,
       |    list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |p AS (
       |  SELECT doc_id, toks,
       |    lead(doc_id) OVER (ORDER BY sort_key, doc_id) AS next_id,
       |    lead(toks) OVER (ORDER BY sort_key, doc_id) AS next_toks
       |  FROM k),
       |j AS (
       |  SELECT doc_id AS doc_a, next_id AS doc_b,
       |    CAST(len(list_intersect(toks, next_toks)) AS BIGINT)
       |      AS n_inter,
       |    CAST(len(toks) + len(next_toks) AS BIGINT)
       |      - CAST(len(list_intersect(toks, next_toks)) AS BIGINT)
       |      AS n_union
       |  FROM p WHERE next_id IS NOT NULL)
       |SELECT doc_a, doc_b, n_inter, n_union,
       |  (n_inter * 1000) // n_union AS jaccard_mille,
       |  (n_inter * 1000) // n_union >= $SnmFlagMille AS flagged
       |FROM j
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Opening-prefix length for [[boilerplatePrefixes]] (tokens). */
  val BoilerplatePrefixTokens = 8

  /** Boilerplate share threshold (mille of the source's docs). */
  val BoilerplateFlagMille = 10L

  /** Boilerplate / template-opening census: per source, every repeated
    * document OPENING (first [[BoilerplatePrefixTokens]] tokens) with
    * its document count and per-source share — the screen that surfaces
    * scraped template families ("click here to accept cookies …") a
    * crawl injects, the removal target of every boilerplate-stripping
    * pass (and the prefix-grain sibling of [[bigramSurprisal]]'s
    * low-surprisal template flag). A prefix is flagged once it opens ≥
    * [[BoilerplateFlagMille]]‰ of its source. Singleton prefixes are
    * dropped from the OUTPUT (not the totals) — the report is the
    * repeated-template census, and at corpus scale the singleton tail
    * IS the corpus.
    *
    * Scale shape: one projection to (source, prefix) grain, one
    * partial+final hash aggregate, totals re-aggregated from the cell
    * frame (never a second corpus pass), broadcast join-back of the
    * per-source totals; share is the standing non-negative
    * floor-division mille. */
  def boilerplatePrefixes(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        array_join(slice(tokens, 1, BoilerplatePrefixTokens), " ")
          .as("prefix"))
      .groupBy("source", "prefix")
      .agg(count(lit(1)).as("n_docs"))
    val totals = counts.groupBy("source")
      .agg(sum(col("n_docs")).as("n_total"))
    counts.filter(col("n_docs") >= 2)
      .join(broadcast(totals), "source")
      .withColumn("share_mille", expr("(n_docs * 1000) div n_total"))
      .select(col("source"), col("prefix"), col("n_docs"), col("n_total"),
        col("share_mille"),
        (col("share_mille") >= BoilerplateFlagMille).as("flagged"))
      .orderBy("source", "prefix")
  }

  /** DuckDB oracle for [[boilerplatePrefixes]]. */
  private[graft] def boilerplatePrefixesOracleSql: String =
    s"""WITH p AS (
       |  SELECT source,
       |    array_to_string(string_split(text, ' ')[1:$BoilerplatePrefixTokens], ' ')
       |      AS prefix
       |  FROM documents WHERE text IS NOT NULL),
       |cells AS (
       |  SELECT source, prefix, count(*) AS n_docs
       |  FROM p GROUP BY 1, 2),
       |tot AS (
       |  SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_total
       |  FROM cells GROUP BY 1)
       |SELECT cells.source, cells.prefix, cells.n_docs, tot.n_total,
       |  (cells.n_docs * 1000) // tot.n_total AS share_mille,
       |  (cells.n_docs * 1000) // tot.n_total >= $BoilerplateFlagMille
       |    AS flagged
       |FROM cells JOIN tot ON cells.source = tot.source
       |WHERE cells.n_docs >= 2
       |ORDER BY cells.source, cells.prefix""".stripMargin

  /** Symmetrized, lineage-cut edge set shared by [[kcoreNearDup]] and
    * its convergence spec. */
  private[graft] def kcoreEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairsCore(spark, dir)
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
  }

  /** Alive set (`id` column) after `rounds` peel rounds over `edges`,
    * starting from the degree-≥-k seed — exposed so the spec can assert
    * the peel has CONVERGED on real data (alive(n) == alive(n+1)). */
  private[graft] def kcoreAliveAfter(edges: DataFrame, initDeg: DataFrame,
      rounds: Int): DataFrame = {
    var alive = initDeg.filter(col("deg0") >= KCoreK)
      .select(col("src").as("id"))
    for (_ <- 1 to rounds) {
      alive = edges
        .join(alive.select(col("id").as("src")), Seq("src"))
        .join(alive.select(col("id").as("dst")), Seq("dst"))
        .groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= KCoreK)
        .select(col("src").as("id"))
        .localCheckpoint()
    }
    alive
  }

  /** DuckDB oracle for [[kcoreNearDup]] — the capped-pair CTE chain
    * plus one generated CTE pair per peel round. */
  private[graft] def kcoreNearDupOracleSql(shinglesSql: String): String = {
    val rounds = (1 to KCorePeelRounds).map { i =>
      s"""p$i AS (
         |  SELECT e.src, count(*) AS d
         |  FROM e
         |  JOIN a${i - 1} s ON e.src = s.id
         |  JOIN a${i - 1} t ON e.dst = t.id
         |  GROUP BY e.src),
         |a$i AS (SELECT src AS id FROM p$i WHERE d >= $KCoreK)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)
          .replace("ORDER BY 1, 2", "")}),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM base
       |  UNION ALL SELECT doc_b, doc_a FROM base),
       |d0 AS (SELECT src, count(*) AS deg0 FROM e GROUP BY src),
       |a0 AS (SELECT src AS id FROM d0 WHERE deg0 >= $KCoreK),
       |$rounds,
       |core AS (
       |  SELECT e.src, count(*) AS core_degree
       |  FROM e
       |  JOIN a$KCorePeelRounds s ON e.src = s.id
       |  JOIN a$KCorePeelRounds t ON e.dst = t.id
       |  GROUP BY e.src)
       |SELECT d0.src AS doc_id, d0.deg0 AS n_neighbors,
       |  CAST(coalesce(core.core_degree, 0) AS BIGINT) AS core_degree,
       |  core.src IS NOT NULL AS in_core
       |FROM d0 LEFT JOIN core ON d0.src = core.src
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-source corpus profile with exact length percentiles — the
    * source-level quality dashboard (which crawl is long-form, which is
    * boilerplate-short) that gates per-source mixing weights. Exact
    * `percentile` buffers each group's values (the A4 precedent:
    * deterministic and oracle-matchable, the reason it is used here);
    * at 100 TB the same query ships with `approx_percentile`
    * (t-digest, mergeable map-side partials) at the cost of losing the
    * bit-exact oracle — the documented exact-vs-sketch trade. Source
    * cardinality is tiny, so the one shuffle is by source key. */
  def sourceQualityProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        expr("percentile(cast(n_chars as double), 0.5)").as("p50_chars"),
        expr("percentile(cast(n_chars as double), 0.9)").as("p90_chars"))
      .withColumn("avg_chars",
        col("total_chars").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")

  /** DuckDB oracle for [[sourceQualityProfile]]. */
  private[graft] def sourceQualityProfileOracleSql: String =
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50_chars,
       |  quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90_chars,
       |  CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS avg_chars
       |FROM documents
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Chunk geometry (shared with the oracle): window of `ChunkTokens`
    * tokens, advancing `ChunkStride` tokens per chunk (overlap =
    * ChunkTokens − ChunkStride). */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** Fixed-window document chunking — the sequence-packing precursor:
    * split each document's token stream into overlapping
    * [[ChunkTokens]]-token windows every [[ChunkStride]] tokens, with a
    * content hash per chunk (dedup/lineage key for the downstream
    * tokenizer). Starts run 0, stride, 2·stride … < n_tokens, so the
    * tail chunk may be short — standard sliding-window semantics. One
    * explode per document, all codegen'd expressions; chunk work is
    * proportional to corpus token count, no shuffle before the output
    * sort. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    docChunksCore(spark, dir).orderBy("doc_id", "chunk_id")

  /** [[docChunks]] without the presentation sort (consumers that window
    * or join the chunk stream would destroy it anyway). */
  private def docChunksCore(spark: SparkSession, dir: String): DataFrame =
    // No repartition here: chunking is pure projection+explode, so an
    // exchange only adds a full-corpus shuffle with nothing downstream
    // to amortize it — scan splits (files.maxPartitionBytes) supply the
    // parallelism at scale.
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens.as("tk"))
      .withColumn("n_tokens", size(col("tk")))
      .select(col("doc_id"), col("tk"), col("n_tokens"),
        explode(expr(s"sequence(0, n_tokens - 1, $ChunkStride)")).as("start"))
      .select(
        col("doc_id"),
        (col("start") / ChunkStride).cast("int").as("chunk_id"),
        col("start"),
        least(lit(ChunkTokens), col("n_tokens") - col("start"))
          .as("chunk_len"),
        md5(array_join(
          slice(col("tk"), col("start") + 1, lit(ChunkTokens)), " "))
          .as("chunk_hash"))

  /** DuckDB oracle for [[docChunks]] (same geometry; list slicing is
    * 1-based inclusive in DuckDB vs (start, length) in Spark — both
    * clamp at the list end). */
  private[graft] def docChunksOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (
       |  SELECT doc_id, tk, n_tokens,
       |    unnest(generate_series(0, n_tokens - 1, $ChunkStride)) AS start
       |  FROM t)
       |SELECT doc_id,
       |  CAST(start / $ChunkStride AS INT) AS chunk_id,
       |  start,
       |  least($ChunkTokens, n_tokens - start) AS chunk_len,
       |  md5(array_to_string(tk[start + 1 : start + $ChunkTokens], ' '))
       |    AS chunk_hash
       |FROM s
       |ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------------------------------
  // PII scrub — regex detection + redaction (emails, phone numbers,
  // IPv4), the privacy pass every training-data pipeline runs before
  // anything ships. The corpus is synthetic word salad with no real PII,
  // so the query INJECTS deterministic PII tokens derived from doc_id
  // (the wav_features pattern: enrichment formula mirrored verbatim in
  // the oracle), which makes the cross-engine regex semantics — Java
  // regex in Spark vs RE2 in DuckDB — the thing the hash match actually
  // proves. Patterns stay inside the common subset (character classes,
  // bounded repetition; no lookaround/backreferences, which RE2 lacks).
  // --------------------------------------------------------------------

  /** Shared PII regexes (Java-regex ∩ RE2 subset; single-quote-free so
    * they interpolate into the oracle SQL verbatim). */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val PiiIpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Deterministic PII enrichment: ~1/3 of documents get an email, 1/4 a
    * phone number, 1/5 an IPv4 — so counts vary 0-3 per document and
    * every pattern exercises both hit and miss paths. */
  private def piiEnriched: Column = {
    val idS = col("doc_id").cast("string")
    concat(
      coalesce(col("text"), lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact u"), idS, lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1")))
        .otherwise(lit("")))
  }

  /** PII detection + redaction: per-document match counts per class and
    * the hash of the scrubbed text (classes replaced in fixed order:
    * email → phone → IP, so the redaction composition is deterministic).
    * Pure per-row regex projections — codegen'd, shuffle-free, and
    * embarrassingly parallel at any corpus size. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(piiEnriched, lit(PiiEmailRe), lit("<EMAIL>")),
        lit(PiiPhoneRe), lit("<PHONE>")),
      lit(PiiIpRe), lit("<IP>"))
    def hits(re: String): Column =
      size(regexp_extract_all(piiEnriched, lit(re), lit(0))).cast("int")
    // Presentation sort on the INPUT (the cdc_envelope_nested device,
    // r15): a terminal orderBy's range exchange SAMPLES its child, so
    // the six regex passes ran twice — 0.90 vs 0.58 s at sf0.1 in an
    // interleaved A/B, identical rows and order. Worth it HERE because
    // the narrow segment is regex-heavy; the same move measured SLOWER
    // on the cheap codec decodes (their walk costs less than the added
    // exchange) and the remaining sub-0.5 s text projections.
    // CdcPropertiesSpec pins the emitted order.
    Tables.documents(spark, dir)
      .orderBy("doc_id")
      .select(
        col("doc_id"),
        hits(PiiEmailRe).as("n_emails"),
        hits(PiiPhoneRe).as("n_phones"),
        hits(PiiIpRe).as("n_ips"),
        md5(redacted).as("clean_md5"),
        length(redacted).cast("bigint").as("clean_chars"))
  }

  /** DuckDB oracle for [[piiScrub]] — identical enrichment formula,
    * identical regexes, identical replacement order ('g' = replace-all,
    * Spark's default). */
  private[graft] def piiScrubOracleSql: String =
    s"""WITH en AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 4 = 0
       |         THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
       |         ELSE '' END
       |    AS t
       |  FROM documents),
       |rd AS (
       |  SELECT doc_id, t,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(t, '$PiiEmailRe', '<EMAIL>', 'g'),
       |        '$PiiPhoneRe', '<PHONE>', 'g'),
       |      '$PiiIpRe', '<IP>', 'g') AS clean
       |  FROM en)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$PiiEmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$PiiPhoneRe')) AS INT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$PiiIpRe')) AS INT) AS n_ips,
       |  md5(clean) AS clean_md5,
       |  CAST(length(clean) AS BIGINT) AS clean_chars
       |FROM rd
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Paragraph-level dedup — sub-document exact dedup à la C4/RefinedWeb:
  // segment every document, hash each segment, keep only the globally
  // FIRST occurrence of each distinct segment, and reassemble what
  // survives per document. The corpus has no paragraph delimiters
  // (single-space word salad), so segmentation is fixed [[ParaWords]]-
  // word blocks — boundary detection is the pluggable 10-line piece
  // (split on '\n\n' for a real corpus); the corpus-wide
  // first-occurrence-keep machinery is the operator.
  // --------------------------------------------------------------------

  /** Words per paragraph block (shared with the oracle). */
  val ParaWords = 32

  /** Paragraph-level dedup: per document, how many blocks it had, how
    * many survive corpus-wide first-occurrence dedup (keeper = minimum
    * (doc_id, para_no) per distinct block text), and the hash of the
    * reassembled surviving text. Duplicated documents keep 0 blocks
    * (their twin came first) — exactly how sub-document dedup interacts
    * with full-document dups. One explode proportional to corpus tokens,
    * one hash-partitioned shuffle on the block hash (the min-over-window),
    * one per-doc re-aggregate; no all-pairs anything, so the plan is the
    * 100 TB plan. */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val paras = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n_tokens", size(col("tk")))
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, n_tokens - 1, $ParaWords)")).as("start"))
      .select(col("doc_id"),
        (col("start") / ParaWords).cast("int").as("para_no"),
        array_join(slice(col("tk"), col("start") + 1, lit(ParaWords)), " ")
          .as("para"))
    // Corpus-wide keeper per distinct block: min (doc_id, para_no) over a
    // window partitioned by the block hash — one shuffle, map-side
    // partial min, no collect of members. Totals and survivors then come
    // from ONE aggregate over the flagged rows (collect_list skips the
    // nulls the `when` leaves on dropped blocks), so the plan scans and
    // explodes the corpus once — no totals⟕survivors join, no second
    // scan (the first cut of this operator had both).
    val w = Window.partitionBy(md5(col("para")))
    paras
      .withColumn("keep",
        min(struct(col("doc_id"), col("para_no"))).over(w))
      .withColumn("is_keep",
        col("keep.doc_id") === col("doc_id") &&
          col("keep.para_no") === col("para_no"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("is_keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          expr("transform(array_sort(collect_list(CASE WHEN is_keep THEN struct(para_no, para) END)), x -> x.para)"),
          " ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[paragraphDedup]] — same segmentation, same
    * (doc_id, para_no) keeper rule, same space-joined reassembly. */
  private[graft] def paragraphDedupOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (
       |  SELECT doc_id, tk,
       |    unnest(generate_series(0, n_tokens - 1, $ParaWords)) AS start
       |  FROM t),
       |p AS (
       |  SELECT doc_id, CAST(start / $ParaWords AS INT) AS para_no,
       |    array_to_string(tk[start + 1 : start + $ParaWords], ' ') AS para
       |  FROM s),
       |f AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(para)
       |    ORDER BY doc_id, para_no) AS rn
       |  FROM p),
       |tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id),
       |kept AS (
       |  SELECT doc_id, count(*) AS kept_n,
       |    string_agg(para, ' ' ORDER BY para_no) AS clean_text
       |  FROM f WHERE rn = 1
       |  GROUP BY doc_id)
       |SELECT tot.doc_id, tot.n_paras,
       |  CAST(coalesce(kept.kept_n, 0) AS BIGINT) AS n_kept,
       |  md5(coalesce(kept.clean_text, '')) AS clean_md5
       |FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  /** Token budget per training pack ([[chunkPacking]]) and the shard
    * fan-out the packing runs under. */
  val PackBudget = 512
  val PackShards = 16

  /** Sequence packing — assign the chunk stream to fixed token-budget
    * training packs: within each shard (doc-hash partition, the
    * data-parallel worker analog), chunks are laid out in (doc_id,
    * chunk_id) order and each lands in the pack where its running token
    * count STARTS (`floor((cum − len) / budget)`), so a pack may
    * overflow by < one chunk — the standard pack-then-truncate layout,
    * exactly expressible as a running-sum window (true greedy
    * never-overflow packing needs a per-row reset, which is iterative).
    * Per-shard windows keep the sort partition-parallel: no global
    * ordering exists or is needed, matching how per-worker packing
    * behaves in a real loader. */
  def chunkPacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docChunksCore(spark, dir)
      .withColumn("shard", pmod(col("doc_id"), lit(PackShards)).cast("int"))
      .withColumn("cum", sum(col("chunk_len").cast("long")).over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("chunk_len")) / PackBudget).cast("long"))
      .select("shard", "doc_id", "chunk_id", "chunk_len", "cum", "pack_id")
      .orderBy("shard", "doc_id", "chunk_id")
  }

  /** PACK-UTILIZATION audit — the sizing dashboard behind
    * [[chunkPacking]]: per shard, how many packs the layout produced,
    * how full they are against [[PackBudget]] (util in exact mille),
    * how many tokens spill past pack boundaries (each pack may
    * overflow by < one chunk under the start-of-chunk rule — the
    * truncation loss a loader pays), and the heaviest pack. The
    * numbers that decide whether the budget/stride are right BEFORE a
    * training run burns the tokens. All exact integers; one pack-grain
    * and one shard-grain aggregate over the packing frame — no new
    * windows, no new scan shapes. */
  def packUtilization(spark: SparkSession, dir: String): DataFrame = {
    val packs = chunkPacking(spark, dir)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len").cast("long")).as("pack_tokens"),
        max(col("cum")).as("max_cum"))
      .withColumn("overflow",
        greatest(col("max_cum") - (col("pack_id") + 1) * PackBudget,
          lit(0L)))
    packs.groupBy("shard")
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(col("pack_tokens")).as("total_tokens"),
        sum(col("overflow")).as("overflow_tokens"),
        max(col("pack_tokens")).as("max_pack_tokens"))
      .withColumn("util_mille",
        expr(s"(total_tokens * 1000) div (n_packs * $PackBudget)"))
      .orderBy("shard")
  }

  /** DuckDB oracle for [[packUtilization]] — same pack assignment,
    * same overflow clip, same mille. */
  private[graft] def packUtilizationOracleSql: String =
    s"""WITH c AS (
       |${docChunksOracleSql.replace("ORDER BY doc_id, chunk_id", "")}),
       |s AS (
       |  SELECT doc_id, chunk_id, chunk_len,
       |    CAST(doc_id % $PackShards AS INT) AS shard
       |  FROM c),
       |p AS (
       |  SELECT shard, chunk_len,
       |    CAST(sum(chunk_len) OVER (PARTITION BY shard
       |      ORDER BY doc_id, chunk_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM s),
       |pk AS (
       |  SELECT shard,
       |    CAST(floor((cum - chunk_len) / $PackBudget) AS BIGINT)
       |      AS pack_id,
       |    CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(chunk_len) AS BIGINT) AS pack_tokens,
       |    CAST(max(cum) AS BIGINT) AS max_cum
       |  FROM p GROUP BY 1, 2),
       |o AS (
       |  SELECT shard, n_chunks, pack_tokens,
       |    greatest(max_cum - (pack_id + 1) * $PackBudget, 0) AS overflow
       |  FROM pk)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_packs,
       |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       |  CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(overflow) AS BIGINT) AS overflow_tokens,
       |  CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens,
       |  (CAST(sum(pack_tokens) AS BIGINT) * 1000)
       |    // (count(*) * $PackBudget) AS util_mille
       |FROM o GROUP BY shard ORDER BY shard""".stripMargin

  /** DuckDB oracle for [[chunkPacking]] — same chunk geometry, same
    * shard, same running sum and start-of-chunk bin rule. */
  private[graft] def chunkPackingOracleSql: String =
    s"""WITH c AS (
       |${docChunksOracleSql.replace("ORDER BY doc_id, chunk_id", "")}),
       |s AS (
       |  SELECT doc_id, chunk_id, chunk_len,
       |    CAST(doc_id % $PackShards AS INT) AS shard
       |  FROM c),
       |p AS (
       |  SELECT shard, doc_id, chunk_id, chunk_len,
       |    CAST(sum(chunk_len) OVER (PARTITION BY shard
       |      ORDER BY doc_id, chunk_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM s)
       |SELECT shard, doc_id, chunk_id, chunk_len, cum,
       |  CAST(floor((cum - chunk_len) / $PackBudget) AS BIGINT) AS pack_id
       |FROM p
       |ORDER BY shard, doc_id, chunk_id""".stripMargin

  /** PACK-POLICY ADVISOR (r17 verdict order #6) — [[packUtilization]]
    * prices the SHIPPED pack-then-truncate layout but no alternative;
    * this emits, per shard and SIDE BY SIDE, the fill/overflow ledger
    * of two policies over the same chunk stream:
    *
    *   - `running_sum` — the production [[chunkPacking]] rule
    *     (arrival order, start-of-chunk bin, boundary-crossing tokens
    *     truncated): kept = total − overflow, fill is kept tokens
    *     over pack capacity.
    *   - `bfd` — batched BEST-FIT-DECREASING: length classes
    *     descending, each class tops up existing packs fullest-first
    *     to their item capacity before opening fresh ones; packs
    *     never overflow, so kept = total and the cost surfaces as
    *     pack COUNT instead of truncation loss.
    *
    * BFD (fullest-first) is the decreasing-family member chosen
    * deliberately over textbook first-fit-decreasing: FFD's
    * revisit-in-CREATION-order rule makes its state an unbounded
    * creation-ordered load list folded per ITEM — inherently
    * sequential at corpus grain and inexpressible for the oracle.
    * Fullest-first needs only the load MULTISET, and descending order
    * makes equal lengths adjacent, so the fold collapses EXACTLY to
    * length-CLASS grain: ≤ [[ChunkTokens]] steps, each a closed-form
    * batch placement over the load buckets (a bucket at load b with
    * per-pack capacity `c = (B − b) div L` absorbs
    * `take = clamp(remaining, 0, cnt·c)` items as `take div c` packs
    * filled to cap + one partial; leftovers open `k = B div L`-item
    * fresh packs). A first NEXT-fit cut never revisited packs and
    * LOST to the truncating layout (sf0.001 shard 12: 821 vs 938
    * fill) — revisiting is the whole advisor signal.
    *
    * Scale shape: the pack-grain aggregate for the shipped policy,
    * plus ONE (shard, chunk_len) partial+final count whose size is
    * [[PackShards]] × [[ChunkTokens]] ≤ 1024 rows BY CONSTRUCTION at
    * any corpus size — the adjudicated bounded-collect class (the
    * bpe argmax convention): the BFD fold itself runs on that
    * config-bounded census, exact integer arithmetic, deterministic
    * order. No new windows, no data-scaled driver state. */
  def packPolicyCompare(spark: SparkSession, dir: String): DataFrame = {
    val B = PackBudget
    val runningSum = chunkPacking(spark, dir)
      .groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("chunk_len").cast("long")).as("pack_tokens"),
        max(col("cum")).as("max_cum"))
      .withColumn("overflow",
        greatest(col("max_cum") - (col("pack_id") + 1) * B, lit(0L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_packs"),
        sum(col("pack_tokens")).as("total_tokens"),
        sum(col("overflow")).as("overflow_tokens"))
      .select(col("shard"), lit("running_sum").as("policy"),
        col("n_packs"), col("total_tokens"),
        (col("total_tokens") - col("overflow_tokens")).as("kept_tokens"),
        col("overflow_tokens"),
        expr(s"((total_tokens - overflow_tokens) * 1000)" +
          s" div (n_packs * $B)").as("fill_mille"))
    // The bounded class census: ≤ PackShards × ChunkTokens rows
    // forever, distributed partial+final count before the collect.
    val cls = docChunksCore(spark, dir)
      .withColumn("shard",
        pmod(col("doc_id"), lit(PackShards)).cast("int"))
      .groupBy(col("shard"), col("chunk_len"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1).toLong, r.getLong(2)))
    val bfd = cls.groupBy(_._1).toSeq.map { case (shard, rows) =>
      val byLen = rows.map(t => t._2 -> t._3).toMap
      // buckets: (load, count of packs at that load), kept sorted
      // load-DESC — fullest-first IS the scan order, so the sequential
      // `rem` carry below equals the oracle's clamp(n − prefix) form.
      var buckets = Vector.empty[(Long, Long)]
      var total = 0L
      (ChunkTokens to 1 by -1).foreach { li =>
        val L = li.toLong
        val n = byLen.getOrElse(L, 0L)
        total += L * n
        val (elig, inel) = buckets.partition(_._1 <= B - L)
        var rem = n
        val pieces = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        elig.foreach { case (load, cnt) =>
          val cb = (B - load) / L
          val take = math.min(rem, cnt * cb)
          rem -= take
          val f = take / cb; val part = take % cb
          if (f > 0) pieces += ((load + cb * L, f))
          if (part > 0) pieces += ((load + part * L, 1L))
          val untouched = cnt - f - (if (part > 0) 1L else 0L)
          if (untouched > 0) pieces += ((load, untouched))
        }
        if (rem > 0) {
          val k = B / L
          val full = rem / k; val pr = rem % k
          if (full > 0) pieces += ((k * L, full))
          if (pr > 0) pieces += ((pr * L, 1L))
        }
        buckets = (inel ++ pieces).groupBy(_._1)
          .map { case (l, ps) => (l, ps.map(_._2).sum) }
          .toVector.sortBy(-_._1)
      }
      (shard, buckets.map(_._2).sum, total)
    }
    import spark.implicits._
    val bfdDf = bfd.toDF("shard", "n_packs", "total_tokens")
      .select(col("shard"), lit("bfd").as("policy"),
        col("n_packs"), col("total_tokens"),
        col("total_tokens").as("kept_tokens"),
        lit(0L).as("overflow_tokens"),
        expr(s"(total_tokens * 1000) div (n_packs * $B)")
          .as("fill_mille"))
    runningSum.unionByName(bfdDf).orderBy("shard", "policy")
  }

  /** DuckDB oracle for [[packPolicyCompare]] — policy A is the
    * [[packUtilizationOracleSql]] ledger re-emitted with the kept/fill
    * columns; policy B replays the BFD class fold as a recursive CTE
    * advancing one length class per step (64 fixed steps, absent
    * classes join NULL → n = 0 no-ops), state a load-DESC-sorted
    * LIST of (load, cnt) buckets manipulated with list lambdas — the
    * fullest-first prefix turns the Scala fold's sequential `rem`
    * carry into `clamp(n − Σ earlier caps, 0, cap)`, same integers.
    * Alias discipline: the per-step lateral aliases are `ln`/`nn`
    * (NOT `len`/`n`) because an unqualified name inside a lambda
    * resolves to the LEFT-JOINed cn COLUMN first — which is NULL
    * whenever the shard has no class of that length, and a NULL
    * threshold silently filters the whole bucket state away (the bug
    * the first cut shipped). */
  private[graft] def packPolicyCompareOracleSql: String =
    s"""WITH RECURSIVE c AS (
       |${docChunksOracleSql.replace("ORDER BY doc_id, chunk_id", "")}),
       |s AS (
       |  SELECT doc_id, chunk_id, chunk_len,
       |    CAST(doc_id % $PackShards AS INT) AS shard
       |  FROM c),
       |p AS (
       |  SELECT shard, chunk_len,
       |    CAST(sum(chunk_len) OVER (PARTITION BY shard
       |      ORDER BY doc_id, chunk_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM s),
       |pk AS (
       |  SELECT shard,
       |    CAST(floor((cum - chunk_len) / $PackBudget) AS BIGINT)
       |      AS pack_id,
       |    CAST(sum(chunk_len) AS BIGINT) AS pack_tokens,
       |    CAST(max(cum) AS BIGINT) AS max_cum
       |  FROM p GROUP BY 1, 2),
       |o AS (
       |  SELECT shard, pack_tokens,
       |    greatest(max_cum - (pack_id + 1) * $PackBudget, 0)
       |      AS overflow
       |  FROM pk),
       |ra AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_packs,
       |    CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(overflow) AS BIGINT) AS overflow_tokens
       |  FROM o GROUP BY shard),
       |cn AS (
       |  SELECT shard, CAST(chunk_len AS BIGINT) AS len,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM s GROUP BY 1, 2),
       |tot AS (
       |  SELECT shard, CAST(sum(len * n) AS BIGINT) AS total_tokens
       |  FROM cn GROUP BY shard),
       |st AS (
       |  SELECT shard, 0 AS r,
       |    CAST([] AS STRUCT(load BIGINT, cnt BIGINT)[]) AS b
       |  FROM (SELECT DISTINCT shard FROM cn)
       |  UNION ALL
       |  SELECT shard, r, b FROM (
       |    SELECT st.shard AS shard, st.r + 1 AS r,
       |      CAST($ChunkTokens - st.r AS BIGINT) AS ln,
       |      coalesce(c2.n, CAST(0 AS BIGINT)) AS nn,
       |      list_filter(st.b, t -> t.load <= $PackBudget - ln)
       |        AS elig,
       |      list_filter(st.b, t -> t.load > $PackBudget - ln)
       |        AS inel,
       |      list_transform(elig, (t, i) -> {
       |        'load': t.load, 'cnt': t.cnt,
       |        'cb': ($PackBudget - t.load) // ln,
       |        'take': least(greatest(nn - CAST(coalesce(list_sum(
       |            list_transform(elig[1:i-1],
       |              u -> u.cnt * (($PackBudget - u.load) // ln))),
       |            0) AS BIGINT), 0),
       |          t.cnt * (($PackBudget - t.load) // ln))}) AS wt,
       |      flatten(list_transform(wt, t -> list_filter([
       |        {'load': t.load + t.cb * ln, 'cnt': t.take // t.cb},
       |        {'load': t.load + (t.take % t.cb) * ln,
       |         'cnt': CAST(CASE WHEN t.take % t.cb > 0
       |                     THEN 1 ELSE 0 END AS BIGINT)},
       |        {'load': t.load,
       |         'cnt': t.cnt - t.take // t.cb
       |           - CAST(CASE WHEN t.take % t.cb > 0
       |                  THEN 1 ELSE 0 END AS BIGINT)}],
       |        p -> p.cnt > 0))) AS pieces,
       |      greatest(nn - CAST(coalesce(list_sum(list_transform(wt,
       |        t -> t.cnt * t.cb)), 0) AS BIGINT), 0) AS leftover,
       |      CAST($PackBudget // ln AS BIGINT) AS kk,
       |      list_filter([
       |        {'load': kk * ln, 'cnt': leftover // kk},
       |        {'load': (leftover % kk) * ln,
       |         'cnt': CAST(CASE WHEN leftover % kk > 0
       |                     THEN 1 ELSE 0 END AS BIGINT)}],
       |        p -> p.cnt > 0) AS newbins,
       |      inel || pieces || newbins AS comb,
       |      list_sort(list_transform(
       |        list_distinct(list_transform(comb, x -> x.load)),
       |        l -> {'load': l,
       |              'cnt': CAST(list_sum(list_transform(
       |                list_filter(comb, x -> x.load = l),
       |                x -> x.cnt)) AS BIGINT)}),
       |        'DESC') AS b
       |    FROM st LEFT JOIN cn c2
       |      ON c2.shard = st.shard AND c2.len = $ChunkTokens - st.r
       |    WHERE st.r < $ChunkTokens) q),
       |fin AS (
       |  SELECT shard,
       |    CAST(coalesce(list_sum(list_transform(b, x -> x.cnt)), 0)
       |      AS BIGINT) AS bins
       |  FROM st WHERE r = $ChunkTokens)
       |SELECT shard, 'running_sum' AS policy, n_packs, total_tokens,
       |  total_tokens - overflow_tokens AS kept_tokens,
       |  overflow_tokens,
       |  ((total_tokens - overflow_tokens) * 1000)
       |    // (n_packs * $PackBudget) AS fill_mille
       |FROM ra
       |UNION ALL
       |SELECT f.shard, 'bfd', f.bins, t.total_tokens, t.total_tokens,
       |  CAST(0 AS BIGINT),
       |  (t.total_tokens * 1000) // (f.bins * $PackBudget)
       |FROM fin f JOIN tot t USING (shard)
       |ORDER BY shard, policy""".stripMargin

  /** Keywords kept per document by [[tfidfTopK]]. */
  val TfidfK = 3

  /** Session-scoped memo of the (doc, term) TERM-FREQUENCY frame — the
    * corpus explode + hash aggregate both keyword rankers
    * ([[tfidfTopK]], [[bm25TopK]]) start from; per-term df, per-doc
    * length, and corpus totals are all cheap re-aggregations of it.
    * This is the "build the index once, persist, fan out" pattern: the
    * frame is (doc, distinct-term)-grain — bigger than the pair memos,
    * the same materialization a search engine's forward index IS — and
    * without it each ranker re-paid the corpus explode every run (the
    * r12 bench's last 3-5× max/min variance pair rode exactly that
    * recomputation). */
  private def tfFrame(spark: SparkSession, dir: String): DataFrame =
    graft.Memos.memo("tf_frame", spark, Seq(dir))(
      Tables.documents(spark, dir).filter(col("text").isNotNull)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint())

  /** TF-IDF keyword extraction: top-[[TfidfK]] terms per document ranked
    * by `tf · (N / df)` — term frequency × inverse document frequency
    * with the RAW ratio as the idf (no logarithm: IEEE `+ − × ÷` are
    * correctly rounded and therefore bit-identical across engines,
    * while `ln` is a libm call with no such guarantee — the log-scaled
    * variant is the same plan with one extra projection, but it could
    * not be hash-anchored). Monotone in the usual log formulation for
    * fixed tf, and the per-doc RANKING is what the operator delivers.
    *
    * Plan: one explode (corpus tokens) → (doc, term) count → term-level
    * df aggregate → hash join back on term → per-doc rank ≤ K, which
    * compiles to WindowGroupLimit (rank-capped BEFORE any buffer, the
    * engine-wide rule). The corpus size N rides a 1-row broadcast, not
    * a driver collect. */
  def tfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val tf = tfFrame(spark, dir)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n")).cast("double") / col("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfidfK)
      .select("doc_id", "term", "tf", "df", "score", "rk")
      .orderBy("doc_id", "rk")
  }

  /** DuckDB oracle for [[tfidfTopK]] — same counts, same exact-division
    * score, same (score desc, term asc) tiebreak. */
  private[graft] def tfidfTopKOracleSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n FROM d),
       |s AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       |    CAST(tf.tf * n.n AS DOUBLE) / dfreq.df AS score,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / dfreq.df DESC, tf.term)
       |      AS rk
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
       |SELECT doc_id, term, tf, df, score, rk
       |FROM s WHERE rk <= $TfidfK
       |ORDER BY doc_id, rk""".stripMargin

  /** BM25 Okapi parameters as exact rationals (k1 = 6/5, b = 3/4),
    * pre-folded into the integer numerator/denominator forms below so
    * the saturation term is ONE double division of two exact longs —
    * deterministic in both engines (long→double conversion is IEEE
    * round-to-nearest in both). */
  val Bm25TopK = 5

  /** BM25-scored top terms per document — [[tfidfTopK]]'s ranking
    * upgraded with the two things BM25 adds: term-frequency SATURATION
    * (a term's 50th occurrence adds almost nothing) and document-LENGTH
    * normalization (matches in short docs count for more). Every
    * arithmetic step is cross-engine hash-exact:
    *
    *  - the saturation term tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    *    with avgdl = T/N, clears to the integer ratio
    *    22·tf·T / (10·T·tf + 3·T + 9·dl·N) at k1=1.2, b=0.75 — two
    *    exact longs, one double division;
    *  - the idf is quantized to INTEGER BITS via the [[docSurprisal]]
    *    trick: idf_q = ⌊log₂((2N+2)/(2df+1))⌋ + 1 = `length(bin(DIV))`
    *    — the BM25 idf's odds ratio with the halves cleared by
    *    doubling, no floating log anywhere;
    *  - score = idf_q × saturation: one IEEE multiply.
    *
    * Plan shape (the 100 TB shape, same class as [[tfidfTopK]]): one
    * corpus explode → (doc, term) counts → per-doc length and per-term
    * df as two partial+final aggregates off that frame → hash joins
    * back → corpus totals (N, T) ride a 1-row broadcast → per-doc rank
    * ≤ K compiles to WindowGroupLimit, capping before any sort buffer. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val tf = tfFrame(spark, dir)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val totals = d.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        tf.agg(sum(col("tf")).as("t_total"))))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dl, "doc_id")
      .join(dfreq, "term")
      .crossJoin(broadcast(totals))
      .withColumn("idf_q",
        length(bin(expr("(2 * n + 2) DIV (2 * df + 1)"))).cast("bigint"))
      .withColumn("sat",
        (lit(22L) * col("tf") * col("t_total")).cast("double") /
          (lit(10L) * col("t_total") * col("tf") + lit(3L) * col("t_total")
            + lit(9L) * col("dl") * col("n")).cast("double"))
      .withColumn("score", col("idf_q").cast("double") * col("sat"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Bm25TopK)
      .select("doc_id", "term", "tf", "dl", "df", "score", "rk")
      .orderBy("doc_id", "rk")
  }

  /** DuckDB oracle for [[bm25TopK]] — the same integer-rational
    * saturation, bit-quantized idf, and (score desc, term) tiebreak. */
  private[graft] def bm25TopKOracleSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |tot AS (
       |  SELECT (SELECT count(*) FROM d) AS n,
       |    (SELECT sum(tf) FROM tf) AS t_total),
       |s AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, CAST(dl.dl AS BIGINT) AS dl,
       |    dfreq.df,
       |    CAST(length(bin((2 * n + 2) // (2 * df + 1))) AS BIGINT)
       |      AS idf_q,
       |    CAST(22 * tf.tf * t_total AS DOUBLE)
       |      / CAST(10 * t_total * tf.tf + 3 * t_total + 9 * dl.dl * n
       |             AS DOUBLE) AS sat
       |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term)
       |    CROSS JOIN tot),
       |r AS (
       |  SELECT doc_id, term, tf, dl, df,
       |    CAST(idf_q AS DOUBLE) * sat AS score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY CAST(idf_q AS DOUBLE) * sat DESC, term) AS rk
       |  FROM s)
       |SELECT doc_id, term, tf, dl, df, score, rk
       |FROM r WHERE rk <= $Bm25TopK
       |ORDER BY doc_id, rk""".stripMargin

  /** Mixture temperature for [[domainMixture]], expressed as the exact
    * operation √p (temperature α = 1/2): sqrt is a correctly-rounded
    * IEEE primitive in both engines, unlike pow(x, α) — the reason the
    * canonical-in-the-literature α values like 0.7 are traded for 0.5
    * here (the REBALANCING BEHAVIOR is identical in kind: rare domains
    * up-weighted, dominant domains damped). */
  val MixtureAlphaIsHalf = true

  /** Temperature-scaled domain (source) mixture weights — the data-MIXING
    * step of a training pipeline (XLM-R/Gopher-style multinomial
    * sampling): compute each source's natural token share p_s, damp it
    * through the α=0.5 temperature q_s ∝ p_s^α, and emit the resampling
    * factor q_s/p_s each source needs to hit the target mix. All-exact
    * pipeline: token counts are longs, p_s is one double division, √ is
    * correctly-rounded IEEE, and the normalizing sum Σ√p runs over
    * DECIMAL(28,12) casts so it is order-independent at any parallelism
    * — the one place a plain double sum would make the hash
    * partitioning-dependent.
    *
    * Plan: one partial+final aggregate over the corpus (|sources| rows
    * out), a 1-row broadcast of the totals, and a |sources|-row window
    * for the normalizer — nothing at any scale ever shuffles more than
    * the per-source aggregate. */
  def domainMixture(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(coalesce(col("text"), lit("")), " ")).cast("long")
          .as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val wAll = Window.partitionBy()
    perSource
      .withColumn("t_total", sum(col("n_tokens")).over(wAll))
      .withColumn("p_raw",
        col("n_tokens").cast("double") / col("t_total").cast("double"))
      .withColumn("sq", sqrt(col("p_raw")))
      .withColumn("z",
        sum(col("sq").cast("decimal(28,12)")).over(wAll).cast("double"))
      .withColumn("q_temp", col("sq") / col("z"))
      .withColumn("oversample", col("q_temp") / col("p_raw"))
      .select("source", "n_docs", "n_tokens", "p_raw", "q_temp",
        "oversample")
      .orderBy("source")
  }

  /** DuckDB oracle for [[domainMixture]] — same √-temperature, same
    * decimal-exact normalizer. */
  private[graft] def domainMixtureOracleSql: String =
    s"""WITH ps AS (
       |  SELECT source, count(*) AS n_docs,
       |    sum(CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT))
       |      AS n_tokens
       |  FROM documents GROUP BY source),
       |p AS (
       |  SELECT source, n_docs, n_tokens,
       |    CAST(n_tokens AS DOUBLE)
       |      / CAST(sum(n_tokens) OVER () AS DOUBLE) AS p_raw
       |  FROM ps),
       |q AS (
       |  SELECT *, sqrt(p_raw) AS sq,
       |    CAST(sum(CAST(sqrt(p_raw) AS DECIMAL(28,12))) OVER ()
       |      AS DOUBLE) AS z
       |  FROM p)
       |SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, p_raw,
       |  sq / z AS q_temp,
       |  (sq / z) / p_raw AS oversample
       |FROM q
       |ORDER BY source""".stripMargin

  /** 2^60 as an exact double — the denominator that turns a 60-bit md5
    * hash into a uniform in [0,1) for stochastic rounding. */
  private val H60Unit = math.pow(2, 60)

  /** Materialization plan for the √-temperature mixture: each document's
    * copy count under its source's [[domainMixture]] oversample factor
    * f, via DETERMINISTIC stochastic rounding — ⌊f⌋ copies plus one more
    * iff frac(f) > u(doc), u a salted 60-bit md5 uniform. In
    * expectation every source lands exactly on its target mixture
    * weight; f < 1 degrades to a keep-with-probability-f downsample
    * (n_copies ∈ {0, 1}), so one operator covers both over- and
    * under-represented sources. Emitting the per-doc count (not the
    * exploded copies) keeps the plan a projection; the actual repeat is
    * `explode(sequence(1, n_copies))` at the consumer.
    *
    * Cross-engine exactness: f = q_temp/p_raw is identical IEEE on both
    * engines (√ is correctly rounded, the normalizer is a decimal-exact
    * sum), floor/frac are exact, frac·2^60 is a pure exponent shift,
    * and the long→double cast of the hash rounds to nearest
    * identically — so the comparison, not just the estimate, matches
    * bit-for-bit.
    *
    * Scale shape: the mixture table is source-count-sized and rides a
    * broadcast; the corpus pass is one codegen'd projection, no
    * shuffle before the output sort. */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val weights = domainMixture(spark, dir)
      .select(col("source"), col("oversample"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(broadcast(weights), "source")
      .withColumn("u", h60("concat('mix', cast(doc_id as string))"))
      .withColumn("n_copies",
        floor(col("oversample")).cast("long") +
          when((col("oversample") - floor(col("oversample"))) *
            lit(H60Unit) > col("u").cast("double"), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[mixtureResample]] — the [[domainMixtureOracleSql]]
    * CTE chain plus the same salted-hash stochastic rounding. */
  private[graft] def mixtureResampleOracleSql: String =
    s"""WITH ps AS (
       |  SELECT source, count(*) AS n_docs,
       |    sum(CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT))
       |      AS n_tokens
       |  FROM documents GROUP BY source),
       |p AS (
       |  SELECT source, n_tokens,
       |    CAST(n_tokens AS DOUBLE)
       |      / CAST(sum(n_tokens) OVER () AS DOUBLE) AS p_raw
       |  FROM ps),
       |q AS (
       |  SELECT *, sqrt(p_raw) AS sq,
       |    CAST(sum(CAST(sqrt(p_raw) AS DECIMAL(28,12))) OVER ()
       |      AS DOUBLE) AS z
       |  FROM p),
       |mix AS (
       |  SELECT source, (sq / z) / p_raw AS f FROM q)
       |SELECT d.doc_id, d.source,
       |  CAST(floor(m.f) AS BIGINT) +
       |    CASE WHEN (m.f - floor(m.f)) * $H60Unit >
       |      CAST(CAST('0x' || substr(md5('mix' ||
       |        CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
       |    THEN 1 ELSE 0 END AS n_copies
       |FROM documents d JOIN mix m USING (source)
       |ORDER BY d.doc_id""".stripMargin

  /** A document is flagged improbable when its mean token surprisal
    * exceeds this many bits (shared with the oracle). */
  val SurprisalBitsMax = 10.0

  /** Unigram language-model surprisal scoring — the perplexity-style
    * quality filter of a training pipeline (CCNet/Gopher-style: score
    * each document by how improbable its tokens are under a corpus
    * language model; gibberish, boilerplate IDs, and wrong-language text
    * score high). The LM here is the corpus's own unigram distribution,
    * and per-token surprisal is quantized to BITS so the score is
    * hash-exact across engines: surprisal(t) = ⌊log₂(N / cnt(t))⌋ + 1 =
    * `length(bin(N div cnt))` — integer division, binary digit count,
    * no floating log anywhere. The per-document mean is then one IEEE
    * division of exact longs. A real fractional-bit LM would rank
    * almost identically (quantization shifts scores < 1 bit); the
    * integer form is what lets DuckDB referee it.
    *
    * Scale shape: token explode → one hash aggregate for the vocab
    * (partial+final, hot tokens combine map-side), corpus total rides a
    * 1-row broadcast, and the score join is token-keyed — AQE's skew
    * split handles the 'the'-sized posting lists. The exploded frame is
    * REUSED logically (vocab build, corpus total, score join all derive
    * from `toks`) but deliberately not cached: materializing the
    * token-grain frame would cost corpus-token-count × row overhead in
    * the block manager, while the three derived jobs each reduce it
    * map-side — re-scanning the columnar source is the cheaper side of
    * that trade at every scale. */
  def docSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(tokens).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    val bits = vocab.crossJoin(broadcast(total))
      .select(col("token"),
        length(bin(expr("n_total DIV cnt"))).cast("bigint").as("bits"))
    toks.join(bits, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("total_bits"))
      .withColumn("avg_bits",
        col("total_bits").cast("double") / col("n_tokens").cast("double"))
      .withColumn("improbable", col("avg_bits") > SurprisalBitsMax)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[docSurprisal]] — same integer-division
    * bit-count quantization, same final division. */
  private[graft] def docSurprisalOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |v AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
       |n AS (SELECT count(*) AS n_total FROM t),
       |b AS (
       |  SELECT token,
       |    CAST(length(bin(CAST(n_total // cnt AS BIGINT))) AS BIGINT)
       |      AS bits
       |  FROM v CROSS JOIN n),
       |d AS (
       |  SELECT doc_id, count(*) AS n_tokens, sum(bits) AS total_bits
       |  FROM t JOIN b USING (token)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_tokens, CAST(total_bits AS BIGINT) AS total_bits,
       |  CAST(total_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_bits,
       |  CAST(total_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    > $SurprisalBitsMax AS improbable
       |FROM d
       |ORDER BY doc_id""".stripMargin

  /** A document is flagged templated when its mean conditional bigram
    * surprisal falls below this many bits (shared with the oracle). */
  val BigramPredictableBits = 3.0

  /** Bigram-LM conditional surprisal — the CONTEXT-aware upgrade of
    * [[docSurprisal]]'s unigram LM: each in-document bigram (prev, cur)
    * scores |bin(c(prev) DIV c(prev, cur))| bits, the integer-quantized
    * −log₂ P(cur | prev) under the corpus bigram model (observed
    * bigrams only, so every count ≥ 1 and no smoothing constant enters
    * the hash). Low mean bits = the corpus LM predicts each next token
    * from its context — templated/boilerplate text that unigram
    * surprisal misses (template RARE-word slots score high under a
    * unigram model but their contexts make them predictable).
    *
    * Scale shape: token explode → one per-doc lag window
    * (hash-partitioned on doc_id, no global sort) → bigram-grain hash
    * aggregate (c2), context counts by RE-AGGREGATING c2 (never a
    * second corpus pass), bits joined back on the bigram key (hash
    * join, nothing broadcast at corpus scale), per-doc rollup. Widest
    * shuffle is bigram-vocabulary grain. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // r18 note (measured and kept AS-IS): the zip_with bigram former
    // that helped [[dsirWeights]] was A/B-tested here and REGRESSED
    // this query (1.11 → ~2.0 s at sf0.1): `bi` feeds TWO consumers
    // (the c2 model chain and the final per-doc join), so the
    // interpreted per-token struct lambda ran twice per execution,
    // costing more than the lag window's native exchange+sort. The
    // window form stays.
    val toks = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "token")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("prev", lag(col("token"), 1).over(w))
      .filter(col("prev").isNotNull)
    val c2 = bi.groupBy("prev", "token").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("prev").agg(sum(col("c2")).as("c1"))
    val bits = c2.join(c1, "prev")
      .select(col("prev"), col("token"),
        length(bin(expr("c1 DIV c2"))).cast("bigint").as("bits"))
    bi.join(bits, Seq("prev", "token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("total_bits"))
      .withColumn("avg_bits",
        col("total_bits").cast("double") / col("n_bigrams").cast("double"))
      .withColumn("templated", col("avg_bits") < BigramPredictableBits)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[bigramSurprisal]] — bigrams via 1-based list
    * slicing (same pairs as the lag window), same integer bits. */
  private[graft] def bigramSurprisalOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents
       |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
       |b AS (
       |  SELECT doc_id, tk[s] AS prev, tk[s + 1] AS token
       |  FROM d, unnest(generate_series(1, n - 1)) AS g(s)),
       |c2 AS (SELECT prev, token, count(*) AS c2 FROM b
       |       GROUP BY prev, token),
       |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2
       |       GROUP BY prev),
       |bits AS (
       |  SELECT c2.prev, c2.token,
       |    CAST(length(bin(CAST(c1 // c2 AS BIGINT))) AS BIGINT) AS bits
       |  FROM c2 JOIN c1 USING (prev)),
       |r AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(bits) AS BIGINT) AS total_bits
       |  FROM b JOIN bits USING (prev, token)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, total_bits,
       |  CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       |    AS avg_bits,
       |  CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       |    < $BigramPredictableBits AS templated
       |FROM r
       |ORDER BY doc_id""".stripMargin

  /** A document is flagged low-diversity when its quantized token
    * entropy falls below this many bits (shared with the oracle). */
  val EntropyBitsMin = 3.0

  /** Per-document token-entropy screen — the distribution-wide
    * diversity signal that complements [[docRepetition]]'s single
    * top-token ratio (a page alternating between TWO boilerplate
    * tokens sails past the top-ratio screen but has ~1 bit of
    * entropy) and [[docSurprisal]]'s corpus-level LM (which scores
    * rare tokens, not within-doc monotony). Same integer-bit
    * quantization as surprisal, but against the document's OWN
    * distribution: bits(t) = |bin(n_tokens DIV cnt(t))|, entropy ≈
    * Σ cnt·bits / n — exact long arithmetic end-to-end, one IEEE
    * division at the end, so DuckDB referees it bit-for-bit.
    *
    * Scale shape: one (doc, token) hash aggregate, then a per-doc
    * hash-partitioned window for the total (no global sort), then a
    * per-doc rollup — all partial+final-friendly; nothing is
    * corpus-pairwise and the widest frame is token-grain, the same
    * posture as [[docSurprisal]]. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val wDoc = Window.partitionBy("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_tokens", sum(col("cnt")).over(wDoc))
      .withColumn("bits",
        length(bin(expr("n_tokens DIV cnt"))).cast("bigint"))
      .groupBy("doc_id")
      .agg(
        max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * col("bits")).as("weighted_bits"))
      .withColumn("entropy_bits",
        col("weighted_bits").cast("double") / col("n_tokens").cast("double"))
      .withColumn("low_diversity", col("entropy_bits") < EntropyBitsMin)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[tokenEntropy]] — same integer-bit
    * quantization against the per-doc distribution; every integer
    * aggregate cast to BIGINT (DuckDB widens sums to HUGEINT). */
  private[graft] def tokenEntropyOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, token, count(*) AS cnt FROM t GROUP BY 1, 2),
       |d AS (
       |  SELECT doc_id, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens
       |  FROM c),
       |b AS (
       |  SELECT doc_id, cnt, n_tokens,
       |    CAST(length(bin(CAST(n_tokens // cnt AS BIGINT))) AS BIGINT)
       |      AS bits
       |  FROM d),
       |g AS (
       |  SELECT doc_id, max(n_tokens) AS n_tokens,
       |    count(*) AS n_distinct,
       |    CAST(sum(cnt * bits) AS BIGINT) AS weighted_bits
       |  FROM b GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct, weighted_bits,
       |  CAST(weighted_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    AS entropy_bits,
       |  CAST(weighted_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    < $EntropyBitsMin AS low_diversity
       |FROM g
       |ORDER BY doc_id""".stripMargin

  /** Triangle census over the near-dup graph — the cluster-cohesion
    * audit of a dedup pipeline: a component whose members form
    * triangles (mutual near-dups) is a genuine template family, while
    * a triangle-free chain is the transitive-closure artifact that
    * over-merges distinct documents ([[dedupComponents]] collapses
    * both identically — this is the signal that tells them apart).
    * Per vertex: degree, triangle count, and the local clustering
    * coefficient 2·tri / (deg·(deg−1)) — one exact-long division, so
    * the doubles hash across engines.
    *
    * Scale shape: node-iterator triangle enumeration over the
    * canonically oriented (a<b) verified pair set — two self-joins of
    * the BLOCKED, df-CAPPED edge list ([[nearDupPairsCore]], KB-sized,
    * memoized+checkpointed), each triangle found exactly once via
    * a<b<c orientation. Never corpus-sized: the join input is the
    * near-dup pair set, whose cap is the pipeline's standing skew
    * guard. */
  def nearDupTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = nearDupPairsCore(spark, dir)
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.doc_b") === col("bc.doc_a"))
      .join(e.as("ac"),
        col("ab.doc_a") === col("ac.doc_a") &&
          col("bc.doc_b") === col("ac.doc_b"))
      .select(col("ab.doc_a").as("v_a"), col("ab.doc_b").as("v_b"),
        col("bc.doc_b").as("v_c"))
    val deg = e.select(col("doc_a").as("v"))
      .unionByName(e.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    val triPerV = tri
      .select(explode(array(col("v_a"), col("v_b"), col("v_c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg.join(triPerV, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          (lit(2L) * coalesce(col("n_triangles"), lit(0L))).cast("double") /
            (col("degree") * (col("degree") - lit(1L))).cast("double"))
          .as("clustering"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[nearDupTriangles]] — the same node-iterator
    * enumeration over the capped pair oracle's edge set. */
  private[graft] def nearDupTrianglesOracleSql(shinglesSql: String): String =
    s"""WITH base AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)
          .replace("ORDER BY 1, 2", "")}),
       |e AS (SELECT doc_a, doc_b FROM base),
       |tri AS (
       |  SELECT ab.doc_a AS v_a, ab.doc_b AS v_b, bc.doc_b AS v_c
       |  FROM e ab
       |  JOIN e bc ON ab.doc_b = bc.doc_a
       |  JOIN e ac ON ab.doc_a = ac.doc_a AND bc.doc_b = ac.doc_b),
       |deg AS (
       |  SELECT v, count(*) AS degree FROM (
       |    SELECT doc_a AS v FROM e
       |    UNION ALL SELECT doc_b AS v FROM e)
       |  GROUP BY v),
       |tv AS (
       |  SELECT v, count(*) AS n_triangles FROM (
       |    SELECT v_a AS v FROM tri
       |    UNION ALL SELECT v_b AS v FROM tri
       |    UNION ALL SELECT v_c AS v FROM tri)
       |  GROUP BY v)
       |SELECT deg.v AS doc_id, deg.degree,
       |  coalesce(tv.n_triangles, 0) AS n_triangles,
       |  CASE WHEN deg.degree >= 2
       |    THEN CAST(2 * coalesce(tv.n_triangles, 0) AS DOUBLE)
       |      / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
       |  END AS clustering
       |FROM deg LEFT JOIN tv ON deg.v = tv.v
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Probabilistic membership + frequency sketches. Both are the
  // DETERMINISTIC members of their families (like [[CdcOps.kmvDistinct]]
  // vs HLL): every bit position and cell index is a pure function of
  // md5 hashes both engines compute identically, so even the sketches'
  // ERRORS (Bloom false positives, CMS overestimates) are cross-engine
  // hash-checked — the oracle verifies the sketch, not just the answer.
  // --------------------------------------------------------------------

  /** Bloom filter size in bits — sized so the sf0.01 eval set loads the
    * filter lightly (FP ≈ 1e-3, a handful of observable false positives)
    * while staying well-defined at any scale. */
  val BloomBits = 65536

  /** Bloom-filter decontamination — the at-scale form of
    * [[ngramDecontam]]: instead of broadcasting the full distinct eval
    * n-gram set, broadcast an [[BloomBits]]-bit Bloom filter of it
    * (k=3 positions per gram via Kirsch–Mitzenmacher double hashing:
    * pos_i = (h1 + i·h2) mod m). A train gram is bloom-positive iff all
    * three of its positions are set. Per train doc the query emits both
    * the bloom verdict AND the exact verdict, so `false_positives`
    * measures the filter's actual FP behavior — and because every
    * position is md5-derived, the oracle reproduces the same filter
    * bit-for-bit and the FPs themselves hash-match.
    *
    * Scale shape: the filter is the whole point — at 100 TB the eval
    * gram set may be 10^9 rows, but the BITSET is [[BloomBits]] bits
    * regardless (here the set-position list, ≤ 3·|eval| distinct ints,
    * stands in for the bitset; a production build would OR it into
    * long[1024] and broadcast that). The corpus side stays one scan +
    * one per-doc aggregate; the three position probes are broadcast
    * hash joins against a table that never exceeds m rows. */
  /** Session-scoped memo of the [[bloomDecontam]] doc-grain screen
    * frame — r18 optimization, the [[winnowPairsCore]] convention: the
    * screen has TWO registered consumers (`bloom_decontam` re-emits
    * it; [[decontamScreenAgreement]] reads its bloom AND exact columns)
    * and each used to re-run the full gram explode + filter build +
    * probe join per call. A decontamination verdict table is run once
    * per corpus release and fanned out in production; populate cost
    * visible as `bloom_screen` in `memo_populate`. */
  def bloomDecontam(spark: SparkSession, dir: String): DataFrame =
    graft.Memos.memo("bloom_screen", spark, Seq(dir))(
      bloomDecontamUncached(spark, dir).localCheckpoint())
      // the emitted order is part of the oracle contract — re-sort the
      // checkpoint read rather than trusting stored partition order
      .orderBy("doc_id")

  private def bloomDecontamUncached(spark: SparkSession,
      dir: String): DataFrame = {
    val m = lit(BloomBits.toLong)
    // Gram TEXT first, hashes later: distinct-compact each side BEFORE
    // the double md5 so the hash runs once per distinct gram (eval) /
    // distinct (doc, gram) (train) instead of once per occurrence per
    // consumer — the filter's own math is untouched (every position is
    // still a pure function of the gram). The checkpoint pins the
    // small eval frame; its two consumers (bit set, exact set) would
    // otherwise each re-run the explode+distinct lineage.
    val gramsRaw = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        pmod(h60("cast(doc_id as string)"), lit(100)).as("bucket"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("bucket"),
        explode(ngrams3("toks")).as("g"))
    def positions(df: DataFrame): DataFrame = df
      .withColumn("h1", h60("g"))
      .withColumn("h2", h60("concat(g, '#b2')"))
      .withColumn("p0", pmod(col("h1"), m))
      .withColumn("p1", pmod(col("h1") + col("h2"), m))
      .withColumn("p2", pmod(col("h1") + lit(2L) * col("h2"), m))
    val evalHashed = positions(
      gramsRaw.filter(col("bucket") >= TrainPct).select("g").distinct())
      .localCheckpoint()
    val bits = evalHashed
      .select(explode(array(col("p0"), col("p1"), col("p2"))).as("bp"))
      .distinct()
    val evalExact = evalHashed.select(col("h1").as("ev_h")).distinct()
    // The trailing hash-keyed distinct keeps the contract symmetric
    // with the oracle under a 60-bit collision (it dedups on the
    // hashes, not the gram text); it runs over the compacted frame.
    val train = positions(
      gramsRaw.filter(col("bucket") < TrainPct)
        .select("doc_id", "g").distinct())
      .select("doc_id", "h1", "p0", "p1", "p2").distinct()
    train
      .join(broadcast(bits.select(col("bp").as("b0"))),
        col("p0") === col("b0"), "left")
      .join(broadcast(bits.select(col("bp").as("b1"))),
        col("p1") === col("b1"), "left")
      .join(broadcast(bits.select(col("bp").as("b2"))),
        col("p2") === col("b2"), "left")
      .join(broadcast(evalExact), col("h1") === col("ev_h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("b0").isNotNull && col("b1").isNotNull
          && col("b2").isNotNull, 1L).otherwise(0L)).as("bloom_hits"),
        sum(when(col("ev_h").isNotNull, 1L).otherwise(0L)).as("exact_hits"))
      .withColumn("false_positives", col("bloom_hits") - col("exact_hits"))
      .withColumn("contaminated", col("bloom_hits") > 0)
  }

  /** DuckDB oracle for [[bloomDecontam]] — the same double-hashed
    * positions, the same distinct-bit build, the same all-three-set
    * probe rule. */
  private[graft] def bloomDecontamOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % 100 AS bucket,
       |    string_split(text, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (
       |  SELECT doc_id, bucket,
       |    CAST('0x' || substr(md5(gr), 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substr(md5(gr || '#b2'), 1, 15) AS BIGINT) AS h2
       |  FROM (
       |    SELECT doc_id, bucket,
       |      unnest(list_transform(generate_series(1, len(toks) - 2),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |        AS gr
       |    FROM d WHERE len(toks) >= 3)),
       |pos AS (
       |  SELECT doc_id, bucket, h1,
       |    h1 % $BloomBits AS p0,
       |    (h1 + h2) % $BloomBits AS p1,
       |    (h1 + 2 * h2) % $BloomBits AS p2
       |  FROM g),
       |bits AS (
       |  SELECT DISTINCT bp FROM (
       |    SELECT p0 AS bp FROM pos WHERE bucket >= $TrainPct
       |    UNION ALL SELECT p1 FROM pos WHERE bucket >= $TrainPct
       |    UNION ALL SELECT p2 FROM pos WHERE bucket >= $TrainPct)),
       |ev AS (SELECT DISTINCT h1 AS ev_h FROM pos
       |       WHERE bucket >= $TrainPct),
       |tr AS (SELECT DISTINCT doc_id, h1, p0, p1, p2 FROM pos
       |       WHERE bucket < $TrainPct)
       |SELECT tr.doc_id,
       |  count(*) AS n_ngrams,
       |  CAST(sum(CASE WHEN b0.bp IS NOT NULL AND b1.bp IS NOT NULL
       |    AND b2.bp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS bloom_hits,
       |  CAST(sum(CASE WHEN ev.ev_h IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS exact_hits,
       |  CAST(sum(CASE WHEN b0.bp IS NOT NULL AND b1.bp IS NOT NULL
       |    AND b2.bp IS NOT NULL THEN 1 ELSE 0 END)
       |    - sum(CASE WHEN ev.ev_h IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS false_positives,
       |  sum(CASE WHEN b0.bp IS NOT NULL AND b1.bp IS NOT NULL
       |    AND b2.bp IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
       |FROM tr
       |LEFT JOIN bits b0 ON tr.p0 = b0.bp
       |LEFT JOIN bits b1 ON tr.p1 = b1.bp
       |LEFT JOIN bits b2 ON tr.p2 = b2.bp
       |LEFT JOIN ev ON tr.h1 = ev.ev_h
       |GROUP BY tr.doc_id
       |ORDER BY tr.doc_id""".stripMargin

  /** Count-min sketch geometry: [[CmsDepth]] rows × [[CmsWidth]]
    * counters. The width is deliberately SMALLER than the corpus vocab
    * so collisions actually happen and the min-over-rows estimator has
    * real work to do — the `overestimate` column is the sketch's
    * signature error, and it hash-matches. */
  val CmsDepth = 3
  val CmsWidth = 16

  /** Count-min-sketch heavy hitters over corpus tokens. Build: one pass
    * explodes tokens and increments [[CmsDepth]] cells per occurrence
    * (row r's column = (h1 + r·h2) mod [[CmsWidth]], Kirsch–Mitzenmacher
    * again); the sketch is a fixed d×w = 48 counters regardless
    * of corpus size. Read: every distinct token's estimate is the MIN of
    * its d cells (Cormode–Muthukrishnan), joined against its exact count
    * so the overestimate is observable; `heavy` flags tokens whose
    * ESTIMATE clears 5% of the corpus — the decision a real pipeline
    * makes from the sketch alone.
    *
    * Scale shape: the sketch build is a partial+final aggregate onto
    * d·w cells — map-side combine collapses each task to ≤ 48 rows, so
    * the shuffle is microscopic at any corpus size. The exact side (for
    * verification) is one token-level aggregate; the sketch probe is a
    * broadcast join against the 48-row cell table. The corpus total
    * rides the same 1-row broadcast cross join the other global-scalar
    * queries use — no driver collect. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val w = lit(CmsWidth.toLong)
    // Compact to vocab grain FIRST: one token-grain hash aggregate, and
    // the double md5 runs once per DISTINCT token — the cell counts,
    // corpus total, and exact counts all derive count-weighted from the
    // vocab frame (identical sketch arithmetic: a cell's count is the
    // Σ n_exact of the tokens that map there). The checkpoint pins the
    // KB-sized vocab so the three consumers below don't re-run the
    // token-grain aggregate per branch.
    val vocab = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("n_exact"))
      .select(col("t"), col("n_exact"),
        h60("t").as("h1"), h60("concat(t, '#cms')").as("h2"))
      .withColumn("q0", pmod(col("h1"), w))
      .withColumn("q1", pmod(col("h1") + col("h2"), w))
      .withColumn("q2", pmod(col("h1") + lit(2L) * col("h2"), w))
      .localCheckpoint()
    val cells = vocab
      .select(col("n_exact"),
        posexplode(array(col("q0"), col("q1"), col("q2"))).as(Seq("r", "p")))
      .groupBy("r", "p").agg(sum(col("n_exact")).as("cnt"))
    val total = vocab.agg(sum(col("n_exact")).as("n_total"))
    vocab
      .join(broadcast(cells.select(col("r").as("r0"), col("p").as("pp0"),
        col("cnt").as("c0"))), col("r0") === 0 && col("q0") === col("pp0"))
      .join(broadcast(cells.select(col("r").as("r1"), col("p").as("pp1"),
        col("cnt").as("c1"))), col("r1") === 1 && col("q1") === col("pp1"))
      .join(broadcast(cells.select(col("r").as("r2"), col("p").as("pp2"),
        col("cnt").as("c2"))), col("r2") === 2 && col("q2") === col("pp2"))
      .crossJoin(broadcast(total))
      .select(col("t").as("token"), col("n_exact"),
        least(col("c0"), col("c1"), col("c2")).as("cms_est"),
        (least(col("c0"), col("c1"), col("c2")) - col("n_exact"))
          .as("overestimate"),
        (least(col("c0"), col("c1"), col("c2")) * 20 >= col("n_total"))
          .as("heavy"))
      .orderBy("token")
  }

  /** DuckDB oracle for [[cmsHeavyHitters]] — same cells, same min-read,
    * same 5% heavy rule. */
  private[graft] def cmsHeavyHittersOracleSql: String =
    s"""WITH tk AS (
       |  SELECT t,
       |    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substr(md5(t || '#cms'), 1, 15) AS BIGINT) AS h2
       |  FROM (SELECT unnest(string_split(text, ' ')) AS t
       |        FROM documents WHERE text IS NOT NULL)
       |  WHERE len(t) > 0),
       |cells AS (
       |  SELECT r, p, count(*) AS cnt FROM (
       |    SELECT 0 AS r, h1 % $CmsWidth AS p FROM tk
       |    UNION ALL SELECT 1, (h1 + h2) % $CmsWidth FROM tk
       |    UNION ALL SELECT 2, (h1 + 2 * h2) % $CmsWidth FROM tk)
       |  GROUP BY r, p),
       |tot AS (SELECT count(*) AS n_total FROM tk),
       |ex AS (
       |  SELECT t, h1, h2, count(*) AS n_exact,
       |    h1 % $CmsWidth AS q0,
       |    (h1 + h2) % $CmsWidth AS q1,
       |    (h1 + 2 * h2) % $CmsWidth AS q2
       |  FROM tk GROUP BY t, h1, h2)
       |SELECT ex.t AS token,
       |  CAST(ex.n_exact AS BIGINT) AS n_exact,
       |  CAST(least(c0.cnt, c1.cnt, c2.cnt) AS BIGINT) AS cms_est,
       |  CAST(least(c0.cnt, c1.cnt, c2.cnt) - ex.n_exact AS BIGINT)
       |    AS overestimate,
       |  least(c0.cnt, c1.cnt, c2.cnt) * 20 >= tot.n_total AS heavy
       |FROM ex
       |JOIN cells c0 ON c0.r = 0 AND c0.p = ex.q0
       |JOIN cells c1 ON c1.r = 1 AND c1.p = ex.q1
       |JOIN cells c2 ON c2.r = 2 AND c2.p = ex.q2
       |CROSS JOIN tot
       |ORDER BY token""".stripMargin

  /** Token-budget systematic sampling: one lattice point every
    * [[BudgetStep]] tokens. */
  val BudgetStep = 500

  /** Shards for [[tokenBudgetSample]]'s running sums — same rationale as
    * [[chunkPacking]]'s [[PackShards]]. */
  val SampleShards = 8

  /** Weighted (token-proportional) corpus sampling via SYSTEMATIC
    * lattice selection — the deterministic member of the weighted-
    * sampling family (Efraimidis–Spirakis A-ES keys are `u^(1/w)` powers
    * whose cross-engine float ordering cannot be hash-anchored; lattice
    * crossing is pure integer arithmetic). Docs are laid out in
    * hash-of-id order, each occupying an interval equal to its token
    * count; a doc is selected iff its interval contains a multiple of
    * [[BudgetStep]], with `copies` = how many (long docs can earn > 1 —
    * exactly proportional-to-size sampling, the epoch-construction
    * primitive mixture_resample's stochastic rounding approximates from
    * weights instead of sizes).
    *
    * Scale shape: the layout is per-shard ([[SampleShards]] independent
    * running sums — the [[chunkPacking]] pattern), so no global sort or
    * single-partition window exists; each shard's window is an
    * independent partition sort. At 1000 executors you'd raise the shard
    * count to match; selection stays exact per shard. */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        h60("cast(doc_id as string)").as("ord"))
      .withColumn("shard", pmod(col("ord"), lit(SampleShards)).cast("int"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("copies",
        expr(s"cum div $BudgetStep") -
          expr(s"(cum - n_tokens) div $BudgetStep"))
      .filter(col("copies") > 0)
      .select("doc_id", "n_tokens", "shard", "cum", "copies")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[tokenBudgetSample]] — same hash layout, same
    * per-shard running sum, same lattice-crossing rule. */
  private[graft] def tokenBudgetSampleOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) AS ord
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (
       |  SELECT doc_id, n_tokens, ord,
       |    CAST(ord % $SampleShards AS INT) AS shard
       |  FROM d),
       |c AS (
       |  SELECT doc_id, n_tokens, shard,
       |    CAST(sum(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY ord, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS cum
       |  FROM s)
       |SELECT doc_id, n_tokens, shard, cum,
       |  CAST(cum // $BudgetStep - (cum - n_tokens) // $BudgetStep
       |    AS BIGINT) AS copies
       |FROM c
       |WHERE cum // $BudgetStep - (cum - n_tokens) // $BudgetStep > 0
       |ORDER BY doc_id""".stripMargin

  /** [[splitDrift]] histogram geometry (shared with the oracle): fixed
    * [[DriftBinWidth]]-char bins, ids 0..[[DriftBins]]−1 with the last
    * bin open-ended; a share gap above [[DriftShareTol]] flags the
    * bin. */
  val DriftBins = 10
  val DriftBinWidth = 60
  val DriftShareTol = 0.1

  /** Train/val distribution-drift report — the split-skew check a
    * training pipeline runs before trusting its eval numbers: compare
    * the TRAIN and VAL document-length distributions bin by bin over a
    * FIXED equi-width histogram (data-independent bin anchors, so the
    * report is stable across corpus versions). Emits per bin both
    * splits' counts and shares, the share delta, and a
    * [[DriftShareTol]] flag. Deliberately PER-BIN, not a scalar
    * divergence: a single PSI/KL number needs a transcendental log and
    * an ordered float sum (neither cross-engine exact), while the
    * per-bin frame is all exact counts + one IEEE division per
    * share — and tells you WHERE the drift lives, which is what the
    * responding engineer needs anyway. Empty bins surface as explicit
    * zero rows via a generated bin spine (a dropped bin would silently
    * shrink the comparison).
    *
    * Scale shape: one hash aggregate per split at bin grain (≤
    * [[DriftBins]] × 2 rows out of any corpus size), then a broadcast
    * join against the constant spine. */
  def splitDrift(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = Tables.documents(spark, dir)
      .select(col("n_chars"),
        pmod(h60("cast(doc_id as string)"), lit(100)).as("bucket"))
      .filter(col("bucket") < TrainPct + ValPct)
      .select(
        when(col("bucket") < TrainPct, "train").otherwise("val").as("split"),
        least(expr(s"n_chars div $DriftBinWidth"),
          lit((DriftBins - 1).toLong)).cast("int").as("bin"))
    val counts = bucketed.groupBy("split", "bin")
      .agg(count(lit(1)).as("n"))
    val spine = spark.range(DriftBins)
      .select(col("id").cast("int").as("bin"))
    val tr = counts.filter(col("split") === "train")
      .select(col("bin"), col("n").as("train_n"))
    val va = counts.filter(col("split") === "val")
      .select(col("bin"), col("n").as("val_n"))
    val joined = spine
      .join(tr, Seq("bin"), "left")
      .join(va, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("train_n"), lit(0L)).as("train_n"),
        coalesce(col("val_n"), lit(0L)).as("val_n"))
    val totals = joined.agg(sum(col("train_n")).as("train_total"),
      sum(col("val_n")).as("val_total"))
    joined.crossJoin(broadcast(totals))
      .select(col("bin"),
        (col("bin") * DriftBinWidth).cast("long").as("bin_lo"),
        col("train_n"), col("val_n"),
        (col("train_n").cast("double") / col("train_total").cast("double"))
          .as("train_share"),
        (col("val_n").cast("double") / col("val_total").cast("double"))
          .as("val_share"))
      .withColumn("share_delta", col("val_share") - col("train_share"))
      .withColumn("drifted", abs(col("share_delta")) > DriftShareTol)
      .orderBy("bin")
  }

  /** DuckDB oracle for [[splitDrift]] — same hash bands, same fixed
    * bins, same zero-row spine, same per-share divisions. */
  private[graft] def splitDriftOracleSql: String =
    s"""WITH b AS (
       |  SELECT
       |    CASE WHEN bucket < $TrainPct THEN 'train' ELSE 'val' END
       |      AS split,
       |    CAST(least(n_chars // $DriftBinWidth, ${DriftBins - 1})
       |      AS INT) AS bin
       |  FROM (
       |    SELECT n_chars,
       |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |        AS BIGINT) % 100 AS bucket
       |    FROM documents)
       |  WHERE bucket < ${TrainPct + ValPct}),
       |c AS (SELECT split, bin, count(*) AS n FROM b GROUP BY 1, 2),
       |spine AS (
       |  SELECT CAST(i AS INT) AS bin
       |  FROM unnest(generate_series(0, ${DriftBins - 1})) AS s(i)),
       |j AS (
       |  SELECT spine.bin,
       |    coalesce(tr.n, 0) AS train_n, coalesce(va.n, 0) AS val_n
       |  FROM spine
       |  LEFT JOIN c tr ON tr.split = 'train' AND tr.bin = spine.bin
       |  LEFT JOIN c va ON va.split = 'val' AND va.bin = spine.bin),
       |t AS (
       |  SELECT CAST(sum(train_n) AS BIGINT) AS train_total,
       |    CAST(sum(val_n) AS BIGINT) AS val_total
       |  FROM j),
       |r AS (
       |  SELECT bin, CAST(bin * $DriftBinWidth AS BIGINT) AS bin_lo,
       |    CAST(train_n AS BIGINT) AS train_n,
       |    CAST(val_n AS BIGINT) AS val_n,
       |    CAST(train_n AS DOUBLE) / CAST(train_total AS DOUBLE)
       |      AS train_share,
       |    CAST(val_n AS DOUBLE) / CAST(val_total AS DOUBLE) AS val_share
       |  FROM j CROSS JOIN t)
       |SELECT bin, bin_lo, train_n, val_n, train_share, val_share,
       |  val_share - train_share AS share_delta,
       |  abs(val_share - train_share) > $DriftShareTol AS drifted
       |FROM r
       |ORDER BY bin""".stripMargin

  /** Minimum corpus bigram count for a pair to enter the collocation
    * report (shared with the oracle) — the standard noise floor: a
    * pair seen once has an unbounded lift estimate and no evidence. */
  val PmiMinPairCount = 5

  /** PMI-lift bigram collocations — the phrase-mining pass of a
    * training-data pipeline (tokenizer vocab candidates, boilerplate
    * phrase discovery). For each adjacent token pair, lift =
    * p(w1,w2)/(p(w1)·p(w2)) estimated as c12·N/(c1·c2) with N the
    * corpus token count; PMI = log2(lift), left un-taken: the four
    * counts are exact longs, each long→double cast is exact
    * (counts ≪ 2^53), and the score is two IEEE multiplies and one
    * IEEE divide — bit-identical cross-engine, where a log2 would not
    * be. Consumers threshold on lift directly (log2 is monotone).
    *
    * Scale shape: bigrams come from a per-document array zip
    * (shuffle-free, embarrassingly parallel), then ONE token-grain
    * hash aggregate each for pairs and unigrams; the unigram counts
    * join back onto the pair table as two vocab-keyed hash joins
    * (never broadcast — at 100 TB the vocab is executor-sized), and
    * the corpus total N is a broadcast scalar. The [[PmiMinPairCount]]
    * floor bounds the output to genuinely repeated pairs. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens.as("tk"))
    val toks = docs.select(explode(col("tk")).as("token"))
    val uni = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val nTotal = toks.agg(count(lit(1)).as("n_total"))
    val pairs = docs
      .select(explode(expr(
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= PmiMinPairCount)
    pairs
      .join(uni.withColumnRenamed("token", "w1")
        .withColumnRenamed("cnt", "c1"), "w1")
      .join(uni.withColumnRenamed("token", "w2")
        .withColumnRenamed("cnt", "c2"), "w2")
      .crossJoin(broadcast(nTotal))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        (col("c12").cast("double") * col("n_total").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double")))
          .as("lift"))
      .orderBy("w1", "w2")
  }

  /** DuckDB oracle for [[pmiCollocations]] — same bigram extraction
    * (1-based adjacent positions), same count floor, same exact-cast
    * multiply/divide sequence. */
  private[graft] def pmiCollocationsOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |t AS (SELECT unnest(tk) AS token FROM d),
       |uni AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
       |n AS (SELECT count(*) AS n_total FROM t),
       |bg AS (
       |  SELECT tk[i] AS w1, tk[i + 1] AS w2
       |  FROM d, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
       |p AS (
       |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
       |  HAVING count(*) >= $PmiMinPairCount)
       |SELECT w1, w2, c12, u1.cnt AS c1, u2.cnt AS c2,
       |  CAST(c12 AS DOUBLE) * CAST(n_total AS DOUBLE) /
       |    (CAST(u1.cnt AS DOUBLE) * CAST(u2.cnt AS DOUBLE)) AS lift
       |FROM p
       |JOIN uni u1 ON p.w1 = u1.token
       |JOIN uni u2 ON p.w2 = u2.token
       |CROSS JOIN n
       |ORDER BY w1, w2""".stripMargin

  /** Sliding-window width (tokens) for the duplicated-span census
    * (shared with the oracle). */
  val SpanTokens = 16

  /** A document is span-heavy when at least this share of its windows
    * is corpus-duplicated (shared with the oracle). */
  val SpanHeavyShare = 0.5

  /** Duplicated-span census — the sub-document view of duplication
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" direction): instead of asking "is this DOCUMENT a
    * near-dup", ask what FRACTION of each document sits inside a span
    * that recurs anywhere in the corpus. Every [[SpanTokens]]-token
    * window at stride 1 is content-hashed; a window is duplicated when
    * its hash occurs more than once corpus-wide (cross-doc or
    * self-repeat — both are training-loss double-counting). Per doc:
    * window count, duplicated-window count, duplicated share, and the
    * [[SpanHeavyShare]] flag that marks span-removal candidates the
    * document-level passes ([[nearDupJaccard]] etc.) cannot see.
    *
    * Scale shape: stride-1 windows make the intermediate token-grain
    * (≈ one row per token) — the same order as every explode-based
    * pass here; the duplicate test is ONE hash-partitioned count
    * window on the span hash, then one per-doc aggregate. Nothing is
    * pairwise: the span hash plays the role the LSH band plays for
    * whole documents. Docs shorter than [[SpanTokens]] emit no
    * windows, symmetrically on both sides (explicit filter — Spark's
    * `sequence(0, n)` turns DESCENDING for negative n while DuckDB's
    * `generate_series` returns empty, so the guard is load-bearing). */
  def dupSpanCensus(spark: SparkSession, dir: String): DataFrame = {
    val wh = Window.partitionBy("h")
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens.as("tk"))
      .withColumn("n_tokens", size(col("tk")))
      .filter(col("n_tokens") >= SpanTokens)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, n_tokens - $SpanTokens)")).as("start"))
      .select(col("doc_id"),
        md5(array_join(slice(col("tk"), col("start") + 1, lit(SpanTokens)), " "))
          .as("h"))
      .withColumn("cnt", count(lit(1)).over(wh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_share",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
      .withColumn("span_heavy", col("dup_share") >= SpanHeavyShare)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[dupSpanCensus]] — same window geometry (the
    * 1-based inclusive slice spans exactly [[SpanTokens]] tokens
    * because start ≤ n − [[SpanTokens]]), same corpus-wide count
    * window, same single IEEE division. */
  private[graft] def dupSpanCensusOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents
       |  WHERE text IS NOT NULL
       |    AND len(string_split(text, ' ')) >= $SpanTokens),
       |w AS (
       |  SELECT doc_id,
       |    md5(array_to_string(tk[s + 1 : s + $SpanTokens], ' ')) AS h
       |  FROM d, unnest(generate_series(0, n_tokens - $SpanTokens))
       |    AS g(s)),
       |c AS (
       |  SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt FROM w),
       |a AS (
       |  SELECT doc_id, count(*) AS n_windows,
       |    CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup_windows
       |  FROM c GROUP BY doc_id)
       |SELECT doc_id, n_windows, n_dup_windows,
       |  CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)
       |    AS dup_share,
       |  CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)
       |    >= $SpanHeavyShare AS span_heavy
       |FROM a
       |ORDER BY doc_id""".stripMargin

  /** DUPLICATE-SPAN REMOVAL — the pass [[dupSpanCensus]] measures and a
    * 100 TB pipeline actually ships (Lee et al. 2022's exact substring
    * dedup OUTPUT): every stride-1 [[SpanTokens]]-token window whose
    * hash recurs anywhere in the corpus marks its token interval for
    * removal; per document the flagged (overlapping) intervals are
    * unioned into merged token ISLANDS (the `supplierTransitCoverage`
    * sweep at token grain — running max of interval ends, a new island
    * when a start clears prev_max + 1, so overlapping AND adjacent
    * spans fuse), and the document is re-emitted as the residual text
    * with exact removed-token accounting (kept + removed = n_tokens,
    * spec-pinned). Removal applies to EVERY occurrence — which copy of
    * a duplicated passage survives is the dedup family's survivor
    * policy, not this pass's job; a doc shorter than [[SpanTokens]]
    * emits no windows and keeps all its tokens.
    *
    * Scale shape: the census's token-grain explode + ONE
    * hash-partitioned count window on the span hash (the flagged set
    * is the only thing that flows on), a doc-keyed island sweep over
    * flagged rows only, and one doc-grain reassembly join. The island
    * array a doc carries is bounded by its own window count (per-doc
    * state, the same class as the token array itself); the residual
    * filter is one per-row HOF over attributes — no recomputed
    * expression rides a lambda body. */
  def dupSpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens.as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
    val wh = Window.partitionBy("h")
    val flagged = docs
      .filter(col("n_tokens") >= SpanTokens)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0L, n_tokens - $SpanTokens)")).as("s"))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("tk"), (col("s") + 1).cast("int"),
          lit(SpanTokens)), " ")).as("h"))
      .withColumn("cnt", count(lit(1)).over(wh))
      .filter(col("cnt") > 1)
      .select(col("doc_id"), col("s"),
        (col("s") + SpanTokens - 1).as("e"))
    val wd = Window.partitionBy("doc_id").orderBy("s")
    val prevMax = max(col("e"))
      .over(wd.rowsBetween(Window.unboundedPreceding, -1))
    val islands = flagged
      .withColumn("newi",
        when(prevMax.isNull || col("s") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("newi")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("i_s"), max(col("e")).as("i_e"),
        count(lit(1)).as("n_flagged"))
    val perDoc = islands
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_e") - col("i_s") + 1).as("removed_tokens"),
        sum(col("n_flagged")).as("n_dup_windows"),
        sort_array(collect_list(struct(col("i_s"), col("i_e"))))
          .as("isl"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens") - (SpanTokens - 1), lit(0L))
          .as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("removed_tokens"), lit(0L)))
          .as("kept_tokens"),
        md5(concat_ws(" ", expr(
          """filter(tk, (t, i) -> NOT exists(
            |  coalesce(isl,
            |    cast(array() as array<struct<i_s: bigint, i_e: bigint>>)),
            |  r -> i >= r.i_s AND i <= r.i_e))""".stripMargin)))
          .as("clean_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[dupSpanRemoval]] — the census window CTEs,
    * the same prev-max island sweep, and a naive positional anti-join
    * reassembly (token NOT inside any island, space-joined in token
    * order). */
  private[graft] def dupSpanRemovalOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL),
       |w AS (
       |  SELECT doc_id, CAST(g.s AS BIGINT) AS s,
       |    md5(array_to_string(tk[g.s + 1 : g.s + $SpanTokens], ' '))
       |      AS h
       |  FROM d, unnest(generate_series(0, n_tokens - $SpanTokens))
       |    AS g(s)
       |  WHERE n_tokens >= $SpanTokens),
       |c AS (
       |  SELECT doc_id, s, count(*) OVER (PARTITION BY h) AS cnt FROM w),
       |f AS (
       |  SELECT doc_id, s, s + ${SpanTokens - 1} AS e
       |  FROM c WHERE cnt > 1),
       |sw AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS prev_max
       |  FROM f),
       |ii AS (
       |  SELECT doc_id, s, e,
       |    CAST(sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS island
       |  FROM sw),
       |isl AS (
       |  SELECT doc_id, island, min(s) AS i_s, max(e) AS i_e,
       |    CAST(count(*) AS BIGINT) AS n_flagged
       |  FROM ii GROUP BY 1, 2),
       |pd AS (
       |  SELECT doc_id, count(*) AS n_islands,
       |    CAST(sum(i_e - i_s + 1) AS BIGINT) AS removed_tokens,
       |    CAST(sum(n_flagged) AS BIGINT) AS n_dup_windows
       |  FROM isl GROUP BY 1),
       |tok AS (
       |  SELECT doc_id, CAST(g.i AS BIGINT) - 1 AS idx, tk[g.i] AS tok
       |  FROM d, unnest(generate_series(1, n_tokens)) AS g(i)),
       |kept AS (
       |  SELECT t.doc_id, t.idx, t.tok
       |  FROM tok t
       |  WHERE NOT EXISTS (SELECT 1 FROM isl
       |    WHERE isl.doc_id = t.doc_id
       |      AND t.idx BETWEEN isl.i_s AND isl.i_e)),
       |clean AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, d.n_tokens,
       |  greatest(d.n_tokens - ${SpanTokens - 1}, 0) AS n_windows,
       |  coalesce(pd.n_dup_windows, 0) AS n_dup_windows,
       |  coalesce(pd.n_islands, 0) AS n_islands,
       |  coalesce(pd.removed_tokens, 0) AS removed_tokens,
       |  d.n_tokens - coalesce(pd.removed_tokens, 0) AS kept_tokens,
       |  md5(coalesce(clean.clean_text, '')) AS clean_md5
       |FROM d
       |LEFT JOIN pd ON d.doc_id = pd.doc_id
       |LEFT JOIN clean ON d.doc_id = clean.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Hash-band boundary for the incremental-ingest split: buckets at or
    * above this are the "new batch", the rest the standing corpus
    * (shared with the oracle). */
  val IngestPct = 90

  /** Chunk-overlap share at or above which an incoming doc is ruled a
    * near-duplicate of the corpus (shared with the oracle). */
  val IngestNearShare = 0.5

  /** Incremental new-batch-vs-corpus dedup — the pass a PRODUCTION
    * pipeline actually runs: the corpus is already deduplicated, a new
    * crawl batch arrives, and each incoming doc must be screened
    * against the standing corpus without re-deduplicating the corpus
    * against itself. The batch (hash band ≥ [[IngestPct]], the
    * [[trainValSplit]] mechanism) is checked two ways: exact text-hash
    * membership, and shared [[docChunks]] 64-token chunk fingerprints
    * (the [[splitContamination]] machinery pointed at ingest). Verdict
    * ladder: `exact` ⊃ `near` (chunk share ≥ [[IngestNearShare]]) ⊃
    * `partial` (any shared chunk) ⊃ `novel`.
    *
    * Scale shape: both membership tests are hash-partitioned LEFT SEMI
    * joins keyed on content hashes — deliberately NOT broadcast: at
    * 100 TB the corpus fingerprint set is itself TB-sized, and the
    * shuffle-by-hash semi join (batch side is the small side, 10% of
    * ingest) is the correct distributed posture. The batch frame is
    * scanned once per test; everything else is per-doc aggregation. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = Tables.documents(spark, dir)
      .withColumn("bucket", pmod(h60("cast(doc_id as string)"), lit(100)))
    val corpusHashes = bucketed
      .filter(col("bucket") < IngestPct && col("text").isNotNull)
      .select(md5(col("text")).as("text_hash")).distinct()
    val batch = bucketed.filter(col("bucket") >= IngestPct)
    val exactDup = batch
      .filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(corpusHashes, Seq("text_hash"), "left_semi")
      .select(col("doc_id"), lit(true).as("is_exact_dup"))
    val chunks = docChunksCore(spark, dir)
      .select(col("doc_id"), col("chunk_hash"))
      .withColumn("bucket", pmod(h60("cast(doc_id as string)"), lit(100)))
    val corpusChunks = chunks.filter(col("bucket") < IngestPct)
      .select("chunk_hash").distinct()
    val batchChunks = chunks.filter(col("bucket") >= IngestPct)
    val perDoc = batchChunks
      .join(corpusChunks.withColumn("shared", lit(1L)),
        Seq("chunk_hash"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("shared"), lit(0L))).as("n_shared_chunks"))
    batch.select("doc_id")
      .join(exactDup, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_shared_chunks"), lit(0L)).as("n_shared_chunks"))
      .withColumn("verdict",
        when(col("is_exact_dup"), "exact")
          .when(col("n_chunks") > 0 &&
            col("n_shared_chunks").cast("double") >=
              col("n_chunks").cast("double") * IngestNearShare, "near")
          .when(col("n_shared_chunks") > 0, "partial")
          .otherwise("novel"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[incrementalDedup]] — same hash band, same
    * distinct-fingerprint membership tests, same verdict ladder (the
    * near test is the multiplication form, no division). */
  private[graft] def incrementalDedupOracleSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |ch AS (
       |${docChunksOracleSql.replace("ORDER BY doc_id, chunk_id", "")}),
       |chb AS (
       |  SELECT doc_id, chunk_hash,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % 100 AS bucket
       |  FROM ch),
       |corpus_h AS (
       |  SELECT DISTINCT md5(text) AS text_hash FROM b
       |  WHERE bucket < $IngestPct AND text IS NOT NULL),
       |corpus_c AS (
       |  SELECT DISTINCT chunk_hash FROM chb WHERE bucket < $IngestPct),
       |ex AS (
       |  SELECT doc_id, TRUE AS is_exact_dup FROM b
       |  WHERE bucket >= $IngestPct AND text IS NOT NULL
       |    AND md5(text) IN (SELECT text_hash FROM corpus_h)),
       |pd AS (
       |  SELECT doc_id, count(*) AS n_chunks,
       |    CAST(sum(CASE WHEN chunk_hash IN
       |      (SELECT chunk_hash FROM corpus_c) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_shared_chunks
       |  FROM chb WHERE bucket >= $IngestPct GROUP BY doc_id),
       |j AS (
       |  SELECT b.doc_id,
       |    coalesce(is_exact_dup, FALSE) AS is_exact_dup,
       |    coalesce(n_chunks, 0) AS n_chunks,
       |    coalesce(n_shared_chunks, 0) AS n_shared_chunks
       |  FROM b
       |  LEFT JOIN ex ON b.doc_id = ex.doc_id
       |  LEFT JOIN pd ON b.doc_id = pd.doc_id
       |  WHERE bucket >= $IngestPct)
       |SELECT doc_id, is_exact_dup, n_chunks, n_shared_chunks,
       |  CASE WHEN is_exact_dup THEN 'exact'
       |       WHEN n_chunks > 0 AND CAST(n_shared_chunks AS DOUBLE) >=
       |         CAST(n_chunks AS DOUBLE) * $IngestNearShare THEN 'near'
       |       WHEN n_shared_chunks > 0 THEN 'partial'
       |       ELSE 'novel' END AS verdict
       |FROM j
       |ORDER BY doc_id""".stripMargin

  /** FIRST-SEEN dedup screen — [[incrementalDedup]]'s ARRIVAL-ORDER
    * form: instead of a fixed corpus/batch split, EVERY document is
    * screened against everything that arrived before it (doc_id is the
    * arrival order — the generator's ingest sequence), which is the
    * semantics a continuously-ingesting pipeline actually applies: the
    * first copy of anything is novel, every later copy is the
    * duplicate. Verdict ladder as [[incrementalDedup]] (`exact` ⊃
    * `near` at [[IngestNearShare]] chunk overlap ⊃ `partial` ⊃
    * `novel`), with "seen" = "a STRICTLY smaller doc_id carries the
    * same fingerprint". [[graft.streaming.StreamOps.firstSeenScreenStream]]
    * is the live twin: same fingerprints held in keyed streaming state,
    * spec-pinned to emit identical verdicts on a replayed sequence.
    *
    * Scale shape: first-occurrence is `min(doc_id)` per fingerprint —
    * ORDER-FREE (partial+final aggregable, the [[tokenNovelty]] rule),
    * so "screen against every earlier arrival" costs two fingerprint-
    * grain hash aggregates + hash joins back, not any ordered scan. */
  def firstSeenScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hashed = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
    val exact = hashed
      .join(hashed.groupBy("text_hash")
        .agg(min(col("doc_id")).as("first_doc")), "text_hash")
      .select(col("doc_id"),
        (col("first_doc") < col("doc_id")).as("is_exact_dup"))
    val chunks = docChunksCore(spark, dir)
      .select(col("doc_id"), col("chunk_hash"))
    val perDoc = chunks
      .join(chunks.groupBy("chunk_hash")
        .agg(min(col("doc_id")).as("first_doc")), "chunk_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_shared_chunks"))
    docs.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_shared_chunks"), lit(0L)).as("n_shared_chunks"))
      .withColumn("verdict",
        when(col("is_exact_dup"), "exact")
          .when(col("n_chunks") > 0 &&
            col("n_shared_chunks").cast("double") >=
              col("n_chunks").cast("double") * IngestNearShare, "near")
          .when(col("n_shared_chunks") > 0, "partial")
          .otherwise("novel"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[firstSeenScreen]] — same min-doc first
    * occurrences, same strict-inequality screen, same ladder. */
  private[graft] def firstSeenScreenOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(text) AS th FROM documents
       |  WHERE text IS NOT NULL),
       |ft AS (SELECT th, min(doc_id) AS first_doc FROM t GROUP BY th),
       |ex AS (
       |  SELECT t.doc_id, ft.first_doc < t.doc_id AS is_exact_dup
       |  FROM t JOIN ft ON t.th = ft.th),
       |c AS (
       |${docChunksOracleSql.replace("ORDER BY doc_id, chunk_id", "")}),
       |fc AS (
       |  SELECT chunk_hash, min(doc_id) AS first_doc
       |  FROM c GROUP BY chunk_hash),
       |pd AS (
       |  SELECT c.doc_id, count(*) AS n_chunks,
       |    CAST(sum(CASE WHEN fc.first_doc < c.doc_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_shared_chunks
       |  FROM c JOIN fc ON c.chunk_hash = fc.chunk_hash
       |  GROUP BY c.doc_id),
       |j AS (
       |  SELECT d.doc_id,
       |    coalesce(ex.is_exact_dup, FALSE) AS is_exact_dup,
       |    coalesce(pd.n_chunks, 0) AS n_chunks,
       |    coalesce(pd.n_shared_chunks, 0) AS n_shared_chunks
       |  FROM documents d
       |  LEFT JOIN ex ON d.doc_id = ex.doc_id
       |  LEFT JOIN pd ON d.doc_id = pd.doc_id)
       |SELECT doc_id, is_exact_dup, n_chunks, n_shared_chunks,
       |  CASE WHEN is_exact_dup THEN 'exact'
       |       WHEN n_chunks > 0 AND CAST(n_shared_chunks AS DOUBLE) >=
       |         CAST(n_chunks AS DOUBLE) * $IngestNearShare THEN 'near'
       |       WHEN n_shared_chunks > 0 THEN 'partial'
       |       ELSE 'novel' END AS verdict
       |FROM j
       |ORDER BY doc_id""".stripMargin

  /** MinHash CALIBRATION curve — the sketch-quality measurement every
    * LSH deployment owes its thresholds to: for each candidate-pair
    * band-collision count k (from [[minhashCandidates]]), the pairs'
    * EXACT shingle Jaccard distribution (count / mean / min / max). Each
    * of the [[MinhashBands]] xor-permuted min-hashes matches with
    * probability exactly J, so the k-bucket means should track
    * k/[[MinhashBands]] — the emitted `est_jaccard` column — and the
    * invariant spec asserts the calibration is monotone. Exactness:
    * per-pair Jaccard is quantized to integer mille by floor division
    * (`inter·1000 div union`) so every aggregate is over exact
    * integers; a band match implies a shared shingle hash (xor is a
    * bijection), so the intersection join is inner in both engines.
    *
    * Scale: rides the capped candidate generator; the exact-Jaccard
    * verify joins each pair to per-doc DISTINCT shingle-hash arrays by
    * two doc-keyed HASH joins and intersects in one codegen
    * expression. Nothing here broadcasts anything corpus-scaled: the
    * array frame is computed ONCE (checkpointed — it feeds both join
    * sides; without the pin each broadcast build re-ran the whole
    * shingle explode+aggregate, the r12 2.4→5.6 s drift) and each join
    * moves each doc's array exactly once, which strictly undercuts the
    * posting-join form (pair×shingle grain re-ships a doc's shingles
    * once PER PAIR — 13 M rows at sf0.1 when measured in r11). AQE may
    * still elect a runtime broadcast when the built side is actually
    * small — that is a size-measured decision, not a plan-forced
    * corpus broadcast. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashCandidatesCore(spark, dir)
      .select("doc_a", "doc_b", "n_bands")
    // r19 (guide §1.2 — don't compute what you throw away): the
    // distinct-shingle arrays used to be built from the per-OCCURRENCE
    // [[shingleHashes]] stream and deduped after hashing; array_distinct
    // BEFORE the explode dedups on the cheap string side, so md5 runs
    // once per DISTINCT (doc, shingle) and the explode emits ~40% fewer
    // rows. The trailing hash-keyed distinct keeps the oracle's
    // dedup-on-hash contract under a (vanishingly unlikely) md5-60bit
    // collision; it adds no exchange — the frame is already partitioned
    // by doc_id, which co-locates (doc_id, h).
    val docSh = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"array_distinct($shinglesSqlExpr)")).as("shingle"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))
      .localCheckpoint()
    pairs
      .join(docSh.select(col("doc_id").as("doc_a"),
        col("hs").as("ha"), col("n").as("na")), Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"),
        col("hs").as("hb"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("mille",
        expr("(inter * 1000) div (na + nb - inter)"))
      .groupBy("n_bands")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("mille")).as("sum_mille"),
        min(col("mille")).as("min_mille"),
        max(col("mille")).as("max_mille"))
      .select(col("n_bands"), col("n_pairs"),
        (col("sum_mille").cast("double") / col("n_pairs").cast("double"))
          .as("avg_jaccard_mille"),
        col("min_mille"), col("max_mille"),
        (col("n_bands").cast("double") / lit(MinhashBands.toDouble))
          .as("est_jaccard"))
      .orderBy("n_bands")
  }

  /** DuckDB oracle for [[minhashCalibration]] — embeds the candidate
    * oracle verbatim, then the same distinct-shingle-hash joins and
    * integer-mille quantization. */
  private[graft] def minhashCalibrationOracleSql(
      shinglesSql: String): String =
    s"""WITH cand AS (${minhashCandidatesOracleSql(shinglesSql)}),
       |sd AS (
       |  SELECT DISTINCT doc_id,
       |    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest($shinglesSql) AS shingle
       |        FROM documents)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id),
       |iv AS (
       |  SELECT c.doc_a, c.doc_b, c.n_bands, count(*) AS inter
       |  FROM cand c
       |  JOIN sd a ON a.doc_id = c.doc_a
       |  JOIN sd b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2, 3),
       |p AS (
       |  SELECT iv.n_bands,
       |    (inter * 1000) // (za.n + zb.n - inter) AS mille
       |  FROM iv
       |  JOIN sz za ON za.doc_id = iv.doc_a
       |  JOIN sz zb ON zb.doc_id = iv.doc_b)
       |SELECT n_bands, count(*) AS n_pairs,
       |  CAST(sum(mille) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS avg_jaccard_mille,
       |  CAST(min(mille) AS BIGINT) AS min_mille,
       |  CAST(max(mille) AS BIGINT) AS max_mille,
       |  CAST(n_bands AS DOUBLE) / ${MinhashBands.toDouble} AS est_jaccard
       |FROM p
       |GROUP BY n_bands
       |ORDER BY n_bands""".stripMargin

  // --------------------------------------------------------------------
  // Lexical profile, source divergence, Zipf fit (round 11)
  // --------------------------------------------------------------------

  /** Per-document lexical profile: token/type/hapax counts, type-token
    * ratio, average word length and a syllable proxy (vowel-group runs —
    * the Flesch-style readability input that survives punctuation-free
    * text). All counts are exact integers; the two ratios are single
    * divisions of exact integers, so the emitted doubles are bit-identical
    * across engines. Extends the reference's quality heuristics
    * (`/root/reference/python/batch_processor.py:108-176` computes only
    * row-level numeric summaries; it has no lexical statistics).
    *
    * Scale: one explode + two hash-partitioned aggregations keyed by
    * doc_id — the per-(doc,token) intermediate is the same shape the
    * TF-IDF path already materializes, partial-aggregatable map-side. */
  def lexicalProfile(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens).as("token"))
    toks.groupBy("doc_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_count"),
        sum(length(col("token")).cast("long") * col("c"))
          .as("total_chars"),
        sum(size(regexp_extract_all(col("token"), lit("[aeiou]+"), lit(0)))
          .cast("long") * col("c")).as("vowel_groups"))
      .withColumn("type_token_ratio",
        col("n_types").cast("double") / col("n_tokens").cast("double"))
      .withColumn("avg_word_len",
        col("total_chars").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[lexicalProfile]]. */
  private[graft] def lexicalProfileOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |pt AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2),
      |r AS (
      |  SELECT doc_id,
      |    CAST(sum(c) AS BIGINT) AS n_tokens,
      |    count(*) AS n_types,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hapax_count,
      |    CAST(sum(length(token) * c) AS BIGINT) AS total_chars,
      |    CAST(sum(len(regexp_extract_all(token, '[aeiou]+')) * c)
      |      AS BIGINT) AS vowel_groups
      |  FROM pt GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_types, hapax_count, total_chars,
      |  vowel_groups,
      |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |    AS type_token_ratio,
      |  CAST(total_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |    AS avg_word_len
      |FROM r ORDER BY doc_id""".stripMargin

  /** Pairwise source-corpus divergence: for every unordered pair of
    * sources, vocabulary Jaccard overlap and total-variation distance
    * between their unigram distributions. TV is computed EXACTLY in
    * integers via the identity `TV = 1 − Σ_w min(p_w, q_w)` (both
    * distributions sum to 1, and `min(p,q)` is nonzero only on the shared
    * vocabulary, so the Σmin needs only an INNER join on token — no
    * full-outer union of vocabularies; the PAIR SPINE itself comes from
    * the sources² totals cross so fully-disjoint pairs still emit their
    * TV = 1 row): `Σ min(c_a·N_b, c_b·N_a)` is an exact BIGINT and
    * the final division of exact integers is bit-deterministic. The
    * mixture-weighting question this answers (which sources are
    * near-duplicates of each other at the distribution level) is the
    * corpus-grain sibling of the domain-mixture reweighting family.
    *
    * Scale: the pair join is keyed on token (hash-partitioned, no
    * broadcast of the big side); per-token work is O(sources²) only for
    * tokens shared by many sources — with thousands of sources you would
    * add a document-frequency cap exactly like [[nearDupJaccardCapped]].
    * The scaled-integer products need `c·N < 2^63`; beyond ~10^9 tokens
    * per source switch the mass sum to DECIMAL(38,0). */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: `counts` feeds FOUR plan branches (totals, pair
    // sides a/b, and the spine via totals²) — without the lineage cut
    // the tokenize-explode-count pass re-executes per branch, the exact
    // hazard the siblings (sessionCopresence, clusterLabelMatrix) fix
    // the same way. The frame is source×token grain — small.
    val counts = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(tokens).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = counts.groupBy("source")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("vocab"))
    val enriched = counts.join(broadcast(totals), "source")
    val overlap = Candidates.pairs(enriched.select(col("token"),
        col("source"), col("c"), col("n")), Seq("token"), "source")
      .groupBy("source_a", "source_b")
      .agg(
        count(lit(1)).as("ovl_common"),
        sum(least(col("c_a") * col("n_b"), col("c_b") * col("n_a")))
          .as("ovl_min_mass"))
    // Full pair SPINE from the per-source totals (sources², tiny), so
    // fully-disjoint source pairs — TV = 1, Jaccard = 0, precisely the
    // maximally-divergent pairs this operator exists to surface — emit
    // a row instead of vanishing with the inner token join.
    val ta = totals.select(col("source").as("source_a"),
      col("n").as("na"), col("vocab").as("vocab_a"))
    val tb = totals.select(col("source").as("source_b"),
      col("n").as("nb"), col("vocab").as("vocab_b"))
    ta.crossJoin(broadcast(tb))
      .filter(col("source_a") < col("source_b"))
      .join(overlap, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("vocab_a"),
        col("vocab_b"), col("na"), col("nb"),
        coalesce(col("ovl_common"), lit(0L)).as("vocab_common"),
        coalesce(col("ovl_min_mass"), lit(0L)).as("min_mass_scaled"))
      .select(
        col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
        col("vocab_common"), col("min_mass_scaled"),
        (lit(1.0) - col("min_mass_scaled").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")))
          .as("tv_distance"),
        (col("vocab_common").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("vocab_common"))
            .cast("double")).as("vocab_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** DuckDB oracle for [[sourceDivergence]]. */
  private[graft] def sourceDivergenceOracleSql: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT source, token, count(*) AS c FROM t GROUP BY 1, 2),
      |tot AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS vocab
      |  FROM c GROUP BY source),
      |ovl AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    count(*) AS ovl_common,
      |    CAST(sum(least(a.c * tb.n, b.c * ta.n)) AS BIGINT)
      |      AS ovl_min_mass
      |  FROM c a
      |  JOIN c b ON a.token = b.token AND a.source < b.source
      |  JOIN tot ta ON ta.source = a.source
      |  JOIN tot tb ON tb.source = b.source
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT ta.source AS source_a, tb.source AS source_b,
      |    ta.vocab AS vocab_a, tb.vocab AS vocab_b, ta.n AS na,
      |    tb.n AS nb,
      |    CAST(coalesce(ovl_common, 0) AS BIGINT) AS vocab_common,
      |    CAST(coalesce(ovl_min_mass, 0) AS BIGINT) AS min_mass_scaled
      |  FROM tot ta
      |  JOIN tot tb ON ta.source < tb.source
      |  LEFT JOIN ovl ON ovl.source_a = ta.source
      |    AND ovl.source_b = tb.source)
      |SELECT source_a, source_b, vocab_a, vocab_b, vocab_common,
      |  min_mass_scaled,
      |  1.0 - CAST(min_mass_scaled AS DOUBLE) /
      |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS tv_distance,
      |  CAST(vocab_common AS DOUBLE) /
      |    CAST(vocab_a + vocab_b - vocab_common AS DOUBLE)
      |    AS vocab_jaccard
      |FROM j
      |ORDER BY source_a, source_b""".stripMargin

  /** Zipf ranks entering the log-log regression (shared with oracle). */
  val ZipfTopRanks = 100

  /** Zipf's-law fit per language: regression slope of ln(frequency) on
    * ln(rank) over the top-[[ZipfTopRanks]] tokens. Natural corpora sit
    * near −1; templated/synthetic text is much flatter — a corpus-grain
    * quality screen. `regr_slope` accumulates floating sums whose ORDER
    * differs between engines, so the slope is rounded to 6 decimals
    * before emission (the only non-integer-derived double in the text
    * family; every other emitted double here is a single division of
    * exact integers). The round narrows, not closes, the cross-engine
    * window: a slope inside the ~1e-12 accumulation drift of a 0.5e-6
    * rounding boundary could still split — accepted (odds ~1e-6 per
    * value; no integer-exact formulation exists once ln() enters, and
    * quantizing the ln inputs moves the same boundary risk upstream).
    *
    * Scale: frequency table is one hash aggregation; the rank cut is a
    * per-lang top-k (WindowGroupLimit pushes the filter into the sort),
    * and the regression runs over ≤ languages×[[ZipfTopRanks]] rows. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("lang"), explode(tokens).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("lang")
      .orderBy(col("c").desc, col("token"))
    freq.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ZipfTopRanks)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_ranks"),
        sum(col("c")).as("top_mass"),
        round(expr("regr_slope(ln(c), ln(rank))"), 6).as("zipf_slope"))
      .orderBy("lang")
  }

  /** DuckDB oracle for [[zipfSlope]]. */
  private[graft] def zipfSlopeOracleSql: String =
    s"""WITH t AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS token
       |  FROM documents WHERE text IS NOT NULL),
       |f AS (SELECT lang, token, count(*) AS c FROM t GROUP BY 1, 2),
       |r AS (
       |  SELECT lang, c,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY c DESC, token) AS rank
       |  FROM f)
       |SELECT lang, count(*) AS n_ranks,
       |  CAST(sum(c) AS BIGINT) AS top_mass,
       |  round(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope
       |FROM r WHERE rank <= $ZipfTopRanks
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Synchronous label-propagation rounds for [[lpaCommunities]] —
    * fixed like [[KCorePeelRounds]], for the same reason: both engines
    * apply the identical round count, so the result is well-defined
    * even where synchronous LPA would oscillate (bipartite subgraphs
    * two-color forever; a fixpoint loop would never terminate on
    * them). */
  val LpaRounds = 4

  /** Label-propagation communities over the near-dup graph — the
    * fourth graph lens next to connected components (reachability),
    * k-core (density), and PageRank (centrality): each node starts as
    * its own label and SYNCHRONOUSLY adopts its neighborhood's
    * majority label each round, ties broken by smallest label — the
    * classic near-linear community detector (Raghavan et al. 2007).
    * Unlike CC, LPA splits bridge-connected clusters into dense
    * communities — the right grain for "which template family is this
    * doc a variant of".
    *
    * Deterministic by construction: majority pick is a (count DESC,
    * label ASC) row_number over the neighbor-label aggregate, and
    * rounds are fixed ([[LpaRounds]]) — no async scheduling, no
    * randomized tie-break, so DuckDB's unrolled-CTE mirror hash-
    * matches exactly.
    *
    * Scale: each round is one equi-join (edges ⋈ labels on dst) plus
    * one (src,lbl) partial+final aggregate plus one per-src
    * WindowGroupLimit — all key-partitioned, state bounded by edge
    * count; rounds are lineage-cut so the plan never compounds. The
    * same per-round shape GraphX's Pregel LPA runs, expressed
    * Catalyst-visibly. */
  def lpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val edges = kcoreEdges(spark, dir)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    for (_ <- 1 to LpaRounds) {
      labels = lpaStep(edges, labels).localCheckpoint()
    }
    val sizes = labels.groupBy("lbl")
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("node").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy("doc_id")
  }

  /** One LPA propagation round: each node adopts its neighbors'
    * majority label (count desc, label asc tie-break). Factored out
    * UN-checkpointed so the per-round executed plan is assertable —
    * inside [[lpaCommunities]] every round ends in a localCheckpoint,
    * so the returned query's plan can never show the round's
    * operators, and the rank-capped (rn = 1 → WindowGroupLimit) claim
    * in WindowGateSpec's allowlist would otherwise be unverifiable. */
  private[graft] def lpaStep(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val nbr = edges
      .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
      .groupBy(col("src"), col("lbl"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("src")
      .orderBy(col("c").desc, col("lbl").asc)
    nbr.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src").as("node"), col("lbl"))
  }

  /** DuckDB oracle for [[lpaCommunities]] — the capped-pair CTE chain
    * plus one neighbor-majority CTE pair per propagation round
    * (mirrors [[kcoreNearDupOracleSql]]'s unrolling). */
  private[graft] def lpaCommunitiesOracleSql(shinglesSql: String): String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""n$i AS (
         |  SELECT e.src, l.lbl, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON e.dst = l.node
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT src AS node, lbl FROM (
         |    SELECT src, lbl,
         |      row_number() OVER (PARTITION BY src
         |        ORDER BY c DESC, lbl ASC) AS rn
         |    FROM n$i) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)
          .replace("ORDER BY 1, 2", "")}),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM base
       |  UNION ALL SELECT doc_b, doc_a FROM base),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$rounds,
       |sz AS (
       |  SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       |  FROM l$LpaRounds GROUP BY 1)
       |SELECT l.node AS doc_id, l.lbl AS community, sz.community_size
       |FROM l$LpaRounds l JOIN sz ON l.lbl = sz.lbl
       |ORDER BY doc_id""".stripMargin
  }

  /** QUANTILE NORMALIZATION of per-source document lengths against the
    * global distribution — the distribution-alignment step a curation
    * pipeline runs before cross-source thresholding: a score cut that
    * means "p90" on one crawl means "p40" on another, so each doc's
    * source-relative rank is remapped to the global value at the same
    * quantile. Exact and all-integer: within-source rank rn_s ∈ [1,n_s]
    * maps to global rank 1 + ⌊(rn_s−1)(N−1)/(n_s−1)⌋ and the lookup is
    * an EQUI-join against an exploded rank→value map (never a range
    * join — the BNLJ trap) built by `sequence(cum_start, cum_end)`
    * over the value-grain cumulative counts.
    *
    * Scale: every window is bounded — the global cumulative walk rides
    * VALUE grain (distinct lengths, not docs), the per-source walk is
    * source-partitioned value grain, and the doc-level tie-break
    * window partitions by (source, value). The rank→value map has
    * exactly N rows and joins by hash on rank. The (rn−1)(N−1)
    * product needs N² < 2⁶³ — fine to ~3e9 docs; past that the same
    * formula ships in DECIMAL(38,0).
    *
    * The (source, value) tie-break rank no longer rides a keyed window
    * at all (round 13): real corpora CONCENTRATE lengths at clip
    * boundaries (a truncation cap puts a large fraction of one source
    * at exactly max-length), degenerating that window's partition
    * toward source size — so the rank comes from
    * [[GlobalRank.withGroupedRowNumber]]: one two-phase range exchange
    * over the compound (source, value, doc_id) order + a broadcast of
    * the per-(source, value) first ranks (value-domain-bounded frame).
    * EXACT and oracle-identical — the salted-two-pass remedy with the
    * salt replaced by real prefix offsets. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val g = docs.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val wg = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rnMap = g.withColumn("cum_end", sum(col("cnt")).over(wg))
      .withColumn("cum_start", col("cum_end") - col("cnt") + 1)
      .select(explode(expr("sequence(cum_start, cum_end)")).as("g_rn"),
        col("v").as("calibrated_chars"))
    val sg = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt_s"))
      .localCheckpoint()
    val ws = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sgc = sg.withColumn("cum_end_s", sum(col("cnt_s")).over(ws))
      .withColumn("cum_start_s", col("cum_end_s") - col("cnt_s") + 1)
      .select(col("source"), col("v").as("n_chars"), col("cum_start_s"))
    val stot = sg.groupBy("source").agg(sum(col("cnt_s")).as("n_s"))
    GlobalRank.withGroupedRowNumber(docs, "idx",
        Seq(col("source"), col("n_chars")), Seq(col("doc_id")))
      .join(sgc, Seq("source", "n_chars"))
      .join(broadcast(stot), Seq("source"))
      .crossJoin(broadcast(g.agg(sum(col("cnt")).as("n_total"))))
      .withColumn("rank_in_source", col("cum_start_s") + col("idx") - 1)
      .withColumn("g_rn",
        when(col("n_s") > 1,
          expr("1 + ((rank_in_source - 1) * (n_total - 1)) div (n_s - 1)"))
          .otherwise(expr("(n_total + 1) div 2")))
      .join(rnMap, Seq("g_rn"))
      .select("doc_id", "source", "n_chars", "rank_in_source", "n_s",
        "calibrated_chars")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[qualityCalibration]]. */
  private[graft] def qualityCalibrationOracleSql: String =
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
       |g AS (
       |  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM d GROUP BY 1),
       |gs AS (
       |  SELECT v, cnt,
       |    CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
       |  FROM g),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM g),
       |m AS (
       |  SELECT unnest(generate_series(cum_end - cnt + 1, cum_end))
       |    AS g_rn, v AS calibrated_chars
       |  FROM gs),
       |sg AS (
       |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt_s
       |  FROM d GROUP BY 1, 2),
       |sgs AS (
       |  SELECT source, v,
       |    CAST(sum(cnt_s) OVER (PARTITION BY source ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) - cnt_s + 1 AS cum_start_s
       |  FROM sg),
       |st AS (
       |  SELECT source, CAST(sum(cnt_s) AS BIGINT) AS n_s
       |  FROM sg GROUP BY 1),
       |dd AS (
       |  SELECT doc_id, source, n_chars,
       |    row_number() OVER (PARTITION BY source, n_chars
       |      ORDER BY doc_id) AS idx
       |  FROM d),
       |r AS (
       |  SELECT dd.doc_id, dd.source, dd.n_chars,
       |    sgs.cum_start_s + dd.idx - 1 AS rank_in_source,
       |    st.n_s, t.n_total
       |  FROM dd
       |  JOIN sgs ON dd.source = sgs.source AND dd.n_chars = sgs.v
       |  JOIN st ON dd.source = st.source
       |  CROSS JOIN t),
       |k AS (
       |  SELECT *,
       |    CASE WHEN n_s > 1
       |      THEN 1 + ((rank_in_source - 1) * (n_total - 1)) // (n_s - 1)
       |      ELSE (n_total + 1) // 2 END AS g_rn
       |  FROM r)
       |SELECT k.doc_id, k.source, k.n_chars, k.rank_in_source, k.n_s,
       |  m.calibrated_chars
       |FROM k JOIN m ON k.g_rn = m.g_rn
       |ORDER BY k.doc_id""".stripMargin

  /** Seed selection and round count for [[bfsLevels]]: every node
    * whose id ≡0 (mod [[BfsSeedMod]]) is a level-0 seed, and the
    * frontier expands [[BfsRounds]] synchronous rounds — fixed like
    * [[LpaRounds]] so both engines stop at the same horizon. */
  val BfsSeedMod = 10L
  val BfsRounds = 4

  /** Multi-source BFS hop distance over the near-dup graph — the
    * "distance from trusted seeds" primitive (propagating a trust/
    * spam/provenance label N hops out): every node's MINIMUM hop count
    * to the deterministic seed set, −1 when unreachable within
    * [[BfsRounds]] hops. Completes the graph-lens family: CC answers
    * reachability, k-core density, PageRank centrality, LPA community
    * — BFS answers "how far".
    *
    * Each round relaxes the frontier by one equi-join (edges ⋈ dist on
    * src) and folds with `min(dist)` — a partial+final-aggregable
    * relaxation identical at any parallelism (min is idempotent/
    * commutative, so re-visiting a node is harmless), lineage-cut per
    * round. The same round shape Pregel SSSP runs, Catalyst-visible. */
  def bfsLevels(spark: SparkSession, dir: String): DataFrame = {
    val edges = kcoreEdges(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint()
    var dist = nodes.filter(col("node") % BfsSeedMod === 0)
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    for (_ <- 1 to BfsRounds) {
      dist = dist.unionByName(
          edges.join(dist.select(col("node").as("src"), col("dist")),
            Seq("src"))
            .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    nodes.join(dist, Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("dist"), lit(-1L)).as("hop_distance"),
        col("dist").isNotNull.as("reachable"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[bfsLevels]] — one frontier-relaxation CTE per
    * round over the capped-pair edge set. */
  private[graft] def bfsLevelsOracleSql(shinglesSql: String): String = {
    val rounds = (1 to BfsRounds).map { i =>
      s"""d$i AS (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} d ON e.src = d.node)
         |  GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)
          .replace("ORDER BY 1, 2", "")}),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM base
       |  UNION ALL SELECT doc_b, doc_a FROM base),
       |nd AS (SELECT DISTINCT src AS node FROM e),
       |d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist
       |  FROM nd WHERE node % $BfsSeedMod = 0),
       |$rounds
       |SELECT nd.node AS doc_id,
       |  CAST(coalesce(d.dist, -1) AS BIGINT) AS hop_distance,
       |  d.dist IS NOT NULL AS reachable
       |FROM nd LEFT JOIN d$BfsRounds d ON nd.node = d.node
       |ORDER BY doc_id""".stripMargin
  }

  /** NORMALIZATION-SENSITIVE dedup report — exact dedup run twice,
    * on raw text and on casefolded/punctuation-stripped/whitespace-
    * collapsed text, as one integer row: how many distinct documents
    * MERGE once trivial formatting differences are erased. This is
    * the cheap tier between [[exactDedupGroups]] (byte-identical) and
    * the MinHash/SimHash near-dup families — most real "duplicates"
    * differ only in case/punctuation, and this row prices that before
    * anyone pays for shingling. The character classes are plain
    * ASCII sets (`[^a-z0-9 ]`, `' +'`) so Java and RE2 regex
    * semantics cannot diverge.
    *
    * Scale: one projection + two distinct-counts over md5 keys —
    * partial+final, no joins. */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(
        md5(col("text")).as("raw_h"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " "))).as("norm_h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_raw_distinct"),
        countDistinct(col("norm_h")).as("n_norm_distinct"))
      .withColumn("n_merged_by_normalization",
        col("n_raw_distinct") - col("n_norm_distinct"))

  /** DuckDB oracle for [[normalizedDedup]]. */
  private[graft] def normalizedDedupOracleSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_distinct,
       |  CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))))
       |    AS BIGINT) AS n_norm_distinct,
       |  CAST(count(DISTINCT md5(text)) AS BIGINT) -
       |    CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))))
       |    AS BIGINT) AS n_merged_by_normalization
       |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** Per-SOURCE dedup-rate breakdown — [[normalizedDedup]]'s corpus
    * row at the grain curation decisions are made: for each source,
    * raw-distinct and normalized-distinct counts with floor-mille dup
    * rates, answering "which crawl is dirtiest and how much of it is
    * formatting noise" before any cross-source near-dup pass runs.
    *
    * Scale: one projection + one (source)-grain aggregate with two
    * distinct-counts — partial+final; source cardinality output. */
  def dedupRateBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        md5(col("text")).as("raw_h"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " "))).as("norm_h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_raw_distinct"),
        countDistinct(col("norm_h")).as("n_norm_distinct"))
      .withColumn("exact_dup_mille",
        expr("(n_docs - n_raw_distinct) * 1000 div n_docs"))
      .withColumn("format_dup_mille",
        expr("(n_raw_distinct - n_norm_distinct) * 1000 div n_docs"))
      .orderBy("source")

  /** DuckDB oracle for [[dedupRateBySource]]. */
  private[graft] def dedupRateBySourceOracleSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_distinct,
       |  CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))))
       |    AS BIGINT) AS n_norm_distinct,
       |  (CAST(count(*) AS BIGINT) -
       |    CAST(count(DISTINCT md5(text)) AS BIGINT)) * 1000 //
       |    CAST(count(*) AS BIGINT) AS exact_dup_mille,
       |  (CAST(count(DISTINCT md5(text)) AS BIGINT) -
       |    CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))))
       |      AS BIGINT)) * 1000 //
       |    CAST(count(*) AS BIGINT) AS format_dup_mille
       |FROM documents WHERE text IS NOT NULL
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** POPULATION STABILITY INDEX per source — each source's document-
    * length distribution against the CORPUS profile, at bin grain:
    * the canonical production drift metric (PSI term
    * (p−q)·ln(p/q) per bin; > 0.2 summed = investigate), monitoring's
    * counterpart to [[splitDrift]]'s share deltas (split integrity)
    * and [[sourceDivergence]]'s token-level TV distance. Laplace
    * smoothing (n+1)/(N+bins) keeps empty bins finite AND exact —
    * both shares are single int64 ratios, so the only float steps are
    * the fixed-order (p−q)·ln(p/q), rounded 6 dp (the [[zipfSlope]]
    * libm rule).
    *
    * Scale: one corpus pass to (source, bin) grain (≤ sources ×
    * [[DriftBins]] cells), corpus profile re-aggregated from the same
    * cells, broadcast spine join — output size is schema-constant. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.documents(spark, dir)
      .select(col("source"),
        least(expr(s"n_chars div $DriftBinWidth"),
          lit((DriftBins - 1).toLong)).cast("int").as("bin"))
    val srcBin = binned.groupBy("source", "bin")
      .agg(count(lit(1)).as("n_src"))
      .localCheckpoint()
    val corpusBin = srcBin.groupBy("bin")
      .agg(sum(col("n_src")).as("n_all"))
    val srcTot = srcBin.groupBy("source")
      .agg(sum(col("n_src")).as("src_total"))
    val allTot = corpusBin.agg(sum(col("n_all")).as("all_total"))
    val spine = srcTot.select(col("source"), col("src_total"))
      .crossJoin(spark.range(DriftBins)
        .select(col("id").cast("int").as("bin")))
    spine
      .join(srcBin, Seq("source", "bin"), "left")
      .join(broadcast(corpusBin), Seq("bin"), "left")
      .crossJoin(broadcast(allTot))
      .withColumn("n_src", coalesce(col("n_src"), lit(0L)))
      .withColumn("n_all", coalesce(col("n_all"), lit(0L)))
      .withColumn("p",
        (col("n_src") + 1).cast("double") /
          (col("src_total") + DriftBins).cast("double"))
      .withColumn("q",
        (col("n_all") + 1).cast("double") /
          (col("all_total") + DriftBins).cast("double"))
      .withColumn("psi_term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 6))
      .select("source", "bin", "n_src", "n_all", "psi_term")
      .orderBy("source", "bin")
  }

  /** DuckDB oracle for [[psiDrift]]. */
  private[graft] def psiDriftOracleSql: String =
    s"""WITH b AS (
       |  SELECT source,
       |    CAST(least(n_chars // $DriftBinWidth, ${DriftBins - 1})
       |      AS INT) AS bin
       |  FROM documents),
       |sb AS (
       |  SELECT source, bin, CAST(count(*) AS BIGINT) AS n_src
       |  FROM b GROUP BY 1, 2),
       |cb AS (
       |  SELECT bin, CAST(sum(n_src) AS BIGINT) AS n_all
       |  FROM sb GROUP BY 1),
       |st AS (
       |  SELECT source, CAST(sum(n_src) AS BIGINT) AS src_total
       |  FROM sb GROUP BY 1),
       |at AS (SELECT CAST(sum(n_all) AS BIGINT) AS all_total FROM cb),
       |spine AS (
       |  SELECT st.source, st.src_total, CAST(g.bin AS INT) AS bin
       |  FROM st CROSS JOIN (
       |    SELECT unnest(generate_series(0, ${DriftBins - 1})) AS bin) g),
       |j AS (
       |  SELECT s.source, s.bin,
       |    CAST(coalesce(sb.n_src, 0) AS BIGINT) AS n_src,
       |    CAST(coalesce(cb.n_all, 0) AS BIGINT) AS n_all,
       |    CAST(coalesce(sb.n_src, 0) + 1 AS DOUBLE) /
       |      CAST(s.src_total + $DriftBins AS DOUBLE) AS p,
       |    CAST(coalesce(cb.n_all, 0) + 1 AS DOUBLE) /
       |      CAST(at.all_total + $DriftBins AS DOUBLE) AS q
       |  FROM spine s
       |  LEFT JOIN sb ON s.source = sb.source AND s.bin = sb.bin
       |  LEFT JOIN cb ON s.bin = cb.bin
       |  CROSS JOIN at)
       |SELECT source, bin, n_src, n_all,
       |  round((p - q) * ln(p / q), 6) AS psi_term
       |FROM j
       |ORDER BY source, bin""".stripMargin

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV drift per source — each source's
    * document-length distribution against the REST of the corpus, as
    * the exact sup-norm CDF distance. Complements [[psiDrift]]: PSI is
    * binned and smoothing-dependent; KS is binless and distribution-
    * free, the test a monitor reaches for when the binning itself is
    * in question. EXACT by construction: with n_s source docs and m_s
    * rest docs, D = max over the merged length grid of
    * |cum_s·m_s − cum_rest·n_s| / (n_s·m_s) — products and the max run
    * in DECIMAL(38)/HUGEINT, one floor division to micro units at the
    * end, so both engines emit identical integers (no FP sup-norms).
    *
    * Scale: one corpus pass to (source, length) grain; the dense
    * source×grid spine and both cumulative windows run on that reduced
    * frame (sources × distinct lengths — thousands of rows at any SF,
    * since n_chars is bounded), never the corpus. The global-grid
    * window is a single-partition sort of the tiny grid, not the
    * fact. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame =
    ksDriftOf(Tables.documents(spark, dir)
      .filter(col("n_chars").isNotNull)
      .select(col("source"), col("n_chars").as("len")))

  /** [[ksDrift]]'s math core over an injectable (source, len) frame —
    * property-tested against a plain-Scala BigInt sup-norm reference
    * in StatPropertiesSpec. */
  private[graft] def ksDriftOf(obs: DataFrame): DataFrame = {
    val counts = obs
      .groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds grid, per-source totals, AND the spine
    val grid = counts.groupBy("len")
      .agg(sum(col("cnt")).as("len_cnt"))
      .withColumn("cum_all",
        sum(col("len_cnt")).over(
          Window.orderBy("len")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("len", "cum_all")
    val srcTotals = counts.groupBy("source")
      .agg(sum(col("cnt")).as("n_s"))
    val total = counts.agg(sum(col("cnt")).as("n_all"))
    srcTotals
      .crossJoin(grid)
      .join(counts, Seq("source", "len"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum_s",
        sum(col("cnt")).over(
          Window.partitionBy("source").orderBy("len")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .withColumn("m_s", col("n_all") - col("n_s"))
      .withColumn("num", abs(
        expr("CAST(cum_s AS DECIMAL(38,0)) * m_s - " +
          "CAST(cum_all - cum_s AS DECIMAL(38,0)) * n_s")))
      .groupBy(col("source"), col("n_s"), col("m_s"))
      .agg(max(col("num")).as("max_num"))
      .withColumn("d_micro",
        expr("CAST(max_num * 1000000 div " +
          "(CAST(n_s AS DECIMAL(38,0)) * m_s) AS BIGINT)"))
      .select("source", "n_s", "m_s", "d_micro")
      .orderBy("source")
  }

  /** DuckDB oracle for [[ksDrift]] — same dense spine, HUGEINT
    * products (windowed BIGINT sums cast back per the standing
    * HUGEINT rule). */
  private[graft] def ksDriftOracleSql: String =
    s"""WITH counts AS (
       |  SELECT source, n_chars AS len, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
       |grid AS (
       |  SELECT len,
       |    CAST(sum(sum(cnt)) OVER (ORDER BY len
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_all
       |  FROM counts GROUP BY len),
       |st AS (
       |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s
       |  FROM counts GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_all FROM counts),
       |dense AS (
       |  SELECT st.source, st.n_s, g.len, g.cum_all,
       |    CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       |  FROM st CROSS JOIN grid g
       |  LEFT JOIN counts c ON c.source = st.source AND c.len = g.len),
       |cum AS (
       |  SELECT source, n_s, len, cum_all,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY len
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_s
       |  FROM dense),
       |scored AS (
       |  SELECT source, n_s, (SELECT n_all FROM tot) - n_s AS m_s,
       |    abs(CAST(cum_s AS HUGEINT) *
       |        ((SELECT n_all FROM tot) - n_s) -
       |      CAST(cum_all - cum_s AS HUGEINT) * n_s) AS num
       |  FROM cum)
       |SELECT source, n_s, m_s,
       |  CAST(max(num) * 1000000 //
       |    (CAST(n_s AS HUGEINT) * m_s) AS BIGINT) AS d_micro
       |FROM scored GROUP BY source, n_s, m_s
       |ORDER BY source""".stripMargin

  /** Flesch-style READABILITY per document — the classic reading-ease
    * screen a text-quality pipeline runs next to the length/stopword
    * gates: sentence count (terminal punctuation runs, floored at 1 —
    * the synthetic corpus may carry none), word count, and the
    * standard vowel-run syllable APPROXIMATION, folded through the
    * published Flesch formula 206.835 − 1.015·(w/s) − 84.6·(syl/w).
    * The three counts are exact integers; the score is two int64→
    * double divisions and fixed-order double arithmetic — identical
    * cross-engine (the [[priceQuantityCorr]] discipline).
    *
    * Scale: one regex projection pass, no shuffle before the output
    * sort. */
  def readabilityScores(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .withColumn("n_words", size(tokens).cast("long"))
      .withColumn("n_sentences",
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")))
      .withColumn("n_syllables",
        size(expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)"))
          .cast("long"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double"))).as("flesch"))
      .orderBy("doc_id")

  /** DuckDB oracle for [[readabilityScores]]. */
  private[graft] def readabilityScoresOracleSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  greatest(CAST(1 AS BIGINT),
       |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
       |    AS n_sentences,
       |  CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
       |    AS BIGINT) AS n_syllables,
       |  206.835
       |    - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE) /
       |        CAST(greatest(CAST(1 AS BIGINT),
       |          CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
       |          AS DOUBLE))
       |    - 84.6 * (CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
       |        AS DOUBLE) /
       |        CAST(len(string_split(text, ' ')) AS DOUBLE))
       |    AS flesch
       |FROM documents
       |WHERE text IS NOT NULL
       |ORDER BY doc_id""".stripMargin

  // ===========================================================================
  // DSIR-style importance weights (hashed-n-gram importance resampling)
  // ===========================================================================

  /** Hashed-bigram feature buckets for [[dsirWeights]] (shared with the
    * oracle). Production DSIR uses ~10k buckets; the bucket count only
    * changes resolution, not the plan shape. */
  val DsirBuckets = 256

  /** The target-distribution source for [[dsirWeights]] — the corpus
    * slice whose distribution documents are scored AGAINST (in a real
    * pipeline: the high-quality reference corpus). */
  val DsirTargetSource = "src0"

  /** DSIR-style IMPORTANCE WEIGHTS (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every document by how much
    * more likely its hashed-bigram features are under the TARGET
    * distribution (the [[DsirTargetSource]] slice) than under the raw
    * corpus — the data-selection op that upsamples "looks like the
    * reference corpus" text without a trained classifier. Features are
    * word bigrams hashed into [[DsirBuckets]] md5-band buckets; both
    * unigram models are Laplace-smoothed exact rationals, and the
    * per-bucket log-likelihood ratio uses the engine's standing
    * integer-log trick (`length(bin(x))` = floor(log2 x)+1 on the
    * BIGINT-exact cross-multiplied ratio — same device as
    * `bigramSurprisal`), so the per-document sum is an ALL-INTEGER
    * log2-weight proxy: order-free, hash-exact cross-engine, within
    * ±1 bit/feature of the float formulation.
    *
    * Scale: one token explode (the corpus's token mass) into a
    * (bucket)-grain partial+final count — the model is B rows,
    * BROADCAST back to the doc-grain feature counts; the two corpus
    * totals ride 1-row broadcasts. No N², no driver loop; the model
    * build is a second pass over the same token stream a real run
    * would share with the other token ops. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("source"), col("text"))
    // r19: REVERTED to the posexplode + per-doc lag-window bigram
    // former. The r18 zip_with array form ([[bigramStructsSqlExpr]])
    // measured 0.84 → ~1.9 s at sf0.1 with an svi "regression" verdict
    // on both dsir queries: the interpreted per-element struct lambda
    // costs more than the lag window's native exchange+sort here —
    // the same failure mode the [[bigramSurprisal]] A/B documented.
    // The docs frame arrives repartitioned by doc_id, so the window's
    // hash partitioning reuses that exchange.
    val toks = docs.select(col("doc_id"), col("source"),
      posexplode(tokens).as(Seq("pos", "token")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val feats = toks
      .withColumn("prev", lag(col("token"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("source"),
        (expr("cast(conv(substring(md5(concat(prev, ' ', token)), 1, 15)," +
          " 16, 10) as bigint)") % DsirBuckets).as("b"))
    // The model counts (raw, target, totals) all DERIVE from the
    // (doc, bucket) feature counts, so the expensive token explode
    // runs ONCE and is cut from the three model consumers' lineage —
    // the localCheckpoint-the-shared-grain pattern (sourceDivergence,
    // sessionCopresence); the checkpointed frame is ≤ docs × B rows of
    // ids, corpus-mass-independent per doc.
    val docFeats = feats.groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val rawCounts = docFeats.groupBy("b").agg(sum(col("cnt")).as("r_cnt"))
    val tgtCounts = docFeats.filter(col("source") === DsirTargetSource)
      .groupBy("b").agg(sum(col("cnt")).as("t_cnt"))
    val totals = docFeats.agg(sum(col("cnt")).as("n_raw"),
      sum(when(col("source") === DsirTargetSource, col("cnt"))
        .otherwise(0L)).as("n_tgt"))
    // Per-bucket integer log2 score of the smoothed ratio
    //   (t+1)/(N_t+B) ÷ (r+1)/(N_r+B), cross-multiplied so both sides
    // are exact BIGINTs; bitlen(num) − bitlen(den) ∈ [log2−1, log2+1].
    val scores = rawCounts
      .join(tgtCounts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (length(bin((coalesce(col("t_cnt"), lit(0L)) + 1L) *
            (col("n_raw") + DsirBuckets))) -
          length(bin((col("r_cnt") + 1L) *
            (col("n_tgt") + DsirBuckets)))).cast("long").as("score"))
    docFeats
      .join(broadcast(scores), "b")
      .groupBy("doc_id", "source")
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * col("score")).as("logw2"))
      .withColumn("upsample", col("logw2") > 0L)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[dsirWeights]] — same md5-band buckets, same
    * cross-multiplied bin-length scores. */
  private[graft] def dsirWeightsOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents
       |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
       |f AS (
       |  SELECT doc_id, source,
       |    CAST('0x' || substr(md5(tk[s] || ' ' || tk[s + 1]), 1, 15)
       |      AS BIGINT) % $DsirBuckets AS b
       |  FROM d, unnest(generate_series(1, n - 1)) AS g(s)),
       |df AS (SELECT doc_id, source, b, count(*) AS cnt
       |       FROM f GROUP BY 1, 2, 3),
       |rc AS (SELECT b, count(*) AS r_cnt FROM f GROUP BY 1),
       |tc AS (SELECT b, count(*) AS t_cnt FROM f
       |       WHERE source = '$DsirTargetSource' GROUP BY 1),
       |tot AS (SELECT count(*) AS n_raw,
       |    CAST(count(*) FILTER (WHERE source = '$DsirTargetSource')
       |      AS BIGINT) AS n_tgt
       |  FROM f),
       |sc AS (
       |  SELECT rc.b,
       |    CAST(length(bin(CAST((coalesce(tc.t_cnt, 0) + 1) *
       |        (tot.n_raw + $DsirBuckets) AS BIGINT))) AS BIGINT) -
       |      CAST(length(bin(CAST((rc.r_cnt + 1) *
       |        (tot.n_tgt + $DsirBuckets) AS BIGINT))) AS BIGINT)
       |      AS score
       |  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot)
       |SELECT df.doc_id, df.source,
       |  CAST(sum(df.cnt) AS BIGINT) AS n_feats,
       |  CAST(sum(df.cnt * sc.score) AS BIGINT) AS logw2,
       |  CAST(sum(df.cnt * sc.score) AS BIGINT) > 0 AS upsample
       |FROM df JOIN sc ON df.b = sc.b
       |GROUP BY 1, 2
       |ORDER BY doc_id""".stripMargin

  /** Selection budget for [[dsirResample]] (shared with the oracle). */
  val DsirResampleK = 200

  /** DSIR RESAMPLE — the SELECTION step that [[dsirWeights]] exists to
    * feed: keep the [[DsirResampleK]] highest-weight documents, ties
    * broken by a salted md5 draw then doc_id — the deterministic
    * analogue of importance resampling's weighted draw (the integer
    * log2 weights quantize many docs onto equal weights, so the salted
    * tie-break IS the uniform draw within a weight class; exact Gumbel
    * top-k would put an engine-divergent float in the sort key).
    * Emits the selected docs with weight and draw rank.
    *
    * Scale: the weight frame is [[dsirWeights]]' plan unchanged; the
    * selection is a global top-K with K a compile-time constant —
    * TakeOrderedAndProject (per-partition heaps + single merge), never
    * a global sort or a window over the corpus. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(spark, dir)
      .withColumn("u", expr("cast(conv(substring(md5(concat('dsir', " +
        "cast(doc_id as string))), 1, 15), 16, 10) as bigint)"))
      .orderBy(col("logw2").desc, col("u"), col("doc_id"))
      .limit(DsirResampleK)
      .select(col("doc_id"), col("source"), col("logw2"))
      .orderBy("doc_id")

  /** DuckDB oracle for [[dsirResample]] — the [[dsirWeightsOracleSql]]
    * weights as a CTE, same salted-md5 tie-break, same top-K. */
  private[graft] def dsirResampleOracleSql: String =
    s"""WITH w AS (
       |$dsirWeightsOracleSql
       |),
       |pick AS (
       |  SELECT doc_id, source, logw2
       |  FROM w
       |  ORDER BY logw2 DESC,
       |    CAST('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT),
       |    doc_id
       |  LIMIT $DsirResampleK)
       |SELECT doc_id, source, logw2 FROM pick
       |ORDER BY doc_id""".stripMargin

  // ===========================================================================
  // Shingle document-frequency profile
  // ===========================================================================

  /** SHINGLE DF PROFILE — the posting-cut ADVISOR behind the dedup
    * family's document-frequency guards ([[NearDupDocFreqCap]], the
    * prefix join's df ∈ [2, 64] band): a log2-bucketed histogram of
    * shingle document frequency with, per bucket, the shingle count,
    * the posting mass Σdf (the inverted index's row bill), and the
    * PAIR mass Σ df·(df−1)/2 — the candidate pairs an uncapped posting
    * self-join would explode per bucket, i.e. the quadratic bill the
    * df cap exists to refuse. A table owner reads the cap decision off
    * this table: the top buckets hold a handful of stop-shingles
    * carrying most of the pair mass and no near-dup signal.
    *
    * Scale: one distinct-shingle explode into a (shingle)-grain
    * partial+final count (the same shuffle the dedup family's posting
    * build pays), then a ≤64-row re-aggregate — log2(df) rides the
    * standing `length(bin(·))` integer trick, no floats anywhere. */
  def shingleDfProfile(spark: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(expr(s"array_distinct($shinglesSqlExpr)")).as("sh"))
    posts
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .withColumn("df_log2", (length(bin(col("df"))) - 1).cast("long"))
      .groupBy("df_log2")
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("posting_mass"),
        sum(expr("df * (df - 1) div 2")).as("pair_mass"))
      .orderBy("df_log2")
  }

  /** DuckDB oracle for [[shingleDfProfile]] — same distinct postings,
    * same bin-length log2 buckets, same integer pair mass. Takes the
    * engine's DuckDB shingle fragment (defined beside the other
    * shingle oracles in SparkEntry). */
  private[graft] def shingleDfProfileOracleSql(
      shinglesSql: String): String =
    s"""WITH p AS (
       |  SELECT DISTINCT doc_id, sh
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct($shinglesSql)) AS sh
       |        FROM documents WHERE text IS NOT NULL) u),
       |d AS (
       |  SELECT sh, CAST(count(*) AS BIGINT) AS df
       |  FROM p GROUP BY sh)
       |SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS df_log2,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(df) AS BIGINT) AS posting_mass,
       |  CAST(sum(df * (df - 1) // 2) AS BIGINT) AS pair_mass
       |FROM d
       |GROUP BY 1
       |ORDER BY df_log2""".stripMargin

  /** Banding configs explored by [[lshBandPlanner]]: every (bands,
    * rows-per-band) factorization of a 128-hash MinHash signature.
    * Shared with the oracle. */
  val LshPlannerConfigs: Seq[(Int, Int)] =
    Seq(1 -> 128, 2 -> 64, 4 -> 32, 8 -> 16, 16 -> 8, 32 -> 4,
      64 -> 2, 128 -> 1)

  /** Floor-milli fixed-point power: `base^e` with base a 0..1000 milli
    * value, unrolled by BINARY exponentiation — `(x·x) div 1000`
    * squarings plus odd-step multiplies — deterministic integer
    * arithmetic, bit-identical on both engines (a float `pow` is not
    * required to be correctly rounded by IEEE and Java/C library
    * results can differ in the last ulp; and the naive e−1-step linear
    * chain nests 128 deep, which Spark's parser rejects with
    * FAILED_TO_PARSE_TOO_COMPLEX — the square-and-multiply tree is
    * depth O(log e) at the same total size). Each floor under-estimates
    * by < 1 milli, identically both sides (the oracle unrolls the SAME
    * tree). */
  private def powMille(base: String, e: Int, idiv: String): String =
    if (e == 1) base
    else {
      val h = powMille(base, e / 2, idiv)
      val sq = s"((($h) * ($h)) $idiv 1000)"
      if (e % 2 == 0) sq else s"((($sq) * ($base)) $idiv 1000)"
    }

  /** LSH BAND PLANNER — the S-curve advisor behind "how should the 128
    * MinHashes be banded": for every (b bands × r rows) factorization,
    * the probability a pair with Jaccard s becomes an LSH candidate is
    * 1 − (1 − s^r)^b; folding that curve over the corpus's VERIFIED
    * near-dup pair distribution (the [[nearDupJaccardCapped]] memo —
    * the pairs the pipeline must not lose) prices each config in
    * recall-per-pair terms: mean/min candidate probability and the
    * count of pairs a config would more-likely-than-not MISS. The
    * table a corpus owner reads "16×8 keeps the 0.1-threshold pairs,
    * 4×32 silently drops half" off before committing an index build.
    * All arithmetic is floor-milli fixed point over the exact
    * (n_inter, n_union) integers — no float pow anywhere.
    *
    * Scale: the pair frame is the memoized checkpoint (pair-count-
    * sized, KBs); per config the S-curve is a constant-unrolled ≤128-
    * multiply integer expression per pair, one conditional aggregate,
    * and an 8-row stack — nothing corpus-sized moves. */
  def lshBandPlanner(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairsCore(spark, dir)
      .select(expr("(n_inter * 1000) div n_union").as("s_m"))
    val withRec = LshPlannerConfigs.zipWithIndex
      .foldLeft(pairs) { case (df, ((b, r), i)) =>
        val p1 = powMille("s_m", r, "div")
        df.withColumn(s"rec_$i",
          expr(s"1000 - ${powMille(s"(1000 - ($p1))", b, "div")}"))
      }
    val aggs = LshPlannerConfigs.indices.flatMap { i =>
      Seq(sum(col(s"rec_$i")).as(s"sum_$i"),
        min(col(s"rec_$i")).as(s"min_$i"),
        sum(when(col(s"rec_$i") < 500, 1L).otherwise(0L))
          .as(s"weak_$i"))
    } :+ count(lit(1)).as("n_pairs")
    val folded = withRec.agg(aggs.head, aggs.tail: _*)
    folded.selectExpr(
        s"stack(${LshPlannerConfigs.length}, " +
          LshPlannerConfigs.zipWithIndex.map { case ((b, r), i) =>
            s"CAST($b AS BIGINT), CAST($r AS BIGINT), n_pairs, " +
              s"CAST(sum_$i div greatest(1L, n_pairs) AS BIGINT), " +
              s"CAST(min_$i AS BIGINT), weak_$i"
          }.mkString(", ") +
          ") AS (bands, rows_per_band, n_pairs, mean_recall_mille, " +
          "min_recall_mille, weak_pairs)")
      .orderBy("bands")
  }

  /** DuckDB oracle for [[lshBandPlanner]] — the independently derived
    * relational df-cut pair set as a CTE, then the SAME unrolled
    * floor-milli S-curve per config, one UNION ALL arm each. */
  private[graft] def lshBandPlannerOracleSql(shinglesSql: String)
      : String = {
    val arms = LshPlannerConfigs.map { case (b, r) =>
      val p1 = powMille("s_m", r, "//")
      val rec = s"1000 - ${powMille(s"(1000 - ($p1))", b, "//")}"
      s"""SELECT CAST($b AS BIGINT) AS bands,
         |  CAST($r AS BIGINT) AS rows_per_band,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(rec) // greatest(1, count(*)) AS BIGINT)
         |    AS mean_recall_mille,
         |  CAST(min(rec) AS BIGINT) AS min_recall_mille,
         |  CAST(sum(CASE WHEN rec < 500 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS weak_pairs
         |FROM (SELECT CAST(($rec) AS BIGINT) AS rec FROM sm) t_$b""".stripMargin
    }
    s"""WITH vp AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)}
       |),
       |sm AS (
       |  SELECT CAST((n_inter * 1000) // n_union AS BIGINT) AS s_m
       |  FROM vp)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY bands""".stripMargin
  }

  /** DEDUP INFLATION BY SOURCE — the curation dashboard read-out
    * "which source is paying for duplicates": per source, document and
    * token mass split into exact-duplicate survivors (min doc_id per
    * text-md5 group, the [[exactDedupGroups]] rule) vs redundant
    * copies, with the redundant share in floor-milli. A 100 TB corpus
    * owner reads "source X is 40% duplicate tokens — fix its crawler"
    * off this table before paying for training epochs on it.
    *
    * Scale: one (text_md5)-grain aggregate for the survivor id (the
    * same shuffle exact dedup pays), broadcast-sized? no — joined back
    * by md5 hash join at corpus grain, then one (source) aggregate.
    * Two scans of the documents table (group + join probe), both
    * column-pruned to (doc_id, source, md5, token count). */
  def dedupInflationBySource(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
        size(tokens).cast("long").as("n_tok"))
    val survivors = docs.groupBy("h")
      .agg(min(col("doc_id")).as("survivor_id"))
    docs.join(survivors, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("survivor_id"), 1L)
          .otherwise(0L)).as("n_survivors"),
        sum(col("n_tok")).as("total_tokens"),
        sum(when(col("doc_id") =!= col("survivor_id"), col("n_tok"))
          .otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_token_mille",
        expr("(dup_tokens * 1000) div greatest(1L, total_tokens)"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[dedupInflationBySource]] — same md5 groups,
    * same min-doc_id survivor rule, same floor-milli share. */
  private[graft] def dedupInflationBySourceOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, md5(text) AS h,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (
       |  SELECT h, min(doc_id) AS survivor_id FROM d GROUP BY h)
       |SELECT d.source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN d.doc_id = s.survivor_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_survivors,
       |  CAST(sum(d.n_tok) AS BIGINT) AS total_tokens,
       |  CAST(sum(CASE WHEN d.doc_id <> s.survivor_id THEN d.n_tok
       |    ELSE 0 END) AS BIGINT) AS dup_tokens,
       |  CAST((sum(CASE WHEN d.doc_id <> s.survivor_id THEN d.n_tok
       |    ELSE 0 END) * 1000) // greatest(1, sum(d.n_tok)) AS BIGINT)
       |    AS dup_token_mille
       |FROM d JOIN s ON d.h = s.h
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** SOURCE CROSS-DUP MATRIX — "which sources copy from which": the
    * verified near-dup pair set attributed to (source, source) cells,
    * with pair counts and mean/max similarity per cell (sources sorted
    * within a pair so each unordered cell appears once; the diagonal
    * is within-source duplication — [[dedupInflationBySource]]'s
    * near-dup sibling, but CROSS-source: the reading that tells a
    * corpus owner two crawls overlap and one should be dropped rather
    * than each deduped internally).
    *
    * Scale: the pair frame is the memoized checkpoint (KB-sized); two
    * hash joins against the corpus-grain (doc_id, source) projection
    * attribute it, then a ≤|sources|²-row aggregate. */
  def sourceCrossDupMatrix(spark: SparkSession, dir: String)
      : DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val pairs = nearDupPairsCore(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        expr("(n_inter * 1000) div n_union").as("jm"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("jm"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(sum(jm) div count(1) AS BIGINT)")
          .as("mean_jaccard_mille"),
        max(col("jm")).as("max_jaccard_mille"))
      .orderBy("source_a", "source_b")
  }

  /** DuckDB oracle for [[sourceCrossDupMatrix]] — the relational
    * df-cut pair set as a CTE, same sorted-cell attribution, same
    * floor-milli mean. */
  private[graft] def sourceCrossDupMatrixOracleSql(
      shinglesSql: String): String =
    s"""WITH vp AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)}
       |),
       |att AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    CAST((vp.n_inter * 1000) // vp.n_union AS BIGINT) AS jm
       |  FROM vp
       |  JOIN documents da ON vp.doc_a = da.doc_id
       |  JOIN documents db ON vp.doc_b = db.doc_id)
       |SELECT source_a, source_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(jm) // count(*) AS BIGINT) AS mean_jaccard_mille,
       |  CAST(max(jm) AS BIGINT) AS max_jaccard_mille
       |FROM att
       |GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin

  /** Jaccard-mille thresholds swept by [[dedupThresholdSweep]] —
    * shared with the oracle. */
  val DedupSweepThresholds: Seq[Int] = (1 to 9).map(_ * 100)

  /** DEDUP THRESHOLD SWEEP — the POLICY advisor over the verified pair
    * set: for each candidate jaccard threshold, how many near-dup
    * pairs survive and how many documents are implicated (appear in
    * ≥1 surviving pair) — the table a curation owner reads "0.5 keeps
    * 40 pairs touching 60 docs, 0.8 keeps only the template clones"
    * off before committing a dedup policy. Exact integer-mille
    * comparisons over the memoized (n_inter, n_union) rationals; the
    * pipeline's own 0.1 floor means the t=100 row IS the full memo
    * (spec-pinned).
    *
    * Scale: two conditional aggregates over the KB-sized pair memo
    * (pairs directly; docs via a doc-grain max-similarity fold), then
    * a 9-row stack. Nothing corpus-sized moves. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairsCore(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        expr("(n_inter * 1000) div n_union").as("jm"))
    val pAggs = DedupSweepThresholds.map(t =>
      sum(when(col("jm") >= t, 1L).otherwise(0L)).as(s"p_$t"))
    val pr = pairs.agg(pAggs.head, pAggs.tail: _*)
    val docMax = pairs.select(col("doc_a").as("doc"), col("jm"))
      .unionByName(pairs.select(col("doc_b").as("doc"), col("jm")))
      .groupBy("doc").agg(max(col("jm")).as("mx"))
    val dAggs = DedupSweepThresholds.map(t =>
      sum(when(col("mx") >= t, 1L).otherwise(0L)).as(s"d_$t"))
    val dr = docMax.agg(dAggs.head, dAggs.tail: _*)
    pr.crossJoin(dr)
      .selectExpr(s"stack(${DedupSweepThresholds.length}, " +
        DedupSweepThresholds.map(t =>
          s"CAST($t AS BIGINT), p_$t, d_$t").mkString(", ") +
        ") AS (threshold_mille, n_pairs, n_docs)")
      .orderBy("threshold_mille")
  }

  /** DuckDB oracle for [[dedupThresholdSweep]] — the relational df-cut
    * pair set as a CTE, same integer-mille comparisons, one UNION ALL
    * arm per threshold. */
  private[graft] def dedupThresholdSweepOracleSql(
      shinglesSql: String): String = {
    val arms = DedupSweepThresholds.map { t =>
      s"""SELECT CAST($t AS BIGINT) AS threshold_mille,
         |  CAST((SELECT count(*) FROM jp WHERE jm >= $t) AS BIGINT)
         |    AS n_pairs,
         |  CAST((SELECT count(*) FROM dm WHERE mx >= $t) AS BIGINT)
         |    AS n_docs""".stripMargin
    }
    s"""WITH vp AS (
       |${nearDupJaccardCappedOracleSql(shinglesSql)}
       |),
       |jp AS (
       |  SELECT doc_a, doc_b,
       |    CAST((n_inter * 1000) // n_union AS BIGINT) AS jm
       |  FROM vp),
       |dm AS (
       |  SELECT doc, max(jm) AS mx
       |  FROM (SELECT doc_a AS doc, jm FROM jp
       |        UNION ALL SELECT doc_b AS doc, jm FROM jp) u
       |  GROUP BY doc)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY threshold_mille""".stripMargin
  }

  /** Winnowing window (in k-grams) for [[winnowFingerprints]] — shared
    * with the oracle. Expected selection density for random hashes is
    * 2/(w+1) (Schleimer et al. 2003, winnowing's guarantee theorem). */
  val WinnowWindow = 4

  /** WINNOWING FINGERPRINTS (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * algorithm): per document, hash every positional word-bigram
    * k-gram and select the MINIMUM hash of each sliding window of
    * [[WinnowWindow]] k-grams — the selection is position-robust (any
    * match of ≥ w+k−1 tokens shares a fingerprint, winnowing's
    * guarantee) and sparse (expected density 2/(w+1)), which is what
    * makes fingerprint-based plagiarism/copy detection affordable at
    * corpus scale: the index holds ~2/(w+1) of the k-gram mass instead
    * of all of it. Emits per doc the k-gram/window/fingerprint counts,
    * the selection density, and an order-free integer checksum of the
    * fingerprint set (sum of 60-bit hashes mod 2⁶¹−1 — cross-engine
    * exact; the mod keeps the fold inside int64 on both engines).
    * Fingerprints are the standing h60 convention (15 hex chars of
    * md5): at the 100 TB design point a 32-bit space saturates —
    * collisions inflate df identically on both engines, so the oracle
    * gate could never catch genuine fingerprints being dropped by the
    * df cap (r17 advice).
    * A <w-k-gram doc degenerates to one whole-array window (the
    * algorithm's natural boundary case); <2-token docs have no k-grams
    * and are excluded.
    *
    * Scale: everything is per-row array arithmetic inside one
    * projection — no explode, no shuffle except the presentation sort;
    * the window-min transform is O(n·w) interpreted-lambda work per
    * doc, bounded by doc length (the same trade as the shingle HOFs,
    * acceptable because w is a small constant). */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val w = WinnowWindow
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("h", expr(
        s"transform($shinglesSqlExpr, " +
          "s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"))
      .filter(size(col("h")) >= 1)
      .withColumn("n_kgrams", size(col("h")).cast("long"))
      .withColumn("n_windows",
        expr(s"greatest(1L, n_kgrams - ${w - 1})"))
      .withColumn("fps", expr(
        s"array_distinct(transform(sequence(1L, n_windows), " +
          s"i -> array_min(slice(h, cast(i as int), $w))))"))
      .select(col("doc_id"), col("n_kgrams"), col("n_windows"),
        size(col("fps")).cast("long").as("n_fp"),
        expr("(size(fps) * 1000) div n_windows").as("density_mille"),
        expr("aggregate(fps, cast(0 as bigint), " +
          "(acc, x) -> (acc + x) % 2305843009213693951)")
          .as("fp_checksum"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[winnowFingerprints]] — same 60-bit md5-prefix
    * hashes, same inclusive-slice window mins, same modular checksum
    * (HUGEINT sum then one mod equals the step-wise positive fold). */
  private[graft] def winnowFingerprintsOracleSql(
      shinglesSql: String): String = {
    val w = WinnowWindow
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_transform($shinglesSql,
       |      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
       |  FROM documents
       |  WHERE text IS NOT NULL
       |    AND len(string_split(text, ' ')) >= 2),
       |ww AS (
       |  SELECT doc_id, h,
       |    CAST(len(h) AS BIGINT) AS n_kgrams,
       |    CAST(greatest(1, len(h) - ${w - 1}) AS BIGINT) AS n_windows
       |  FROM d),
       |fp AS (
       |  SELECT doc_id, n_kgrams, n_windows,
       |    list_distinct(list_transform(range(1, n_windows + 1),
       |      i -> list_min(h[i:i + ${w - 1}]))) AS fps
       |  FROM ww)
       |SELECT doc_id, n_kgrams, n_windows,
       |  CAST(len(fps) AS BIGINT) AS n_fp,
       |  CAST((len(fps) * 1000) // n_windows AS BIGINT)
       |    AS density_mille,
       |  CAST(list_sum(fps) % 2305843009213693951 AS BIGINT)
       |    AS fp_checksum
       |FROM fp
       |ORDER BY doc_id""".stripMargin
  }

  /** k-gram width (in WORDS) for [[winnowPairs]] — deliberately wider
    * than [[winnowFingerprints]]' bigrams: the per-doc stats op shares
    * the dedup family's bigram stream, but for the PAIR search a
    * 2-word k-gram is a stop-phrase ("of the") that lands in ~every
    * document — measured at sf0.01 it put 62k of 125k possible pairs
    * through the join (23.9 s at sf0.1). Schleimer et al. §2 set k
    * "large enough that matches shorter than t are uninteresting";
    * 4-word k-grams repeat across documents only inside genuinely
    * shared passages, so the posting join's volume IS the copy signal.
    * The guarantee threshold becomes t = w + k − 1 = 7 shared words. */
  val WinnowPairK = 4

  /** The k-word positional k-gram hash stream as NESTED `zip_with`
    * over k aligned slices — the `shinglesSqlExpr` discipline,
    * load-bearing twice over: slices are lambda ARGUMENTS (evaluated
    * once per doc), while anything referenced INSIDE a HOF lambda body
    * is re-evaluated per element after CollapseProject inlines it — a
    * first cut wrote `element_at(split(text,' '), i+o)` in the body
    * and paid k full re-tokenizations per k-gram position (O(tokens²)
    * per doc; a second cut indexed a `toks` COLUMN in the body and the
    * optimizer inlined the split into every one of the k references
    * anyway). The <k-token `case` guard keeps the slice lengths
    * positive (the standing shingle lesson — `sequence(1, n)` descends
    * for n < 1). Shared by the [[WinnowPairK]] production stream and
    * [[winnowKPlanner]]'s sweep. */
  private[graft] def kgramHashSql(k: Int): String = {
    require(k >= 2, "a 1-gram stream is just the token stream")
    val t = "split(text, ' ')"
    val m = s"(size($t) - ${k - 1})"
    val grams = (2 to k).foldLeft(s"slice($t, 1, $m)") { (acc, o) =>
      s"zip_with($acc, slice($t, $o, $m), (a, b) -> concat(a, ' ', b))"
    }
    s"""case when size($t) < $k
          then cast(array() as array<bigint>)
          else transform($grams,
            s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))
        end"""
  }

  /** Shared with [[graft.streaming.StreamOps.winnowDecontamStream]] —
    * the stream twin fingerprints arriving docs with the EXACT batch
    * expression chain so its verdicts pin to [[winnowDecontam]]'s. */
  private[graft] val winnowKgramHashSqlExpr = kgramHashSql(WinnowPairK)

  /** The winnow window-minimum selection over a column `h` (the
    * k-gram hash array) — the [[winnowFpDocs]] selection rule as one
    * SQL string, shared with the streaming twin. */
  private[graft] val winnowFpsFromHExpr: String =
    s"array_distinct(transform(sequence(1L, " +
      s"greatest(1L, cast(size(h) as bigint) - ${WinnowWindow - 1})), " +
      s"i -> array_min(slice(h, cast(i as int), $WinnowWindow))))"

  /** The per-doc winnowed fingerprint sets over the
    * [[WinnowPairK]]-word k-gram stream — the shared front of
    * [[winnowPairs]] and [[winnowDecontam]]. The compact (doc_id, fps)
    * frame is localCheckpointed BEFORE any explode — a hard optimizer
    * barrier, not a convenience: CollapseProject inlines the whole
    * toks → k-gram-hash → window-min lambda chain into the Generate's
    * child, where it re-evaluates per EMITTED posting (and the inlined
    * h re-evaluates per window inside the fps lambda — measured ~700×
    * work amplification: 37 s for the explode's count at sf0.01 vs
    * 1.5 s through the barrier). The frame is one array row per doc
    * (~20 ints), so the materialization is KB-scale per partition at
    * any corpus size.
    *
    * The checkpoint is a session memo (cache only what is reused): the
    * fingerprint frame is the shared front of THREE registered
    * consumers ([[winnowPairs]]' populate, [[winnowDecontam]], and
    * [[decontamScreenAgreement]] through the latter), and without the
    * memo each consumer re-tokenized and re-winnowed the whole corpus
    * into a FRESH per-call checkpoint — winnow_decontam alone paid
    * ~1.3 s of its 2.0 s isolated median rebuilding a frame the session
    * had already materialized. The populate cost stays visible as the
    * `winnow_fp_docs` entry of `memo_populate` (counted once in the
    * bench total). */
  private[graft] def winnowFpDocs(spark: SparkSession,
      dir: String): DataFrame =
    graft.Memos.memo("winnow_fp_docs", spark, Seq(dir)) {
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("h", expr(winnowKgramHashSqlExpr))
        .filter(size(col("h")) >= 1)
        .withColumn("fps", expr(winnowFpsFromHExpr))
        .select(col("doc_id"), col("fps"))
        .localCheckpoint()
    }

  /** Session-scoped memo of the winnow PAIR frame — the
    * [[nearDupPairsCore]] convention applied to the MOSS family: the
    * posting pipeline (winnowed fps → df cut → pair join) runs once
    * per session and input and its KB-sized checkpointed result feeds
    * every consumer ([[winnowPairs]] re-emits it; [[winnowComponents]]
    * clusters its thresholded edges). */
  private def winnowPairsCore(spark: SparkSession,
      dir: String): DataFrame =
    graft.Memos.memo("winnow_pairs", spark, Seq(dir)) {
      val post = winnowFpDocs(spark, dir)
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          explode(col("fps")).as("fp"))
      val kept = Candidates.dropAbove(post, Seq("fp"), NearDupDocFreqCap)
        .localCheckpoint()
      Candidates.pairs(kept.select(col("fp"), col("doc_id").as("doc"),
          col("n_fp")), Seq("fp"), "doc")
        .groupBy(col("doc_a"), col("doc_b"), col("n_fp_a"),
          col("n_fp_b"))
        .agg(count(lit(1)).as("n_shared_fp"))
        .withColumn("overlap_mille",
          expr("(n_shared_fp * 1000) div least(n_fp_a, n_fp_b)"))
        .select(col("doc_a"), col("doc_b"), col("n_fp_a"),
          col("n_fp_b"), col("n_shared_fp"), col("overlap_mille"))
        .localCheckpoint()
    }

  /** WINNOWING CANDIDATE PAIRS — the MOSS use of winnowing: winnow
    * the [[WinnowPairK]]-word k-gram stream per document
    * ([[WinnowWindow]]-window minima, the
    * [[winnowFingerprints]] selection rule), explode the selected
    * fingerprints into postings, and pair them on the fingerprint,
    * emitting every document pair that shares one with its
    * shared-fingerprint count and an overlap ratio against the smaller
    * set. Winnowing's guarantee makes this the whole plagiarism/copy
    * search: any shared run of ≥ w+k−1 = 7 words selects at least one
    * common fingerprint, so every such pair surfaces here — at
    * ~2/(w+1) of the k-gram index mass.
    *
    * Scale shape: exactly [[nearDupJaccard]]'s production posting join
    * — a fingerprint-grain df count, the
    * [[NearDupDocFreqCap]] stop-fingerprint cut BEFORE pair explosion
    * (bounding any posting bucket at cap²; boilerplate fingerprints in
    * ~every doc carry no copy signal), a localCheckpointed flat
    * posting frame read by both join sides, and a pair-grain count
    * that fuses into codegen. Nothing is all-pairs, and the wide
    * k-gram keeps the posting volume proportional to actual
    * shared-passage mass.
    *
    * The registered query re-emits the [[winnowPairsCore]] memo; the
    * pipeline cost appears once as the `winnow_pairs` entry of
    * `memo_populate`. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsCore(spark, dir).orderBy("doc_a", "doc_b")

  /** The [[winnowFpDocs]] fingerprint computation as DuckDB CTEs
    * `d`/`ww`/`fp` (fp = (doc_id, fps)), shared by
    * [[winnowPairsOracleSql]] and [[winnowDecontamOracleSql]]. */
  private def winnowFpSqlCtes: String = {
    val w = WinnowWindow
    val t = "string_split(text, ' ')"
    val kgrams = {
      val parts = (0 until WinnowPairK)
        .map(o => s"$t[i + $o]").mkString(" || ' ' || ")
      s"list_transform(range(1, len($t) - ${WinnowPairK - 2}), " +
        s"i -> $parts)"
    }
    s"""d AS (
       |  SELECT doc_id,
       |    list_transform($kgrams,
       |      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
       |  FROM documents
       |  WHERE text IS NOT NULL
       |    AND len($t) >= $WinnowPairK),
       |ww AS (
       |  SELECT doc_id, h,
       |    CAST(greatest(1, len(h) - ${w - 1}) AS BIGINT) AS n_windows
       |  FROM d),
       |fp AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, n_windows + 1),
       |      i -> list_min(h[i:i + ${w - 1}]))) AS fps
       |  FROM ww)""".stripMargin
  }

  /** DuckDB oracle for [[winnowPairs]] — the same
    * [[WinnowPairK]]-word k-gram stream, the [[winnowFingerprints]]
    * window-min selection, the relational df cut, and the same pair
    * aggregate. */
  private[graft] def winnowPairsOracleSql: String = {
    s"""WITH $winnowFpSqlCtes,
       |pe AS (
       |  SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
       |    unnest(fps) AS fp
       |  FROM fp),
       |c AS (SELECT fp, count(*) AS df FROM pe GROUP BY 1),
       |pf AS (
       |  SELECT pe.doc_id, pe.n_fp, pe.fp
       |  FROM pe JOIN c ON pe.fp = c.fp
       |  WHERE c.df BETWEEN 2 AND $NearDupDocFreqCap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  a.n_fp AS n_fp_a, b.n_fp AS n_fp_b,
       |  CAST(count(*) AS BIGINT) AS n_shared_fp,
       |  CAST((count(*) * 1000) // least(a.n_fp, b.n_fp) AS BIGINT)
       |    AS overlap_mille
       |FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2, 3, 4
       |ORDER BY 1, 2""".stripMargin
  }

  /** Winnow-overlap floor (mille of the smaller fingerprint set) for
    * a [[winnowPairs]] pair to count as a cluster edge in
    * [[winnowComponents]] (shared with the oracle). */
  val WinnowCompMille = 250

  /** WINNOW COMPONENTS — the cluster step of the MOSS family: the
    * density-guarded connected components of [[dedupComponentsGuarded]]
    * ([[Components.label]] at [[TextDupDegreeCap]]) over the
    * [[winnowPairs]] edge set at the [[WinnowCompMille]] overlap floor.
    * This closes the passage-copy loop the family opened: doc-level
    * Jaccard DILUTES passage-level copying (the [[winnowMatchSpans]]
    * motivation), so template/boilerplate families that share passages —
    * not whole documents — never reach the shingle pipeline's
    * components; here they collapse to representatives too. Same hub
    * rule as the text graph: a doc whose winnow degree exceeds the cap is
    * a template carrier, its edges are cut from the closure, and it emits
    * as its own flagged singleton — transitive chains THROUGH templates
    * must not merge unrelated content. Edges are the KB-sized
    * [[winnowPairsCore]] checkpoint filtered by one predicate. */
  def winnowComponents(spark: SparkSession, dir: String): DataFrame =
    Components.label(winnowPairsCore(spark, dir)
        .filter(col("overlap_mille") >= WinnowCompMille)
        .select(col("doc_a"), col("doc_b")), Some(TextDupDegreeCap))
      .select(col("v").as("doc_id"), col("component_id"), col("is_hub"))
      .orderBy("doc_id")

  /** DuckDB oracle for [[winnowComponents]] — the [[winnowPairs]]
    * oracle as the edge base, the same degree predicate, the same
    * guarded recursive closure ([[dedupComponentsGuardedOracleSql]]'s
    * shape). */
  private[graft] def winnowComponentsOracleSql: String =
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_a, doc_b FROM (
       |${winnowPairsOracleSql.replace("ORDER BY 1, 2", "")}) q
       |  WHERE overlap_mille >= $WinnowCompMille),
       |e AS (
       |  SELECT doc_a, doc_b FROM base
       |  UNION ALL SELECT doc_b, doc_a FROM base),
       |hub AS (
       |  SELECT doc_a AS u FROM e GROUP BY doc_a
       |  HAVING count(*) > $TextDupDegreeCap),
       |ge AS (
       |  SELECT doc_a, doc_b FROM e
       |  WHERE doc_a NOT IN (SELECT u FROM hub)
       |    AND doc_b NOT IN (SELECT u FROM hub)),
       |r AS (
       |  SELECT doc_a AS v, doc_a AS u FROM ge
       |  UNION
       |  SELECT r.v, ge.doc_b AS u FROM r JOIN ge ON r.u = ge.doc_a),
       |lbl AS (SELECT v, min(u) AS l FROM r GROUP BY v),
       |u0 AS (SELECT DISTINCT doc_a AS d FROM e)
       |SELECT u0.d AS doc_id, coalesce(lbl.l, u0.d) AS component_id,
       |  u0.d IN (SELECT u FROM hub) AS is_hub
       |FROM u0 LEFT JOIN lbl ON u0.d = lbl.v
       |ORDER BY 1""".stripMargin

  /** WINNOW DECONTAMINATION — the sparse-index variant of
    * [[ngramDecontam]]: flag TRAIN documents sharing a winnowed
    * fingerprint with the held-out split (same [[TrainPct]] hash-band
    * assignment). The trade vs the exhaustive n-gram form: the
    * broadcast dirty list shrinks to ~2/(w+1) ≈ 40% of the distinct
    * 4-gram mass (an eval SUITE at real scale is many benchmarks — the
    * index size is the binding constraint on the broadcast join), in
    * exchange for a guarantee floor instead of exactness: any verbatim
    * overlap of ≥ w+k−1 = 7 words is still caught (winnowing's
    * theorem), shorter overlaps may be missed — exactly MOSS's
    * precision/index-size trade, priced here against the exhaustive
    * twin the suite already ships.
    *
    * Scale shape: two reads of the KB-per-partition [[winnowFpDocs]]
    * checkpoint; the eval side collapses to DISTINCT fingerprints and
    * broadcasts; the train side is one per-doc aggregate. No
    * corpus-side shuffle except the doc-grain count. */
  /** Session-scoped memo of the [[winnowDecontam]] doc-grain screen
    * frame — same r18 convention as [[bloomDecontam]] (two registered
    * consumers: `winnow_decontam` re-emits it, [[decontamScreenAgreement]]
    * reads the verdict column). Populate cost visible as
    * `winnow_screen` in `memo_populate`. */
  def winnowDecontam(spark: SparkSession, dir: String): DataFrame =
    graft.Memos.memo("winnow_screen", spark, Seq(dir))(
      winnowDecontamUncached(spark, dir).localCheckpoint())
      // emitted order is part of the oracle contract — re-sort the read
      .orderBy("doc_id")

  private def winnowDecontamUncached(spark: SparkSession,
      dir: String): DataFrame = {
    val post = winnowFpDocs(spark, dir)
      .withColumn("bucket",
        pmod(h60("cast(doc_id as string)"), lit(100)))
      .select(col("doc_id"), col("bucket"),
        size(col("fps")).cast("long").as("n_fp"),
        explode(col("fps")).as("fp"))
    val evalFps = post.filter(col("bucket") >= TrainPct)
      .select(col("fp").as("ev_fp")).distinct()
    post.filter(col("bucket") < TrainPct)
      .join(broadcast(evalFps), col("fp") === col("ev_fp"), "left")
      .groupBy("doc_id", "n_fp")
      .agg(count(col("ev_fp")).as("n_hits"))
      .withColumn("hit_mille", expr("(1000 * n_hits) div n_fp"))
      .withColumn("contaminated", col("n_hits") > 0)
      .select(col("doc_id"), col("n_fp"), col("n_hits"),
        col("hit_mille"), col("contaminated"))
  }

  /** DuckDB oracle for [[winnowDecontam]] — the shared fingerprint
    * CTEs, the same hash-band split, the same distinct-hit LEFT
    * join. */
  private[graft] def winnowDecontamOracleSql: String =
    s"""WITH $winnowFpSqlCtes,
       |pe AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % 100 AS bucket,
       |    CAST(len(fps) AS BIGINT) AS n_fp,
       |    unnest(fps) AS fp
       |  FROM fp),
       |ev AS (SELECT DISTINCT fp AS ev_fp FROM pe
       |       WHERE bucket >= $TrainPct),
       |tr AS (SELECT doc_id, n_fp, fp FROM pe WHERE bucket < $TrainPct)
       |SELECT tr.doc_id, tr.n_fp,
       |  CAST(count(ev.ev_fp) AS BIGINT) AS n_hits,
       |  CAST((1000 * count(ev.ev_fp)) // tr.n_fp AS BIGINT)
       |    AS hit_mille,
       |  count(ev.ev_fp) > 0 AS contaminated
       |FROM tr LEFT JOIN ev ON tr.fp = ev.ev_fp
       |GROUP BY tr.doc_id, tr.n_fp
       |ORDER BY tr.doc_id""".stripMargin

  /** DECONTAM SCREEN AGREEMENT — the three text screens priced
    * against each other on the shared [[TrainPct]] hash-band split:
    * per (ngram_hit, bloom_hit, winnow_hit) verdict combination, how
    * many train documents land there. The off-diagonal cells ARE the
    * screens' trade-offs, quantified on the corpus itself:
    * (bloom ∧ ¬ngram) is the Bloom filter's document-grain false-
    * positive mass (the m-bits-vs-FP-rate knob), and (ngram ∧ ¬winnow)
    * is the short-overlap mass the sparse winnowed index trades away
    * (overlaps < w+k−1 = 7 words — [[winnowDecontam]]'s documented
    * precision/index-size trade, here as a number instead of a
    * theorem). Two cells are EMPTY by containment and the spec pins
    * them: an exact 3-gram hit sets all three of its own Bloom
    * positions (ngram ⟹ bloom), and a shared winnowed fingerprint is
    * a shared 4-word gram whose interior 3-grams the exact screen
    * must also see (winnow ⟹ ngram).
    *
    * Scale shape: TWO corpus scans, not three — [[bloomDecontam]]
    * already carries the exact screen beside the filter verdict (its
    * `exact_hits` column is [[ngramDecontam]]'s hit count: same
    * distinct-(doc, gram) discipline, same h60), so the ngram column
    * reads off the bloom frame and only the winnow screen pays its
    * own scan. Doc-grain full outer join on doc_id (universes differ
    * only for < k-token docs), then a ≤ 8-row flag census. */
  def decontamScreenAgreement(spark: SparkSession,
      dir: String): DataFrame = {
    val bl = bloomDecontam(spark, dir)
      .select(col("doc_id"),
        (col("exact_hits") > 0).as("ngram_hit"),
        col("contaminated").as("bloom_hit"))
    val wn = winnowDecontam(spark, dir)
      .select(col("doc_id"), col("contaminated").as("winnow_hit"))
    bl.join(wn, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("ngram_hit"), lit(false)).as("ngram_hit"),
        coalesce(col("bloom_hit"), lit(false)).as("bloom_hit"),
        coalesce(col("winnow_hit"), lit(false)).as("winnow_hit"))
      .groupBy("ngram_hit", "bloom_hit", "winnow_hit")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("ngram_hit", "bloom_hit", "winnow_hit")
  }

  /** DuckDB oracle for [[decontamScreenAgreement]] — each screen's
    * full oracle nested as one CTE (their internal CTE names collide,
    * so each keeps its own WITH scope), the same exact-column read,
    * doc-grain full outer join, and flag census. */
  private[graft] def decontamScreenAgreementOracleSql: String =
    s"""WITH bl AS (
       |${bloomDecontamOracleSql}),
       |wn AS (
       |${winnowDecontamOracleSql})
       |SELECT
       |  coalesce(bl.exact_hits > 0, false) AS ngram_hit,
       |  coalesce(bl.contaminated, false) AS bloom_hit,
       |  coalesce(wn.contaminated, false) AS winnow_hit,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM bl
       |FULL JOIN wn ON bl.doc_id = wn.doc_id
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  /** WINNOW MATCH SPANS — the part of the MOSS report [[winnowPairs]]
    * doesn't give: WHERE the shared material sits. Fingerprints keep
    * their window position (1-based k-gram index = 1-based token
    * index of the window's first k-gram), the df cut counts DISTINCT
    * docs per fingerprint (a doc repeating its own fingerprint is not
    * corpus spread), and matched anchors aggregate per pair into
    * token-unit span extents per side — `a_from_tok` is the first
    * anchored window's start token, `a_to_tok` the last anchor's end
    * (+ w + k − 2 tokens). A reviewer opens the pair AT the span
    * instead of diffing whole documents; a span much shorter than the
    * doc flags passage-level copying where doc-level jaccard is
    * blind.
    *
    * Scale shape: [[winnowPairs]]' posting join with a position
    * column — compact per-doc (fp, pos) arrays checkpointed before
    * the explode (the standing Generate barrier), df cut BEFORE pair
    * explosion (distinct-doc grain, so a self-repeating doc can't
    * dodge it), pair-grain aggregate fused in codegen. Anchor
    * cross-products within one (pair, fp) are bounded by doc length ×
    * cap. */
  def winnowMatchSpans(spark: SparkSession, dir: String): DataFrame = {
    val w = WinnowWindow
    val compact = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("h", expr(winnowKgramHashSqlExpr))
      .filter(size(col("h")) >= 1)
      .withColumn("fppos", expr(
        s"transform(sequence(1L, " +
          s"greatest(1L, cast(size(h) as bigint) - ${w - 1})), " +
          s"i -> struct(array_min(slice(h, cast(i as int), $w)) AS fp, " +
          "i AS pos))"))
      .select(col("doc_id"), col("fppos"))
      .localCheckpoint()
    val post = compact
      .select(col("doc_id"), explode(col("fppos")).as("a"))
      .select(col("doc_id"), col("a.fp").as("fp"), col("a.pos").as("pos"))
    val fpDocs = post.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df").between(2, NearDupDocFreqCap))
      .select("fp")
    val kept = post.join(fpDocs, Seq("fp")).localCheckpoint()
    val spanEnd = w + WinnowPairK - 2
    Candidates.pairs(kept.select(col("fp"), col("doc_id").as("doc"),
        col("pos")), Seq("fp"), "doc")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        countDistinct(col("fp")).as("n_shared_fp"),
        count(lit(1)).as("n_anchor_matches"),
        min(col("pos_a")).as("a_from_tok"),
        (max(col("pos_a")) + spanEnd).as("a_to_tok"),
        min(col("pos_b")).as("b_from_tok"),
        (max(col("pos_b")) + spanEnd).as("b_to_tok"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle for [[winnowMatchSpans]] — same positional
    * fingerprints (lateral unnest over the window range), same
    * distinct-doc df cut, same span arithmetic. */
  private[graft] def winnowMatchSpansOracleSql: String = {
    val w = WinnowWindow
    val t = "string_split(text, ' ')"
    val kgrams = {
      val parts = (0 until WinnowPairK)
        .map(o => s"$t[i + $o]").mkString(" || ' ' || ")
      s"list_transform(range(1, len($t) - ${WinnowPairK - 2}), " +
        s"i -> $parts)"
    }
    val spanEnd = w + WinnowPairK - 2
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_transform($kgrams,
       |      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
       |  FROM documents
       |  WHERE text IS NOT NULL
       |    AND len($t) >= $WinnowPairK),
       |ww AS (
       |  SELECT doc_id, h,
       |    CAST(greatest(1, len(h) - ${w - 1}) AS BIGINT) AS n_windows
       |  FROM d),
       |pe AS (
       |  SELECT doc_id, h, unnest(range(1, n_windows + 1)) AS pos
       |  FROM ww),
       |pp AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    list_min(h[pos:pos + ${w - 1}]) AS fp
       |  FROM pe),
       |fd AS (
       |  SELECT fp FROM (
       |    SELECT fp, count(DISTINCT doc_id) AS df FROM pp GROUP BY 1)
       |  WHERE df BETWEEN 2 AND $NearDupDocFreqCap),
       |pk AS (
       |  SELECT pp.doc_id, pp.pos, pp.fp
       |  FROM pp JOIN fd ON pp.fp = fd.fp)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared_fp,
       |  CAST(count(*) AS BIGINT) AS n_anchor_matches,
       |  min(a.pos) AS a_from_tok,
       |  max(a.pos) + $spanEnd AS a_to_tok,
       |  min(b.pos) AS b_from_tok,
       |  max(b.pos) + $spanEnd AS b_to_tok
       |FROM pk a JOIN pk b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** Power-iteration count for [[dupGraphPagerank]] (shared with the
    * oracle's unrolled CTE chain). */
  val PagerankIters = 5

  /** DUP-GRAPH PAGERANK — centrality over the verified near-dup graph,
    * the canonical-representative signal a dedup pipeline reads when a
    * connected component is too big to keep "the lowest doc_id": the
    * highest-centrality member is the template the others orbit (and
    * a high-pagerank hub OUTSIDE a dense component is a boilerplate
    * carrier worth a curation look). Five damped power iterations
    * (d = 0.85) in EXACT integer micro — each contribution is one
    * floor division (85·r) div (100·deg), so the fixpoint trajectory
    * is engine-exact and hash-matches the oracle's unrolled five-CTE
    * chain (a float pagerank could never be gate-checked; the ~1e-6
    * floor loss per hop is priced, deterministic, and identical on
    * both engines).
    *
    * Scale shape: the graph is the KB-sized verified-pair memo (the
    * candidate screen already owns the quadratic risk), so every
    * iteration is a hash join + (node) aggregate over pair-count-sized
    * frames; the node count rides a 1-row broadcast. Five iterations
    * = ten tiny shuffles, independent of corpus size. */
  def dupGraphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairsCore(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
      .localCheckpoint()
    // The static (node, deg, n_nodes) frame is checkpointed once and
    // every iteration REBASES on it; a first cut threaded those
    // columns through the evolving r frame instead, which referenced
    // r_{t-1} twice per round (carry-through + contribution) and
    // doubled the plan per iteration — 2^5 copies of the base scan,
    // 4.15 s/run for a KB-sized graph. Each round's result is itself
    // checkpointed (the lpaStep convention) so plans stay flat.
    val degN = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
      .crossJoin(broadcast(
        edges.select(col("src")).distinct().agg(count(lit(1))
          .as("n_nodes"))))
      .localCheckpoint()
    var r = degN.select(col("node"), col("deg"), col("n_nodes"),
      expr("1000000L div n_nodes").as("r_micro"))
    for (_ <- 1 to PagerankIters) {
      val contrib = edges
        .join(r.select(col("node").as("src"), col("deg"), col("r_micro")),
          Seq("src"))
        .select(col("dst"),
          expr("(85L * r_micro) div (100L * deg)").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
      // every node of an undirected pair graph has >= 1 in-edge, so
      // the inner join is total
      r = degN
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"))
        .select(col("node"), col("deg"), col("n_nodes"),
          (expr("150000L div n_nodes") + col("s")).as("r_micro"))
        .localCheckpoint()
    }
    r.select(col("node").as("doc_id"), col("deg").as("degree"),
        col("r_micro").as("pagerank_micro"))
      .orderBy(col("pagerank_micro").desc, col("doc_id"))
  }

  /** DuckDB oracle for [[dupGraphPagerank]] — the capped-Jaccard pair
    * CTEs, the same undirected edge expansion, and the five power
    * iterations UNROLLED as CTEs r1..r5 (a recursive CTE cannot carry
    * the per-iteration aggregate; unrolling is exact and keeps the
    * integer-micro trajectory identical). */
  private[graft] def dupGraphPagerankOracleSql(
      shinglesSql: String): String = {
    val iters = (1 to PagerankIters).map { t =>
      s"""c$t AS (
         |  SELECT e.dst AS node,
         |    CAST(sum((85 * r${t - 1}.r) // (100 * r${t - 1}.deg))
         |      AS BIGINT) AS s
         |  FROM e JOIN r${t - 1} ON e.src = r${t - 1}.node
         |  GROUP BY 1),
         |r$t AS (
         |  SELECT d.node, d.deg, nn.n,
         |    CAST((150000 // nn.n) + c$t.s AS BIGINT) AS r
         |  FROM deg d JOIN c$t ON d.node = c$t.node
         |  CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(floor(n_chars / 100) AS INT) AS len_bucket,
       |    list_distinct($shinglesSql) AS sh
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, lang, len_bucket,
       |    CAST(len(sh) AS INT) AS n_sh, sh
       |  FROM d),
       |p AS (
       |  SELECT lang, len_bucket, unnest(sh) AS shingle, doc_id
       |  FROM n),
       |c AS (
       |  SELECT lang, len_bucket, shingle, count(*) AS df
       |  FROM p GROUP BY 1, 2, 3),
       |pf AS (
       |  SELECT p.lang, p.len_bucket, p.shingle, p.doc_id
       |  FROM p JOIN c ON p.lang = c.lang AND p.len_bucket = c.len_bucket
       |    AND p.shingle = c.shingle
       |  WHERE c.df BETWEEN 2 AND $NearDupDocFreqCap),
       |prs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM pf a JOIN pf b ON a.lang = b.lang
       |    AND a.len_bucket = b.len_bucket AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT prs.doc_a, prs.doc_b
       |  FROM prs
       |  JOIN n na ON prs.doc_a = na.doc_id
       |  JOIN n nb ON prs.doc_b = nb.doc_id
       |  WHERE CAST(prs.n_inter AS DOUBLE)
       |      / CAST(na.n_sh + nb.n_sh - prs.n_inter AS DOUBLE) >= 0.1),
       |e AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM jp
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM jp),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS (
       |  SELECT d.node, d.deg, nn.n,
       |    CAST(1000000 // nn.n AS BIGINT) AS r
       |  FROM deg d CROSS JOIN nn),
       |$iters
       |SELECT node AS doc_id, CAST(deg AS BIGINT) AS degree,
       |  r AS pagerank_micro
       |FROM r$PagerankIters
       |ORDER BY pagerank_micro DESC, doc_id""".stripMargin
  }

  /** k-gram widths swept by [[winnowKPlanner]] (shared with the
    * oracle). */
  val WinnowPlannerKs = Seq(2, 3, 4, 5)

  /** WINNOW k PLANNER — the advisor that prices the [[WinnowPairK]]
    * choice instead of asserting it in a comment (the
    * shingle_df_profile / lsh_band_planner convention): per k-gram
    * width, the posting-index mass and — the number that decides — the
    * PAIR mass Σ df·(df−1)/2 the posting self-join would emit, split
    * into the df∈[2,cap] share the join actually pays and the df>cap
    * share the stop-fingerprint cut discards, next to the guarantee
    * threshold w+k−1 the width buys. Reading the sf0.01 table is
    * reading the r17 incident: k=2 fingerprints are stop-phrases whose
    * kept pair mass alone is ~half of all possible pairs, while k=4
    * collapses the bill to the genuinely-shared-passage mass.
    *
    * Scale shape: ONE corpus scan computes all |Ks| fingerprint
    * streams in one projection (the layout_pruning_sim fold lesson —
    * a planner must not pay one fact pass per candidate config); the
    * compact (doc_id, k, fps) frame is localCheckpointed (the standing
    * Generate-inlining barrier), and everything after is a (k, fp)
    * partial+final count into a |Ks|-row aggregate. No pair is ever
    * materialized — the quadratic bill is priced as Σ df·(df−1)/2 at
    * posting grain. */
  def winnowKPlanner(spark: SparkSession, dir: String): DataFrame = {
    val w = WinnowWindow
    val hCols = WinnowPlannerKs.map(k =>
      expr(kgramHashSql(k)).as(s"h_$k"))
    // Per-k empty guard: a doc can clear one k's token floor and miss
    // a larger k's (h_5 empty while h_2 is not) — without it the
    // degenerate whole-array window takes array_min of an EMPTY slice
    // and emits a [NULL] fingerprint set that the size >= 1 filter
    // would keep.
    val fpsCols = WinnowPlannerKs.map(k =>
      expr(s"case when size(h_$k) < 1 " +
        s"then cast(array() as array<bigint>) " +
        s"else array_distinct(transform(sequence(1L, " +
        s"greatest(1L, cast(size(h_$k) as bigint) - ${w - 1})), " +
        s"i -> array_min(slice(h_$k, cast(i as int), $w)))) end")
        .as(s"fps_$k"))
    val stackSql = WinnowPlannerKs.map(k => s"$k, fps_$k").mkString(", ")
    val compact = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id") +: hCols: _*)
      .select(col("doc_id") +: fpsCols: _*)
      .select(col("doc_id"), expr(
        s"stack(${WinnowPlannerKs.size}, $stackSql) AS (k, fps)"))
      .filter(size(col("fps")) >= 1)
      .localCheckpoint()
    val pairMass = "df * (df - 1) div 2"
    compact
      .select(col("k"), explode(col("fps")).as("fp"))
      .groupBy("k", "fp")
      .agg(count(lit(1)).as("df"))
      .groupBy("k")
      .agg(
        sum(col("df")).as("n_postings"),
        count(lit(1)).as("n_distinct_fp"),
        sum(when(col("df").between(2, NearDupDocFreqCap),
          expr(pairMass)).otherwise(0L)).as("kept_pair_mass"),
        sum(when(col("df") > NearDupDocFreqCap,
          expr(pairMass)).otherwise(0L)).as("dropped_pair_mass"),
        sum(expr(pairMass)).as("uncapped_pair_mass"))
      .withColumn("guarantee_tokens", expr(s"k + ${w - 1}"))
      .select(col("k"), col("guarantee_tokens"), col("n_postings"),
        col("n_distinct_fp"), col("kept_pair_mass"),
        col("dropped_pair_mass"), col("uncapped_pair_mass"))
      .orderBy("k")
  }

  /** DuckDB oracle for [[winnowKPlanner]] — the per-k fingerprint
    * CTEs union'd, same df grain, same pair-mass arithmetic. */
  private[graft] def winnowKPlannerOracleSql: String = {
    val w = WinnowWindow
    val t = "string_split(text, ' ')"
    val perK = WinnowPlannerKs.map { k =>
      val parts = (0 until k).map(o => s"$t[i + $o]")
        .mkString(" || ' ' || ")
      s"""d_$k AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_transform(range(1, len($t) - ${k - 2}),
         |        i -> $parts),
         |      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
         |  FROM documents
         |  WHERE text IS NOT NULL AND len($t) >= $k),
         |fp_$k AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(1, CAST(greatest(1, len(h) - ${w - 1}) AS BIGINT)
         |        + 1),
         |      i -> list_min(h[i:i + ${w - 1}]))) AS fps
         |  FROM d_$k),
         |c_$k AS (
         |  SELECT fp, count(*) AS df
         |  FROM (SELECT unnest(fps) AS fp FROM fp_$k)
         |  GROUP BY 1),
         |s_$k AS (
         |  SELECT $k AS k, ${k + w - 1} AS guarantee_tokens,
         |    CAST(sum(df) AS BIGINT) AS n_postings,
         |    CAST(count(*) AS BIGINT) AS n_distinct_fp,
         |    CAST(sum(CASE WHEN df BETWEEN 2 AND $NearDupDocFreqCap
         |      THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT)
         |      AS kept_pair_mass,
         |    CAST(sum(CASE WHEN df > $NearDupDocFreqCap
         |      THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT)
         |      AS dropped_pair_mass,
         |    CAST(sum(df * (df - 1) // 2) AS BIGINT)
         |      AS uncapped_pair_mass
         |  FROM c_$k)""".stripMargin
    }.mkString(",\n")
    val unions = WinnowPlannerKs.map(k => s"SELECT * FROM s_$k")
      .mkString("\n  UNION ALL ")
    s"""WITH $perK
       |$unions
       |ORDER BY k""".stripMargin
  }

  // ===========================================================================
  // BPE first-merge census
  // ===========================================================================

  /** Top-K merges reported by [[bpeMergeCensus]] (shared with the
    * oracle). */
  val BpeTopK = 50

  /** BPE FIRST-MERGE CENSUS — the first step of byte-pair-encoding
    * tokenizer training: count every ADJACENT CHARACTER PAIR inside
    * every word of the corpus and rank the merge candidates (the pair
    * a BPE trainer would fuse first is rank 1). A full trainer
    * iterates this census after each merge; the census itself — the
    * distributed, expensive part — is one explode + one count, which
    * is exactly what this op pins. Pairs are counted with multiplicity
    * (every occurrence is a vote, the BPE rule).
    *
    * Scale: the explode is the corpus's character mass riding a
    * (pair)-grain partial+final count; the ranked read-out is top-K
    * over ≤ |alphabet|² distinct pairs — a TakeOrderedAndProject,
    * never a global sort of the corpus. */
  def bpeMergeCensus(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(tokens).as("word"))
      .filter(length(col("word")) >= 2)
    val pairs = words
      .select(explode(expr(
        """transform(sequence(1, length(word) - 1),
             j -> substring(word, j, 2))""")).as("pair"))
    pairs
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(BpeTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("pair"))))
      .select(col("rank"), col("pair"), col("n_occurrences"))
  }

  /** Merge rounds trained by [[bpeMergeRounds]] (shared with the
    * oracle's unrolled CTE chain — the pagerank/k-core precedent). */
  val BpeMergeRounds = 6

  /** ITERATED BPE MERGE ROUNDS — the actual byte-pair-encoding trainer
    * loop [[bpeMergeCensus]] computes round 1 of: count adjacent
    * symbol pairs, fuse the argmax pair (count desc, then (lhs, rhs)
    * asc — a total order, so both engines pick the same winner), apply
    * the merge greedily left-to-right inside every word, re-count,
    * repeat [[BpeMergeRounds]] times. Emits the merge TABLE — the
    * artifact a BPE tokenizer ships.
    *
    * The scale decision is the vocabulary grain: the trainer iterates
    * over DISTINCT words with corpus frequencies (the classic BPE
    * formulation), so each round's frames are Heaps-law-bounded
    * (vocab-sized, ≪ corpus mass) — the corpus is scanned exactly once
    * to build word counts. Each round = one (pair)-grain partial+final
    * weighted count, one 1-row TakeOrderedAndProject anchor (the
    * adjudicated bounded-collect class), and one per-word fold
    * (`aggregate` HOF: merge when the accumulator's last symbol + the
    * current symbol equal the winner — exactly greedy non-overlapping
    * LTR, since a fused symbol can never re-match its own left half).
    * The vocab frame is localCheckpointed per round — the standing
    * iterative-join barrier: without it round r's plan embeds all
    * r−1 predecessors (the measured 2^r plan-doubling class). */
  def bpeMergeRounds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir)._1
      .toDF("round", "lhs", "rhs", "merged", "n_occurrences")
      .orderBy("round")
  }

  /** Session-scoped memo of the BPE trainer's artifacts — ONE training
    * run per (session, dir) feeds both the merge table
    * ([[bpeMergeRounds]]) and the per-round tokenize census
    * ([[bpeTokenizeCensus]]). The memoized value is driver-side
    * KB-scale Scala data (6 merge rows + 7 stat rows), not frames: the
    * per-round numbers are two aggregates over the Heaps-bounded vocab
    * checkpoint, collected while the trainer already holds it. */
  private def bpeTrain(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)],
          Seq[(Int, Long, Long)]) =
    graft.Memos.memo("bpe_rounds", spark, Seq(dir)) {
      // (round, Σ freq·|syms| symbol mass, distinct symbol types) —
      // both vocab-grain aggregates on the standing checkpoint.
      def stats(v: DataFrame, r: Int): (Int, Long, Long) = {
        val mass = v.agg(sum(col("freq") * size(col("syms")))
          .cast("long")).collect()(0).getLong(0)
        val types = v.select(explode(col("syms")).as("s"))
          .agg(countDistinct(col("s"))).collect()(0).getLong(0)
        (r, mass, types)
      }
      var vocab = Tables.documents(spark, dir)
        .filter(col("text").isNotNull)
        .select(explode(tokens).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("freq"), expr(
          "transform(sequence(1, length(word)), " +
            "i -> substring(word, i, 1))").as("syms"))
        .localCheckpoint()
      val merges = scala.collection.mutable
        .ArrayBuffer[(Int, String, String, String, Long)]()
      val roundStats = scala.collection.mutable
        .ArrayBuffer[(Int, Long, Long)](stats(vocab, 0))
      val superseded = scala.collection.mutable.ArrayBuffer[DataFrame]()
      try {
        (1 to BpeMergeRounds).foreach { r =>
          val win = vocab
            .filter(size(col("syms")) >= 2)
            .select(col("freq"), explode(expr(
              "transform(sequence(1, size(syms) - 1), " +
                "j -> struct(element_at(syms, j) AS a, " +
                "element_at(syms, j + 1) AS b))")).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum(col("freq")).as("n"))
            .orderBy(col("n").desc, col("a"), col("b"))
            .limit(1).collect()
          require(win.nonEmpty, s"BPE round $r: no adjacent pairs left")
          val (a, b, n) =
            (win(0).getString(0), win(0).getString(1),
              win(0).getLong(2))
          merges += ((r, a, b, a + b, n))
          // Greedy LTR merge as a fold — literals ride lit() columns
          // (no SQL-string interpolation, no escaping surface). `get`
          // (0-based) is the ANSI-safe last-element read: on an empty
          // accumulator it returns NULL and the guard short-falls.
          val next = vocab.select(col("freq"),
            aggregate(col("syms"), array().cast("array<string>"),
              (acc, s) => when(
                get(acc, size(acc) - 1) === lit(a) && s === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1),
                  array(lit(a + b))))
                .otherwise(concat(acc, array(s))))
              .as("syms"))
            .localCheckpoint()
          roundStats += stats(next, r)
          superseded += vocab
          vocab = next
        }
      } finally superseded.foreach(_.unpersist())
      vocab.unpersist()
      (merges.toSeq, roundStats.toSeq)
    }

  /** BPE TOKENIZE CENSUS — the merge table's CONSUMER side: what each
    * trained merge buys when the tokenizer runs. Per round 0..6
    * (0 = character baseline), the corpus-weighted symbol mass
    * Σ freq·|syms| over the trainer's vocabulary, the distinct symbol
    * inventory, and the integer compression per-mille vs round 0.
    * Each greedy-kept fusion removes exactly one symbol, so a round
    * with lhs ≠ rhs drops mass by EXACTLY its pair count (matches
    * can't be adjacent), while lhs = rhs drops by the greedy-kept
    * share — ceil(k/2) per k-run, i.e. between half the count and all
    * of it — the mass law the spec pins against [[bpeMergeRounds]],
    * and the reason the census is the trainer's stopping-rule
    * dashboard (diminishing Δmass per round is the classic vocab-size
    * criterion). One training run feeds both
    * queries through [[bpeTrain]]'s session memo; the census itself is
    * two Heaps-bounded vocab aggregates per round. */
  def bpeTokenizeCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sts = bpeTrain(spark, dir)._2
    val total0 = sts.head._2
    sts.map { case (r, mass, types) =>
      (r, mass, types, mass * 1000L / total0) }
      .toDF("round", "total_tokens", "n_types", "compression_mille")
      .orderBy("round")
  }

  /** DuckDB oracle for [[bpeMergeRounds]] — one unrolled CTE group per
    * round: weighted pair count, 1-row argmax, matched positions, the
    * greedy-LTR keep rule in relational form (positions grouped into
    * consecutive RUNS, odd ranks kept — for lhs ≠ rhs matches can
    * never be adjacent so every match keeps; for lhs = rhs the odd
    * ranks are exactly the leftmost-greedy picks), and the per-word
    * rebuild. */
  /** The unrolled trainer CTE chain (wd, v_0, and one
    * p/c/w/mm/mk/v group per round) shared by
    * [[bpeMergeRoundsOracleSql]] and [[bpeTokenizeCensusOracleSql]] —
    * the two finals read different projections of the same rounds.
    * p_r/v_r are AS MATERIALIZED: DuckDB inlines CTEs per reference,
    * and with each v_r referenced 2-4× (next round's pair scan +
    * rebuild + the census's scalar subqueries) the inline expansion is
    * EXPONENTIAL in rounds — the unmaterialized census planned
    * thousands of parquet re-opens of the documents table and died on
    * the fd limit; materialized it is one evaluation per CTE
    * (0.2 s at sf0.01). */
  private def bpeRoundsCtesOracleSql: String = {
    val rounds = (1 to BpeMergeRounds).map { r =>
      val prev = s"v_${r - 1}"
      s"""p_$r AS MATERIALIZED (
         |  SELECT v.word, v.freq, CAST(g.i AS BIGINT) AS i,
         |    v.syms[g.i] AS a, v.syms[g.i + 1] AS b
         |  FROM $prev v, unnest(generate_series(1, len(v.syms) - 1))
         |    AS g(i)
         |  WHERE len(v.syms) >= 2),
         |c_$r AS (
         |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS n
         |  FROM p_$r GROUP BY 1, 2),
         |w_$r AS (SELECT a, b, n FROM c_$r ORDER BY n DESC, a, b
         |  LIMIT 1),
         |mm_$r AS (
         |  SELECT p.word, p.i,
         |    p.i - row_number() OVER (PARTITION BY p.word ORDER BY p.i)
         |      AS grp
         |  FROM p_$r p JOIN w_$r w ON p.a = w.a AND p.b = w.b),
         |mk_$r AS (
         |  SELECT word, i FROM (
         |    SELECT word, i, row_number() OVER (PARTITION BY word, grp
         |      ORDER BY i) AS rn
         |    FROM mm_$r)
         |  WHERE rn % 2 = 1),
         |v_$r AS MATERIALIZED (
         |  SELECT t.word, t.freq, list(t.sym ORDER BY t.j) AS syms
         |  FROM (
         |    SELECT v.word, v.freq, CAST(g.j AS BIGINT) AS j,
         |      CASE WHEN mk1.i IS NOT NULL
         |        THEN v.syms[g.j] || v.syms[g.j + 1]
         |        ELSE v.syms[g.j] END AS sym
         |    FROM $prev v
         |    CROSS JOIN unnest(generate_series(1, len(v.syms)))
         |      AS g(j)
         |    LEFT JOIN mk_$r mk1
         |      ON mk1.word = v.word AND mk1.i = g.j
         |    LEFT JOIN mk_$r mk2
         |      ON mk2.word = v.word AND mk2.i = g.j - 1
         |    WHERE mk2.i IS NULL) t
         |  GROUP BY t.word, t.freq)""".stripMargin
    }.mkString(",\n")
    s"""wd AS (
       |  SELECT unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |v_0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |    list_transform(range(1, length(word) + 1),
       |      i -> substr(word, i, 1)) AS syms
       |  FROM wd WHERE length(word) >= 2 GROUP BY word),
       |$rounds""".stripMargin
  }

  private[graft] def bpeMergeRoundsOracleSql: String = {
    val out = (1 to BpeMergeRounds).map { r =>
      s"""SELECT CAST($r AS INT) AS "round", a AS lhs, b AS rhs,
         |  a || b AS merged, n AS n_occurrences FROM w_$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeRoundsCtesOracleSql
       |$out
       |ORDER BY "round"""".stripMargin
  }

  /** DuckDB oracle for [[bpeTokenizeCensus]] — per round, scalar
    * subqueries over the shared v_r vocab CTEs: weighted symbol mass,
    * distinct symbol inventory, integer per-mille vs v_0. */
  private[graft] def bpeTokenizeCensusOracleSql: String = {
    val arms = (0 to BpeMergeRounds).map { r =>
      s"""SELECT CAST($r AS INT) AS "round",
         |  (SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM v_$r)
         |    AS total_tokens,
         |  (SELECT CAST(count(DISTINCT sym) AS BIGINT)
         |   FROM (SELECT unnest(syms) AS sym FROM v_$r)) AS n_types,
         |  ((SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM v_$r)
         |    * 1000)
         |    // (SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM v_0)
         |    AS compression_mille""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeRoundsCtesOracleSql
       |$arms
       |ORDER BY "round"""".stripMargin
  }

  /** Corpus-prefix checkpoints for [[vocabGrowthHeaps]] (shared with
    * the oracle). */
  val HeapsDeciles = 10

  /** VOCABULARY GROWTH (Heaps'-law) curve — how fast the corpus keeps
    * yielding NEW word types as it grows: the scaling-law measurement
    * (V ≈ K·nᵝ) a tokenizer-vocabulary sizing or dedup-saturation
    * analysis reads. The naive form (distinct-count each prefix) scans
    * the corpus once PER checkpoint; this one is ONE pass: a type is
    * new exactly at its FIRST document (min doc_id per type), so the
    * curve is the histogram of first-occurrence deciles, cumulated
    * over [[HeapsDeciles]] rows. All integers; the decile cut is a
    * floor-div of doc_id against the corpus max (broadcast 1-row
    * anchor).
    *
    * Scale: one token explode into a type-grain min() partial+final
    * aggregate (the same shuffle vocabulary building pays anyway) +
    * a doc-grain token count; the cumulation is a window over 10
    * rows. */
  def vocabGrowthHeaps(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val anchor = docs.agg(max(col("doc_id")).as("max_id"))
    val toks = docs
      .select(col("doc_id"), explode(tokens).as("token"))
      .crossJoin(broadcast(anchor))
      .withColumn("decile", least(lit(HeapsDeciles - 1),
        expr(s"doc_id * $HeapsDeciles div (max_id + 1)")).cast("int"))
    val occ = toks.groupBy("decile").agg(count(lit(1)).as("n_tokens"))
    val news = toks.groupBy("token")
      .agg(min(col("decile")).as("first_decile"))
      .groupBy(col("first_decile").as("decile"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    occ.join(news, Seq("decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .orderBy("decile")
  }

  /** DuckDB oracle for [[vocabGrowthHeaps]] — same decile cut, same
    * first-occurrence histogram and running sums. */
  private[graft] def vocabGrowthHeapsOracleSql: String =
    s"""WITH a AS (
       |  SELECT max(doc_id) AS max_id FROM documents
       |  WHERE text IS NOT NULL),
       |t AS (
       |  SELECT CAST(least(${HeapsDeciles - 1},
       |      doc_id * $HeapsDeciles // (a.max_id + 1)) AS INT)
       |      AS decile,
       |    unnest(string_split(text, ' ')) AS token
       |  FROM documents CROSS JOIN a
       |  WHERE text IS NOT NULL),
       |occ AS (SELECT decile, count(*) AS n_tokens FROM t GROUP BY 1),
       |fo AS (SELECT token, min(decile) AS decile FROM t GROUP BY 1),
       |news AS (SELECT decile, count(*) AS new_types FROM fo GROUP BY 1)
       |SELECT occ.decile, occ.n_tokens,
       |  CAST(coalesce(news.new_types, 0) AS BIGINT) AS new_types,
       |  CAST(sum(occ.n_tokens) OVER (ORDER BY occ.decile
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  CAST(sum(coalesce(news.new_types, 0)) OVER (ORDER BY occ.decile
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
       |FROM occ LEFT JOIN news ON occ.decile = news.decile
       |ORDER BY occ.decile""".stripMargin

  /** Epochs audited by [[epochShuffleAudit]] (shared with the
    * oracle). */
  val EpochCount = 3

  /** EPOCH-SHUFFLE AUDIT — multi-epoch training needs a DIFFERENT
    * data order each epoch that is nonetheless REPRODUCIBLE on any
    * cluster (resume mid-epoch, re-run a failed shard): order epoch e
    * by the salted hash md5("ep<e>:" || doc_id) — a fixed pseudo-random
    * permutation per epoch, no stored shuffle table, no RNG state. The
    * audit pins three properties per epoch: it is a PERMUTATION
    * (n_docs, min/max rank), WHICH permutation (an order-sensitive
    * integer checksum Σ rank·doc_id — any swap changes it), and that
    * epochs are DECORRELATED from epoch 0 (Σ|rank_e − rank_0|, ≈ n²/3
    * for independent permutations, 0 for an accidentally-reused
    * order).
    *
    * Scale: a `PARTITION BY epoch` rank window would push the whole
    * corpus through [[EpochCount]] (= 3) tasks — partition cardinality
    * is the EPOCH count, not the cluster. Instead ranks ride ONE
    * [[GlobalRank.withRowNumber]] two-phase pass over the compound
    * total order (epoch, h, doc_id) — a single range exchange over the
    * id+hash-only frame (the ×[[EpochCount]] explode carries no text)
    * at full parallelism — and the per-epoch rank is the global rank
    * minus the epoch's first rank (an [[EpochCount]]-row broadcast
    * join), which is exact because epochs are contiguous in the
    * compound order. The epoch-0 join is id-keyed. A real trainer
    * materializes the rank as the shard sort key; the audit is the
    * cheap invariant check on top. */
  def epochShuffleAudit(spark: SparkSession, dir: String): DataFrame = {
    val ranks = GlobalRank.withGroupedRowNumber(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(EpochCount - 1))).as("epoch"))
        .withColumn("h",
          h60("concat('ep', cast(epoch as string), ':', " +
            "cast(doc_id as string))")),
      "rk", Seq(col("epoch")), Seq(col("h"), col("doc_id")))
      .select(col("doc_id"), col("epoch"), col("rk"))
      // Two consumers (the per-epoch aggregate + the epoch-0 baseline
      // join) — checkpoint the ids-only rank frame so the rank pass
      // runs once.
      .localCheckpoint()
    val base = ranks.filter(col("epoch") === 0)
      .select(col("doc_id"), col("rk").as("rk0"))
    ranks
      .join(base, "doc_id")
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_docs"),
        min(col("rk")).as("rk_min"), max(col("rk")).as("rk_max"),
        sum(col("rk") * col("doc_id")).as("order_checksum"),
        sum(abs(col("rk") - col("rk0"))).as("displacement_vs_e0"))
      .orderBy("epoch")
  }

  /** DuckDB oracle for [[epochShuffleAudit]] — same salted-md5 ranks,
    * same integer checksums. */
  private[graft] def epochShuffleAuditOracleSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, epoch,
       |    CAST(row_number() OVER (PARTITION BY epoch ORDER BY
       |      CAST('0x' || substr(md5('ep' || CAST(epoch AS VARCHAR) ||
       |        ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
       |      doc_id) AS BIGINT) AS rk
       |  FROM documents, unnest(generate_series(0, ${EpochCount - 1}))
       |    AS g(epoch)),
       |b AS (SELECT doc_id, rk AS rk0 FROM r WHERE epoch = 0)
       |SELECT CAST(r.epoch AS INT) AS epoch,
       |  count(*) AS n_docs,
       |  min(r.rk) AS rk_min, max(r.rk) AS rk_max,
       |  CAST(sum(r.rk * r.doc_id) AS BIGINT) AS order_checksum,
       |  CAST(sum(abs(r.rk - b.rk0)) AS BIGINT) AS displacement_vs_e0
       |FROM r JOIN b ON r.doc_id = b.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB oracle for [[bpeMergeCensus]] — same in-word adjacent pair
    * explode, same (count desc, pair asc) rank. */
  private[graft] def bpeMergeCensusOracleSql: String =
    s"""WITH w AS (
       |  SELECT unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |p AS (
       |  SELECT substring(word, s, 2) AS pair
       |  FROM (SELECT word, length(word) AS n FROM w WHERE length(word) >= 2)
       |    , unnest(generate_series(1, n - 1)) AS g(s)),
       |c AS (SELECT pair, count(*) AS n_occurrences FROM p GROUP BY 1),
       |r AS (
       |  SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair)
       |    AS INT) AS rank, pair, n_occurrences
       |  FROM c)
       |SELECT rank, pair, n_occurrences
       |FROM r WHERE rank <= $BpeTopK
       |ORDER BY rank""".stripMargin
}
