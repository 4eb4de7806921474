package graft

import graft.operators.TextOps

/** Edge cases of the text/dedup operators: degenerate documents (one
  * token), duplicate-text groups, and blocking behavior of the near-dup
  * pipelines. The 1-token case is a regression test — `sequence(1, 0)` is
  * descending in Spark, so a naive shingle guard crashes on it. */
class TextOpsSpec extends GraftSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    writeTable("documents", Seq(
      // near-identical pair, same lang + length bucket
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web", 44L),
      (2L, "the quick brown fox jumps over the lazy cat", "en", "web", 44L),
      // exact duplicate of doc 1 (dedup group)
      (3L, "the quick brown fox jumps over the lazy dog", "en", "web", 44L),
      // degenerate: single token (no bigram shingles possible)
      (4L, "solitary", "en", "web", 8L),
      // different language, similar text — must not pair with en docs
      (5L, "der schnelle braune fuchs springt", "de", "web", 33L),
      // token-permutation pair: same multiset, different order (own
      // lang so the near-dup block tests above stay unaffected)
      (6L, "alpha beta alpha beta", "zz", "web", 21L),
      (7L, "beta alpha beta alpha", "zz", "web", 21L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
  }

  test("exact dedup keeps the smallest doc_id per text group") {
    val groups = TextOps.exactDedupGroups(spark, scratch).collect()
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2L)
    assert(dupGroup.isDefined)
    assert(dupGroup.get.getAs[Long]("keep_id") == 1L)
    val kept = TextOps.dedupedDocs(spark, scratch)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L, 4L, 5L, 6L, 7L)) // doc 3 dropped
  }

  test("1-token document does not crash the shingle pipelines") {
    // Regression: element_at(arr, 0) throws; the pipelines must treat a
    // <2-token doc as having zero shingles, not error out.
    val jac = TextOps.nearDupJaccard(spark, scratch).collect()
    assert(!jac.exists(r =>
      r.getAs[Long]("doc_a") == 4L || r.getAs[Long]("doc_b") == 4L))
    val mh = TextOps.minhashCandidates(spark, scratch).collect()
    assert(!mh.exists(r =>
      r.getAs[Long]("doc_a") == 4L || r.getAs[Long]("doc_b") == 4L))
  }

  test("near-dup pairs form only inside (lang, bucket) blocks") {
    val jac = TextOps.nearDupJaccard(spark, scratch).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // 1-2, 1-3, 2-3 share the en/bucket-0 block and overlap heavily;
    // doc 5 (de) must never pair despite bucket 0.
    assert(jac.contains((1L, 2L)))
    assert(jac.contains((1L, 3L)))
    assert(!jac.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("exact duplicates have jaccard 1.0 and full band agreement") {
    val jac = TextOps.nearDupJaccard(spark, scratch).collect()
      .find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 3L)
    assert(jac.isDefined)
    assert(jac.get.getAs[Double]("jaccard") == 1.0)
    val mh = TextOps.minhashCandidates(spark, scratch).collect()
      .find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 3L)
    assert(mh.isDefined)
    assert(mh.get.getAs[Long]("n_bands") == 8L) // all 8 bands collide
  }

  test("document-frequency cap drops stop-shingle-only pairs") {
    // Every shared shingle of the en docs 1/2 is also in 3 (1's exact
    // dup), so ALL their common postings have size 3 > cap=2 and are
    // dropped as stop-shingles → no en pair survives; the zz pair 6↔7
    // rides on size-2 postings and is unaffected. The cap provably
    // gates pair generation per posting list.
    val en = Set(1L, 2L, 3L)
    val capped = TextOps.nearDupJaccard(spark, scratch, docFreqCap = Some(2))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(!capped.exists { case (a, b) => en(a) && en(b) })
    // Uncapped control: the en pairs exist.
    val uncapped = TextOps.nearDupJaccard(spark, scratch).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(uncapped.exists { case (a, b) => en(a) && en(b) })
  }

  test("minhash bucket membership is capped deterministically") {
    // With a cap of 50 nothing changes at this corpus size; assert the
    // registered-query path is stable and pairs carry ≤ MinhashBands
    // collisions.
    val mh = TextOps.minhashCandidates(spark, scratch).collect()
    assert(mh.forall(_.getAs[Long]("n_bands") <= TextOps.MinhashBands))
  }

  test("rolling fingerprint is order-sensitive where the bag hash is not") {
    val bags = TextOps.docFingerprints(spark, scratch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bag_md5")).toMap
    val rolls = TextOps.rollingFingerprints(spark, scratch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("roll_hash")).toMap
    // 6 and 7 are permutations: identical bag, different roll.
    assert(bags(6L) == bags(7L))
    assert(rolls(6L) != rolls(7L))
    // Exact duplicates agree on both.
    assert(bags(1L) == bags(3L) && rolls(1L) == rolls(3L))
  }

  test("simhash: exact duplicates collide at hamming 0") {
    val pairs = TextOps.simhashPairs(spark, scratch).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 3L)) == 0) // identical text → identical simhash
    assert(pairs.values.forall(_ <= TextOps.SimhashHammingMax))
  }

  test("text stats divide safely for a 1-token doc") {
    val stats = TextOps.textStats(spark, scratch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d4 = stats(4L)
    assert(d4.getAs[Int]("n_tokens") == 1)
    assert(d4.getAs[Double]("distinct_ratio") == 1.0)
    assert(d4.getAs[Double]("stopword_ratio") == 0.0)
  }

  test("near-dup components label clusters by their minimum doc id") {
    val cc = TextOps.dedupComponents(spark, scratch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id"))
      .toMap
    // Docs 1/2/3 are mutual near-dups (one cluster, min id 1); the
    // token-permutation pair 6/7 shares its full bigram set (cluster 6);
    // isolated docs 4/5 appear in no pair, so they have no row.
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 6L -> 6L, 7L -> 6L))
  }

  test("near-dup survivors keep representatives and untouched docs") {
    val kept = TextOps.nearDupSurvivors(spark, scratch).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    // Cluster {1,2,3} collapses to 1, cluster {6,7} to 6; isolated docs
    // 4/5 pass through. Output is the full document row, doc-sorted.
    assert(kept == Seq(1L, 4L, 5L, 6L))
  }

  test("prefix-filtered join finds exactly the high-threshold pairs") {
    // Fixture pairs at t = 0.6: 1-3 identical (j=1), 1-2 and 2-3 differ
    // in the last token (7 shared of 9 union = 0.778), 6-7 share their
    // full 2-bigram set (j=1). Doc 4 has no bigrams, doc 5 is its own
    // language block. Losslessness means exactly these four, nothing
    // dropped by the prefix index.
    val pairs = TextOps.nearDupJaccardPrefix(spark, scratch).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L), (6L, 7L)))
    assert(pairs((1L, 3L)) == 1.0 && pairs((6L, 7L)) == 1.0)
    assert(math.abs(pairs((1L, 2L)) - 7.0 / 9.0) < 1e-15)
  }

  test("pagerank ranks a star's hub above its leaves, fixed-point exact") {
    // Star: center shares one bigram with each leaf (jaccard 1/5 ≥ 0.1),
    // leaves share none with each other — edges c–l1, c–l2 only. Own
    // fixture dir (the pair memo keys on (session, dir) and the suite
    // scratch holds the shared corpus).
    val dir = freshScratch()
    writeTable("documents", Seq(
      (1L, "a b c d", "en", "web", 7L), // center
      (2L, "a b x y", "en", "web", 7L), // leaf (shares "a b")
      (3L, "c d p q", "en", "web", 7L)  // leaf (shares "c d")
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val pr = TextOps.pageRankNearDup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_neighbors"), r.getAs[Double]("pagerank"))).toMap
    assert(pr.keySet == Set(1L, 2L, 3L))
    assert(pr(1L)._1 == 2 && pr(2L)._1 == 1 && pr(3L)._1 == 1)
    // Hand-computed fixed-point trace (S = 10^12, all divisions exact):
    // r1: hub 1.85, leaves 0.575; r2: hub 1.1275, leaves 0.93625;
    // r3: hub 1.741625, leaves 0.6291875.
    assert(math.abs(pr(1L)._2 - 1.741625) < 1e-12, s"hub ${pr(1L)._2}")
    assert(math.abs(pr(2L)._2 - 0.6291875) < 1e-12)
    assert(pr(2L)._2 == pr(3L)._2, "symmetric leaves must tie exactly")
    assert(pr(1L)._2 > pr(2L)._2, "hub must outrank leaves")
  }

  test("split assignment is total and stable across calls") {
    val a = TextOps.trainValSplit(spark, scratch).collect()
    val b = TextOps.trainValSplit(spark, scratch).collect()
    assert(a.length == 7)
    assert(a.forall(r => Set("train", "val", "test")
      .contains(r.getAs[String]("split"))))
    assert(a.forall { r =>
      val bk = r.getAs[Long]("bucket"); bk >= 0 && bk < 100 })
    // Reproducibility IS the operator's contract: same ids → same split.
    assert(a.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split")))
      .toSeq == b.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split")))
      .toSeq)
  }

  test("chunk geometry: short docs, exact windows, overlapping tails") {
    val chunks = TextOps.docChunks(spark, scratch).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // Doc 4 ("solitary") is 1 token → exactly one chunk of length 1.
    assert(chunks(4L).length == 1)
    assert(chunks(4L).head.getAs[Int]("chunk_len") == 1)
    assert(chunks(4L).head.getAs[Int]("start") == 0)
    // Every doc here is shorter than one window → single chunk each,
    // chunk_len == its token count, chunk_id 0.
    chunks.values.foreach { cs =>
      assert(cs.length == 1 && cs.head.getAs[Int]("chunk_id") == 0)
    }
    // A doc longer than one window chunks with the documented stride:
    // 100 tokens → starts 0, 48, 96 with lengths 64, 52, 4. Written to
    // its own miniature table dir so the shared fixture is undisturbed.
    val longDoc = Seq((99L, (1 to 100).map(i => s"w$i").mkString(" "),
      "en", "web", 500L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = java.nio.file.Files.createTempDirectory("chunks-").toString
    try {
      longDoc.write.mode("overwrite").parquet(s"$base/documents.parquet")
      val lc = TextOps.docChunks(spark, base).collect()
        .sortBy(_.getAs[Int]("start"))
      assert(lc.map(r => (r.getAs[Int]("start"), r.getAs[Int]("chunk_len")))
        .toSeq == Seq((0, 64), (48, 52), (96, 4)))
    } finally deleteRecursively(base)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("pii scrub counts and redacts each identifier class") {
    val rows = TextOps.piiScrub(spark, scratch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // Injection residues: %3 → email, %4 → phone, %5 → IPv4.
    assert(rows(3L).getAs[Int]("n_emails") == 1)
    assert(rows(4L).getAs[Int]("n_phones") == 1)
    assert(rows(5L).getAs[Int]("n_ips") == 1)
    // Doc 1 gets no injection: scrub is a no-op, hash equals raw text.
    assert(Seq("n_emails", "n_phones", "n_ips")
      .map(rows(1L).getAs[Int](_)).sum == 0)
    assert(rows(1L).getAs[String]("clean_md5") ==
      md5Hex("the quick brown fox jumps over the lazy dog"))
    // Doc 6's email is replaced, not deleted: length shifts by exactly
    // (match − token) and the hash matches the redacted composition.
    val enriched6 = "alpha beta alpha beta contact u6@example.com"
    assert(rows(6L).getAs[Long]("clean_chars") ==
      enriched6.length - "u6@example.com".length + "<EMAIL>".length)
    assert(rows(6L).getAs[String]("clean_md5") ==
      md5Hex("alpha beta alpha beta contact <EMAIL>"))
    assert(rows(4L).getAs[String]("clean_md5") ==
      md5Hex("solitary call <PHONE>"))
  }

  test("paragraph dedup keeps only the globally first block occurrence") {
    val block = (1 to TextOps.ParaWords).map(i => s"w$i").mkString(" ")
    val base = java.nio.file.Files.createTempDirectory("para-").toString
    try {
      Seq(
        // two blocks, both first occurrences
        (1L, block + " tail words here", "en", "web", 0L),
        // first block duplicates doc 1's → only its tail survives
        (2L, block + " different ending", "en", "web", 0L),
        // wholly unique single block
        (3L, "unique words entirely", "en", "web", 0L),
        // exact one-block duplicate → nothing survives
        (4L, block, "en", "web", 0L)
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val rows = TextOps.paragraphDedup(spark, base).collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows(1L).getAs[Long]("n_paras") == 2 &&
        rows(1L).getAs[Long]("n_kept") == 2)
      assert(rows(2L).getAs[Long]("n_paras") == 2 &&
        rows(2L).getAs[Long]("n_kept") == 1)
      assert(rows(2L).getAs[String]("clean_md5") ==
        md5Hex("different ending"))
      assert(rows(3L).getAs[Long]("n_kept") == 1)
      assert(rows(4L).getAs[Long]("n_kept") == 0)
      assert(rows(4L).getAs[String]("clean_md5") == md5Hex(""))
    } finally deleteRecursively(base)
  }

  test("chunk packing bins by running token count within a shard") {
    // Docs 1 and 17 share shard 1 (doc_id % 16); 300 tokens each chunk
    // to lens 64,64,64,64,64,60,12 (sum 392), so the budget boundary
    // (512) lands inside doc 17's chunk stream.
    val text = (1 to 300).map(i => s"w$i").mkString(" ")
    val base = java.nio.file.Files.createTempDirectory("pack-").toString
    try {
      Seq((1L, text, "en", "web", 0L), (17L, text, "en", "web", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val rows = TextOps.chunkPacking(spark, base).collect()
      assert(rows.forall(_.getAs[Int]("shard") == 1))
      // Reference model: running sum in (doc_id, chunk_id) order; a
      // chunk lands in the pack where it STARTS.
      val lens = Seq(64, 64, 64, 64, 64, 60, 12)
      val expected = (lens ++ lens).scanLeft(0L)(_ + _).zip(lens ++ lens)
        .map { case (before, len) =>
          (before + len, before / TextOps.PackBudget) }
      assert(rows.sortBy(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_id")))
        .map(r => (r.getAs[Long]("cum"), r.getAs[Long]("pack_id")))
        .toSeq == expected)
      // The boundary chunk (cum crosses 512 mid-doc-17) overflows its
      // pack rather than splitting: pack 0 ends at the chunk that
      // STARTS before 512.
      assert(expected.count(_._2 == 0L) == 9) // 10th chunk starts at 520 ≥ 512
    } finally deleteRecursively(base)
  }

  test("pack policy compare: BFD fold is exact on a hand-traced " +
      "fixture and never loses tokens") {
    // 20 docs of 40 tokens each, all doc_id % 16 == 0 → one shard,
    // one 40-token chunk per doc (≤ 48 tokens → a single chunk).
    // running_sum: cum 40..800, the 13th chunk starts at 480 < 512 so
    // it overflows pack 0 by 8 tokens → 2 packs, overflow 8,
    // fill (792·1000) div 1024 = 773.
    // BFD: one class (40, 20), no packs open → k = 512 div 40 = 12 →
    // one fresh pack of 12 + one of 8 → 2 packs, zero overflow,
    // fill (800·1000) div 1024 = 781.
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val base = java.nio.file.Files.createTempDirectory("packpol-").toString
    try {
      (0 until 20).map(i => (i * 16L, text, "en", "web", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val rows = TextOps.packPolicyCompare(spark, base).collect()
        .map(r => r.getAs[String]("policy") ->
          (r.getAs[Long]("n_packs"), r.getAs[Long]("total_tokens"),
            r.getAs[Long]("kept_tokens"),
            r.getAs[Long]("overflow_tokens"),
            r.getAs[Long]("fill_mille"))).toMap
      assert(rows("running_sum") == ((2L, 800L, 792L, 8L, 773L)))
      assert(rows("bfd") == ((2L, 800L, 800L, 0L, 781L)))
    } finally deleteRecursively(base)
  }

  test("pack policy compare: on the real corpus BFD fill beats or " +
      "matches the truncating layout in every shard, conservation " +
      "holds") {
    val rows = TextOps.packPolicyCompare(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[String]("policy")) ->
        (r.getAs[Long]("n_packs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("kept_tokens"), r.getAs[Long]("overflow_tokens"),
          r.getAs[Long]("fill_mille"))).toMap
    val shards = rows.keySet.map(_._1)
    assert(shards.size == TextOps.PackShards)
    shards.foreach { s =>
      val (_, totR, keptR, ovR, fillR) = rows((s, "running_sum"))
      val (bfdPacks, totN, keptN, ovN, fillN) = rows((s, "bfd"))
      // Same chunk mass on both sides; BFD never truncates.
      assert(totR == totN && keptN == totN && ovN == 0L)
      assert(keptR + ovR == totR, s"shard $s conservation")
      // The advisor's claim: decreasing-order packing keeps at least
      // as much fill as the arrival-order truncating layout.
      assert(fillN >= fillR, s"shard $s: bfd $fillN < running $fillR")
      assert(bfdPacks >= 1L)
    }
  }

  test("split contamination flags eval docs sharing train chunks") {
    val base = java.nio.file.Files.createTempDirectory("contam-").toString
    try {
      // Phase 1: discover which ids the hash bands assign where.
      (1L to 300L).map(i => (i, "x", "en", "web", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val bands = TextOps.trainValSplit(spark, base).collect()
        .map(r => r.getAs[String]("split") -> r.getAs[Long]("doc_id"))
      def idIn(s: String) = bands.collectFirst { case (`s`, id) => id }.get
      val (trainId, valId, testId) = (idIn("train"), idIn("val"), idIn("test"))
      // Phase 2: the val doc duplicates the train doc (80 tokens → 2
      // overlapping chunks, both shared); the test doc is unique.
      val shared = (1 to 80).map(i => s"s$i").mkString(" ")
      val unique = (1 to 80).map(i => s"u$i").mkString(" ")
      Seq((trainId, shared), (valId, shared), (testId, unique))
        .map { case (id, t) => (id, t, "en", "web", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val out = TextOps.splitContamination(spark, base).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("split"), r.getAs[Long]("n_shared_chunks")))
        .toMap
      assert(out == Map(valId -> ("val", 2L))) // test doc is clean
    } finally deleteRecursively(base)
  }

  test("oov rate counts tokens outside the frequency-head vocabulary") {
    // 20 common tokens (freq 2) fill the vocab head; "rareword" (freq 1)
    // falls outside it and is the only OOV occurrence.
    val common = (1 to 20).map(i => s"c$i")
    val base = java.nio.file.Files.createTempDirectory("oov-").toString
    try {
      Seq(
        (1L, common.mkString(" "), "en", "web", 0L),
        (2L, (common :+ "rareword").mkString(" "), "en", "web", 0L)
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val rows = TextOps.oovRate(spark, base).collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows(1L).getAs[Long]("n_oov") == 0)
      assert(rows(2L).getAs[Long]("n_tokens") == 21)
      assert(rows(2L).getAs[Long]("n_oov") == 1)
      assert(rows(2L).getAs[Double]("oov_ratio") == 1.0 / 21.0)
    } finally deleteRecursively(base)
  }

  test("split balance shares sum to one within each split") {
    val rows = TextOps.splitBalance(spark, scratch).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 7)
    rows.groupBy(_.getAs[String]("split")).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getAs[Double]("split_share")).sum - 1.0)
        < 1e-12)
    }
  }

  test("tfidf ranks rare high-frequency terms first, ties by term") {
    val byDoc = TextOps.tfidfTopK(spark, scratch).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rk"))
        .map(_.getAs[String]("term")).toSeq).toMap
    // Doc 2: "cat" is unique to it (df=1 → idf 7) and outranks "the"
    // (tf=2, df=3); the tf=1/df=3 tail tie-breaks alphabetically.
    assert(byDoc(2L) == Seq("cat", "the", "brown"))
    // Doc 4 has one term; a short doc yields < K rows, never pads.
    assert(byDoc(4L) == Seq("solitary"))
    // Docs 6/7 are permutations: identical tf/df per term → identical
    // ranking, alpha before beta on the tie.
    assert(byDoc(6L) == Seq("alpha", "beta") && byDoc(7L) == byDoc(6L))
  }

  test("token entropy catches the two-token alternator repetition misses") {
    val rows = TextOps.tokenEntropy(spark, scratch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // Doc 6 "alpha beta alpha beta": each token covers half the doc —
    // bits = |bin(4 div 2)| = 2 → entropy exactly 2.0, low-diversity.
    assert(rows(6L).getAs[Long]("n_tokens") == 4)
    assert(rows(6L).getAs[Long]("n_distinct") == 2)
    assert(rows(6L).getAs[Double]("entropy_bits") == 2.0)
    assert(rows(6L).getAs[Boolean]("low_diversity"))
    // ...while its top-token ratio is only 0.5-of-4 — docRepetition's
    // single-token screen scores it like any short doc.
    // Doc 1 (natural prose, 8 distinct of 9): 'the'×2 → 3 bits, seven
    // singletons → 4 bits each: (2·3 + 7·4)/9.
    assert(rows(1L).getAs[Double]("entropy_bits") == 34.0 / 9.0)
    assert(!rows(1L).getAs[Boolean]("low_diversity"))
    // Degenerate single-token doc: 1 token, |bin(1)| = 1 bit.
    assert(rows(4L).getAs[Double]("entropy_bits") == 1.0)
    assert(rows(4L).getAs[Boolean]("low_diversity"))
  }

  test("triangle census separates the clique from the isolated pair") {
    val rows = TextOps.nearDupTriangles(spark, scratch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // Docs 1-2-3 pair pairwise (dup + near-dup in one block): one
    // triangle, degree 2 each, clustering 2·1/(2·1) = 1.0.
    Seq(1L, 2L, 3L).foreach { d =>
      assert(rows(d).getAs[Long]("degree") == 2)
      assert(rows(d).getAs[Long]("n_triangles") == 1)
      assert(rows(d).getAs[Double]("clustering") == 1.0)
    }
    // The 6-7 permutation pair is an edge with no third vertex:
    // degree 1, no triangle, clustering undefined (null, not 0.0).
    Seq(6L, 7L).foreach { d =>
      assert(rows(d).getAs[Long]("degree") == 1)
      assert(rows(d).getAs[Long]("n_triangles") == 0)
      assert(rows(d).getAs[java.lang.Double]("clustering") == null)
    }
    // No other vertices appear (doc 4 has no shingles; doc 5 is alone
    // in its language block).
    assert(rows.keySet == Set(1L, 2L, 3L, 6L, 7L))
  }

  test("dsir weights separate the target source from the rest") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.operators.TextOps.dsirWeights(spark, dir).collect()
    val (tgt, rest) = rows.partition(
      _.getAs[String]("source") == graft.operators.TextOps.DsirTargetSource)
    assert(tgt.nonEmpty && rest.nonEmpty)
    def mean(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.map(_.getAs[Long]("logw2").toDouble).sum / rs.length
    // Target docs' own features are overrepresented in the target
    // model, so their mean log-weight must sit clearly above the
    // rest's — the property importance RESAMPLING relies on. Measured
    // at sf0.001: +7.0 vs −4.8; the margin guards the direction, not
    // the exact figure.
    assert(mean(tgt) > mean(rest) + 5.0,
      s"no separation: tgt=${mean(tgt)} rest=${mean(rest)}")
    // Scores are per-feature-bounded: |logw2| ≤ n_feats · 64 bits.
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("logw2")) <=
        r.getAs[Long]("n_feats") * 64)
      assert(r.getAs[Boolean]("upsample") == (r.getAs[Long]("logw2") > 0))
    }
  }

  test("dsir resample keeps exactly the K highest-weight docs") {
    val dir = "/root/testdata/sf0.001"
    val ops = graft.operators.TextOps
    val weights = ops.dsirWeights(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("logw2")).toMap
    val picked = ops.dsirResample(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val k = math.min(ops.DsirResampleK, weights.size)
    assert(picked.size == k)
    // Weight-class dominance: every selected doc's weight is ≥ every
    // unselected doc's (ties are broken only WITHIN a weight class by
    // the salted draw, so the selected multiset of weights is exactly
    // the top-K multiset).
    val unpicked = weights.keySet -- picked
    if (unpicked.nonEmpty && picked.nonEmpty)
      assert(picked.map(weights).min >= unpicked.map(weights).max,
        "a lower-weight doc displaced a higher-weight one")
  }

  test("shingle df profile obeys the posting-mass laws") {
    val dir = "/root/testdata/sf0.001"
    val ops = graft.operators.TextOps
    val rows = ops.shingleDfProfile(spark, dir).collect()
    // Bucket b holds df ∈ [2^b, 2^(b+1)) by the bin-length trick, so
    // per bucket: n·2^b ≤ posting_mass < n·2^(b+1), and the pair mass
    // is the exact Σ df·(df−1)/2 (≥ 0, = 0 only in the df=1 bucket).
    rows.foreach { r =>
      val (b, n, pm, qm) = (r.getAs[Long]("df_log2"),
        r.getAs[Long]("n_shingles"), r.getAs[Long]("posting_mass"),
        r.getAs[Long]("pair_mass"))
      assert(pm >= n * (1L << b) && pm < n * (1L << (b + 1)),
        s"bucket $b posting mass out of range: $r")
      if (b == 0) assert(qm == 0L, s"df=1 bucket has pair mass: $r")
      else assert(qm > 0L)
    }
    // Total posting mass = the corpus's distinct (doc, shingle) count.
    import org.apache.spark.sql.functions.{col, explode, expr}
    val direct = graft.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(expr(
        "array_distinct(case when size(split(text, ' ')) < 2 then " +
          "cast(array() as array<string>) else zip_with(" +
          "slice(split(text, ' '), 1, size(split(text, ' ')) - 1), " +
          "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), " +
          "(x, y) -> concat(x, ' ', y)) end)")).as("sh"))
      .count()
    assert(rows.map(_.getAs[Long]("posting_mass")).sum == direct)
  }

  test("lsh band planner: S-curve laws hold over the verified pairs") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.operators.TextOps.lshBandPlanner(spark, dir)
      .collect()
    assert(rows.length ==
      graft.operators.TextOps.LshPlannerConfigs.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("bands") * r.getAs[Long]("rows_per_band")
        == 128L, s"not a 128-hash factorization: $r")
      val mean = r.getAs[Long]("mean_recall_mille")
      assert(mean >= 0L && mean <= 1000L)
      assert(r.getAs[Long]("min_recall_mille") <= mean)
      assert(r.getAs[Long]("weak_pairs") <= r.getAs[Long]("n_pairs"))
    }
    // The S-curve's defining monotonicity: splitting the same 128
    // hashes into MORE bands of shorter rows never lowers a pair's
    // candidate probability (1−(1−s^{r/2})^{2b} ≥ 1−(1−s^r)^b ⇔
    // s^r ≤ s^{r/2}), so mean recall is non-decreasing and the
    // likely-missed count non-increasing as bands grow. Measured at
    // sf0.001: means 46→215→407→487→500→500→766→1000, weak
    // 16→12→9→8→8→8→3→0.
    val byBands = rows.sortBy(_.getAs[Long]("bands"))
    byBands.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("mean_recall_mille") <=
          b.getAs[Long]("mean_recall_mille"),
          s"mean recall dropped as bands grew: $a -> $b")
        assert(a.getAs[Long]("weak_pairs") >=
          b.getAs[Long]("weak_pairs"),
          s"weak pairs rose as bands grew: $a -> $b")
      case _ => ()
    }
    // Extremes: one 128-row band catches almost nothing at the 0.1
    // threshold; 128 single-row bands catch everything.
    assert(byBands.last.getAs[Long]("mean_recall_mille") >= 900L)
    assert(byBands.last.getAs[Long]("weak_pairs") == 0L)
  }

  test("dedup inflation: per-source masses are conserved and bounded") {
    val dir = "/root/testdata/sf0.001"
    val ops = graft.operators.TextOps
    val rows = ops.dedupInflationBySource(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_survivors") >= 1L)
      assert(r.getAs[Long]("n_survivors") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("dup_tokens") <=
        r.getAs[Long]("total_tokens"))
      val m = r.getAs[Long]("dup_token_mille")
      assert(m >= 0L && m <= 1000L)
    }
    // Global conservation: survivors across sources = distinct texts
    // (a cross-source duplicate group still has exactly ONE survivor).
    import org.apache.spark.sql.functions.{col, countDistinct, md5}
    val distinctTexts = graft.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .agg(countDistinct(md5(col("text")))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_survivors")).sum == distinctTexts)
  }

  test("cross-dup matrix cells are sorted and conserve the pair set") {
    val dir = "/root/testdata/sf0.001"
    val ops = graft.operators.TextOps
    val rows = ops.sourceCrossDupMatrix(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b"),
        s"unsorted cell: $r")
      val (mean, mx) = (r.getAs[Long]("mean_jaccard_mille"),
        r.getAs[Long]("max_jaccard_mille"))
      assert(mean >= 0L && mean <= mx && mx <= 1000L)
    }
    // Every verified pair lands in exactly one cell.
    val totalPairs = ops.nearDupJaccardCapped(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == totalPairs)
  }

  test("dedup threshold sweep: monotone, conserving at the pipeline floor") {
    val dir = "/root/testdata/sf0.001"
    val ops = graft.operators.TextOps
    val rows = ops.dedupThresholdSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("threshold_mille"))
    assert(rows.length == ops.DedupSweepThresholds.length)
    // Raising the threshold never keeps more pairs or implicates more
    // docs, and pairs bound docs from below conceptually: a pair
    // implicates ≤ 2 docs, so n_docs ≤ 2·n_pairs; n_docs ≥ 2 requires
    // ≥ 1 pair.
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_pairs") >= b.getAs[Long]("n_pairs"))
        assert(a.getAs[Long]("n_docs") >= b.getAs[Long]("n_docs"))
      case _ => ()
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") <= 2 * r.getAs[Long]("n_pairs"))
      assert((r.getAs[Long]("n_pairs") == 0L) ==
        (r.getAs[Long]("n_docs") == 0L))
    }
    // The pipeline's own 0.1 floor: the t = 100 row IS the full memo.
    assert(rows.head.getAs[Long]("n_pairs") ==
      ops.nearDupJaccardCapped(spark, dir).count())
  }

  test("winnowing obeys the selection-density guarantee band") {
    val dir = "/root/testdata/sf0.001"
    val ops = graft.operators.TextOps
    val rows = ops.winnowFingerprints(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nk, nw, nfp) = (r.getAs[Long]("n_kgrams"),
        r.getAs[Long]("n_windows"), r.getAs[Long]("n_fp"))
      assert(nw == math.max(1L, nk - (ops.WinnowWindow - 1)))
      assert(nfp >= 1L && nfp <= nw, s"fp count out of range: $r")
      val d = r.getAs[Long]("density_mille")
      assert(d >= 1L && d <= 1000L)
    }
    // Winnowing's expected density for random hashes is 2/(w+1) = 400
    // mille at w=4; the corpus mean must sit in a comfortable band
    // around it (the per-doc figure varies with doc length — short
    // docs bias high because ties and boundary windows dominate).
    val meanD = rows.map(_.getAs[Long]("density_mille")).sum.toDouble /
      rows.length
    assert(meanD > 250 && meanD < 650, s"density off-theory: $meanD")
  }

  test("bpe merge census: dense ranks, monotone counts, 2-char pairs") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.operators.TextOps.bpeMergeCensus(spark, dir).collect()
    assert(rows.length == graft.operators.TextOps.BpeTopK)
    assert(rows.map(_.getAs[Int]("rank")).toSeq ==
      (1 to graft.operators.TextOps.BpeTopK))
    val counts = rows.map(_.getAs[Long]("n_occurrences")).toSeq
    assert(counts == counts.sorted.reverse, "counts must be non-increasing")
    rows.foreach(r => assert(r.getAs[String]("pair").length == 2))
  }

  test("bpe merge rounds: round 1 equals the standing census, greedy " +
      "LTR counting and the (n desc, lhs, rhs) tie-break are exact") {
    val ops = graft.operators.TextOps
    // Real corpus: the trainer's first merge IS the census's rank 1.
    val real = ops.bpeMergeRounds(spark, "/root/testdata/sf0.001")
      .collect()
    assert(real.length == ops.BpeMergeRounds)
    assert(real.map(_.getAs[Int]("round")).toSeq ==
      (1 to ops.BpeMergeRounds))
    val c1 = ops.bpeMergeCensus(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(real.head.getAs[String]("merged") == c1.getAs[String]("pair"))
    assert(real.head.getAs[Long]("n_occurrences") ==
      c1.getAs[Long]("n_occurrences"))
    // Fixture: "aaaa" votes (a,a) three times, "aaa" twice -> n = 5,
    // and the greedy LTR apply leaves [aa, aa] and [aa, a]. Round 2 is
    // an all-ties round the (lhs, rhs) ascending tie-break must
    // resolve to ("aa", "a") — "aa" sorts before every single letter
    // in play. The filler word keeps later rounds from running dry.
    val dir = freshScratch()
    val txt = "aaaa aaa ba cdefghijkl"
    writeTable("documents", Seq(
      (1L, txt, "en", "web", txt.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val rows = ops.bpeMergeRounds(spark, dir).collect()
      .map(r => r.getAs[Int]("round") -> r).toMap
    assert(rows.keySet == (1 to ops.BpeMergeRounds).toSet)
    assert((rows(1).getAs[String]("lhs"), rows(1).getAs[String]("rhs"),
      rows(1).getAs[String]("merged"),
      rows(1).getAs[Long]("n_occurrences")) == ("a", "a", "aa", 5L))
    assert((rows(2).getAs[String]("lhs"), rows(2).getAs[String]("rhs"),
      rows(2).getAs[String]("merged"),
      rows(2).getAs[Long]("n_occurrences")) == ("aa", "a", "aaa", 1L))
    rows.values.foreach(r =>
      assert(r.getAs[String]("merged") ==
        r.getAs[String]("lhs") + r.getAs[String]("rhs")))
  }

  test("bpe tokenize census: mass identity vs the merge table, exact " +
      "fixture baseline, monotone compression") {
    val ops = graft.operators.TextOps
    // Crafted corpus (the trainer fixture): vocab words aaaa, aaa,
    // ba, cdefghijkl → round-0 mass 4+3+2+10 = 19 over 12 char types.
    val dir = freshScratch()
    val txt = "aaaa aaa ba cdefghijkl"
    writeTable("documents", Seq(
      (1L, txt, "en", "web", txt.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val cen = ops.bpeTokenizeCensus(spark, dir).collect()
      .map(r => r.getAs[Int]("round") ->
        (r.getAs[Long]("total_tokens"), r.getAs[Long]("n_types"),
          r.getAs[Long]("compression_mille"))).toMap
    assert(cen.keySet == (0 to ops.BpeMergeRounds).toSet)
    assert(cen(0) == ((19L, 12L, 1000L)))
    // Round 1 merges (a,a): the PAIR COUNT is 5 but greedy LTR
    // applies only 3 fusions (aaaa → [aa][aa], aaa → [aa]a) — mass
    // 19 → 16; 'aa' joins the inventory, 'a' survives in ba.
    assert(cen(1)._1 == 16L && cen(1)._2 == 13L)
    // Round 2 ("aa","a", lhs ≠ rhs): every counted occurrence fuses —
    // mass drops by exactly n = 1.
    assert(cen(2)._1 == 15L)
    // The mass law, fixture + real corpus: a round with lhs ≠ rhs
    // drops mass by exactly its n_occurrences (matches can't be
    // adjacent); lhs = rhs drops by the greedy-kept share — at least
    // half the count (ceil(k/2) per run), never more than all of it.
    def checkLaw(d: String): Unit = {
      val c = ops.bpeTokenizeCensus(spark, d).collect()
        .map(r => r.getAs[Int]("round") ->
          (r.getAs[Long]("total_tokens"),
            r.getAs[Long]("compression_mille"))).toMap
      val m = ops.bpeMergeRounds(spark, d).collect()
        .map(r => r.getAs[Int]("round") ->
          (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
            r.getAs[Long]("n_occurrences"))).toMap
      (1 to ops.BpeMergeRounds).foreach { r =>
        val delta = c(r - 1)._1 - c(r)._1
        val (lhs, rhs, n) = m(r)
        if (lhs != rhs) assert(delta == n, s"$d round $r: $delta != $n")
        else assert(delta * 2 >= n && delta <= n,
          s"$d round $r: delta $delta vs n $n")
        assert(c(r)._2 <= c(r - 1)._2, s"$d round $r compression")
      }
    }
    checkLaw(dir)
    checkLaw("/root/testdata/sf0.001")
  }

  test("decontam screen agreement: containment theorems hold on the " +
      "real corpus; the trade-off cells land where designed") {
    val ops = graft.operators.TextOps
    val real = ops.decontamScreenAgreement(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[Boolean]("ngram_hit"),
        r.getAs[Boolean]("bloom_hit"),
        r.getAs[Boolean]("winnow_hit")) -> r.getAs[Long]("n_docs"))
      .toMap
    real.keys.foreach { case (n, b, w) =>
      assert(!(n && !b),
        "an exact 3-gram hit set its own Bloom positions: ngram => bloom")
      assert(!(w && !n),
        "a shared winnowed 4-gram contains shared 3-grams: winnow => ngram")
    }
    // The census partitions exactly the ngram screen's train universe
    // (bloom shares it; winnow's is a subset).
    assert(real.values.sum ==
      ops.ngramDecontam(spark, "/root/testdata/sf0.001").count())
    // Crafted corners (the winnow-trade fixture): an 8-word verbatim
    // overlap lands (T,T,T); a 3-word overlap is exact-visible but
    // shares no 4-gram — the (T,T,F) cell IS the sparse index's
    // traded-away mass.
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 100
    }
    val evalId = (1L to 1000L).find(bucket(_) >= 90).get
    val trainIds = (1L to 1000L).filter(bucket(_) < 90).take(2)
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    val evalDoc = passage + " evalx1 evalx2 evalx3 evalx4"
    val hitDoc = "trainy1 trainy2 trainy3 trainy4 " + passage
    val missDoc = "alpha bravo charlie mike november oscar papa " +
      "quebec romeo sierra"
    val dir = freshScratch()
    writeTable("documents", Seq(
      (evalId, evalDoc, "en", "web", evalDoc.length.toLong),
      (trainIds(0), hitDoc, "en", "web", hitDoc.length.toLong),
      (trainIds(1), missDoc, "en", "web", missDoc.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val fx = ops.decontamScreenAgreement(spark, dir).collect()
      .map(r => (r.getAs[Boolean]("ngram_hit"),
        r.getAs[Boolean]("bloom_hit"),
        r.getAs[Boolean]("winnow_hit")) -> r.getAs[Long]("n_docs"))
      .toMap
    assert(fx.get((true, true, true)).contains(1L), s"hit cell: $fx")
    assert(fx.get((true, true, false)).contains(1L),
      s"short-overlap cell: $fx")
    assert(fx.values.sum == 2L)
  }

  test("guarded CC cuts template hubs; genuine pairs stay merged") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Template T (3 tokens, 2 distinct bigrams) + 6 fills, each T plus
    // 12 unique tokens: fill↔T Jaccard = 2/14 ≈ 0.143 ≥ the pair
    // emission floor (0.1), but fill↔fill = 2/26 ≈ 0.077 < 0.1 (no
    // pair) — so T is a degree-6 hub (> TextDupDegreeCap = 5) that the
    // UNGUARDED closure uses to chain all 7 docs into one component.
    // Docs 100/101 are an ordinary near-dup pair (degree 1) the guard
    // must not touch. n_chars is constant so every doc shares the
    // (lang, len_bucket) block.
    val dir = freshScratch()
    val t = "a1 a2 a3"
    val docs =
      Seq((1L, t)) ++
      (2L to 7L).map(i =>
        i -> (t + " " + (1 to 12).map(j => s"z$i$j").mkString(" "))) ++
      Seq(100L -> ((1 to 10).map(i => s"b$i").mkString(" ")),
          101L -> ((1 to 10).map(i => s"b$i").mkString(" ") + " q1 q2 q3 q4"))
    writeTable("documents",
      docs.map { case (id, tx) => (id, tx, "en", "web", 50L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val unguarded = TextOps.dedupComponentsDf(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // The hub chains everything: one component over {1..7}.
    assert((1L to 7L).map(unguarded).toSet.size == 1)
    assert(unguarded(100L) == unguarded(101L))
    val guarded = TextOps.dedupComponentsGuarded(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(guarded(1L) == (1L, true), "template must be a flagged hub")
    (2L to 7L).foreach(i =>
      assert(guarded(i) == (i, false), s"fill $i must stand alone"))
    assert(guarded(100L)._1 == guarded(101L)._1, "genuine pair must survive")
    assert(!guarded(100L)._2 && !guarded(101L)._2)
  }

  test("containment dedup sees the cross-length-bucket pair Jaccard cannot") {
    // A short doc pasted inside a much longer one: different length
    // buckets by construction, so the (lang, len_bucket)-blocked
    // Jaccard family can never pair them — the containment operator's
    // whole reason to exist. Own fixture dir so the suite's shared
    // fixture (and its memo-keyed consumers) stay untouched.
    val dir = freshScratch()
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    writeTable("documents", Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
      // contains doc 1's full token run + ~300 chars of unique filler
      // (df = 1 shingles, cut by the df >= 2 posting filter)
      (2L, s"alpha beta gamma delta epsilon zeta $filler", "en", "web",
        (36 + filler.length).toLong),
      (3L, "unrelated words entirely here", "en", "web", 29L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val cont = TextOps.nearDupContainment(spark, dir).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getAs[Long]("contained_id") == 1L)
    assert(r.getAs[Long]("container_id") == 2L)
    // all five of doc 1's shingles survive the df cut (each appears in
    // both docs) => exact containment
    assert(r.getAs[Int]("containment_mille") == 1000)
    assert(r.getAs[Int]("n_contained") <= r.getAs[Int]("n_container"))
    // the Jaccard family is structurally blind to this pair
    val jac = TextOps.nearDupJaccard(spark, dir).collect()
      .map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"))).toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("containment invariants hold on the real corpus") {
    val rows = TextOps.nearDupContainment(spark,
      "/root/testdata/sf0.001").collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("containment_mille") >= TextOps.ContainmentMille)
      assert(r.getAs[Int]("containment_mille") <= 1000)
      assert(r.getAs[Int]("n_contained") <= r.getAs[Int]("n_container"))
      assert(r.getAs[Int]("n_inter") <= r.getAs[Int]("n_contained"))
      assert(r.getAs[Long]("contained_id") != r.getAs[Long]("container_id"))
    }
  }

  test("quantile sketch registers merge: bottom-k of two halves' " +
      "bottom-k sets equals the full-corpus bottom-k (r16 order #3)") {
    // The sketch's defining property, pinned on the REAL code path and
    // a corpus whose HALVES each exceed K (sf0.1: 5000 docs, halves
    // 2500 > QSampleK = 256, so both half sketches genuinely truncate
    // and the merge genuinely discards): a register survives the merge
    // iff its draw is among the K smallest overall, and every such
    // draw survives its own half's bottom-k first — so two half-corpus
    // sketches merged by the sketch's own rule reproduce the
    // full-corpus sketch EXACTLY, the way per-executor partial
    // sketches combine at 100 TB.
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("n_chars").as("v"))
    def regSet(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("v"))).toSet
    val full = regSet(TextOps.quantileSketchRegisters(base))
    assert(full.size == TextOps.QSampleK,
      "corpus must exceed K for a non-degenerate merge test")
    val hA = TextOps.quantileSketchRegisters(
      base.filter(col("doc_id") % 2 === 0))
    val hB = TextOps.quantileSketchRegisters(
      base.filter(col("doc_id") % 2 === 1))
    val merged = regSet(hA.unionByName(hB)
      .orderBy(col("u"), col("doc_id")).limit(TextOps.QSampleK))
    assert(merged == full, "merged half-sketches must equal the " +
      s"full sketch; symmetric diff ${(merged diff full) ++ (full diff merged)}")
  }

  test("grouped quantile sketch registers merge per group (r16 order #3)") {
    // The per-lang variant of the bottom-k merge law, on halves that
    // genuinely truncate (sf0.1: every lang holds >> 2*GroupQSampleK
    // docs). Registers carry (lang, doc_id, v, u); the merge rule is
    // the sketch's own: per lang, keep the K smallest draws.
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("lang"), col("doc_id"), col("n_chars").as("v"))
    def regSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("lang"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("v"))).toSet
    val full = regSet(TextOps.groupedQuantileRegisters(base))
    val perLang = full.groupBy(_._1).view.mapValues(_.size)
    assert(perLang.values.forall(_ == TextOps.GroupQSampleK),
      s"every lang must fill its registers: ${perLang.toMap}")
    val hA = TextOps.groupedQuantileRegisters(
      base.filter(col("doc_id") % 2 === 0))
    val hB = TextOps.groupedQuantileRegisters(
      base.filter(col("doc_id") % 2 === 1))
    val merged = regSet(hA.unionByName(hB)
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("u"), col("doc_id"))))
      .filter(col("rk") <= TextOps.GroupQSampleK))
    assert(merged == full,
      "per-group merged half-sketches must equal the full sketch")
  }

  test("winnowing guarantee: a shared passage of >= w+k-1 words " +
      "surfaces the pair in winnow_pairs (r16 order #5)") {
    // Schleimer et al.'s theorem with WinnowPairK = 4-word k-grams and
    // WinnowWindow = 4: any shared run of >= w + k - 1 = 7 words
    // contains a full window of shared k-grams, whose minimum is
    // selected in BOTH documents. The 12-word shared passage here sits
    // at different positions in the two docs (winnowing is
    // position-robust); the third doc shares nothing and must not
    // pair.
    val dir = freshScratch()
    val shared = "zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    val a = shared + " uniqa1 uniqa2 uniqa3 uniqa4 uniqa5 uniqa6"
    val b = "uniqb1 uniqb2 uniqb3 uniqb4 uniqb5 uniqb6 " + shared
    val c = "totally unrelated words carrying no overlapping bigrams whatsoever today"
    writeTable("documents", Seq(
      (1L, a, "en", "web", a.length.toLong),
      (2L, b, "en", "web", b.length.toLong),
      (3L, c, "en", "web", c.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val rows = TextOps.winnowPairs(spark, dir).collect()
    val pairs = rows
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the shared-passage pair, got $pairs")
    val r12 = rows.head
    assert(r12.getAs[Long]("n_shared_fp") >= 1L)
    assert(r12.getAs[Long]("n_shared_fp") <=
      math.min(r12.getAs[Long]("n_fp_a"), r12.getAs[Long]("n_fp_b")))
    assert(r12.getAs[Long]("overlap_mille") ==
      r12.getAs[Long]("n_shared_fp") * 1000L /
        math.min(r12.getAs[Long]("n_fp_a"), r12.getAs[Long]("n_fp_b")))
  }

  test("winnow match spans localize the shared passage on both sides") {
    // docA carries the 12-token passage P at tokens 11..22, docB at
    // 1..12. With k = 4 and w = 4: a window fully inside P's k-gram
    // run exists on both sides (A: window starts 11..16, B: 1..6), so
    // >= 1 shared anchor is guaranteed there; any anchor of a shared
    // k-gram (k-gram starts 11..19 in A, 1..9 in B) can sit at most
    // w-1 windows earlier. That bounds the reported token spans:
    //   A: 8 <= a_from <= 16,  17 <= a_to <= 25
    //   B: 1 <= b_from <= 6,    7 <= b_to <= 15
    // (a_to/b_to = last anchor + w + k - 2 = anchor + 6).
    def words(p: String, n: Int) =
      (1 to n).map(i => f"$p$i%02d").mkString(" ")
    val passage = words("pass", 12)
    val a = words("ua", 10) + " " + passage + " " + words("za", 10)
    val b = passage + " " + words("zb", 20)
    val c = words("unrel", 30)
    val dir = freshScratch()
    writeTable("documents", Seq(
      (1L, a, "en", "web", a.length.toLong),
      (2L, b, "en", "web", b.length.toLong),
      (3L, c, "en", "web", c.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val rows = TextOps.winnowMatchSpans(spark, dir).collect()
    assert(rows.length == 1, s"exactly the (A, B) pair: ${rows.toSeq}")
    val r = rows.head
    assert((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) == (1L, 2L))
    assert(r.getAs[Long]("n_shared_fp") >= 1L)
    assert(r.getAs[Long]("n_anchor_matches") >=
      r.getAs[Long]("n_shared_fp"))
    val (aFrom, aTo) = (r.getAs[Long]("a_from_tok"),
      r.getAs[Long]("a_to_tok"))
    val (bFrom, bTo) = (r.getAs[Long]("b_from_tok"),
      r.getAs[Long]("b_to_tok"))
    assert(aFrom >= 8 && aFrom <= 16, s"a_from $aFrom")
    assert(aTo >= 17 && aTo <= 25, s"a_to $aTo")
    assert(bFrom >= 1 && bFrom <= 6, s"b_from $bFrom")
    assert(bTo >= 7 && bTo <= 15, s"b_to $bTo")
  }

  test("winnow components: the passage-template hub is cut and " +
      "flagged, leaves stay singletons, a genuine pair merges") {
    // A 6-leaf passage star: template T carries six distinct 24-word
    // passages; each leaf = its passage + 6 unique words, so every
    // leaf-T pair shares a long passage (overlap well above
    // WinnowCompMille) while leaves share nothing pairwise. T's winnow
    // degree (6) exceeds TextDupDegreeCap (5): the guard must cut T's
    // edges, leave each leaf its own component, and flag T. Docs
    // 100/101 share a 30-word passage (degree 1 each) and must merge.
    def words(p: String, n: Int) =
      (1 to n).map(i => f"$p$i%02d").mkString(" ")
    val passages = (1 to 6).map(i => words(s"ps$i", 24))
    val t = passages.mkString(" ")
    val leaves = passages.zipWithIndex.map { case (p, i) =>
      p + " " + words(s"lf$i", 6)
    }
    val shared = words("gp", 30)
    val dir = freshScratch()
    writeTable("documents",
      ((1L, t) +: leaves.zipWithIndex.map { case (d, i) => (2L + i, d) }
        :+ (100L, shared + " " + words("ga", 3))
        :+ (101L, words("gb", 3) + " " + shared))
        .map { case (id, txt) =>
          (id, txt, "en", "web", txt.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    // The fixture's premise, asserted through the pair frame itself:
    // every leaf-T edge and the 100-101 edge clear the cluster floor.
    val pairs = TextOps.winnowPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("overlap_mille")).toMap
    (2L to 7L).foreach(l => assert(
      pairs.getOrElse((1L, l), 0L) >= TextOps.WinnowCompMille,
      s"leaf $l must share its passage with T above the floor"))
    assert(pairs.getOrElse((100L, 101L), 0L) >= TextOps.WinnowCompMille)
    assert(!pairs.keySet.exists { case (a, b) =>
      a >= 2L && a <= 7L && b >= 2L && b <= 7L },
      "leaves share nothing pairwise")
    val rows = TextOps.winnowComponents(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == (1L to 7L).toSet ++ Set(100L, 101L))
    assert(rows(1L).getAs[Boolean]("is_hub"), "T is the template hub")
    assert(rows(1L).getAs[Long]("component_id") == 1L)
    (2L to 7L).foreach { l =>
      assert(!rows(l).getAs[Boolean]("is_hub"))
      assert(rows(l).getAs[Long]("component_id") == l,
        s"leaf $l must stay a singleton once the hub is cut")
    }
    assert(rows(100L).getAs[Long]("component_id") == 100L)
    assert(rows(101L).getAs[Long]("component_id") == 100L,
      "the genuine pair must merge")
  }

  test("dup-graph pagerank: the template hub of a star outranks its " +
      "leaves, symmetric leaves tie, and rank mass is conserved") {
    // A 3-leaf star through the real candidate screen: the template T
    // carries three distinct 20-word passages; each leaf shares one
    // passage with T and nothing with its siblings. Uniform 6-char
    // words keep all four docs in one (lang, len_bucket) block.
    def words(p: String, n: Int) =
      (1 to n).map(i => f"$p$i%02d").mkString(" ")
    val (p1, p2, p3) = (words("aaone", 20), words("bbtwo", 20),
      words("ccthr", 20))
    val t = s"$p1 $p2 $p3"
    val leaves = Seq(p1, p2, p3).zipWithIndex.map { case (p, i) =>
      p + " " + words(s"fil$i", 40)
    }
    val dir = freshScratch()
    writeTable("documents", (Seq((1L, t)) ++
      leaves.zipWithIndex.map { case (d, i) => (2L + i, d) })
      .map { case (id, txt) => (id, txt, "en", "web", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val rows = TextOps.dupGraphPagerank(spark, dir).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet == Set(1L, 2L, 3L, 4L),
      s"star nodes only: ${byId.keySet}")
    assert(byId(1L).getAs[Long]("degree") == 3L)
    Seq(2L, 3L, 4L).foreach(l =>
      assert(byId(l).getAs[Long]("degree") == 1L))
    val hub = byId(1L).getAs[Long]("pagerank_micro")
    val leafRanks = Seq(2L, 3L, 4L)
      .map(byId(_).getAs[Long]("pagerank_micro"))
    assert(leafRanks.distinct.size == 1, s"symmetric leaves tie: $leafRanks")
    assert(hub > leafRanks.head,
      s"hub $hub must outrank leaves ${leafRanks.head}")
    // Damped mass conservation up to floor loss: each of the 5
    // iterations floors one division per edge plus the base term.
    val total = rows.map(_.getAs[Long]("pagerank_micro")).sum
    assert(total <= 1000000L && total >= 900000L,
      s"rank mass $total must be ~1e6 less floor loss")
  }

  test("quantile sketch calibration: the full-K prefix reproduces the " +
      "shipped sketch and more registers don't hurt") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    val cal = TextOps.quantileSketchCalibration(spark, dir).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Int]("q")) -> r).toMap
    assert(cal.keySet ==
      (for (k <- TextOps.QCalibKs; q <- TextOps.QSketchQs)
        yield (k, q)).toSet)
    // Consistency: the K = QSampleK prefix IS the shipped register
    // set, so its estimates must equal quantile_sketch's exactly.
    val shipped = TextOps.quantileSketch(spark, dir).collect()
      .map(r => r.getAs[Int]("q") -> r.getAs[Long]("est_v")).toMap
    TextOps.QSketchQs.foreach { q =>
      assert(cal((TextOps.QSampleK, q)).getAs[Long]("est_v") ==
        shipped(q), s"q=$q: full-K prefix must match the sketch")
    }
    // Rank-error sanity: every estimate lands within 400 mille of its
    // target cdf position (>= 4 sigma for the smallest K on this
    // corpus), and the mean error at the shipped K improves on the
    // K=16 prefix (sf0.01 measured: 11.5 vs 57.5 mean mille).
    cal.values.foreach(r =>
      assert(r.getAs[Long]("rank_err_mille") <= 400L))
    def meanErr(k: Int) = TextOps.QSketchQs
      .map(q => cal((k, q)).getAs[Long]("rank_err_mille")).sum.toDouble /
      TextOps.QSketchQs.size
    assert(meanErr(TextOps.QSampleK) < meanErr(TextOps.QCalibKs.min),
      s"mean rank error: K=256 ${meanErr(256)} vs K=16 ${meanErr(16)}")
  }

  test("winnow k planner: pair-mass laws hold and k=2 is the " +
      "stop-phrase regime on the real corpus") {
    val rows = TextOps.winnowKPlanner(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getAs[Int]("k") -> r).toMap
    assert(rows.keySet == TextOps.WinnowPlannerKs.toSet)
    rows.foreach { case (k, r) =>
      assert(r.getAs[Int]("guarantee_tokens") ==
        k + TextOps.WinnowWindow - 1)
      assert(r.getAs[Long]("kept_pair_mass") +
        r.getAs[Long]("dropped_pair_mass") ==
        r.getAs[Long]("uncapped_pair_mass"),
        s"k=$k: pair mass must partition exactly across the df cap")
      assert(r.getAs[Long]("n_distinct_fp") <=
        r.getAs[Long]("n_postings"))
    }
    // The phenomenon the planner exists to price (and the r17 incident
    // in numbers): bigram fingerprints are stop-phrases — the candidate
    // bill collapses by orders of magnitude from k=2 to the shipped
    // k=4 (101,986 vs 578 at sf0.01), and is monotone non-increasing
    // in k throughout.
    val kept = TextOps.WinnowPlannerKs
      .map(k => rows(k).getAs[Long]("kept_pair_mass"))
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b },
      s"kept pair mass must be non-increasing in k: $kept")
    assert(kept.head > 10 * rows(TextOps.WinnowPairK)
      .getAs[Long]("kept_pair_mass"),
      s"k=2 must be the stop-phrase regime: $kept")
  }

  test("winnow decontam: >= w+k-1-word verbatim overlap with the eval " +
      "band is always caught; < k-word overlap never is") {
    // The sparse-index trade, pinned at its two DETERMINISTIC corners:
    // a shared run of >= 7 words guarantees a shared selected
    // fingerprint (the winnowing theorem), and a shared run shorter
    // than k = 4 words shares no 4-gram at all, so it cannot hit.
    // (4-6 shared words are the probabilistic middle — deliberately
    // not asserted.) Doc ids are picked so the split lands where the
    // fixture needs it, using the operator's own hash-band rule.
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 100
    }
    val evalId = (1L to 1000L).find(bucket(_) >= 90).get
    val trainIds = (1L to 1000L).filter(bucket(_) < 90).take(2)
    val (hitId, missId) = (trainIds(0), trainIds(1))
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    val evalDoc = passage + " evalx1 evalx2 evalx3 evalx4"
    val hitDoc = "trainy1 trainy2 trainy3 trainy4 " + passage
    // shares only the 3-word run "alpha bravo charlie":
    val missDoc = "alpha bravo charlie mike november oscar papa " +
      "quebec romeo sierra"
    val dir = freshScratch()
    writeTable("documents", Seq(
      (evalId, evalDoc, "en", "web", evalDoc.length.toLong),
      (hitId, hitDoc, "en", "web", hitDoc.length.toLong),
      (missId, missDoc, "en", "web", missDoc.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val rows = TextOps.winnowDecontam(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(hitId, missId),
      s"train side must be exactly the two train docs: ${rows.keySet}")
    assert(rows(hitId).getAs[Boolean]("contaminated"),
      "8-word verbatim overlap must be caught (winnowing guarantee)")
    assert(rows(hitId).getAs[Long]("n_hits") >= 1L)
    assert(!rows(missId).getAs[Boolean]("contaminated"),
      "a 3-word overlap shares no 4-gram and cannot hit")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_fp"))
      assert(r.getAs[Long]("hit_mille") ==
        1000L * r.getAs[Long]("n_hits") / r.getAs[Long]("n_fp"))
    }
  }

  test("pair_edit_verify capped-k semantics: exact distance under the " +
      "cap, -1 sentinel past it (r16 order #4)") {
    // Two candidate pairs through the real (lang, len_bucket)-blocked
    // jaccard screen: a one-word-substitution pair whose distance a
    // reference DP pins exactly, and a shared-passage pair whose tails
    // differ in 120 characters (a multiset lower bound: the 120 x/a
    // occurrences of one tail must each die in one edit), which must
    // report the -1 cap sentinel on BOTH derived columns.
    def lev(s: String, t: String): Int = {
      val d = Array.tabulate(s.length + 1)(i => i)
      for (j <- 1 to t.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to s.length) {
          val tmp = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (s(i - 1) == t(j - 1)) 0 else 1))
          prev = tmp
        }
      }
      d(s.length)
    }
    val dir = freshScratch()
    def words(p: String, n: Int) =
      (1 to n).map(i => f"$p$i%02d").mkString(" ")
    val d1 = words("word", 40)
    val d2 = d1.replace("word20", "wordXX")
    val sharedRun = words("shrd", 30)
    val dX = sharedRun + " " + words("xaaa", 30)
    val dY = sharedRun + " " + words("ybbb", 30)
    writeTable("documents", Seq(
      (1L, d1, "en", "web", d1.length.toLong),
      (2L, d2, "en", "web", d2.length.toLong),
      (3L, dX, "en", "web", dX.length.toLong),
      (4L, dY, "en", "web", dY.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    assert(lev(d1, d2) == 2 && lev(d1, d2) <= TextOps.PairEditMaxEdit)
    assert(lev(dX, dY) == 120 && lev(dX, dY) > TextOps.PairEditMaxEdit)
    val rows = TextOps.pairEditVerify(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r)
      .toMap
    assert(rows.contains((1L, 2L)) && rows.contains((3L, 4L)),
      s"both crafted pairs must survive the candidate screen: " +
        s"${rows.keySet}")
    val near = rows((1L, 2L))
    assert(near.getAs[Int]("edit_distance") == lev(d1, d2))
    assert(near.getAs[Long]("edit_rel_mille") ==
      1000L * lev(d1, d2) / math.max(d1.length, d2.length))
    val far = rows((3L, 4L))
    assert(far.getAs[Int]("edit_distance") == -1)
    assert(far.getAs[Long]("edit_rel_mille") == -1L)
  }
}
