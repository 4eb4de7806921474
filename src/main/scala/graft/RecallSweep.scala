package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** Measurement harness for the ANN quality knobs: recall@1 of the IVF
  * variants against the exact brute-force nearest neighbor, per Lloyd
  * iteration count (0 = the untrained stride-sampled quantizer of
  * `annIvfTop1`), then the PQ, MIH and RP families. The cosine ground
  * truth is the memoized [[VectorOps.exactTop1]] the quality report
  * reads, and stage-2 picks go through [[VectorOps.cosineTop1]]; only
  * the exact L2 pick the PQ rows are judged by is derived here. Dev tool — run with
  * `sbt "runMain graft.RecallSweep [sfDir]"` (cores from
  * `SPARK_GRAFT_CPUS`, see [[Session]]); the measured numbers are
  * documented at [[VectorOps.LloydIters]]. Not part of the driver
  * contract (Verify/Bench) and registered in no query map. */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Session.local(Session.cpus)
    graft.functions.Natives.ensure(spark)
    // Exact top-1 by brute force (N² dots — the harness runs at small SF
    // only), with the same (cosine desc, c_id asc) tiebreak as the ANN
    // queries.
    val exact = VectorOps.exactTop1(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(expr("vec_dot(embedding, embedding)")).as("norm"))
    val q = e.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("norm").as("c_norm"))
    val total = exact.count().toDouble
    for (iters <- 0 to 3) {
      val ann =
        if (iters == 0) VectorOps.annIvfTop1(spark, dir)
        else VectorOps.annIvfTrainedTop1Iter(spark, dir, iters)
      val hits = ann.select(col("q_id"), col("c_id"))
        .join(exact, "q_id")
        .filter(col("c_id") === col("exact_c"))
        .count()
      println(f"lloyd_iters=$iters%d recall@1=${hits / total}%.3f " +
        f"(nprobe=${VectorOps.NProbe}%d, n=${total.toLong}%d)")
    }
    // IVF-PQ: same coarse candidates as annIvfTop1, scored on
    // PqSubspaces-byte codes (16 subspaces × 6-bit codebooks = 12
    // bytes). Measured against the exact L2 top-1 (PQ approximates
    // squared L2) — and against the raw-vector IVF pick to isolate the
    // quantization loss from the candidate-generation loss.
    val exactL2 = q.crossJoin(broadcast(c))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("d2",
        expr("vec_dot(q_emb, q_emb)") -
          lit(2.0) * expr("vec_dot(q_emb, c_emb)") +
          expr("vec_dot(c_emb, c_emb)"))
      .groupBy("q_id")
      .agg(min(struct(col("d2"), col("c_id"))).as("best"))
      .select(col("q_id"), col("best.c_id").as("exact_l2_c"))
      .cache()
    val pq = VectorOps.annPqTop1(spark, dir)
      .select(col("q_id"), col("c_id")).cache()
    val pqL2Hits = pq.join(exactL2, "q_id")
      .filter(col("c_id") === col("exact_l2_c")).count()
    val ivfPick = VectorOps.annIvfTop1(spark, dir)
      .select(col("q_id"), col("c_id").as("ivf_c"))
    val pqIvfAgree = pq.join(ivfPick, "q_id")
      .filter(col("c_id") === col("ivf_c")).count()
    println(f"pq recall@1(L2)=${pqL2Hits / total}%.3f " +
      f"agree_with_ivf=${pqIvfAgree / total}%.3f " +
      f"(m=${VectorOps.PqSubspaces}%d k=${VectorOps.PqCodebook}%d, " +
      f"n=${total.toLong}%d)")
    // MIH: sign-bit Hamming is a 128×-compressed PROXY metric, so two
    // recalls matter — coverage (share of queries that surface any
    // candidate through the banded join) and agreement with the exact
    // COSINE pick (how often 64 sign bits suffice to name the true
    // neighbor).
    val mih = VectorOps.annMihTop1(spark, dir)
      .select(col("q_id"), col("c_id")).cache()
    val mihN = mih.count().toDouble
    val mihCosHits = mih.join(exact, "q_id")
      .filter(col("c_id") === col("exact_c")).count()
    println(f"mih coverage=${mihN / total}%.3f " +
      f"recall@1(cosine)=${mihCosHits / total}%.3f " +
      f"(bands=${VectorOps.MihBands}%dx${VectorOps.MihBandBits}%d bits, " +
      f"n=${total.toLong}%d)")
    // MIH + exact-cosine rerank: the two-stage production shape — the
    // number that matters is agreement with the exact brute-force
    // cosine pick (the rerank's ceiling is MIH's candidate coverage;
    // its floor is the bare Hamming argmin's 0.086).
    val rr = VectorOps.annMihRerankTop1(spark, dir)
      .select(col("q_id"), col("c_id")).cache()
    val rrN = rr.count().toDouble
    val rrHits = rr.join(exact, "q_id")
      .filter(col("c_id") === col("exact_c")).count()
    println(f"mih_rerank coverage=${rrN / total}%.3f " +
      f"recall@1(cosine)=${rrHits / total}%.3f " +
      f"(cap=${VectorOps.MihRerankCap}%d, n=${total.toLong}%d)")
    // Decomposition of the rerank number: (a) candidate coverage of the
    // TRUE neighbor — the hard ceiling no rerank can beat (did the
    // banded stage-1 surface the exact-cosine pick at all?) — and
    // (b) shortlist retention — among queries whose full candidate set
    // contains a cosine-best candidate, how often the capped Hamming
    // shortlist keeps a pick that matches the UNCAPPED exact-cosine
    // argmax over all candidates (stage-2 fidelity: what cap costs).
    val mihCand = VectorOps.mihScoredPairsUncached(spark, dir)
      .select(col("q_id"), col("c_id")).cache()
    val candTrue = mihCand.join(exact, "q_id")
      .filter(col("c_id") === col("exact_c"))
      .select("q_id").distinct().count()
    val fullBest = VectorOps.cosineTop1(mihCand, e)
      .select(col("q_id"), col("c_id").as("full_c"))
    val retained = rr.join(fullBest, "q_id")
      .filter(col("c_id") === col("full_c")).count()
    println(f"mih_rerank true_in_cand=${candTrue / total}%.3f " +
      f"shortlist_retention=${retained / rrN}%.3f " +
      f"(cap=${VectorOps.MihRerankCap}%d, n=${total.toLong}%d)")
    // PQ + exact-L2 rerank: stage-2 losslessness makes
    // recall@1 equal the coarse candidate stage's true-neighbor
    // coverage — measured against the same exact-L2 pick as the bare
    // ADC argmin for a direct before/after.
    val pqr = VectorOps.annPqRerankTop1(spark, dir)
      .select(col("q_id"), col("c_id")).cache()
    val pqrHits = pqr.join(exactL2, "q_id")
      .filter(col("c_id") === col("exact_l2_c")).count()
    println(f"pq_rerank recall@1(L2)=${pqrHits / total}%.3f " +
      f"(cap=${VectorOps.PqRerankCap}%d, n=${total.toLong}%d)")
    // RP-256 + rerank: the longer-codes answer to the 64-bit
    // ceiling — same decomposition as the MIH rerank (coverage,
    // recall@1, true-in-candidates) so the two families read
    // side-by-side.
    val rp = VectorOps.annRpRerankTop1(spark, dir)
      .select(col("q_id"), col("c_id")).cache()
    val rpN = rp.count().toDouble
    val rpHits = rp.join(exact, "q_id")
      .filter(col("c_id") === col("exact_c")).count()
    val rpCandTrue = VectorOps.rpScoredPairsUncached(spark, dir)
      .select(col("q_id"), col("c_id"))
      .join(exact, "q_id")
      .filter(col("c_id") === col("exact_c"))
      .select("q_id").distinct().count()
    println(f"rp_rerank coverage=${rpN / total}%.3f " +
      f"recall@1(cosine)=${rpHits / total}%.3f " +
      f"true_in_cand=${rpCandTrue / total}%.3f " +
      f"(bands=${VectorOps.RpBands}%dx${VectorOps.RpBandBits}%d bits, " +
      f"cap=${VectorOps.MihRerankCap}%d, n=${total.toLong}%d)")
    spark.stop()
  }
}
