package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, row_number}

/** Candidate pairs: every pair of ids that share a key. This is the
  * candidate half of the engine's candidate-then-verify searches
  * (shingle, winnow-fingerprint, minhash and sign-LSH buckets, banded
  * binary codes, blocking keys, co-occurrence inside an order or a
  * session). Each caller keeps its own verify step: Jaccard, containment,
  * Hamming, cosine, edit distance or a plain count of shared keys.
  *
  * A posting frame holds one row per (key, id), plus any columns the
  * verify step needs. Pairs come from ONE self-equi-join on the key, not
  * from a collected bucket array exploded by a nested lambda: the lambda
  * runs interpreted per emitted pair, while the join, the `a < b` filter
  * and the caller's pair aggregate fuse into whole-stage codegen and
  * spill like any shuffle. Two searches keep an array form, each where
  * the join measured slower: `TextOps.simhashPairs` and
  * `TextOps.crossSourceContamination`.
  *
  * A degenerate bucket (a stop-shingle in every document, a dense code
  * region) would emit m² pairs, so callers cap their postings first with
  * one of the two policies the oracles encode: [[dropAbove]] drops an
  * oversized bucket whole, and [[firstK]] keeps its first k members. */
object Candidates {

  /** Pairs of `id`s that share every column of `key`, one row per
    * (pair, shared key) with `id_a < id_b`. Every non-key column `c` of
    * `post` (the id among them) comes through once per side, as `c_a`
    * and `c_b`, so callers name their posting columns for the pair frame
    * they want. A caller that materializes its postings checkpoints them
    * before the call, so both sides read one materialization. Keys
    * compare by SQL equality, so a NULL key pairs with nothing; a caller
    * whose groups treat NULL as a value makes its key non-null first. */
  def pairs(post: DataFrame, key: Seq[String], id: String): DataFrame = {
    val carried = post.columns.filterNot(key.contains)
    def side(s: String): DataFrame =
      post.select(key.map(col) ++ carried.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), key)
      .filter(col(s"${id}_a") < col(s"${id}_b"))
  }

  /** The postings of every `key` bucket holding between `minSize` and
    * `cap` members, counted by a window on the key; larger buckets are
    * dropped whole, bounding any bucket's pairs at cap². This is the
    * document-frequency cut of inverted-index dedup: a key shared by
    * nearly every member carries no similarity signal. A single-member
    * bucket pairs with nothing, so it goes too, unless other ids reach
    * the bucket without a posting in it (a multiprobe query side), in
    * which case the caller passes `minSize = 1`. */
  def dropAbove(post: DataFrame, key: Seq[String], cap: Int,
      minSize: Int = 2): DataFrame =
    post.withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(key.map(col): _*)))
      .filter(col("bsz").between(minSize, cap))
      .drop("bsz")

  /** The first `k` postings of each `key` bucket in `id` order. The
    * `row_number <= k` filter compiles to WindowGroupLimit, so each map
    * partition forwards at most k rows per bucket before the shuffle and
    * no buffer ever holds a degenerate bucket's full membership. */
  def firstK(post: DataFrame, key: Seq[String], id: String,
      k: Int): DataFrame =
    post.withColumn("rn",
        row_number().over(Window.partitionBy(key.map(col): _*).orderBy(id)))
      .filter(col("rn") <= k)
      .drop("rn")
}
