package graft

import graft.operators.Candidates

/** The one candidate-pair operator: each unordered pair once per shared
  * key with both sides' carried columns, and the two bucket caps. */
class CandidatesSpec extends GraftSpec {
  import spark.implicits._

  /** (key, id) postings: bucket 1 holds ids 1-3, bucket 2 ids 1-2,
    * bucket 3 id 4 alone. */
  private def post =
    Seq((1, 1L), (1, 2L), (1, 3L), (2, 1L), (2, 2L), (3, 4L))
      .toDF("k", "id")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[(Int, Long)] =
    df.select("k", "id").as[(Int, Long)].collect().toSet

  test("pairs emits a < b once per shared key, with each side's columns") {
    val got = Candidates.pairs(post.withColumn("w", $"id" * 10), Seq("k"),
        "id")
      .select("k", "id_a", "w_a", "id_b", "w_b")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got === Seq((1, 1L, 10L, 2L, 20L), (1, 1L, 10L, 3L, 30L),
      (1, 2L, 20L, 3L, 30L), (2, 1L, 10L, 2L, 20L)))
  }

  test("dropAbove keeps buckets of minSize to cap members") {
    assert(ids(Candidates.dropAbove(post, Seq("k"), 2)) ===
      Set((2, 1L), (2, 2L)))
    assert(ids(Candidates.dropAbove(post, Seq("k"), 2, minSize = 1)) ===
      Set((2, 1L), (2, 2L), (3, 4L)))
  }

  test("firstK keeps each bucket's k smallest ids") {
    assert(ids(Candidates.firstK(post, Seq("k"), "id", 2)) ===
      Set((1, 1L), (1, 2L), (2, 1L), (2, 2L), (3, 4L)))
  }
}
