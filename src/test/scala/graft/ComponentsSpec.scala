package graft

import graft.operators.Components

/** The one connected-components operator: labels are component minima,
  * the hub guard cuts high-degree vertices to flagged singletons, and
  * degenerate inputs do not throw. */
class ComponentsSpec extends GraftSpec {
  import spark.implicits._

  private def labels(edges: Seq[(Long, Long)],
      hubCap: Option[Int] = None): Map[Long, (Long, Boolean)] =
    Components.label(edges.toDF("a", "b"), hubCap).collect()
      .map(r => r.getAs[Long]("v") ->
        (r.getAs[Long]("component_id"), r.getAs[Boolean]("is_hub")))
      .toMap

  test("an empty edge list gives zero rows") {
    assert(labels(Seq.empty).isEmpty)
    assert(labels(Seq.empty, Some(5)).isEmpty)
  }

  test("a 16-path labels every vertex with the minimum id") {
    // Diameter 15: the minimum must travel the whole path.
    val got = labels((1 to 15).map(i => (i.toLong, (i + 1).toLong)))
    assert(got.keySet == (1L to 16L).toSet)
    assert(got.values.forall(_ == (1L, false)), s"bad labels: $got")
  }

  test("the hub guard cuts a star's centre and keeps an ordinary pair") {
    // Centre 10 has 6 leaves (degree 6 > cap 5): it is a flagged
    // singleton and each leaf, whose only edge led to the hub, is its
    // own component. The pair 20-21 still merges.
    val star = (11L to 16L).map(l => (10L, l))
    val got = labels(star :+ ((21L, 20L)), Some(5))
    assert(got(10L) == ((10L, true)))
    (11L to 16L).foreach(l => assert(got(l) == ((l, false)), s"leaf $l"))
    assert(got(20L) == ((20L, false)) && got(21L) == ((20L, false)))
    assert(got.size == 9)
  }

  test("without a cap no vertex is a hub") {
    val star = (11L to 16L).map(l => (10L, l))
    val got = labels(star :+ ((21L, 20L)))
    assert(got.values.forall(!_._2))
    (10L to 16L).foreach(v => assert(got(v)._1 == 10L))
    assert(got(21L)._1 == 20L)
  }
}
