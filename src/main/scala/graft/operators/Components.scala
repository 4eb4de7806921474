package graft.operators

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.DataFrame

/** Connected components of an undirected edge list: the cluster step of
  * every dedup graph in the engine (text near-dup pairs, winnow pairs,
  * semantic cosine pairs, image Hamming-1 hashes).
  *
  * A component is labelled by its minimum vertex id. That label depends
  * on the component alone, not on the order the search visits it, so a
  * DuckDB recursive closure (`min` over every reachable vertex) checks it
  * exactly, and a cluster's representative is the vertex with
  * `v = component_id`.
  *
  * The search is GraphX `connectedComponents`. Each Pregel superstep is
  * an in-memory join over the cached vertex and edge RDDs in which only
  * vertices whose label changed take part; there is no per-round
  * checkpoint and no per-round convergence job, which is what a
  * DataFrame min-label fixpoint pays and why it is slower on the same
  * graph. */
object Components {

  /** `(v, component_id, is_hub)` for every vertex of `edges`, whose first
    * two columns are the endpoints `(a: Long, b: Long)` of undirected
    * edges.
    *
    * Hub guard: with `hubCap`, a vertex whose degree (its edges, each
    * counted once per end it occupies) exceeds the cap is a hub. Its
    * edges are left out of the search and it emits as its own component
    * with `is_hub` true. Transitive closure through a template page or a
    * dense code-space region chains unrelated content into one cluster;
    * cutting at the high-degree vertices bounds that over-merge and
    * leaves ordinary clusters intact. A vertex whose only edges lead to
    * hubs is a singleton. Without a cap no vertex is a hub.
    *
    * The labels are localCheckpointed before the graphs' cached vertex
    * and edge RDDs are unpersisted, so a call leaves no graph blocks in
    * the block manager. */
  def label(edges: DataFrame, hubCap: Option[Int] = None): DataFrame = {
    // `fromEdges` caches only the edges; caching the vertices too keeps
    // one vertex index, so the label join below zips partitions instead
    // of re-hashing them against a recomputed index.
    val g = Graph.fromEdges(
      edges.rdd.map(r => Edge(r.getLong(0), r.getLong(1), ())), false)
      .cache()
    val flagged = hubCap.fold(g)(cap =>
      g.outerJoinVertices(g.degrees)((_, _, d) => d.exists(_ > cap)))
    val closure =
      if (hubCap.isEmpty) flagged
      else flagged.subgraph(vpred = (_, hub) => !hub)
    val cc = closure.connectedComponents()
    val labels = flagged.vertices
      .leftJoin(cc.vertices)((v, hub, l) => (v, l.getOrElse(v), hub))
      .values
    val out = edges.sparkSession.createDataFrame(labels)
      .toDF("v", "component_id", "is_hub").localCheckpoint()
    // Without a cap `flagged` and `closure` are `g`: unpersist each once.
    Seq(g, flagged, closure, cc).distinct
      .foreach(_.unpersist(blocking = false))
    out
  }
}
