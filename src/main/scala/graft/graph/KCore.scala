package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count => fcount, lit}

/** K-CORE DECOMPOSITION — the maximal subgraph in which every vertex
  * keeps degree ≥ k, computed by the standard iterative peel (Seidman
  * 1983; the distributed form is Montresor et al. 2013): repeatedly
  * drop vertices whose degree WITHIN the surviving set falls below k,
  * until a fixpoint. The peel cascades — removing the fringe can push
  * interior vertices below k (a path at k=2 dissolves from the ends
  * inward, one layer per round) — so the loop must run to fixpoint,
  * not a fixed depth; the companion graph-analytics screen to PageRank
  * (qg9: global centrality) and Triangles (qg10: local clustering),
  * used to isolate a corpus's dense interaction core.
  *
  * Scale shape: per iteration, the directed edge list filters to
  * live×live via two SEMI joins (id-keyed — the edge payload never
  * re-shuffles wider than (src, dst)) and one count aggregate with
  * map-side partials; the live-vertex set is the only thing that
  * changes. Convergence is one `count()` per round, and each live set
  * `localCheckpoint`s so K rounds never stack K join plans (the qg9
  * lineage lesson — persist alone nests the plan one join deeper per
  * iteration until plan construction OOMs). Rounds are bounded by the
  * peel depth (the graph's degeneracy ordering), not the vertex count.
  */
object KCore {

  /** Vertices of the k-core with their within-core degree:
    * `(node, core_deg)`, core_deg ≥ k. Input may contain duplicates,
    * both orientations, and self-loops — canonicalized first. An empty
    * core returns an empty frame with the same schema.
    */
  def decompose(edges: DataFrame, aCol: String, bCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the peel loop probes ed every round
    val (ed, parts) = Iterate.adjacency(edges, aCol, bCol)

    var alive = ed.select(col("v")).distinct().coalesce(parts).localCheckpoint(true)
    var n = alive.count()
    var converged = n == 0L
    while (!converged) {
      val next = ed
        .join(alive, Seq("v"), "left_semi")
        .join(alive.select(col("v").as("w")), Seq("w"), "left_semi")
        .groupBy("v").agg(fcount(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select("v")
        .coalesce(parts)
        .localCheckpoint(true)
      val m = next.count()
      converged = m == n
      alive = next
      n = m
    }
    // materialize the node-sized result (checkpoint blocks free on GC —
    // nothing pins executor storage for the session)
    ed
      .join(alive, Seq("v"), "left_semi")
      .join(alive.select(col("v").as("w")), Seq("w"), "left_semi")
      .groupBy("v").agg(fcount(lit(1)).as("core_deg"))
      .select(col("v").as("node"), col("core_deg"))
      .localCheckpoint(true)
  }
}
