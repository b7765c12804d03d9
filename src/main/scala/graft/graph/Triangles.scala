package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact TRIANGLE COUNTING by degree-ordered orientation — the
  * compact-forward algorithm (Schank & Wagner 2005; the MapReduce form
  * is Suri & Vassilvitskii 2011's "Counting triangles and the curse of
  * the last reducer", which names exactly the failure this orientation
  * prevents).
  *
  * Every undirected edge is directed from its (degree, id)-smaller
  * endpoint. Under that orientation each vertex's OUT-degree is
  * O(√m) regardless of skew, so the wedge join below never explodes:
  * a celebrity node with 10⁷ neighbours contributes wedges only through
  * its handful of higher-ordered neighbours, never 10¹⁴ pairs — the
  * "last reducer" a naive neighbour self-join dies on at scale. Each
  * triangle x<y<z (in the degree order) appears exactly once as the
  * wedge x→y→z closed by the directed edge x→z.
  *
  * Plan shape: canonicalize (one distinct), degree (one aggregate), two
  * degree lookups, wedge equi-join on the shared vertex, closing
  * equi-join on (u, w) — every join keyed, no cartesian anywhere
  * (TrianglesSpec pins that), all shuffles on edge keys.
  *
  * Reference: no analog (the reference's graph tier is routing); this is
  * the beyond-reference graph-analytics row next to PageRank (qg9).
  */
object Triangles {

  /** One-row (n_nodes, n_edges, triangles) over an edge list. Input may
    * contain duplicates, both orientations, and self-loops — it is
    * canonicalized to simple undirected edges first.
    */
  def count(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // e feeds four branches (deg, orientation, n_edges, wedge closure)
    // and dir feeds three. EAGER localCheckpoint, not lazy persist: the
    // one final action launches the n_nodes/n_edges crossJoin subqueries
    // and the wedge joins CONCURRENTLY, and over a lazy cache those
    // branches race the fill — event-log-measured on the same-shaped
    // Structure.neighborhoodJaccard as ~10× summed task time at 32
    // local cores (slots parked on cache-fill block locks). Blocks free
    // on GC like every checkpoint in this tier.
    val e = Edges.canonical(edges, aCol, bCol).localCheckpoint(true)
    val deg = Edges.degrees(e)
    val dir = Edges.oriented(e, deg).localCheckpoint(true)

    // EDGE-ITERATOR closing: triangles(x<y<z) = Σ over directed edges
    // (u→v) of |N⁺(u) ∩ N⁺(v)|. The alternative — materializing wedges
    // u→v→w and closing with a third join — shuffles Σ in·out ≈ |E|·d
    // rows (measured 217 s at 10⁷ edges); here the per-node out-lists
    // (each ≤ O(√m) BY the orientation, so no 2 GB-row hazard) join to
    // the |E| edge rows and the intersection runs inside codegen —
    // same asymptotic work, two orders of magnitude less data moved
    // (10⁷ edges: 217 s → see ENGINE.md).
    val out = Edges.outLists(dir).localCheckpoint(true)
    val tri = Edges.closing(dir, out)
      .select(size(array_intersect(col("__nu"), col("__nv"))).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("triangles"))

    // materialize the 1-row summary (checkpoint blocks above free when
    // their frames are GC'd — nothing pins executor storage across the
    // bench's repeated runs)
    deg.agg(org.apache.spark.sql.functions.count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(org.apache.spark.sql.functions.count(lit(1)).as("n_edges")))
      .crossJoin(tri)
      .localCheckpoint(true)
  }

  /** PER-NODE triangle counts + LOCAL CLUSTERING COEFFICIENT
    * `c(v) = 2·t(v) / (d(v)·(d(v)−1))` — the node-level companion to
    * [[count]]'s global readout: how clique-like each vertex's
    * neighborhood is (the community-structure screen next to k-core's
    * density peel). Nodes with degree < 2 report a null coefficient
    * (no wedge exists to close).
    *
    * Same skew-proof orientation as [[count]]; the only difference is
    * the closing intersection EXPLODES its members (each triangle
    * x<y<z emits once and credits its three corners) instead of
    * summing sizes — output is Θ(triangles), the quantity itself.
    */
  def perNode(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // eager chain (the count() rationale): every multi-consumer frame
    // materializes once before its concurrent consumers plan against it
    val e = Edges.canonical(edges, aCol, bCol).localCheckpoint(true)
    val deg = Edges.degrees(e).localCheckpoint(true)
    val dir = Edges.oriented(e, deg).localCheckpoint(true)
    val out = Edges.outLists(dir).localCheckpoint(true)
    val corners = Edges.closing(dir, out)
      .select(col("src"), col("dst"),
        explode(array_intersect(col("__nu"), col("__nv"))).as("__w"))
    val triPerNode = corners.select(col("src").as("v"))
      .unionAll(corners.select(col("dst").as("v")))
      .unionAll(corners.select(col("__w").as("v")))
      .groupBy("v").agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles"))
    deg
      .join(triPerNode, Seq("v"), "left")
      .select(
        col("v").as("node"),
        col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2L,
          round((lit(2L) * coalesce(col("triangles"), lit(0L))).cast("double")
            / (col("deg") * (col("deg") - 1L)).cast("double"), 6))
          .as("clustering_coef"))
      .localCheckpoint(true)
  }
}
