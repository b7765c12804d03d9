package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Iterate

/** K-TRUSS DECOMPOSITION (Cohen 2008) — the maximal subgraph in which
  * every edge participates in ≥ k−2 triangles: the EDGE-cohesion
  * sibling of the k-core's vertex degrees, and the standard "community
  * nucleus" extractor (every k-truss is a (k−1)-core, but far denser).
  * Same iterative-peel fixpoint as [[KCore]], on [[Iterate.untilStable]]:
  * dropping a weak edge destroys triangles of its neighbours, so the
  * peel cascades and must run to a fixpoint, not a fixed depth.
  *
  * Per round, edge support is computed by degree-ordered triangle
  * ENUMERATION (the [[Triangles]] compact-forward orientation), not by
  * intersecting full undirected neighbourhoods: support(e) is the
  * number of triangles containing e, every triangle is enumerated
  * exactly once from its (degree, id)-lowest vertex — where adjacency
  * is capped at O(√m) REGARDLESS of skew — and then attributed to its
  * three edges through one keyed aggregate. The earlier full-
  * neighbourhood `array_intersect` form carried a celebrity node's
  * true-degree array into every incident edge's intersection: measured
  * 456 s on 10⁶ random edges + one degree-10⁵ hub vs 2.9 s skew-free
  * (graph scale probe ktruss4-skew, git 3e96ab2). This form pays one extra shuffle
  * of 3·#triangles edge rows plus the per-round orientation joins
  * (~2× on small skew-FREE graphs: 2.9 → 5.4 s at 10⁶) and is immune
  * to the hub, whose edges all orient INTO it leaving its out-list
  * near-empty: same skew probe, 6.8 s — 67× under the intersect form.
  */
object Truss {

  /** Edges of the k-truss with their within-truss support:
    * `(a, b, support)`, a < b, support ≥ k−2. Input may contain
    * duplicates, both orientations, self-loops. Empty truss → empty
    * frame, same schema.
    */
  def decompose(edges: DataFrame, aCol: String, bCol: String, k: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")

    // (a, b, support) for every current edge with support ≥ 1; edges in
    // no triangle simply emit no rows (support 0 — always below the
    // k−2 ≥ 1 peel threshold, so omission is equivalent to filtering)
    def supports(cur: DataFrame): DataFrame = {
      val dir = Edges.oriented(cur, Edges.degrees(cur))
      // triangle {u,v,w} appears exactly once, as the wedge u→v, u→w
      // closed by v→w — so exploding N⁺(u) ∩ N⁺(v) per directed edge
      // enumerates each triangle once
      val tris = Edges.closing(dir, Edges.outLists(dir))
        .select(col("src").as("u"), col("dst").as("v"),
          explode(array_intersect(col("__nu"), col("__nv"))).as("w"))
      // one triangle row → +1 support on each of its three edges (the
      // orientation order is (deg, id), so re-canonicalize by id)
      tris
        .select(explode(array(
          struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
          struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
          struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
    }

    // the peel only shrinks the edge set (no row is flagged), so an
    // unchanged size is the fixpoint
    val cur = Iterate.untilStable(Edges.canonical(edges, aCol, bCol),
        Int.MaxValue, "Truss.decompose") { (s, _) =>
      supports(s)
        .filter(col("support") >= k - 2)
        .select(col("a"), col("b"), lit(false).as("__imp"))
    }
    supports(cur)
  }
}
