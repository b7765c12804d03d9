package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS (Kleinberg 1999) over a weighted edge table — hubs point at
  * good authorities, authorities are pointed at by good hubs: the
  * directed-graph complement of PageRank's stationary-flow rank (qg9).
  * Where PageRank answers "how central is this node to flow", HITS
  * separates the two directed roles — in the trade graph a nation can
  * be a strong BUYER hub without being a SELLER authority at all.
  *
  * Iteration (weighted mutual reinforcement, fixed count):
  * {{{
  *   a_t(v) = Σ_{u→v} w(u,v) · h_{t−1}(u) / ΣW
  *   h_t(u) = Σ_{u→v} w(u,v) · a_t(v)     / ΣW
  * }}}
  * followed by ONE max-normalization of the final vectors. Power
  * iteration is scale-invariant — any per-step positive scaling yields
  * the same max-normalized output — so the per-step divisor only
  * exists to keep magnitudes bounded, and a CONSTANT (the total edge
  * weight ΣW, so every score stays ≤ 1) does that with ZERO per-step
  * driver work: each iteration is one lazy two-join plan ending in a
  * single eager `localCheckpoint`, the qg9 job profile, instead of the
  * two max-aggregate jobs per half-step the textbook per-step
  * normalization costs (measured 18.8 → ~5 s at sf0.1). `max` for the
  * final normalization (not L2): comparison-exact in every engine,
  * while a sum of squares inherits summation-order ulps a root then
  * smears across every score. The one remaining float slack — the
  * per-node Σ w·h — is the same bounded-fan-in slack qg9 carries,
  * absorbed by the 6-dp output round. Fixed iterations keep the result
  * an exact arithmetic function of the input — replayable as unrolled
  * MATERIALIZED CTEs (the qg11 k-core oracle pattern).
  *
  * ΣW is exact cross-engine when weights are integer-valued (counts —
  * double addition of integers below 2⁵³ is order-free); for genuinely
  * fractional weights it may differ by an ulp between engines, a
  * relative slack far inside the 6-dp round. Scores can underflow to 0
  * only if a node's relative inflow is < ~1e-38 per step for every
  * step — pathological; documented rather than guarded.
  *
  * Output: (node, hub, authority) for every node, max score 1.0 on
  * each axis; sourceless nodes get authority from in-edges and hub 0,
  * sinkless ones vice versa.
  */
object Hits {

  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = edges.sparkSession

    // eager, not a lazy persist: the first action over a lazy cache is
    // nodes' union-distinct, whose two branches scan e inside ONE job
    // and race the cache fill — the caller's (possibly 4-table) edge
    // build would run up to twice before the cache lands
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("double").as("w"))
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "empty graph")
    val sumW = e.agg(sum("w")).head().getDouble(0)
    require(sumW > 0.0, s"total edge weight must be positive, got $sumW")
    val parts = Iterate.parts(spark, n)
    // size the per-iteration probes to the data (the PageRank transV /
    // rankParts rationale): e's checkpoint and nodes' cache hold
    // shuffle.partitions KB-blocks, and every gather would launch that
    // many tasks regardless of data
    val eV = e.coalesce(Iterate.parts(spark, e.count()))
    val nodesV = nodes.coalesce(parts)

    // gather along edges: scores flow src→dst (by="src", out="dst") or
    // dst→src; nodes with no contributing edge score 0; the constant
    // ΣW divisor keeps every score in [0, 1]
    def gather(scores: DataFrame, inCol: String, by: String, out: String,
        outCol: String): DataFrame =
      nodesV.join(
        scores.join(eV, scores("node") === eV(by))
          .groupBy(col(out).as("node"))
          .agg((sum(col("w") * col(inCol)) / lit(sumW)).as("__raw")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("__raw"), lit(0.0)).as(outCol))

    // coalesce, not repartition: narrow merge to parts, no keyless
    // exchange (and no sort-before-repartition pass) per checkpoint
    var h = nodesV.select(col("node"), lit(1.0).as("h"))
      .coalesce(parts).localCheckpoint(true)
    var a: DataFrame = null
    (1 to iterations).foreach { _ =>
      // a stays LAZY inside the iteration — only h checkpoints, so the
      // whole iteration is one job; the final a re-derives from the
      // last checkpointed h at output time (one cheap extra gather)
      a = gather(h, "h", by = "src", out = "dst", outCol = "a")
      h = gather(a, "a", by = "dst", out = "src", outCol = "h")
        .coalesce(parts).localCheckpoint(true)
    }
    // the last a must checkpoint too: it still references e/nodes,
    // which unpersist below (recompute would re-run the edge build on
    // every downstream action)
    val aFinal = a.coalesce(parts).localCheckpoint(true)
    val joined = h.join(aFinal, Seq("node"))
    val m = joined.agg(max("h").as("__mh"), max("a").as("__ma"))
    val out = joined.crossJoin(broadcast(m))
      .select(
        col("node"),
        when(col("__mh") > 0.0, col("h") / col("__mh"))
          .otherwise(lit(0.0)).as("hub"),
        when(col("__ma") > 0.0, col("a") / col("__ma"))
          .otherwise(lit(0.0)).as("authority"))
    // e is a localCheckpoint now — its blocks free when the frame is
    // GC'd; only the lazily-persisted nodes cache needs an explicit drop
    nodes.unpersist()
    out
  }
}
