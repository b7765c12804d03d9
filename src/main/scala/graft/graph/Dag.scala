package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Iterate

/** TOPOLOGICAL LAYERING of a DAG — per node, the length of the LONGEST
  * directed path ending at it (sources = layer 0): the scheduling
  * primitive behind dependency-graph wave execution ("everything in
  * layer L can run once layers < L finished"), build-graph critical
  * depth, citation-generation depth, and curriculum ordering. The
  * directed complement to [[Bfs]]'s shortest-hop distance: same
  * fixpoint machinery, max-fold instead of min-fold.
  *
  * Algorithm: the longest-path DP `layer(v) = max(0, 1 + max over
  * incoming u→v of layer(u))` iterated to fixpoint on
  * [[Iterate.untilStable]]. Layers only GROW, so a row whose max-merged
  * layer beats its old one is flagged and the first round flagging none
  * is the fixpoint. Round t settles every path of ≤ t hops, so an
  * acyclic input stops within n rounds (≤ n − 1 improving ones), while
  * on a cycle every round improves: still improving at round n PROVES a
  * cycle — the operator throws rather than returning garbage ranks for
  * a non-DAG input (cycles make "longest path" undefined; silently
  * dropping back-edges would hide a data bug). Self-loops are cycles
  * and throw via the same guard.
  *
  * Null endpoints (the [[Scc]] contract): an edge with a null side is
  * NO EDGE, but its non-null side is still a node (isolated ⇒ layer 0).
  * A null never surfaces as an output row.
  *
  * Output `(node, layer)`, one row per distinct endpoint.
  *
  * Scale shape: state is Θ(n) rows keyed by node; each round is one
  * edge-keyed equi-join + one node-keyed max aggregate,
  * localCheckpointed so plans never stack (the qg9 lineage lesson). No
  * driver-side graph — the only driver value is the node count, observed
  * inside the node table's own checkpoint job
  * ([[Iterate.checkpointCounted]]), so no count job runs; the
  * changed-row count is observed inside each round's checkpoint job.
  * Rounds = the longest path length L + 1 (inherent to
  * label propagation; a 100 TB dependency corpus is wide and shallow,
  * so L stays small while n scales). Throws after `maxRounds` rounds
  * without convergence.
  */
object Dag {

  def longestPathLayer(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 256): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val typed = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    val e = typed
      .filter(col("s").isNotNull && col("d").isNotNull)
      .distinct()
      .localCheckpoint(true)
    val (nodes, nNodes) = Iterate.checkpointCounted(Edges.endpoints(typed))

    untilAcyclic(nodes.select(col("node"), lit(0L).as("layer")),
        nNodes, maxRounds, "longestPathLayer") { layer =>
      // the old layer rides the merge under a tag, so the same max
      // aggregate recovers it and "grew" is a column
      layer.select(col("node"), col("layer"), lit(false).as("__cand"))
        .unionAll(
          e.join(layer.withColumnRenamed("node", "s"), Seq("s"))
            .select(col("d").as("node"), (col("layer") + 1L).as("layer"),
              lit(true).as("__cand")))
        .groupBy(col("node"))
        .agg(max(col("layer")).as("layer"),
          max(when(!col("__cand"), col("layer"))).as("__ol"))
        .select(col("node"), col("layer"), (col("layer") =!= col("__ol")).as("__imp"))
    }
  }

  /** The fixpoint both DPs share: `step` from `init` on
    * [[Iterate.untilStable]], bounded at min(maxRounds, nNodes) rounds.
    * An acyclic input is stable by round nNodes; still improving there
    * means a cycle and throws `IllegalArgumentException`, while a
    * `maxRounds` below nNodes keeps its own round-bound error.
    */
  private def untilAcyclic(init: DataFrame, nNodes: Long, maxRounds: Int, what: String)(
      step: DataFrame => DataFrame): DataFrame = {
    val bound = math.max(1L, math.min(maxRounds.toLong, nNodes)).toInt
    try Iterate.untilStable(init, bound, what)((s, _) => step(s))
    catch {
      case bound: IllegalStateException if nNodes <= maxRounds =>
        throw new IllegalArgumentException(
          s"input graph has a cycle: a path of length $nNodes exists over " +
            s"$nNodes nodes (acyclic inputs are bounded by n - 1)", bound)
    }
  }

  /** CRITICAL PATH — [[longestPathLayer]] with edge DURATIONS: per node,
    * the maximum total duration of any directed path ending at it
    * (sources = 0), i.e. the earliest-start time under "a task starts
    * when its slowest dependency chain finishes". The project-schedule /
    * build-graph primitive; the unweighted layer is the special case
    * w ≡ 1.
    *
    * The fixpoint carries BOTH the max-plus cost and the unweighted hop
    * layer: the hop layer is what detects cycles EXACTLY (layer ≥ n ⇒
    * throw, the [[longestPathLayer]] guard — a zero-duration cycle
    * would let the cost fold converge silently, so cost alone cannot
    * certify acyclicity). Costs accumulate left-to-right along the
    * winning path and merge by max, so a recursive-CTE replay is
    * bit-identical; integer-valued durations give exact integer costs.
    *
    * Convergence is an EXACT per-node changed-row flag on
    * [[Iterate.untilStable]]: the old state rides the merge union under
    * a tag, so the same max aggregate that merges also recovers the old
    * (layer, cost) per node and rows whose layer OR cost moved are
    * flagged and counted inside the round's checkpoint job. The first
    * draft's Σcost signature was a double sum that could absorb a
    * same-hop-length cost improvement smaller than the sum's ulp
    * (Σ≈10¹⁶ swallows deltas < 1); a row-wise compare of max-merged
    * values is immune — an unchanged cost is the bit-identical double
    * from the same fold, so `=!=` fires exactly on real movement.
    *
    * Null endpoints/durations drop as edges, endpoints stay as
    * cost-0 nodes. Output `(node, layer, cost)`.
    */
  def criticalPath(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      maxRounds: Int = 256): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val typed = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"),
        col(wCol).cast("double").as("w"))
    val e = typed
      .filter(col("s").isNotNull && col("d").isNotNull && col("w").isNotNull)
      .groupBy(col("s"), col("d"))
      .agg(max(col("w")).as("w")) // parallel tasks: the slowest binds
      .localCheckpoint(true)
    val (nodes, nNodes) = Iterate.checkpointCounted(Edges.endpoints(typed))

    untilAcyclic(nodes.select(col("node"), lit(0L).as("layer"), lit(0.0).as("cost")),
        nNodes, maxRounds, "criticalPath") { state =>
      // FUSED round: the old state rides the same union under a tag, so
      // ONE max aggregate yields the merged (layer, cost) AND the old
      // values per node. The node set is stable (every round's union
      // carries every node), so the old-value max is total and a row
      // moved iff layer or cost grew — an exact compare of max-merged
      // values.
      state
        .select(col("node"), col("layer"), col("cost"), lit(false).as("__cand"))
        .unionAll(
          e.join(state.withColumnRenamed("node", "s"), Seq("s"))
            .select(col("d").as("node"), (col("layer") + 1L).as("layer"),
              (col("cost") + col("w")).as("cost"), lit(true).as("__cand")))
        .groupBy(col("node"))
        .agg(
          max(col("layer")).as("layer"), max(col("cost")).as("cost"),
          max(when(!col("__cand"), col("layer"))).as("__ol"),
          max(when(!col("__cand"), col("cost"))).as("__oc"))
        .select(col("node"), col("layer"), col("cost"),
          (col("layer") =!= col("__ol") || col("cost") =!= col("__oc"))
            .as("__imp"))
    }
  }
}
