package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TOPOLOGICAL LAYERING of a DAG — per node, the length of the LONGEST
  * directed path ending at it (sources = layer 0): the scheduling
  * primitive behind dependency-graph wave execution ("everything in
  * layer L can run once layers < L finished"), build-graph critical
  * depth, citation-generation depth, and curriculum ordering. The
  * directed complement to [[Bfs]]'s shortest-hop distance: same
  * fixpoint machinery, max-fold instead of min-fold.
  *
  * Algorithm: the longest-path DP `layer(v) = max(0, 1 + max over
  * incoming u→v of layer(u))` iterated to fixpoint. Layers only GROW
  * and are bounded by n − 1 on any acyclic input, so the (count, Σ)
  * mass signature detects convergence (the SCC/HyperBall idiom —
  * EXACT here because layers are integer Longs summed without
  * rounding: any single-node growth strictly raises Σlayer, so the
  * signature cannot absorb a change the way [[criticalPath]]'s old
  * FP cost sum could) and a
  * layer reaching n PROVES a cycle — the operator throws rather than
  * returning garbage ranks for a non-DAG input (cycles make "longest
  * path" undefined; silently dropping back-edges would hide a data
  * bug). Self-loops are cycles and throw via the same guard.
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
  * driver-side graph — the only driver values are the 1-row signature
  * and node count. Rounds = the longest path length L (inherent to
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
    val nodes = typed
      .select(col("s").as("node"))
      .unionAll(typed.select(col("d").as("node")))
      .filter(col("node").isNotNull)
      .distinct()
      .localCheckpoint(true)
    val nNodes = nodes.count()

    var layer = nodes.select(col("node"), lit(0L).as("layer"))
      .localCheckpoint(true)
    // one driver row per round: the convergence signature AND the
    // cycle guard share a single aggregate pass
    def sig(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("layer")), lit(0L)),
        coalesce(max(col("layer")), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var prev = sig(layer)
    var rounds = 0
    var changing = nNodes > 0
    while (changing) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"longestPathLayer did not converge within $maxRounds rounds — " +
            "either a cycle or a longer-than-expected critical path; " +
            "check acyclicity or raise maxRounds")
      layer = layer.unionAll(
          e.join(layer.withColumnRenamed("node", "s"), Seq("s"))
            .select(col("d").as("node"), (col("layer") + 1L).as("layer")))
        .groupBy(col("node"))
        .agg(max(col("layer")).as("layer"))
        .localCheckpoint(true)
      val cur = sig(layer)
      if (cur._3 >= nNodes)
        throw new IllegalArgumentException(
          s"input graph has a cycle: a path of length ${cur._3} exists over " +
            s"$nNodes nodes (acyclic inputs are bounded by n - 1)")
      changing = cur != prev
      prev = cur
    }
    layer
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
    * Convergence is an EXACT per-node changed-row count (the
    * [[Iterate.untilStable]] pattern): the old state rides the merge
    * union under a tag, so the same max aggregate that merges also
    * recovers the old (layer, cost) per node and rows whose layer OR
    * cost moved are counted off the checkpointed result. The first
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
    val nodes = typed
      .select(col("s").as("node"))
      .unionAll(typed.select(col("d").as("node")))
      .filter(col("node").isNotNull)
      .distinct()
      .localCheckpoint(true)
    val nNodes = nodes.count()

    var state = nodes.select(col("node"), lit(0L).as("layer"), lit(0.0).as("cost"))
      .localCheckpoint(true)
    var rounds = 0
    var changing = nNodes > 0
    while (changing) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"criticalPath did not converge within $maxRounds rounds — " +
            "either a cycle or a longer-than-expected critical path; " +
            "check acyclicity or raise maxRounds")
      // FUSED round: the old state rides the same union under a tag, so
      // ONE max aggregate yields the merged (layer, cost) AND the old
      // values per node — "changed" becomes a column and the exact
      // changed-row count + cycle guard read the checkpointed blocks
      // (one checkpoint + one cached aggregate per round; the previous
      // shape paid an extra shuffle join against the old table). The
      // node set is stable (every round's union carries every node), so
      // the old-value max is total and a row moved iff layer or cost
      // grew — same exact compare of max-merged values as before.
      val next = state
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
            .as("__chg"))
        .localCheckpoint(true)
      val r = next.agg(
        coalesce(sum(when(col("__chg"), 1L).otherwise(0L)), lit(0L)),
        coalesce(max(col("layer")), lit(0L))).head()
      val (changed, maxLayer) = (r.getLong(0), r.getLong(1))
      if (maxLayer >= nNodes)
        throw new IllegalArgumentException(
          s"input graph has a cycle: a path of length $maxLayer exists over " +
            s"$nNodes nodes (acyclic inputs are bounded by n - 1)")
      state = next.select(col("node"), col("layer"), col("cost"))
      changing = changed > 0L
    }
    state
  }
}
