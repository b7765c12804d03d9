package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Iterate

/** BETWEENNESS CENTRALITY by pivot sampling (Brandes 2001 for the
  * per-source dependency accumulation; Brandes & Pich 2007 for the
  * pivot estimator) — the shortest-path brokerage score: how many
  * shortest paths between OTHER vertex pairs pass through v. Exact
  * betweenness needs a single-source shortest-path pass from EVERY
  * vertex — O(n·m), hopeless at corpus scale — but the per-source
  * dependencies δ_s(v) are an additive decomposition, so a uniform
  * pivot subset S gives the unbiased estimator
  * `BC(v) ≈ (n/|S|)·½·Σ_{s∈S} δ_s(v)`: sampling trades a provable
  * variance bound for a |S|/n cost cut, and |S| = n IS exact Brandes.
  *
  * Spark shape: all pivots advance TOGETHER — BFS state is one
  * DataFrame keyed by (pivot, node) carrying (dist, σ), so a round is
  * one frontier×edges join + one (pivot, node) aggregate regardless of
  * pivot count, and the σ counts sum map-side. The backward pass walks
  * BFS layers deepest-first, each layer one join against the layer
  * below (δ(v) = Σ_{w∈succ(v)} σ_v/σ_w·(1+δ_w)). Rounds are bounded by
  * the DIAMETER both ways: the forward BFS runs on
  * [[Iterate.untilStable]], the backward sweep on [[Iterate.fixedRounds]]
  * (one round per layer, the count known once the BFS has stopped), so
  * every round's state `localCheckpoint`s — K rounds never stack K join
  * plans (the qg9 lineage lesson). Total
  * state is |S|·n rows max; at 100 TB-scale graphs |S| is the knob that
  * keeps it executor-resident, and the estimator's error shrinks as
  * O(1/√|S|) (Brandes-Pich), independent of n.
  *
  * Oracle gate: qg21_betweenness replays the EXACT all-pivots form in
  * SQL without the backward pass — a layered σ (path-count) DP plus the
  * pair-sum identity B(v) = ½·Σ_{s≠v≠t} σ_st(v)/σ_st with
  * σ_st(v) = σ_sv·σ_vt when d(s,t) = d(s,v)+d(v,t) — validated against
  * an independent Brandes in BetweennessSpec. The sampled form stays
  * spec-pinned: the estimator's UNBIASEDNESS is exact (averaging the
  * singleton-pivot estimates over all n vertices reproduces exact
  * betweenness).
  *
  * Reference: no analog (the reference's graph tier is routing only);
  * beyond-reference graph-analytics mandate, closing the BACKLOG's
  * betweenness item.
  */
object Betweenness {

  /** Betweenness per vertex: `(node, betweenness)` — undirected,
    * unweighted, unnormalized, endpoints excluded, each unordered pair
    * counted once (the directed-dependency sum halved). `pivots <= 0`
    * or ≥ n runs every vertex as a source (EXACT Brandes); otherwise
    * the pivot set is the `pivots` smallest vertices by
    * `xxhash64(node, seed)` — a deterministic uniform subset, so runs
    * replay bit-identically. Input may contain duplicates, both
    * orientations, and self-loops — canonicalized first. Isolated
    * vertices don't appear (no edges → no paths → betweenness 0).
    */
  def run(
      edges: DataFrame, aCol: String, bCol: String,
      pivots: Int = 0, seed: Long = 42L): DataFrame =
    core(edges, aCol, bCol, byHash(pivots, seed))

  /** [[run]] with an EXPLICIT pivot set (deduplicated; ids that aren't
    * vertices are ignored) — for stratified pivot choices, and for
    * pinning the estimator's defining property in specs: averaging the
    * singleton-pivot estimates over ALL vertices reproduces exact
    * betweenness, which is what "unbiased" means with the n/k scale.
    * No gate or program calls it: it is how BetweennessSpec checks the gated
    * estimator is unbiased.
    */
  def runPivots(
      edges: DataFrame, aCol: String, bCol: String,
      pivotIds: Seq[Long]): DataFrame = {
    require(pivotIds.nonEmpty, "pivotIds must be non-empty")
    core(edges, aCol, bCol, Some(_.filter(col("v").isin(pivotIds.distinct: _*))))
  }

  /** The unweighted estimator for a pivot choice: `choosePivots`
    * narrows the node table `(v)` to the pivot set, and `None` takes
    * every node, so k = n with no second count.
    */
  private def core(
      edges: DataFrame, aCol: String, bCol: String,
      choosePivots: Option[DataFrame => DataFrame]): DataFrame = {
    val spark = edges.sparkSession
    // eager + size-partitioned: the BFS and dependency loops probe ed
    // every round
    val (ed, _, _) = Edges.adjacency(edges, aCol, bCol)
    val (nodes, n) = Iterate.checkpointCounted(ed.select(col("v")).distinct())
    if (n == 0L) {
      return spark.range(0).select(col("id").as("node"),
        lit(0.0).as("betweenness"))
    }
    val (pivotSet, k) = pivotsOf(nodes, n, choosePivots)
    require(k > 0L, "pivot set selected no graph vertices")

    // forward multi-source BFS: (p, v, dist, sigma = #shortest s→v
    // paths); __imp marks the layer added this round, and a round that
    // adds nothing is the fixpoint, reached within the diameter
    val bfs = Iterate.untilStable(
      pivotSet.select(col("p"), col("p").as("v"), lit(0).as("dist"),
        lit(1L).as("sigma"), lit(true).as("__imp")),
      Int.MaxValue, "Betweenness.run") { (s, round) =>
      val next = s.filter(col("__imp"))
        .join(ed, Seq("v"))
        .select(col("p"), col("w").as("v"), col("sigma"))
        // paths through DIFFERENT predecessors to the same w add up
        .groupBy("p", "v").agg(sum(col("sigma")).as("sigma"))
        .join(s.select("p", "v"), Seq("p", "v"), "left_anti")
      s.select(col("p"), col("v"), col("dist"), col("sigma"), lit(false).as("__imp"))
        .unionAll(next.select(col("p"), col("v"), lit(round).as("dist"),
          col("sigma"), lit(true).as("__imp")))
    }
    // the deepest layer is the forward loop's improving-round count; a
    // driver read until the round drivers return their per-round trace
    val maxD = bfs.agg(max(col("dist"))).head().getInt(0)

    // backward dependency accumulation, deepest layer first:
    // δ(v) = Σ over successors w (dist(w) = dist(v)+1, edge v–w) of
    // σ_v/σ_w · (1 + δ_w); the deepest layer has no successors (δ = 0).
    // Round r computes layer maxD − r from `below`, the checkpointed
    // layer under it, and gathers `below` into the union
    var layers = Vector.empty[DataFrame]
    val top = Iterate.fixedRounds(
      bfs.filter(col("dist") === maxD)
        .select(col("p"), col("v"), col("sigma"), lit(0.0).as("delta")),
      maxD, "Betweenness.run backward") { (below, round) =>
      layers :+= below
      val layer = bfs.filter(col("dist") === maxD - round)
      val contrib = layer
        .join(ed, Seq("v"))
        .join(
          below.select(col("p"), col("v").as("w"),
            col("sigma").as("__sw"), col("delta").as("__dw")),
          Seq("p", "w"))
        .groupBy("p", "v")
        .agg(sum(col("sigma").cast("double") / col("__sw") * (lit(1.0) + col("__dw")))
          .as("__contrib"))
      layer
        .join(contrib, Seq("p", "v"), "left_outer")
        .select(col("p"), col("v"), col("sigma"),
          coalesce(col("__contrib"), lit(0.0)).as("delta"))
    }
    estimate((layers :+ top).reduce(_ unionAll _), n, k)
  }

  /** The [[run]] pivot choice: the `pivots` smallest nodes by
    * `xxhash64(v, seed)`, or every node (`None`) for `pivots <= 0`.
    */
  private def byHash(pivots: Int, seed: Long): Option[DataFrame => DataFrame] =
    if (pivots <= 0) None
    else Some(_.orderBy(xxhash64(col("v"), lit(seed)), col("v")).limit(pivots))

  /** The pivot set `(p)` chosen from the checkpointed node table
    * `(v)` of `n` rows, and its size k: `None` takes every node, so
    * k = n is known without a count.
    */
  private def pivotsOf(
      nodes: DataFrame, n: Long,
      choose: Option[DataFrame => DataFrame]): (DataFrame, Long) =
    choose match {
      case None => (nodes.select(col("v").as("p")), n)
      case Some(f) =>
        val chosen = f(nodes).select(col("v").as("p"))
        (chosen, chosen.count())
    }

  /** `(node, betweenness)` from the per-pivot dependencies
    * `(p, v, delta)`: endpoints excluded (v = p is the pivot's own row),
    * the directed sum halved (an undirected graph counts each unordered
    * pair from both ends) and the pivot estimate scaled by n/k.
    */
  private def estimate(delta: DataFrame, n: Long, k: Long): DataFrame =
    delta
      .filter(col("v") =!= col("p"))
      .groupBy(col("v"))
      .agg((coalesce(sum(col("delta")), lit(0.0)) * lit(n.toDouble / k.toDouble / 2.0))
        .as("betweenness"))
      .select(col("v").as("node"), col("betweenness"))
      .localCheckpoint(true)

  /** WEIGHTED betweenness (Brandes 2001 over COST shortest paths, the
    * pivot estimator as [[run]]): brokerage under the cost metric the
    * engine's road graph actually carries — on a weighted graph the
    * hop-count form routes "shortest paths" that no traveler takes
    * (the qg32 rationale, applied to the brokerage question).
    *
    * Three keyed-join fixpoints on [[Iterate.untilStable]], each
    * localCheckpointed per round with exact convergence detection:
    * distances, σ and δ flag changed rows in the round's own plan.
    *
    *  1. DISTANCES from the pivot set — the [[Bfs.minPlus]] kernel
    *     keyed by (pivot, node).
    *  2. PATH COUNTS σ over the shortest-path DAG: DAG edge u→v iff
    *     `d(u) + w(u,v) = d(v)` (bit-exact for INTEGER-VALUED weights —
    *     all sums stay exact doubles; fractional weights can split a
    *     true tie across ulps, so σ is contract-exact for integer
    *     costs, documented). σ iterates `σ(v) = Σ_{u→v} σ(u)` from
    *     σ(pivot) = 1 — round t holds paths of ≤ t hops, monotone
    *     exact Longs, stable at DAG depth.
    *  3. DEPENDENCIES δ backward: per-DAG-edge ratio r = σ_v/σ_w is
    *     computed ONCE, then `δ(v) = Σ_{v→w} r·(1 + δ(w))` iterates
    *     from 0 — each value recomputes bit-identically once its
    *     successors settle, so FP changed-row compare is exact.
    *
    * Weights must be strictly positive (a zero-weight cycle has
    * infinitely many equal-cost paths — σ diverges). Output and
    * estimator contract as [[run]]: undirected, unnormalized,
    * endpoints excluded, unordered pairs once, n/k pivot scale.
    */
  def runWeighted(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      pivots: Int = 0, seed: Long = 42L, maxRounds: Int = 128): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    val (ed, _) = Bfs.positiveAdjacency(edges, aCol, bCol, wCol, "runWeighted")
    val (nodes, n) = Iterate.checkpointCounted(ed.select(col("v")).distinct())
    if (n == 0L) {
      return spark.range(0).select(col("id").as("node"),
        lit(0.0).as("betweenness"))
    }
    val (pivotSet, k) = pivotsOf(nodes, n, byHash(pivots, seed))

    // 1. cost distances from every pivot
    val dist = Bfs.minPlus(ed,
      pivotSet.select(col("p"), col("p").as("v"), lit(0.0).as("dist")),
      maxRounds, "runWeighted distances")

    // shortest-path DAG edges per pivot: u→v iff d(u) + w = d(v)
    val dagE = dist.select(col("p"), col("v").as("__u"), col("dist").as("__du"))
      .join(ed.select(col("v").as("__u"), col("t").as("__v"), col("__w")), Seq("__u"))
      .join(dist.select(col("p"), col("v").as("__v"), col("dist").as("__dv")),
        Seq("p", "__v"))
      .filter(col("__du") + col("__w") === col("__dv"))
      .select(col("p"), col("__u"), col("__v"))
      .localCheckpoint(true)

    // 2. σ fixpoint over the DAG (exact Longs, monotone in hop rounds):
    // σ_t(v) is NONDECREASING in t (round t counts shortest paths of
    // ≤ t hops) and the reached set only grows, so the old σ rides the
    // max-merge under a tag and a row whose merged σ beats it (or that
    // is new) is flagged. Every pivot-seeded DAG is acyclic under
    // positive weights, so the fold is exact and stable at DAG depth.
    val seedSig = pivotSet.select(col("p"), col("p").as("v"), lit(1L).as("sigma"))
    val sig = Iterate.untilStable(seedSig, maxRounds, "runWeighted sigma") { (s, _) =>
      s.select(col("p"), col("v"), col("sigma"), lit(false).as("__cand"))
        .unionAll(seedSig.withColumn("__cand", lit(true)))
        .unionAll(
          dagE.join(s.select(col("p"), col("v").as("__u"), col("sigma")),
            Seq("p", "__u"))
            .groupBy(col("p"), col("__v"))
            .agg(sum(col("sigma")).as("sigma"))
            .select(col("p"), col("__v").as("v"), col("sigma"), lit(true).as("__cand")))
        .groupBy(col("p"), col("v"))
        .agg(max(when(col("__cand"), col("sigma"))).as("sigma"),
          max(when(!col("__cand"), col("sigma"))).as("__old"))
        .select(col("p"), col("v"), col("sigma"),
          (col("__old").isNull || col("sigma") =!= col("__old")).as("__imp"))
    }

    // 3. per-edge ratio once, then δ backward fixpoint
    val dagR = dagE
      .join(sig.select(col("p"), col("v").as("__u"), col("sigma").as("__su")), Seq("p", "__u"))
      .join(sig.select(col("p"), col("v").as("__v"), col("sigma").as("__sv")), Seq("p", "__v"))
      .select(col("p"), col("__u"), col("__v"),
        (col("__su").cast("double") / col("__sv").cast("double")).as("__r"))
      // EAGER: the old lazy persist was unpersisting dagE before dagR
      // ever computed, so δ round 1 re-ran dagE's two joins from
      // scratch; checkpointed, dagR materializes from dagE's blocks
      // here and both frames free on GC
      .localCheckpoint(true)
    // δ backward fixpoint — FUSED change detection: the previous δ table
    // itself is the left side (its key set IS dist's, invariant across
    // rounds), so the old value rides the same plan as the new one and
    // "changed" is the __imp column. The successor terms fold in sorted
    // order, so each δ recomputes bit-identically once its successors
    // settle: a plain sum adds them in shuffle-arrival order, and its
    // last-ulp jitter kept rows "changing" for dozens of rounds past the
    // DAG depth.
    val delta = Iterate.untilStable(
      dist.select(col("p"), col("v"), lit(0.0).as("delta")),
      maxRounds, "runWeighted delta") { (s, _) =>
      s.select(col("p"), col("v"), col("delta").as("__od"))
        .join(
          dagR.join(s.select(col("p"), col("v").as("__v"),
              col("delta").as("__dw")), Seq("p", "__v"))
            .groupBy(col("p"), col("__u"))
            .agg(aggregate(
              array_sort(collect_list(col("__r") * (lit(1.0) + col("__dw")))),
              lit(0.0), (acc, x) => acc + x).as("__acc"))
            .select(col("p"), col("__u").as("v"), col("__acc")),
          Seq("p", "v"), "left")
        .select(col("p"), col("v"),
          coalesce(col("__acc"), lit(0.0)).as("delta"),
          (coalesce(col("__acc"), lit(0.0)) =!= col("__od")).as("__imp"))
    }

    estimate(delta, n, k)
  }
}
