package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Iterate
import graft.operators.Sketches

/** DISTANCE-BASED CENTRALITIES — closeness and harmonic: how NEAR a
  * vertex sits to everything else, the complement of [[Betweenness]]'s
  * brokerage view. Harmonic (Marchiori & Latora 2000; Boldi & Vigna
  * 2014 argue it is the right form on disconnected graphs) is
  * `H(v) = Σ_{u≠v} 1/d(u,v)` with unreachable pairs contributing 0;
  * closeness here is `n_reached(v) / Σ_u d(u,v)` (reachable-only, the
  * multi-component-safe convention — documented, not Bavelas'
  * (n−1)/Σd which is undefined off a connected graph).
  *
  * Two tiers, one semantics:
  *  - [[distanceCentralities]] — EXACT, all-pairs BFS. O(n) BFS state
  *    per source; right for gate-scale graphs and as the oracle anchor.
  *  - [[harmonicHyperBall]] — the HyperBall estimator (Boldi & Vigna,
  *    "In-core computation of geometric centralities with HyperBall",
  *    2013): each vertex carries an HLL sketch of its distance-t ball;
  *    one register-merge round per distance layer, so the cost is
  *    O(diameter) joins over (node, bucket, rho) rows — n·2^p state,
  *    INDEPENDENT of n² pair count. This is the only known shape that
  *    survives harmonic centrality at 100 TB graph scale.
  *
  * Reference: no analog (the reference's graph tier is routing only);
  * beyond-reference graph-analytics mandate, sibling of
  * [[Betweenness]]/[[Bfs]].
  */
object Centrality {

  /** EXACT closeness + harmonic per vertex:
    * `(node, n_reached, sum_dist, closeness, harmonic)`. Undirected,
    * unweighted; isolated vertices don't appear (no edges → no rows).
    * `n_reached` excludes the vertex itself; `sum_dist` is an exact
    * Long; `closeness = n_reached / sum_dist` and
    * `harmonic = Σ_d count_d / d` are 6-dp-rounded. The harmonic fold
    * runs over the per-vertex (distance, count) list in ASCENDING
    * distance order — ≤ diameter terms, so an oracle replaying the
    * same sorted fold reproduces it bit-exactly (the qp14 ordered-fold
    * contract; no order-dependent Σ over n elements).
    *
    * Multi-source BFS: state is ONE DataFrame keyed by (source, node)
    * — every source advances together, one frontier×edges join + one
    * aggregate per round, rounds bounded by the diameter, driven by
    * [[Iterate.untilStable]].
    */
  def distanceCentralities(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = edges.sparkSession
    // eager + size-partitioned: the layer loop probes ed every round
    val (ed, _, rows) = Edges.adjacency(edges, aCol, bCol)
    if (rows == 0L) {
      return spark.range(0).select(
        col("id").as("node"), lit(0L).as("n_reached"),
        lit(0L).as("sum_dist"), lit(0.0).as("closeness"),
        lit(0.0).as("harmonic"))
    }
    // __imp marks the layer added this round; a round that adds no
    // (source, node) pair is the fixpoint, reached within the diameter
    val bfs = Iterate.untilStable(
      ed.select(col("v")).distinct()
        .select(col("v").as("p"), col("v"), lit(0).as("dist"), lit(true).as("__imp")),
      Int.MaxValue, "distanceCentralities") { (s, round) =>
      val next = s.filter(col("__imp"))
        .join(ed, Seq("v"))
        .select(col("p"), col("w").as("v"))
        .distinct()
        .join(s.select("p", "v"), Seq("p", "v"), "left_anti")
      s.select(col("p"), col("v"), col("dist"), lit(false).as("__imp"))
        .unionAll(next.select(col("p"), col("v"), lit(round).as("dist"), lit(true).as("__imp")))
    }
    val counts = bfs
      .filter(col("dist") > 0)
      .groupBy(col("v"), col("dist"))
      .agg(count(lit(1)).as("cnt"))
    val out = counts
      .groupBy(col("v"))
      .agg(
        sum(col("cnt")).as("n_reached"),
        sum(col("cnt") * col("dist").cast("long")).as("sum_dist"),
        sort_array(collect_list(struct(col("dist"), col("cnt")))).as("__t"))
      .select(
        col("v").as("node"),
        col("n_reached"),
        col("sum_dist"),
        round(col("n_reached").cast("double")
          / col("sum_dist").cast("double"), 6).as("closeness"),
        round(aggregate(col("__t"), lit(0.0), (acc, x) =>
          acc + x("cnt").cast("double") / x("dist").cast("double")), 6)
          .as("harmonic"))
    out
  }

  /** EXACT WEIGHTED closeness + harmonic per vertex:
    * `(node, n_reached, sum_dist, closeness, harmonic)` with
    * COST distances — the composition the engine's own road graph
    * demands (edge costs are RUC·length, G3; hop-count closeness
    * answers the wrong question on a cost-weighted graph). The
    * distance fixpoint is [[Bfs.minPlus]]'s min-plus frontier
    * Bellman-Ford run from EVERY source at once (state keyed by
    * (source, node), the [[distanceCentralities]] multi-source
    * shape); the normalization tail is [[distanceCentralities]]'s:
    * group by (node, dist), fold per-node (dist, cnt) terms in
    * ascending order.
    *
    * Exactness: distances are bit-identical to a recursive-CTE
    * Bellman-Ford (left-to-right accumulation, min merge — the qg30
    * contract), so grouping BY the double distance is well-defined.
    * `sum_dist` and `harmonic` fold over the per-node (dist, cnt)
    * list in ascending (dist, cnt) order — a deterministic operation
    * tree an oracle replays term-for-term; `closeness =
    * n_reached / sum_dist` divides the unrounded fold. Fold width =
    * DISTINCT distance values per node (≤ diameter at unit weights,
    * ≤ the cost diameter's value count generally — small-integer
    * costs keep it diameter-class).
    *
    * Weights must be STRICTLY positive: a zero-weight edge puts two
    * distinct vertices at distance 0 and harmonic = Σ 1/d diverges —
    * rejected up front by the min weight the adjacency's checkpoint
    * observes ([[Bfs.positiveAdjacency]]); undirected negatives are negative
    * cycles anyway. Parallel edges collapse to min weight; self-loops, null
    * endpoints/weights drop; isolated vertices emit no row (no edges
    * → no rows, the [[distanceCentralities]] contract).
    *
    * Scale shape: state is one (source, node, dist) row per REACHED
    * pair — Θ(n²) on a connected graph, the inherent cost of exact
    * all-pairs closeness (same as [[distanceCentralities]]);
    * [[harmonicHyperBall]] stays the designated 100 TB estimator.
    * The fixpoint is [[Bfs.minPlus]]: relax steps = hop length of the
    * hop-longest optimal path; throws past `maxRounds` steps.
    */
  def weightedDistanceCentralities(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      maxRounds: Int = 128): DataFrame = {
    val spark = edges.sparkSession
    val (dist, adjRows) = weightedAllPairsDistances(
      edges, aCol, bCol, wCol, maxRounds,
      caller = "weightedDistanceCentralities")
    if (adjRows == 0L) {
      return spark.range(0).select(
        col("id").as("node"), lit(0L).as("n_reached"),
        lit(0.0).as("sum_dist"), lit(0.0).as("closeness"),
        lit(0.0).as("harmonic"))
    }
    val counts = dist
      .filter(col("p") =!= col("v"))
      .groupBy(col("v"), col("dist"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy(col("v"))
      .agg(
        sum(col("cnt")).as("n_reached"),
        sort_array(collect_list(struct(col("dist"), col("cnt")))).as("__t"))
      .withColumn("__sd", aggregate(col("__t"), lit(0.0), (acc, x) =>
        acc + x("dist") * x("cnt").cast("double")))
      .select(
        col("v").as("node"),
        col("n_reached"),
        round(col("__sd"), 6).as("sum_dist"),
        round(col("n_reached").cast("double") / col("__sd"), 6).as("closeness"),
        round(aggregate(col("__t"), lit(0.0), (acc, x) =>
          acc + x("cnt").cast("double") / x("dist")), 6).as("harmonic"))
  }

  /** WEIGHTED ALL-PAIRS SHORTEST DISTANCES — the multi-source
    * [[Bfs.minPlus]] min-plus fixpoint run from EVERY vertex at once:
    * output `(p, v, dist)`, one row per REACHED (source, node) pair,
    * dist 0.0 on the diagonal. The shared distance kernel behind
    * [[weightedDistanceCentralities]] and [[weightedEccentricity]];
    * distances are bit-identical to a recursive-CTE Bellman-Ford (the
    * qg30 contract). Strictly positive weights enforced up front;
    * undirected; parallel edges collapse to min weight; self-loops and
    * null endpoints/weights drop. Returns an EMPTY frame on an
    * edgeless input.
    *
    * Scale: state is Θ(reached pairs) — n² on a connected graph, the
    * inherent exact-all-pairs cost; [[harmonicHyperBall]] is the
    * designated 100 TB estimator. The fixpoint is [[Bfs.minPlus]]
    * seeded with every vertex.
    */
  def weightedAllPairsDistances(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      maxRounds: Int = 128): DataFrame =
    weightedAllPairsDistances(edges, aCol, bCol, wCol, maxRounds,
      caller = "weightedAllPairsDistances")._1

  /** The distances plus the adjacency's row count: zero means the
    * distance table is empty, with no job to probe it.
    */
  private def weightedAllPairsDistances(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      maxRounds: Int, caller: String): (DataFrame, Long) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val (ed, rows) = Bfs.positiveAdjacency(edges, aCol, bCol, wCol, caller)
    if (rows == 0L) {
      return (edges.sparkSession.range(0).select(
        col("id").as("p"), col("id").as("v"), lit(0.0).as("dist")), rows)
    }
    (Bfs.minPlus(ed,
      ed.select(col("v")).distinct().select(col("v").as("p"), col("v"), lit(0.0).as("dist")),
      maxRounds, caller), rows)
  }

  /** WEIGHTED ECCENTRICITY per vertex — `(node, n_reached, ecc)` with
    * ecc = the COST distance to the farthest reachable vertex: the
    * per-node worst-case latency/transport-cost readout, and max/min
    * over the column give the graph's cost DIAMETER and RADIUS (the
    * questions "how far apart can two connected places be" and "which
    * node is the best depot"). [[Bfs]] hop eccentricity answers the
    * wrong question on a cost-weighted graph for the same reason
    * qg22's closeness does (the qg32 rationale).
    *
    * One max/count aggregate over [[weightedAllPairsDistances]];
    * exactness and scale shape are the kernel's. `ecc` is a MAX of
    * bit-exact distances (no summation), so it is order-free and
    * 6-dp-rounded only for the gate convention; isolated vertices emit
    * no row.
    */
  def weightedEccentricity(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      maxRounds: Int = 128): DataFrame =
    weightedAllPairsDistances(edges, aCol, bCol, wCol, maxRounds,
      caller = "weightedEccentricity")._1
      .filter(col("p") =!= col("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_reached"), max(col("dist")).as("__ecc"))
      .select(col("v").as("node"), col("n_reached"),
        round(col("__ecc"), 6).as("ecc"))

  /** HYPERBALL harmonic-centrality estimate:
    * `(node, harmonic_est, reached_est)`. Each vertex's distance-t
    * ball B(v,t) is an HLL sketch in the [[Sketches.hllRegisters]]
    * SPARSE row form — (node, bucket, rho), ≤ 2^p rows per vertex —
    * and one round advances EVERY ball: re-key each neighbor's
    * register rows across the edge, union with own, keep max rho per
    * (node, bucket). That is one equi-join + one aggregate per
    * distance layer; registers only grow, so convergence is the first
    * round with no register change, ≤ diameter rounds (capped at
    * `maxIter`). Harmonic accumulates Σ_t (M(t)−M(t−1))/t where
    * M(t) = max_{s≤t} |B(s)|-estimate — a RUNNING MAX of the per-round
    * HLL estimates (md5-replayable, like [[Sketches.hllDistinct]]), the
    * monotone form a ball's size must follow. A plain per-delta clamp
    * (max(est(t)−est(t−1), 0)) would bias harmonic_est UPWARD whenever
    * the linear-counting/raw estimator switch jitters est down then
    * back up (the down-round contributes 0, the recovery re-counts the
    * same mass at a deeper 1/t); the running max credits each estimate
    * unit once, at the earliest round it was ever observed.
    * `reached_est` is M at the fixpoint, minus the vertex's own unit.
    *
    * Scale: state and per-round shuffle are Θ(n·2^p) rows keyed by
    * node — never Θ(n²) pairs; p trades ±1.04/√2^p relative error for
    * 2^p rows per vertex. Exactness of the ESTIMATOR's replay (not of
    * the estimate) is the HLL power-of-two-sum argument in
    * [[Sketches.hllEstimate]].
    */
  def harmonicHyperBall(
      edges: DataFrame, aCol: String, bCol: String,
      p: Int = 6, maxIter: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    hyperBallLoop(edges, aCol, bCol, p, maxIter, trackNf = false) match {
      case None =>
        spark.range(0).select(
          col("id").as("node"), lit(0.0).as("harmonic_est"),
          lit(0.0).as("reached_est"))
      case Some((state, _)) =>
        state.select(
          col("__k").as("node"),
          col("__h").as("harmonic_est"),
          // M(∞) counts v itself — subtract its own unit
          (col("__m") - lit(1.0)).as("reached_est"))
    }
  }

  /** EFFECTIVE DIAMETER via HyperANF (Boldi, Rosa & Vigna 2011 — the
    * neighborhood-function use the HyperBall machinery was invented
    * for): one row `(alpha, nf_final, eff_diameter)` where the
    * neighborhood function N(t) = Σ_v M_v(t) counts (estimated)
    * reachable pairs within t hops and the effective diameter is the
    * interpolated smallest t with N(t) ≥ α·N(∞):
    * d = (t−1) + (α·N(∞) − N(t−1)) / (N(t) − N(t−1)), 0 when the
    * initial row already crosses.
    *
    * Cross-engine exactness of a GLOBAL SUM of estimates: each
    * per-node running-max estimate M_v(t) quantizes to MICRO-UNITS
    * (round(M·10⁶) cast long) before summing, so N(t) is an exact
    * integer sum — immune to FP summation order across 10⁹ nodes —
    * and the final pick/interpolation is a handful of IEEE ops on
    * exact integers that SQL replays verbatim (qg24's oracle rebuilds
    * per-round registers from BFS distances exactly like qg23's).
    * Per-round cost on top of the shared loop: one sum over the
    * checkpointed n-row state. ≤ diameter longs come to the driver.
    */
  def effectiveDiameterHyperBall(
      edges: DataFrame, aCol: String, bCol: String,
      alpha: Double = 0.9, p: Int = 6, maxIter: Int = 64): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val spark = edges.sparkSession
    hyperBallLoop(edges, aCol, bCol, p, maxIter, trackNf = true) match {
      case None =>
        spark.range(0).select(
          col("id").cast("double").as("alpha"), col("id").as("nf_final"),
          col("id").cast("double").as("eff_diameter"))
      case Some((_, nf)) =>
        val nfin = nf.last
        val target = alpha * nfin.toDouble
        val tCross = nf.indexWhere(_.toDouble >= target)
        val d =
          if (tCross <= 0) 0.0
          else {
            val prev = nf(tCross - 1).toDouble
            (tCross - 1).toDouble +
              (target - prev) / (nf(tCross).toDouble - prev)
          }
        spark.range(1).select(
          lit(alpha).as("alpha"), lit(nfin).as("nf_final"),
          round(lit(d), 6).as("eff_diameter"))
    }
  }

  /** EIGENVECTOR CENTRALITY — the dominant-eigenvector importance
    * score (Bonacich 1972): a vertex matters because its NEIGHBORS
    * matter, recursively — the undamped, teleport-free ancestor of
    * PageRank and the member of the centrality family
    * (degree/closeness/harmonic/betweenness) this tier was missing.
    * Power iteration on the symmetrized adjacency: x ← A·x, then
    * normalize by the L∞ norm (max — order-free, no sqrt, one IEEE
    * divide per vertex; the vector's max entry is exactly 1.0 each
    * round, which also keeps the iteration overflow-proof). `iters`
    * fixed rounds (convergence is geometric at λ₂/λ₁; the gate pins
    * 8 — its oracle unrolls the same 8 as MATERIALIZED CTEs, the qg14
    * recipe). Output `(node, score)`, score ∈ (0, 1], 6 dp.
    *
    * Exactness contract: the per-vertex neighbor sum is the one
    * order-dependent step — bounded fan-in under the 6-dp round, the
    * accepted qg9/qg14 contract. Isolated vertices don't appear.
    * DISCONNECTED graphs: the normalization is by the GLOBAL max, so
    * only the dominant component (the one holding it) converges to a
    * meaningful [0, 1] profile — every other component's scores decay
    * geometrically by (λ₁_other/λ₁_dominant)ᵗ toward 0 (and can
    * flatten to 0.0 under the 6-dp round). Scores are comparable only
    * within the dominant component; callers needing per-component
    * profiles should run per component (per-component normalization
    * would need a component-label join every round — a second
    * fixpoint's worth of work this operator deliberately omits).
    * On a BIPARTITE component undamped power iteration
    * oscillates with period 2 (λ_min = −λ_max) instead of converging
    * — inherent to eigenvector centrality, spec-pinned, not patched
    * with damping (that operator is [[PageRank]]).
    *
    * Scale: per iteration one edge-keyed join + one hash aggregate +
    * a 1-row max broadcast — the qg9 shape; state localCheckpoints
    * each round so iters never stack join plans.
    *
    * `weightCol` makes it the STRENGTH eigenvector (x ← A_w·x, the
    * weighted adjacency [[Edges.weighted]] builds with `sum` — parallel
    * edges and both orientations sum): the flagship road graph's
    * RUC·length ties and every link/citation corpus are weighted, so the
    * unweighted form is the special case w ≡ 1, not the norm. Same iteration,
    * same plan shape — the neighbor sum picks up a per-edge factor
    * (Σ w·x, the qg14 HITS arithmetic) and nothing else changes.
    * Weights are used AS GIVEN (the [[Hits]] contract): null weights
    * propagate null sums and negative weights void the Perron
    * convergence story — filter/clamp upstream; positives only.
    */
  def eigenvectorCentrality(
      edges: DataFrame, aCol: String, bCol: String,
      iters: Int = 8, weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    // eager (the PageRank/Hits rationale): computed once, the 8 eigenStep
    // rounds and the node derivation all read checkpointed blocks —
    // through a data-sized coalesce view (the PageRank transV rationale)
    val (ed, edParts, _) = Iterate.sized(weightCol match {
      case Some(w) => Edges.weighted(edges, aCol, bCol, w, sum)
      case None => Edges.symmetric(Edges.canonical(edges, aCol, bCol)).withColumn("__w", lit(1.0))
    })
    val nodes = ed.select(col("v")).distinct()
    // coalesced like the Hits/PageRank vectors: the aggregate's
    // shuffle.partitions blocks would otherwise fan every round out
    val x = Iterate.fixedRounds(
      nodes.select(col("v"), lit(1.0).as("__x")).coalesce(edParts),
      iters, "eigenvectorCentrality")((x, _) => eigenStep(ed, x).coalesce(edParts))
    x.select(col("v").as("node"), round(col("__x"), 6).as("score"))
  }

  /** One power-iteration round (x ← A_w·x / ‖A_w·x‖∞), un-checkpointed
    * so PlanSpec can pin the shape the loop actually executes: one
    * edge-keyed join + one partial-aggregated neighbor sum + a 1-ROW
    * broadcast for the norm — no Window, no second corpus shuffle.
    */
  private[graft] def eigenStep(ed: DataFrame, x: DataFrame): DataFrame = {
    val summed = ed
      .join(x.select(col("v").as("w"), col("__x")), Seq("w"))
      .groupBy(col("v"))
      .agg(sum(col("__w") * col("__x")).as("__s"))
    val mx = summed.agg(max(col("__s")).as("__m"))
    summed.crossJoin(broadcast(mx))
      .select(col("v"), (col("__s") / col("__m")).as("__x"))
  }

  /** The shared HyperBall fixpoint loop: returns the final per-node
    * state `(__k, __h harmonic, __m running-max estimate)` plus the
    * per-round neighborhood function N(t) in micro-units
    * (t = 0 .. fixpoint round), or None for an empty graph. Register
    * evolution invariant: regs(t)[v] = hllRegisters of the exact ball
    * {w : d(v,w) ≤ t} (register max-union = ball union), and once a
    * round changes nothing the state is stable forever — so stopping
    * at the first unchanged round loses no later contribution.
    *
    * `trackNf = false` (the [[harmonicHyperBall]] path, which never
    * reads N(t)) skips the per-round global sum over the n-row state —
    * one action fewer per distance layer; the returned vector is
    * empty. Only [[effectiveDiameterHyperBall]] pays for N(t).
    *
    * The loop stays off [[Iterate]]'s drivers: `maxIter` truncates
    * (the estimate at round `maxIter` is the answer) where
    * [[Iterate.untilStable]]'s bound throws, and each round
    * checkpoints two tables — the registers and the per-node
    * accumulator, which reads the checkpointed registers — where a
    * round driver carries one state.
    */
  private def hyperBallLoop(
      edges: DataFrame, aCol: String, bCol: String,
      p: Int, maxIter: Int,
      trackNf: Boolean): Option[(DataFrame, Vector[Long])] = {
    require(p >= 4 && p <= 12, s"p must be in [4, 12], got $p")
    // eager + size-partitioned: every round probes ed
    val (ed, _, rows) = Edges.adjacency(edges, aCol, bCol)
    if (rows == 0L) {
      return None
    }
    val nodes = ed.select(col("v")).distinct()
    def estimate(regs: DataFrame): DataFrame =
      Sketches.hllEstimate(regs, Seq("__k"), p)
        .select(col("__k"), col("__est"))
    def nfOf(state: DataFrame): Long = state
      .agg(coalesce(sum(round(col("__m") * lit(1e6)).cast("long")), lit(0L)))
      .head().getLong(0)
    // B(v, 0) = {v}
    var regs = Sketches
      .hllRegisters(
        nodes.select(col("v").as("__k"), col("v").as("__val")),
        "__k", "__val", p)
      .localCheckpoint(true)
    // accumulator: (node, harmonic so far, running-max estimate M(t))
    var state = nodes.select(col("v").as("__k"), lit(0.0).as("__h"))
      .join(estimate(regs), Seq("__k"), "left_outer")
      .select(col("__k"), col("__h"),
        coalesce(col("__est"), lit(0.0)).as("__m"))
      .localCheckpoint(true)
    val nf = Vector.newBuilder[Long]
    if (trackNf) nf += nfOf(state)
    var t = 1
    var changed = true
    // register mass: rows only appear and rhos only grow, so the
    // (count, Σrho) pair strictly increases until the fixpoint
    def mass(r: DataFrame): (Long, Long) = {
      val row = r.agg(count(lit(1)), coalesce(sum(col("__m")), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }
    var prevMass = mass(regs)
    while (changed && t <= maxIter) {
      val merged = regs
        .unionAll(
          ed.join(regs.withColumnRenamed("__k", "w"), Seq("w"))
            .select(col("v").as("__k"), col("__b"), col("__m")))
        .groupBy(col("__k"), col("__b"))
        .agg(max(col("__m")).as("__m"))
        .localCheckpoint(true)
      val curMass = mass(merged)
      changed = curMass != prevMass
      if (changed) {
        val est = estimate(merged)
        state = state
          .join(est.select(col("__k"), col("__est").as("__e1")),
            Seq("__k"), "left_outer")
          .select(
            col("__k"),
            (col("__h")
              + (greatest(coalesce(col("__e1"), lit(0.0)), col("__m"))
                - col("__m")) / lit(t.toDouble)).as("__h"),
            greatest(coalesce(col("__e1"), lit(0.0)), col("__m")).as("__m"))
          .localCheckpoint(true)
        if (trackNf) nf += nfOf(state)
        regs = merged
        prevMass = curMass
        t += 1
      }
    }
    Some((state, nf.result()))
  }
}
