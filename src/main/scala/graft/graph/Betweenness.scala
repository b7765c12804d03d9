package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * the DIAMETER both ways, and every round's state `localCheckpoint`s —
  * K rounds never stack K join plans (the qg9 lineage lesson). Total
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
    core(edges, aCol, bCol, nodes =>
      if (pivots <= 0) nodes.select(col("v").as("p"))
      else nodes
        .orderBy(xxhash64(col("v"), lit(seed)), col("v"))
        .limit(pivots)
        .select(col("v").as("p")))

  /** [[run]] with an EXPLICIT pivot set (deduplicated; ids that aren't
    * vertices are ignored) — for stratified pivot choices, and for
    * pinning the estimator's defining property in specs: averaging the
    * singleton-pivot estimates over ALL vertices reproduces exact
    * betweenness, which is what "unbiased" means with the n/k scale.
    */
  def runPivots(
      edges: DataFrame, aCol: String, bCol: String,
      pivotIds: Seq[Long]): DataFrame = {
    require(pivotIds.nonEmpty, "pivotIds must be non-empty")
    core(edges, aCol, bCol,
      nodes => nodes.filter(col("v").isin(pivotIds.distinct: _*))
        .select(col("v").as("p")))
  }

  private def core(
      edges: DataFrame, aCol: String, bCol: String,
      choosePivots: DataFrame => DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val e = edges
      .select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // eager + size-partitioned: the BFS and dependency loops probe ed
    // every round
    val ed0 = e.select(col("a").as("v"), col("b").as("w"))
      .unionAll(e.select(col("b").as("v"), col("a").as("w")))
      .localCheckpoint(true)
    val ed = ed0.coalesce(Iterate.parts(spark, ed0.count()))
    val nodes = ed.select(col("v")).distinct()
    val n = nodes.count()
    if (n == 0L) {
      return spark.range(0).select(col("id").as("node"),
        lit(0.0).as("betweenness"))
    }
    val pivotSet = choosePivots(nodes)
    val k = pivotSet.count()
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
    val maxD = bfs.agg(max(col("dist"))).head().getInt(0)

    // backward dependency accumulation, deepest layer first:
    // δ(v) = Σ over successors w (dist(w) = dist(v)+1, edge v–w) of
    // σ_v/σ_w · (1 + δ_w); the deepest layer has no successors (δ = 0)
    var below = bfs.filter(col("dist") === maxD)
      .select(col("p"), col("v"), col("sigma"), lit(0.0).as("delta"))
      .localCheckpoint(true)
    var acc = below
    var layerD = maxD - 1
    while (layerD >= 0) {
      val layer = bfs.filter(col("dist") === layerD)
      val contrib = layer
        .join(ed, Seq("v"))
        .join(
          below.select(col("p"), col("v").as("w"),
            col("sigma").as("__sw"), col("delta").as("__dw")),
          Seq("p", "w"))
        .groupBy("p", "v")
        .agg(sum(col("sigma").cast("double") / col("__sw") * (lit(1.0) + col("__dw")))
          .as("__contrib"))
      val layerDelta = layer
        .join(contrib, Seq("p", "v"), "left_outer")
        .select(col("p"), col("v"), col("sigma"),
          coalesce(col("__contrib"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      acc = acc.unionAll(layerDelta)
      below = layerDelta
      layerD -= 1
    }
    // endpoints excluded (v = p is the dist-0 row); halve the directed
    // sum (each unordered pair counted from both ends in an undirected
    // graph), scale the pivot estimate by n/k
    val scale = n.toDouble / k.toDouble / 2.0
    val out = acc
      .filter(col("v") =!= col("p"))
      .groupBy(col("v"))
      .agg((coalesce(sum(col("delta")), lit(0.0)) * lit(scale)).as("betweenness"))
      .select(col("v").as("node"), col("betweenness"))
      .localCheckpoint(true)
    out
  }

  /** WEIGHTED betweenness (Brandes 2001 over COST shortest paths, the
    * pivot estimator as [[run]]): brokerage under the cost metric the
    * engine's road graph actually carries — on a weighted graph the
    * hop-count form routes "shortest paths" that no traveler takes
    * (the qg32 rationale, applied to the brokerage question).
    *
    * Three keyed-join fixpoints, each localCheckpointed per round with
    * exact convergence detection (distances and δ flag changed rows in
    * the round's own plan and stop through [[Iterate.untilStable]]; σ
    * uses the exact monotone (count, Σσ) integer signature):
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
    val ed = Bfs.positiveAdjacency(edges, aCol, bCol, wCol, "runWeighted")
    val nodes = ed.select(col("v")).distinct()
    val n = nodes.count()
    if (n == 0L) {
      return spark.range(0).select(col("id").as("node"),
        lit(0.0).as("betweenness"))
    }
    val pivotSet =
      (if (pivots <= 0) nodes
       else nodes.orderBy(xxhash64(col("v"), lit(seed)), col("v")).limit(pivots))
        .select(col("v").as("p"))
    val k = pivotSet.count()

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

    // 2. σ fixpoint over the DAG (exact Longs, monotone in hop rounds).
    // Convergence by the (count, Σσ) signature instead of a per-round
    // join against the previous table: σ_t(v) is NONDECREASING in t
    // (round t counts shortest paths of ≤ t hops) and the reached set
    // only grows, so equal count AND equal exact-integer sum imply no
    // row changed — the signature is exact, not heuristic (the
    // Dag.longestPathLayer argument; DECIMAL(38,0) so huge path counts
    // can't overflow the sum). One cheap cached aggregate replaces the
    // n²-row join per round.
    val seedSig = pivotSet.select(col("p"), col("p").as("v"), lit(1L).as("sigma"))
    var sig = seedSig.localCheckpoint(true)
    // The signature's exactness proof needs the Σσ sum to be REAL: a
    // null sum with count > 0 means the DECIMAL(38,0) aggregate
    // overflowed (non-ANSI sum returns null), and coalescing it to zero
    // would conflate "overflowed" with "empty" — two consecutive
    // equal-count overflowed rounds would falsely signal convergence.
    // Fail loudly instead; σ itself stays a Long per node, whose own
    // bound (paths per node < 2⁶³) is the tier's documented contract.
    def sigSignature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        sum(col("sigma").cast("decimal(38,0)"))).head()
      val n = r.getLong(0)
      val s = r.getDecimal(1)
      if (n > 0 && s == null)
        throw new ArithmeticException(
          "runWeighted σ signature: sum(sigma) overflowed decimal(38,0) " +
            s"over $n rows — path counts too large for the exact signature")
      (n, if (s == null) java.math.BigDecimal.ZERO else s)
    }
    var sigPrev = sigSignature(sig)
    var rounds = 0
    var changing = true
    while (changing) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"runWeighted σ still changing after maxRounds=$maxRounds")
      val next = seedSig.unionAll(
          dagE.join(sig.select(col("p"), col("v").as("__u"), col("sigma")),
            Seq("p", "__u"))
            .groupBy(col("p"), col("__v"))
            .agg(sum(col("sigma")).as("sigma"))
            .select(col("p"), col("__v").as("v"), col("sigma")))
        .groupBy(col("p"), col("v"))
        .agg(max(col("sigma")).as("sigma"))
        .localCheckpoint(true)
      val cur = sigSignature(next)
      sig = next
      changing = cur != sigPrev
      sigPrev = cur
    }
    // σ(v) at round t counts shortest paths of ≤ t hops: the union's
    // max-merge keeps the newest (largest) count per node; every
    // pivot-seeded DAG is acyclic under positive weights, so the fold
    // is exact and stable at DAG depth

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

    val scale = n.toDouble / k.toDouble / 2.0
    val out = delta
      .filter(col("v") =!= col("p"))
      .groupBy(col("v"))
      .agg((coalesce(sum(col("delta")), lit(0.0)) * lit(scale)).as("betweenness"))
      .select(col("v").as("node"), col("betweenness"))
      .localCheckpoint(true)
    out
  }
}
