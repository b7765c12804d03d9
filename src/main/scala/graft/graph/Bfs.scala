package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, greatest, least, lit, min, when}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** SINGLE-SOURCE BFS HOP DISTANCE — unweighted shortest-path layers
  * from one source over an undirected graph: the reachability/radius
  * primitive under "how many hops from the seed set?" curation
  * screens and the unweighted twin of the Dijkstra tier
  * (`graph/Routing`), kept separate because hop semantics need no
  * cost model and the layer loop is pure equi-joins.
  *
  * Scale shape: classic frontier expansion — round d joins the
  * CURRENT frontier (nodes first reached at distance d, node-sized at
  * worst) against the adjacency list on the node key, anti-joins the
  * visited set, and the new layer becomes round d+1's frontier. Every
  * join is id-keyed (the edge payload never travels wider than
  * (v, w)); the visited table `localCheckpoint`s per round so D
  * rounds never stack D join plans (the qg9/KCore lineage lesson).
  * Rounds are bounded by the graph's eccentricity from the source,
  * not the vertex count. One `count()` action per round detects the
  * empty frontier.
  *
  * Unreachable nodes emit nothing; the source emits (source, 0) even
  * when isolated (BFS of a seed is defined on the seed).
  */
object Bfs {

  /** Hop distances from `source`: (node, dist), dist 0 at the source.
    * Input edges may contain duplicates, both orientations, and
    * self-loops — canonicalized first. Throws if the frontier is still
    * non-empty after `maxDepth` rounds (a diameter guard, not a
    * truncation — silent cutoffs would mislabel distances).
    */
  def hops(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      source: Long,
      maxDepth: Int = 64): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val spark = edges.sparkSession
    val (ed, parts) = Iterate.adjacency(
      edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")),
      "a", "b")

    val schema = StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("dist", IntegerType, nullable = false)))
    var visited = spark
      .createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(source, 0)), 1), schema)
      .localCheckpoint(true)
    var frontier = visited
    var d = 0
    var grew = true
    while (grew) {
      val next = ed
        .join(frontier.select(col("node").as("v")), Seq("v"))
        .select(col("w").as("node"))
        .distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(d + 1).as("dist"))
        .coalesce(parts)
        .localCheckpoint(true)
      val n = next.count()
      grew = n > 0L
      if (grew) {
        d += 1
        if (d > maxDepth)
          throw new IllegalStateException(
            s"BFS frontier still growing after maxDepth=$maxDepth rounds; " +
              "raise maxDepth")
        // plain union of already-checkpointed layer leaves: the plan
        // grows one leaf per round (bounded by maxDepth), while
        // re-checkpointing `visited` here would re-materialize every
        // earlier layer each round — O(D·V) writes for a D-round BFS
        visited = visited.unionAll(next)
        frontier = next
      }
    }
    visited
  }

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATHS as a DataFrame min-plus
    * fixpoint — the DISTRIBUTED form of what `graph/Routing`'s
    * broadcast-CSR Dijkstra does on one executor: when the graph
    * itself is cluster-sized (web graphs, citation networks — far past
    * any single executor's CSR), distances have to live as a keyed
    * table and relaxation as joins. Delta-stepping-style frontier
    * Bellman-Ford: each round relaxes only the edges OUT OF nodes
    * whose distance improved last round (the classic label-correcting
    * optimization — settled regions stop generating work), merges
    * candidates into the distance table with one min aggregate, and
    * stops when a round improves nothing.
    *
    * Exactness: costs accumulate left-to-right along the winning path
    * (the relax order) and the merge is `min` — the same operation
    * tree a recursive-CTE Bellman-Ford replays, so distances are
    * bit-identical cross-engine (the qg1 oracle contract); with
    * integer-valued weights they are exact integers.
    *
    * Semantics: undirected by default (`directed = true` keeps edge
    * orientation); parallel edges collapse to their min weight;
    * self-loops drop (they never improve a distance under
    * non-negative weights); null endpoints/weights drop. Unreachable
    * nodes emit nothing; the source emits (source, 0.0). Rounds are
    * bounded by the hop count of the hop-longest optimal path —
    * throws past `maxRounds` (a negative-cycle input can never
    * converge; non-negative weights always do).
    *
    * Scale shape: state is one row per reached node; each relax step
    * is one frontier-sized edge join and one min-merge aggregate (the
    * [[minPlus]] kernel, seeded with the single source).
    */
  def sssp(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      source: Long,
      directed: Boolean = false,
      maxRounds: Int = 128): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    val typed = edges
      .select(
        col(srcCol).cast("long").as("v"),
        col(dstCol).cast("long").as("t"),
        col(wCol).cast("double").as("__w"))
      .filter(col("v").isNotNull && col("t").isNotNull && col("__w").isNotNull)
      .filter(col("v") =!= col("t"))
    val ed0 = (if (directed) typed
               else typed.unionAll(
                 typed.select(col("t").as("v"), col("v").as("t"), col("__w"))))
      .groupBy(col("v"), col("t"))
      .agg(min(col("__w")).as("__w"))
      .localCheckpoint(true)
    val ed = ed0.coalesce(Iterate.parts(spark, ed0.count()))
    // fail fast on negative weights: with directed=false, ONE negative
    // edge is a 2-cycle of negative total — the fixpoint would burn all
    // maxRounds of joins before throwing a generic non-convergence
    // error. One min(w) pass over the (already checkpointed) edge table
    // turns that into an immediate, precise rejection. Directed inputs
    // keep negative edges (label-correcting Bellman-Ford handles them;
    // only a directed negative CYCLE diverges, still caught by
    // maxRounds).
    if (!directed) {
      val minW = ed.agg(min(col("__w"))).head()
      if (!minW.isNullAt(0) && minW.getDouble(0) < 0.0) {
        throw new IllegalArgumentException(
          s"sssp with directed=false requires non-negative weights: " +
            s"min weight ${minW.getDouble(0)} < 0 forms a negative cycle " +
            "with its reverse edge, so no shortest path exists")
      }
    }
    val schema = StructType(Seq(
      StructField("p", LongType, nullable = false),
      StructField("v", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    val seed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(source, source, 0.0)), 1), schema)
    minPlus(ed, seed, maxRounds, "sssp")
      .select(col("v").as("node"), col("dist"))
  }

  /** Symmetric min-weight adjacency `(v, t, __w)` for the weighted
    * all-pairs and betweenness fixpoints: endpoints cast to long, null
    * endpoints/weights and self-loops dropped, parallel edges collapsed
    * to their min weight, checkpointed once. Rejects any weight ≤ 0 up front, naming `caller`: a zero
    * weight puts distinct vertices at distance 0 (harmonic diverges,
    * σ counts infinitely many equal-cost paths) and an undirected
    * negative edge is a negative cycle.
    */
  private[graph] def positiveAdjacency(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      caller: String): DataFrame = {
    val e = edges
      .select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"),
        col(wCol).cast("double").as("__w"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("__w").isNotNull)
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("__w")).as("__w"))
    val ed0 = e.select(col("a").as("v"), col("b").as("t"), col("__w"))
      .unionAll(e.select(col("b").as("v"), col("a").as("t"), col("__w")))
      .localCheckpoint(true)
    val ed = ed0.coalesce(Iterate.parts(edges.sparkSession, ed0.count()))
    val minW = ed.agg(min(col("__w"))).head()
    if (!minW.isNullAt(0) && minW.getDouble(0) <= 0.0) {
      throw new IllegalArgumentException(
        s"$caller requires strictly positive weights: min weight " +
          s"${minW.getDouble(0)} ≤ 0 (zero puts distinct vertices at " +
          "distance 0 and ties infinitely many equal-cost paths; negative " +
          "forms a cycle)")
    }
    ed
  }

  /** The min-plus distance fixpoint behind [[sssp]], all-pairs
    * closeness/eccentricity and weighted betweenness: frontier
    * Bellman-Ford from every `seeds` row `(p, v, dist)` at once over the
    * directed adjacency `ed (v, t, __w)`, returning `(p, v, dist)` — one
    * row per reached (source, node) pair. Each step relaxes only the
    * edges out of pairs that improved in the step before, and ONE tagged
    * min aggregate merges the candidates with the old table and recovers
    * the old distance, so "improved" is the `__imp` column — bit-identical
    * to a join + union + min (IEEE min is order-free).
    *
    * Two relax steps ride each checkpoint, so the per-round fixed costs
    * (checkpoint job, driver planning) amortize over two hops. Values
    * are unchanged: improvements still propagate one hop per step. The
    * stop stays exact: `__imp` flags the second step, which relaxes
    * exactly the first step's improvements, so an empty second step is
    * the single-step fixpoint. The first step's exchange is canonically
    * identical in both of its uses and ReuseExchange computes it once.
    * `maxRounds` counts relax steps (hops): [[Iterate.untilStable]]
    * grants ⌈maxRounds/2⌉ rounds, so an odd bound loses no step.
    */
  private[graph] def minPlus(
      ed: DataFrame, seeds: DataFrame, maxRounds: Int, what: String): DataFrame = {
    def relaxMerge(d: DataFrame): DataFrame = {
      val cand = d.filter(col("__imp"))
        .join(ed, Seq("v"))
        .select(col("p"), col("t").as("v"), (col("dist") + col("__w")).as("dist"))
      d.select(col("p"), col("v"), col("dist"), lit(false).as("__cand"))
        .unionAll(cand.select(col("p"), col("v"), col("dist"), lit(true).as("__cand")))
        .groupBy(col("p"), col("v"))
        .agg(
          min(col("dist")).as("dist"),
          min(when(!col("__cand"), col("dist"))).as("__old"))
        .select(col("p"), col("v"), col("dist"),
          (col("__old").isNull || col("dist") < col("__old")).as("__imp"))
    }
    Iterate.untilStable(seeds.withColumn("__imp", lit(true)), maxRounds, what,
      stepsPerRound = 2)((s, _) => relaxMerge(relaxMerge(s)))
  }
}
