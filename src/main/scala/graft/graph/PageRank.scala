package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Iterate

/** WEIGHTED PAGERANK over an edge table — the global-centrality
  * complement of the reference's per-way leave-one-out criticality
  * (reference `scripts/criticality/criticality.js` ranks ways by
  * re-routing damage; PageRank ranks nodes by stationary flow share —
  * the cheap screen a planner runs over the WHOLE network before paying
  * for leave-one-out on the shortlist).
  *
  * Iteration (Page et al. 1999, weighted form):
  * {{{
  *   rank₀(v)    = 1 / N
  *   rankₜ₊₁(v) = (1 − d)/N
  *               + d · Σ_{u→v} rankₜ(u) · w(u,v) / outw(u)
  *               + d · Σ_{u dangling} rankₜ(u) / N
  * }}}
  * The dangling term redistributes sink mass uniformly so Σrank stays 1
  * (the standard treatment; without it rank leaks every iteration).
  *
  * Spark shape — built for the 100 TB-graph case, not the 25-node gate:
  *  - edges normalize ONCE to (src, dst, w/outw) and persist: the join
  *    side that never changes across iterations is never recomputed.
  *  - one iteration = one join (ranks ⋈ edges on src) + one groupBy(dst)
  *    partial-aggregated map-side; the rank vector — N rows, the small
  *    side — is what moves. No adjacency collect, no driver matrix.
  *  - the dangling mass is a 1-row aggregate per iteration (a broadcast
  *    scalar, not a join).
  *  - each new rank vector is `localCheckpoint`ed (eager, by
  *    [[Iterate.fixedRounds]]): the LINEAGE
  *    is cut every iteration, not just the data cached — `persist`
  *    alone still nests the logical plan one join deeper per round,
  *    and by a few dozen iterations plan construction itself blows up
  *    (measured: 50 persist-only iterations OOM the driver on the plan
  *    STRING before any data moves). Checkpointed, iteration cost is
  *    flat forever — the load-bearing idiom for iterative DataFrames.
  *
  * Output: (node, rank), Σrank = 1. Fixed iteration count keeps the
  * result an exact arithmetic function of the input — replayable by the
  * qg9 oracle as unrolled SQL — rather than a convergence-dependent one.
  */
object PageRank {

  /** @param edges (srcCol, dstCol, wCol) rows; parallel edges allowed
    *              (weights add). Self-loops allowed (standard algebra).
    * @param personalizedTo when set, PERSONALIZED PageRank: the restart
    *              distribution (and the dangling redistribution, and
    *              the initial vector) concentrates entirely on this
    *              node instead of spreading uniformly — the
    *              random-walk-with-restart relevance score "how
    *              reachable is v FROM here", the recommendation /
    *              seed-expansion primitive. Same iteration, same plan
    *              shape; the uniform path keeps its exact original
    *              arithmetic ((1−d)/n as ONE literal — not
    *              (1−d)·(1/n), which is a different double).
    * @return (node, rank) for every node appearing as src or dst.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      iterations: Int,
      damping: Double = 0.85,
      personalizedTo: Option[Long] = None): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping >= 0 && damping <= 1, s"damping must be in [0,1], got $damping")
    val spark = edges.sparkSession

    // EAGERLY materialize the TYPED EDGE INPUT, not just its
    // derivatives: the caller's edge table is often an expensive
    // join/aggregation (qg9's four-table trade join), and lazy it
    // re-executes for every derivative that follows — nodes (whose
    // union even scans it twice inside ONE job, racing the cache),
    // trans's edge aggregate and outw, dangling's outw: four-plus
    // upstream executions for one logical input. An eager
    // localCheckpoint computes it exactly once (guide §5; blocks free
    // on GC like every checkpoint in this tier).
    //
    // Tradeoff, stated for the 100 TB framing (same applies to Hits and
    // eigenvectorCentrality): the checkpoint materializes a full
    // non-replicated copy of the edge projection on executors even when
    // the caller passes an already-cached scan, and localCheckpoint
    // data is UNRECOVERABLE on executor loss — an iterative job that
    // loses an executor restarts from the caller. That is the standard
    // price of every per-round checkpoint in this tier (the alternative
    // — reliable checkpoint to the DFS — trades it for a full write per
    // round); on a trivial input the extra copy is edge-projection-
    // sized, and on an expensive input it is exactly the win measured
    // above. Callers with an already-materialized edge frame pay one
    // redundant copy, not a recompute.
    val e = edges.select(
      col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).cast("double").as("w"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "empty graph")

    // out-weight-normalized transition edges, computed once
    val outw = e.groupBy("src").agg(sum("w").as("outw"))
    val trans = e.groupBy("src", "dst").agg(sum("w").as("w"))
      .join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("p"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // size the per-iteration probe to the EDGE count (the rankParts
    // rationale applied to the transition table): the cached aggregate
    // leaves shuffle.partitions KB-blocks, and every iteration's join
    // would launch that many tasks regardless of data
    val mEdges = trans.count()
    val transV = trans.coalesce(Iterate.parts(spark, mEdges))

    // dangling = nodes with no out-edge (their mass redistributes
    // uniformly); counted ONCE — a graph with no sinks (the common case
    // after edge cleaning) skips the per-iteration mass aggregate
    val dangling = nodes.join(outw.select(col("src").as("node")), Seq("node"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hasDangling = dangling.limit(1).count() > 0

    // the rank VECTOR is n rows — size its partitioning to n, not to
    // spark.sql.shuffle.partitions: a 25-node gate graph in 32 shuffled
    // partitions pays 30+ empty-task launches per iteration, while a
    // 10⁸-node graph still fans out to the full parallelism
    val rankParts = Iterate.parts(spark, n)

    val init: Column = personalizedTo match {
      case Some(s) => when(col("node") === s, lit(1.0)).otherwise(lit(0.0))
      case None => lit(1.0) / n
    }
    // coalesce, not repartition: the node cache already holds the rows;
    // a narrow merge to rankParts avoids a keyless exchange (and its
    // sort-before-repartition pass) per materialization
    val nodesV = nodes.coalesce(rankParts)
    val ranks = Iterate.fixedRounds(
      nodesV.select(col("node"), init.as("rank")), iterations, "PageRank.run") { (ranks, _) =>
      val danglingMass =
        if (!hasDangling) 0.0
        else ranks.join(dangling, "node")
          .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      val contrib = ranks.join(transV, ranks("node") === transV("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("p")).as("inflow"))
      val rankExpr: Column = personalizedTo match {
        case Some(s) =>
          when(col("node") === s, lit(1.0 - damping)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("inflow"), lit(0.0)) +
            when(col("node") === s, lit(damping * danglingMass))
              .otherwise(lit(0.0))
        case None =>
          lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("inflow"), lit(0.0)) +
            lit(damping * danglingMass / n)
      }
      nodesV.join(contrib, Seq("node"), "left")
        .select(col("node"), rankExpr.as("rank"))
        .coalesce(rankParts)
    }
    val out = ranks.select(col("node"), col("rank"))
    trans.unpersist(); dangling.unpersist(); nodes.unpersist()
    out
  }
}
