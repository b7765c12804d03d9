package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Iterate

/** DETERMINISTIC RANDOM-WALK corpus generation — the DeepWalk/node2vec
  * input stage (Perozzi et al. 2014): W walks of fixed length from every
  * node, each step choosing a uniform neighbor. The "random" choice is
  * an md5 hash of (start, walk, step, current) — a pure function of the
  * walk position, so the corpus is REPRODUCIBLE on any partitioning,
  * any cluster size, any rerun, and the oracle replays it node-for-node
  * (the qt9 no-RNG sampling discipline applied to graph traversal).
  *
  * Plan shape: one adjacency aggregate (sorted neighbor list + degree
  * per node), then length−1 keyed joins of the Θ(n·W) walk frontier
  * against the adjacency — each step one equi-join on the current node,
  * a round of [[Iterate.fixedRounds]], so every step's frontier is
  * checkpointed and the lineage stays flat; the output is the union of
  * those checkpointed frontiers, gathered as the rounds run. Per-node
  * state is its full neighbor list, the same
  * bounded-array contract Triangles' compact-forward orientation
  * carries; a celebrity node's list rides once into each walk standing
  * on it, never a wedge blowup.
  *
  * Reference: no analog (the reference's graph tier is routing); this
  * is the embedding-training feeder next to qg9–qg37.
  */
object Walks {

  /** One row per visited position: `(start, walk, step, node)` with
    * step 0 = the start node itself. Walks start from every node with
    * at least one canonical edge (an undirected walk can always step,
    * so every walk reaches full length); nodes appearing only in
    * dropped self-loops never enter the corpus.
    */
  def randomWalks(
      edges: DataFrame, aCol: String, bCol: String,
      walksPerNode: Int = 2, length: Int = 8): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(length >= 1, s"length must be >= 1, got $length")
    val e = Edges.canonical(
      edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")), "a", "b")
    val adj = Edges.symmetric(e, "t")
      .groupBy(col("v"))
      .agg(sort_array(collect_list(col("t"))).as("nbrs"),
        org.apache.spark.sql.functions.count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val start = adj.select(col("v").as("start"))
      .crossJoin(
        adj.sparkSession.range(walksPerNode).select(col("id").as("walk")))
      .select(col("start"), col("walk"), lit(0L).as("step"),
        col("start").as("node"))
    // each round's input is the previous step's checkpointed frontier
    var walked = Vector.empty[DataFrame]
    val last = Iterate.fixedRounds(start, length - 1, "Walks.randomWalks") { (frontier, s) =>
      walked :+= frontier
      // uniform choice: md5(start|walk|step|current) mod degree — a pure
      // function of the position, never an RNG
      frontier
        .join(adj, col("v") === col("node"))
        .select(col("start"), col("walk"), lit(s.toLong).as("step"),
          element_at(col("nbrs"),
            (pmod(
              graft.operators.Sketches.md5Hash32(concat(
                col("start").cast("string"), lit("|"),
                col("walk").cast("string"), lit("|"),
                lit(s).cast("string"), lit("|"),
                col("node").cast("string"))),
              col("deg")) + lit(1L)).cast("int")).as("node"))
    }
    (walked :+ last).reduce(_ unionAll _)
  }
}
