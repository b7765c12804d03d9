package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SYNCHRONOUS LABEL PROPAGATION (Raghavan et al. 2007) — the
  * linear-time community-detection screen: every vertex starts as its
  * own label and each round simultaneously adopts the most frequent
  * label among its neighbours, ties to the smallest label. Run for a
  * FIXED round count: sync LPA can oscillate on bipartite structures,
  * so a fixpoint loop may never exit — a fixed budget is both the
  * standard practice and what makes the computation a pure
  * deterministic function of the edge list (the qg12 oracle replays the
  * same rounds CTE-for-CTE; an asynchronous or randomized variant would
  * be unreplayable by construction).
  *
  * Per round: one equi-join of the (src, dst)-doubled edge list against
  * the label vector on dst, one (v, label) count with map-side
  * partials, one per-vertex `row_number` pick over (count desc, label
  * asc) — all keyed, shuffle bounded by edges; the label vector
  * `localCheckpoint`s per round (the qg9 lineage rule).
  */
object LabelProp {

  /** `(node, label)` after `rounds` synchronous rounds. Input edges are
    * canonicalized (dedup, both orientations, self-loops dropped);
    * every node has ≥ 1 neighbour by construction.
    */
  def run(edges: DataFrame, aCol: String, bCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // the propagation loop joins ed every round
    val (ed, _) = Iterate.adjacency(edges, aCol, bCol)

    var labels = ed.select(col("v")).distinct()
      .withColumn("lbl", col("v"))
      .localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      val byV = Window.partitionBy(col("v"))
        .orderBy(col("cnt").desc, col("lbl").asc)
      labels = ed
        .join(labels.select(col("v").as("w"), col("lbl")), Seq("w"))
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(byV))
        .filter(col("__rn") === 1)
        .select(col("v"), col("lbl"))
        .localCheckpoint(true)
    }
    // labels is already checkpointed per round; ed's checkpoint blocks
    // free on GC
    labels.select(col("v").as("node"), col("lbl").as("label"))
  }
}
