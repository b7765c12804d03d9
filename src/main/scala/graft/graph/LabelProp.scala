package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Iterate

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
  * the label vector on dst, then ONE exchange by vertex — the
  * (v, label) count and the per-vertex pick `min(struct(-count,
  * label))` (most frequent, then smallest label; `-count` leaves any
  * orderable label type valid) both aggregate inside it, with no
  * Window; the label vector `localCheckpoint`s per round through
  * [[Iterate.fixedRounds]]. Round 1 starts from the identity labelling,
  * where every neighbour brings a label of its own exactly once: all
  * counts are 1 and the pick is the least neighbour, one aggregate of
  * the edge list with no join.
  */
object LabelProp {

  /** `(node, label)` after `rounds` synchronous rounds. Input edges are
    * canonicalized (dedup, both orientations, self-loops dropped);
    * every node has ≥ 1 neighbour by construction.
    */
  def run(edges: DataFrame, aCol: String, bCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // the propagation loop joins ed every round
    val (ed, parts, _) = Edges.adjacency(edges, aCol, bCol)

    val (init, steps) =
      if (rounds == 0) (ed.select(col("v")).distinct().withColumn("lbl", col("v")), 0)
      else (ed.groupBy(col("v")).agg(min(col("w")).as("lbl")), rounds - 1)
    val labels = Iterate.fixedRounds(init, steps, "LabelProp.run") { (cur, _) =>
      ed
        .join(cur.select(col("v").as("w"), col("lbl")), Seq("w"))
        .repartition(parts, col("v"))
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(min(struct((-col("cnt")).as("negCnt"), col("lbl"))).as("best"))
        .select(col("v"), col("best.lbl").as("lbl"))
    }
    // ed's checkpoint blocks free on GC
    labels.select(col("v").as("node"), col("lbl").as("label"))
  }
}
