package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Iterate

/** The graph tier's one input policy and the preludes built on it.
  * Every undirected operator reads its edge list as the [[canonical]]
  * set: self-loops dropped, duplicate and reversed edges merged. Null
  * endpoints drop with them: `least`/`greatest` skip a null, so a
  * one-null row becomes a self-loop, and an all-null row compares null
  * and fails the same filter. On that set this module builds the
  * symmetric orientation, the weighted adjacency, the sized adjacency
  * the round loops probe, the degree table and the compact-forward
  * (degree, id) orientation with its out-lists; and, for the directed
  * operators, the non-null node set of an `(s, d)` list.
  *
  * Everything here is lazy and keeps the endpoint type it is given: a
  * caller that wants long endpoints casts its input columns first, and
  * each caller checkpoints where its own consumers need it.
  */
private[graph] object Edges {

  // each edge's endpoints ordered `(a, b)`, a < b, `extra` alongside:
  // self-loops and null endpoints fail the filter
  private def ordered(edges: DataFrame, aCol: String, bCol: String, extra: Column*): DataFrame =
    edges
      .select(
        least(col(aCol), col(bCol)).as("a") +: greatest(col(aCol), col(bCol)).as("b") +: extra: _*)
      .filter(col("a") =!= col("b"))

  /** The canonical undirected edge set `(a, b)`, a < b. */
  def canonical(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    ordered(edges, aCol, bCol).distinct()

  /** The symmetric weighted adjacency `(v, <to>, __w)`: [[canonical]]
    * with the weight cast to double and each unordered pair's parallel
    * edges, in either orientation, merged by `merge` (`sum` for a
    * strength graph, exact for integer-valued weights, whose sum no
    * order changes; `min` for shortest paths); then both orientations,
    * as a union of two scans where [[symmetric]] explodes one. The
    * union keeps the optimizer's not-null knowledge of both endpoint
    * columns, so the two relax steps of a [[Bfs.minPlus]] round share
    * one broadcast of this table; over the exploded form their inferred
    * not-null filters differ and the table broadcasts twice a round.
    */
  def weighted(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      merge: Column => Column, to: String = "w"): DataFrame = {
    val e = ordered(edges, aCol, bCol, col(wCol).cast("double").as("__w"))
      .groupBy(col("a"), col("b"))
      .agg(merge(col("__w")).as("__w"))
    e.select(col("a").as("v"), col("b").as(to), col("__w"))
      .unionAll(e.select(col("b").as("v"), col("a").as(to), col("__w")))
  }

  /** Both orientations `(v, <to>)` of a canonical set `(a, b)`: one
    * scan, each edge exploded into its two directions.
    */
  def symmetric(e: DataFrame, to: String = "w"): DataFrame =
    e.select(explode(array(
        struct(col("a").as("v"), col("b").as(to)),
        struct(col("b").as("v"), col("a").as(to)))).as("__e"))
      .select(col("__e.v"), col(s"__e.$to"))

  /** The [[symmetric]] canonical adjacency `(v, w)`, [[Iterate.sized]]:
    * one checkpoint job computes and counts it, so every round of the
    * caller's loop reads a few cached blocks and the input computes
    * exactly once. Returns the frame, its partition count and its row
    * count; zero rows means no node has an edge.
    */
  def adjacency(edges: DataFrame, aCol: String, bCol: String): (DataFrame, Int, Long) = {
    val (adj, parts, observed) = Iterate.sized(symmetric(canonical(edges, aCol, bCol)))
    (adj, parts, observed("rows").asInstanceOf[Long])
  }

  /** The degree table `(v, deg)` of a canonical set `(a, b)`. */
  def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** A canonical set directed `(src, dst)` from each edge's
    * (deg, id)-smaller endpoint, given its [[degrees]]. Under this
    * order every out-degree is O(√m) whatever the skew: a celebrity
    * node's edges all point toward it, leaving its out-list short.
    */
  def oriented(e: DataFrame, deg: DataFrame): DataFrame =
    e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("d")))
          .otherwise(struct(col("b").as("s"), col("a").as("d"))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))

  /** The forward out-lists `(src, nbrs)` of an [[oriented]] set. */
  def outLists(dir: DataFrame): DataFrame =
    dir.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))

  /** Each directed edge of `dir` beside both ends' [[outLists]], as
    * `__nu` (of `src`) and `__nv` (of `dst`): `__nu ∩ __nv` is the
    * third corners of the triangles the edge closes, and each triangle
    * appears once, at its one edge between its two lowest-ordered
    * corners. An edge whose head has no out-list closes nothing and
    * drops.
    */
  def closing(dir: DataFrame, out: DataFrame): DataFrame =
    dir
      .join(out.select(col("src"), col("nbrs").as("__nu")), Seq("src"))
      .join(out.select(col("src").as("dst"), col("nbrs").as("__nv")), Seq("dst"))

  /** The node set `(node)` of a directed list `(s, d)`: every non-null
    * endpoint once. An edge with a null side is no edge, but its other
    * side is still a node.
    */
  def endpoints(sd: DataFrame): DataFrame =
    sd.select(col("s").as("node"))
      .unionAll(sd.select(col("d").as("node")))
      .filter(col("node").isNotNull)
      .distinct()
}
