package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Iterate

/** STRONGLY CONNECTED COMPONENTS of a DIRECTED graph — the directed
  * sibling of the min-label connected components the dedup tier runs
  * (`Dedup.connectedComponents`): u and v share a component iff each
  * REACHES the other, the condensation primitive behind cycle
  * detection, dependency collapsing, and link-graph cleanup (a crawl
  * graph's giant SCC vs its IN/OUT tendrils).
  *
  * Algorithm: trim + forward-coloring + backward confinement — the
  * FB/coloring family (Orzan 2004; Slota, Rajamanickam & Madduri 2014),
  * the data-parallel replacement for Tarjan's inherently sequential
  * DFS. Each outer round:
  *
  *  1. TRIM to fixpoint: a node with no in-edge or no out-edge among
  *     the unassigned subgraph can't sit on a cycle — it is its own
  *     singleton SCC. Peeling repeats (removing a layer exposes the
  *     next), which alone dissolves any DAG region.
  *  2. COLOR: the forward min-label fixpoint F(v) = min({v} ∪
  *     {F(u) : u→v}) — F(v) is the least unassigned node that reaches
  *     v. Labels only decrease, so a row whose min-merged label beats
  *     its old one is flagged, and the first round flagging none is the
  *     fixpoint.
  *  3. CONFINE: within each color class, the nodes that reach their
  *     root r = F(r) = r through SAME-COLOR vertices are EXACTLY
  *     SCC(r) (if v→*r and F(v) = r then r→*v, mutual; conversely a
  *     v ∈ SCC(r) has F(v) = r — a smaller ancestor of v would be a
  *     smaller ancestor of r — and its path back to r stays inside
  *     SCC(r), which is monochrome). Those nodes assign scc = r and
  *     leave the graph.
  *
  * Every color class retires at least its root's SCC per round, so
  * progress is guaranteed; rounds ≈ the longest chain of SCCs sharing
  * a color. Self-loops drop (they never change membership); nodes
  * appearing only in self-loops are singletons via trim.
  *
  * Output `(node, scc)`, scc = the component's minimum node id — the
  * same labeling contract as connectedComponents, so downstream
  * cluster logic is interchangeable.
  *
  * Scale shape: state is Θ(n) rows keyed by node; each inner round is
  * one edge-keyed equi-join + one node-keyed aggregate (semi joins for
  * the trim), run by
  * [[Iterate.untilStable]]: localCheckpointed so plans never stack,
  * with the changed-row and row counts observed inside each round's
  * checkpoint job. No driver-side graph, no adjacency collect, and no
  * probe job: the live node and edge counts that end the outer loop are
  * observed inside the checkpoints that narrow those tables. The
  * three phases share one `maxRounds` budget of inner rounds, each
  * phase's last (stable) round included. Worst case is
  * a long chain of SCCs (rounds ~ chain length — inherent to the
  * label-propagation family); hash-random and crawl-shaped graphs
  * finish in a handful of rounds (10⁶ edges measured, git 3e96ab2). Throws
  * rather than returning partial labels if `maxRounds` inner rounds
  * don't reach the fixpoint — the connectedComponents contract.
  */
object Scc {

  /** `(node, scc)` per distinct endpoint. The three phases run on
    * [[Iterate.untilStable]]; the outer peel stays a hand-written loop
    * because a round carries three tables (live nodes, live edges and
    * the retired assignments) and runs three fixpoints, which no
    * one-state round driver holds, and it stops when a round leaves no
    * live node rather than on a flagged-row count.
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 256): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._

    // the three phases share one budget of inner rounds
    var rounds = 0
    def phase(init: DataFrame, what: String)(step: DataFrame => DataFrame): DataFrame =
      Iterate.untilStable(init, maxRounds, s"SCC $what") { (state, _) =>
        rounds += 1
        if (rounds > maxRounds)
          throw new IllegalStateException(
            s"SCC did not converge within $maxRounds rounds — " +
              "a pathological SCC chain; raise maxRounds")
        step(state)
      }

    // null endpoints (the leakageSafeSplit contract): an edge with a
    // null side is NO EDGE — but its non-null side is still a node
    // (isolated ⇒ singleton via trim). A null never surfaces as a
    // (null, null) output row.
    val typed = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    var remaining = typed
      .filter(col("s").isNotNull && col("d").isNotNull
        && col("s") =!= col("d"))
      .distinct()
      .localCheckpoint(true)
    // self-loop-only / isolated-in-edge-list nodes still get a row
    var (nodes, nLive) = Iterate.checkpointCounted(Edges.endpoints(typed))
    val assigned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // narrows the unassigned nodes to `live` and the edges to those
    // among them; returns that edge count
    def keepOnly(live: DataFrame): Long = {
      nodes = live
      val (among, m) = Iterate.checkpointCounted(remaining
        .join(live.select(col("node").as("s")), Seq("s"), "left_semi")
        .join(live.select(col("node").as("d")), Seq("d"), "left_semi"))
      remaining = among
      m
    }

    while (nLive > 0L) {
      // ---- 1. trim to fixpoint: a node with no in-edge or no out-edge
      // among the live ones is a singleton; the live set only shrinks
      // (no row is flagged), so an unchanged size is the fixpoint
      val live = phase(nodes, "trim") { live =>
        val among = remaining
          .join(live.select(col("node").as("s")), Seq("s"), "left_semi")
          .join(live.select(col("node").as("d")), Seq("d"), "left_semi")
        live
          .join(among.select(col("d").as("node")), Seq("node"), "left_semi")
          .join(among.select(col("s").as("node")), Seq("node"), "left_semi")
          .select(col("node"), lit(false).as("__imp"))
      }
      assigned += nodes.join(live, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("scc"))
      // every node the trim keeps has an out-edge to another kept node,
      // so the kept nodes are empty exactly when their edges are
      if (keepOnly(live) == 0L) nLive = 0L
      else {
        // ---- 2. forward min-label coloring to fixpoint; the old label
        // rides the merge under a tag, so "improved" is a column
        val f = phase(nodes.select(col("node"), col("node").as("lb")), "coloring") { f =>
          f.select(col("node"), col("lb"), lit(false).as("__cand"))
            .unionAll(
              remaining.join(f.withColumnRenamed("node", "s"), Seq("s"))
                .select(col("d").as("node"), col("lb"), lit(true).as("__cand")))
            .groupBy(col("node"))
            .agg(min(col("lb")).as("lb"), min(when(!col("__cand"), col("lb"))).as("__old"))
            .select(col("node"), col("lb"), (col("lb") < col("__old")).as("__imp"))
        }
        // ---- 3. backward confinement within each color class; a
        // reached node not in the old set is flagged
        val sameColor = remaining
          .join(f.select(col("node").as("s"), col("lb").as("__fs")), Seq("s"))
          .join(f.select(col("node").as("d"), col("lb").as("__fd")), Seq("d"))
          .filter(col("__fs") === col("__fd"))
          .select(col("s"), col("d"))
          .localCheckpoint(true)
        val reach = phase(f.filter(col("node") === col("lb")).select(col("node")),
            "confinement") { reach =>
          reach.select(col("node"), lit(false).as("__imp"))
            .unionAll(
              sameColor.join(reach.select(col("node").as("d")), Seq("d"))
                .select(col("s").as("node"), lit(true).as("__imp")))
            .groupBy(col("node"))
            .agg(min(col("__imp")).as("__imp"))
        }
        val members = reach.join(f, Seq("node"))
          .select(col("node"), col("lb").as("scc"))
          .localCheckpoint(true)
        assigned += members
        val (rest, n) = Iterate.checkpointCounted(nodes.join(members, Seq("node"), "left_anti"))
        nLive = n
        keepOnly(rest)
      }
    }
    if (assigned.isEmpty) spark.emptyDataset[(Long, Long)].toDF("node", "scc")
    else assigned.reduce(_ unionAll _)
  }
}
