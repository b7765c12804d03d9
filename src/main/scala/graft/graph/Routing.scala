package graft.graph

import org.apache.spark.SparkContext

/** One OD pair result (reference `script-eaul/eaul.js:440-489` osrmTable
  * post-processing): upper-triangle pair, symmetrized `max(ab, ba)`, either
  * direction unreachable ⇒ unroutable with null cost.
  */
case class PairCost(oIdx: Int, dIdx: Int, routable: Boolean, ruc: Option[Double])

/** G6 — many-to-many cost matrix over the broadcast CSR graph.
  *
  * Physical design (SURVEY.md §3.3): the graph is broadcast once; each task
  * runs plain in-JVM Dijkstra for its slice of sources, with no shuffle
  * (the distributed matrix is the Catalyst operator `plans/RouteMatrixPlan`).
  * This replaces OSRM extract/contract/table (S14/G5): contraction
  * hierarchies are a constant-factor optimization the scenario sweep
  * amortizes away, since every scenario would need its own re-contract (the
  * reference's own pain point, `utils.js:273-294`).
  */
object Routing {

  /** Slice count of a scenario fan-out (criticality, EAUL, the sources of
    * `RouteMatrixExec`): one slice per core, capped at the scenario
    * count. A scenario costs a few Dijkstra
    * runs, far less than a task's launch and deserialization, so more
    * slices than cores only add overhead. Slices are contiguous and
    * `collect` keeps their order, so the rows and their order do not
    * depend on the count.
    */
  private[graft] def sweepSlices(sc: SparkContext, scenarios: Int): Int =
    math.max(1, math.min(scenarios, sc.defaultParallelism))

  /** All-pairs upper-triangle matrix, driver/executor-local. */
  def routeMatrixLocal(
      g: CsrGraph,
      odNodes: Array[Int],
      wayFactor: Int => Double = _ => 1.0): Array[PairCost] = {
    val dists: Array[Array[Double]] = odNodes.map(src => g.dijkstra(src, wayFactor))
    val out = scala.collection.mutable.ArrayBuffer[PairCost]()
    var i = 0
    while (i < odNodes.length - 1) {
      var j = i + 1
      while (j < odNodes.length) {
        val ab = dists(i)(odNodes(j))
        val ba = dists(j)(odNodes(i))
        if (ab.isInfinity || ba.isInfinity) out += PairCost(i, j, routable = false, None)
        else out += PairCost(i, j, routable = true, Some(math.max(ab, ba)))
        j += 1
      }
      i += 1
    }
    out.toArray
  }
}
