package graft.graph

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One OD pair result (reference `script-eaul/eaul.js:440-489` osrmTable
  * post-processing): upper-triangle pair, symmetrized `max(ab, ba)`, either
  * direction unreachable ⇒ unroutable with null cost.
  */
case class PairCost(oIdx: Int, dIdx: Int, routable: Boolean, ruc: Option[Double])

/** G6 — many-to-many cost matrix over the broadcast CSR graph.
  *
  * Physical design (SURVEY.md §3.3): the graph is broadcast once; each task
  * runs plain in-JVM Dijkstra for its slice of sources. No shuffle at all
  * for the local form; the distributed form shuffles only the tiny
  * (|OD|²/2)-row result. This replaces OSRM extract/contract/table
  * (S14/G5): contraction hierarchies are a constant-factor optimization the
  * scenario sweep amortizes away, since every scenario would need its own
  * re-contract (the reference's own pain point, `utils.js:273-294`).
  */
object Routing {

  /** Slice count of a scenario fan-out (criticality, EAUL, the distributed
    * route matrix): one slice per core, capped at the scenario count. A
    * scenario costs a few Dijkstra runs, far less than a task's launch and
    * deserialization, so more slices than cores only add overhead. Slices
    * are contiguous and `collect` keeps their order, so the rows and their
    * order do not depend on the count.
    */
  private[graph] def sweepSlices(sc: SparkContext, scenarios: Int): Int =
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

  /** Distributed form: sources fan out across executors; result lands as a
    * DataFrame (o_idx, d_idx, routable, ruc). Each source's Dijkstra emits
    * its half-row of the upper triangle (j > i needs dist_j too, so emit
    * directed rows and symmetrize in one tiny shuffle).
    */
  def routeMatrix(spark: SparkSession, bg: Broadcast[CsrGraph], odNodes: Array[Int]): DataFrame = {
    import spark.implicits._
    val n = odNodes.length
    val directed = spark.sparkContext
      .parallelize(0 until n, sweepSlices(spark.sparkContext, n))
      .flatMap { i =>
        val g = bg.value
        val dist = g.dijkstra(odNodes(i))
        (0 until n).filter(_ != i).map { j =>
          val d = dist(odNodes(j))
          (i, j, if (d.isInfinity) None else Some(d))
        }
      }
      .toDF("i", "j", "cost")
    val a = directed.filter($"i" < $"j")
    val b = directed
      .filter($"i" > $"j")
      .select($"j".as("i"), $"i".as("j"), $"cost".as("cost_rev"))
    a.join(b, Seq("i", "j"))
      .select(
        $"i".as("o_idx"),
        $"j".as("d_idx"),
        ($"cost".isNotNull && $"cost_rev".isNotNull).as("routable"),
        org.apache.spark.sql.functions
          .when($"cost".isNotNull && $"cost_rev".isNotNull, org.apache.spark.sql.functions.greatest($"cost", $"cost_rev"))
          .as("ruc"))
  }
}
