package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G7 — leave-one-out criticality (reference
  * `scripts/criticality/criticality.js:70-121` scoring, `:197-306` per-way).
  *
  * For each way: remove it, recompute the OD cost matrix, compare to the
  * benchmark. Spark layout: benchmark computed once and broadcast with the
  * graph; ways fan out over executors (embarrassingly parallel — the
  * reference ran 5-concurrent with a full OSRM copy + re-contract per way;
  * here a "scenario" is just a wayFactor closure, zero setup cost).
  *
  * Per-way stats follow the JS exactly (`criticality.js:232-303`):
  *  - pair unroutable in scenario → unroutablePairs++
  *  - deltaT = time − benchmark; ≥0 → collected, >0 → impactedPairs++,
  *    <0 → treated as unroutable (the JS "negative time" workaround)
  *  - avgTimeNonZero = Σdeltas / count(delta ≠ 0), 0 if no nonzero (`|| 0`)
  * Score (`criticality.js:93-110`):
  *  - avgMaxTime = max over ways of (unroutable+impacted)·avgTimeNonZero
  *  - maxUnroutable = max over ways of unroutablePairs
  *  - score = (0.4·timeScore||0 + 0.6·unroutableScore||0) · 100
  */
object Criticality {

  case class WayStats(
      wayId: Long,
      name: String,
      maxTime: Double,
      avgTime: Double,
      avgTimeNonZero: Double,
      unroutablePairs: Int,
      impactedPairs: Int)

  /** One row per way. The fan-out runs once, in `Routing.sweepSlices`
    * slices (one per core, each a contiguous run of ways): its rows are
    * collected and returned as a driver-local frame, so scoring, merge and
    * counts read them without re-running a Dijkstra task.
    */
  def waysStats(spark: SparkSession, g: CsrGraph, odNodes: Array[Int]): DataFrame = {
    import spark.implicits._
    val benchmark = Routing.routeMatrixLocal(g, odNodes)
    val sc = spark.sparkContext
    val bg = sc.broadcast(g)
    val bBench = sc.broadcast(benchmark)
    val nWays = g.ways.length
    sc.parallelize(0 until nWays, Routing.sweepSlices(sc, nWays))
      .map { w =>
        val graph = bg.value
        val bench = bBench.value
        val result = Routing.routeMatrixLocal(graph, odNodes, wayFactor = i => if (i == w) Double.PositiveInfinity else 1.0)
        var unroutable = 0
        var impacted = 0
        val deltas = scala.collection.mutable.ArrayBuffer[Double]()
        var k = 0
        while (k < result.length) {
          val o = result(k)
          // benchmark rows share the scenario's upper-triangle ordering
          val b = bench(k)
          if (!o.routable) unroutable += 1
          else {
            val deltaT = o.ruc.get - b.ruc.getOrElse(0.0)
            if (deltaT >= 0) deltas += deltaT
            if (deltaT > 0) impacted += 1
            if (deltaT < 0) unroutable += 1
          }
          k += 1
        }
        val way = graph.ways(w)
        val sum = deltas.sum
        val nonZero = deltas.count(_ != 0.0)
        WayStats(
          way.osmId,
          way.name,
          maxTime = if (deltas.isEmpty) Double.NegativeInfinity else deltas.max,
          avgTime = if (deltas.isEmpty) 0.0 else sum / deltas.length,
          avgTimeNonZero = if (nonZero == 0) 0.0 else sum / nonZero,
          unroutablePairs = unroutable,
          impactedPairs = impacted)
      }
      .collect()
      .toSeq
      .toDF()
  }

  /** Full scored indicator: way_id, score ∈ [0,100]. */
  def scores(spark: SparkSession, g: CsrGraph, odNodes: Array[Int]): DataFrame =
    scoreStats(waysStats(spark, g, odNodes))

  /** Scoring stage alone (criticality.js:93-110) over a stats frame with
    * columns (name, unroutablePairs, impactedPairs, avgTimeNonZero) —
    * split out so the normalization formula is property-testable without
    * running the routing sweep.
    *
    * The two maxima are read from the stats rows on the driver and
    * applied as literals, so scoring a driver-local frame (what
    * [[waysStats]] returns) is one projection that Catalyst evaluates on
    * the driver: no aggregate, no broadcast, no job. A zero (or absent)
    * `avgMaxTime` — no way's removal raises any OD cost — makes every
    * `timeScore` 0, the reference's `|| 0`, instead of dividing by zero.
    */
  def scoreStats(stats: DataFrame): DataFrame = {
    val timeNum = (col("unroutablePairs") + col("impactedPairs")) * col("avgTimeNonZero")
    val maxima = stats.select(timeNum, col("unroutablePairs")).collect()
    // `num` over column i's maximum, 0 where that is zero or absent;
    // Spark's max skips nulls and puts NaN above every number (math.max)
    def normalized(num: Column, i: Int): Column =
      maxima.iterator.filterNot(_.isNullAt(i)).map(_.getAs[Number](i).doubleValue)
        .reduceOption[Double](math.max).filter(_ != 0.0)
        .fold(lit(0.0))(m => num / lit(m))
    val t = coalesce(normalized(timeNum, 0), lit(0.0))
    val timeScore = when(isnan(t), 0.0).otherwise(t)
    val unroutableScore = normalized(col("unroutablePairs").cast("double"), 1)
    stats.select(
      col("name").as("way_id"),
      ((timeScore * 0.4 + unroutableScore * 0.6) * 100).as("score"),
      col("unroutablePairs"), col("impactedPairs"), col("avgTimeNonZero"))
  }
}
