package graft.graph

import org.apache.spark.sql.SparkSession

/** G8–G10 + A8–A10 — Expected Annual User Loss (reference
  * `script-eaul/eaul.js`), re-expressed as a Spark fan-out over
  * (way × upgrade) with a broadcast graph.
  *
  * Faithful semantics, with reference cites:
  *  - impassability (eaul.js:359-371): `(WLcc − WLd·Dc) > 0.5`, Dc = 0.7
  *    unless the way is the upgraded one (then upgrade.drainageCapacity);
  *  - repair time (eaul.js:387-415): max over impassable ways of
  *    lenFlooded · FLOOD_REPAIRTIME[severity][surface][class] / 24 — note
  *    getImpassableWays here is called WITHOUT upgrade args (the
  *    reference's asymmetry, preserved), but surface DOES honor the
  *    upgrade;
  *  - unroutable-pair tracking (eaul.js:204-330): a pair unroutable in ANY
  *    return period of the GLOBAL (baseline) run is excluded from every
  *    later sum — the monotone-flood assumption (eaul.js:285-290) baked in;
  *    zero-traffic pairs likewise (eaul.js:228-236);
  *  - increased user cost (eaul.js:565-575):
  *    U_i = r_i · Σ (RUC_flood − RUC_base) · yearlyTraffic;
  *  - EAUL (eaul.js:645-657): ½ Σ (1/T_i − 1/T_{i+1})(U_i + U_{i+1});
  *  - neglect threshold (eaul.js:726-727): |eaul| < 1 → 0.
  */
object Eaul {

  val FloodReturnPeriods: Array[Int] = Array(5, 10, 20, 50, 75, 100, 200, 250, 500, 1000)
  val RoadDesignStandard = 20

  /** hours/km by severity → surface → class (eaul.js:115-158). */
  val FloodRepairTime: Map[String, Map[String, Map[String, Double]]] = {
    def allClasses(v: Double) = Map("primary" -> v, "secondary" -> v, "tertiary" -> v, "vicinal" -> v)
    Map(
      "low" -> Map("paved" -> allClasses(168), "unpaved" -> allClasses(1440)),
      "medium" -> Map("paved" -> allClasses(336), "unpaved" -> allClasses(2160)),
      "high" -> Map("paved" -> allClasses(1056), "unpaved" -> allClasses(4320)))
  }

  /** ROAD_UPGRADES (eaul.js:174-202). */
  case class Upgrade(id: String, ruc: Double, drainageCapacity: Double, surface: String, condition: String)
  val RoadUpgrades: Seq[Upgrade] = Seq(
    Upgrade("upgrade-rehab-asphalt", 0.23, 1.0, "paved", "good"),
    Upgrade("upgrade-rehab-gravel", 0.27, 1.0, "unpaved", "good"),
    Upgrade("rehab-earth", 0.30, 1.0, "unpaved", "good"))

  /** Inputs beyond the graph: flood stats keyed NAME → returnPeriod →
    * value (depth m / percent flooded; reference fixture
    * `tests/fixtures/roadnetwork_stats-*.json`) and yearly traffic per
    * (INDEX_OD origin, destination) — `(daily + reverse) · 365`
    * (eaul.js:425-430).
    */
  case class FloodStats(depth: Map[String, Map[Int, Double]], lengthPct: Map[String, Map[Int, Double]])
      extends Serializable

  private def severity(wlcc: Double): String =
    if (wlcc > 1.5) "high" else if (wlcc > 0.5) "medium" else "low"

  /** eaul.js:359-371. `upgraded`: (wayIdx, upgrade) when probing an
    * upgrade scenario's graph.
    */
  def impassableWays(g: CsrGraph, stats: FloodStats, retPeriod: Int, upgraded: Option[(Int, Upgrade)]): Set[Int] =
    g.ways.iterator.filter { way =>
      val d = stats.depth.getOrElse(way.name, Map.empty)
      val wlcc = d.getOrElse(retPeriod, 0.0)
      val wld = d.getOrElse(RoadDesignStandard, 0.0)
      val dc = upgraded match {
        case Some((idx, up)) if idx == way.idx => up.drainageCapacity
        case _ => 0.7
      }
      (wlcc - wld * dc) > 0.5
    }.map(_.idx).toSet

  /** eaul.js:387-415 — repair time in days for a return period. */
  def floodRepairTime(g: CsrGraph, stats: FloodStats, retPeriod: Int, upgraded: Option[(Int, Upgrade)]): Double = {
    // NOTE: impassable set here ignores the upgrade (reference asymmetry)
    val imp = impassableWays(g, stats, retPeriod, None)
    imp.foldLeft(0.0) { (mx, wIdx) =>
      val way = g.ways(wIdx)
      val wlcc = stats.depth.getOrElse(way.name, Map.empty).getOrElse(retPeriod, 0.0)
      val surface = upgraded match {
        case Some((idx, up)) if idx == way.idx => up.surface
        case _ => way.surface
      }
      val lenFloodedKm = way.lengthM * stats.lengthPct.getOrElse(way.name, Map.empty).getOrElse(retPeriod, 0.0) / 100.0 / 1000.0
      val rTime = lenFloodedKm * FloodRepairTime(severity(wlcc))(surface)(way.roadClass) / 24.0
      math.max(rTime, mx)
    }
  }

  /** Way factor for a scenario: flooded ways removed; the upgraded way's
    * edges rescaled to the new RUC (flood removal wins if both apply,
    * matching the reference where the flood speed-profile overrides the
    * contracted upgrade). A non-positive RUC on the upgraded way throws:
    * the rescale divides by it, and a factor of +∞ would silently treat
    * the upgraded way as removed.
    */
  private def scenarioFactor(g: CsrGraph, impassable: Set[Int], upgraded: Option[(Int, Upgrade)]): Int => Double = {
    val upIdx = upgraded.map(_._1).getOrElse(-1)
    val upFactor = upgraded.map { case (idx, up) =>
      val way = g.ways(idx)
      require(way.ruc > 0, s"upgraded way ${way.name} (index $idx) has non-positive RUC ${way.ruc}")
      up.ruc / way.ruc
    }.getOrElse(1.0)
    (w: Int) =>
      if (impassable.contains(w)) Double.PositiveInfinity
      else if (w == upIdx) upFactor
      else 1.0
  }

  /** Executor-local EAUL for one (graph, upgrade) combination
    * (eaul.js:593-659). `globalUnroutable`/`noTraffic` are the pair-key
    * sets from the baseline run (G10). The route matrix depends only on
    * the impassable set, so each distinct set is routed once per call
    * (the baseline is the empty set) and shared by the periods that flood
    * the same ways.
    */
  def calcEaulLocal(
      g: CsrGraph,
      stats: FloodStats,
      odNodes: Array[Int],
      yearlyTraffic: Array[Array[Double]], // [oIdx][dIdx] — symmetric, prebuilt
      globalUnroutable: Set[(Int, Int)],
      noTraffic: Set[(Int, Int)],
      upgraded: Option[(Int, Upgrade)]): Double = {

    val matrices = scala.collection.mutable.Map.empty[Set[Int], Array[PairCost]]
    def routed(imp: Set[Int]): Array[PairCost] =
      matrices.getOrElseUpdate(imp, Routing.routeMatrixLocal(g, odNodes, scenarioFactor(g, imp, upgraded)))
    val baseline = routed(Set.empty)

    def excluded(p: PairCost): Boolean =
      globalUnroutable.contains((p.oIdx, p.dIdx)) || noTraffic.contains((p.oIdx, p.dIdx))

    val uByPeriod = FloodReturnPeriods.map { rp =>
      val flood = routed(impassableWays(g, stats, rp, upgraded))
      val r = floodRepairTime(g, stats, rp, upgraded)
      // Σ (RUC_flood − RUC_base) · traffic over non-excluded pairs; the
      // baseline row at the same triangle position (JS aligns by array idx)
      var sum = 0.0
      var k = 0
      while (k < flood.length) {
        val f = flood(k)
        if (!excluded(f)) {
          val b = baseline(k)
          // JS null-coercion semantics: null ruc → 0 in arithmetic
          val fr = f.ruc.getOrElse(0.0)
          val br = b.ruc.getOrElse(0.0)
          sum += (fr - br) * yearlyTraffic(f.oIdx)(f.dIdx)
        }
        k += 1
      }
      r * sum
    }

    val t = FloodReturnPeriods
    var floodSum = 0.0
    var i = 0
    while (i <= t.length - 2) {
      floodSum += (1.0 / t(i) - 1.0 / t(i + 1)) * (uByPeriod(i) + uByPeriod(i + 1))
      i += 1
    }
    0.5 * floodSum
  }

  /** G10 — pair-status from the global run: pairs unroutable in any return
    * period of the UN-upgraded flooded graphs.
    */
  def globalUnroutablePairs(g: CsrGraph, stats: FloodStats, odNodes: Array[Int]): Set[(Int, Int)] =
    FloodReturnPeriods.map(rp => impassableWays(g, stats, rp, None)).distinct.flatMap { imp =>
      Routing
        .routeMatrixLocal(g, odNodes, scenarioFactor(g, imp, None))
        .filter(!_.routable)
        .map(p => (p.oIdx, p.dIdx))
    }.toSet

  case class WayEaul(way_id: String, upgrade: String, eaul: Double)

  /** Distributed sweep: (way × upgrade) fan-out, graph/stats broadcast.
    * Work volume = one cost matrix per distinct impassable set (the
    * baseline plus each distinct flood) for each of the 1 + 3·|ways|
    * scenarios — each scenario self-contained, zero shuffle. The 3·|ways|
    * upgrade scenarios run in `Routing.sweepSlices` slices (one per core,
    * each a contiguous run of scenarios). The 3·|ways| + 1 result rows are
    * collected once and returned as driver-local rows (`.toDF()` makes the
    * frame), so every downstream action reads them without re-running the
    * fan-out.
    */
  def sweep(
      spark: SparkSession,
      g: CsrGraph,
      stats: FloodStats,
      odNodes: Array[Int],
      yearlyTraffic: Array[Array[Double]],
      noTraffic: Set[(Int, Int)]): Seq[WayEaul] = {
    val sc = spark.sparkContext
    val globalUnroutable = globalUnroutablePairs(g, stats, odNodes)
    val baselineEaul =
      calcEaulLocal(g, stats, odNodes, yearlyTraffic, globalUnroutable, noTraffic, None)
    val bg = sc.broadcast(g)
    val bStats = sc.broadcast(stats)
    val bTraffic = sc.broadcast(yearlyTraffic)
    val bUnroutable = sc.broadcast(globalUnroutable)
    val bNoTraffic = sc.broadcast(noTraffic)
    val combos = for (w <- g.ways.indices; up <- RoadUpgrades) yield (w, up)
    val results = sc
      .parallelize(combos, Routing.sweepSlices(sc, combos.size))
      .map { case (w, up) =>
        val graph = bg.value
        val raw = calcEaulLocal(
          graph, bStats.value, odNodes, bTraffic.value,
          bUnroutable.value, bNoTraffic.value, Some((w, up)))
        val eaul = if (math.abs(raw) < 1) 0.0 else raw // eaul.js:726-727
        WayEaul(graph.ways(w).name, up.id, eaul)
      }
      .collect()
    (results :+ WayEaul("baseline", "baseline", baselineEaul)).toSeq
  }
}
