package graft.graph

import org.scalatest.funsuite.AnyFunSuite

/** Routing/criticality/EAUL against the golden network's documented
  * expectations (`/root/reference/tests/README.md:23-61`).
  */
class RoutingSpec extends AnyFunSuite {
  private val g = GoldenNetwork.graph
  private val od = GoldenNetwork.odNodes
  private val stats = GoldenNetwork.floodStats

  private def pair(m: Array[PairCost], o: Int, d: Int): PairCost =
    m.find(p => p.oIdx == o && p.dIdx == d).get

  test("baseline A-B route cost is ~3.75 via segments 1-2-3") {
    val m = Routing.routeMatrixLocal(g, od)
    val ab = pair(m, 0, 1)
    assert(ab.routable)
    // haversine length of a 0.008983158° step is ~0.99888 km, so the
    // documented 3.75 carries that factor
    assert(math.abs(ab.ruc.get - 3.75) < 0.01)
  }

  test("removing segments 2+3 (RP 500 flood) forces route 2: ~4.25") {
    val imp = Eaul.impassableWays(g, stats, 500, None)
    assert(imp == Set(1, 2)) // way indexes of NAME "2","3"
    val m = Routing.routeMatrixLocal(g, od, i => if (imp(i)) Double.PositiveInfinity else 1.0)
    assert(math.abs(pair(m, 0, 1).ruc.get - 4.25) < 0.01)
    assert(!pair(m, 0, 2).routable) // A-C severed
    assert(!pair(m, 1, 2).routable) // B-C severed
  }

  test("RP 1000 flood also drops way 5: A-B on route 3: ~4.45") {
    val imp = Eaul.impassableWays(g, stats, 1000, None)
    assert(imp == Set(1, 2, 4))
    val m = Routing.routeMatrixLocal(g, od, i => if (imp(i)) Double.PositiveInfinity else 1.0)
    assert(math.abs(pair(m, 0, 1).ruc.get - 4.45) < 0.01)
  }

  test("global unroutable pairs are exactly A-C and B-C") {
    assert(Eaul.globalUnroutablePairs(g, stats, od) == Set((0, 2), (1, 2)))
  }

  test("segment 10 is C's only link: removal severs exactly the C pairs") {
    val without10 = Routing.routeMatrixLocal(g, od, i => if (i == 9) Double.PositiveInfinity else 1.0)
    val base = Routing.routeMatrixLocal(g, od)
    assert(pair(without10, 0, 1).ruc == pair(base, 0, 1).ruc) // A-B untouched
    assert(!pair(without10, 0, 2).routable)
    assert(!pair(without10, 1, 2).routable)
  }

  test("removing segment 1 severs A from everything") {
    val m = Routing.routeMatrixLocal(g, od, i => if (i == 0) Double.PositiveInfinity else 1.0)
    assert(!pair(m, 0, 1).routable)
    assert(!pair(m, 0, 2).routable)
    assert(pair(m, 1, 2).routable) // B-C unaffected
  }

  test("EAUL invariants from the reference prose spec") {
    val unroutable = Eaul.globalUnroutablePairs(g, stats, od)
    def eaulFor(upgraded: Option[(Int, Eaul.Upgrade)]): Double =
      Eaul.calcEaulLocal(
        g, stats, od, GoldenNetwork.yearlyTraffic, unroutable,
        GoldenNetwork.noTraffic, upgraded)
    val baseline = eaulFor(None)
    val asphalt = Eaul.RoadUpgrades.head

    // "no impact of an upgrade on segment 1 on EAUL" — RUC drop cancels in
    // (RUC_flood − RUC_base)
    assert(math.abs(eaulFor(Some((0, asphalt))) - baseline) < 1e-6)

    // "no impact of an upgrade on segment 10, as it's never routable"
    assert(math.abs(eaulFor(Some((9, asphalt))) - baseline) < 1e-6)

    // "segment 2 & 3 have an EAUL that is higher than the baseline"
    assert(eaulFor(Some((1, asphalt))) > baseline)
    assert(eaulFor(Some((2, asphalt))) > baseline)

    // upgrades on the never-flooded route 3 (segments 7-9) reduce EAUL:
    // with a lower base RUC on the alternative, the detour penalty shrinks
    assert(eaulFor(Some((7, asphalt))) < baseline)
  }

  test("EAUL preserves the reference's upgrade asymmetry (eaul.js:391 vs :519)") {
    // depth where (wlcc − wld·0.7) > 0.5 but (wlcc − wld·1.0) ≤ 0.5:
    // wlcc = 2.0 at the probed RP AND at the design RP (20) → dc=0.7 gives
    // 0.6 > 0.5 (impassable), dc=1.0 gives 0.0 (passable when upgraded)
    val rps = Eaul.FloodReturnPeriods
    val statsAsym = Eaul.FloodStats(
      depth = Map("1" -> rps.map(rp => rp -> (if (rp == 500 || rp == 20) 2.0 else 0.0)).toMap)
        .withDefaultValue(rps.map(_ -> 0.0).toMap),
      lengthPct = Map("1" -> rps.map(rp => rp -> (if (rp == 500) 50.0 else 0.0)).toMap)
        .withDefaultValue(rps.map(_ -> 0.0).toMap))
    val upgrade = Eaul.RoadUpgrades.head // drainageCapacity = 1.0
    // graph side: the upgraded way is NOT impassable in its own scenario
    assert(!Eaul.impassableWays(g, statsAsym, 500, Some((0, upgrade))).contains(0))
    assert(Eaul.impassableWays(g, statsAsym, 500, None).contains(0))
    // repair-time side: the way still counts (reference calls
    // getImpassableWays WITHOUT upgrade args inside calcFloodRepairTime)
    assert(Eaul.floodRepairTime(g, statsAsym, 500, Some((0, upgrade))) > 0.0)
    // ...but its surface DOES honor the upgrade (paved tables ≠ unpaved)
    val rPaved = Eaul.floodRepairTime(g, statsAsym, 500, Some((0, upgrade)))
    val rBase = Eaul.floodRepairTime(g, statsAsym, 500, None)
    assert(rPaved < rBase) // paved repair table is cheaper than unpaved
  }

  test("EAUL invariants: zero floods => zero EAUL; zero traffic => zero EAUL") {
    val noFloods = Eaul.FloodStats(
      Map.empty.withDefaultValue(Map.empty),
      Map.empty.withDefaultValue(Map.empty))
    assert(
      Eaul.calcEaulLocal(g, noFloods, od, GoldenNetwork.yearlyTraffic, Set.empty, Set.empty, None) == 0.0)
    val noTraffic = Array.fill(3, 3)(0.0)
    assert(
      Eaul.calcEaulLocal(g, stats, od, noTraffic, Set.empty, Set.empty, None) == 0.0)
  }

  test("EAUL routing each distinct impassable set once equals recomputing every period") {
    // the loop of eaul.js:593-659 as written: every return period routes
    // its own flood matrix (the golden sets differ at RP500 and RP1000)
    def reference(upgraded: Option[(Int, Eaul.Upgrade)], unroutable: Set[(Int, Int)]): Double = {
      def factor(imp: Set[Int]): Int => Double = w =>
        if (imp(w)) Double.PositiveInfinity
        else upgraded match {
          case Some((idx, up)) if idx == w => up.ruc / g.ways(idx).ruc
          case _ => 1.0
        }
      val baseline = Routing.routeMatrixLocal(g, od, factor(Set.empty))
      val u = Eaul.FloodReturnPeriods.map { rp =>
        val flood = Routing.routeMatrixLocal(g, od, factor(Eaul.impassableWays(g, stats, rp, upgraded)))
        val sum = flood.indices.foldLeft(0.0) { (acc, k) =>
          val f = flood(k)
          if (unroutable((f.oIdx, f.dIdx)) || GoldenNetwork.noTraffic((f.oIdx, f.dIdx))) acc
          else acc + (f.ruc.getOrElse(0.0) - baseline(k).ruc.getOrElse(0.0)) *
            GoldenNetwork.yearlyTraffic(f.oIdx)(f.dIdx)
        }
        Eaul.floodRepairTime(g, stats, rp, upgraded) * sum
      }
      val t = Eaul.FloodReturnPeriods
      0.5 * (0 until t.length - 1).foldLeft(0.0) { (acc, i) =>
        acc + (1.0 / t(i) - 1.0 / t(i + 1)) * (u(i) + u(i + 1))
      }
    }
    val scenarios = None +: (for (w <- Seq(1, 2, 4); up <- Eaul.RoadUpgrades) yield Some((w, up)))
    Seq(Eaul.globalUnroutablePairs(g, stats, od), Set.empty[(Int, Int)]).foreach { unroutable =>
      scenarios.foreach { upgraded =>
        val got = Eaul.calcEaulLocal(
          g, stats, od, GoldenNetwork.yearlyTraffic, unroutable, GoldenNetwork.noTraffic, upgraded)
        val want = reference(upgraded, unroutable)
        assert(
          java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
          s"$upgraded, unroutable=$unroutable: $got vs $want")
      }
    }
  }

  test("EAUL throws on a non-positive RUC of the upgraded way, naming the way") {
    val asphalt = Eaul.RoadUpgrades.head
    Seq(0.0, -1.0).foreach { ruc =>
      val ways = g.ways.updated(1, g.ways(1).copy(ruc = ruc))
      val bad = new CsrGraph(g.numNodes, g.indptr, g.nbr, g.cost, g.wayOfEdge, ways, g.nodeLon, g.nodeLat)
      val ex = intercept[IllegalArgumentException] {
        Eaul.calcEaulLocal(bad, stats, od, GoldenNetwork.yearlyTraffic, Set.empty, Set.empty, Some((1, asphalt)))
      }
      assert(ex.getMessage.contains("way 2 ") && ex.getMessage.contains(s"RUC $ruc"), ex.getMessage)
      // the un-upgraded scenario never divides by it
      Eaul.calcEaulLocal(bad, stats, od, GoldenNetwork.yearlyTraffic, Set.empty, Set.empty, None)
    }
  }

  test("Dijkstra matrix matches an independent Floyd-Warshall oracle") {
    // different algorithm, independently derived from the same edge list —
    // catches kernel bugs a same-algorithm refactor would preserve
    def floydWarshall(graph: CsrGraph): Array[Array[Double]] = {
      val n = graph.numNodes
      val d = Array.fill(n, n)(Double.PositiveInfinity)
      (0 until n).foreach(i => d(i)(i) = 0.0)
      (0 until n).foreach { u =>
        (graph.indptr(u) until graph.indptr(u + 1)).foreach { e =>
          val v = graph.nbr(e)
          if (graph.cost(e) < d(u)(v)) { d(u)(v) = graph.cost(e); d(v)(u) = graph.cost(e) }
        }
      }
      (0 until n).foreach { k =>
        (0 until n).foreach { i =>
          (0 until n).foreach { j =>
            if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
          }
        }
      }
      d
    }
    Seq(GoldenNetwork.graph, DemoNetwork.grid(7)._1).foreach { graph =>
      val fw = floydWarshall(graph)
      (0 until graph.numNodes by math.max(1, graph.numNodes / 10)).foreach { src =>
        val dist = graph.dijkstra(src)
        (0 until graph.numNodes).foreach { dst =>
          if (fw(src)(dst).isInfinity) assert(dist(dst).isInfinity)
          else assert(math.abs(dist(dst) - fw(src)(dst)) < 1e-9, s"src=$src dst=$dst")
        }
      }
    }
  }

  test("snap finds the OD nodes from raw coordinates") {
    assert(g.snap(0.0, 0.0) == 0)
    assert(g.snap(0.026949474, 0.0) == 3)
    assert(g.snap(0.017966316, 0.004491579) == 8)
  }
}
