package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** F15 verification. The transverse-Mercator series is checked against
  * INDEPENDENT math, not against itself: the meridian-arc integral is
  * re-derived by adaptive Simpson quadrature of the ellipsoid's meridian
  * radius (the defining integral, no series), anchor points follow from
  * the projection definition (central meridian → x = FE exactly), and
  * the scale factor on the central meridian must equal k0 by definition.
  * Round-trips then pin forward/inverse consistency to sub-1e-9°.
  */
class CrsSpec extends AnyFunSuite {
  import Crs._
  import CrsForward._

  /** ∫ a(1−e²)/(1−e² sin²t)^{3/2} dt from 0 to phi — the meridian arc by
    * Simpson quadrature (defining integral; shares nothing with the
    * Snyder series under test).
    */
  private def meridianArcNumeric(phi: Double, steps: Int = 20000): Double = {
    def f(t: Double): Double = {
      val s = math.sin(t)
      A * (1 - E2) / math.pow(1 - E2 * s * s, 1.5)
    }
    val h = phi / steps
    var sum = f(0) + f(phi)
    var i = 1
    while (i < steps) {
      sum += (if (i % 2 == 1) 4.0 else 2.0) * f(i * h)
      i += 1
    }
    sum * h / 3
  }

  test("meridianArc series matches the defining integral to < 1 cm") {
    for (latDeg <- Seq(-80.0, -25.9, -15.0, -0.001, 10.0, 45.0, 70.0)) {
      val phi = math.toRadians(latDeg)
      assert(math.abs(meridianArc(phi) - meridianArcNumeric(phi)) < 0.01,
        s"meridian arc at $latDeg°")
    }
  }

  test("central-meridian anchors: x = FE exactly, y = k0·M + FN vs integral") {
    val p36s = utmZone(36, south = true)
    for (latDeg <- Seq(-25.9, -15.0, -11.0)) {
      val (x, y) = tmForward(33.0, latDeg, p36s)
      assert(math.abs(x - 500000.0) < 1e-6, "on-meridian easting is the false easting")
      val yWant = 0.9996 * meridianArcNumeric(math.toRadians(latDeg)) + 1e7
      assert(math.abs(y - yWant) < 0.01, s"northing at $latDeg°")
    }
    // northern-hemisphere zone: FN = 0, equator → (FE, 0)
    val (x0, y0) = tmForward(-75.0, 0.0, utmZone(18, south = false))
    assert(math.abs(x0 - 500000.0) < 1e-6 && math.abs(y0) < 1e-6)
  }

  test("scale factor on the central meridian equals k0") {
    val p = utmZone(36, south = true)
    val (_, y1) = tmForward(33.0, -15.0, p)
    val (_, y2) = tmForward(33.0, -15.0 + 1e-4, p)
    val arc = meridianArcNumeric(math.toRadians(-15.0 + 1e-4)) -
      meridianArcNumeric(math.toRadians(-15.0))
    assert(math.abs((y2 - y1) / arc - 0.9996) < 1e-7)
  }

  test("round-trip across the zone stays under 5e-9 degrees (~0.5 mm)") {
    // the e⁶/A⁶-truncated series round-trips to ~2e-9° at the ±3° zone
    // edge and <1e-9° inside — 3 orders under the 1e-6° ingest contract
    val p = utmZone(36, south = true)
    for {
      lon <- Seq(30.1, 31.5, 33.0, 34.7, 35.9)
      lat <- Seq(-26.5, -20.0, -15.0, -11.2, -0.5)
    } {
      val (x, y) = tmForward(lon, lat, p)
      val (lon2, lat2) = tmInverse(x, y, p)
      assert(math.abs(lon2 - lon) < 5e-9 && math.abs(lat2 - lat) < 5e-9,
        s"round-trip ($lon, $lat)")
    }
  }

  test("inverse puts UTM 36S coordinates in the right cell (coarse geo anchor)") {
    // Maputo is ~(32.57E, 25.97S): its UTM 36S easting must sit WEST of
    // the 500 km central-meridian easting, northing below 10 000 km FN
    val p = utmZone(36, south = true)
    val (x, y) = tmForward(32.57, -25.97, p)
    assert(x > 400000 && x < 500000)
    assert(y > 7000000 && y < 7200000) // ~25.97° of arc south of FN
    val (lon, lat) = tmInverse(x, y, p)
    assert(math.abs(lon - 32.57) < 1e-9 && math.abs(lat - -25.97) < 1e-9)
  }

  private val Utm36sWkt =
    """PROJCS["WGS 84 / UTM zone 36S",GEOGCS["WGS 84",DATUM["WGS_1984",
      |SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],
      |UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],
      |PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",33],
      |PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],
      |PARAMETER["false_northing",10000000],UNIT["metre",1]]""".stripMargin

  test("parsePrj: UTM PROJCS, GEOGCS identity, unsupported projection throws") {
    parsePrj(Utm36sWkt) match {
      case ProjectedTm(p) =>
        assert(p == TmParams(33.0, 0.0, 0.9996, 500000.0, 10000000.0))
      case other => fail(s"expected ProjectedTm, got $other")
    }
    assert(parsePrj("""GEOGCS["WGS 84",DATUM["WGS_1984"]]""") == Geographic)
    val err = intercept[IllegalArgumentException] {
      parsePrj("""PROJCS["x",GEOGCS["WGS 84"],PROJECTION["Sinusoidal"]]""")
    }
    assert(err.getMessage.contains("sinusoidal"))
  }

  test("parsePrj defaults: missing parameters → 0, scale_factor → 1") {
    parsePrj("""PROJCS["p",GEOGCS["g"],PROJECTION["Transverse_Mercator"]]""") match {
      case ProjectedTm(p) => assert(p == TmParams(0.0, 0.0, 1.0, 0.0, 0.0))
      case other => fail(s"expected ProjectedTm, got $other")
    }
  }

  // ------------------------------------------------------------ conics

  // mid-latitude 2SP cone (the classic conterminous-US setup) and a
  // southern-hemisphere cone (negative n) — both exercised everywhere
  private val LccUs = LccParams(-96.0, 23.0, 33.0, 45.0, 1.0, 0.0, 0.0)
  private val LccSouth = LccParams(25.0, -25.0, -18.0, -32.0, 1.0, 500000.0, 1000000.0)
  private val AlbUs = AlbersParams(-96.0, 23.0, 29.5, 45.5, 0.0, 0.0)
  private val AlbSouth = AlbersParams(25.0, -25.0, -18.0, -32.0, 500000.0, 1000000.0)

  /** Geodesic radius of the parallel at φ: N·cosφ = A·m(φ) — so true
    * distance along the parallel for δλ is A·m·δλ. Independent of the
    * projections: straight from the ellipsoid definition.
    */
  private def parallelRadius(latDeg: Double): Double = {
    val phi = math.toRadians(latDeg)
    val s = math.sin(phi)
    (Crs.A / math.sqrt(1 - E2 * s * s)) * math.cos(phi)
  }

  test("LCC: scale along both standard parallels is exactly 1 (cone secancy)") {
    for ((p, lats) <- Seq(LccUs -> Seq(33.0, 45.0), LccSouth -> Seq(-18.0, -32.0))) {
      for (lat <- lats) {
        val dl = 1e-4
        val (x1, y1) = lccForward(p.centralMeridianDeg + 1.0, lat, p)
        val (x2, y2) = lccForward(p.centralMeridianDeg + 1.0 + dl, lat, p)
        val projected = math.hypot(x2 - x1, y2 - y1)
        val trueDist = parallelRadius(lat) * math.toRadians(dl)
        assert(math.abs(projected / trueDist - 1.0) < 1e-7,
          s"scale ${projected / trueDist} on standard parallel $lat")
      }
      // off the standard parallels the secant cone's scale is > 1 outside,
      // < 1 between — check the signs hold (independent qualitative law)
      val mid = (lats.head + lats.last) / 2
      val outside = lats.map(_ + math.signum(lats.head - lats.last) * -5.0).last
      def k(lat: Double): Double = {
        val dl = 1e-4
        val (x1, y1) = lccForward(p.centralMeridianDeg, lat, p)
        val (x2, y2) = lccForward(p.centralMeridianDeg + dl, lat, p)
        math.hypot(x2 - x1, y2 - y1) / (parallelRadius(lat) * math.toRadians(dl))
      }
      assert(k(mid) < 1.0 && k(outside) > 1.0)
    }
  }

  test("LCC is conformal: image of a tiny cross stays orthogonal and isotropic") {
    for (p <- Seq(LccUs, LccSouth); (lon, lat) <- Seq(
        (p.centralMeridianDeg + 7.3, (p.stdParallel1Deg + p.stdParallel2Deg) / 2 + 2.1),
        (p.centralMeridianDeg - 12.0, p.stdParallel1Deg - 4.0))) {
      val d = 1e-5
      val (x0, y0) = lccForward(lon, lat, p)
      val (xe, ye) = lccForward(lon + d, lat, p)
      val (xn, yn) = lccForward(lon, lat + d, p)
      val e = (xe - x0, ye - y0)
      val n = (xn - x0, yn - y0)
      val dot = e._1 * n._1 + e._2 * n._2
      val le = math.hypot(e._1, e._2); val ln = math.hypot(n._1, n._2)
      assert(math.abs(dot / (le * ln)) < 1e-4, s"cross not orthogonal at ($lon,$lat)")
      // conformal ⇒ isotropic local scale: |E|/(A·m·δλ) == |N|/(ρmer·δφ)
      val phi = math.toRadians(lat); val s = math.sin(phi)
      val rmer = A * (1 - E2) / math.pow(1 - E2 * s * s, 1.5)
      val kE = le / (parallelRadius(lat) * math.toRadians(d))
      val kN = ln / (rmer * math.toRadians(d))
      assert(math.abs(kE / kN - 1.0) < 1e-5, s"anisotropy $kE vs $kN at ($lon,$lat)")
    }
  }

  test("LCC round-trips stay under 1e-9 degrees; 1SP limit matches φ1=φ2 cone") {
    for (p <- Seq(LccUs, LccSouth); (lon, lat) <- Seq(
        (p.centralMeridianDeg + 3.0, p.stdParallel1Deg + 1.0),
        (p.centralMeridianDeg - 15.0, p.stdParallel2Deg - 3.0),
        (p.centralMeridianDeg, (p.stdParallel1Deg + p.stdParallel2Deg) / 2))) {
      val (x, y) = lccForward(lon, lat, p)
      val (lon2, lat2) = lccInverse(x, y, p)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
        s"round-trip ($lon,$lat) → ($lon2,$lat2)")
    }
    // 1SP (φ1 = φ2 = φ0, k0 = 0.9998): tangent cone with scale k0 ON φ0
    val p1 = LccParams(10.0, 40.0, 40.0, 40.0, 0.9998, 0.0, 0.0)
    val dl = 1e-4
    val (x1, y1) = lccForward(10.0, 40.0, p1)
    val (x2, y2) = lccForward(10.0 + dl, 40.0, p1)
    val k = math.hypot(x2 - x1, y2 - y1) / (parallelRadius(40.0) * math.toRadians(dl))
    assert(math.abs(k - 0.9998) < 1e-7, s"1SP scale on origin parallel $k")
    val (xx, yy) = lccForward(12.5, 42.0, p1)
    val (lo, la) = lccInverse(xx, yy, p1)
    assert(math.abs(lo - 12.5) < 1e-9 && math.abs(la - 42.0) < 1e-9)
  }

  test("Albers preserves area: projected quad area equals the analytic ellipsoid area") {
    // ellipsoid area of a lon/lat quad = A²·Δλ·(q(φN) − q(φS))/2 — from
    // the authalic-latitude definition, independent of the projection
    for (p <- Seq(AlbUs, AlbSouth)) {
      val (lonW, lonE) = (p.centralMeridianDeg - 6.0, p.centralMeridianDeg + 4.0)
      val (latS, latN) = (p.stdParallel2Deg min p.stdParallel1Deg,
        (p.stdParallel1Deg max p.stdParallel2Deg) + 3.0)
      val want = A * A * math.toRadians(lonE - lonW) *
        (authalicQ(math.toRadians(latN)) - authalicQ(math.toRadians(latS))) / 2
      // shoelace over a densified boundary (parallels project to arcs)
      val steps = 2000
      val boundary =
        (0 to steps).map(i => (lonW + (lonE - lonW) * i / steps, latS)) ++
          (0 to steps).map(i => (lonE, latS + (latN - latS) * i / steps)) ++
          (0 to steps).map(i => (lonE - (lonE - lonW) * i / steps, latN)) ++
          (0 to steps).map(i => (lonW, latN - (latN - latS) * i / steps))
      val pts = boundary.map { case (lo, la) => albersForward(lo, la, p) }
      var area = 0.0
      var i = 0
      while (i < pts.length) {
        val (x1, y1) = pts(i); val (x2, y2) = pts((i + 1) % pts.length)
        area += x1 * y2 - x2 * y1
        i += 1
      }
      area = math.abs(area) / 2
      assert(math.abs(area / math.abs(want) - 1.0) < 1e-6,
        s"projected area $area vs ellipsoid area $want")
    }
  }

  test("Albers: unit scale along standard parallels, round-trips under 1e-9°") {
    for ((p, lats) <- Seq(AlbUs -> Seq(29.5, 45.5), AlbSouth -> Seq(-18.0, -32.0))) {
      for (lat <- lats) {
        val dl = 1e-4
        val (x1, y1) = albersForward(p.centralMeridianDeg + 2.0, lat, p)
        val (x2, y2) = albersForward(p.centralMeridianDeg + 2.0 + dl, lat, p)
        val k = math.hypot(x2 - x1, y2 - y1) / (parallelRadius(lat) * math.toRadians(dl))
        assert(math.abs(k - 1.0) < 1e-7, s"Albers scale $k on standard parallel $lat")
      }
      for ((lon, lat) <- Seq(
          (p.centralMeridianDeg + 8.0, lats.head + 2.0),
          (p.centralMeridianDeg - 20.0, lats.last - 1.5))) {
        val (x, y) = albersForward(lon, lat, p)
        val (lon2, lat2) = albersInverse(x, y, p)
        assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9,
          s"round-trip ($lon,$lat) → ($lon2,$lat2)")
      }
    }
  }

  test("parsePrj: LCC 2SP/1SP and Albers PROJCS parse with WKT defaults") {
    val lcc = parsePrj(
      """PROJCS["NAD83 / Conus Albersish",GEOGCS["GCS_North_American_1983"],
        |PROJECTION["Lambert_Conformal_Conic_2SP"],
        |PARAMETER["standard_parallel_1",33],PARAMETER["standard_parallel_2",45],
        |PARAMETER["latitude_of_origin",23],PARAMETER["central_meridian",-96],
        |PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]""".stripMargin)
    assert(lcc == ProjectedLcc(LccParams(-96, 23, 33, 45, 1.0, 0, 0)))
    // 1SP: no standard_parallel parameters → both default to lat0
    val lcc1 = parsePrj(
      """PROJCS["x",GEOGCS["g"],PROJECTION["Lambert_Conformal_Conic_1SP"],
        |PARAMETER["latitude_of_origin",40],PARAMETER["central_meridian",10],
        |PARAMETER["scale_factor",0.9998]]""".stripMargin)
    assert(lcc1 == ProjectedLcc(LccParams(10, 40, 40, 40, 0.9998, 0, 0)))
    val alb = parsePrj(
      """PROJCS["a",GEOGCS["g"],PROJECTION["Albers"],
        |PARAMETER["standard_parallel_1",29.5],PARAMETER["standard_parallel_2",45.5],
        |PARAMETER["latitude_of_origin",23],PARAMETER["central_meridian",-96]]""".stripMargin)
    assert(alb == ProjectedAlbers(AlbersParams(-96, 23, 29.5, 45.5, 0, 0)))
    // the generic ingest transform inverts all three projected families
    assert(Crs.inverseTransform(Geographic).isEmpty)
    for (crs <- Seq(lcc, lcc1, alb)) assert(Crs.inverseTransform(crs).isDefined)
  }
}
