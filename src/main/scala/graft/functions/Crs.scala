package graft.functions

/** F15 — general CRS reprojection (reference reprojects every source
  * shapefile with `ogr2ogr -t_srs EPSG:4326`, `scripts/base-network.sh:98-99`,
  * and pyproj for raster CRS, `scripts/imgstats/img-stats.py:60-73`).
  *
  * Implements the ellipsoidal transverse-Mercator inverse series
  * (Snyder 1987, USGS Professional Paper 1395, eqs. 3-21, 8-9..8-17 and
  * 8-18..8-25 — the same truncated Krüger series PROJ's `tmerc` uses) on
  * the WGS-84 ellipsoid. That covers every UTM zone — in particular
  * 36S/37S, the zones real Mozambique shapefiles ship in — plus any
  * custom `Transverse_Mercator` PROJCS. Series accuracy inside a UTM
  * zone's ±3° is sub-millimetre, far inside the 1e-6° (~0.1 m) contract.
  *
  * Also implements the two conic families real administrative data
  * ships in: Lambert conformal conic (Snyder eqs. 15-1..15-11, 2SP and
  * 1SP-with-k0) and Albers equal-area conic (Snyder eqs. 14-1..14-21),
  * both verified in CrsSpec against projection-independent invariants
  * (unit scale on the standard parallels, conformality/area
  * preservation, sub-1e-9° round-trips through the forward projections
  * the specs carry, `CrsForward`).
  *
  * The `.prj` sidecar (OGC WKT) is parsed by [[Crs.parsePrj]]:
  * `GEOGCS`-only means already-geographic (identity); a
  * `Transverse_Mercator`/`Lambert_Conformal_Conic*`/`Albers*` PROJCS
  * yields its parameters ([[inverseTransform]] turns any of them into
  * the ingest-side projected→4326 map); any OTHER projection throws —
  * a loud failure at ingest beats silently keeping projected metres as
  * "degrees".
  *
  * Scale shape: pure per-row scalar math (no state, no shuffle), applied
  * inside the Shapefile reader's per-file flatMap or as a UDF column.
  */
object Crs {

  /** WGS-84 defining parameters (public EPSG:4326 / NGA definition). */
  val A = 6378137.0
  val F = 1.0 / 298.257223563
  val E2 = F * (2.0 - F) // first eccentricity squared
  val Ep2 = E2 / (1.0 - E2) // second eccentricity squared

  /** Transverse-Mercator projection parameters (the PARAMETER entries of
    * a `Transverse_Mercator` PROJCS, all in degrees/metres).
    */
  case class TmParams(
      centralMeridianDeg: Double,
      latitudeOfOriginDeg: Double,
      scaleFactor: Double,
      falseEasting: Double,
      falseNorthing: Double)

  /** Meridian arc length from the equator to latitude `phi` (radians):
    * Snyder eq. 3-21, the e⁶ truncation.
    */
  def meridianArc(phi: Double): Double = {
    val e2 = E2; val e4 = e2 * e2; val e6 = e4 * e2
    A * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
      - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * phi)
      + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi)
      - (35 * e6 / 3072) * math.sin(6 * phi))
  }

  /** Inverse transverse Mercator: projected (x, y) metres → lon/lat
    * degrees (Snyder eqs. 8-18..8-25, footpoint-latitude form).
    */
  def tmInverse(x: Double, y: Double, p: TmParams): (Double, Double) = {
    val m0 = meridianArc(math.toRadians(p.latitudeOfOriginDeg))
    val m = m0 + (y - p.falseNorthing) / p.scaleFactor
    val e2 = E2; val e4 = e2 * e2; val e6 = e4 * e2
    val mu = m / (A * (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256))
    val sq = math.sqrt(1 - e2)
    val e1 = (1 - sq) / (1 + sq)
    val e1_2 = e1 * e1; val e1_3 = e1_2 * e1; val e1_4 = e1_3 * e1
    val phi1 = mu + (3 * e1 / 2 - 27 * e1_3 / 32) * math.sin(2 * mu) +
      (21 * e1_2 / 16 - 55 * e1_4 / 32) * math.sin(4 * mu) +
      (151 * e1_3 / 96) * math.sin(6 * mu) +
      (1097 * e1_4 / 512) * math.sin(8 * mu)
    val sinP1 = math.sin(phi1); val cosP1 = math.cos(phi1); val tanP1 = math.tan(phi1)
    val c1 = Ep2 * cosP1 * cosP1
    val t1 = tanP1 * tanP1
    val oneMinus = 1 - e2 * sinP1 * sinP1
    val n1 = A / math.sqrt(oneMinus)
    val r1 = A * (1 - e2) / (oneMinus * math.sqrt(oneMinus))
    val d = (x - p.falseEasting) / (n1 * p.scaleFactor)
    val d2 = d * d; val d3 = d2 * d; val d4 = d3 * d; val d5 = d4 * d; val d6 = d5 * d
    val phi = phi1 - (n1 * tanP1 / r1) * (d2 / 2 -
      (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * Ep2) * d4 / 24 +
      (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * Ep2 - 3 * c1 * c1) * d6 / 720)
    val lam = math.toRadians(p.centralMeridianDeg) + (d - (1 + 2 * t1 + c1) * d3 / 6 +
      (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * Ep2 + 24 * t1 * t1) * d5 / 120) / cosP1
    (math.toDegrees(lam), math.toDegrees(phi))
  }

  // ---------------------------------------------------------- conics
  /** Lambert conformal conic parameters (2SP; 1SP = both standard
    * parallels at the latitude of origin plus a scale factor).
    */
  case class LccParams(
      centralMeridianDeg: Double,
      latitudeOfOriginDeg: Double,
      stdParallel1Deg: Double,
      stdParallel2Deg: Double,
      scaleFactor: Double,
      falseEasting: Double,
      falseNorthing: Double)

  /** Albers equal-area conic parameters. */
  case class AlbersParams(
      centralMeridianDeg: Double,
      latitudeOfOriginDeg: Double,
      stdParallel1Deg: Double,
      stdParallel2Deg: Double,
      falseEasting: Double,
      falseNorthing: Double)

  private[functions] val E = math.sqrt(E2)

  /** Snyder eq. 14-15: m = cosφ / √(1 − e²sin²φ). */
  private def mFactor(phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1 - E2 * s * s)
  }

  /** Snyder eq. 15-9: t = tan(π/4 − φ/2) / [(1 − e·sinφ)/(1 + e·sinφ)]^(e/2). */
  private[functions] def tFactor(phi: Double): Double = {
    val s = math.sin(phi)
    math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - E * s) / (1 + E * s), E / 2)
  }

  /** Snyder eq. 3-12: authalic q = (1−e²)[sinφ/(1−e²sin²φ) − (1/2e)·ln((1−e·sinφ)/(1+e·sinφ))]. */
  def authalicQ(phi: Double): Double = {
    val s = math.sin(phi)
    (1 - E2) * (s / (1 - E2 * s * s) -
      (1 / (2 * E)) * math.log((1 - E * s) / (1 + E * s)))
  }

  private[functions] case class LccDerived(n: Double, f: Double, rho0: Double, lam0: Double, k0: Double)

  private[functions] def lccDerive(p: LccParams): LccDerived = {
    val phi1 = math.toRadians(p.stdParallel1Deg)
    val phi2 = math.toRadians(p.stdParallel2Deg)
    val phi0 = math.toRadians(p.latitudeOfOriginDeg)
    val (m1, t1) = (mFactor(phi1), tFactor(phi1))
    val (m2, t2) = (mFactor(phi2), tFactor(phi2))
    // Snyder 15-8 (2SP); the φ1 = φ2 limit is the 1SP cone n = sinφ1
    val n =
      if (math.abs(phi1 - phi2) < 1e-10) math.sin(phi1)
      else (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    require(math.abs(n) > 1e-12,
      "degenerate Lambert cone: standard parallels symmetric about / on the equator " +
        "(n = 0 is a cylinder, not a cone — check the .prj parameters)")
    val f = m1 / (n * math.pow(t1, n)) // 15-10
    val rho0 = A * f * math.pow(tFactor(phi0), n) * p.scaleFactor // 15-7a
    LccDerived(n, f, rho0, math.toRadians(p.centralMeridianDeg), p.scaleFactor)
  }

  /** Inverse Lambert conformal conic (Snyder eqs. 15-1..15-11 inverted;
    * φ from t by the standard fixed-point iteration, eq. 7-9).
    */
  def lccInverse(x: Double, y: Double, p: LccParams): (Double, Double) = {
    val d = lccDerive(p)
    val dx = x - p.falseEasting
    val dy = d.rho0 - (y - p.falseNorthing)
    val rho = math.signum(d.n) * math.sqrt(dx * dx + dy * dy)
    val theta = math.atan2(math.signum(d.n) * dx, math.signum(d.n) * dy)
    val t = math.pow(rho / (A * d.f * d.k0), 1 / d.n)
    var phi = math.Pi / 2 - 2 * math.atan(t)
    var i = 0
    while (i < 8) { // converges to machine precision in ≤5 rounds
      val s = math.sin(phi)
      phi = math.Pi / 2 - 2 * math.atan(
        t * math.pow((1 - E * s) / (1 + E * s), E / 2))
      i += 1
    }
    (math.toDegrees(theta / d.n + d.lam0), math.toDegrees(phi))
  }

  private[functions] case class AlbersDerived(n: Double, c: Double, rho0: Double, lam0: Double)

  private[functions] def albersDerive(p: AlbersParams): AlbersDerived = {
    val phi1 = math.toRadians(p.stdParallel1Deg)
    val phi2 = math.toRadians(p.stdParallel2Deg)
    val phi0 = math.toRadians(p.latitudeOfOriginDeg)
    val (m1, q1) = (mFactor(phi1), authalicQ(phi1))
    val (m2, q2) = (mFactor(phi2), authalicQ(phi2))
    val n =
      if (math.abs(phi1 - phi2) < 1e-10) math.sin(phi1)
      else (m1 * m1 - m2 * m2) / (q2 - q1) // Snyder 14-14
    require(math.abs(n) > 1e-12,
      "degenerate Albers cone: standard parallels symmetric about / on the equator " +
        "(n = 0 is a cylinder, not a cone — check the .prj parameters)")
    val c = m1 * m1 + n * q1 // 14-13
    val rho0 = A * math.sqrt(c - n * authalicQ(phi0)) / n // 14-12a
    AlbersDerived(n, c, rho0, math.toRadians(p.centralMeridianDeg))
  }

  /** Inverse Albers (Snyder eqs. 14-19..14-21; φ from authalic q by the
    * eq. 3-16 Newton iteration).
    */
  def albersInverse(x: Double, y: Double, p: AlbersParams): (Double, Double) = {
    val d = albersDerive(p)
    val dx = x - p.falseEasting
    val dy = d.rho0 - (y - p.falseNorthing)
    val rho = math.signum(d.n) * math.sqrt(dx * dx + dy * dy)
    val theta = math.atan2(math.signum(d.n) * dx, math.signum(d.n) * dy)
    val q = (d.c - (rho * d.n / A) * (rho * d.n / A)) / d.n
    var phi = math.asin(math.min(1.0, math.max(-1.0, q / 2)))
    var i = 0
    while (i < 10) {
      val s = math.sin(phi)
      val om = 1 - E2 * s * s
      val delta = (om * om / (2 * math.cos(phi))) * (
        q / (1 - E2) - s / om +
          (1 / (2 * E)) * math.log((1 - E * s) / (1 + E * s)))
      phi += delta
      i += 1
    }
    (math.toDegrees(theta / d.n + d.lam0), math.toDegrees(phi))
  }

  /** The CRS transform a parsed `.prj` implies for reader-side
    * normalization to EPSG:4326.
    */
  sealed trait PrjCrs
  /** Already geographic lon/lat (GEOGCS-only .prj) — identity. */
  case object Geographic extends PrjCrs
  /** Projected transverse Mercator — apply [[tmInverse]] on ingest. */
  final case class ProjectedTm(params: TmParams) extends PrjCrs
  /** Projected Lambert conformal conic — apply [[lccInverse]] on ingest. */
  final case class ProjectedLcc(params: LccParams) extends PrjCrs
  /** Projected Albers equal-area conic — apply [[albersInverse]] on ingest. */
  final case class ProjectedAlbers(params: AlbersParams) extends PrjCrs

  /** The projected→geographic point transform for a parsed CRS; None for
    * already-geographic data (identity — skip the map entirely).
    */
  def inverseTransform(crs: PrjCrs): Option[(Double, Double) => (Double, Double)] = crs match {
    case Geographic => None
    case ProjectedTm(p) => Some((x, y) => tmInverse(x, y, p))
    case ProjectedLcc(p) => Some((x, y) => lccInverse(x, y, p))
    case ProjectedAlbers(p) => Some((x, y) => albersInverse(x, y, p))
  }

  private val ParamRe =
    """(?i)PARAMETER\s*\[\s*"([^"]+)"\s*,\s*([-+0-9.eE]+)\s*\]""".r
  private val ProjectionRe = """(?i)PROJECTION\s*\[\s*"([^"]+)"""".r

  /** Parse an ESRI/OGC WKT `.prj`. GEOGCS-only → [[Geographic]];
    * `Transverse_Mercator` PROJCS → [[ProjectedTm]] with its parameters
    * (missing parameters default per the WKT spec: 0 except
    * scale_factor = 1); anything else throws `IllegalArgumentException`.
    */
  def parsePrj(wkt: String): PrjCrs = {
    val s = wkt.trim
    if (s.isEmpty || s.regionMatches(true, 0, "GEOGCS", 0, 6)) Geographic
    else if (s.regionMatches(true, 0, "PROJCS", 0, 6)) {
      val proj = ProjectionRe.findFirstMatchIn(s).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"PROJCS without PROJECTION in .prj: ${s.take(80)}"))
      val params = ParamRe.findAllMatchIn(s)
        .map(m => m.group(1).toLowerCase -> m.group(2).toDouble).toMap
      def p(name: String, default: Double) = params.getOrElse(name, default)
      val lat0 = p("latitude_of_origin", 0.0)
      proj.toLowerCase match {
        case "transverse_mercator" | "gauss_kruger" =>
          ProjectedTm(TmParams(
            centralMeridianDeg = p("central_meridian", 0.0),
            latitudeOfOriginDeg = lat0,
            scaleFactor = p("scale_factor", 1.0),
            falseEasting = p("false_easting", 0.0),
            falseNorthing = p("false_northing", 0.0)))
        case "lambert_conformal_conic" | "lambert_conformal_conic_2sp" |
            "lambert_conformal_conic_1sp" =>
          // 1SP WKT carries no standard_parallel: both parallels sit at
          // the latitude of origin and scale_factor does the work
          ProjectedLcc(LccParams(
            centralMeridianDeg = p("central_meridian", 0.0),
            latitudeOfOriginDeg = lat0,
            stdParallel1Deg = p("standard_parallel_1", lat0),
            stdParallel2Deg = p("standard_parallel_2", p("standard_parallel_1", lat0)),
            scaleFactor = p("scale_factor", 1.0),
            falseEasting = p("false_easting", 0.0),
            falseNorthing = p("false_northing", 0.0)))
        case "albers" | "albers_conic_equal_area" =>
          ProjectedAlbers(AlbersParams(
            centralMeridianDeg = p("central_meridian", 0.0),
            latitudeOfOriginDeg = lat0,
            stdParallel1Deg = p("standard_parallel_1", lat0),
            stdParallel2Deg = p("standard_parallel_2", p("standard_parallel_1", lat0)),
            falseEasting = p("false_easting", 0.0),
            falseNorthing = p("false_northing", 0.0)))
        case other =>
          throw new IllegalArgumentException(
            s"unsupported PROJECTION '$other' in .prj (supported: Transverse_Mercator, " +
              "Lambert_Conformal_Conic, Albers; reproject externally or extend Crs)")
      }
    } else throw new IllegalArgumentException(
      s"unrecognized .prj WKT root (expected GEOGCS or PROJCS): ${s.take(80)}")
  }
}
