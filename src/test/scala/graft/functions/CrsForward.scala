package graft.functions

import Crs._

/** The forward projections paired with [[Crs]]'s inverses. The engine
  * only ever un-projects (a `.prj` on ingest); CrsSpec and ShapefileSpec
  * project known lon/lat points with these to build inputs and check the
  * inverses round-trip.
  */
object CrsForward {

  /** Standard UTM zone parameters: lon0 = zone·6 − 183, k0 = 0.9996,
    * FE = 500 000, FN = 10 000 000 for the southern hemisphere.
    */
  def utmZone(zone: Int, south: Boolean): TmParams = {
    require(zone >= 1 && zone <= 60, s"UTM zone must be 1..60, got $zone")
    TmParams(zone * 6.0 - 183.0, 0.0, 0.9996, 500000.0, if (south) 10000000.0 else 0.0)
  }

  /** Forward transverse Mercator: lon/lat degrees → projected (x, y)
    * metres (Snyder eqs. 8-9..8-17).
    */
  def tmForward(lonDeg: Double, latDeg: Double, p: TmParams): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val lam = math.toRadians(lonDeg)
    val lam0 = math.toRadians(p.centralMeridianDeg)
    val sinP = math.sin(phi); val cosP = math.cos(phi); val tanP = math.tan(phi)
    val n = A / math.sqrt(1 - E2 * sinP * sinP)
    val t = tanP * tanP
    val c = Ep2 * cosP * cosP
    val a1 = (lam - lam0) * cosP
    val m = meridianArc(phi)
    val m0 = meridianArc(math.toRadians(p.latitudeOfOriginDeg))
    val a2 = a1 * a1; val a3 = a2 * a1; val a4 = a3 * a1; val a5 = a4 * a1; val a6 = a5 * a1
    val x = p.scaleFactor * n * (a1 + (1 - t + c) * a3 / 6 +
      (5 - 18 * t + t * t + 72 * c - 58 * Ep2) * a5 / 120) + p.falseEasting
    val y = p.scaleFactor * (m - m0 + n * tanP * (a2 / 2 +
      (5 - t + 9 * c + 4 * c * c) * a4 / 24 +
      (61 - 58 * t + t * t + 600 * c - 330 * Ep2) * a6 / 720)) + p.falseNorthing
    (x, y)
  }

  /** Forward Lambert conformal conic (Snyder eqs. 15-1..15-10). */
  def lccForward(lonDeg: Double, latDeg: Double, p: LccParams): (Double, Double) = {
    val d = lccDerive(p)
    val rho = A * d.f * math.pow(tFactor(math.toRadians(latDeg)), d.n) * d.k0
    val theta = d.n * (math.toRadians(lonDeg) - d.lam0)
    (p.falseEasting + rho * math.sin(theta),
      p.falseNorthing + d.rho0 - rho * math.cos(theta))
  }

  /** Forward Albers equal-area conic (Snyder eqs. 14-1..14-14). */
  def albersForward(lonDeg: Double, latDeg: Double, p: AlbersParams): (Double, Double) = {
    val d = albersDerive(p)
    val rho = A * math.sqrt(d.c - d.n * authalicQ(math.toRadians(latDeg))) / d.n
    val theta = d.n * (math.toRadians(lonDeg) - d.lam0)
    (p.falseEasting + rho * math.sin(theta),
      p.falseNorthing + d.rho0 - rho * math.cos(theta))
  }
}
