package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Pure-Scala geometry kernel on coordinate arrays (SURVEY.md §2.6 F8–F14).
  *
  * Geometries are plain Spark types — LineString = `array<array<double>>`
  * of [lon, lat] pairs, Polygon = `array<array<array<double>>>` rings —
  * so they serialize as columnar parquet and survive shuffles without a
  * UDT. The scalar math lives in plain Scala functions (unit-testable
  * without Spark), wrapped as UDFs; the haversine path additionally has a
  * pure-Column form (`haversineCol`) that stays inside codegen for the
  * oracle-checkable scan-heavy queries.
  *
  * Reference semantics: turf.js great-circle length / pointToLineDistance /
  * pointWithinPolygon as used by `indicator-from-areas.js` and
  * `prep-bridge.js` (see file:line cites per function).
  */
object GeoFunctions {

  val EarthRadiusKm = 6371.0088

  /** F8 — haversine great-circle distance in km between two lon/lat points
    * (reference: turf `length` in `additional-props.js:57-60`).
    */
  def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * EarthRadiusKm * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Column-expression haversine — codegen-friendly, no UDF. */
  def haversineColKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) + cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * EarthRadiusKm) * asin(least(lit(1.0), sqrt(a)))
  }

  /** Geodesic length (km) of a line's coordinate array. */
  def lineLengthKm(coords: Seq[Seq[Double]]): Double =
    if (coords == null || coords.size < 2) 0.0
    else coords.sliding(2).map { case Seq(a, b) => haversineKm(a(0), a(1), b(0), b(1)) }.sum

  /** F10 — bbox [minLon, minLat, maxLon, maxLat] (reference
    * `utils.js:88-95`).
    */
  def bbox(coords: Seq[Seq[Double]]): Seq[Double] = {
    var minX = Double.MaxValue; var minY = Double.MaxValue
    var maxX = Double.MinValue; var maxY = Double.MinValue
    coords.foreach { c =>
      if (c(0) < minX) minX = c(0); if (c(0) > maxX) maxX = c(0)
      if (c(1) < minY) minY = c(1); if (c(1) > maxY) maxY = c(1)
    }
    Seq(minX, minY, maxX, maxY)
  }

  val bboxUdf: UserDefinedFunction = udf(bbox _)

  /** bbox overlap predicate as a pure Column expression — this is the
    * broadcast spatial-join prefilter (J9): cheap, codegen'd, and the ONLY
    * thing evaluated against the full cross product. The exact geometry
    * test runs only on bbox-surviving pairs.
    */
  def bboxOverlap(a: Column, b: Column): Column =
    a.getItem(0) <= b.getItem(2) && a.getItem(2) >= b.getItem(0) &&
      a.getItem(1) <= b.getItem(3) && a.getItem(3) >= b.getItem(1)

  /** F12 — point-in-polygon, ray casting, boundary-exclusive to match turf
    * `pointWithinPolygon` (reference `indicator-from-areas.js:99,119`).
    * `rings`: first ring = shell, rest = holes.
    */
  def pointInPolygon(lon: Double, lat: Double, rings: Seq[Seq[Seq[Double]]]): Boolean = {
    def inRing(ring: Seq[Seq[Double]]): Boolean = {
      var inside = false
      var j = ring.size - 1
      var i = 0
      while (i < ring.size) {
        val xi = ring(i)(0); val yi = ring(i)(1)
        val xj = ring(j)(0); val yj = ring(j)(1)
        val intersects = ((yi > lat) != (yj > lat)) &&
          (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)
        if (intersects) inside = !inside
        j = i; i += 1
      }
      inside
    }
    if (rings == null || rings.isEmpty) false
    else inRing(rings.head) && !rings.tail.exists(inRing)
  }

  val pointInPolygonUdf: UserDefinedFunction = udf(pointInPolygon _)

  /** F13 — point-to-line distance in km: min over segments of the
    * point-to-segment distance (reference turf `pointToLineDistance` in
    * `prep-bridge.js:99`). Planar projection locally scaled by cos(lat) —
    * adequate at road scale, mirrors turf's planar option behavior.
    */
  def pointToLineDistanceKm(lon: Double, lat: Double, line: Seq[Seq[Double]]): Double = {
    val kx = math.cos(math.toRadians(lat)) * 111.32 // km per degree lon
    val ky = 110.574 // km per degree lat
    def segDist(ax: Double, ay: Double, bx: Double, by: Double): Double = {
      val dx = (bx - ax) * kx; val dy = (by - ay) * ky
      val px = (lon - ax) * kx; val py = (lat - ay) * ky
      val len2 = dx * dx + dy * dy
      val t = if (len2 == 0) 0.0 else math.max(0.0, math.min(1.0, (px * dx + py * dy) / len2))
      val ex = px - t * dx; val ey = py - t * dy
      math.sqrt(ex * ex + ey * ey)
    }
    if (line == null || line.size < 2) Double.MaxValue
    else line.sliding(2).map { case Seq(a, b) => segDist(a(0), a(1), b(0), b(1)) }.min
  }

  /** F14 — centroid: arithmetic mean of vertices (matches ogr2ogr
    * ST_Centroid-on-points usage in `preparation.sh:193-195` closely enough
    * for OD seeding; NOT an area-weighted centroid).
    */
  def centroid(coords: Seq[Seq[Double]]): Seq[Double] = {
    val n = coords.size
    Seq(coords.map(_(0)).sum / n, coords.map(_(1)).sum / n)
  }

  /** Planar shoelace area of one closed ring (last point repeats the
    * first). Abstract-coordinate geometry (no geodesy) — used for
    * dissolve-output statistics.
    */
  def shoelaceArea(ring: Seq[Seq[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < ring.length - 1) {
      s += ring(i)(0) * ring(i + 1)(1) - ring(i + 1)(0) * ring(i)(1)
      i += 1
    }
    math.abs(s) / 2.0
  }

  /** Planar perimeter of one closed ring. */
  def ringPerimeter(ring: Seq[Seq[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < ring.length - 1) {
      val dx = ring(i + 1)(0) - ring(i)(0)
      val dy = ring(i + 1)(1) - ring(i)(1)
      s += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    s
  }

  /** Sum of shoelace areas over a multi-ring list (dissolve output). */
  val multiRingAreaUdf: UserDefinedFunction =
    udf((rings: Seq[Seq[Seq[Double]]]) => rings.map(shoelaceArea).sum)

  /** Sum of perimeters over a multi-ring list. */
  val multiRingPerimeterUdf: UserDefinedFunction =
    udf((rings: Seq[Seq[Seq[Double]]]) => rings.map(ringPerimeter).sum)

  /** F9 — midpoint of the first segment of a line piece (reference
    * `indicator-from-areas.js:112-116`).
    */
  def firstSegmentMidpoint(coords: Seq[Seq[Double]]): Seq[Double] =
    Seq((coords(0)(0) + coords(1)(0)) / 2, (coords(0)(1) + coords(1)(1)) / 2)

  /** F11 — split a line by a polygon boundary (reference turf `lineSplit`
    * in `indicator-from-areas.js:94`): walks the line, inserting
    * intersection points with any ring segment, starting a new piece at
    * each crossing. Returns the list of pieces (each ≥ 2 points).
    */
  def lineSplit(line: Seq[Seq[Double]], rings: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] = {
    // segment intersection: returns Some(t) param on [a,b] if proper crossing
    def intersect(ax: Double, ay: Double, bx: Double, by: Double,
        cx: Double, cy: Double, dx: Double, dy: Double): Option[(Double, Double, Double)] = {
      val d1x = bx - ax; val d1y = by - ay
      val d2x = dx - cx; val d2y = dy - cy
      val denom = d1x * d2y - d1y * d2x
      if (denom == 0) None
      else {
        val t = ((cx - ax) * d2y - (cy - ay) * d2x) / denom
        val u = ((cx - ax) * d1y - (cy - ay) * d1x) / denom
        if (t > 1e-12 && t < 1 - 1e-12 && u >= 0 && u <= 1)
          Some((t, ax + t * d1x, ay + t * d1y))
        else None
      }
    }
    val ringSegs = rings.flatMap(r => r.sliding(2).map(s => (s(0)(0), s(0)(1), s(1)(0), s(1)(1))).toSeq)
    val pieces = scala.collection.mutable.ArrayBuffer[Seq[Seq[Double]]]()
    var current = scala.collection.mutable.ArrayBuffer[Seq[Double]](line.head)
    line.sliding(2).foreach { case Seq(a, b) =>
      val hits = ringSegs
        .flatMap { case (cx, cy, dx, dy) => intersect(a(0), a(1), b(0), b(1), cx, cy, dx, dy) }
        .sortBy(_._1)
      hits.foreach { case (_, x, y) =>
        current += Seq(x, y)
        if (current.size >= 2) pieces += current.toSeq
        current = scala.collection.mutable.ArrayBuffer[Seq[Double]](Seq(x, y))
      }
      current += b
    }
    if (current.size >= 2) pieces += current.toSeq
    pieces.toSeq
  }
}
