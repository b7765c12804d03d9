package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class GeoFunctionsSpec extends AnyFunSuite {
  import GeoFunctions._

  test("haversine: 1 degree of longitude at the equator is ~111.19 km") {
    assert(math.abs(haversineKm(0, 0, 1, 0) - 111.195) < 0.01)
  }

  test("haversine: zero distance") {
    assert(haversineKm(32.5, -25.9, 32.5, -25.9) == 0.0)
  }

  test("lineLengthKm sums segment distances") {
    val line = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(2.0, 0.0))
    assert(math.abs(lineLengthKm(line) - 2 * 111.195) < 0.02)
    assert(lineLengthKm(Seq(Seq(1.0, 1.0))) == 0.0)
    assert(lineLengthKm(null) == 0.0)
  }

  test("bbox") {
    assert(bbox(Seq(Seq(1.0, 5.0), Seq(-2.0, 3.0), Seq(4.0, -1.0))) == Seq(-2.0, -1.0, 4.0, 5.0))
  }

  test("point-in-polygon: unit square, boundary-exclusive interior hit") {
    val square = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 1.0), Seq(0.0, 1.0), Seq(0.0, 0.0)))
    assert(pointInPolygon(0.5, 0.5, square))
    assert(!pointInPolygon(1.5, 0.5, square))
    assert(!pointInPolygon(-0.1, 0.5, square))
  }

  test("point-in-polygon: hole excluded") {
    val shell = Seq(Seq(0.0, 0.0), Seq(4.0, 0.0), Seq(4.0, 4.0), Seq(0.0, 4.0), Seq(0.0, 0.0))
    val hole = Seq(Seq(1.0, 1.0), Seq(3.0, 1.0), Seq(3.0, 3.0), Seq(1.0, 3.0), Seq(1.0, 1.0))
    assert(pointInPolygon(0.5, 0.5, Seq(shell, hole)))
    assert(!pointInPolygon(2.0, 2.0, Seq(shell, hole)))
  }

  test("point-to-line distance: perpendicular vs endpoint") {
    val line = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0))
    // point above the middle: ~111.3/2 km per half degree of latitude? no —
    // 0.5 deg lat ≈ 55.3 km
    assert(math.abs(pointToLineDistanceKm(0.5, 0.5, line) - 0.5 * 110.574) < 0.1)
    // point beyond the end snaps to the endpoint
    val d = pointToLineDistanceKm(2.0, 0.0, line)
    assert(math.abs(d - 1.0 * 111.32) < 0.1)
  }

  test("centroid is the vertex mean") {
    assert(centroid(Seq(Seq(0.0, 0.0), Seq(2.0, 2.0))) == Seq(1.0, 1.0))
  }

  test("lineSplit: crossing a square splits into 3 pieces") {
    val square = Seq(Seq(Seq(1.0, -1.0), Seq(2.0, -1.0), Seq(2.0, 1.0), Seq(1.0, 1.0), Seq(1.0, -1.0)))
    val line = Seq(Seq(0.0, 0.0), Seq(3.0, 0.0))
    val pieces = lineSplit(line, square)
    assert(pieces.size == 3)
    assert(pieces(0) == Seq(Seq(0.0, 0.0), Seq(1.0, 0.0)))
    assert(pieces(1) == Seq(Seq(1.0, 0.0), Seq(2.0, 0.0)))
    assert(pieces(2) == Seq(Seq(2.0, 0.0), Seq(3.0, 0.0)))
  }

  test("lineSplit: no intersection returns the whole line") {
    val square = Seq(Seq(Seq(10.0, 10.0), Seq(11.0, 10.0), Seq(11.0, 11.0), Seq(10.0, 11.0), Seq(10.0, 10.0)))
    val line = Seq(Seq(0.0, 0.0), Seq(3.0, 0.0))
    assert(lineSplit(line, square) == Seq(line))
  }
}
