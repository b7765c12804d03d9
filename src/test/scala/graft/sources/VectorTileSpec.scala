package graft.sources

import graft.{GraftSession, TempDirs}
import org.apache.spark.sql.functions.{array, col}
import org.scalatest.funsuite.AnyFunSuite

/** MVT sink: wire-format anchors from the public spec, encode/decode
  * round-trips, and the distributed per-tile writer.
  */
class VectorTileSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "mvt-spec")

  test("geometry command stream matches the spec's worked example") {
    // MVT spec §4.3.5.1 example: point at (25,17) → MoveTo(25,17):
    // command 9 (id 1, count 1), params 50, 34
    val t = VectorTile.encodeTile(Seq(VectorTile.Layer("t", 4096, Seq(
      VectorTile.Feature(1L, 1, Seq(Seq((25, 17))), Map.empty)))))
    val hex = t.map(b => f"${b & 0xff}%02x").mkString
    // the encoded geometry field must contain the bytes 09 32 22
    assert(hex.contains("093222"), s"geometry bytes missing from $hex")
  }

  test("polygon round-trip preserves rings, ids, types and attrs") {
    val ring = Seq((3, 6), (8, 12), (20, 34), (3, 6))
    // MVT polygons don't repeat the closing point — ClosePath implies it
    val poly = VectorTile.Feature(7L, 3, Seq(ring.dropRight(1)), Map("kind" -> "zone", "n" -> "4"))
    val line = VectorTile.Feature(8L, 2, Seq(Seq((1, 1), (5, 1), (5, 9))), Map("kind" -> "road"))
    val pts = VectorTile.Feature(9L, 1, Seq(Seq((5, 7), (3, 2))), Map.empty)
    val enc = VectorTile.encodeTile(Seq(VectorTile.Layer("mix", 4096, Seq(poly, line, pts))))
    val Seq(layer) = VectorTile.decodeTile(enc)
    assert(layer.name == "mix" && layer.extent == 4096)
    val byId = layer.features.map(f => f.id -> f).toMap
    assert(byId(7L).geomType == 3 && byId(7L).geometry == Seq(ring.dropRight(1)))
    assert(byId(7L).attrs == Map("kind" -> "zone", "n" -> "4"))
    assert(byId(8L).geometry == Seq(Seq((1, 1), (5, 1), (5, 9))))
    assert(byId(9L).geomType == 1 && byId(9L).geometry.flatten == Seq((5, 7), (3, 2)))
  }

  test("negative deltas zigzag correctly (cursor moves backwards)") {
    val f = VectorTile.Feature(1L, 2, Seq(Seq((100, 100), (10, 90), (50, 5))), Map.empty)
    val Seq(layer) = VectorTile.decodeTile(VectorTile.encodeTile(Seq(VectorTile.Layer("l", 4096, Seq(f)))))
    assert(layer.features.head.geometry == Seq(Seq((100, 100), (10, 90), (50, 5))))
  }

  test("mercator anchors: equator/prime-meridian center and zoom scaling") {
    // (0,0) at zoom 0 sits at the center of the single world tile
    val (x0, y0) = VectorTile.mercator(0.0, 0.0, 0, 4096)
    assert(x0 == 2048.0 && y0 == 2048.0)
    // zoom z doubles the world each level
    val (x2, _) = VectorTile.mercator(0.0, 0.0, 2, 4096)
    assert(x2 == 2.0 * 4096)
    // longitude edge: -180 maps to world pixel 0
    assert(VectorTile.mercator(-180.0, 0.0, 3, 4096)._1 == 0.0)
  }

  test("distributed writeTiles: per-tile files, features land in the right tile") {
    import spark.implicits._
    val dir = tempDir("mvt").toString
    // four points in distinct z1 tiles (quadrants)
    val df = Seq(
      (1L, -90.0, 40.0, "nw"),
      (2L, 90.0, 40.0, "ne"),
      (3L, -90.0, -40.0, "sw"),
      (4L, 90.0, -40.0, "se"),
      // world edge: lon 180 and lat past 85.05 clamp into the edge tile
      (5L, 180.0, 85.5, "edge")).toDF("id", "lon", "lat", "name")
    VectorTile.writeTiles(df.withColumn("pt", array(array(array(col("lon"), col("lat"))))),
      "id", geomType = 1, "pt", Seq("name"), zoom = 1, dir = dir)
    def readTile(tx: Int, ty: Int) = {
      val p = java.nio.file.Paths.get(dir, "1", tx.toString, s"$ty.mvt")
      assert(java.nio.file.Files.exists(p), s"missing tile $tx/$ty")
      VectorTile.decodeTile(java.nio.file.Files.readAllBytes(p)).head
    }
    assert(readTile(0, 0).features.map(_.id) == Seq(1L))
    assert(readTile(1, 0).features.map(_.id) == Seq(2L, 5L))
    assert(readTile(0, 1).features.map(_.id) == Seq(3L))
    assert(readTile(1, 1).features.map(_.id) == Seq(4L))
    assert(readTile(1, 0).features.head.attrs("name") == "ne")
    // pixel coords: lon 90 at z1 → world x = 1.5 tiles → px 2048 in tile 1
    assert(readTile(1, 0).features.head.geometry.head.head._1 == 2048)
    // the edge point sits on the tile's east edge, above its top row
    val Seq(Seq((ex, ey))) = readTile(1, 0).features(1).geometry
    assert(ex == 4096 && ey < 0, s"edge point at ($ex, $ey)")
  }

  test("clipSegment/clipPolyline: hand-computed crossings, re-entry splits runs") {
    // diagonal across the unit box [0,10]²: clipped where it crosses
    assert(VectorTile.clipSegment(-5, 5, 15, 5, 0, 0, 10, 10).contains(((0.0, 5.0), (10.0, 5.0))))
    assert(VectorTile.clipSegment(-5, -5, -1, 20, 0, 0, 10, 10).isEmpty)
    assert(VectorTile.clipSegment(2, 2, 8, 8, 0, 0, 10, 10).contains(((2.0, 2.0), (8.0, 8.0))))
    // polyline leaves and re-enters: two runs
    val parts = VectorTile.clipPolyline(
      Seq((1.0, 1.0), (1.0, 9.0), (15.0, 9.0), (15.0, 1.0), (9.0, 1.0)),
      0, 0, 10, 10)
    assert(parts.size == 2)
    assert(parts(0) == Seq((1.0, 1.0), (1.0, 9.0), (10.0, 9.0)))
    assert(parts(1) == Seq((10.0, 1.0), (9.0, 1.0)))
  }

  test("clipRing: square overhanging the rect clips to the hand-computed quad") {
    // square [5,15]² clipped to [0,10]² = [5,10]²
    val r = VectorTile.clipRing(
      Seq((5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0)), 0, 0, 10, 10)
    assert(r.toSet == Set((5.0, 5.0), (10.0, 5.0), (10.0, 10.0), (5.0, 10.0)))
    assert(r.size == 4)
    // fully inside: unchanged; fully outside: empty
    val inside = Seq((1.0, 1.0), (2.0, 1.0), (2.0, 2.0))
    assert(VectorTile.clipRing(inside, 0, 0, 10, 10) == inside)
    assert(VectorTile.clipRing(Seq((20.0, 20.0), (30.0, 20.0), (30.0, 30.0)), 0, 0, 10, 10).isEmpty)
  }

  test("writeGeomTiles: null/empty/single-point rows drop instead of failing the job") {
    import spark.implicits._
    val dir = tempDir("mvt-degenerate").toString
    val df = Seq(
      (1L, Seq(Seq(10.0, 10.0), Seq(20.0, 20.0)), "ok"),
      (2L, Seq.empty[Seq[Double]], "empty"),
      (3L, Seq(Seq(5.0, 5.0)), "single"),
      (4L, Seq(Seq(1.0), Seq(2.0, 3.0)), "ragged")).toDF("id", "coords", "name")
    VectorTile.writeTiles(df.withColumn("parts", array(col("coords"))),
      "id", geomType = 2, "parts", Seq("name"), zoom = 0, dir = dir)
    val tile = VectorTile.decodeTile(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "0", "0", "0.mvt"))).head
    assert(tile.features.map(_.id) == Seq(1L)) // only the valid line survived
  }

  test("distributed writeGeomTiles: spanning polygon clips into both tiles, line re-entry splits") {
    import spark.implicits._
    val dir = tempDir("mvt-geom").toString
    // at z1, lon 0 is the tile-0/tile-1 boundary; a lon [-45, 45] square
    // at northern lats spans tiles (0,0) and (1,0)
    val poly = Seq((7L, Seq(
      Seq(-45.0, 20.0), Seq(45.0, 20.0), Seq(45.0, 60.0), Seq(-45.0, 60.0)), "big"))
      .toDF("id", "coords", "name")
    VectorTile.writeTiles(poly.withColumn("parts", array(col("coords"))),
      "id", geomType = 3, "parts", Seq("name"), zoom = 1, dir = dir)
    def readTile(tx: Int, ty: Int) = {
      val p = java.nio.file.Paths.get(dir, "1", tx.toString, s"$ty.mvt")
      assert(java.nio.file.Files.exists(p), s"missing tile $tx/$ty")
      VectorTile.decodeTile(java.nio.file.Files.readAllBytes(p)).head
    }
    Seq((0, 0), (1, 0)).foreach { case (tx, ty) =>
      val f = readTile(tx, ty).features.head
      assert(f.id == 7L && f.geomType == 3 && f.attrs("name") == "big")
      val ring = f.geometry.head
      assert(ring.size >= 3, s"degenerate clipped ring in $tx/$ty")
      // every vertex inside the tile extent; the shared lon-0 edge lands
      // on x=4096 (tile 0) / x=0 (tile 1)
      assert(ring.forall { case (x, y) => x >= 0 && x <= 4096 && y >= 0 && y <= 4096 })
      if (tx == 0) assert(ring.exists(_._1 == 4096)) else assert(ring.exists(_._1 == 0))
    }
    // a line that exits tile (0,0) east into (1,0) and comes back: the
    // fragment inside (0,0) is TWO parts, the fragment in (1,0) one part
    val line = Seq((9L, Seq(
      Seq(-40.0, 40.0), Seq(30.0, 40.0), Seq(30.0, 55.0), Seq(-40.0, 55.0)), "zig"))
      .toDF("id", "coords", "name")
    val dir2 = tempDir("mvt-line").toString
    VectorTile.writeTiles(line.withColumn("parts", array(col("coords"))),
      "id", geomType = 2, "parts", Seq("name"), zoom = 1, dir = dir2)
    def readTile2(tx: Int, ty: Int) = VectorTile.decodeTile(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir2, "1", tx.toString, s"$ty.mvt"))).head
    val west = readTile2(0, 0).features.head
    val east = readTile2(1, 0).features.head
    assert(west.geomType == 2 && west.geometry.size == 2, s"west parts ${west.geometry.size}")
    assert(east.geometry.size == 1)
    assert(east.geometry.head.forall { case (x, _) => x >= 0 && x <= 4096 })
  }

  test("writePolygonTiles: donut keeps its hole, winding roles enforced, exterior gates the tile") {
    import spark.implicits._
    // z0: whole world is one tile. Exterior lon/lat box with a hole box.
    val exterior = Seq(Seq(-60.0, -30.0), Seq(60.0, -30.0), Seq(60.0, 50.0), Seq(-60.0, 50.0))
    val hole = Seq(Seq(-20.0, 0.0), Seq(20.0, 0.0), Seq(20.0, 30.0), Seq(-20.0, 30.0))
    val dir = tempDir("mvt-holes").toString
    VectorTile.writeTiles(
      Seq((5L, Seq(exterior, hole), "donut")).toDF("id", "rings", "name"),
      "id", geomType = 3, "rings", Seq("name"), zoom = 0, dir = dir)
    val tile = VectorTile.decodeTile(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "0", "0", "0.mvt"))).head
    val f = tile.features.head
    assert(f.geomType == 3 && f.geometry.size == 2, s"expected exterior+hole, got ${f.geometry.size}")
    assert(VectorTile.signedArea2(f.geometry(0)) > 0L, "exterior must wind positive")
    assert(VectorTile.signedArea2(f.geometry(1)) < 0L, "hole must wind negative")
    assert(f.attrs("name") == "donut")

    // z1: the same donut spans the lon-0 boundary — both tiles keep a
    // fragment of exterior AND hole (the hole straddles lon 0 too)
    val dir2 = tempDir("mvt-holes2").toString
    VectorTile.writeTiles(
      Seq((6L, Seq(exterior, hole), "donut")).toDF("id", "rings", "name"),
      "id", geomType = 3, "rings", Seq("name"), zoom = 1, dir = dir2)
    Seq((0, 0), (1, 0), (0, 1), (1, 1)).foreach { case (tx, ty) =>
      val p = java.nio.file.Paths.get(dir2, "1", tx.toString, s"$ty.mvt")
      assert(java.nio.file.Files.exists(p), s"missing tile $tx/$ty")
      val ft = VectorTile.decodeTile(java.nio.file.Files.readAllBytes(p)).head.features.head
      assert(ft.geometry.nonEmpty && VectorTile.signedArea2(ft.geometry.head) > 0L)
      if (ty == 0) // the hole's lat range [0,30] lies in the northern tiles
        assert(ft.geometry.size == 2 && VectorTile.signedArea2(ft.geometry(1)) < 0L,
          s"northern tile $tx/$ty lost its hole")
    }

    // a hole-only row (no usable exterior) writes nothing rather than failing
    val dir3 = tempDir("mvt-holes3").toString
    VectorTile.writeTiles(
      Seq((7L, Seq(Seq(Seq(0.0, 0.0)), hole), "bad")).toDF("id", "rings", "name"),
      "id", geomType = 3, "rings", Seq("name"), zoom = 0, dir = dir3)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir3, "0", "0", "0.mvt")))
  }

  test("buffer > 0: a feature near (but not crossing) a tile edge lands in the neighbor's margin") {
    import spark.implicits._
    // at z1 the lon-0 meridian is the tile-0/tile-1 boundary (world px
    // 4096). A horizontal line ending at lon -1 (px ≈ 4073) stops ~23 px
    // short of tile 1 — its vertex bbox never enters tile 1, but with
    // buffer=64 tile 1's clip rect starts at local x = -64, so the last
    // ~41 px of the line must appear in tile 1's buffer margin.
    val line = Seq((9L, Seq(Seq(-40.0, 40.0), Seq(-1.0, 40.0)), "edge"))
      .toDF("id", "coords", "name")
    val dirB = tempDir("mvt-buf").toString
    VectorTile.writeTiles(line.withColumn("parts", array(col("coords"))), "id", geomType = 2, "parts",
      Seq("name"), zoom = 1, dir = dirB, buffer = 64)
    val neighbor = java.nio.file.Paths.get(dirB, "1", "1", "0.mvt")
    assert(java.nio.file.Files.exists(neighbor),
      "buffered write must emit the margin fragment into the adjacent tile")
    val frag = VectorTile.decodeTile(java.nio.file.Files.readAllBytes(neighbor))
      .head.features.head.geometry.head
    assert(frag.size >= 2 && frag.forall { case (x, _) => x >= -64 && x < 0 },
      s"margin fragment must sit wholly in tile 1's buffer zone, got $frag")
    // same feature, buffer = 0: the neighbor tile must NOT exist
    val dir0 = tempDir("mvt-buf0").toString
    VectorTile.writeTiles(line.withColumn("parts", array(col("coords"))), "id", geomType = 2, "parts",
      Seq("name"), zoom = 1, dir = dir0, buffer = 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir0, "1", "1", "0.mvt")))
  }

  test("signedArea2 sign convention matches MVT §4.3.4.4 (y-down, exterior positive)") {
    // screen-clockwise unit square (y down): (0,0)→(1,0)→(1,1)→(0,1)
    val cw = Seq((0, 0), (1, 0), (1, 1), (0, 1))
    assert(VectorTile.signedArea2(cw) == 2L, "screen-CW exterior must be positive")
    assert(VectorTile.signedArea2(cw.reverse) == -2L)
    // collinear degenerate
    assert(VectorTile.signedArea2(Seq((0, 0), (5, 0), (9, 0))) == 0L)
    // normalizeWinding: wrong-wound exterior reverses cyclically (same
    // start vertex), right-wound passes through untouched
    val ccw = Seq((0, 0), (0, 1), (1, 1), (1, 0))
    assert(VectorTile.normalizeWinding(ccw) == cw)
    assert(VectorTile.normalizeWinding(cw) eq cw)
    assert(VectorTile.normalizeWinding(cw, exterior = false) == ccw)
  }

  test("writeGeomTiles normalizes ring winding: reversed input yields byte-identical tiles") {
    import spark.implicits._
    val ringCcwOnScreen = Seq( // wrong winding for an exterior ring
      Seq(-45.0, 20.0), Seq(-45.0, 60.0), Seq(45.0, 60.0), Seq(45.0, 20.0))
    val ringCw = ringCcwOnScreen.head +: ringCcwOnScreen.tail.reverse
    def render(ring: Seq[Seq[Double]]): Array[Byte] = {
      val dir = tempDir("mvt-wind").toString
      VectorTile.writeTiles(
        Seq((3L, Seq(ring), "w")).toDF("id", "parts", "name"),
        "id", geomType = 3, "parts", Seq("name"), zoom = 0, dir = dir)
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "0", "0", "0.mvt"))
    }
    val a = render(ringCcwOnScreen)
    val b = render(ringCw)
    assert(java.util.Arrays.equals(a, b), "winding normalization must make the streams identical")
    // and the emitted ring really is positive-area
    val ring = VectorTile.decodeTile(a).head.features.head.geometry.head
    assert(VectorTile.signedArea2(ring) > 0L)
  }
}
