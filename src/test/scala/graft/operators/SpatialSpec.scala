package graft.operators

import graft.{GraftSession, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpatialSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "spatial-spec")

  private def randBoxes(n: Int, seed: Int, prefix: String) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 100
      val y = rnd.nextDouble() * 100
      val w = rnd.nextDouble() * 5
      val h = rnd.nextDouble() * 5
      (s"$prefix$i", Seq(x, y, x + w, y + h))
    }.toDF(s"${prefix}id", s"${prefix}box")
  }

  test("grid-bucketed bbox join matches broadcast bbox join exactly") {
    val l = randBoxes(200, 1, "l")
    val r = randBoxes(100, 2, "r")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").collect().map(x => (x.getString(0), x.getString(1))).toSet
    val broadcasted = pairs(Spatial.bboxJoin(l, r, col("lbox"), col("rbox")))
    val grid = pairs(Spatial.bboxJoinGrid(l, r, col("lbox"), col("rbox"), cellSize = 7.0))
    assert(grid == broadcasted)
    assert(broadcasted.nonEmpty)
    // no duplicate pairs from multi-cell overlap
    val gridRows = Spatial.bboxJoinGrid(l, r, col("lbox"), col("rbox"), 7.0).count()
    assert(gridRows == grid.size)
  }

  test("weighted overlay matches a hand-computed clip fraction") {
    import spark.implicits._
    // horizontal way [0,10] at y=1; area = rect x[2,6] y[0,2] value 10
    val ways = Seq(("w1", Seq(Seq(0.0, 1.0), Seq(10.0, 1.0)))).toDF("way_id", "coords")
    val areas = Seq(
      ("a1",
        Seq(Seq(Seq(2.0, 0.0), Seq(6.0, 0.0), Seq(6.0, 2.0), Seq(2.0, 2.0), Seq(2.0, 0.0))),
        10.0)).toDF("area_id", "rings", "value")
    val out = Spatial.indicatorFromAreas(ways, areas).collect()
    assert(out.length == 1)
    // clip covers 4/10 of the way (haversine ratio ≈ planar at same lat)
    assert(math.abs(out.head.getAs[Double]("value") - 4.0) < 1e-4)
    assert(out.head.getAs[Double]("score") == 100.0)
  }

  test("GeoJSON source round-trip (S2/S3)") {
    import spark.implicits._
    val dir = tempDir("geojson")
    val fc =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0,0],[1,1]]},
        | "properties":{"NAME":"R1","RUC":1.5}},
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[5,6]},
        | "properties":{"NAME":"P1","RUC":0.5}}]}""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("net.geojson"), fc)
    val df = graft.sources.GeoJson.read(spark, dir.resolve("net.geojson").toString)
    assert(df.count() == 2)
    val line = graft.sources.GeoJson
      .lineCoords(df)
      .filter(col("properties")("NAME") === "R1")
      .collect()
      .head
    val coords = line.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("coords")
    assert(coords.map(_.toSeq).toSeq == Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
    // sink: write back and re-read
    val outDir = dir.resolve("out").toString
    graft.sources.GeoJson.write(
      df.select(to_json(struct(lit("x").as("t"))).as("geom"), col("properties")("NAME").as("NAME")), "geom", outDir)
    val again = spark.read.option("multiLine", "true").json(outDir)
    assert(again.select(explode(col("features"))).count() == 2)
  }

  test("§3.2 end-to-end: GeoJSON files → typed coords → weighted overlay") {
    val dir = tempDir("overlay-e2e")
    java.nio.file.Files.writeString(
      dir.resolve("ways.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0,1],[10,1]]},
        | "properties":{"NAME":"W1"}}]}""".stripMargin)
    java.nio.file.Files.writeString(
      dir.resolve("areas.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Polygon",
        |  "coordinates":[[[2,0],[6,0],[6,2],[2,2],[2,0]]]},
        | "properties":{"VALUE":"10"}}]}""".stripMargin)
    val ways = graft.sources.GeoJson
      .lineCoords(graft.sources.GeoJson.read(spark, dir.resolve("ways.geojson").toString))
      .select(col("properties")("NAME").as("way_id"), col("coords"))
    val areas = graft.sources.GeoJson
      .polygonRings(graft.sources.GeoJson.read(spark, dir.resolve("areas.geojson").toString))
      .select(col("properties")("VALUE").cast("double").as("value"), col("rings"))
      .withColumn("area_id", lit("A1"))
    val out = Spatial.indicatorFromAreas(ways, areas).collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getAs[Double]("value") - 4.0) < 1e-4)
  }

  test("J8 grid nearest ≡ cross-join nearest, bit-identical (equator, poles, isolated, ties)") {
    import spark.implicits._
    import graft.functions.GeoFunctions
    val rnd = new scala.util.Random(99)
    // clustered mid-lat points + polar band (slow-resolving lon bound) +
    // one isolated left far from every right (exhaustive-tail path)
    val lefts = (
      (0 until 120).map(i => (i.toLong, rnd.nextDouble() * 40 - 20, rnd.nextDouble() * 30 - 15)) ++
        (120 until 140).map(i => (i.toLong, rnd.nextDouble() * 360 - 180, 78 + rnd.nextDouble() * 5)) :+
        ((140L, 179.0, -79.0))
      ).toDF("lid", "llon", "llat")
    val rights = (
      (0 until 60).map(i => (i.toLong, rnd.nextDouble() * 40 - 20, rnd.nextDouble() * 30 - 15)) ++
        (60 until 70).map(i => (i.toLong, rnd.nextDouble() * 360 - 180, 76 + rnd.nextDouble() * 6)) :+
        ((70L, -170.0, -75.0)) // the isolated left's true nearest sits across the seam
      ).toDF("rid", "rlon", "rlat")
    val pairs = lefts.join(broadcast(rights))
      .withColumn("d", round(GeoFunctions.haversineColKm(col("llon"), col("llat"), col("rlon"), col("rlat")), 6))
    val cross = Spatial.nearestJoinAggPacked(pairs, "lid", col("d"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val grid = Spatial.nearestJoinGridKm(lefts, "lid", "llon", "llat", rights, "rid", "rlon", "rlat", cellDeg = 8.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(grid.length == cross.length)
    assert(grid.toSeq == cross.toSeq, "grid form must be bit-identical to the exhaustive argmin")
    // budget 0 forces the RING rounds + kCover tail — the path production
    // sizes take (the default budget lets spec-sized inputs skip straight
    // to the exhaustive argmin, which would leave rings spec-uncovered)
    val ringed = Spatial.nearestJoinGridKm(lefts, "lid", "llon", "llat", rights, "rid", "rlon", "rlat",
      cellDeg = 8.0, exhaustiveBudget = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(ringed.toSeq == cross.toSeq, "ring-round path must also be bit-identical")
    // auto cell sizing through the ring path too
    val autoRinged = Spatial.nearestJoinGridKm(lefts, "lid", "llon", "llat", rights, "rid", "rlon", "rlat",
      exhaustiveBudget = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(autoRinged.toSeq == cross.toSeq, "auto-cell ring path must be bit-identical")
    // exact tie: two rights equidistant from a left — smaller rid must win in both forms
    val tl = Seq((0L, 0.0, 0.0)).toDF("lid", "llon", "llat")
    val tr = Seq((5L, 1.0, 0.0), (3L, -1.0, 0.0)).toDF("rid", "rlon", "rlat")
    val tg = Spatial.nearestJoinGridKm(tl, "lid", "llon", "llat", tr, "rid", "rlon", "rlat", cellDeg = 2.0).collect()
    assert(tg.head.getLong(1) == 3L, "tie must break to the smaller key")
    // empty right side → empty result, not a crash
    assert(Spatial.nearestJoinGridKm(tl, "lid", "llon", "llat",
      tr.filter(col("rid") < 0), "rid", "rlon", "rlat").isEmpty)
  }

  test("SQL surface: registered functions work from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.registerTables(spark, "/root/testdata/sf0.001")
    val r = spark
      .sql("""SELECT round(haversine_km(0.0, 0.0, 1.0, 0.0), 2) AS d,
              |  cosine_similarity(array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
              |                    array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS c,
              |  graft_lang_id('the quick brown fox is here with the others') AS l""".stripMargin)
      .collect()
      .head
    assert(math.abs(r.getDouble(0) - 111.19) < 0.02)
    assert(r.getDouble(1) == 1.0)
    assert(r.getString(2) == "en")
    assert(spark.sql("SELECT count(*) FROM lineitem").collect().head.getLong(0) > 0)
  }
}
