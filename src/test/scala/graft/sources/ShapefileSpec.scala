package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import graft.{GraftSession, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip: write a minimal spec-conformant .shp/.dbf pair, read it
  * back through the distributed reader.
  */
class ShapefileSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "shp-spec")

  private def writeShp(path: java.nio.file.Path): Unit = {
    // one PolyLine (2 points) + one Point record
    val line = {
      val c = ByteBuffer.allocate(4 + 32 + 8 + 4 + 32).order(ByteOrder.LITTLE_ENDIAN)
      c.putInt(3) // PolyLine
      c.putDouble(0).putDouble(0).putDouble(1).putDouble(1) // box
      c.putInt(1).putInt(2) // 1 part, 2 points
      c.putInt(0) // part offset
      c.putDouble(10.5).putDouble(-2.5).putDouble(11.5).putDouble(-3.5)
      c.array()
    }
    val point = {
      val c = ByteBuffer.allocate(4 + 16).order(ByteOrder.LITTLE_ENDIAN)
      c.putInt(1).putDouble(32.25).putDouble(-25.75)
      c.array()
    }
    val total = 100 + (8 + line.length) + (8 + point.length)
    val b = ByteBuffer.allocate(total)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(0, 9994)
    b.putInt(24, total / 2)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(28, 1000)
    b.putInt(32, 3)
    b.position(100)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(1).putInt(line.length / 2).put(line)
    b.putInt(2).putInt(point.length / 2).put(point)
    java.nio.file.Files.write(path, b.array())
  }

  private def writeDbf(path: java.nio.file.Path): Unit = {
    val fields = Seq(("NAME", 'C', 8), ("RUC", 'N', 6))
    val headerSize = 32 + fields.size * 32 + 1
    val recordSize = 1 + fields.map(_._3).sum
    val records = Seq(Seq("R850", "  1.25"), Seq("N1", "  0.80"))
    val b = ByteBuffer.allocate(headerSize + records.size * recordSize + 1).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0, 0x03.toByte)
    b.putInt(4, records.size)
    b.putShort(8, headerSize.toShort)
    b.putShort(10, recordSize.toShort)
    var off = 32
    fields.foreach { case (name, t, len) =>
      val nb = name.getBytes("ASCII")
      var i = 0
      while (i < nb.length) { b.put(off + i, nb(i)); i += 1 }
      b.put(off + 11, t.toByte)
      b.put(off + 16, len.toByte)
      off += 32
    }
    b.put(off, 0x0d.toByte)
    var pos = headerSize
    records.foreach { r =>
      b.put(pos, ' '.toByte)
      var p = pos + 1
      r.zip(fields).foreach { case (v, (_, _, len)) =>
        val padded = v.padTo(len, ' ').getBytes("ASCII")
        var i = 0
        while (i < len) { b.put(p + i, padded(i)); i += 1 }
        p += len
      }
      pos += recordSize
    }
    java.nio.file.Files.write(path, b.array())
  }

  test("S1: shapefile + dbf round-trip") {
    val dir = tempDir("shp")
    writeShp(dir.resolve("roads.shp"))
    writeDbf(dir.resolve("roads.dbf"))
    val df = Shapefile.read(spark, dir.toString + "/*")
    val rows = df.orderBy("record_no").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[String]("geom_type") == "PolyLine")
    val parts = r0.getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("parts")
    assert(parts.size == 1 && parts.head.size == 2)
    assert(parts.head.head.toSeq == Seq(10.5, -2.5))
    assert(r0.getAs[Map[String, String]]("attrs") == Map("NAME" -> "R850", "RUC" -> "1.25"))
    val r1 = rows(1)
    assert(r1.getAs[String]("geom_type") == "Point")
    assert(r1.getAs[Map[String, String]]("attrs")("NAME") == "N1")
  }

  test("S1: dbf column pruning decodes ONLY the projected fields, values unchanged") {
    val dir = tempDir("shp-prune")
    writeShp(dir.resolve("roads.shp"))
    writeDbf(dir.resolve("roads.dbf"))
    // reader-level projection: only NAME survives the parse
    val pruned = Shapefile.read(spark, dir.toString + "/*", attrColumns = Seq("NAME"))
      .orderBy("record_no").collect()
    assert(pruned.length == 2)
    // decoded-field count == projection size — RUC bytes were skipped, not parsed
    assert(pruned(0).getAs[Map[String, String]]("attrs") == Map("NAME" -> "R850"))
    assert(pruned(1).getAs[Map[String, String]]("attrs") == Map("NAME" -> "N1"))
    // parse-level twin, straight through parseDbf on the raw sidecar bytes
    val raw = java.nio.file.Files.readAllBytes(dir.resolve("roads.dbf"))
    val all = Shapefile.parseDbf(raw)
    val proj = Shapefile.parseDbf(raw, Some(Set("RUC")))
    assert(all.head.keySet == Set("NAME", "RUC"))
    assert(proj.head.keySet == Set("RUC"), "projection must drop non-requested fields")
    assert(proj.head("RUC") == all.head("RUC"), "projected values must be unchanged")
    // a projection naming no real field yields empty maps, not a crash
    assert(Shapefile.parseDbf(raw, Some(Set("NOPE"))).head.isEmpty)
  }

  test("S1: writePoints emits the dBase III EOF marker (0x1A) at the dbf tail") {
    val dir = tempDir("shpw")
    val shp = dir.resolve("pts.shp").toString
    Shapefile.writePoints(shp, Seq((1.0, 2.0), (3.0, 4.0)),
      attrs = Seq(Map("NAME" -> "a"), Map("NAME" -> "b")), fieldLens = Seq("NAME" -> 4))
    val dbf = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(shp.replaceAll("\\.shp$", ".dbf")))
    assert((dbf.last & 0xff) == 0x1a, "strict readers (shapelib/GDAL) expect 0x1A EOF")
    // and the in-repo reader still round-trips it
    val rows = Shapefile.read(spark, dir.toString + "/*").orderBy("record_no").collect()
    assert(rows.length == 2 && rows(0).getAs[Map[String, String]]("attrs")("NAME") == "a")
  }

  /** Write a one-PolyLine .shp whose coordinates are the given points. */
  private def writeShpPoints(path: java.nio.file.Path, pts: Seq[(Double, Double)]): Unit = {
    val line = {
      val c = ByteBuffer.allocate(4 + 32 + 8 + 4 + pts.size * 16).order(ByteOrder.LITTLE_ENDIAN)
      c.putInt(3)
      c.putDouble(0).putDouble(0).putDouble(1).putDouble(1)
      c.putInt(1).putInt(pts.size)
      c.putInt(0)
      pts.foreach { case (x, y) => c.putDouble(x).putDouble(y) }
      c.array()
    }
    val total = 100 + 8 + line.length
    val b = ByteBuffer.allocate(total)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(0, 9994)
    b.putInt(24, total / 2)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(28, 1000)
    b.putInt(32, 3)
    b.position(100)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(1).putInt(line.length / 2).put(line)
    java.nio.file.Files.write(path, b.array())
  }

  test("F15/S1: UTM-36S shapefile with .prj auto-reprojects to EPSG:4326 within 1e-6°") {
    import graft.functions.CrsForward
    // Mozambique-ish lon/lat waypoints, forward-projected into UTM 36S
    // metres exactly as ogr2ogr would receive them; the reader must hand
    // back degrees (`-t_srs EPSG:4326` semantics, base-network.sh:98-99)
    val lonLat = Seq((32.57, -25.97), (33.0, -15.0), (34.7, -11.2))
    val p36s = CrsForward.utmZone(36, south = true)
    val projected = lonLat.map { case (lon, lat) => CrsForward.tmForward(lon, lat, p36s) }
    val dir = tempDir("shp-utm")
    writeShpPoints(dir.resolve("roads.shp"), projected)
    java.nio.file.Files.writeString(
      dir.resolve("roads.prj"),
      """PROJCS["WGS 84 / UTM zone 36S",GEOGCS["WGS 84",DATUM["WGS_1984",""" +
        """SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],""" +
        """UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],""" +
        """PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",33],""" +
        """PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],""" +
        """PARAMETER["false_northing",10000000],UNIT["metre",1]]""")
    val rows = Shapefile.read(spark, dir.toString + "/*").collect()
    assert(rows.length == 1)
    val got = rows(0)
      .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("parts")
      .head.map(p => (p(0), p(1)))
    lonLat.zip(got).foreach { case ((lon, lat), (glon, glat)) =>
      assert(math.abs(glon - lon) < 1e-6 && math.abs(glat - lat) < 1e-6,
        s"reprojection of ($lon, $lat) gave ($glon, $glat)")
    }
  }

  test("S1 V2: format(graft-shapefile) equals the RDD reader, attrs as typed columns") {
    val dir = tempDir("shp-v2")
    writeShp(dir.resolve("roads.shp"))
    writeDbf(dir.resolve("roads.dbf"))
    val v2 = spark.read.format("graft-shapefile").load(dir.toString)
      .orderBy("record_no").collect()
    val v1 = Shapefile.read(spark, dir.toString + "/*").orderBy("record_no").collect()
    assert(v2.length == v1.length)
    v2.zip(v1).foreach { case (a, b) =>
      assert(a.getAs[Int]("record_no") == b.getAs[Int]("record_no"))
      assert(a.getAs[String]("geom_type") == b.getAs[String]("geom_type"))
      assert(
        a.getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("parts")
          == b.getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("parts"))
      // V2 surfaces each dbf field as a top-level typed column
      val attrs = b.getAs[Map[String, String]]("attrs")
      assert(a.getAs[String]("NAME") == attrs("NAME"))
      assert(a.getAs[String]("RUC") == attrs("RUC"))
    }
  }

  test("S1 V2: Catalyst prunes un-selected dbf columns into the scan") {
    val dir = tempDir("shp-v2-prune")
    writeShp(dir.resolve("roads.shp"))
    writeDbf(dir.resolve("roads.dbf"))
    val q = spark.read.format("graft-shapefile").load(dir.toString).select("NAME")
    val plan = q.queryExecution.executedPlan.toString
    // the scan's output schema carries only the projected column — RUC is
    // never parsed (SupportsPushDownRequiredColumns drove parseDbf's
    // `wanted` set), and the geometry columns are gone too
    assert(plan.contains("NAME") && !plan.contains("RUC") && !plan.contains("parts"),
      plan.take(600))
    assert(q.collect().map(_.getString(0)).sorted.toSeq == Seq("N1", "R850"))
    // count(*)-only plans read just the record count (no geometry parse)
    assert(spark.read.format("graft-shapefile").load(dir.toString).count() == 2)
  }

  test("S1 V2: .prj reprojection applies on the V2 path too") {
    import graft.functions.CrsForward
    val lonLat = Seq((32.57, -25.97), (33.0, -15.0))
    val p36s = CrsForward.utmZone(36, south = true)
    val projected = lonLat.map { case (lon, lat) => CrsForward.tmForward(lon, lat, p36s) }
    val dir = tempDir("shp-v2-utm")
    writeShpPoints(dir.resolve("roads.shp"), projected)
    java.nio.file.Files.writeString(
      dir.resolve("roads.prj"),
      """PROJCS["WGS 84 / UTM zone 36S",GEOGCS["WGS 84",DATUM["WGS_1984",""" +
        """SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],""" +
        """UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],""" +
        """PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",33],""" +
        """PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],""" +
        """PARAMETER["false_northing",10000000],UNIT["metre",1]]""")
    val rows = spark.read.format("graft-shapefile").load(dir.toString).collect()
    assert(rows.length == 1)
    val got = rows(0)
      .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("parts")
      .head.map(p => (p(0), p(1)))
    lonLat.zip(got).foreach { case ((lon, lat), (glon, glat)) =>
      assert(math.abs(glon - lon) < 1e-6 && math.abs(glat - lat) < 1e-6)
    }
  }

  test("F15/S1: unsupported .prj projection fails the read loudly") {
    val dir = tempDir("shp-badprj")
    writeShpPoints(dir.resolve("roads.shp"), Seq((1.0, 2.0), (3.0, 4.0)))
    java.nio.file.Files.writeString(
      dir.resolve("roads.prj"),
      """PROJCS["x",GEOGCS["WGS 84"],PROJECTION["Sinusoidal"]]""")
    val err = intercept[org.apache.spark.SparkException] {
      Shapefile.read(spark, dir.toString + "/*").collect()
    }
    assert(err.getMessage.contains("sinusoidal") ||
      Option(err.getCause).exists(_.getMessage.contains("sinusoidal")))
  }

  test("S8 robustness: corrupt JSON lines quarantine, clean rows survive") {
    // at 100 TB some records are always malformed — the ingest contract is
    // PERMISSIVE + _corrupt_record: bad lines are quarantined as data (for
    // a dead-letter sink), never fail the job, never poison good rows
    val dir = tempDir("jsonl")
    java.nio.file.Files.write(
      dir.resolve("part.json"),
      java.util.Arrays.asList(
        """{"way_id":"N1","score":10.0}""",
        """{"way_id":"N2","score":""", // truncated mid-record
        """{"way_id":"N3","score":30.0}""",
        """not json at all"""))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("way_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    val df = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
      .cache() // corrupt-record column requires a materialized referenced frame
    import org.apache.spark.sql.functions.col
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2)
    assert(good.collect().map(_.getAs[String]("way_id")).sorted.toSeq == Seq("N1", "N3"))
    assert(bad.count() == 2) // both malformed lines preserved verbatim
    df.unpersist(blocking = false)
  }
}
