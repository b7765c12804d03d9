package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import graft.{GraftSession, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** S11: synthetic spec-conformant GeoTIFFs (built byte-by-byte from the
  * public TIFF 6.0 layout — strip AND tile variants) round-trip through
  * the distributed reader and feed zonal statistics end-to-end.
  */
class GeoTiffSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "geotiff-spec")

  private case class E(tag: Int, typ: Int, values: Seq[Double], ascii: Option[String] = None)

  /** Assemble a little-endian single-band TIFF from IFD entries + raw
    * pixel payload (contiguous chunks of the given byte counts; the
    * per-chunk offset array is computed and written as the payload tag).
    */
  private def buildTiff(
      entries0: Seq[E],
      payload: Array[Byte],
      payloadTag: Int,
      countsTag: Int,
      counts: Seq[Long]): Array[Byte] = {
    def typeSize(t: Int) = t match {
      case 2 => 1; case 3 => 2; case 4 => 4; case 12 => 8; case _ => 1
    }
    def extBytes(e: E): Array[Byte] = e.ascii match {
      case Some(s) => (s + " ").getBytes("ASCII")
      case None =>
        val b = ByteBuffer.allocate(typeSize(e.typ) * e.values.size).order(ByteOrder.LITTLE_ENDIAN)
        e.values.foreach { v =>
          e.typ match {
            case 3 => b.putShort(v.toInt.toShort)
            case 4 => b.putInt(v.toLong.toInt)
            case 12 => b.putDouble(v)
            case _ => b.put(v.toInt.toByte)
          }
        }
        b.array()
    }
    // pass 1: layout -- the payload-offset entry is one LONG per chunk
    val all = E(payloadTag, 4, counts.map(_ => 0.0)) ::
      E(countsTag, 4, counts.map(_.toDouble)) :: entries0.toList
    val n = all.size
    val ifdOff = 8
    var cursor = ifdOff + 2 + n * 12 + 4
    val sorted0 = all.sortBy(_.tag)
    val extPos = scala.collection.mutable.HashMap.empty[Int, Int]
    sorted0.foreach { e =>
      val nb = e.ascii.map(_.length + 1).getOrElse(typeSize(e.typ) * e.values.size)
      if (nb > 4) { extPos(e.tag) = cursor; cursor += nb }
    }
    val payloadOff = cursor
    // pass 2: chunk offsets now known -> write header, IFD, values, payload
    val chunkOffs = counts.scanLeft(payloadOff.toLong)(_ + _).init
    val sorted = sorted0.map(e =>
      if (e.tag == payloadTag) e.copy(values = chunkOffs.map(_.toDouble)) else e)
    val out = ByteBuffer.allocate(payloadOff + payload.length).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(ifdOff)
    out.putShort(ifdOff, n.toShort)
    sorted.zipWithIndex.foreach { case (e, i) =>
      val off = ifdOff + 2 + i * 12
      val count = e.ascii.map(_.length + 1).getOrElse(e.values.size)
      out.putShort(off, e.tag.toShort)
      out.putShort(off + 2, e.typ.toShort)
      out.putInt(off + 4, count)
      val bytes = extBytes(e)
      val pos = extPos.get(e.tag) match {
        case Some(p) => out.putInt(off + 8, p); p
        case None => off + 8
      }
      var i2 = 0
      while (i2 < bytes.length) { out.put(pos + i2, bytes(i2)); i2 += 1 }
    }
    out.putInt(ifdOff + 2 + n * 12, 0) // next-IFD terminator
    out.position(payloadOff)
    out.put(payload)
    out.array()
  }

  /** 4×3 float32 strip raster, origin (100, 50), pixel 0.5°, nodata −1. */
  private def stripTiff(): Array[Byte] = {
    val px = Array.tabulate(12)(i => if (i == 5) -1.0f else i.toFloat)
    val payload = ByteBuffer.allocate(px.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    px.foreach(payload.putFloat)
    buildTiff(
      Seq(
        E(256, 3, Seq(4)), E(257, 3, Seq(3)), E(258, 3, Seq(32)), E(259, 3, Seq(1)),
        E(277, 3, Seq(1)), E(278, 3, Seq(3)), E(339, 3, Seq(3)),
        E(33550, 12, Seq(0.5, 0.5, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 100.0, 50.0, 0.0)),
        E(42113, 2, Seq.empty, ascii = Some("-1"))),
      payload.array(), payloadTag = 273, countsTag = 279, counts = Seq(px.length * 4L))
  }

  /** 20×10 uint16 TILED raster (16×16 tiles ⇒ 2 edge-padded tiles). */
  private def tiledTiff(): Array[Byte] = {
    val tw = 16; val th = 16; val w = 20; val h = 10
    val tiles = Seq((0, 0), (16, 0)) // (col0, row0), row-major
    val payload = ByteBuffer.allocate(tiles.size * tw * th * 2).order(ByteOrder.LITTLE_ENDIAN)
    tiles.foreach { case (c0, r0) =>
      for (j <- 0 until th; i <- 0 until tw) {
        val col = c0 + i; val row = r0 + j
        payload.putShort(if (col < w && row < h) (row * 100 + col).toShort else 9999.toShort)
      }
    }
    buildTiff(
      Seq(
        E(256, 3, Seq(w)), E(257, 3, Seq(h)), E(258, 3, Seq(16)), E(259, 3, Seq(1)),
        E(277, 3, Seq(1)), E(322, 3, Seq(tw)), E(323, 3, Seq(th)), E(339, 3, Seq(1)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, 10.0, 0.0))),
      payload.array(), payloadTag = 324, countsTag = 325,
      counts = Seq(tw * th * 2L, tw * th * 2L))
  }

  test("strip float32 raster: values, pixel-center georeferencing, nodata skipped") {
    val dir = tempDir("gtiff")
    java.nio.file.Files.write(dir.resolve("flood.tif"), stripTiff())
    val df = GeoTiff.read(spark, dir.toString, globFilter = Some("*.tif"))
    val rows = df.collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 11) // 12 cells − 1 nodata
    val byVal = rows.map(t => t._3 -> (t._1, t._2)).toMap
    assert(!byVal.contains(-1.0) && !byVal.contains(5.0))
    // cell (0,0) center: x = 100 + 0.25, y = 50 − 0.25
    assert(byVal(0.0) == (100.25, 49.75))
    // cell (3,2) = value 11: x = 100 + 3.5·0.5, y = 50 − 2.5·0.5
    assert(byVal(11.0) == (101.75, 48.75))
  }

  test("tiled uint16 raster: tile indexing and edge-tile padding") {
    val cells = GeoTiff.cells(tiledTiff()).toSeq
    assert(cells.length == 200) // 20×10, padding never leaks
    val m = cells.map { case (c, r, v) => (c, r) -> v }.toMap
    assert(m((0, 0)) == 0.0 && m((19, 0)) == 19.0 && m((3, 7)) == 703.0 && m((19, 9)) == 919.0)
    assert(!cells.exists(_._3 == 9999.0))
  }

  test("raster → zonalStats end-to-end matches a directly-built cell table") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("gtiff2")
    java.nio.file.Files.write(dir.resolve("flood.tif"), stripTiff())
    val cells = GeoTiff.read(spark, dir.toString, globFilter = Some("*.tif")).select("x", "y", "value")
    val polys = {
      import spark.implicits._
      // one zone covering the left 2×3 cell block
      Seq((1L, Seq(Seq(Seq(100.0, 48.4), Seq(101.0, 48.4), Seq(101.0, 50.0),
        Seq(100.0, 50.0), Seq(100.0, 48.4))))).toDF("zone_id", "rings")
    }
    val out = graft.operators.Spatial.zonalStats(cells, polys, gridCell = 1.0).collect()
    assert(out.length == 1)
    val r = out.head
    // zone holds cells 0,1 / 4 / 8,9 (5 is nodata): n=5, mean 4.4, min 0, max 9
    assert(r.getAs[Long]("n_cells") == 5L)
    assert(r.getAs[Double]("mean_value") == 4.4)
    assert(r.getAs[Double]("min_value") == 0.0 && r.getAs[Double]("max_value") == 9.0)
    assert(r.getAs[Double]("percent") == math.rint(5.0 * 100.0 / 11.0 * 1e4) / 1e4)
  }

  test("big-endian (MM) raster decodes: 16-bit samples byte-swapped correctly") {
    // hand-build a 3×2 uint16 MM-order strip TIFF: every multi-byte field
    // big-endian, sample 0x0102 must read as 258, never 513
    val vals = Seq(258, 513, 1, 65535, 0, 256)
    val n = 8 // entries: 256,257,258,259,273,277,278,279
    val ifdOff = 8
    val payloadOff = ifdOff + 2 + n * 12 + 4
    val out = ByteBuffer.allocate(payloadOff + vals.size * 2).order(ByteOrder.BIG_ENDIAN)
    out.put('M'.toByte).put('M'.toByte).putShort(42.toShort).putInt(ifdOff)
    out.putShort(ifdOff, n.toShort)
    def entry(e: Int, tag: Int, typ: Int, count: Int, value: Int): Unit = {
      val off = ifdOff + 2 + e * 12
      out.putShort(off, tag.toShort)
      out.putShort(off + 2, typ.toShort)
      out.putInt(off + 4, count)
      // SHORT inline values live in the FIRST two bytes of the field
      if (typ == 3) out.putShort(off + 8, value.toShort) else out.putInt(off + 8, value)
    }
    entry(0, 256, 3, 1, 3); entry(1, 257, 3, 1, 2); entry(2, 258, 3, 1, 16)
    entry(3, 259, 3, 1, 1); entry(4, 273, 4, 1, payloadOff); entry(5, 277, 3, 1, 1)
    entry(6, 278, 3, 1, 2); entry(7, 279, 4, 1, vals.size * 2)
    out.putInt(ifdOff + 2 + n * 12, 0)
    out.position(payloadOff)
    vals.foreach(v => out.putShort(v.toShort))
    val cells = GeoTiff.cells(out.array()).toSeq
    assert(cells.map(_._3) == vals.map(_.toDouble))
  }

  test("unsupported compression fails loudly") {
    val bad = stripTiff()
    // flip the Compression entry (259) value to 7 (JPEG) in place
    val buf = ByteBuffer.wrap(bad).order(ByteOrder.LITTLE_ENDIAN)
    val n = buf.getShort(8) & 0xffff
    var i = 0
    while (i < n) {
      val off = 10 + i * 12
      if ((buf.getShort(off) & 0xffff) == 259) buf.putShort(off + 8, 7)
      i += 1
    }
    val err = intercept[IllegalArgumentException] { GeoTiff.parseHeader(bad) }
    assert(err.getMessage.contains("compression"))
  }

  test("deflate-written raster decodes identically to its uncompressed twin") {
    val w = 16; val h = 9
    val vals = Array.tabulate(w * h)(i => ((i * 37 % 101) / 7.0).toFloat)
    val dir = tempDir("gtiffz")
    GeoTiff.write(dir.resolve("plain.tif").toString, w, h, vals, 0.5, 0.5, 10.0, 20.0)
    GeoTiff.write(dir.resolve("zip.tif").toString, w, h, vals, 0.5, 0.5, 10.0, 20.0,
      deflate = true)
    val plain = java.nio.file.Files.readAllBytes(dir.resolve("plain.tif"))
    val zip = java.nio.file.Files.readAllBytes(dir.resolve("zip.tif"))
    assert(zip.length < plain.length, "deflate produced no size win on a repetitive grid")
    assert(GeoTiff.parseHeader(zip).compression == 8)
    assert(GeoTiff.cells(zip).toSeq == GeoTiff.cells(plain).toSeq)
  }

  /** 6×2 uint8 PackBits strip: literal run, repeat run, literal tail. */
  test("PackBits strip decodes both literal and repeat packets") {
    val encoded = Array[Int](
      0x05, 1, 2, 3, 4, 5, 6, // 6 literals (row 0)
      0xFD, 7, // 7 repeated 4×
      0x01, 9, 10 // 2 literals
    ).map(_.toByte)
    val tiff = buildTiff(
      Seq(
        E(256, 3, Seq(6)), E(257, 3, Seq(2)), E(258, 3, Seq(8)), E(259, 3, Seq(32773)),
        E(277, 3, Seq(1)), E(278, 3, Seq(2)), E(339, 3, Seq(1)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, 2.0, 0.0))),
      encoded, payloadTag = 273, countsTag = 279, counts = Seq(encoded.length.toLong))
    val m = GeoTiff.cells(tiff).map { case (c, r, v) => (c, r) -> v }.toMap
    assert(m.size == 12)
    assert(m((0, 0)) == 1.0 && m((5, 0)) == 6.0)
    assert(m((0, 1)) == 7.0 && m((3, 1)) == 7.0 && m((4, 1)) == 9.0 && m((5, 1)) == 10.0)
  }

  /** Hand-computed TIFF-LZW vector: Clear,'E',code258,'E',EOI at 9 bits
    * MSB-first = 80 11 60 44 58 08 → "EEEE" (exercises the KwKwK case).
    */
  test("LZW strip decodes the hand-computed KwKwK vector") {
    val encoded = Array(0x80, 0x11, 0x60, 0x44, 0x58, 0x08).map(_.toByte)
    val tiff = buildTiff(
      Seq(
        E(256, 3, Seq(2)), E(257, 3, Seq(2)), E(258, 3, Seq(8)), E(259, 3, Seq(5)),
        E(277, 3, Seq(1)), E(278, 3, Seq(2)), E(339, 3, Seq(1)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, 2.0, 0.0))),
      encoded, payloadTag = 273, countsTag = 279, counts = Seq(encoded.length.toLong))
    assert(GeoTiff.cells(tiff).toSeq.map(_._3) == Seq(69.0, 69.0, 69.0, 69.0))
  }

  /** TIFF-LZW encoder mirroring the spec (Clear first, early-change width
    * growth) — drives the decoder through the 9→10→11→12-bit widths.
    */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var acc = 0L; var nbits = 0
    var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code; nbits += width
      while (nbits >= 8) { out += ((acc >> (nbits - 8)) & 0xff).toByte; nbits -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Byte), Int]
    var next = 258
    put(256) // Clear
    var w = data(0) & 0xff
    var i = 1
    while (i < data.length) {
      val c = data(i)
      dict.get((w, c)) match {
        case Some(code) => w = code
        case None =>
          put(w)
          dict((w, c)) = next; next += 1
          // encoder switches one entry AFTER the decoder (which runs one
          // table entry behind): spec early change is add-510 → 10 bits
          // decoder-side, add-511 encoder-side
          if (next == (1 << width) && width < 12) width += 1
          w = c & 0xff
      }
      i += 1
    }
    put(w); put(257) // EOI
    if (nbits > 0) out += ((acc << (8 - nbits)) & 0xff).toByte
    out.toArray
  }

  test("LZW strip round-trips 2200 pseudo-random bytes across width growth") {
    val w = 55; val h = 40
    var seed = 12345L
    val px = Array.fill(w * h) {
      seed = (seed * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      (seed % 251).toByte
    }
    val encoded = lzwEncode(px)
    val tiff = buildTiff(
      Seq(
        E(256, 3, Seq(w)), E(257, 3, Seq(h)), E(258, 3, Seq(8)), E(259, 3, Seq(5)),
        E(277, 3, Seq(1)), E(278, 3, Seq(h)), E(339, 3, Seq(1)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, h.toDouble, 0.0))),
      encoded, payloadTag = 273, countsTag = 279, counts = Seq(encoded.length.toLong))
    val got = GeoTiff.cells(tiff).toSeq
    assert(got.length == w * h)
    assert(got.map(_._3) == px.toSeq.map(b => (b & 0xff).toDouble))
  }

  test("readParallel: segment-fanned decode ≡ whole-file read on strip, tile and deflate rasters") {
    val dir = tempDir("gtiffpar")
    // multi-strip float32 (3 strips of 1 row), via rowsPerStrip = 1
    val px = Array.tabulate(12)(i => if (i == 5) -1.0f else i.toFloat)
    val stripPayload = ByteBuffer.allocate(px.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    px.foreach(stripPayload.putFloat)
    val multiStrip = buildTiff(
      Seq(
        E(256, 3, Seq(4)), E(257, 3, Seq(3)), E(258, 3, Seq(32)), E(259, 3, Seq(1)),
        E(277, 3, Seq(1)), E(278, 3, Seq(1)), E(339, 3, Seq(3)),
        E(33550, 12, Seq(0.5, 0.5, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 100.0, 50.0, 0.0)),
        E(42113, 2, Seq.empty, ascii = Some("-1"))),
      stripPayload.array(), payloadTag = 273, countsTag = 279,
      counts = Seq(16L, 16L, 16L))
    java.nio.file.Files.write(dir.resolve("strips.tif"), multiStrip)
    java.nio.file.Files.write(dir.resolve("tiled.tif"), tiledTiff())
    // per-strip deflate (2 strips of 1 row, 6×2 uint8)
    def zip(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(b); d.finish()
      val buf = new Array[Byte](b.length + 64); val m = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, m)
    }
    val r0 = zip(Array[Byte](1, 2, 3, 4, 5, 6))
    val r1 = zip(Array[Byte](7, 7, 7, 7, 9, 10))
    val zTiff = buildTiff(
      Seq(
        E(256, 3, Seq(6)), E(257, 3, Seq(2)), E(258, 3, Seq(8)), E(259, 3, Seq(8)),
        E(277, 3, Seq(1)), E(278, 3, Seq(1)), E(339, 3, Seq(1)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, 2.0, 0.0))),
      r0 ++ r1, payloadTag = 273, countsTag = 279,
      counts = Seq(r0.length.toLong, r1.length.toLong))
    java.nio.file.Files.write(dir.resolve("zstrips.tif"), zTiff)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0).replaceAll("^file:/*", "/"),
        r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    val whole = rows(GeoTiff.read(spark, dir.toString, globFilter = Some("*.tif")))
    val fanned = rows(GeoTiff.readParallel(spark, dir.toString + "/*", globFilter = Some("*.tif")))
    assert(whole.nonEmpty && fanned == whole)
    // the mega-raster property: one file fans out to one task PER SEGMENT
    val segDf = GeoTiff.readParallel(spark, dir.resolve("strips.tif").toString)
    assert(segDf.rdd.getNumPartitions > 1, "single file did not fan out across tasks")
  }

  test("floating-point predictor (317=3) reassembles byte planes for float32, deflate-wrapped") {
    // encode per TechNote 3: big-endian bytes → MSB-first planes per row
    // → byte-wise forward differencing → deflate (GDAL's default combo
    // for compressed float rasters)
    val w = 5; val h = 2
    val vals = Array(1.5f, -2.25f, 0.0f, 1234.5f, -0.015625f,
      3.75f, 9.5f, -100.25f, 0.5f, 7.0f)
    val encodedRows = (0 until h).map { r =>
      val be = ByteBuffer.allocate(w * 4).order(ByteOrder.BIG_ENDIAN)
      (0 until w).foreach(i => be.putFloat(vals(r * w + i)))
      val planes = new Array[Byte](w * 4)
      for (i <- 0 until w; p <- 0 until 4) planes(p * w + i) = be.array()(i * 4 + p)
      val diffed = planes.clone()
      for (k <- (w * 4 - 1) to 1 by -1)
        diffed(k) = (planes(k) - planes(k - 1)).toByte
      val d = new java.util.zip.Deflater(); d.setInput(diffed); d.finish()
      val buf = new Array[Byte](diffed.length + 64); val m = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, m)
    }
    val tiff = buildTiff(
      Seq(
        E(256, 3, Seq(w)), E(257, 3, Seq(h)), E(258, 3, Seq(32)), E(259, 3, Seq(8)),
        E(277, 3, Seq(1)), E(278, 3, Seq(1)), E(317, 3, Seq(3)), E(339, 3, Seq(3)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, h.toDouble, 0.0))),
      encodedRows.reduce(_ ++ _), payloadTag = 273, countsTag = 279,
      counts = encodedRows.map(_.length.toLong))
    assert(GeoTiff.cells(tiff).toSeq.map(_._3) == vals.toSeq.map(_.toDouble))
    // predictor 3 on integer samples is rejected loudly
    val bad = buildTiff(
      Seq(
        E(256, 3, Seq(2)), E(257, 3, Seq(1)), E(258, 3, Seq(8)), E(259, 3, Seq(1)),
        E(277, 3, Seq(1)), E(278, 3, Seq(1)), E(317, 3, Seq(3)), E(339, 3, Seq(1)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, 1.0, 0.0))),
      Array[Byte](1, 2), payloadTag = 273, countsTag = 279, counts = Seq(2L))
    val err = intercept[IllegalArgumentException] { GeoTiff.parseHeader(bad) }
    assert(err.getMessage.contains("SampleFormat"))
  }

  test("writer multi-strip mode: per-strip deflate round-trips and fans out in readParallel") {
    val w = 10; val h = 23 // 23 rows / 5 per strip = 5 strips, last ragged
    val vals = Array.tabulate(w * h)(i => ((i * 13 % 97) / 3.0).toFloat)
    val dir = tempDir("gtiffms")
    GeoTiff.write(dir.resolve("ms.tif").toString, w, h, vals, 1.0, 1.0, 0.0, h.toDouble,
      deflate = true, rowsPerStrip = 5)
    val bytes = java.nio.file.Files.readAllBytes(dir.resolve("ms.tif"))
    val hdr = GeoTiff.parseHeader(bytes)
    assert(hdr.offsets.length == 5 && hdr.rowsPerStrip == 5 && hdr.compression == 8)
    val got = GeoTiff.cells(bytes).toSeq
    assert(got.length == w * h)
    assert(got.map(_._3) == vals.toSeq.map(_.toDouble))
    val fanned = GeoTiff.readParallel(spark, dir.resolve("ms.tif").toString)
    assert(fanned.count() == w * h)
    assert(fanned.rdd.getNumPartitions > 1, "strips did not fan out")
  }

  test("BigTIFF (version 43): 64-bit framing round-trips, multi-strip fans out") {
    val w = 9; val h = 17 // 17 rows / 4 per strip = 5 strips, last ragged
    val vals = Array.tabulate(w * h)(i => ((i * 31 % 89) / 4.0).toFloat)
    val dir = tempDir("gtiffbig")
    // single strip: LONG8 offset/count inline in the 8-byte value field
    GeoTiffFixtures.writeBig(dir.resolve("one.tif").toString, w, h, vals, 0.5, 0.25, 3.0, 9.0)
    val one = java.nio.file.Files.readAllBytes(dir.resolve("one.tif"))
    assert((one(2) & 0xff) == 43 && (one(4) & 0xff) == 8)
    val h1 = GeoTiff.parseHeader(one)
    assert(h1.width == w && h1.height == h && h1.offsets.length == 1)
    assert(h1.sx == 0.5 && h1.sy == 0.25 && h1.ox == 3.0 && h1.oy == 9.0)
    assert(GeoTiff.cells(one).toSeq.map(_._3) == vals.toSeq.map(_.toDouble))
    // multi-strip: external LONG8 arrays + readParallel segment fan-out
    GeoTiffFixtures.writeBig(dir.resolve("ms.tif").toString, w, h, vals, 1.0, 1.0, 0.0, h.toDouble,
      rowsPerStrip = 4)
    val ms = java.nio.file.Files.readAllBytes(dir.resolve("ms.tif"))
    val h2 = GeoTiff.parseHeader(ms)
    assert(h2.offsets.length == 5 && h2.rowsPerStrip == 4)
    assert(GeoTiff.cells(ms).toSeq.map(_._3) == vals.toSeq.map(_.toDouble))
    val fanned = GeoTiff.readParallel(spark, dir.resolve("ms.tif").toString)
    assert(fanned.count() == w * h)
    // classic and BigTIFF encodings of the same raster decode identically
    GeoTiff.write(dir.resolve("classic.tif").toString, w, h, vals, 1.0, 1.0, 0.0, h.toDouble)
    val classic = java.nio.file.Files.readAllBytes(dir.resolve("classic.tif"))
    assert(GeoTiff.cells(ms).toSeq == GeoTiff.cells(classic).toSeq)
  }

  test("BigTIFF with a corrupt 64-bit IFD offset fails loudly, not with an AIOOBE") {
    val w = 4; val h = 4
    val vals = Array.fill(w * h)(1.0f)
    val dir = tempDir("gtiffcorrupt")
    GeoTiffFixtures.writeBig(dir.resolve("c.tif").toString, w, h, vals, 1.0, 1.0, 0.0, h.toDouble)
    val bytes = java.nio.file.Files.readAllBytes(dir.resolve("c.tif"))
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong(8, 1L << 40) // first-IFD offset points a TB into nowhere
    val ex = intercept[IllegalArgumentException](GeoTiff.parseHeader(bytes))
    assert(ex.getMessage.contains("outside"))
  }

  test("horizontal predictor (317=2) undoes row differencing for uint8 and int16") {
    // uint8 4×2: rows (10,13,12,20) and (5,5,6,4) stored as row diffs
    val diffs8 = Array[Int](10, 3, 0xFF, 8, 5, 0, 1, 0xFE).map(_.toByte)
    val t8 = buildTiff(
      Seq(
        E(256, 3, Seq(4)), E(257, 3, Seq(2)), E(258, 3, Seq(8)), E(259, 3, Seq(1)),
        E(277, 3, Seq(1)), E(278, 3, Seq(2)), E(317, 3, Seq(2)), E(339, 3, Seq(1)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, 2.0, 0.0))),
      diffs8, payloadTag = 273, countsTag = 279, counts = Seq(8L))
    assert(GeoTiff.cells(t8).toSeq.map(_._3) ==
      Seq(10.0, 13.0, 12.0, 20.0, 5.0, 5.0, 6.0, 4.0))
    // int16 3×1: (1000, 1500, 900) stored as (1000, 500, −600)
    val b16 = ByteBuffer.allocate(6).order(ByteOrder.LITTLE_ENDIAN)
    Seq(1000, 500, -600).foreach(v => b16.putShort(v.toShort))
    val t16 = buildTiff(
      Seq(
        E(256, 3, Seq(3)), E(257, 3, Seq(1)), E(258, 3, Seq(16)), E(259, 3, Seq(1)),
        E(277, 3, Seq(1)), E(278, 3, Seq(1)), E(317, 3, Seq(2)), E(339, 3, Seq(2)),
        E(33550, 12, Seq(1.0, 1.0, 0.0)),
        E(33922, 12, Seq(0.0, 0.0, 0.0, 0.0, 1.0, 0.0))),
      b16.array(), payloadTag = 273, countsTag = 279, counts = Seq(6L))
    assert(GeoTiff.cells(t16).toSeq.map(_._3) == Seq(1000.0, 1500.0, 900.0))
  }

  test("multi-band chunky round-trip: writeBands -> cellsBands, per-band values exact") {
    val w = 8; val h = 4
    val bands = Array.tabulate(3)(b => Array.tabulate(w * h)(i => (i * 0.25f + b * 100f)))
    val dir = tempDir("mbtiff")
    val p = dir.resolve("rgb.tif").toString
    GeoTiff.writeBands(p, w, h, bands, 1.0, 1.0, 0.0, h.toDouble, deflate = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val hd = GeoTiff.parseHeader(bytes)
    assert(hd.spp == 3 && hd.bits == 32 && hd.sampleFormat == 3)
    val cells = GeoTiff.cellsBands(bytes, hd).toSeq
    assert(cells.length == w * h * 3)
    cells.foreach { case (c, r, b, v) => assert(v == bands(b)(r * w + c).toDouble) }
    // single-band cells() refuses the multi-band layout instead of mis-decoding
    val ex = intercept[IllegalArgumentException](GeoTiff.cells(bytes, hd))
    assert(ex.getMessage.contains("multi-band"))
    // spp=2 exercises the inline SHORT-array packing in the IFD
    GeoTiff.writeBands(dir.resolve("two.tif").toString, w, h, bands.take(2), 1.0, 1.0, 0.0, h.toDouble)
    val two = java.nio.file.Files.readAllBytes(dir.resolve("two.tif"))
    val h2 = GeoTiff.parseHeader(two)
    assert(h2.spp == 2 && h2.bits == 32)
    assert(GeoTiff.cellsBands(two, h2).count(_ => true) == w * h * 2)
  }

  test("readBandsParallel: multi-strip multi-band deflate fans out, output ≡ readBands") {
    val w = 10; val h = 21 // 21 rows / 6 per strip = 4 strips, last ragged
    val bands = Array.tabulate(3)(b => Array.tabulate(w * h)(i => (i * 0.5f + b * 1000f)))
    val dir = tempDir("mbtiffpar")
    val p = dir.resolve("rgb.tif").toString
    GeoTiff.writeBands(p, w, h, bands, 1.0, 1.0, 0.0, h.toDouble,
      deflate = true, rowsPerStrip = 6)
    val hdr = GeoTiff.parseHeader(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    assert(hdr.offsets.length == 4 && hdr.spp == 3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getDouble(1), r.getDouble(2), r.getInt(3), r.getDouble(4))
    val whole = GeoTiff.readBands(spark, dir.toString).collect().map(key).sorted
    val fanned = GeoTiff.readBandsParallel(spark, p).collect().map(key).sorted
    assert(whole.length == w * h * 3)
    assert(whole.toSeq == fanned.toSeq)
    // every (band, value) pins to the written payload
    fanned.foreach { case (x, y, b, v) =>
      val col = (x - 0.5).toInt; val row = (h - 0.5 - y).toInt
      assert(v == bands(b)(row * w + col).toDouble, s"cell ($col,$row) band $b")
    }
    // single-band readParallel refuses the multi-band layout loudly
    val ex = intercept[IllegalArgumentException](GeoTiff.readParallel(spark, p).collect())
    assert(ex.getMessage.contains("readBandsParallel"))
  }

  test("every writer word-aligns out-of-entry IFD values; cells and nodata round-trip") {
    val w = 16; val h = 20
    val dir = tempDir("gtiffalign")
    def roundTrip(name: String)(write: String => Unit): (Array[Byte], String) = {
      val sub = java.nio.file.Files.createDirectory(dir.resolve(name))
      write(sub.resolve(s"$name.tif").toString)
      (java.nio.file.Files.readAllBytes(sub.resolve(s"$name.tif")), sub.toString)
    }
    // TIFF 6.0: a value too big for its 4-byte entry field sits at an even offset
    def assertAligned(name: String, bytes: Array[Byte]): Unit = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val size = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 7 -> 1, 12 -> 8)
      val ifd = b.getInt(4)
      (0 until (b.getShort(ifd) & 0xffff)).foreach { e =>
        val off = ifd + 2 + e * 12
        val bytesOut = size(b.getShort(off + 2) & 0xffff) * b.getInt(off + 4)
        if (bytesOut > 4) assert(b.getInt(off + 8) % 2 == 0,
          s"$name: tag ${b.getShort(off) & 0xffff} value at odd offset ${b.getInt(off + 8)}")
      }
    }
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("x", "y", "value").collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    def expected(value: Int => Double) = (0 until w * h).map { i =>
      ((i % w) + 0.5, h - (i / w) - 0.5, value(i))
    }.toSet
    // float32 with a 3-byte GDAL_NODATA: the -1 cells must drop out
    val vals = Array.tabulate(w * h)(i => if (i % 7 == 0) -1.0f else i * 0.25f)
    val (f32, f32Dir) = roundTrip("f32")(GeoTiff.write(_, w, h, vals, 1.0, 1.0, 0.0, h.toDouble,
      nodata = Some(-1f), rowsPerStrip = 8))
    assertAligned("write", f32)
    val f32Cells = expected(i => vals(i).toDouble).filter(_._3 != -1.0)
    assert(cellsOf(GeoTiff.read(spark, f32Dir)) == f32Cells)
    assert(cellsOf(GeoTiff.readParallel(spark, f32Dir + "/*")) == f32Cells)
    // JPEG: odd-length JPEGTables before the strip arrays
    val px = Array.tabulate(w * h)(i => ((i % w) / 8 * 40 + (i / w) / 8 * 90) % 256)
    val (jpg, jpgDir) = roundTrip("jpg")(GeoTiff.writeJpeg(_, w, h, px, 1.0, 1.0, 0.0, h.toDouble,
      rowsPerStrip = 8))
    assertAligned("writeJpeg", jpg)
    assert(cellsOf(GeoTiff.read(spark, jpgDir)) == expected(i => px(i).toDouble))
    assert(cellsOf(GeoTiff.readParallel(spark, jpgDir + "/*")) == expected(i => px(i).toDouble))
    // three bands: out-of-entry SHORT arrays for bits and sample format
    val bands = Array.tabulate(3)(b => Array.tabulate(w * h)(i => i * 0.5f + b * 1000f))
    val (rgb, rgbDir) = roundTrip("rgb")(GeoTiff.writeBands(_, w, h, bands, 1.0, 1.0, 0.0, h.toDouble,
      deflate = true, rowsPerStrip = 8))
    assertAligned("writeBands", rgb)
    def bandCells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getInt(3), r.getDouble(4))).toSet
    val rgbCells = (0 until 3).flatMap(b =>
      expected(i => bands(b)(i).toDouble).map { case (x, y, v) => (x, y, b, v) }).toSet
    assert(bandCells(GeoTiff.readBands(spark, rgbDir)) == rgbCells)
    assert(bandCells(GeoTiff.readBandsParallel(spark, rgbDir + "/*")) == rgbCells)
  }

  test("raster sizes past 16 bits survive the IFD") {
    val dir = tempDir("gtiffwide")
    val p = dir.resolve("wide.tif")
    GeoTiff.write(p.toString, 70000, 1, Array.tabulate(70000)(_.toFloat), 1.0, 1.0, 0.0, 1.0)
    val bytes = java.nio.file.Files.readAllBytes(p)
    val h = GeoTiff.parseHeader(bytes)
    assert(h.width == 70000 && h.rowsPerStrip == 1)
    assert(GeoTiff.cells(bytes, h).map(_._3).toSeq == (0 until 70000).map(_.toDouble))
  }

  test("deflate of an incompressible single strip round-trips bit-exact through read") {
    val w = 256; val h = 256
    val rnd = new java.util.Random(20261020L)
    val vals = Array.fill(w * h) {
      var f = Float.NaN
      while (f.isNaN || f.isInfinite) f = java.lang.Float.intBitsToFloat(rnd.nextInt())
      f
    }
    val dir = tempDir("gtiffrand")
    GeoTiff.write(dir.resolve("rand.tif").toString, w, h, vals, 1.0, 1.0, 0.0, h.toDouble,
      deflate = true)
    val bytes = java.nio.file.Files.readAllBytes(dir.resolve("rand.tif"))
    assert(GeoTiff.parseHeader(bytes).compression == 8)
    val got = GeoTiff.read(spark, dir.toString).collect()
      .map(r => ((r.getDouble(1) - 0.5).toInt, (h - 0.5 - r.getDouble(2)).toInt) ->
        java.lang.Float.floatToRawIntBits(r.getDouble(3).toFloat)).toMap
    assert(got.size == w * h)
    (0 until w * h).foreach { i =>
      assert(got((i % w, i / w)) == java.lang.Float.floatToRawIntBits(vals(i)), s"cell $i")
    }
  }
}
