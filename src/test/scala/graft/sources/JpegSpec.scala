package graft.sources

import graft.{GraftSession, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** Baseline-JPEG codec + JPEG-in-TIFF (Compression=7) integration. */
class JpegSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(2, "jpeg-spec")

  test("block-constant image round-trips exactly (the qz5 oracle contract)") {
    val w = 32; val h = 24
    val px = Array.tabulate(w * h) { i =>
      val bc = (i % w) / 8; val br = (i / w) / 8
      (bc * 37 + br * 91) % 256
    }
    val enc = Jpeg.encodeGray(px, w, h)
    val (dw, dh, out) = Jpeg.decodeGray(enc)
    assert(dw == w && dh == h)
    assert(out.map(_ & 0xff).toSeq == px.toSeq)
  }

  test("arbitrary image round-trips within the quantization error bound") {
    val w = 40; val h = 16
    // deterministic pseudo-random-ish content, full 0..255 range
    val px = Array.tabulate(w * h)(i => (i * 7919 + (i * i) % 101) % 256)
    val (dw, dh, out) = Jpeg.decodeGray(Jpeg.encodeGray(px, w, h))
    assert(dw == w && dh == h)
    // uniform quant q=8: DCT-domain per-coefficient error <= q/2 = 4;
    // worst-case spatial error <= (1/4)*sum(cu*cv)*4 ≈ 4*(sum over 64 of
    // cu*cv)/4... keep a generous but non-vacuous bound
    val errs = px.indices.map(i => math.abs((out(i) & 0xff) - px(i)))
    assert(errs.max <= 40, s"max error ${errs.max}")
    assert(errs.sum.toDouble / errs.size <= 4.0, s"mean error ${errs.sum.toDouble / errs.size}")
  }

  test("Annex K quality tables: 50 = unscaled, fidelity rises and size falls with quality") {
    assert(JpegFixtures.qualityTable(50).sameElements(JpegFixtures.AnnexKLuma), "quality 50 is the base table")
    assert(JpegFixtures.qualityTable(100).forall(_ >= 1), "clamped at the legal floor")
    assert(JpegFixtures.qualityTable(1).forall(_ <= 255), "clamped at the 8-bit ceiling")
    // smooth 2-D gradient — natural-image-ish content where the
    // perceptual tables actually matter
    val w = 48; val h = 32
    val px = Array.tabulate(w * h)(i => ((i % w) * 3 + (i / w) * 4) % 256)
    def roundTrip(q: Int): (Int, Double) = {
      val bytes = Jpeg.encodeGray(px, w, h, quant = JpegFixtures.qualityTable(q))
      val (dw, dh, out) = Jpeg.decodeGray(bytes)
      assert(dw == w && dh == h)
      val mae = px.indices.map(i => math.abs((out(i) & 0xff) - px(i))).sum.toDouble / px.length
      (bytes.length, mae)
    }
    val (size90, mae90) = roundTrip(90)
    val (size10, mae10) = roundTrip(10)
    assert(mae90 < mae10, s"q90 mae $mae90 must beat q10 mae $mae10")
    assert(size10 < size90, s"q10 bytes $size10 must undercut q90 bytes $size90")
    assert(mae90 <= 3.0, s"q90 should be near-faithful on a smooth ramp, mae $mae90")
    // any conformant decoder reads the scaled table from DQT — ours does
    val malformed = intercept[IllegalArgumentException](JpegFixtures.qualityTable(0))
    assert(malformed.getMessage.contains("quality"))
  }

  test("non-multiple-of-8 dims pad by edge replication and crop back") {
    val w = 13; val h = 9
    val px = Array.tabulate(w * h)(i => ((i % w) / 8 * 50 + (i / w) / 8 * 100) % 256)
    val (dw, dh, out) = Jpeg.decodeGray(Jpeg.encodeGray(px, w, h))
    assert(dw == w && dh == h && out.length == w * h)
  }

  test("restart markers: DRI/RSTn round-trip, DC predictor resets") {
    val w = 48; val h = 16 // 6x2 = 12 blocks, interval 5 -> RST after 5, 10
    val px = Array.tabulate(w * h) { i =>
      val bc = (i % w) / 8; val br = (i / w) / 8
      (bc * 31 + br * 67) % 256
    }
    val enc = Jpeg.encodeGray(px, w, h, restartInterval = 5)
    // the stream really contains restart markers
    val hex = enc.map(_ & 0xff)
    assert(hex.sliding(2).exists(p => p(0) == 0xff && p(1) >= 0xd0 && p(1) <= 0xd7))
    val (_, _, out) = Jpeg.decodeGray(enc)
    assert(out.map(_ & 0xff).toSeq == px.toSeq)
  }

  test("abbreviated streams: tables ride separately (TIFF JPEGTables shape)") {
    val w = 16; val h = 8
    val px = Array.tabulate(w * h)(i => ((i % w) / 8 * 120 + (i / w) / 8 * 40) % 256)
    val abbreviated = Jpeg.encodeGray(px, w, h, includeTables = false)
    // without tables the stream must refuse to decode
    intercept[IllegalArgumentException](Jpeg.decodeGray(abbreviated))
    val pre = Jpeg.parseTables(Jpeg.tablesStream())
    val (_, _, out) = Jpeg.decodeGray(abbreviated, pre)
    assert(out.map(_ & 0xff).toSeq == px.toSeq)
  }

  test("gray frame declaring 2x2 sampling decodes non-interleaved (T.81 Ns=1 rule)") {
    val w = 24; val h = 16
    val px = Array.tabulate(w * h) { i =>
      val bc = (i % w) / 8; val br = (i / w) / 8
      (bc * 43 + br * 77) % 256
    }
    val enc = Jpeg.encodeGray(px, w, h)
    // patch SOF0's single component sampling byte 0x11 -> 0x22: the entropy
    // stream is unchanged (an Ns=1 scan is non-interleaved, one data unit
    // per MCU on the component's own grid), so decode must be identical
    val patched = enc.clone()
    val sof = patched.indices.find(i =>
      (patched(i) & 0xff) == 0xff && (patched(i + 1) & 0xff) == 0xc0).get
    assert((patched(sof + 11) & 0xff) == 0x11)
    patched(sof + 11) = 0x22.toByte
    val (dw, dh, out) = Jpeg.decodeGray(patched)
    assert(dw == w && dh == h)
    assert(out.map(_ & 0xff).toSeq == px.toSeq)
  }

  test("progressive (SOF2) streams fail loudly") {
    val w = 8; val h = 8
    val px = Array.fill(w * h)(77)
    val enc = Jpeg.encodeGray(px, w, h)
    // corrupt SOF0 -> SOF2 (progressive): find FF C0 and flip
    val prog = enc.clone()
    val sof = prog.indices.find(i => (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    val ex = intercept[IllegalArgumentException](Jpeg.decodeGray(prog))
    assert(ex.getMessage.contains("SOF"))
  }

  test("color 4:4:4: block-constant YCbCr planes round-trip exactly; RGB conversion matches") {
    val w = 16; val h = 16 // 2x2 blocks per plane
    def plane(seed: Int) = Array.tabulate(w * h) { i =>
      val bc = (i % w) / 8; val br = (i / w) / 8
      (bc * 60 + br * 30 + seed) % 256
    }
    val (yP, cbP, crP) = (plane(40), plane(90), plane(10))
    val enc = JpegFixtures.encodeColor(yP, cbP, crP, w, h, subsample = false)
    val img = Jpeg.decodeImage(enc)
    assert(img.planes.length == 3)
    assert(img.planes(0).data.map(_ & 0xff).toSeq == yP.toSeq)
    assert(img.planes(1).data.map(_ & 0xff).toSeq == cbP.toSeq)
    assert(img.planes(2).data.map(_ & 0xff).toSeq == crP.toSeq)
    // decodeGray = the Y plane
    assert(Jpeg.decodeGray(enc)._3.map(_ & 0xff).toSeq == yP.toSeq)
    // RGB conversion applies the JFIF formulas to the exact planes
    val (_, _, rgb) = JpegFixtures.decodeRgb(enc)
    val i0 = 0
    def clamp(v: Double) = math.max(0, math.min(255, math.round(v).toInt))
    assert((rgb(i0 * 3) & 0xff) == clamp(yP(i0) + 1.402 * (crP(i0) - 128)))
    assert((rgb(i0 * 3 + 2) & 0xff) == clamp(yP(i0) + 1.772 * (cbP(i0) - 128)))
  }

  test("color 4:2:0: luma exact at full res, chroma exact at half res (16x16-constant fixture)") {
    val w = 32; val h = 32
    // constant per 16x16 region => Y blocks constant AND downsampled
    // chroma blocks constant => everything survives quantization exactly
    def plane(seed: Int) = Array.tabulate(w * h) { i =>
      val rc = (i % w) / 16; val rr = (i / w) / 16
      (rc * 70 + rr * 50 + seed) % 256
    }
    val (yP, cbP, crP) = (plane(20), plane(120), plane(200))
    val enc = JpegFixtures.encodeColor(yP, cbP, crP, w, h, subsample = true)
    val img = Jpeg.decodeImage(enc)
    assert(img.planes(0).hs == 2 && img.planes(1).hs == 1)
    assert(img.planes(0).data.map(_ & 0xff).toSeq == yP.toSeq)
    // chroma plane = 16x16 half-res, each value the region constant
    val cbHalf = img.planes(1)
    assert(cbHalf.w == 16 && cbHalf.h == 16)
    (0 until 16).foreach { y =>
      (0 until 16).foreach { x =>
        assert((cbHalf.data(y * 16 + x) & 0xff) == cbP((y * 2) * w + x * 2), s"cb ($x,$y)")
      }
    }
    // decodeGray on color = luma, full resolution
    val (gw, gh, gray) = Jpeg.decodeGray(enc)
    assert(gw == w && gh == h && gray.map(_ & 0xff).toSeq == yP.toSeq)
  }

  test("asymmetric sampling 4:2:2 / 4:4:0 / 4:1:1: block-constant planes round-trip exactly") {
    // constant per (8·yh)×(8·yv) region ⇒ Y blocks constant AND box-
    // averaged chroma blocks constant ⇒ exact through quantization
    for ((yh, yv) <- Seq((2, 1), (1, 2), (4, 1))) {
      val w = 8 * yh * 2; val h = 8 * yv * 2 // 2×2 MCUs
      def plane(seed: Int) = Array.tabulate(w * h) { i =>
        val rc = (i % w) / (8 * yh); val rr = (i / w) / (8 * yv)
        (rc * 70 + rr * 50 + seed) % 256
      }
      val (yP, cbP, crP) = (plane(20), plane(120), plane(200))
      val enc = JpegFixtures.encodeColorSampled(yP, cbP, crP, w, h, yh, yv)
      val img = Jpeg.decodeImage(enc)
      assert(img.planes(0).hs == yh && img.planes(0).vs == yv, s"$yh x $yv")
      assert(img.planes(0).data.map(_ & 0xff).toSeq == yP.toSeq, s"luma $yh x $yv")
      // chroma at (ceil(w/yh), ceil(h/yv)): each value = its region constant
      val cbHalf = img.planes(1)
      assert(cbHalf.w == w / yh && cbHalf.h == h / yv)
      (0 until cbHalf.h).foreach { y =>
        (0 until cbHalf.w).foreach { x =>
          assert((cbHalf.data(y * cbHalf.w + x) & 0xff) == cbP((y * yv) * w + x * yh),
            s"cb ($x,$y) at $yh x $yv")
        }
      }
      // decodeGray/decodeRgb dims survive the asymmetric MCU layout
      val (gw, gh, _) = Jpeg.decodeGray(enc)
      assert(gw == w && gh == h)
    }
  }

  test("JPEG-in-TIFF: writeJpeg multi-strip + read and readParallel agree exactly") {
    val w = 64; val h = 48
    val px = Array.tabulate(w * h) { i =>
      val bc = (i % w) / 8; val br = (i / w) / 8
      (bc * 5 + br * 11) % 256
    }
    val dir = tempDir("jpegtiff")
    GeoTiff.writeJpeg(dir.resolve("r.tif").toString, w, h, px, 1.0, 1.0, 0.0, h.toDouble,
      rowsPerStrip = 16)
    val a = GeoTiff.read(spark, dir.toString, globFilter = Some("*.tif"))
      .select("x", "y", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    assert(a.length == w * h)
    // exact pixel replay
    a.foreach { case (x, y, v) =>
      val col = (x - 0.5).toInt; val row = (h - 0.5 - y).toInt
      assert(v == px(row * w + col).toDouble, s"cell ($col,$row)")
    }
    val b = GeoTiff.readParallel(spark, dir.toString + "/*", globFilter = Some("*.tif"))
      .select("x", "y", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    assert(a.toSeq == b.toSeq)
  }

  test("JPEG TIFF with a predictor or non-8-bit samples is rejected at header parse") {
    // hand-tweak a valid header: flip compression to 7 on a float32 raster
    val dir = tempDir("jpegbad")
    val p = dir.resolve("f.tif").toString
    GeoTiff.write(p, 8, 8, Array.fill(64)(1.0f), 1.0, 1.0, 0.0, 8.0)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // IFD entry for tag 259 (compression): find and set value to 7
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = buf.getShort(8 + 2 - 2) & 0xffff // ifdOff=8, count at 8
    var eOff = 10
    var patched = false
    (0 until n).foreach { _ =>
      if ((buf.getShort(eOff) & 0xffff) == 259) { buf.putInt(eOff + 8, 7); patched = true }
      eOff += 12
    }
    assert(patched)
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    val ex = intercept[IllegalArgumentException](GeoTiff.parseHeader(bytes))
    assert(ex.getMessage.contains("JPEG"))
  }
}
