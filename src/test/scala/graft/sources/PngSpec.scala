package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** PNG codec: encoder round-trip plus a decoder exercised against
  * hand-built streams covering every filter type and color type.
  */
class PngSpec extends AnyFunSuite {

  test("grayscale encode/decode round-trips arbitrary content exactly (lossless)") {
    val w = 37; val h = 23 // deliberately not multiples of anything
    val px = Array.tabulate(w * h)(i => (i * 7919 + 13) % 256)
    val enc = Png.encodeGray(px, w, h)
    val (dw, dh, out) = Png.decodeGray(enc)
    assert(dw == w && dh == h)
    assert(out.map(_ & 0xff).toSeq == px.toSeq)
  }

  /** Hand-build a PNG with a chosen color type and per-row filters. */
  private def build(w: Int, h: Int, colorType: Int, ch: Int, pixels: Array[Byte],
      filters: Array[Int], palette: Array[Byte] = null): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(t: String, d: Array[Byte]): Unit = {
      def be32(v: Int) = Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
      out.write(be32(d.length), 0, 4)
      out.write(t.getBytes("ASCII"), 0, 4)
      out.write(d, 0, d.length)
      val crc = new java.util.zip.CRC32(); crc.update(t.getBytes("ASCII")); crc.update(d)
      out.write(be32(crc.getValue.toInt), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = 0; ihdr(1) = 0; ihdr(2) = 0; ihdr(3) = w.toByte
    ihdr(4) = 0; ihdr(5) = 0; ihdr(6) = 0; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = colorType.toByte
    chunk("IHDR", ihdr)
    if (palette != null) chunk("PLTE", palette)
    // apply the requested filter per row (inverse of the decoder's undo)
    val stride = w * ch
    val raw = new Array[Byte]((stride + 1) * h)
    def px(y: Int, x: Int) = if (x < 0 || y < 0) 0 else pixels(y * stride + x) & 0xff
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    for (y <- 0 until h) {
      val f = filters(y % filters.length)
      raw(y * (stride + 1)) = f.toByte
      for (x <- 0 until stride) {
        val left = px(y, x - ch); val up = px(y - 1, x); val ul = px(y - 1, x - ch)
        val v = f match {
          case 0 => px(y, x)
          case 1 => px(y, x) - left
          case 2 => px(y, x) - up
          case 3 => px(y, x) - (left + up) / 2
          case 4 => px(y, x) - paeth(left, up, ul)
        }
        raw(y * (stride + 1) + 1 + x) = (v & 0xff).toByte
      }
    }
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 256)
    var m = 0
    while (!d.finished()) m += d.deflate(buf, m, buf.length - m)
    d.end()
    chunk("IDAT", java.util.Arrays.copyOf(buf, m))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("all five scanline filters decode correctly") {
    val w = 16; val h = 10
    val pixels = Array.tabulate(w * h)(i => ((i * 31 + 7) % 256).toByte)
    // every row uses a different filter, cycling through 0..4
    val enc = build(w, h, colorType = 0, ch = 1, pixels, filters = Array(0, 1, 2, 3, 4))
    val (dw, dh, out) = Png.decodeGray(enc)
    assert(dw == w && dh == h)
    assert(out.toSeq == pixels.toSeq)
  }

  test("RGB reduces via integer luma; palette expands then reduces") {
    val w = 4; val h = 2
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 53 + 11) % 256).toByte)
    val encRgb = build(w, h, colorType = 2, ch = 3, rgb, filters = Array(4))
    val (_, _, gray) = Png.decodeGray(encRgb)
    val expect = Array.tabulate(w * h) { i =>
      val r = rgb(i * 3) & 0xff; val g = rgb(i * 3 + 1) & 0xff; val b = rgb(i * 3 + 2) & 0xff
      ((77 * r + 151 * g + 28 * b) >> 8).toByte
    }
    assert(gray.toSeq == expect.toSeq)
    // palette: indices 0..7 mapping to a deterministic PLTE; decode = luma of PLTE entries
    val palette = Array.tabulate(8 * 3)(i => ((i * 29 + 3) % 256).toByte)
    val idx = Array.tabulate(w * h)(i => (i % 8).toByte)
    val encPal = build(w, h, colorType = 3, ch = 1, idx, filters = Array(1), palette = palette)
    val (_, _, grayPal) = Png.decodeGray(encPal)
    val expectPal = idx.map { ib =>
      val p = (ib & 0xff) * 3
      val r = palette(p) & 0xff; val g = palette(p + 1) & 0xff; val b = palette(p + 2) & 0xff
      ((77 * r + 151 * g + 28 * b) >> 8).toByte
    }
    assert(grayPal.toSeq == expectPal.toSeq)
  }

  test("gray+alpha and RGBA drop alpha") {
    val w = 3; val h = 3
    val ga = Array.tabulate(w * h * 2)(i => ((i * 41 + 5) % 256).toByte)
    val (_, _, g2) = Png.decodeGray(build(w, h, colorType = 4, ch = 2, ga, Array(2)))
    assert(g2.toSeq == Array.tabulate(w * h)(i => ga(i * 2)).toSeq)
    val rgba = Array.tabulate(w * h * 4)(i => ((i * 67 + 9) % 256).toByte)
    val (_, _, g4) = Png.decodeGray(build(w, h, colorType = 6, ch = 4, rgba, Array(3)))
    val expect = Array.tabulate(w * h) { i =>
      val r = rgba(i * 4) & 0xff; val g = rgba(i * 4 + 1) & 0xff; val b = rgba(i * 4 + 2) & 0xff
      ((77 * r + 151 * g + 28 * b) >> 8).toByte
    }
    assert(g4.toSeq == expect.toSeq)
  }

  test("interlaced PNG is rejected loudly; multimodal decodeImage dispatches PNG") {
    val w = 4; val h = 4
    val px = Array.tabulate(w * h)(i => i % 256)
    val enc = Png.encodeGray(px, w, h)
    // flip the interlace byte inside IHDR (offset: 8 sig + 8 chunk hdr + 12)
    val bad = enc.clone()
    bad(8 + 8 + 12) = 1
    val ex = intercept[IllegalArgumentException](Png.decode(bad))
    assert(ex.getMessage.contains("interlaced") || ex.getMessage.contains("Adam7"))
    // dims + real pixel dispatch through the multimodal tier
    assert(graft.multimodal.Multimodal.imageDims(enc).contains(("png", w, h)))
    assert(graft.multimodal.Multimodal.decodeImage(enc).get.map(_ & 0xff).toSeq == px.toSeq)
  }

  test("crafted negative chunk length throws instead of spinning forever") {
    val enc = Png.encodeGray(Array.fill(16)(7), 4, 4)
    val bad = enc.clone()
    // the first chunk length field sits at offset 8 (big-endian u32);
    // 0xFFFFFFF4 = -12 would leave the walk stationary without the guard
    bad(8) = 0xff.toByte; bad(9) = 0xff.toByte; bad(10) = 0xff.toByte; bad(11) = 0xf4.toByte
    val ex = intercept[IllegalArgumentException](Png.decode(bad))
    assert(ex.getMessage.contains("corrupt PNG"))
  }

  test("aHash: brightness-shift invariant, constant image all-zero, " +
      "undecodable emits no row") {
    val spark = graft.GraftSession.local(2, "ahash-spec")
    import spark.implicits._
    import graft.multimodal.Multimodal
    def img(id: Long, px: Array[Int]) = Multimodal.Media(
      id, Multimodal.MediaMeta("image", 8, 8, 0), Png.encodeGray(px, 8, 8))
    val base = Array.tabulate(64)(i => (i * 3) % 200)
    val media = Seq(
      img(1L, base),
      img(2L, base), // identical content, separate encode
      img(3L, base.map(_ + 10)), // uniform brightness shift, no clipping
      img(4L, Array.fill(64)(77)), // constant -> nothing exceeds the mean
      Multimodal.Media(5L, Multimodal.MediaMeta("audio", 0, 0, 0),
        Array[Byte](1, 2, 3)) // undecodable
    ).toDS()
    val out = Multimodal.aHash(media, factor = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L)) // no silent fallback row for 5
    assert(out(1L).length == 16 && out(1L).count(c => c == '0' || c == '1') == 16)
    assert(out(1L) == out(2L)) // re-encode of same pixels: same hash
    // the mean shifts with the pixels, so every comparison is unchanged
    assert(out(1L) == out(3L))
    assert(out(4L) == "0" * 16) // p > mean is strict: constant image = zeros
  }

  test("imageNearDupClusters: a retouched copy clusters with its original, " +
      "distinct patterns stay apart, singletons label as themselves") {
    val spark = graft.GraftSession.local(2, "imgdedup-spec")
    import spark.implicits._
    import graft.multimodal.Multimodal
    def img(id: Long, px: Array[Int]) = Multimodal.Media(
      id, Multimodal.MediaMeta("image", 8, 8, 0), Png.encodeGray(px, 8, 8))
    val a = Array.tabulate(64)(i => (i * 37) % 200)
    val aRetouch = a.zipWithIndex.map { case (p, i) => if (i < 4) math.min(p + 60, 255) else p }
    val b = Array.tabulate(64)(i => ((i % 8) * 31) % 256) // different structure
    val media = Seq(img(1L, a), img(2L, aRetouch), img(3L, b)).toDS()
    val got = Multimodal.nearDupClusters(Multimodal.aHash(media, factor = 2), bands = 4, maxHamming = 4)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L, s"retouch did not cluster: $got")
    assert(got(3L) == 3L, s"distinct pattern merged: $got")
    // full-fidelity copy: identical hash, trivially clustered
    val withCopy = Seq(img(1L, a), img(9L, a)).toDS()
    val got2 = Multimodal.nearDupClusters(Multimodal.aHash(withCopy, factor = 2), bands = 4, maxHamming = 0)
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 1L, 9L -> 1L))
  }

  test("resizeDecoded: 2x2 box average over real pixels, lossless re-encode") {
    val spark = graft.GraftSession.local(2, "resize-spec")
    import spark.implicits._
    import graft.multimodal.Multimodal
    // 4x4 with known values -> 2x2 floor means
    val src = Array(
      10, 20, 30, 40,
      50, 60, 70, 80,
      90, 100, 110, 120,
      130, 140, 150, 161)
    val media = Seq(Multimodal.Media(
      1L, Multimodal.MediaMeta("image", 4, 4, 0), Png.encodeGray(src, 4, 4))).toDS()
    val out = Multimodal.resizeDecoded(media, 2).collect().head
    assert(out.meta.width == 2 && out.meta.height == 2)
    val px = Multimodal.decodeImage(out.bytes).get.map(_ & 0xff)
    // floor((10+20+50+60)/4)=35, (30+40+70+80)/4=55, (90+100+130+140)/4=115,
    // (110+120+150+161)/4=135 (floor of 135.25)
    assert(px.toSeq == Seq(35, 55, 115, 135))
    // non-decodable payload falls back to byte subsampling, no throw
    val stub = Seq(Multimodal.Media(2L, Multimodal.MediaMeta("audio", 8, 8, 0),
      Array.tabulate[Byte](64)(_.toByte))).toDS()
    val sub = Multimodal.resizeDecoded(stub, 2).collect().head
    assert(sub.bytes.length == 16 && sub.meta.width == 4)
  }
}
