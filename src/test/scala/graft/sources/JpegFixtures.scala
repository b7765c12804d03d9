package graft.sources

import Jpeg._

/** JPEG fixture writers and a color view for JpegSpec: the Annex K
  * quantization table with IJG quality scaling, the YCbCr encoders at
  * any T.81 sampling, and an RGB conversion over [[Jpeg.decodeImage]].
  * The kept decoder reads what these write; no gate or program runs
  * them.
  */
object JpegFixtures {

  /** T.81 Annex K Table K.1 — the reference LUMINANCE quantization table
    * (natural row-major order). Tuned to the contrast-sensitivity of
    * human vision: fine quantization of low frequencies, coarse of high.
    */
  val AnnexKLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** The public IJG quality scaling: quality 1..100 maps to a linear
    * scale of the Annex K base table (50 = unscaled, 100 ≈ all-ones,
    * 10 = 5× coarser), each entry clamped to the baseline-legal 1..255.
    */
  def qualityTable(quality: Int, base: Array[Int] = AnnexKLuma): Array[Int] = {
    require(quality >= 1 && quality <= 100, s"quality must be 1..100, got $quality")
    val scale = if (quality < 50) 5000 / quality else 200 - 2 * quality
    base.map(v => math.min(255, math.max(1, (v * scale + 50) / 100)))
  }

  /** Encode YCbCr color: `subsample = false` → 4:4:4 (one block per
    * component per MCU); `true` → 4:2:0 (Y at 2×2, chroma box-averaged to
    * half resolution, 4+1+1 blocks per 16×16 MCU). All components share
    * quant/huffman table 0 — legal baseline, and what keeps the
    * block-constant exactness argument intact for color fixtures too.
    */
  def encodeColor(
      yP: Array[Int],
      cbP: Array[Int],
      crP: Array[Int],
      w: Int,
      h: Int,
      subsample: Boolean,
      includeTables: Boolean = true): Array[Byte] =
    if (subsample) encodeColorSampled(yP, cbP, crP, w, h, 2, 2, includeTables)
    else encodeColorSampled(yP, cbP, crP, w, h, 1, 1, includeTables)

  /** General luma sampling (T.81 factors 1..4): Y at `yh`×`yv`, chroma
    * box-averaged to (ceil(w/yh), ceil(h/yv)) at 1×1 — 4:4:4 = (1,1),
    * 4:2:0 = (2,2), 4:2:2 = (2,1), 4:4:0 = (1,2), 4:1:1 = (4,1). MCU =
    * yh·yv Y blocks + 1 Cb + 1 Cr.
    */
  def encodeColorSampled(
      yP: Array[Int],
      cbP: Array[Int],
      crP: Array[Int],
      w: Int,
      h: Int,
      yh: Int,
      yv: Int,
      includeTables: Boolean = true): Array[Byte] = {
    require(yP.length == w * h && cbP.length == w * h && crP.length == w * h,
      "planes must be w*h row-major at full resolution")
    require(w >= 1 && h >= 1 && w <= 65535 && h <= 65535,
      s"JPEG dimensions are 16-bit: ${w}x$h out of range") // SOF0 would truncate silently
    require(yh >= 1 && yh <= 4 && yv >= 1 && yv <= 4,
      s"sampling factors ${yh}x$yv out of the T.81 range (1..4)")
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    if (includeTables) {
      writeSeg(out, 0xdb, dqtPayload())
      writeSeg(out, 0xc4, dhtPayload(0x00, DcSpec))
      writeSeg(out, 0xc4, dhtPayload(0x10, AcSpec))
    }
    writeSeg(out, 0xc0, Array[Byte](
      8, ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte, 3,
      1, ((yh << 4) | yv).toByte, 0,
      2, 0x11, 0,
      3, 0x11, 0))
    writeSeg(out, 0xda, Array[Byte](3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    // chroma planes at component resolution (yh×yv box average, edge clamp)
    val (cw, chh, cb, cr) =
      if (yh == 1 && yv == 1) (w, h, cbP, crP)
      else {
        val cw = (w + yh - 1) / yh
        val chh = (h + yv - 1) / yv
        def down(p: Array[Int]): Array[Int] = Array.tabulate(cw * chh) { i =>
          val x0 = (i % cw) * yh; val y0 = (i / cw) * yv
          var s = 0
          var dy = 0
          while (dy < yv) {
            var dx = 0
            while (dx < yh) {
              s += p(math.min(y0 + dy, h - 1) * w + math.min(x0 + dx, w - 1))
              dx += 1
            }
            dy += 1
          }
          s / (yh * yv)
        }
        (cw, chh, down(cbP), down(crP))
      }
    val dcCodes = encodeTable(DcSpec)
    val acCodes = encodeTable(AcSpec)
    val bw = new BitWriter(out)
    val mcusX = (w + 8 * yh - 1) / (8 * yh)
    val mcusY = (h + 8 * yv - 1) / (8 * yv)
    var predY = 0
    var predCb = 0
    var predCr = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        var byy = 0
        while (byy < yv) {
          var bxx = 0
          while (bxx < yh) {
            predY = emitBlock(bw, dcCodes, acCodes, yP, w, h,
              (mx * yh + bxx) * 8, (my * yv + byy) * 8, predY)
            bxx += 1
          }
          byy += 1
        }
        predCb = emitBlock(bw, dcCodes, acCodes, cb, cw, chh, mx * 8, my * 8, predCb)
        predCr = emitBlock(bw, dcCodes, acCodes, cr, cw, chh, mx * 8, my * 8, predCr)
        mx += 1
      }
      my += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Decode to interleaved RGB (color) or replicated gray: chroma
    * upsamples nearest-neighbor, YCbCr→RGB uses the JFIF formulas.
    */
  def decodeRgb(bytes: Array[Byte], pre: TableState = new TableState): (Int, Int, Array[Byte]) = {
    val img = decodeImage(bytes, pre)
    val out = new Array[Byte](img.w * img.h * 3)
    val hMax = img.planes.map(_.hs).max
    val vMax = img.planes.map(_.vs).max
    def sample(p: Plane, x: Int, y: Int): Int =
      p.data(math.min(y * p.vs / vMax, p.h - 1) * p.w + math.min(x * p.hs / hMax, p.w - 1)) & 0xff
    var y = 0
    while (y < img.h) {
      var x = 0
      while (x < img.w) {
        val o = (y * img.w + x) * 3
        if (img.planes.length == 1) {
          val g = sample(img.planes.head, x, y)
          out(o) = g.toByte; out(o + 1) = g.toByte; out(o + 2) = g.toByte
        } else {
          val yy = sample(img.planes(0), x, y).toDouble
          val cb = sample(img.planes(1), x, y) - 128.0
          val cr = sample(img.planes(2), x, y) - 128.0
          def clamp(v: Double): Byte = {
            val r = math.round(v).toInt
            (if (r < 0) 0 else if (r > 255) 255 else r).toByte
          }
          out(o) = clamp(yy + 1.402 * cr)
          out(o + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          out(o + 2) = clamp(yy + 1.772 * cb)
        }
        x += 1
      }
      y += 1
    }
    (img.w, img.h, out)
  }
}
