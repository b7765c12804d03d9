package graft.sources

/** Baseline-DCT JPEG (ITU-T T.81, public spec) for single-component 8-bit
  * grayscale — the Compression=7 payload of TIFF strips/tiles (TIFF 6.0 +
  * TechNote 2: each segment is a JPEG stream, optionally abbreviated with
  * shared tables in the JPEGTables tag; reference rasters commonly ship
  * this way, `scripts/imgstats/img-stats.py:88-102` delegates it to
  * rasterio/GDAL — here decoded natively).
  *
  * Scope: baseline sequential (SOF0), 8-bit precision, one component
  * (grayscale) or three (YCbCr, sampling factors 1..4 — the full T.81
  * range: 4:4:4, 4:2:2, 4:2:0, 4:4:0, 4:1:1), canonical huffman tables from DHT
  * (any, not just Annex K), restart markers (DRI/RSTn), abbreviated
  * table/image streams. Progressive and arithmetic coding throw loudly.
  *
  * Both directions are implemented against the spec, self-consistent AND
  * interchange-conformant: the encoder emits its (canonical, explicit)
  * tables in DHT/DQT segments, so any conformant reader decodes its
  * output; the decoder reads the tables from the stream, so it accepts
  * output of any conformant baseline encoder.
  *
  * Determinism contract for the oracle gate: with the uniform quant table
  * (all 8s), a block whose 64 pixels are one constant integer v survives
  * the round-trip EXACTLY — FDCT of a constant block is DC-only
  * (S00 = 8·(v−128), all AC ≡ 0 up to float noise ≪ rounding), quantize =
  * round(8Δ/8) = Δ, dequantize·IDCT = Δ — so a block-constant raster is
  * bit-replayable in SQL while still exercising the full huffman/DCT
  * machinery. Non-constant blocks quantize lossily like any JPEG
  * (spec-tested with an error bound instead).
  */
object Jpeg {

  /** Zigzag scan: position k in the scan → raster index (row·8+col). */
  private[sources] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Uniform table: exact for block-constant content (see scaladoc). */
  private[sources] val QuantTable: Array[Int] = Array.fill(64)(8)

  /** Canonical huffman table spec: `bits(i)` = number of codes of length
    * i+1 (1-16), `vals` = symbols in code order (Annex C generation).
    */
  final case class HuffSpec(bits: Array[Int], vals: Array[Int]) {
    require(bits.length == 16 && bits.sum == vals.length, "malformed huffman spec")
  }

  /** Encoder DC table: 12 category symbols, all at 4 bits (codes 0000 to
    * 1011; the all-ones prefix stays unused, as Annex C generation
    * guarantees for an incomplete code).
    */
  private[sources] val DcSpec = HuffSpec(
    Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
    Array.tabulate(12)(identity))

  /** Encoder AC table: EOB, ZRL and every (run 0-15, size 1-10) symbol,
    * all at 8 bits (162 ≤ 255 codes — canonical and prefix-free).
    */
  private[sources] val AcSpec = HuffSpec(
    Array(0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0),
    (Seq(0x00, 0xf0) ++ (for { r <- 0 until 16; s <- 1 to 10 } yield (r << 4) | s)).toArray)

  // ------------------------------------------------------------ huffman
  /** symbol → (len << 24) | code, or -1 when absent. */
  private[sources] def encodeTable(spec: HuffSpec): Array[Int] = {
    val out = Array.fill(256)(-1)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < spec.bits(l - 1)) {
        out(spec.vals(k)) = (l << 24) | code
        code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    out
  }

  /** Canonical serial decoder (Annex F.2.2.3: MINCODE/MAXCODE/VALPTR). */
  private[sources] final class HuffDecoder(spec: HuffSpec) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (spec.bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += spec.bits(l - 1)
          k += spec.bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var l = 1
      var code = br.readBit()
      while (l < 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | br.readBit()
        l += 1
      }
      require(maxCode(l) >= 0 && code <= maxCode(l), "invalid huffman code in entropy stream")
      spec.vals(valPtr(l) + code - minCode(l))
    }
  }

  // ------------------------------------------------------------ bit I/O
  private[sources] final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { putBit((code >>> i) & 1); i -= 1 }
    }
    private def putBit(b: Int): Unit = {
      acc = (acc << 1) | b
      n += 1
      if (n == 8) {
        out.write(acc)
        if (acc == 0xff) out.write(0x00) // byte stuffing
        acc = 0; n = 0
      }
    }
    /** Pad the last byte with 1-bits (spec fill). */
    def flush(): Unit = while (n != 0) putBit(1)
  }

  /** Entropy-segment reader: unstuffs FF00, refuses to read past a real
    * marker (restart handling is explicit via [[expectRestart]]).
    */
  private[sources] final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def readBit(): Int = {
      if (n == 0) {
        var b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          val b2 = bytes(pos) & 0xff
          if (b2 == 0x00) pos += 1 // stuffed literal FF
          else throw new IllegalArgumentException(
            f"marker FF$b2%02X inside entropy data (truncated scan?)")
        }
        acc = b
        n = 8
      }
      n -= 1
      (acc >>> n) & 1
    }
    def receive(t: Int): Int = {
      var v = 0
      var i = 0
      while (i < t) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Byte-align and consume the RSTn marker for restart index `i`. */
    def expectRestart(i: Int): Unit = {
      n = 0
      require((bytes(pos) & 0xff) == 0xff && (bytes(pos + 1) & 0xff) == (0xd0 + (i % 8)),
        f"expected RST${i % 8} marker, got ${bytes(pos) & 0xff}%02X${bytes(pos + 1) & 0xff}%02X")
      pos += 2
    }
  }

  /** V(t) sign extension (F.2.2.1 EXTEND). */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def category(v: Int): Int = {
    var a = math.abs(v)
    var t = 0
    while (a != 0) { a >>= 1; t += 1 }
    t
  }

  // ------------------------------------------------------------ DCT
  private val CosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16.0))
  private val Cu: Array[Double] = Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** Forward DCT of one level-shifted 8×8 block (A.3.3). Naive O(64²) —
    * the encoder is a fixture/egress tool, not a scan hot path.
    */
  private def fdct(s: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    // constant-block fast path (the forward twin of idct's): all-equal
    // samples transform to DC = 8·value, every AC exactly zero
    var k = 1
    while (k < 64 && s(k) == s(0)) k += 1
    if (k == 64) {
      out(0) = 8.0 * s(0)
      return out
    }
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { acc += s(y * 8 + x) * CosT(x)(u) * CosT(y)(v); x += 1 }
          y += 1
        }
        out(v * 8 + u) = 0.25 * Cu(u) * Cu(v) * acc
        u += 1
      }
      v += 1
    }
    out
  }

  /** Inverse DCT (A.3.3). Per-segment decode cost is 64 mults/pixel —
    * acceptable for strip-parallel ingest; swap in an AAN butterfly if a
    * JPEG mega-raster ever dominates a profile.
    */
  private def idct(coef: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    // DC-only fast path: flat blocks (ubiquitous in block-constant
    // fixtures AND real images' smooth regions) need one fill, not the
    // 4096-multiply basis sum — idct(DC) = coef(0)/8 everywhere
    var k = 1
    while (k < 64 && coef(k) == 0.0) k += 1
    if (k == 64) {
      java.util.Arrays.fill(out, coef(0) / 8.0)
      return out
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) { acc += Cu(u) * Cu(v) * coef(v * 8 + u) * CosT(x)(u) * CosT(y)(v); u += 1 }
          v += 1
        }
        out(y * 8 + x) = 0.25 * acc
        x += 1
      }
      y += 1
    }
    out
  }

  // ------------------------------------------------------------ encoder
  private[sources] def writeSeg(out: java.io.ByteArrayOutputStream, marker: Int, payload: Array[Byte]): Unit = {
    out.write(0xff); out.write(marker)
    val len = payload.length + 2
    out.write((len >> 8) & 0xff); out.write(len & 0xff)
    out.write(payload, 0, payload.length)
  }

  private[sources] def dqtPayload(quant: Array[Int] = QuantTable): Array[Byte] = {
    val p = new Array[Byte](65)
    p(0) = 0x00 // Pq=0 (8-bit), Tq=0
    var k = 0
    while (k < 64) { p(1 + k) = quant(Zigzag(k)).toByte; k += 1 }
    p
  }

  private[sources] def dhtPayload(tcTh: Int, spec: HuffSpec): Array[Byte] = {
    val p = new Array[Byte](1 + 16 + spec.vals.length)
    p(0) = tcTh.toByte
    var i = 0
    while (i < 16) { p(1 + i) = spec.bits(i).toByte; i += 1 }
    i = 0
    while (i < spec.vals.length) { p(17 + i) = spec.vals(i).toByte; i += 1 }
    p
  }

  /** Abbreviated table-specification stream (SOI, DQT, DHT×2, EOI) — the
    * TIFF JPEGTables tag payload shared by all abbreviated strip streams.
    * `quant` MUST match the table the paired `encodeGray(includeTables =
    * false, quant = …)` scans were quantized with, or decode silently
    * dequantizes with the wrong divisors.
    */
  def tablesStream(quant: Array[Int] = QuantTable): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    writeSeg(out, 0xdb, dqtPayload(quant))
    writeSeg(out, 0xc4, dhtPayload(0x00, DcSpec))
    writeSeg(out, 0xc4, dhtPayload(0x10, AcSpec))
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Encode one grayscale image (`pixels(row·w+col)` ∈ 0..255) as a
    * baseline JPEG stream. `includeTables = false` emits an abbreviated
    * image stream (tables expected from [[tablesStream]] at decode).
    * `restartInterval > 0` emits DRI + RSTn every that many blocks.
    */
  def encodeGray(
      pixels: Array[Int],
      w: Int,
      h: Int,
      includeTables: Boolean = true,
      restartInterval: Int = 0,
      quant: Array[Int] = QuantTable): Array[Byte] = {
    require(quant.length == 64 && quant.forall(v => v >= 1 && v <= 255),
      "quant table must be 64 entries in 1..255 (8-bit baseline)")
    require(pixels.length == w * h, "pixels must be w*h row-major")
    require(w >= 1 && h >= 1 && w <= 65535 && h <= 65535,
      s"JPEG dimensions are 16-bit: ${w}x$h out of range") // SOF0 would truncate silently
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    if (includeTables) {
      writeSeg(out, 0xdb, dqtPayload(quant))
      writeSeg(out, 0xc4, dhtPayload(0x00, DcSpec))
      writeSeg(out, 0xc4, dhtPayload(0x10, AcSpec))
    }
    if (restartInterval > 0)
      writeSeg(out, 0xdd, Array(((restartInterval >> 8) & 0xff).toByte, (restartInterval & 0xff).toByte))
    writeSeg(out, 0xc0, Array[Byte]( // SOF0: 8-bit, 1 component, no subsampling
      8, ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte, 1, 1, 0x11, 0))
    writeSeg(out, 0xda, Array[Byte](1, 1, 0x00, 0, 63, 0)) // SOS
    val dcCodes = encodeTable(DcSpec)
    val acCodes = encodeTable(AcSpec)
    val bw = new BitWriter(out)
    val blocksAcross = (w + 7) / 8
    val blocksDown = (h + 7) / 8
    var dcPred = 0
    var mcu = 0
    var by = 0
    while (by < blocksDown) {
      var bx = 0
      while (bx < blocksAcross) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          val n = (mcu / restartInterval - 1) % 8
          out.write(0xff); out.write(0xd0 + n)
          dcPred = 0
        }
        dcPred = emitBlock(bw, dcCodes, acCodes, pixels, w, h, bx * 8, by * 8, dcPred, quant)
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Extract (edge-replicated), FDCT, quantize and huffman-emit one 8×8
    * block from `plane`; returns the updated DC predictor.
    */
  private[sources] def emitBlock(
      bw: BitWriter,
      dcCodes: Array[Int],
      acCodes: Array[Int],
      plane: Array[Int],
      pw: Int,
      ph: Int,
      x0: Int,
      y0: Int,
      pred: Int,
      quant: Array[Int] = QuantTable): Int = {
    def emit(codes: Array[Int], sym: Int): Unit = {
      val e = codes(sym)
      require(e >= 0, s"symbol $sym missing from huffman table")
      bw.put(e & 0xffffff, e >>> 24)
    }
    val s = new Array[Double](64)
    var y = 0
    while (y < 8) {
      val py = math.min(y0 + y, ph - 1)
      var x = 0
      while (x < 8) {
        val px = math.min(x0 + x, pw - 1)
        s(y * 8 + x) = plane(py * pw + px) - 128.0
        x += 1
      }
      y += 1
    }
    val coef = fdct(s)
    val q = new Array[Int](64)
    var k = 0
    while (k < 64) { q(k) = math.round(coef(Zigzag(k)) / quant(Zigzag(k))).toInt; k += 1 }
    val diff = q(0) - pred
    val t = category(diff)
    emit(dcCodes, t)
    if (t > 0) bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
    var run = 0
    k = 1
    while (k < 64) {
      if (q(k) == 0) run += 1
      else {
        while (run >= 16) { emit(acCodes, 0xf0); run -= 16 } // ZRL
        val sz = category(q(k))
        emit(acCodes, (run << 4) | sz)
        bw.put(if (q(k) < 0) q(k) + (1 << sz) - 1 else q(k), sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) emit(acCodes, 0x00) // EOB
    q(0)
  }

  // ------------------------------------------------------------ decoder
  /** Mutable marker-segment state: tables accumulate across a JPEGTables
    * pre-stream and the image stream (TIFF TechNote 2 abbreviated form).
    */
  final class TableState {
    val quant = new Array[Array[Int]](4)
    val dc = new Array[HuffDecoder](4)
    val ac = new Array[HuffDecoder](4)
    var restartInterval = 0
  }

  /** One decoded component plane at its own (padded-to-MCU) resolution,
    * with its sampling factors relative to the frame.
    */
  final case class Plane(w: Int, h: Int, hs: Int, vs: Int, data: Array[Byte])

  /** Frame dimensions + component planes (1 = grayscale, 3 = YCbCr). */
  final case class DecodedImage(w: Int, h: Int, planes: Seq[Plane])

  /** Populate a [[TableState]] from an abbreviated table stream (the TIFF
    * JPEGTables tag). Returns the state for [[decodeGray]].
    */
  def parseTables(bytes: Array[Byte]): TableState = {
    val st = new TableState
    scanMarkers(bytes, st, decodeScan = false)
    st
  }

  /** Decode any supported stream collapsed to one gray plane: grayscale
    * passes through; color returns the LUMA (Y) component — Y carries
    * full sampling resolution in every supported layout.
    */
  def decodeGray(bytes: Array[Byte], pre: TableState = new TableState): (Int, Int, Array[Byte]) = {
    val img = decodeImage(bytes, pre)
    val yp = img.planes.head
    val hMax = img.planes.map(_.hs).max
    val vMax = img.planes.map(_.vs).max
    require(yp.hs == hMax && yp.vs == vMax, "luma is subsampled relative to chroma")
    val out = new Array[Byte](img.w * img.h)
    var y = 0
    while (y < img.h) {
      System.arraycopy(yp.data, y * yp.w, out, y * img.w, img.w)
      y += 1
    }
    (img.w, img.h, out)
  }

  /** Decode one baseline stream (grayscale or YCbCr, any sampling with
    * factors 1..4 — the full T.81 range) to per-component planes.
    */
  def decodeImage(bytes: Array[Byte], pre: TableState = new TableState): DecodedImage =
    scanMarkers(bytes, pre, decodeScan = true).getOrElse(
      throw new IllegalArgumentException("no SOS scan in JPEG stream"))

  private final class FrameComp(val id: Int, val hs: Int, val vs: Int, val tq: Int) {
    var td = 0
    var ta = 0
  }

  private def scanMarkers(
      bytes: Array[Byte],
      st: TableState,
      decodeScan: Boolean): Option[DecodedImage] = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "not a JPEG stream (missing SOI)")
    var pos = 2
    var w = 0
    var h = 0
    var comps: Array[FrameComp] = null
    def u16(p: Int): Int = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    while (pos < bytes.length) {
      require((bytes(pos) & 0xff) == 0xff, f"expected marker at $pos, got ${bytes(pos) & 0xff}%02X")
      while ((bytes(pos) & 0xff) == 0xff && pos + 1 < bytes.length && (bytes(pos + 1) & 0xff) == 0xff)
        pos += 1 // fill bytes
      val m = bytes(pos + 1) & 0xff
      pos += 2
      m match {
        case 0xd9 => return None // EOI (tables-only stream)
        case 0xdb => // DQT (possibly several tables)
          val len = u16(pos)
          var p = pos + 2
          while (p < pos + len) {
            val pq = (bytes(p) & 0xff) >> 4
            val tq = bytes(p) & 0x0f
            require(pq == 0, "only 8-bit quantization tables supported (baseline)")
            val q = new Array[Int](64)
            var k = 0
            while (k < 64) { q(Zigzag(k)) = bytes(p + 1 + k) & 0xff; k += 1 }
            st.quant(tq) = q
            p += 65
          }
          pos += len
        case 0xc4 => // DHT (possibly several tables)
          val len = u16(pos)
          var p = pos + 2
          while (p < pos + len) {
            val tc = (bytes(p) & 0xff) >> 4
            val th = bytes(p) & 0x0f
            val bits = Array.tabulate(16)(i => bytes(p + 1 + i) & 0xff)
            val nv = bits.sum
            val vals = Array.tabulate(nv)(i => bytes(p + 17 + i) & 0xff)
            val dec = new HuffDecoder(HuffSpec(bits, vals))
            if (tc == 0) st.dc(th) = dec else st.ac(th) = dec
            p += 17 + nv
          }
          pos += len
        case 0xdd => // DRI
          st.restartInterval = u16(pos + 2)
          pos += u16(pos)
        case 0xc0 => // SOF0 baseline
          val len = u16(pos)
          require((bytes(pos + 2) & 0xff) == 8, "only 8-bit precision supported")
          h = u16(pos + 3)
          w = u16(pos + 5)
          val ncomp = bytes(pos + 7) & 0xff
          require(ncomp == 1 || ncomp == 3,
            s"only 1 (gray) or 3 (YCbCr) components supported, got $ncomp")
          comps = Array.tabulate(ncomp) { c =>
            val o = pos + 8 + c * 3
            val fc = new FrameComp(
              bytes(o) & 0xff, (bytes(o + 1) & 0xff) >> 4, bytes(o + 1) & 0x0f, bytes(o + 2) & 0x0f)
            require(fc.hs >= 1 && fc.hs <= 4 && fc.vs >= 1 && fc.vs <= 4,
              s"sampling factors ${fc.hs}x${fc.vs} out of the T.81 range (1..4)")
            fc
          }
          pos += len
        case sof if sof >= 0xc1 && sof <= 0xcf && sof != 0xc4 && sof != 0xc8 && sof != 0xcc =>
          throw new IllegalArgumentException(
            f"unsupported JPEG SOF$sof%02X (only baseline sequential SOF0)")
        case 0xda => // SOS
          val len = u16(pos)
          require(comps != null, "SOS before SOF0")
          val ns = bytes(pos + 2) & 0xff
          require(ns == comps.length, "partial scans not supported (baseline interleaved only)")
          (0 until ns).foreach { i =>
            val cid = bytes(pos + 3 + i * 2) & 0xff
            val sel = bytes(pos + 4 + i * 2) & 0xff
            val c = comps.find(_.id == cid).getOrElse(
              throw new IllegalArgumentException(s"scan references unknown component $cid"))
            c.td = sel >> 4
            c.ta = sel & 0x0f
          }
          pos += len
          if (!decodeScan)
            throw new IllegalArgumentException("image scan inside a tables-only stream")
          require(w > 0 && h > 0, "SOS before SOF0")
          comps.foreach { c =>
            require(st.quant(c.tq) != null, s"missing quantization table ${c.tq}")
            require(st.dc(c.td) != null && st.ac(c.ta) != null,
              s"missing huffman tables (DC ${c.td} / AC ${c.ta})")
          }
          // T.81 §A.2.2/B.2.3: a single-component scan is NON-interleaved —
          // one data unit per MCU on the component's own block grid,
          // regardless of the declared sampling factors (some encoders emit
          // gray frames with 2x2 factors). Force effective 1x1 for layout.
          val eff =
            if (comps.length == 1 && (comps(0).hs != 1 || comps(0).vs != 1)) {
              val c0 = comps(0)
              val fc = new FrameComp(c0.id, 1, 1, c0.tq)
              fc.td = c0.td; fc.ta = c0.ta
              Array(fc)
            } else comps
          val hMax = eff.map(_.hs).max
          val vMax = eff.map(_.vs).max
          val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
          val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
          val planes = eff.map(c =>
            Plane(mcusX * 8 * c.hs, mcusY * 8 * c.vs, c.hs, c.vs,
              new Array[Byte](mcusX * 8 * c.hs * mcusY * 8 * c.vs)))
          val dcPred = new Array[Int](eff.length)
          val br = new BitReader(bytes, pos)
          var mcu = 0
          var my = 0
          while (my < mcusY) {
            var mx = 0
            while (mx < mcusX) {
              if (st.restartInterval > 0 && mcu > 0 && mcu % st.restartInterval == 0) {
                br.expectRestart(mcu / st.restartInterval - 1)
                java.util.Arrays.fill(dcPred, 0)
              }
              var ci = 0
              while (ci < eff.length) {
                val c = eff(ci)
                val quant = st.quant(c.tq)
                val dcDec = st.dc(c.td)
                val acDec = st.ac(c.ta)
                val plane = planes(ci)
                var byy = 0
                while (byy < c.vs) {
                  var bxx = 0
                  while (bxx < c.hs) {
                    val coef = new Array[Double](64)
                    val t = dcDec.decode(br)
                    dcPred(ci) += extend(br.receive(t), t)
                    coef(0) = dcPred(ci).toDouble * quant(0)
                    var k = 1
                    var eob = false
                    while (k < 64 && !eob) {
                      val rs = acDec.decode(br)
                      if (rs == 0x00) eob = true // EOB
                      else if (rs == 0xf0) k += 16 // ZRL
                      else {
                        k += rs >> 4
                        require(k < 64, "AC run past block end")
                        val sz = rs & 0x0f
                        coef(Zigzag(k)) = extend(br.receive(sz), sz).toDouble * quant(Zigzag(k))
                        k += 1
                      }
                    }
                    val s = idct(coef)
                    val px0 = mx * 8 * c.hs + bxx * 8
                    val py0 = my * 8 * c.vs + byy * 8
                    var y = 0
                    while (y < 8) {
                      var x = 0
                      while (x < 8) {
                        val v = math.round(s(y * 8 + x) + 128.0).toInt
                        plane.data((py0 + y) * plane.w + px0 + x) =
                          (if (v < 0) 0 else if (v > 255) 255 else v).toByte
                        x += 1
                      }
                      y += 1
                    }
                    bxx += 1
                  }
                  byy += 1
                }
                ci += 1
              }
              mcu += 1
              mx += 1
            }
            my += 1
          }
          return Some(DecodedImage(w, h, planes.toSeq))
        case app if (app >= 0xe0 && app <= 0xef) || app == 0xfe => // APPn / COM
          pos += u16(pos)
        case other =>
          throw new IllegalArgumentException(f"unsupported JPEG marker FF$other%02X")
      }
    }
    None
  }
}
