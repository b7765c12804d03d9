package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S11 — native GeoTIFF scan (reference reads flood-depth rasters with
  * rasterio, `scripts/imgstats/img-stats.py:60-102`; its per-polygon
  * stats output is the cell-table input of `Spatial.zonalStats` — this
  * reader closes the remaining upstream step so the whole flood-stats
  * stage runs in-engine).
  *
  * Implements the public TIFF 6.0 + GeoTIFF specs: II/MM byte order,
  * IFD tag walk, strip (273/278/279) and tile (322–325) layouts,
  * Compression 1 (none), 5 (TIFF LZW incl. the early-change rule),
  * 8/32946 (zlib Deflate) and 32773 (PackBits), horizontal-differencing
  * predictor (317=2, integer samples) and the TechNote-3 floating-point
  * predictor (317=3, byte-plane split), single-band samples of
  * uint8/16/32, int8/16/32, float32/64 (SampleFormat 1/2/3),
  * georeferencing via ModelPixelScale (33550) + ModelTiepoint (33922),
  * nodata via the GDAL_NODATA ASCII tag (42113), and BigTIFF (version
  * 43: 64-bit offsets, 20-byte IFD entries, LONG8/SLONG8/IFD8 types) for
  * >4 GB rasters. Anything else throws — silent garbage is worse than a
  * loud ingest error.
  *
  * Spark shape: `binaryFile` lands each raster whole in one task;
  * decode is a per-file flatMap GENERATOR (one row per non-nodata cell,
  * never a materialized per-file array), so a directory of tiles
  * parallelizes per file and feeds `Spatial.zonalStats` with no shuffle
  * before the zonal aggregation itself. World files partition the fleet;
  * a single 100 GB mega-raster should be retiled upstream (the
  * reference's rasters are already per-scenario tiles).
  */
object GeoTiff {

  final case class Header(
      width: Int,
      height: Int,
      bits: Int,
      sampleFormat: Int,
      // (offsets, byteCounts, tileW, tileH); tileW == 0 → strip layout
      offsets: Array[Long],
      byteCounts: Array[Long],
      tileW: Int,
      tileH: Int,
      rowsPerStrip: Int,
      // x = ox + col·sx ; y = oy − row·sy (GeoTIFF raster-space north-up)
      sx: Double,
      sy: Double,
      ox: Double,
      oy: Double,
      nodata: Option[Double],
      // 1 none, 5 LZW, 7 JPEG (baseline), 8/32946 zlib, 32773 PackBits
      compression: Int = 1,
      // TIFF tag 317: 1 none, 2 horizontal differencing (integer samples)
      predictor: Int = 1,
      // TIFF tag 347: shared abbreviated-JPEG table stream (Compression=7)
      jpegTables: Option[Array[Byte]] = None,
      // TIFF tag 277: samples per pixel (chunky interleave when > 1)
      spp: Int = 1)

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1
    case 3 | 8 => 2
    case 4 | 9 | 11 => 4
    case 5 | 10 | 12 => 8
    case 16 | 17 | 18 => 8 // BigTIFF LONG8 / SLONG8 / IFD8
    case _ => 1
  }

  /** Decode an entry's value bytes (relative base 0) per TIFF type. */
  private def valuesOf(typ: Int, count: Int, b: ByteBuffer): Array[Double] = {
    val out = new Array[Double](count)
    var i = 0
    while (i < count) {
      out(i) = typ match {
        case 1 | 2 | 7 => (b.get(i) & 0xff).toDouble
        case 3 => (b.getShort(i * 2) & 0xffff).toDouble
        case 4 => (b.getInt(i * 4) & 0xffffffffL).toDouble
        case 8 => b.getShort(i * 2).toDouble
        case 9 => b.getInt(i * 4).toDouble
        case 11 => b.getFloat(i * 4).toDouble
        case 12 => b.getDouble(i * 8)
        // BigTIFF 64-bit: lossless as Double up to 2^53 (9 PB offsets) —
        // far beyond any raster this reader will meet; guarded below
        case 16 | 18 =>
          val v = b.getLong(i * 8)
          require(v >= 0 && v <= (1L << 53), s"BigTIFF LONG8 value $v exceeds 2^53")
          v.toDouble
        case 17 => b.getLong(i * 8).toDouble
        case 5 => // RATIONAL
          (b.getInt(i * 8) & 0xffffffffL).toDouble /
            (b.getInt(i * 8 + 4) & 0xffffffffL).toDouble
        case _ => 0.0
      }
      i += 1
    }
    out
  }

  def parseHeader(bytes: Array[Byte]): Header =
    parseHeaderRanged { (off, len) =>
      // a corrupt (Big)TIFF 64-bit offset would truncate through toInt
      // into an opaque AIOOBE — name the problem instead. Compare without
      // addition: `off + len` wraps negative for a LONG8 offset near
      // Long.MaxValue and would slip past an additive check.
      require(len >= 0 && off >= 0 && off <= bytes.length.toLong - len,
        s"TIFF value range [$off, +$len) outside the ${bytes.length}-byte buffer (corrupt offsets)")
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }

  /** Parse a header through a ranged-read function — the whole walk
    * touches a few KB (magic + IFD + referenced value arrays), so a
    * 100 GB raster's header costs a handful of seeks, never a full read.
    * [[parseHeader]] is this over an in-memory array; `readParallel`
    * feeds it positioned reads on the Hadoop stream.
    */
  def parseHeaderRanged(read: (Long, Int) => Array[Byte]): Header = {
    val head = read(0L, 8)
    val order = new String(head, 0, 2, "ASCII") match {
      case "II" => ByteOrder.LITTLE_ENDIAN
      case "MM" => ByteOrder.BIG_ENDIAN
      case o => throw new IllegalArgumentException(s"not a TIFF (byte order '$o')")
    }
    def wrap(b: Array[Byte]) = ByteBuffer.wrap(b).order(order)
    val h0 = wrap(head)
    val magic = h0.getShort(2) & 0xffff
    require(magic == 42 || magic == 43, "not a TIFF (bad magic)")
    // BigTIFF (version 43): 8-byte offsets/counts, 20-byte IFD entries,
    // 8-byte inline value field — same tag vocabulary otherwise
    val big = magic == 43
    if (big) {
      val h1 = wrap(read(4L, 12))
      require((h1.getShort(0) & 0xffff) == 8 && (h1.getShort(2) & 0xffff) == 0,
        "malformed BigTIFF header (offset bytesize must be 8, reserved 0)")
    }
    val ifdOff =
      if (big) wrap(read(8L, 8)).getLong(0) else (h0.getInt(4) & 0xffffffffL)
    val entrySize = if (big) 20 else 12
    val n =
      if (big) {
        val c = wrap(read(ifdOff, 8)).getLong(0)
        require(c >= 0 && c <= 0xffff, s"unreasonable BigTIFF IFD entry count $c")
        c.toInt
      } else wrap(read(ifdOff, 2)).getShort(0) & 0xffff
    val ifd = wrap(read(ifdOff + (if (big) 8 else 2), n * entrySize))
    val tags = scala.collection.mutable.HashMap.empty[Int, Array[Double]]
    var nodata: Option[Double] = None
    var jpegTables: Option[Array[Byte]] = None
    var e = 0
    while (e < n) {
      val off = e * entrySize
      val tag = ifd.getShort(off) & 0xffff
      val typ = ifd.getShort(off + 2) & 0xffff
      val count =
        if (big) {
          val c = ifd.getLong(off + 4)
          require(c >= 0 && c <= Int.MaxValue, s"BigTIFF tag $tag count $c out of range")
          c.toInt
        } else ifd.getInt(off + 4)
      val valSize = typeSize(typ) * count
      val valueField = off + (if (big) 12 else 8)
      val inlineMax = if (big) 8 else 4
      val vbuf =
        if (valSize <= inlineMax) {
          val inline = new Array[Byte](valSize max 0)
          var k = 0
          while (k < inline.length) { inline(k) = ifd.get(valueField + k); k += 1 }
          wrap(inline)
        } else wrap(read(
          if (big) ifd.getLong(valueField) else ifd.getInt(valueField) & 0xffffffffL,
          valSize))
      if (tag == 42113) {
        require(typ == 2, "GDAL_NODATA must be an ASCII tag")
        val s = new String(vbuf.array(), "ASCII").takeWhile(_ != 0).trim
        nodata = scala.util.Try(s.toDouble).toOption
      } else if (tag == 347) {
        jpegTables = Some(java.util.Arrays.copyOf(vbuf.array(), valSize))
      } else tags(tag) = valuesOf(typ, count, vbuf)
      e += 1
    }
    def one(tag: Int, default: => Double): Double = tags.get(tag).map(_.head).getOrElse(default)
    val compression = one(259, 1.0).toInt
    require(
      compression == 1 || compression == 5 || compression == 7 || compression == 8 ||
        compression == 32773 || compression == 32946,
      s"unsupported TIFF compression $compression " +
        "(supported: 1 none, 5 LZW, 7 JPEG baseline, 8/32946 Deflate, 32773 PackBits)")
    require(
      compression != 7 || (one(258, 8.0).toInt == 8 && one(339, 1.0).toInt == 1 &&
        one(317, 1.0).toInt == 1),
      "JPEG compression requires 8-bit unsigned samples and no predictor")
    val predictor = one(317, 1.0).toInt
    require(predictor == 1 || predictor == 2 || predictor == 3,
      s"unsupported TIFF predictor $predictor " +
        "(supported: 1 none, 2 horizontal int, 3 floating point)")
    require(predictor != 2 || one(339, 1.0).toInt != 3,
      "predictor 2 (horizontal differencing) is integer-only; float rasters use predictor 3")
    require(predictor != 3 || one(339, 1.0).toInt == 3,
      "predictor 3 (floating point) requires SampleFormat 3")
    val spp = one(277, 1.0).toInt
    require(spp >= 1, s"bad SamplesPerPixel=$spp")
    // multi-band: chunky (pixel-interleaved) layout only, and the
    // predictor/JPEG paths stay single-band — loud requires, not silent
    // mis-decodes
    require(spp == 1 || one(284, 1.0).toInt == 1,
      s"multi-band rasters must be chunky (PlanarConfiguration=1), got ${one(284, 1.0).toInt}")
    require(spp == 1 || predictor == 1,
      "multi-band rasters with a predictor are not supported")
    require(spp == 1 || compression != 7,
      "JPEG compression is single-band in this reader")
    val width = one(256, 0.0).toInt
    val height = one(257, 0.0).toInt
    require(width > 0 && height > 0, "missing ImageWidth/ImageLength")
    val bits = one(258, 8.0).toInt
    val fmt = one(339, 1.0).toInt
    require(tags.get(258).forall(a => a.forall(_ == a.head)),
      "mixed per-band BitsPerSample not supported")
    require(tags.get(339).forall(a => a.forall(_ == a.head)),
      "mixed per-band SampleFormat not supported")
    val tiled = tags.contains(324)
    val offsetsD: Array[Double] = tags.get(if (tiled) 324 else 273) match {
      case Some(vs) => vs
      case None => throw new IllegalArgumentException("no strip/tile offsets")
    }
    val offsets: Array[Long] = offsetsD.map(_.toLong)
    val counts: Array[Long] = tags.get(if (tiled) 325 else 279) match {
      case Some(vs) => vs.map(_.toLong)
      case None => offsets.map(_ => 0L)
    }
    val scale = tags.getOrElse(33550, Array(1.0, 1.0, 0.0))
    val tie = tags.getOrElse(33922, Array(0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    // tiepoint: raster (i, j) ↦ model (x, y): ox = x − i·sx, oy = y + j·sy
    val ox = tie(3) - tie(0) * scale(0)
    val oy = tie(4) + tie(1) * scale(1)
    Header(
      width, height, bits, fmt, offsets, counts,
      if (tiled) one(322, 0.0).toInt else 0,
      if (tiled) one(323, 0.0).toInt else 0,
      one(278, height.toDouble).toInt,
      scale(0), scale(1), ox, oy, nodata, compression, predictor, jpegTables, spp)
  }

  /** Inflate a zlib (Compression=8/32946) segment to exactly `outLen`. */
  private def inflateSegment(bytes: Array[Byte], off: Int, len: Int, outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(bytes, off, len)
    val out = new Array[Byte](outLen)
    var done = 0
    while (done < outLen && !inf.finished()) done += inf.inflate(out, done, outLen - done)
    inf.end()
    require(done == outLen, s"deflate segment short: $done of $outLen bytes")
    out
  }

  /** PackBits (Compression=32773) decode. */
  private def packBitsSegment(bytes: Array[Byte], off: Int, len: Int, outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var i = off; var o = 0
    while (o < outLen && i < off + len) {
      val n = bytes(i); i += 1
      if (n >= 0) { // n+1 literal bytes
        System.arraycopy(bytes, i, out, o, n + 1); i += n + 1; o += n + 1
      } else if (n != -128) { // next byte repeated 1-n times
        val v = bytes(i); i += 1
        var k = 0; while (k < 1 - n) { out(o) = v; o += 1; k += 1 }
      } // -128 = noop
    }
    require(o == outLen, s"packbits segment short: $o of $outLen bytes")
    out
  }

  /** TIFF LZW (Compression=5) decode: MSB-first variable-width codes,
    * Clear=256, EOI=257, code width 9→12 with TIFF's early-change
    * increment (grow when the NEXT entry would need the wider code).
    */
  private def lzwSegment(bytes: Array[Byte], off: Int, len: Int, outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var o = 0
    // dictionary as (prefixCode, suffixByte); 0-255 literals implicit
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = 258
    var width = 9
    var bitPos = 0L
    val totalBits = len.toLong * 8
    def readCode(): Int = {
      if (bitPos + width > totalBits) return 257 // ran off the end → EOI
      var v = 0
      var k = 0
      while (k < width) {
        val b = bytes(off + ((bitPos + k) >>> 3).toInt) & 0xff
        v = (v << 1) | ((b >>> (7 - ((bitPos + k) & 7).toInt)) & 1)
        k += 1
      }
      bitPos += width
      v
    }
    def emit(code: Int): Int = { // writes the string for `code`, returns its first byte
      if (code < 256) { out(o) = code.toByte; o += 1; code }
      else {
        // resolve the chain backwards into a scratch buffer
        var c = code; var n = 0
        val scratch = new Array[Byte](4096)
        while (c >= 256) { scratch(n) = suffix(c); n += 1; c = prefix(c) }
        out(o) = c.toByte; o += 1
        var k = n - 1
        while (k >= 0) { out(o) = scratch(k); o += 1; k -= 1 }
        c
      }
    }
    var prev = -1
    var code = readCode()
    while (code != 257 && o < outLen) {
      if (code == 256) { // Clear
        next = 258; width = 9; prev = -1
      } else {
        if (prev < 0) emit(code)
        else {
          if (code < next) {
            val first = emit(code)
            prefix(next) = prev; suffix(next) = first.toByte; next += 1
          } else { // KwKwK case: code == next
            // first byte of prev's string
            var c = prev; while (c >= 256) c = prefix(c)
            prefix(next) = prev; suffix(next) = c.toByte; next += 1
            emit(code)
          }
        }
        prev = code
        // TIFF early change: widen when the next code to be ASSIGNED
        // is one below the current width's capacity
        if (next == (1 << width) - 1 && width < 12) width += 1
      }
      if (o < outLen) code = readCode()
    }
    require(o == outLen, s"lzw segment short: $o of $outLen bytes")
    out
  }

  /** Undo TIFF predictor 2 (horizontal differencing) in place: integer
    * samples accumulate along each row of the segment.
    */
  private def undoPredictor(
      data: Array[Byte], order: ByteOrder, rowSamples: Int, rows: Int, bits: Int): Unit = {
    val buf = ByteBuffer.wrap(data).order(order)
    var r = 0
    while (r < rows) {
      val base = r * rowSamples
      var c = 1
      bits match {
        case 8 =>
          while (c < rowSamples) {
            data(base + c) = (data(base + c) + data(base + c - 1)).toByte; c += 1
          }
        case 16 =>
          while (c < rowSamples) {
            val o = (base + c) * 2
            buf.putShort(o, (buf.getShort(o) + buf.getShort(o - 2)).toShort); c += 1
          }
        case 32 =>
          while (c < rowSamples) {
            val o = (base + c) * 4
            buf.putInt(o, buf.getInt(o) + buf.getInt(o - 4)); c += 1
          }
        case b => throw new IllegalArgumentException(
          s"predictor 2 unsupported for $b-bit samples (float predictor is TIFF predictor 3)")
      }
      r += 1
    }
  }

  /** Undo TIFF predictor 3 (TechNote 3 floating-point predictor) in
    * place: per row, accumulate byte deltas, then re-interleave the
    * MSB-first byte PLANES back into per-sample bytes in `order`.
    */
  private def undoFloatPredictor(
      data: Array[Byte], order: ByteOrder, rowSamples: Int, rows: Int, bits: Int): Unit = {
    val bps = bits / 8
    val rowBytes = rowSamples * bps
    val tmp = new Array[Byte](rowBytes)
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var k = 1
      while (k < rowBytes) { data(base + k) = (data(base + k) + data(base + k - 1)).toByte; k += 1 }
      System.arraycopy(data, base, tmp, 0, rowBytes)
      var i = 0
      while (i < rowSamples) {
        var p = 0
        while (p < bps) {
          // plane p holds byte p of the big-endian representation
          val dst = if (order == ByteOrder.BIG_ENDIAN) p else bps - 1 - p
          data(base + i * bps + dst) = tmp(p * rowSamples + i)
          p += 1
        }
        i += 1
      }
      r += 1
    }
  }

  /** Read one sample at byte offset `o` of a decoded segment buffer. */
  private def sampleAt(buf: ByteBuffer, o: Int, bits: Int, fmt: Int): Double =
    (bits, fmt) match {
      case (8, 2) => buf.get(o).toDouble
      case (8, _) => (buf.get(o) & 0xff).toDouble
      case (16, 2) => buf.getShort(o).toDouble
      case (16, _) => (buf.getShort(o) & 0xffff).toDouble
      case (32, 2) => buf.getInt(o).toDouble
      case (32, 3) => buf.getFloat(o).toDouble
      case (32, _) => (buf.getInt(o) & 0xffffffffL).toDouble
      case (64, 3) => buf.getDouble(o)
      case (b, f) => throw new IllegalArgumentException(
        s"unsupported sample: $b bits, format $f")
    }

  /** Decode to a cell iterator (col, row, value) — a generator, one cell
    * at a time, nodata skipped.
    */
  def cells(bytes: Array[Byte]): Iterator[(Int, Int, Double)] =
    cells(bytes, parseHeader(bytes))

  /** As [[cells]] with a pre-parsed header (callers that also need the
    * georeferencing parse once, not twice). */
  def cells(bytes: Array[Byte], h: Header): Iterator[(Int, Int, Double)] = {
    singleBand(h, "cellsBands/readBands")
    cellsBands(bytes, h).map { case (c, r, _, v) => (c, r, v) }
  }

  /** Per-band cell iterator for chunky (pixel-interleaved) rasters:
    * (col, row, band, value). Single-band rasters emit band 0 — the
    * general form [[cells]] specializes.
    */
  def cellsBands(bytes: Array[Byte], h: Header): Iterator[(Int, Int, Int, Double)] =
    segmentsOf(h, "", little = bytes(0) == 'I').iterator
      .flatMap(s => segmentCells(s, bytes, s.off.toInt))

  private def singleBand(h: Header, use: String): Unit =
    require(h.spp == 1, s"multi-band raster (spp=${h.spp}) — use $use")

  /** One strip/tile of one raster file: everything a task needs to
    * decode its byte range independently (geometry + codec + georef).
    */
  final case class RasterSegment(
      path: String,
      off: Long,
      len: Long,
      little: Boolean,
      compression: Int,
      predictor: Int,
      bits: Int,
      fmt: Int,
      rowSamples: Int,
      rows: Int,
      col0: Int,
      row0: Int,
      width: Int,
      height: Int,
      sx: Double,
      sy: Double,
      ox: Double,
      oy: Double,
      nodata: Option[Double],
      jpegTables: Option[Array[Byte]] = None,
      spp: Int = 1)

  /** Split a header into per-strip/per-tile segments — the one place the
    * layout is told apart: a tile is always full-size (edge tiles
    * padded), a strip is as tall as the rows left.
    */
  private def segmentsOf(h: Header, path: String, little: Boolean): Seq[RasterSegment] = {
    val across = if (h.tileW > 0) (h.width + h.tileW - 1) / h.tileW else 1
    h.offsets.indices.map { k =>
      val (segW, rows, col0, row0) =
        if (h.tileW > 0) (h.tileW, h.tileH, (k % across) * h.tileW, (k / across) * h.tileH)
        else (h.width, math.min(h.rowsPerStrip, h.height - k * h.rowsPerStrip), 0, k * h.rowsPerStrip)
      RasterSegment(
        path, h.offsets(k), h.byteCounts(k), little, h.compression, h.predictor,
        h.bits, h.sampleFormat, segW, rows, col0, row0,
        h.width, h.height, h.sx, h.sy, h.ox, h.oy, h.nodata, h.jpegTables, h.spp)
    }
  }

  /** Stored bytes of a segment: its byte count, or the uncompressed size
    * when the file records none. */
  private def storedLen(s: RasterSegment): Int =
    if (s.len > 0) s.len.toInt else s.rowSamples * s.spp * s.rows * (s.bits / 8)

  /** The one cell decoder behind every reader: decode segment `s`, stored
    * at `off` of `bytes` (decompress, undo the predictor), and walk it
    * row → col → band to (col, row, band, value), skipping edge-tile
    * padding and nodata.
    */
  private def segmentCells(
      s: RasterSegment, bytes: Array[Byte], off: Int): Iterator[(Int, Int, Int, Double)] = {
    val order = if (s.little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val rowSamples = s.rowSamples * s.spp
    val bytesPerSample = s.bits / 8
    val outLen = rowSamples * s.rows * bytesPerSample
    val len = storedLen(s)
    val data: Array[Byte] = s.compression match {
      case 1 =>
        if (s.predictor == 1) null // sample straight from the source buffer
        else java.util.Arrays.copyOfRange(bytes, off, off + outLen)
      case 8 | 32946 => inflateSegment(bytes, off, len, outLen)
      case 32773 => packBitsSegment(bytes, off, len, outLen)
      case 5 => lzwSegment(bytes, off, len, outLen)
      case 7 =>
        // strip/tile is a JPEG stream (TIFF TechNote 2); shared tables may
        // ride in the JPEGTables tag (abbreviated streams)
        val pre = s.jpegTables.map(Jpeg.parseTables).getOrElse(new Jpeg.TableState)
        val (jw, jh, px) = Jpeg.decodeGray(
          java.util.Arrays.copyOfRange(bytes, off, off + len), pre)
        require(jw == rowSamples && jh == s.rows,
          s"JPEG segment is ${jw}x$jh, expected ${rowSamples}x${s.rows}")
        px
    }
    val seg =
      if (data == null) ByteBuffer.wrap(bytes, off, outLen).slice().order(order)
      else {
        if (s.predictor == 2) undoPredictor(data, order, rowSamples, s.rows, s.bits)
        else if (s.predictor == 3) undoFloatPredictor(data, order, rowSamples, s.rows, s.bits)
        ByteBuffer.wrap(data).order(order)
      }
    val raw = Iterator.range(0, s.rows).flatMap { j =>
      Iterator.range(0, s.rowSamples).flatMap { i =>
        val col = s.col0 + i; val row = s.row0 + j
        if (col < s.width && row < s.height)
          Iterator.range(0, s.spp).map(b => (col, row, b,
            sampleAt(seg, ((j * s.rowSamples + i) * s.spp + b) * bytesPerSample, s.bits, s.fmt)))
        else Iterator.empty // edge-tile padding
      }
    }
    s.nodata match {
      case Some(nd) => raw.filter { case (_, _, _, v) => v != nd && !(v.isNaN && nd.isNaN) }
      case None => raw
    }
  }

  /** A segment's cells as cell-table rows (path, x, y, band, value) at
    * the pixel centers x = ox + (col+0.5)·sx, y = oy − (row+0.5)·sy.
    */
  private def segmentRows(
      s: RasterSegment, bytes: Array[Byte], off: Int): Iterator[(String, Double, Double, Int, Double)] =
    segmentCells(s, bytes, off).map { case (col, row, b, v) =>
      (s.path, s.ox + (col + 0.5) * s.sx, s.oy - (row + 0.5) * s.sy, b, v)
    }

  /** Hadoop Configuration is a Writable, not Serializable — standard
    * wrapper so the task closure can carry it to executors.
    */
  private class SerializableHadoopConf(
      @transient var conf: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** MEGA-RASTER scale path: [[read]] (binaryFile) lands each FILE whole
    * in one task — right for a fleet of tiles, wrong for one 100 GB
    * raster. This variant parses each header with a handful of ranged
    * reads (driver-side, KBs per file), then fans the strip/tile byte
    * ranges out as independent tasks: decode parallelism = number of
    * SEGMENTS, not files, and no task ever materializes a whole file.
    * Output and semantics identical to [[read]] (spec-asserted).
    */
  def readParallel(
      spark: SparkSession,
      path: String,
      globFilter: Option[String] = None): DataFrame =
    readParallelImpl(spark, path, globFilter, multiBand = false).drop("band")

  /** Multi-band twin of [[readParallel]]: (path, x, y, band, value) with
    * the same per-strip/per-tile segment fan-out — chunky interleave
    * means a segment holds ALL bands of its pixel rows, so band decode
    * adds no extra reads or shuffles.
    */
  def readBandsParallel(
      spark: SparkSession,
      path: String,
      globFilter: Option[String] = None): DataFrame =
    readParallelImpl(spark, path, globFilter, multiBand = true)

  private def readParallelImpl(
      spark: SparkSession,
      path: String,
      globFilter: Option[String],
      multiBand: Boolean): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(sc.hadoopConfiguration)
    val globbed = Option(fs.globStatus(hPath)).map(_.toSeq).getOrElse(Seq.empty)
    val globRe = globFilter.map(g =>
      ("\\Q" + g.replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "\\E").r)
    val files = globbed
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(_.isFile)
      .filter(s => globRe.forall(_.matches(s.getPath.getName)))
    val segs = files.flatMap { st =>
      val in = fs.open(st.getPath)
      try {
        var little = true
        val h = parseHeaderRanged { (off, len) =>
          val b = new Array[Byte](len)
          in.readFully(off, b, 0, len)
          if (off == 0L) little = b(0) == 'I'
          b
        }
        if (!multiBand) singleBand(h, "readBandsParallel")
        segmentsOf(h, st.getPath.toString, little)
      } finally in.close()
    }
    require(segs.nonEmpty, s"no TIFF segments under $path")
    val confSer = new SerializableHadoopConf(sc.hadoopConfiguration)
    val par = math.max(1, math.min(segs.size, sc.defaultParallelism * 2))
    sc.parallelize(segs, par)
      .mapPartitions { it =>
        it.flatMap { s =>
          val p = new org.apache.hadoop.fs.Path(s.path)
          val sfs = p.getFileSystem(confSer.conf) // Hadoop caches per-scheme instances
          val raw = new Array[Byte](storedLen(s))
          val in = sfs.open(p)
          try in.readFully(s.off, raw, 0, raw.length)
          finally in.close()
          segmentRows(s, raw, 0)
        }
      }
      .toDF("path", "x", "y", "band", "value")
  }

  /** Read raster(s) into a cell table (path, x, y, value) — the
    * `Spatial.zonalStats` input. Cell center coordinates
    * (x = ox + (col+0.5)·sx, y = oy − (row+0.5)·sy), matching
    * rasterio/GDAL's pixel-center convention for point sampling.
    */
  def read(spark: SparkSession, path: String, globFilter: Option[String] = None): DataFrame =
    readImpl(spark, path, globFilter, multiBand = false).drop("band")

  /** Multi-band scan: (path, x, y, band, value) — the general form of
    * [[read]] for chunky-interleaved rasters (RGB orthophotos, multi-
    * spectral stacks). Single-band files come back with band 0.
    */
  def readBands(spark: SparkSession, path: String, globFilter: Option[String] = None): DataFrame =
    readImpl(spark, path, globFilter, multiBand = true)

  private def readImpl(
      spark: SparkSession,
      path: String,
      globFilter: Option[String],
      multiBand: Boolean): DataFrame = {
    import spark.implicits._
    // pass a DIRECTORY + globFilter rather than a literal "dir/*.tif"
    // glob: Spark's DataSource probes the literal path first and logs a
    // spurious FileNotFoundException stack before falling back to glob
    // expansion (works, but poisons the driver log)
    val reader = spark.read.format("binaryFile")
    globFilter.foreach(g => reader.option("pathGlobFilter", g))
    reader.load(path)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val h = parseHeader(bytes) // once per file, not per cell
        if (!multiBand) singleBand(h, "cellsBands/readBands")
        segmentsOf(h, p, little = bytes(0) == 'I').iterator
          .flatMap(s => segmentRows(s, bytes, s.off.toInt))
      }
      .toDF("path", "x", "y", "band", "value")
  }

  /** One IFD entry for [[writeLayout]]: `count` values of TIFF type
    * `typ`, little-endian in `bytes`. */
  private final case class Tag(tag: Int, typ: Int, count: Int, bytes: Array[Byte])

  private def tagOf(tag: Int, typ: Int, count: Int)(put: ByteBuffer => Unit): Tag = {
    val b = ByteBuffer.allocate(typeSize(typ) * count).order(ByteOrder.LITTLE_ENDIAN)
    put(b)
    Tag(tag, typ, count, b.array())
  }
  private def shorts(tag: Int, vs: Int*): Tag =
    tagOf(tag, 3, vs.size)(b => vs.foreach(v => b.putShort(v.toShort)))
  private def longs(tag: Int, vs: Long*): Tag =
    tagOf(tag, 4, vs.size)(b => vs.foreach(v => b.putInt(v.toInt)))
  private def doubles(tag: Int, vs: Double*): Tag =
    tagOf(tag, 12, vs.size)(b => vs.foreach(v => b.putDouble(v)))

  /** The one file layout every writer emits: a little-endian classic TIFF
    * with one IFD sorted by tag, every value too big for its 4-byte entry
    * field stored after the IFD at an even offset (TIFF 6.0 word
    * alignment), then the strips. The image is cut into strips of
    * `rowsPerStrip` rows (≤ 0: one whole-image strip) that
    * `strip(row0, rows)` encodes; the size, strip and north-up
    * georeferencing tags (x = ox + col·sx, y = oy − row·sy) are added to
    * the writer's own `tags`.
    */
  private def writeLayout(
      path: String,
      width: Int,
      height: Int,
      rowsPerStrip: Int,
      sx: Double,
      sy: Double,
      ox: Double,
      oy: Double,
      tags: Seq[Tag])(strip: (Int, Int) => Array[Byte]): Unit = {
    val rps = if (rowsPerStrip <= 0) height else rowsPerStrip
    val strips = Array.tabulate((height + rps - 1) / rps) { s =>
      strip(s * rps, math.min(rps, height - s * rps))
    }
    def ifd(stripOffs: Seq[Long]): Seq[Tag] = (tags ++ Seq(
      longs(256, width), longs(257, height), longs(273, stripOffs: _*), longs(278, rps),
      longs(279, strips.map(_.length.toLong).toSeq: _*),
      doubles(33550, sx, sy, 0.0), doubles(33922, 0.0, 0.0, 0.0, ox, oy, 0.0))).sortBy(_.tag)
    val sized = ifd(strips.map(_ => 0L).toSeq)
    val n = sized.size
    val ifdOff = 8
    var cursor = ifdOff + 2 + n * 12 + 4
    val valueOffs = sized.map { t =>
      if (t.bytes.length <= 4) 0
      else { val o = cursor; cursor += t.bytes.length; cursor += cursor & 1; o }
    }
    val payloadOff = cursor
    val out = ByteBuffer.allocate(payloadOff + strips.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(ifdOff).putShort(n.toShort)
    ifd(strips.scanLeft(payloadOff.toLong)(_ + _.length).init.toSeq).zip(valueOffs).foreach {
      case (t, o) =>
        out.putShort(t.tag.toShort).putShort(t.typ.toShort).putInt(t.count)
        if (t.bytes.length <= 4) out.put(java.util.Arrays.copyOf(t.bytes, 4))
        else { out.putInt(o); out.put(o, t.bytes) }
    }
    out.putInt(0) // no next IFD
    out.position(payloadOff)
    strips.foreach(out.put)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.array())
  }

  /** zlib-deflate a strip into a growable sink — incompressible rasters
    * exceed their input size via stored-block overhead. */
  private def zip(payload: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(payload); d.finish()
    val sink = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) sink.write(buf, 0, d.deflate(buf))
    d.end()
    sink.toByteArray
  }

  /** S11 sink — write a single-band float32 GeoTIFF, uncompressed or
    * zlib (`deflate = true`, Compression=8): the one-band case of
    * [[writeBands]], plus an optional GDAL_NODATA tag. `values` is
    * row-major (row·width + col); rowsPerStrip ≤ 0 writes one
    * whole-image strip, a positive value splits the payload into
    * independently-compressed strips, the layout [[readParallel]] fans
    * out per segment.
    */
  def write(
      path: String,
      width: Int,
      height: Int,
      values: Array[Float],
      sx: Double,
      sy: Double,
      ox: Double,
      oy: Double,
      nodata: Option[Float] = None,
      deflate: Boolean = false,
      rowsPerStrip: Int = 0): Unit = {
    require(values.length == width * height, "values must be width*height row-major")
    val (tags, strip) = float32Strips(width, Array(values), deflate)
    val ndAscii = nodata.map(v => (if (v == v.toLong) v.toLong.toString else v.toString) + "\u0000")
    writeLayout(path, width, height, rowsPerStrip, sx, sy, ox, oy,
      tags ++ ndAscii.map(s => Tag(42113, 2, s.length, s.getBytes("ASCII"))))(strip)
  }

  /** Multi-band float32 sink (chunky interleave, optionally deflate,
    * optionally multi-strip): `bands(b)(row*width+col)` — the writer twin
    * of [[readBands]]/[[readBandsParallel]].
    */
  def writeBands(
      path: String,
      width: Int,
      height: Int,
      bands: Array[Array[Float]],
      sx: Double,
      sy: Double,
      ox: Double,
      oy: Double,
      deflate: Boolean = false,
      rowsPerStrip: Int = 0): Unit = {
    require(bands.length >= 1 && bands.forall(_.length == width * height),
      "each band must be width*height row-major")
    val (tags, strip) = float32Strips(width, bands, deflate)
    writeLayout(path, width, height, rowsPerStrip, sx, sy, ox, oy, tags)(strip)
  }

  /** The float32 chunky strip encoder behind [[write]] and [[writeBands]]:
    * the sample-format tags and the `(row0, rows)` strip encoder.
    */
  private def float32Strips(
      width: Int, bands: Array[Array[Float]], deflate: Boolean): (Seq[Tag], (Int, Int) => Array[Byte]) = {
    val spp = bands.length
    val tags = Seq(shorts(258, Seq.fill(spp)(32): _*), shorts(259, if (deflate) 8 else 1),
      shorts(277, spp), shorts(284, 1), shorts(339, Seq.fill(spp)(3): _*))
    (tags, (r0, rows) => {
      val b = ByteBuffer.allocate(rows * width * spp * 4).order(ByteOrder.LITTLE_ENDIAN)
      var i = r0 * width
      while (i < (r0 + rows) * width) {
        var bd = 0
        while (bd < spp) { b.putFloat(bands(bd)(i)); bd += 1 }
        i += 1
      }
      if (deflate) zip(b.array()) else b.array()
    })
  }

  /** S11 sink, JPEG layout — write a single-band 8-bit grayscale raster
    * with Compression=7 in the common libtiff shape: shared huffman/quant
    * tables in the JPEGTables tag (347), ABBREVIATED baseline-JPEG stream
    * per strip. `pixels` ∈ 0..255 row-major. JPEG is lossy in general;
    * block-constant content round-trips exactly (see [[Jpeg]] scaladoc),
    * which is what the qz5 oracle gate relies on.
    */
  def writeJpeg(
      path: String,
      width: Int,
      height: Int,
      pixels: Array[Int],
      sx: Double,
      sy: Double,
      ox: Double,
      oy: Double,
      rowsPerStrip: Int = 0): Unit = {
    require(pixels.length == width * height, "pixels must be width*height row-major")
    require(pixels.forall(p => p >= 0 && p <= 255), "JPEG samples must be 0..255")
    val tables = Jpeg.tablesStream()
    // 262 = 1: BlackIsZero
    writeLayout(path, width, height, rowsPerStrip, sx, sy, ox, oy,
      Seq(shorts(258, 8), shorts(259, 7), shorts(262, 1), shorts(277, 1), shorts(339, 1),
        Tag(347, 7, tables.length, tables))) { (r0, rows) =>
      Jpeg.encodeGray(
        java.util.Arrays.copyOfRange(pixels, r0 * width, (r0 + rows) * width),
        width, rows, includeTables = false)
    }
  }
}
