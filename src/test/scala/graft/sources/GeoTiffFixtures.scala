package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** BigTIFF fixtures for GeoTiffSpec: the kept reader's 64-bit path has
  * no writer in the engine, so the spec writes its inputs with this.
  */
object GeoTiffFixtures {

  /** BigTIFF (version 43) sink — the float32 layout of [[GeoTiff.write]] under
    * the 64-bit framing (16-byte header, 20-byte IFD entries with LONG8
    * counts, 8-byte inline values, LONG8 offset/count arrays), so >4 GB
    * rasters have an in-repo fixture exercising the 64-bit read path.
    */
  def writeBig(
      path: String,
      width: Int,
      height: Int,
      values: Array[Float],
      sx: Double,
      sy: Double,
      ox: Double,
      oy: Double,
      rowsPerStrip: Int = 0): Unit = {
    require(values.length == width * height, "values must be width*height row-major")
    val rps = if (rowsPerStrip <= 0) height else rowsPerStrip
    val nStrips = (height + rps - 1) / rps
    val strips: Array[Array[Byte]] = Array.tabulate(nStrips) { s =>
      val r0 = s * rps
      val rows = math.min(rps, height - r0)
      val b = ByteBuffer.allocate(rows * width * 4).order(ByteOrder.LITTLE_ENDIAN)
      var i = r0 * width
      while (i < (r0 + rows) * width) { b.putFloat(values(i)); i += 1 }
      b.array()
    }
    val n = 11
    val ifdOff = 16
    var cursor = ifdOff + 8 + n * 20 + 8
    val scaleOff = cursor; cursor += 24
    val tieOff = cursor; cursor += 48
    val offsArrOff = { val o = cursor; if (nStrips > 1) cursor += nStrips * 8; o }
    val cntsArrOff = { val o = cursor; if (nStrips > 1) cursor += nStrips * 8; o }
    val payloadOff = cursor
    val stripOffs = strips.scanLeft(payloadOff)(_ + _.length).init
    val total = strips.iterator.map(_.length).sum
    val out = ByteBuffer.allocate(payloadOff + total).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(43.toShort)
      .putShort(8.toShort).putShort(0.toShort).putLong(ifdOff.toLong)
    var e = 0
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      val off = ifdOff + 8 + e * 20
      out.putShort(off, tag.toShort)
      out.putShort(off + 2, typ.toShort)
      out.putLong(off + 4, count)
      out.putLong(off + 12, value)
      e += 1
    }
    out.putLong(ifdOff, n.toLong)
    entry(256, 3, 1, width)
    entry(257, 3, 1, height)
    entry(258, 3, 1, 32)
    entry(259, 3, 1, 1)
    entry(273, 16, nStrips, if (nStrips == 1) payloadOff else offsArrOff)
    entry(277, 3, 1, 1)
    entry(278, 3, 1, rps)
    entry(279, 16, nStrips, if (nStrips == 1) strips.head.length.toLong else cntsArrOff)
    entry(339, 3, 1, 3)
    entry(33550, 12, 3, scaleOff)
    entry(33922, 12, 6, tieOff)
    out.putLong(ifdOff + 8 + n * 20, 0L) // next IFD
    out.putDouble(scaleOff, sx).putDouble(scaleOff + 8, sy).putDouble(scaleOff + 16, 0.0)
    out.putDouble(tieOff, 0.0).putDouble(tieOff + 8, 0.0).putDouble(tieOff + 16, 0.0)
    out.putDouble(tieOff + 24, ox).putDouble(tieOff + 32, oy).putDouble(tieOff + 40, 0.0)
    if (nStrips > 1) {
      strips.indices.foreach { s =>
        out.putLong(offsArrOff + s * 8, stripOffs(s).toLong)
        out.putLong(cntsArrOff + s * 8, strips(s).length.toLong)
      }
    }
    out.position(payloadOff)
    strips.foreach(out.put)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.array())
  }
}
