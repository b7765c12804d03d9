package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** WAV/PCM codec (public RIFF/WAVE layout) — the audio modality needs no
  * external library at all: PCM samples sit raw behind a chunked header.
  * Decoder accepts PCM (format 1) 16-bit and 8-bit, G.711 A-law (format
  * 6) and µ-law (format 7) companded telephony audio (ITU-T G.711
  * expansion), and mono IMA/DVI ADPCM (format 0x11, the public IMA
  * 4-bit predictive codec), any channel count for PCM/G.711; encoders
  * emit 16-bit mono PCM or raw G.711 (WavSpec writes its IMA ADPCM
  * inputs with a test-side encoder). Remaining
  * compressed WAVs (float, MP3-in-WAV, MS-ADPCM) throw loudly.
  */
object Wav {

  // IMA/DVI ADPCM tables (public IMA specification)
  private[sources] val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val ImaIndex: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  private def clampIdx(i: Int): Int = if (i < 0) 0 else if (i > 88) 88 else i
  private def clamp16(v: Int): Int = if (v < -32768) -32768 else if (v > 32767) 32767 else v

  /** Advance one IMA ADPCM step: (pred, index, nibble) → (pred', index'). */
  private[sources] def imaStep(pred: Int, index: Int, n: Int): (Int, Int) = {
    val step = ImaStep(index)
    var diff = step >> 3
    if ((n & 1) != 0) diff += step >> 2
    if ((n & 2) != 0) diff += step >> 1
    if ((n & 4) != 0) diff += step
    val p = clamp16(if ((n & 8) != 0) pred - diff else pred + diff)
    (p, clampIdx(index + ImaIndex(n)))
  }

  /** ITU-T G.711 µ-law expansion: 8-bit companded code → 16-bit linear. */
  def ulawToLinear(code: Int): Short = {
    val u = (~code) & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** ITU-T G.711 A-law expansion: 8-bit companded code → 16-bit linear. */
  def alawToLinear(code: Int): Short = {
    val a = (code ^ 0x55) & 0xff
    var t = (a & 0x0f) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else { t += 0x108; t <<= seg - 1 }
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** (sampleRate, channels, interleaved samples as Short — 8-bit input is
    * centered and scaled to the 16-bit range like any PCM reader).
    */
  def decode(bytes: Array[Byte]): (Int, Int, Array[Short]) = {
    require(bytes.length >= 44, "not a WAV stream (too short)")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E',
      "not a WAV stream (missing RIFF/WAVE)")
    var pos = 12
    var fmt = -1
    var channels = 0
    var rate = 0
    var bits = 0
    var blockAlign = 0
    var samples: Array[Short] = null
    while (pos + 8 <= bytes.length && (fmt < 0 || samples == null)) {
      val id = new String(bytes, pos, 4, "ASCII")
      val len = b.getInt(pos + 4)
      // a crafted negative u32 length would leave pos stationary and spin forever
      require(len >= 0 && len <= bytes.length - pos - 8,
        s"corrupt WAV: chunk '$id' declares length $len at offset $pos")
      val dataOff = pos + 8
      id match {
        case "fmt " =>
          fmt = b.getShort(dataOff) & 0xffff
          require(fmt == 1 || fmt == 6 || fmt == 7 || fmt == 17,
            s"only PCM (1) / A-law (6) / µ-law (7) / IMA ADPCM (17) WAV supported, got format $fmt")
          channels = b.getShort(dataOff + 2) & 0xffff
          rate = b.getInt(dataOff + 4)
          blockAlign = b.getShort(dataOff + 12) & 0xffff
          bits = b.getShort(dataOff + 14) & 0xffff
          if (fmt == 1)
            require(bits == 8 || bits == 16, s"only 8/16-bit PCM supported, got $bits")
          else if (fmt == 17)
            require(bits == 4, s"IMA ADPCM is 4-bit by definition, got $bits")
          else
            require(bits == 8, s"G.711 is 8-bit by definition, got $bits")
        case "data" =>
          require(fmt > 0, "data chunk before fmt chunk")
          if (fmt == 17) {
            // mono IMA ADPCM: blockAlign-sized blocks of 4-byte header
            // (predictor s16, step index, reserved) + nibble pairs (low first)
            require(channels == 1, s"IMA ADPCM decode is mono-only, got $channels channels")
            require(blockAlign >= 8, s"bad IMA ADPCM block align $blockAlign")
            val buf = scala.collection.mutable.ArrayBuffer.empty[Short]
            var bo = dataOff
            while (bo + 4 <= dataOff + len) {
              val blockEnd = math.min(bo + blockAlign, dataOff + len)
              var pred: Int = b.getShort(bo)
              var idx = bytes(bo + 2) & 0xff
              require(idx <= 88, s"corrupt IMA ADPCM block: step index $idx at offset $bo")
              buf += pred.toShort
              var p = bo + 4
              while (p < blockEnd) {
                val nb = bytes(p) & 0xff
                val (p1, i1) = imaStep(pred, idx, nb & 0x0f)
                pred = p1; idx = i1; buf += pred.toShort
                val (p2, i2) = imaStep(pred, idx, nb >> 4)
                pred = p2; idx = i2; buf += pred.toShort
                p += 1
              }
              bo += blockAlign
            }
            samples = buf.toArray
          } else {
          val n = len / (bits / 8)
          samples = new Array[Short](n)
          var i = 0
          if (fmt == 7) {
            while (i < n) { samples(i) = ulawToLinear(bytes(dataOff + i) & 0xff); i += 1 }
          } else if (fmt == 6) {
            while (i < n) { samples(i) = alawToLinear(bytes(dataOff + i) & 0xff); i += 1 }
          } else if (bits == 16) {
            while (i < n) { samples(i) = b.getShort(dataOff + i * 2); i += 1 }
          } else {
            // 8-bit PCM is unsigned, centered at 128; scale to 16-bit
            while (i < n) { samples(i) = (((bytes(dataOff + i) & 0xff) - 128) << 8).toShort; i += 1 }
          }
          }
        case _ => // LIST/INFO/fact/etc — skip
      }
      pos = dataOff + len + (len & 1) // chunks are word-aligned
    }
    require(samples != null, "no data chunk")
    (rate, channels, samples)
  }

  /** Encode 16-bit mono PCM. */
  def encodeMono16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("ASCII"))
    out.put("fmt ".getBytes("ASCII")).putInt(16)
    out.putShort(1) // PCM
    out.putShort(1) // mono
    out.putInt(sampleRate)
    out.putInt(sampleRate * 2) // byte rate
    out.putShort(2) // block align
    out.putShort(16) // bits
    out.put("data".getBytes("ASCII")).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }

  /** Wrap raw G.711 companded codes (one byte per sample, mono) in a WAV
    * container with format 6 (A-law) or 7 (µ-law).
    */
  def encodeG711(codes: Array[Byte], sampleRate: Int, aLaw: Boolean): Array[Byte] = {
    val out = ByteBuffer.allocate(44 + codes.length + (codes.length & 1))
      .order(ByteOrder.LITTLE_ENDIAN)
    // RIFF size counts the data chunk's odd-length pad byte (RIFF chunks
    // are word-aligned; the pad belongs to the enclosing chunk's extent)
    out.put("RIFF".getBytes("ASCII"))
      .putInt(36 + codes.length + (codes.length & 1))
      .put("WAVE".getBytes("ASCII"))
    out.put("fmt ".getBytes("ASCII")).putInt(16)
    out.putShort(if (aLaw) 6 else 7)
    out.putShort(1) // mono
    out.putInt(sampleRate)
    out.putInt(sampleRate) // byte rate (1 byte/sample)
    out.putShort(1) // block align
    out.putShort(8) // bits
    out.put("data".getBytes("ASCII")).putInt(codes.length)
    out.put(codes)
    out.array()
  }
}
