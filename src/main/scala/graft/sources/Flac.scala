package graft.sources

import scala.collection.mutable.ArrayBuffer

/** FLAC codec (public format spec) — full subframe coverage: CONSTANT /
  * VERBATIM / FIXED / **LPC** prediction with Rice-coded residuals,
  * wasted-bits, 4–32-bit sample depths, and 1–8 channels including the
  * three stereo decorrelation modes (left/side, right/side, mid/side).
  * Real-world FLAC (LibriSpeech-style corpora) is LPC+stereo almost
  * exclusively — this is the decode path an actual audio corpus hits.
  * Lossless: encode → decode is bit-exact (LPC prediction is integer
  * arithmetic with a floor shift on both sides), which is what makes
  * the oracle gate possible.
  *
  * Layout implemented from the public spec: fLaC magic + STREAMINFO
  * (with real MD5 of the unencoded samples), frames with CRC-8-guarded
  * headers and CRC-16-guarded bodies, UTF-8-style frame numbers,
  * Rice partitions (4/5-bit parameters + escape), fixed predictors of
  * order 0..4, quantized-LP coefficients via Levinson–Durbin. Mono and
  * stereo encode through one stream writer (magic, STREAMINFO, frame
  * headers and CRCs) and one Rice residual coder; each encoder adds
  * only its channel assignment and subframes.
  */
object Flac {

  /** Decoded stream: per-channel sample arrays (not interleaved). */
  final case class Audio(sampleRate: Int, channels: Int, bps: Int, data: Array[Array[Int]])

  // ------------------------------------------------------------- bit I/O
  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    def put(v: Long, n: Int): Unit = {
      // batch into the current byte instead of a loop iteration per bit
      var rem = n
      while (rem > 0) {
        val space = 8 - nbits
        val take = if (space < rem) space else rem
        val chunk = ((v >>> (rem - take)) & ((1L << take) - 1)).toInt
        cur = (cur << take) | chunk
        nbits += take
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        rem -= take
      }
    }
    def align(): Unit = if (nbits > 0) put(0, 8 - nbits)
    def toArray: Array[Byte] = { align(); out.toByteArray }
  }

  private final class BitReader(bytes: Array[Byte], startByte: Int) {
    var bytePos: Int = startByte
    private var bitPos = 0
    def bit(): Int = {
      require(bytePos < bytes.length, "FLAC bitstream truncated")
      val b = (bytes(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      b
    }
    def bits(n: Int): Long = {
      // consume up to a byte per step, not a function call per bit —
      // the decoder's hot path (every residual goes through here)
      var v = 0L
      var rem = n
      while (rem > 0) {
        require(bytePos < bytes.length, "FLAC bitstream truncated")
        val avail = 8 - bitPos
        val take = if (avail < rem) avail else rem
        val chunk = ((bytes(bytePos) & 0xff) >> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        bitPos += take
        if (bitPos == 8) { bitPos = 0; bytePos += 1 }
        rem -= take
      }
      v
    }
    def signedBits(n: Int): Int =
      if (n == 0) 0 // 0-bit raw residuals are legal (all-zero partition)
      else {
        val v = bits(n)
        (v << (64 - n) >> (64 - n)).toInt // sign extend
      }
    def unary(): Int = {
      // scan whole bytes for the terminating 1 bit instead of per-bit calls
      var q = 0
      while (true) {
        require(bytePos < bytes.length, "FLAC bitstream truncated")
        val cur = ((bytes(bytePos) & 0xff) << bitPos) & 0xff // remaining bits, left-aligned
        if (cur == 0) {
          q += 8 - bitPos
          bitPos = 0
          bytePos += 1
          require(q < (1 << 24), "runaway unary code (corrupt FLAC)")
        } else {
          val lead = Integer.numberOfLeadingZeros(cur) - 24
          q += lead
          bitPos += lead + 1
          if (bitPos == 8) { bitPos = 0; bytePos += 1 }
          return q
        }
      }
      q
    }
    def align(): Unit = if (bitPos != 0) { bitPos = 0; bytePos += 1 }
  }

  // ---------------------------------------------------------------- CRCs
  private def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var k = 0
      while (k < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; k += 1 }
      i += 1
    }
    crc
  }

  private def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // fixed predictor residuals: e_k(n) = k-th order difference
  private def fixedResidual(x: Array[Int], order: Int): Array[Int] = {
    val n = x.length
    val e = new Array[Int](n - order)
    var i = order
    while (i < n) {
      e(i - order) = order match {
        case 0 => x(i)
        case 1 => x(i) - x(i - 1)
        case 2 => x(i) - 2 * x(i - 1) + x(i - 2)
        case 3 => x(i) - 3 * x(i - 1) + 3 * x(i - 2) - x(i - 3)
        case 4 => x(i) - 4 * x(i - 1) + 6 * x(i - 2) - 4 * x(i - 3) + x(i - 4)
      }
      i += 1
    }
    e
  }

  private def zigzag(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
  private def unzigzag(v: Long): Int = ((v >>> 1) ^ -(v & 1)).toInt

  /** UTF-8-style coded number (frame numbering, public spec Annex). */
  private def putUtf8Num(bw: BitWriter, n: Long): Unit = {
    require(n < 0x10000, s"frame number $n exceeds this encoder's 3-byte range")
    if (n < 0x80) bw.put(n, 8)
    else if (n < 0x800) { bw.put(0xc0 | (n >> 6), 8); bw.put(0x80 | (n & 0x3f), 8) }
    else {
      bw.put(0xe0 | (n >> 12), 8)
      bw.put(0x80 | ((n >> 6) & 0x3f), 8)
      bw.put(0x80 | (n & 0x3f), 8)
    }
  }

  private def readUtf8Num(br: BitReader): Long = {
    val b0 = br.bits(8).toInt
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      var extra = 0
      var mask = 0x40
      while ((b0 & mask) != 0) { extra += 1; mask >>= 1 }
      require(extra >= 1 && extra <= 6, s"bad UTF-8 number lead byte $b0")
      var v = (b0 & (mask - 1)).toLong
      var i = 0
      while (i < extra) {
        val c = br.bits(8).toInt
        require((c & 0xc0) == 0x80, "bad UTF-8 number continuation")
        v = (v << 6) | (c & 0x3f)
        i += 1
      }
      v
    }
  }

  // -------------------------------------------------------------- encode
  /** The one FLAC stream writer behind [[encodeMono16]] and
    * [[encodeStereo16]]: fLaC magic, STREAMINFO (the last metadata
    * block) with the MD5 of the interleaved little-endian samples, then
    * one fixed-blocksize frame per `blockSize` samples — header with
    * CRC-8, subframes, byte alignment, CRC-16. `frame(frameNo, block)`
    * gets the frame's samples per channel and returns its channel
    * assignment and the writer of its subframes.
    */
  private def encodeStream(channels: Seq[Array[Short]], sampleRate: Int, blockSize: Int)(
      frame: (Long, Seq[Array[Int]]) => (Int, BitWriter => Unit)): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"bad sample rate $sampleRate")
    require(blockSize >= 16 && blockSize <= 65535, s"bad block size $blockSize")
    val total = channels.head.length
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("ASCII"))
    // STREAMINFO (last metadata block), 34 bytes
    val si = new BitWriter
    si.put(blockSize, 16); si.put(blockSize, 16) // min/max block size
    si.put(0, 24); si.put(0, 24) // min/max frame size unknown
    si.put(sampleRate, 20)
    si.put(channels.length - 1, 3)
    si.put(15, 5) // bits per sample - 1
    si.put(total.toLong, 36)
    val pcm = new Array[Byte](total * channels.length * 2) // interleaved, little-endian
    var i = 0
    while (i < total) {
      var c = 0
      while (c < channels.length) {
        val k = (i * channels.length + c) * 2
        pcm(k) = (channels(c)(i) & 0xff).toByte
        pcm(k + 1) = ((channels(c)(i) >> 8) & 0xff).toByte
        c += 1
      }
      i += 1
    }
    val siBytes = si.toArray ++ java.security.MessageDigest.getInstance("MD5").digest(pcm)
    out.write(0x80) // last-metadata-block flag | type 0
    out.write((siBytes.length >> 16) & 0xff)
    out.write((siBytes.length >> 8) & 0xff)
    out.write(siBytes.length & 0xff)
    out.write(siBytes, 0, siBytes.length)

    var frameNo = 0L
    var off = 0
    while (off < total) {
      val n = math.min(blockSize, total - off)
      val block = channels.map(ch => Array.tabulate(n)(j => ch(off + j).toInt))
      val (asgn, subframes) = frame(frameNo, block)
      val head = new BitWriter
      // frame header: sync + fixed-blocksize strategy
      head.put(0x3ffe, 14); head.put(0, 1); head.put(0, 1)
      head.put(7, 4) // blocksize: 16-bit value - 1 follows header
      head.put(0, 4) // sample rate: from STREAMINFO
      head.put(asgn.toLong, 4)
      head.put(4, 3) // sample size: 16 bits
      head.put(0, 1)
      putUtf8Num(head, frameNo)
      head.put(n - 1, 16)
      val headBytes = head.toArray // aligned: header fields are byte-multiples here
      val bw = new BitWriter
      headBytes.foreach(b => bw.put(b & 0xffL, 8))
      bw.put(crc8(headBytes, 0, headBytes.length), 8)
      subframes(bw)
      val body = bw.toArray
      val crc = crc16(body, 0, body.length)
      out.write(body, 0, body.length)
      out.write((crc >> 8) & 0xff)
      out.write(crc & 0xff)
      frameNo += 1
      off += n
    }
    out.toByteArray
  }

  /** Encode 16-bit mono PCM. Per 4096-sample block: best FIXED order
    * 0..2 by residual magnitude, single Rice partition, parameter from
    * the mean residual magnitude. Bit-exact lossless.
    */
  def encodeMono16(samples: Array[Short], sampleRate: Int, blockSize: Int = 4096): Array[Byte] = {
    require(samples.nonEmpty, "no samples")
    encodeStream(Seq(samples), sampleRate, blockSize) { (_, block) =>
      (0, writeFixedSubframe(_, block(0))) // channel assignment 0: mono
    }
  }

  /** One FIXED subframe at 16 bits: the best order 0..2 by residual
    * magnitude (3/4 rarely win on our data), residual via
    * [[writeResidual]].
    */
  private def writeFixedSubframe(bw: BitWriter, x: Array[Int]): Unit = {
    val byOrder = (0 to math.min(2, x.length - 1)).map(o => o -> fixedResidual(x, o))
    val (order, resid) = byOrder.minBy { case (_, e) => e.foldLeft(0L)((a, v) => a + math.abs(v.toLong)) }
    bw.put(0, 1)
    bw.put(8 + order, 6) // FIXED order
    bw.put(0, 1) // no wasted bits
    var i = 0
    while (i < order) { bw.put(x(i).toLong & 0xffff, 16); i += 1 } // warmup
    writeResidual(bw, resid)
  }

  // ------------------------------------------------------ stereo + LPC encode
  /** Levinson–Durbin over the block's autocorrelation → real-valued LP
    * coefficients predicting x(i) ≈ Σ a(j)·x(i-1-j). Returns null when
    * the block is silent (autocorrelation 0 — caller emits CONSTANT).
    * Losslessness does NOT depend on these being optimal: the decoder
    * replays whatever quantized coefficients the stream carries, so
    * coefficient quality only affects compression ratio.
    */
  private def levinsonDurbin(x: Array[Int], order: Int): Array[Double] = {
    val n = x.length
    val ac = new Array[Double](order + 1)
    var lag = 0
    while (lag <= order) {
      var s = 0.0
      var i = lag
      while (i < n) { s += x(i).toDouble * x(i - lag); i += 1 }
      ac(lag) = s
      lag += 1
    }
    if (ac(0) == 0.0) return null
    val a = new Array[Double](order)
    var err = ac(0)
    var i = 0
    while (i < order) {
      var k = ac(i + 1)
      var j = 0
      while (j < i) { k -= a(j) * ac(i - j); j += 1 }
      k /= err
      // reflection update: a' = a - k * reverse(a), then append k
      j = 0
      val half = i / 2
      while (j < half) {
        val t = a(j)
        a(j) -= k * a(i - 1 - j)
        a(i - 1 - j) -= k * t
        j += 1
      }
      if ((i & 1) == 1) a(half) -= k * a(half)
      a(i) = k
      err *= 1.0 - k * k
      if (err <= 0) err = 1e-9 // numerically flat block; coefficients still valid
      i += 1
    }
    a
  }

  private def bitsFor(v: Int): Int = // two's-complement width incl. sign bit
    if (v >= 0) 33 - Integer.numberOfLeadingZeros(v) else 33 - Integer.numberOfLeadingZeros(~v)

  /** Rice-coded residual block, partition order 0, with the raw-bits
    * escape when the Rice quotients would blow up (sawtooth wrap points).
    */
  private def writeResidual(bw: BitWriter, resid: Array[Int]): Unit = {
    bw.put(0, 2) // method 0: 4-bit Rice
    bw.put(0, 4) // partition order 0
    val mean =
      if (resid.isEmpty) 0L
      else resid.foldLeft(0L)((a, v) => a + math.abs(v.toLong)) / math.max(1, resid.length)
    var p = 0
    while (p < 14 && (1L << p) < mean + 1) p += 1
    if (resid.nonEmpty && (resid.map(r => zigzag(r) >>> p).max > (1 << 16))) p = 15
    if (p >= 15) {
      val raw = math.max(1, resid.map(bitsFor).max)
      require(raw <= 31, s"residual needs $raw bits (exceeds escape range)")
      bw.put(15, 4) // rice escape: raw residuals
      bw.put(raw, 5)
      resid.foreach(r => bw.put(r.toLong & ((1L << raw) - 1), raw))
    } else {
      bw.put(p, 4)
      resid.foreach { r =>
        val z = zigzag(r)
        var k = (z >>> p).toInt
        while (k >= 63) { bw.put(0, 63); k -= 63 }
        bw.put(1, k + 1) // q zeros + terminating 1
        if (p > 0) bw.put(z & ((1L << p) - 1), p)
      }
    }
  }

  /** One LPC subframe at effective depth `sbps`: order-min(4,n-1)
    * quantized-LP prediction (precision 14, shift 12), CONSTANT for
    * silent blocks, VERBATIM when the block is too short to predict.
    */
  private def writeLpcSubframe(bw: BitWriter, x: Array[Int], sbps: Int): Unit = {
    val n = x.length
    val order = math.min(4, n - 1)
    val mask = if (sbps == 64) -1L else (1L << sbps) - 1
    if (x.forall(_ == x(0))) { // CONSTANT
      bw.put(0, 1); bw.put(0, 6); bw.put(0, 1)
      bw.put(x(0).toLong & mask, sbps)
      return
    }
    val a = if (order >= 1) levinsonDurbin(x, order) else null
    if (a == null) { // unpredictable tiny block → VERBATIM
      bw.put(0, 1); bw.put(1, 6); bw.put(0, 1)
      x.foreach(v => bw.put(v.toLong & mask, sbps))
      return
    }
    val precision = 14
    val shift = 12
    val cmax = (1 << (precision - 1)) - 1
    val coefs = a.map(c => math.max(-cmax - 1, math.min(cmax, math.round(c * (1 << shift)).toInt)))
    bw.put(0, 1)
    bw.put(32L | (order - 1), 6) // LPC subframe, order
    bw.put(0, 1) // no wasted bits
    var i = 0
    while (i < order) { bw.put(x(i).toLong & mask, sbps); i += 1 } // warmup
    bw.put(precision - 1, 4)
    bw.put(shift.toLong, 5)
    coefs.foreach(c => bw.put(c.toLong & ((1L << precision) - 1), precision))
    val resid = new Array[Int](n - order)
    i = order
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < order) { acc += coefs(j).toLong * x(i - 1 - j); j += 1 }
      resid(i - order) = x(i) - (acc >> shift).toInt
      i += 1
    }
    writeResidual(bw, resid)
  }

  /** Encode 16-bit stereo PCM with LPC subframes and rotating stereo
    * decorrelation: frame k uses mid/side, left/side, right/side for
    * k ≡ 0,1,2 (mod 3) — every decorrelation mode and the side channel's
    * 17-bit depth get exercised in one stream. Bit-exact lossless.
    */
  def encodeStereo16(left: Array[Short], right: Array[Short], sampleRate: Int,
      blockSize: Int = 4096): Array[Byte] = {
    require(left.nonEmpty && left.length == right.length, "stereo channels must be equal, non-empty")
    encodeStream(Seq(left, right), sampleRate, blockSize) { (frameNo, block) =>
      val l = block(0)
      val r = block(1)
      val n = l.length
      val side = Array.tabulate(n)(i => l(i) - r(i))
      val (asgn, ch0, ch1, bps0, bps1) = (frameNo % 3).toInt match {
        case 0 => (10, Array.tabulate(n)(i => (l(i) + r(i)) >> 1), side, 16, 17) // mid/side
        case 1 => (8, l, side, 16, 17) // left/side
        case 2 => (9, side, r, 17, 16) // right/side: side stored first
      }
      (asgn, bw => { writeLpcSubframe(bw, ch0, bps0); writeLpcSubframe(bw, ch1, bps1) })
    }
  }

  // -------------------------------------------------------------- decode
  /** One subframe: CONSTANT / VERBATIM / FIXED 0–4 / LPC 1–32, with
    * wasted-bits. `sbps` is the effective sample size (frame bps, +1 for
    * a side channel in a decorrelated stereo frame).
    */
  private def decodeSubframe(br: BitReader, blockLen: Int, sbps: Int): Array[Int] = {
    require(br.bits(1) == 0, "bad subframe padding bit")
    val typ = br.bits(6).toInt
    val wasted = if (br.bits(1) == 1) br.unary() + 1 else 0
    require(wasted < sbps, s"wasted bits $wasted >= sample size $sbps (corrupt FLAC)")
    val ebps = sbps - wasted
    val x = new Array[Int](blockLen)
    if (typ == 0) { // CONSTANT
      java.util.Arrays.fill(x, br.signedBits(ebps))
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < blockLen) { x(i) = br.signedBits(ebps); i += 1 }
    } else if (typ >= 8 && typ <= 12) { // FIXED, order = typ - 8
      val order = typ - 8
      var i = 0
      while (i < order) { x(i) = br.signedBits(ebps); i += 1 }
      decodeResidual(br, blockLen, order, x)
      i = order
      while (i < blockLen) {
        order match {
          case 0 =>
          case 1 => x(i) += x(i - 1)
          case 2 => x(i) += 2 * x(i - 1) - x(i - 2)
          case 3 => x(i) += 3 * x(i - 1) - 3 * x(i - 2) + x(i - 3)
          case 4 => x(i) += 4 * x(i - 1) - 6 * x(i - 2) + 4 * x(i - 3) - x(i - 4)
        }
        i += 1
      }
    } else if (typ >= 32) { // LPC, order = (typ & 31) + 1
      val order = (typ & 31) + 1
      require(order <= blockLen, s"LPC order $order exceeds block length $blockLen")
      var i = 0
      while (i < order) { x(i) = br.signedBits(ebps); i += 1 }
      val precision = br.bits(4).toInt + 1
      require(precision != 16, "invalid LPC coefficient precision code 15")
      val shift = br.signedBits(5)
      require(shift >= 0, s"negative LPC shift $shift (forbidden by spec)")
      val coefs = new Array[Int](order)
      i = 0
      while (i < order) { coefs(i) = br.signedBits(precision); i += 1 }
      decodeResidual(br, blockLen, order, x)
      // x(i) = residual + floor(sum coefs(j)*x(i-1-j) / 2^shift); the
      // 64-bit accumulator + arithmetic shift mirror the encoder exactly
      i = order
      while (i < blockLen) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j).toLong * x(i - 1 - j); j += 1 }
        x(i) += (acc >> shift).toInt
        i += 1
      }
    } else throw new IllegalArgumentException(s"reserved FLAC subframe type $typ")
    if (wasted > 0) {
      var i = 0
      while (i < blockLen) { x(i) <<= wasted; i += 1 }
    }
    x
  }

  /** Rice-partitioned residual into x(order..blockLen). */
  private def decodeResidual(br: BitReader, blockLen: Int, order: Int, x: Array[Int]): Unit = {
    val method = br.bits(2).toInt
    require(method == 0 || method == 1, s"reserved residual method $method")
    val pbits = if (method == 0) 4 else 5
    val escape = if (method == 0) 15 else 31
    val partOrder = br.bits(4).toInt
    val nPart = 1 << partOrder
    require(blockLen % nPart == 0, "partition does not divide block")
    require((blockLen >> partOrder) >= order,
      s"first partition smaller than predictor order $order (corrupt FLAC)")
    var part = 0
    var idx = order
    while (part < nPart) {
      val cnt = (blockLen >> partOrder) - (if (part == 0) order else 0)
      val p = br.bits(pbits).toInt
      if (p == escape) {
        val raw = br.bits(5).toInt
        var k = 0
        while (k < cnt) { x(idx) = br.signedBits(raw); idx += 1; k += 1 }
      } else {
        var k = 0
        while (k < cnt) {
          val q = br.unary()
          val rem = if (p > 0) br.bits(p) else 0L
          x(idx) = unzigzag((q.toLong << p) | rem)
          idx += 1
          k += 1
        }
      }
      part += 1
    }
    require(idx == blockLen, s"residual decode filled $idx of $blockLen samples")
  }

  /** Decode any supported FLAC stream → per-channel samples. Handles all
    * subframe types, 1–8 channels, and the three stereo decorrelation
    * modes.
    */
  def decode(bytes: Array[Byte]): Audio = {
    require(bytes.length > 42 && new String(bytes, 0, 4, "ASCII") == "fLaC",
      "not a FLAC stream (missing fLaC)")
    var pos = 4
    var rate = 0
    var channels = 0
    var bps = 0
    var total = 0L
    var sawStreamInfo = false
    var last = false
    while (!last) {
      require(pos + 4 <= bytes.length, "truncated FLAC metadata")
      val h = bytes(pos) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      require(len >= 0 && pos + 4 + len <= bytes.length, s"corrupt FLAC metadata block length $len")
      if (typ == 0) {
        val br = new BitReader(bytes, pos + 4)
        br.bits(16); br.bits(16); br.bits(24); br.bits(24)
        rate = br.bits(20).toInt
        channels = br.bits(3).toInt + 1
        bps = br.bits(5).toInt + 1
        require(bps >= 4 && bps <= 32, s"bad FLAC sample depth $bps")
        total = br.bits(36)
        sawStreamInfo = true
      }
      pos += 4 + len
    }
    require(sawStreamInfo, "missing STREAMINFO")
    val cap = math.min(if (total > 0) total else 1L << 16, 1L << 26).toInt max 16
    val out = Array.fill(channels)(new ArrayBuffer[Int](cap))
    val lo = -(1L << (bps - 1))
    val hi = (1L << (bps - 1)) - 1
    while (pos < bytes.length) {
      val br = new BitReader(bytes, pos)
      require(br.bits(14) == 0x3ffe, s"lost frame sync at byte $pos")
      br.bits(1); br.bits(1)
      val bsCode = br.bits(4).toInt
      val srCode = br.bits(4).toInt
      val chanAsgn = br.bits(4).toInt
      val ssCode = br.bits(3).toInt
      br.bits(1)
      val nCh = if (chanAsgn < 8) chanAsgn + 1 else 2
      require(chanAsgn <= 10, s"reserved channel assignment $chanAsgn")
      require(nCh == channels, s"frame has $nCh channels, STREAMINFO says $channels")
      val frameBps = ssCode match {
        case 0 => bps // from STREAMINFO
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case c => throw new IllegalArgumentException(s"reserved sample-size code $c")
      }
      require(frameBps == bps, s"frame bps $frameBps != STREAMINFO bps $bps")
      readUtf8Num(br)
      val blockLen = bsCode match {
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => br.bits(8).toInt + 1
        case 7 => br.bits(16).toInt + 1
        case c if c >= 8 => 256 << (c - 8)
        case c => throw new IllegalArgumentException(s"reserved blocksize code $c")
      }
      srCode match {
        case 0 => // from STREAMINFO
        case 12 => br.bits(8)
        case 13 | 14 => br.bits(16)
        case c if c >= 1 && c <= 11 => // table-coded, no extra bits
        case c => throw new IllegalArgumentException(s"invalid sample-rate code $c")
      }
      br.bits(8) // header CRC-8 (structure-validated via sync + requires)
      // subframes: the side channel of a decorrelated pair carries one
      // extra bit (its dynamic range is a 17-bit difference)
      val sub = new Array[Array[Int]](nCh)
      var c = 0
      while (c < nCh) {
        val sideBit = chanAsgn match {
          case 8 => if (c == 1) 1 else 0 // left/side
          case 9 => if (c == 0) 1 else 0 // right/side
          case 10 => if (c == 1) 1 else 0 // mid/side
          case _ => 0
        }
        sub(c) = decodeSubframe(br, blockLen, frameBps + sideBit)
        c += 1
      }
      // undo stereo decorrelation in place → sub(0)=left, sub(1)=right
      chanAsgn match {
        case 8 => // left/side: r = l - s
          var i = 0
          while (i < blockLen) { sub(1)(i) = sub(0)(i) - sub(1)(i); i += 1 }
        case 9 => // side/right: l = r + s (side is stored FIRST)
          var i = 0
          while (i < blockLen) {
            val s = sub(0)(i)
            sub(0)(i) = sub(1)(i) + s
            i += 1
          }
        case 10 => // mid/side: m' = (m<<1)|(s&1); l = (m'+s)/2, r = (m'-s)/2
          var i = 0
          while (i < blockLen) {
            val s = sub(1)(i)
            val m = (sub(0)(i) << 1) | (s & 1)
            sub(0)(i) = (m + s) >> 1
            sub(1)(i) = (m - s) >> 1
            i += 1
          }
        case _ =>
      }
      br.align()
      val bodyEnd = br.bytePos
      val crc = crc16(bytes, pos, bodyEnd)
      val stored = ((bytes(bodyEnd) & 0xff) << 8) | (bytes(bodyEnd + 1) & 0xff)
      require(crc == stored, f"FLAC frame CRC mismatch at byte $pos (got $stored%04x, computed $crc%04x)")
      c = 0
      while (c < nCh) {
        val xs = sub(c)
        var i = 0
        while (i < blockLen) {
          val v = xs(i)
          require(v >= lo && v <= hi, s"decoded sample $v exceeds $bps bits (corrupt stream)")
          out(c) += v
          i += 1
        }
        c += 1
      }
      pos = bodyEnd + 2
    }
    val trimmed = out.map { buf =>
      if (total > 0 && buf.length > total) buf.take(total.toInt).toArray else buf.toArray
    }
    Audio(rate, channels, bps, trimmed)
  }

  /** Decode a mono 16-bit FLAC stream → (sampleRate, samples). */
  def decodeMono16(bytes: Array[Byte]): (Int, Array[Short]) = {
    val a = decode(bytes)
    require(a.channels == 1, s"only mono FLAC supported, got ${a.channels} channels")
    require(a.bps == 16, s"only 16-bit FLAC supported, got ${a.bps}")
    (a.sampleRate, a.data(0).map(_.toShort))
  }

  /** Decode a stereo 16-bit FLAC stream → (sampleRate, left, right). */
  def decodeStereo16(bytes: Array[Byte]): (Int, Array[Short], Array[Short]) = {
    val a = decode(bytes)
    require(a.channels == 2, s"expected stereo FLAC, got ${a.channels} channels")
    require(a.bps == 16, s"only 16-bit FLAC supported, got ${a.bps}")
    (a.sampleRate, a.data(0).map(_.toShort), a.data(1).map(_.toShort))
  }
}
