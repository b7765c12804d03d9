package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** FLAC codec: lossless round-trips, frame/CRC conformance, loud rejects. */
class FlacSpec extends AnyFunSuite {

  test("smooth waveform round-trips bit-exactly (fixed predictors + rice)") {
    val src = Array.tabulate(10000)(i =>
      (9000 * math.sin(i * 0.03) + 3000 * math.sin(i * 0.011)).toShort)
    val enc = Flac.encodeMono16(src, 16000)
    val (rate, out) = Flac.decodeMono16(enc)
    assert(rate == 16000)
    assert(out.length == src.length)
    assert(out.toSeq == src.toSeq)
    // losslessness buys compression on smooth content
    assert(enc.length < src.length * 2, s"FLAC grew: ${enc.length} vs ${src.length * 2}")
  }

  test("hostile content round-trips: noise, constants, extremes, tiny blocks") {
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(3000)((rnd.nextInt(65536) - 32768).toShort)
    assert(Flac.decodeMono16(Flac.encodeMono16(noise, 8000))._2.toSeq == noise.toSeq)
    val const = Array.fill(500)(1234.toShort)
    assert(Flac.decodeMono16(Flac.encodeMono16(const, 8000))._2.toSeq == const.toSeq)
    val extremes = Array.tabulate(777)(i => if (i % 2 == 0) Short.MinValue else Short.MaxValue)
    assert(Flac.decodeMono16(Flac.encodeMono16(extremes, 8000))._2.toSeq == extremes.toSeq)
    // multi-frame with a ragged tail block
    val long = Array.tabulate(4096 * 2 + 123)(i => ((i * 37) % 20000 - 10000).toShort)
    assert(Flac.decodeMono16(Flac.encodeMono16(long, 44100))._2.toSeq == long.toSeq)
    // small custom block size exercises frame numbering > 127 (UTF-8 2-byte)
    val many = Array.tabulate(16 * 200)(i => (i % 256 - 128).toShort)
    assert(Flac.decodeMono16(Flac.encodeMono16(many, 8000, blockSize = 16))._2.toSeq == many.toSeq)
  }

  test("corruption is caught: flipped payload bit fails the frame CRC-16") {
    val src = Array.tabulate(2000)(i => (1000 * math.sin(i * 0.1)).toShort)
    val enc = Flac.encodeMono16(src, 8000)
    val bad = enc.clone()
    bad(bad.length - 10) = (bad(bad.length - 10) ^ 0x40).toByte
    val ex = intercept[IllegalArgumentException](Flac.decodeMono16(bad))
    assert(ex.getMessage.contains("CRC") || ex.getMessage.contains("corrupt")
      || ex.getMessage.contains("sync") || ex.getMessage.contains("16 bits"))
    // non-FLAC bytes rejected loudly
    intercept[IllegalArgumentException](Flac.decodeMono16(Array.fill[Byte](100)(7)))
  }

  test("adversarial bytes after a fLaC magic always throw, never hang") {
    (0 until 50).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val junk = "fLaC".getBytes ++ Array.fill(200 + rnd.nextInt(400))(rnd.nextInt(256).toByte)
      intercept[Exception](Flac.decodeMono16(junk))
      // and through the dispatching multimodal tier: None, not a crash
      assert(graft.multimodal.Multimodal.decodeAudio(junk).isEmpty)
    }
  }

  test("stereo LPC round-trips bit-exactly through all three decorrelation modes") {
    // ≥4 frames at blockSize=1024 so mid/side, left/side AND right/side
    // all occur (assignment rotates per frame); correlated channels make
    // the side channel small and the LPC predictor meaningful
    val n = 1024 * 3 + 333
    val left = Array.tabulate(n)(i =>
      (11000 * math.sin(i * 0.021) + 2500 * math.sin(i * 0.0063)).toShort)
    val right = Array.tabulate(n)(i =>
      (10000 * math.sin(i * 0.021 + 0.2) + 1800 * math.sin(i * 0.009)).toShort)
    val enc = Flac.encodeStereo16(left, right, 44100, blockSize = 1024)
    val (rate, l, r) = Flac.decodeStereo16(enc)
    assert(rate == 44100)
    assert(l.toSeq == left.toSeq, "left channel must round-trip bit-exactly")
    assert(r.toSeq == right.toSeq, "right channel must round-trip bit-exactly")
    // the general decoder agrees
    val a = Flac.decode(enc)
    assert(a.channels == 2 && a.bps == 16 && a.data(0).length == n)
  }

  test("LPC actually predicts: smooth content compresses well below raw PCM") {
    val n = 8192
    val l = Array.tabulate(n)(i => (12000 * math.sin(i * 0.017)).toShort)
    val r = Array.tabulate(n)(i => (12000 * math.sin(i * 0.017 + 0.1)).toShort)
    val enc = Flac.encodeStereo16(l, r, 16000)
    // raw PCM is 4n bytes; a working LPC predictor + mid/side gets far under half
    assert(enc.length < 2 * n, s"LPC compression too weak: ${enc.length} vs raw ${4 * n}")
    assert(Flac.decodeStereo16(enc)._2.toSeq == l.toSeq)
  }

  test("hostile stereo content round-trips: noise, silence, extremes, anticorrelated") {
    val rnd = new scala.util.Random(7)
    val nl = Array.fill(3000)((rnd.nextInt(65536) - 32768).toShort)
    val nr = Array.fill(3000)((rnd.nextInt(65536) - 32768).toShort)
    val (_, dl, dr) = Flac.decodeStereo16(Flac.encodeStereo16(nl, nr, 8000))
    assert(dl.toSeq == nl.toSeq && dr.toSeq == nr.toSeq)
    // silence: CONSTANT subframes on both channels
    val z = Array.fill(2000)(0.toShort)
    assert(Flac.decodeStereo16(Flac.encodeStereo16(z, z, 8000))._2.forall(_ == 0))
    // anticorrelated extremes maximize the 17-bit side channel
    val ex = Array.tabulate(2048)(i => if (i % 2 == 0) Short.MinValue else Short.MaxValue)
    val exn = ex.map(v => (-v - 1).toShort) // avoid -Short.MinValue overflow
    val (_, el, er) = Flac.decodeStereo16(Flac.encodeStereo16(ex, exn, 8000))
    assert(el.toSeq == ex.toSeq && er.toSeq == exn.toSeq)
    // ragged tail + tiny blocks through the stereo path
    val tl = Array.tabulate(1024 + 77)(i => ((i * 131) % 9000 - 4500).toShort)
    val tr = tl.map(v => (v / 2).toShort)
    val (_, ql, qr) = Flac.decodeStereo16(Flac.encodeStereo16(tl, tr, 8000, blockSize = 256))
    assert(ql.toSeq == tl.toSeq && qr.toSeq == tr.toSeq)
  }

  test("stereo corruption fails the frame CRC-16; mono decoder rejects stereo streams") {
    val l = Array.tabulate(3000)(i => (5000 * math.sin(i * 0.05)).toShort)
    val enc = Flac.encodeStereo16(l, l.map(v => (v / 3).toShort), 8000)
    val bad = enc.clone()
    bad(bad.length - 20) = (bad(bad.length - 20) ^ 0x10).toByte
    val ex = intercept[IllegalArgumentException](Flac.decodeStereo16(bad))
    assert(ex.getMessage.contains("CRC") || ex.getMessage.contains("corrupt")
      || ex.getMessage.contains("sync") || ex.getMessage.contains("bits"))
    intercept[IllegalArgumentException](Flac.decodeMono16(enc)) // channel mismatch is loud
  }

  test("STREAMINFO carries the real MD5 of the unencoded samples") {
    val src = Array.tabulate(100)(i => (i * 31).toShort)
    val enc = Flac.encodeMono16(src, 8000)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    src.foreach { s => md5.update((s & 0xff).toByte); md5.update(((s >> 8) & 0xff).toByte) }
    // STREAMINFO payload starts at byte 8; MD5 is its last 16 bytes (34-byte block)
    val stored = java.util.Arrays.copyOfRange(enc, 8 + 18, 8 + 34)
    assert(stored.toSeq == md5.digest().toSeq)
  }
}
