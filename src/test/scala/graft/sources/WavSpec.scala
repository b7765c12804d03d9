package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class WavSpec extends AnyFunSuite {

  test("PCM16 mono round-trips exactly") {
    val samples = Array.tabulate(777)(i => (((i * 2731 + 5) % 65536) - 32768).toShort)
    val (rate, ch, out) = Wav.decode(Wav.encodeMono16(samples, 22050))
    assert(rate == 22050 && ch == 1)
    assert(out.toSeq == samples.toSeq)
  }

  test("8-bit PCM scales to the 16-bit range; odd chunks stay word-aligned") {
    // hand-build an 8-bit WAV with a LIST chunk of odd length before data
    val pcm8 = Array[Int](0, 64, 128, 192, 255).map(_.toByte)
    val list = Array[Byte]('x')
    val dataLen = pcm8.length
    val b = java.nio.ByteBuffer
      .allocate(12 + 8 + 16 + 8 + list.length + 1 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    b.put("LIST".getBytes).putInt(list.length).put(list).put(0.toByte) // pad to word boundary
    b.put("data".getBytes).putInt(dataLen).put(pcm8)
    val (rate, _, out) = Wav.decode(b.array())
    assert(rate == 8000)
    assert(out.toSeq == Seq(-32768, -16384, 0, 16384, 32512).map(_.toShort))
  }

  test("G.711 expansion hits the ITU-T landmark values; WAV format 6/7 decode") {
    // µ-law landmarks (public G.711 tables)
    assert(Wav.ulawToLinear(0x00) == -32124) // most negative
    assert(Wav.ulawToLinear(0x80) == 32124) // most positive
    assert(Wav.ulawToLinear(0xff) == 0) // positive zero
    assert(Wav.ulawToLinear(0x7f) == 0) // negative zero
    // A-law landmarks: no zero code — ±8 smallest, ±32256 largest
    assert(Wav.alawToLinear(0x55) == -8)
    assert(Wav.alawToLinear(0xd5) == 8)
    assert(Wav.alawToLinear(0x2a) == -32256)
    assert(Wav.alawToLinear(0xaa) == 32256)
    // expansion is odd-symmetric: flipping the sign bit negates (µ-law)
    (0 until 128).foreach { c =>
      assert(Wav.ulawToLinear(c) == -Wav.ulawToLinear(c | 0x80), s"ulaw $c")
      assert(Wav.alawToLinear(c | 0x80) == -Wav.alawToLinear(c), s"alaw $c")
    }
    // container round-trip through format 6 and 7
    val codes = Array.tabulate(300)(i => (i % 256).toByte)
    val (rU, chU, sU) = Wav.decode(Wav.encodeG711(codes, 8000, aLaw = false))
    assert(rU == 8000 && chU == 1 && sU.length == 300)
    assert(sU.toSeq == codes.map(c => Wav.ulawToLinear(c & 0xff)).toSeq)
    val (_, _, sA) = Wav.decode(Wav.encodeG711(codes, 8000, aLaw = true))
    assert(sA.toSeq == codes.map(c => Wav.alawToLinear(c & 0xff)).toSeq)
  }

  test("IMA ADPCM: hand-computed nibble walk, round-trip SNR, lockstep predictors") {
    // hand-built one-block stream: pred=0 idx=0, nibbles 4,8,0,0,0,0,0,0
    // step table walk: 4 → +7 (idx 2), 8 → −1 (idx 1), 0 → +1 (idx 0), 0 → +0 …
    val b = java.nio.ByteBuffer.allocate(12 + 28 + 8 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(b.capacity - 8).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(20)
    b.putShort(17).putShort(1).putInt(8000).putInt(8000).putShort(8).putShort(4)
    b.putShort(2).putShort(9)
    b.put("data".getBytes).putInt(8)
    b.putShort(0).put(0.toByte).put(0.toByte) // predictor 0, index 0
    b.put(0x84.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val (rate, ch, s) = Wav.decode(b.array())
    assert(rate == 8000 && ch == 1)
    assert(s.toSeq == Seq[Short](0, 7, 6, 7, 7, 7, 7, 7, 7))

    // encode→decode: a smooth waveform reconstructs with small error
    val src = Array.tabulate(2000)(i =>
      (8000 * math.sin(i * 0.05) + 2000 * math.sin(i * 0.013)).toShort)
    val (_, _, back) = Wav.decode(WavFixtures.encodeImaAdpcm(src, 16000))
    assert(back.length >= src.length && back.length <= src.length + 505)
    val err = src.indices.map(i => math.abs(back(i) - src(i)))
    assert(err.max <= 2000, s"max err ${err.max}") // 4-bit ADPCM tracks a smooth curve
    assert(err.sum.toDouble / err.size <= 200, s"mean err ${err.sum.toDouble / err.size}")
    // every block header carries the exact predictor sample
    assert(back(0) == src(0))
    // corrupt step index must throw, not walk off the table
    val enc = WavFixtures.encodeImaAdpcm(src, 16000)
    val bad = enc.clone()
    bad(60 + 2) = 120.toByte // first block header's index byte (data at 60)
    intercept[Exception](Wav.decode(bad))
    // multimodal tier dispatches ADPCM transparently
    assert(graft.multimodal.Multimodal.decodeAudio(enc).map(_._3.length).exists(_ >= 2000))
  }

  test("crafted negative chunk length throws instead of spinning forever") {
    val enc = Wav.encodeMono16(Array[Short](1, 2, 3), 8000)
    val bad = enc.clone()
    // patch the fmt chunk length (offset 16, LE u32) to -8: an unguarded
    // walk would compute pos = dataOff - 8 + 0 = pos and loop forever
    val b = java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(16, -8)
    val ex = intercept[IllegalArgumentException](Wav.decode(bad))
    assert(ex.getMessage.contains("corrupt WAV"))
  }

  test("non-PCM formats fail loudly; multimodal tier is null-safe") {
    val enc = Wav.encodeMono16(Array[Short](1, 2, 3), 8000)
    val bad = enc.clone()
    bad(20) = 3 // format code -> IEEE float
    val ex = intercept[IllegalArgumentException](Wav.decode(bad))
    assert(ex.getMessage.contains("PCM"))
    assert(graft.multimodal.Multimodal.decodeAudio(null).isEmpty)
    assert(graft.multimodal.Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    assert(graft.multimodal.Multimodal.decodeAudio(enc).map(_._3.toSeq).contains(Seq[Short](1, 2, 3)))
  }

  test("resampleAudio: floor-mean pairs (negative-safe), trailing " +
      "partial block drops, checksum pins every sample") {
    val spark = graft.GraftSession.local(2, "wav-resample-spec")
    import spark.implicits._
    // 5 samples, factor 2: pairs (0,2)->1, (-3,-3)->-3; the 5th drops.
    // floor((-3 + -3)/2) = -3; floor((0+2)/2) = 1; floor((1,-2)) = -1
    val samples = Array[Short](0, 2, -3, -3, 7)
    val media = Seq(
      graft.multimodal.Multimodal.Media(1L, graft.multimodal.Multimodal.MediaMeta("audio", 0, 0, 16000),
        Wav.encodeMono16(samples, 16000)),
      // odd negative pair: floor(-1/2) must be -1, not 0 (truncation)
      graft.multimodal.Multimodal.Media(2L, graft.multimodal.Multimodal.MediaMeta("audio", 0, 0, 16000),
        Wav.encodeMono16(Array[Short](1, -2), 16000))
    ).toDS()
    val got = graft.multimodal.Multimodal.resampleAudio(media, 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // media 1: out = [1, -3]; checksum 1*1 + (-3)*2 = -5; rms sqrt(10/2)
    assert(got(1L) == ((8000, 2L, -5L, math.sqrt(5.0))))
    // media 2: out = [-1]; checksum -1; rms 1
    assert(got(2L) == ((8000, 1L, -1L, 1.0)))
  }

  test("audioNearDupClusters: a one-segment retouch clusters with its " +
      "original, a different envelope stays apart, and a uniformly " +
      "louder copy hashes identically (volume invariance)") {
    val spark = graft.GraftSession.local(2, "wav-dedup-spec")
    import spark.implicits._
    import graft.multimodal.Multimodal
    def clip(id: Long, loud: Int => Boolean, boost: Int = 0) = Multimodal.Media(
      id, Multimodal.MediaMeta("audio", 0, 0, 16000),
      Wav.encodeMono16(Array.tabulate(256) { i =>
        val amp = if (loud(i / 32)) 8192 else 64
        val v = (i * 37 % (2 * amp)) - amp
        (if (i < 32) math.min(v + boost, 32767) else v).toShort
      }, 16000))
    val a = (w: Int) => w % 2 == 0 // alternating envelope
    val b = (w: Int) => w < 4      // front-loaded envelope
    val media = Seq(clip(1L, a), clip(2L, a, boost = 4000), clip(3L, b)).toDS()
    val got = Multimodal
      .nearDupClusters(Multimodal.audioEnergyHash(media, windows = 8), bands = 4, maxHamming = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L, s"retouch did not cluster: $got")
    assert(got(3L) == 3L, s"different envelope merged: $got")
    // volume invariance: scaling every sample 4x (no clipping) is the
    // same fingerprint — the threshold is the clip's own mean
    val hashes = Multimodal.audioEnergyHash(Seq(
      Multimodal.Media(7L, Multimodal.MediaMeta("audio", 0, 0, 16000),
        Wav.encodeMono16(Array.tabulate(256)(i => ((i % 64) - 32).toShort), 16000)),
      Multimodal.Media(8L, Multimodal.MediaMeta("audio", 0, 0, 16000),
        Wav.encodeMono16(Array.tabulate(256)(i => (4 * ((i % 64) - 32)).toShort), 16000))
    ).toDS(), windows = 8).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashes(7L) == hashes(8L))
  }

  test("audioSampledEnergyHash: fixed windows-bit length at ANY length >= " +
      "windows (the strict form emits nothing off-length); divisible " +
      "lengths reproduce the strict hash; an end-trim clusters with its " +
      "original; volume invariance survives unequal windows") {
    val spark = graft.GraftSession.local(2, "wav-trim-spec")
    import spark.implicits._
    import graft.multimodal.Multimodal
    def clipN(id: Long, n: Int, pat: Long) = Multimodal.Media(
      id, Multimodal.MediaMeta("audio", 0, 0, 16000),
      Wav.encodeMono16(Array.tabulate(n) { i =>
        val amp = if (((pat >> (i / 64)) & 1L) == 1L) 32768 else 256
        ((i * 2731) % (2 * amp) - amp).toShort
      }, 16000))
    // divisible length: sampled windows == strict windows, same bits
    val even = Seq(clipN(1L, 1024, 0xA5C3L)).toDS()
    val strict = Multimodal.audioEnergyHash(even, windows = 16)
      .collect().head.getString(1)
    val sampled = Multimodal.audioSampledEnergyHash(even, windows = 16)
      .collect().head.getString(1)
    assert(sampled == strict, s"divisible case diverged: $sampled vs $strict")
    // off-length: strict emits NOTHING, sampled still hashes 16 bits
    val trimmed = Seq(clipN(2L, 1000, 0xA5C3L)).toDS()
    assert(Multimodal.audioEnergyHash(trimmed, windows = 16).count() == 0L)
    val th = Multimodal.audioSampledEnergyHash(trimmed, windows = 16)
      .collect().head.getString(1)
    assert(th.length == 16)
    val ham = strict.zip(th).count { case (x, y) => x != y }
    info(s"24-sample end-trim hamming: $ham (base $strict, trim $th)")
    assert(ham <= 3, s"end-trim drifted $ham bits — fixture unhealthy")
    // end-to-end: trim clusters with base, a different pattern apart
    val media = Seq(clipN(1L, 1024, 0xA5C3L), clipN(2L, 1000, 0xA5C3L),
      clipN(3L, 1024, 0x3C5AL)).toDS()
    val got = Multimodal
      .nearDupClusters(Multimodal.audioSampledEnergyHash(media, windows = 16),
        bands = 4, maxHamming = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L, s"trim did not cluster: $got")
    assert(got(3L) == 3L, s"different pattern merged: $got")
    // volume invariance with UNEQUAL windows (n = 1000): 4x louder,
    // non-clipping → identical bits (cross-multiplied mean compare)
    def quiet(id: Long, scale: Int) = Multimodal.Media(
      id, Multimodal.MediaMeta("audio", 0, 0, 16000),
      Wav.encodeMono16(Array.tabulate(1000)(i =>
        (scale * ((i % 64) - 32)).toShort), 16000))
    val vh = Multimodal.audioSampledEnergyHash(
      Seq(quiet(7L, 1), quiet(8L, 4)).toDS(), windows = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vh(7L) == vh(8L))
  }

  test("the energy compare stays exact past 2^63, where a Long " +
      "cross-multiply wraps, and agrees with it at fixture sizes") {
    import graft.multimodal.Multimodal
    // a 2^26-sample clip at 16 windows: window 0 at full scale
    // (e = 32768 * 2^22 = 2^37), the other 15 at half scale
    val n = 1L << 26
    val cnt = n / 16
    val loud = 32768L * cnt
    val total = loud + 15 * (loud / 2)
    assert(loud * n < 0L, "the Long product must wrap for this case to bite")
    assert(!(loud * n > total * cnt), "the Long form misses the loud window")
    assert(Multimodal.exceeds(loud, n, total, cnt))
    assert(!Multimodal.exceeds(loud / 2, n, total, cnt))
    // high words differ: 3·(2^63 − 1) against 2·(2^63 − 1)
    assert(Multimodal.exceeds(Long.MaxValue, 3L, Long.MaxValue, 2L))
    assert(!Multimodal.exceeds(Long.MaxValue, 2L, Long.MaxValue, 3L))
    // high words tie and the low words decide unsigned:
    // 2^64 + 2^63 + 4 against 2^64 + 8
    val big = 3L * (1L << 61) + 1
    val small = (1L << 62) + 2
    assert(Multimodal.exceeds(big, 4L, small, 4L))
    assert(!Multimodal.exceeds(small, 4L, big, 4L))
    assert(!Multimodal.exceeds(big, 4L, 4L, big)) // equal products: strict
    // fixture sizes (n ≤ 2^12, window energies ≤ 2^28): the same bits as Long
    val rnd = new scala.util.Random(5)
    (0 until 10000).foreach { _ =>
      val m = 16L + rnd.nextInt(4096)
      val c = 1L + rnd.nextInt(m.toInt)
      val e = rnd.nextLong() & ((1L << 28) - 1)
      val t = e + (rnd.nextLong() & ((1L << 31) - 1))
      assert(Multimodal.exceeds(e, m, t, c) == (e * m > t * c), s"$e $m $t $c")
    }
    assert(!Multimodal.exceeds(4L, 4L, 8L, 2L))
  }
}
