package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** AVI/MJPEG container: encode → frame-walk → per-frame JPEG decode. */
class AviSpec extends AnyFunSuite {

  private def blockFrame(w: Int, h: Int, seed: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val bc = (i % w) / 8; val br = (i / w) / 8
      (bc * 5 + br * 7 + seed) % 251
    }

  test("MJPEG frames round-trip exactly through the AVI container") {
    val w = 32; val h = 24
    val pxs = (0 until 3).map(f => blockFrame(w, h, f * 13))
    val avi = Avi.encodeMjpeg(pxs.map(Jpeg.encodeGray(_, w, h)), w, h)
    val raw = Avi.mjpegFrames(avi)
    assert(raw.size == 3)
    raw.zip(pxs).foreach { case (jpeg, expect) =>
      val (dw, dh, out) = Jpeg.decodeGray(jpeg)
      assert(dw == w && dh == h)
      assert(out.map(_ & 0xff).toSeq == expect.toSeq)
    }
  }

  test("odd-length frame payloads stay word-aligned in the movi walk") {
    val w = 8; val h = 8
    val jpegs = (0 until 2).map(f => Jpeg.encodeGray(blockFrame(w, h, f), w, h))
    // force odd length by appending a trailing comment-free pad via resize:
    // encode lengths vary; assert the walk recovers both payloads verbatim
    val oddJpegs = jpegs.map { j =>
      if (j.length % 2 == 1) j else j ++ Array(0xff.toByte, 0xd9.toByte, 0x00.toByte)
    }
    val avi = Avi.encodeMjpeg(oddJpegs, w, h)
    val raw = Avi.mjpegFrames(avi)
    assert(raw.size == 2)
    raw.zip(oddJpegs).foreach { case (got, sent) => assert(got.toSeq == sent.toSeq) }
  }

  test("crafted negative chunk length throws instead of spinning forever") {
    val w = 8; val h = 8
    val avi = Avi.encodeMjpeg(Seq(Jpeg.encodeGray(blockFrame(w, h, 0), w, h)), w, h)
    val bad = avi.clone()
    // hdrl LIST length at offset 16 (after RIFF(4) size(4) 'AVI '(4) 'LIST'(4))
    val b = java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(16, -8)
    val ex = intercept[IllegalArgumentException](Avi.mjpegFrames(bad))
    assert(ex.getMessage.contains("corrupt AVI"))
    // deeply nested LISTs must throw, not StackOverflowError (fatal —
    // the multimodal Try wrapper cannot catch it)
    val deep = new java.io.ByteArrayOutputStream()
    val nest = 2000
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    deep.write("RIFF".getBytes); deep.write(le32(4 + nest * 12)); deep.write("AVI ".getBytes)
    (0 until nest).foreach { i =>
      deep.write("LIST".getBytes); deep.write(le32((nest - i) * 12 - 8)); deep.write("hdrl".getBytes)
    }
    val ex2 = intercept[IllegalArgumentException](Avi.mjpegFrames(deep.toByteArray))
    assert(ex2.getMessage.contains("nesting"))
    // non-AVI bytes are rejected loudly; multimodal tier is null-safe
    intercept[IllegalArgumentException](Avi.mjpegFrames("not a container".getBytes))
    assert(graft.multimodal.Multimodal.decodeVideo(null).isEmpty)
    assert(graft.multimodal.Multimodal.decodeVideo("junk".getBytes).isEmpty)
  }

  test("decodeVideo: real pixels per frame; a corrupt frame drops, not kills") {
    import graft.multimodal.Multimodal
    val w = 32; val h = 32
    val pxs = (0 until 4).map(f => blockFrame(w, h, f * 13))
    val avi = Avi.encodeMjpeg(pxs.map(Jpeg.encodeGray(_, w, h)), w, h)
    val Some((dw, dh, frames)) = Multimodal.decodeVideo(avi)
    assert(dw == w && dh == h && frames.size == 4)
    frames.zip(pxs).foreach { case (got, expect) =>
      assert(got.map(_ & 0xff).toSeq == expect.toSeq)
    }
    // corrupt ONE frame (truncate its JPEG) — others must survive
    val mixed = Avi.encodeMjpeg(
      pxs.take(2).map(Jpeg.encodeGray(_, w, h)) :+ Array[Byte](0xff.toByte, 0xd8.toByte, 0x00),
      w, h)
    val Some((_, _, kept)) = Multimodal.decodeVideo(mixed)
    assert(kept.size == 2)
  }

  test("videoNearDupClusters: a one-block frame-0 retouch clusters with " +
      "its original, a different block pattern stays apart, and the clip " +
      "fingerprint concatenates per-frame hashes in order") {
    val spark = graft.GraftSession.local(2, "avi-dedup-spec")
    import spark.implicits._
    import graft.multimodal.Multimodal
    val w = 32; val h = 32
    def pattern(mult: Int, f: Int, bump: Boolean): Array[Int] =
      Array.tabulate(w * h) { i =>
        val bc = (i % w) / 8; val br = (i / w) / 8
        val v = ((bc + 4 * br + 16 * f) * mult) % 251
        // +200: the retouched block must clear the frame mean (~120
        // here) or no bit flips and the "retouch changed frame 0" half
        // of the test is vacuous
        if (bump && f == 0 && bc == 0 && br == 0) math.min(v + 200, 250) else v
      }
    def clip(id: Long, mult: Int, bump: Boolean = false) = Multimodal.Media(
      id, Multimodal.MediaMeta("video", w, h, 0),
      Avi.encodeMjpeg((0 until 3).map(f => Jpeg.encodeGray(pattern(mult, f, bump), w, h)), w, h))
    val media = Seq(clip(1L, 7919), clip(2L, 7919, bump = true), clip(3L, 8111)).toDS()
    // fingerprint length: 3 frames x 64 cells
    val hashes = Multimodal.videoFrameHash(media, factor = 4).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashes(1L).length == 192)
    // retouch touches ONLY frame 0's bits
    assert(hashes(1L).substring(64) == hashes(2L).substring(64))
    assert(hashes(1L).take(64) != hashes(2L).take(64))
    val got = Multimodal
      .nearDupClusters(Multimodal.videoFrameHash(media, factor = 4), bands = 6, maxHamming = 16)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L, s"retouch did not cluster: $got")
    assert(got(3L) == 3L, s"different pattern merged: $got")
  }

  test("videoNearDupClustersSampled: an end-trimmed clip clusters with its " +
      "original at a FIXED fingerprint length (the concatenated form " +
      "cannot — length mismatch counts as distance), a different pattern " +
      "stays apart, and short clips sample frames repeatedly") {
    val spark = graft.GraftSession.local(2, "avi-trim-spec")
    import spark.implicits._
    import graft.multimodal.Multimodal
    val w = 32; val h = 32
    def pattern(mult: Int, f: Int): Array[Int] =
      Array.tabulate(w * h) { i =>
        val bc = (i % w) / 8; val br = (i / w) / 8
        ((bc + 4 * br + 16 * f) * mult) % 251
      }
    def clip(id: Long, mult: Int, nf: Int) = Multimodal.Media(
      id, Multimodal.MediaMeta("video", w, h, 0),
      Avi.encodeMjpeg((0 until nf).map(f => Jpeg.encodeGray(pattern(mult, f), w, h)), w, h))
    // 1 = 5-frame base, 2 = its 4-frame end-trim, 3 = different pattern
    val media = Seq(clip(1L, 7919, 5), clip(2L, 7919, 4), clip(3L, 8111, 5)).toDS()
    val hashes = Multimodal.videoSampledFrameHash(media, factor = 4, nFrames = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // fixed length 4 x 64 regardless of frame count; floor(j*5/4) =
    // floor(j*4/4) = j for j = 0..3, so base and trim hash IDENTICALLY
    assert(hashes.values.forall(_.length == 256))
    assert(hashes(1L) == hashes(2L), "trim and base must hash the same frames")
    // the concatenated form CANNOT merge them (192 vs 256 bits... 320 vs 256)
    val concat = Multimodal.videoFrameHash(media, factor = 4).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(concat(1L).length == 320 && concat(2L).length == 256)
    // nFrames = F samples every frame in order: the concatenated hash
    val everyFrame = Multimodal.videoSampledFrameHash(Seq(clip(1L, 7919, 5)).toDS(),
      factor = 4, nFrames = 5).collect().head.getString(1)
    assert(everyFrame == concat(1L))
    val got = Multimodal
      .nearDupClusters(Multimodal.videoSampledFrameHash(media, factor = 4, nFrames = 4),
        bands = 8, maxHamming = 16)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L, s"trim did not cluster: $got")
    assert(got(3L) == 3L, s"different pattern merged: $got")
    // a 2-frame clip still fingerprints at 256 bits (frames repeat)
    val short = Seq(clip(9L, 7919, 2)).toDS()
    val sh = Multimodal.videoSampledFrameHash(short, factor = 4, nFrames = 4)
      .collect().head.getString(1)
    assert(sh.length == 256)
    // floor(j*2/4) = 0,0,1,1: first two sampled hashes equal, last two equal
    assert(sh.substring(0, 64) == sh.substring(64, 128))
    assert(sh.substring(128, 192) == sh.substring(192, 256))
  }
}
