package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import Wav.{ImaStep, imaStep}

/** IMA ADPCM fixtures for WavSpec: the engine decodes format 0x11 but
  * never writes it, so the spec encodes its inputs with this.
  */
object WavFixtures {

  /** Encode 16-bit mono PCM as IMA/DVI ADPCM (format 0x11): 4 bits per
    * sample in `blockAlign`-sized blocks (default 256 → 505 samples per
    * block), the standard quantize-against-the-decoder-state loop so
    * encoder and decoder predictors stay in lockstep. The final block
    * pads by repeating the predictor (decodes to near-silence), so the
    * decoded stream is the input plus ≤ one block of tail padding.
    */
  def encodeImaAdpcm(samples: Array[Short], sampleRate: Int, blockAlign: Int = 256): Array[Byte] = {
    require(samples.nonEmpty, "no samples")
    require(blockAlign >= 8 && blockAlign % 4 == 0, s"bad block align $blockAlign")
    val spb = (blockAlign - 4) * 2 + 1
    val nBlocks = (samples.length + spb - 1) / spb
    val dataLen = nBlocks * blockAlign
    val out = ByteBuffer.allocate(12 + (8 + 20) + (8 + 4) + 8 + dataLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ASCII")).putInt(out.capacity() - 8).put("WAVE".getBytes("ASCII"))
    out.put("fmt ".getBytes("ASCII")).putInt(20)
    out.putShort(17) // IMA/DVI ADPCM
    out.putShort(1) // mono
    out.putInt(sampleRate)
    out.putInt((sampleRate.toLong * blockAlign / spb).toInt) // byte rate
    out.putShort(blockAlign.toShort)
    out.putShort(4) // bits per (compressed) sample
    out.putShort(2) // cbSize
    out.putShort(spb.toShort) // samples per block
    out.put("fact".getBytes("ASCII")).putInt(4).putInt(samples.length)
    out.put("data".getBytes("ASCII")).putInt(dataLen)
    var idx = 0
    var si = 0
    (0 until nBlocks).foreach { _ =>
      var pred: Int = samples(math.min(si, samples.length - 1))
      out.putShort(pred.toShort).put(idx.toByte).put(0.toByte)
      si += 1
      var low = -1
      var emitted = 0
      while (emitted < (blockAlign - 4) * 2) {
        val s: Int = if (si < samples.length) samples(si) else pred
        if (si < samples.length) si += 1
        val step = ImaStep(idx)
        var diff = s - pred
        var n = 0
        if (diff < 0) { n = 8; diff = -diff }
        if (diff >= step) { n |= 4; diff -= step }
        if (diff >= (step >> 1)) { n |= 2; diff -= step >> 1 }
        if (diff >= (step >> 2)) n |= 1
        val (p1, i1) = imaStep(pred, idx, n)
        pred = p1
        idx = i1
        if (low < 0) low = n
        else { out.put((low | (n << 4)).toByte); low = -1 }
        emitted += 1
      }
    }
    out.array()
  }
}
