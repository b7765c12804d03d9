package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media ride as opaque `binary` columns with typed metadata;
  * decode / feature-extract / resize / frame-sample run per-partition in
  * batches.
  *
  * Decode is REAL for every container the JVM can express in-repo:
  * JPEG/PNG/GIF/BMP pixels, WAV/PCM + G.711 + IMA-ADPCM + FLAC
  * (LPC/stereo) audio, AVI/MJPEG video frames. Perceptual codecs
  * (MP3/AAC, H.26x) are a PERMANENT non-goal — see ENGINE.md
  * "Perceptual-codec boundary". `byteStats` provides an honestly-named
  * payload fingerprint tier; undecodable payloads yield EMPTY features
  * from the decoded tier instead of fingerprints posing as embeddings.
  *
  * Scale notes: binary payloads make rows heavy — the media path sets
  * `maxPartitionBytes`-friendly row groups by repartitioning on byte
  * budget, and feature extraction is a mapPartitions (one codec init per
  * partition, the expensive part for real decoders), never a per-row UDF.
  */
object Multimodal {

  case class MediaMeta(kind: String, width: Int, height: Int, sampleRate: Int)
  case class Media(media_id: Long, meta: MediaMeta, bytes: Array[Byte])
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      mean_byte: Double,
      byte_entropy: Double,
      feature: Array[Float])

  /** Byte-level content fingerprint: histogram stats + a 16-dim vector of
    * chunked byte means. This is NOT a decode and its vector is NOT a
    * perceptual embedding — it is an honest payload fingerprint (dedup /
    * corruption triage tier). Real decode exists for JPEG/PNG/GIF/BMP
    * pixels ([[decodeImage]]), WAV/PCM + G.711 + IMA-ADPCM and FLAC
    * (incl. LPC + stereo) audio ([[decodeAudio]]), and AVI/MJPEG video
    * ([[decodeVideo]]). Perceptual codecs (MP3/AAC, H.26x) are a
    * PERMANENT non-goal (see ENGINE.md "Perceptual-codec boundary"):
    * correct implementations need the ISO reference tables and a
    * verification corpus, neither of which can ship here — and
    * [[extractFeaturesDecoded]] now returns an EMPTY feature for
    * undecodable payloads rather than letting this fingerprint
    * masquerade as a decoded-content embedding.
    */
  def byteStats(bytes: Array[Byte]): (Double, Double, Array[Float]) = {
    if (bytes.isEmpty) return (0.0, 0.0, Array.fill(16)(0f))
    val hist = new Array[Long](256)
    var sum = 0L
    bytes.foreach { b => val u = b & 0xff; hist(u) += 1; sum += u }
    val n = bytes.length.toDouble
    val mean = sum / n
    val entropy = hist.iterator.filter(_ > 0).map { c =>
      val p = c / n; -p * math.log(p) / math.log(2)
    }.sum
    val dim = 16
    val feature = Array.tabulate(dim) { i =>
      val start = i * bytes.length / dim
      val end = math.max(start + 1, (i + 1) * bytes.length / dim)
      var s = 0L
      var k = start
      while (k < end) { s += bytes(k) & 0xff; k += 1 }
      (s.toDouble / (end - start) / 255.0).toFloat
    }
    (mean, entropy, feature)
  }

  /** Null payloads (e.g. a NULL source column cast to binary) are treated
    * as empty media rather than NPE-ing the job — mirrors the null-safety
    * contract of the text kernels.
    */
  private def safeBytes(b: Array[Byte]): Array[Byte] =
    if (b == null) Array.emptyByteArray else b

  /** Container-header metadata WITHOUT codecs: PNG (IHDR), GIF (logical
    * screen descriptor), BMP (BITMAPINFOHEADER), JPEG (SOFn marker scan),
    * TIFF (first-IFD tags 256/257, both byte orders) and WebP
    * (VP8 /VP8L/VP8X chunks) carry dimensions as plain header fields, so
    * real image ingest gets true (format, width, height) even though
    * PIXEL decode stays stubbed in this runtime (JPEG grayscale pixel
    * decode exists separately in [[graft.sources.Jpeg]]). None = not a
    * recognized image container.
    */
  def imageDims(bytes0: Array[Byte]): Option[(String, Int, Int)] = {
    val b = safeBytes(bytes0)
    def u8(i: Int) = b(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (b.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G')
      Some(("png", be32(16), be32(20)))
    else if (b.length >= 10 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F')
      Some(("gif", le16(6), le16(8)))
    else if (b.length >= 26 && u8(0) == 'B' && u8(1) == 'M')
      Some(("bmp", le32(18), math.abs(le32(22)))) // negative height = top-down rows
    else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // walk JPEG markers to the first SOFn (C0–CF minus C4/C8/CC)
      var i = 2
      while (i + 9 < b.length) {
        if (u8(i) != 0xff) return None // desynced — not a valid stream
        val m = u8(i + 1)
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return Some(("jpeg", be16(i + 7), be16(i + 5)))
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone marker
        else i += 2 + be16(i + 2) // segment with length
      }
      None
    } else if (b.length >= 16 && u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F' &&
      u8(8) == 'W' && u8(9) == 'E' && u8(10) == 'B' && u8(11) == 'P') {
      // WebP: three chunk flavors carry dims differently (public container spec)
      val fourcc = new String(b, 12, 4, "ASCII")
      fourcc match {
        case "VP8 " if b.length >= 30 => // lossy: 14-bit w/h at key-frame offset 26
          Some(("webp", le16(26) & 0x3fff, le16(28) & 0x3fff))
        case "VP8L" if b.length >= 25 => // lossless: 14-bit-1 packed after the 0x2F signature
          val bits = le32(21)
          Some(("webp", (bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1))
        case "VP8X" if b.length >= 30 => // extended: 24-bit-1 canvas dims
          val w = (u8(24) | (u8(25) << 8) | (u8(26) << 16)) + 1
          val h = (u8(27) | (u8(28) << 8) | (u8(29) << 16)) + 1
          Some(("webp", w, h))
        case _ => None
      }
    } else if (b.length >= 8 &&
      ((u8(0) == 'I' && u8(1) == 'I' && le16(2) == 42) ||
        (u8(0) == 'M' && u8(1) == 'M' && be16(2) == 42))) {
      // TIFF: walk the first IFD for ImageWidth (256) / ImageLength (257);
      // same tag layout GeoTiff.parseHeaderRanged reads, but header-only
      // (no strip offsets needed) and both byte orders
      val le = u8(0) == 'I'
      def v16(i: Int) = if (le) le16(i) else be16(i)
      def v32(i: Int) = if (le) le32(i) else be32(i)
      val ifd = v32(4)
      // compare in Long: a near-Int.MaxValue corrupt offset would wrap
      // `ifd + 2` negative and sail past an Int guard into an AIOOBE
      if (ifd < 0 || ifd.toLong + 2 > b.length) None
      else {
        val n = v16(ifd)
        var w = -1
        var h = -1
        var e = 0
        while (e < n && ifd + 2 + (e + 1) * 12 <= b.length) {
          val off = ifd + 2 + e * 12
          val tag = v16(off)
          val typ = v16(off + 2)
          // SHORT inline values sit in the first 2 bytes of the value field
          val value = if (typ == 3) v16(off + 8) else v32(off + 8)
          if (tag == 256) w = value
          if (tag == 257) h = value
          e += 1
        }
        if (w > 0 && h > 0) Some(("tiff", w, h)) else None
      }
    } else None
  }

  /** Feature extraction over a media Dataset — mapPartitions so a real
    * decoder initializes once per partition (the reference's per-process
    * model, `img-stats.py:88-102`, maps to per-partition here).
    */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real impl: val codec = Codec.open() — once per partition
      it.map { m =>
        val bytes = safeBytes(m.bytes)
        val (mean, entropy, feature) = byteStats(bytes)
        MediaFeatures(m.media_id, m.meta.kind, bytes.length.toLong, mean, entropy, feature)
      }
    }
  }

  /** Frame sampling stub: every k-th chunk of the payload as a "frame" —
    * the generator (explode) shape of video → frames, with real row
    * multiplication and partition rebalance after the explode.
    */
  def sampleFrames(media: Dataset[Media], everyK: Int, frameBytes: Int): DataFrame = {
    import media.sparkSession.implicits._
    media
      .flatMap { m =>
        val bytes = safeBytes(m.bytes)
        val nFrames = math.max(1, bytes.length / math.max(1, frameBytes))
        (0 until nFrames by everyK).map { f =>
          val start = f * frameBytes
          val end = math.min(bytes.length, start + frameBytes)
          (m.media_id, f, java.util.Arrays.copyOfRange(bytes, start, math.max(start, end)))
        }
      }
      .toDF("media_id", "frame_no", "frame_bytes")
      // frames multiply rows ~payload/frameBytes ×: rebalance before
      // downstream shuffles so no task inherits one giant video
      .repartition(col("media_id"))
  }

  /** Build a media table from any table with a binary-able column —
    * testdata has no real media, so documents' bytes stand in.
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] = {
    import spark.implicits._
    docs
      .select(
        col("doc_id").as("media_id"),
        struct(
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("kind"),
          lit(64).as("width"),
          lit(64).as("height"),
          lit(16000).as("sampleRate")).as("meta"),
        col("text").cast("binary").as("bytes"))
      .as[Media]
  }

  /** REAL image decode tier: JPEG payloads decode to actual pixels through
    * the engine's own baseline codec ([[graft.sources.Jpeg]]). Other
    * containers return None (no codec in this runtime) — callers fall back
    * to the byte-stats stub tier. Corrupt/unsupported JPEG streams also
    * return None rather than failing the partition: one bad file in a
    * 100 TB media corpus must not kill the job.
    */
  def decodeImage(bytes: Array[Byte]): Option[Array[Byte]] =
    imageDims(safeBytes(bytes)) match {
      case Some(("jpeg", _, _)) =>
        scala.util.Try(graft.sources.Jpeg.decodeGray(safeBytes(bytes))).toOption.map(_._3)
      case Some(("png", _, _)) =>
        scala.util.Try(graft.sources.Png.decodeGray(safeBytes(bytes))).toOption.map(_._3)
      case Some(("gif", _, _)) =>
        scala.util.Try(graft.sources.Gif.decodeGray(safeBytes(bytes))).toOption.map(_._3)
      case Some(("bmp", _, _)) =>
        scala.util.Try(graft.sources.Bmp.decodeGray(safeBytes(bytes))).toOption.map(_._3)
      case _ => None
    }

  /** Feature extraction with REAL pixel decode where a codec exists: the
    * same deterministic stats as [[extractFeatures]], but computed over
    * decoded PIXELS for JPEG payloads (payload bytes otherwise). n_bytes
    * stays the payload (compressed) size — the ingest-cost number.
    */
  def extractFeaturesDecoded(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val bytes = safeBytes(m.bytes)
        decodeImage(bytes) match {
          case Some(px) =>
            val (mean, entropy, feature) = byteStats(px)
            MediaFeatures(m.media_id, m.meta.kind, bytes.length.toLong, mean, entropy, feature)
          case None =>
            // no real codec for this payload: byte-level stats are still
            // honest, but the 16-dim vector would be a payload fingerprint
            // pretending to be a pixel feature — emit EMPTY so a fake
            // embedding can never leak into a downstream corpus
            val (mean, entropy, _) = byteStats(bytes)
            MediaFeatures(m.media_id, m.meta.kind, bytes.length.toLong, mean, entropy, Array.empty[Float])
        }
      }
    }
  }

  /** The skeleton of the codec fixtures: `encode(doc_id)` per document,
    * run on the executors.
    */
  private def encodedFixture(spark: SparkSession, docs: DataFrame)(
      encode: Long => Media): Dataset[Media] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      // a small parquet lands in ONE partition; the per-row codec work
      // is the expensive part, so spread it across the cluster first
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(encode))
  }

  /** JPEG media fixture: one 32×32 block-constant grayscale JPEG per
    * document, encoded EXECUTOR-SIDE by [[graft.sources.Jpeg.encodeGray]]
    * — a distributed encode→decode round-trip whose pixel statistics stay
    * SQL-replayable (block-constant content is exact through JPEG).
    */
  def jpegMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val w = 32; val h = 32
      val px = Array.tabulate(w * h) { i =>
        val bc = (i % w) / 8; val br = (i / w) / 8
        ((bc * 5 + br * 7 + id) % 251).toInt
      }
      Media(id, MediaMeta("image", w, h, 0), graft.sources.Jpeg.encodeGray(px, w, h))
    }

  case class AudioFeatures(
      media_id: Long,
      sample_rate: Int,
      n_samples: Long,
      mean_amp: Double,
      rms: Double)

  /** REAL audio decode tier: WAV payloads (PCM, G.711, IMA ADPCM) decode
    * through [[graft.sources.Wav]], FLAC payloads through
    * [[graft.sources.Flac]] — container dispatch on the magic, corrupt
    * or unknown payloads → None.
    */
  def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    val b = safeBytes(bytes)
    if (b.length >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      scala.util.Try {
        val (rate, samples) = graft.sources.Flac.decodeMono16(b)
        (rate, 1, samples)
      }.toOption
    else scala.util.Try(graft.sources.Wav.decode(b)).toOption
  }

  /** Audio features over REAL decoded samples: mean |amplitude| and RMS —
    * integer-exact sums (Σ|v| < 2^25, Σv² < 2^40 for 1k samples) divided
    * by power-of-two counts, so the stats replay bit-identically in SQL.
    * Undecodable payloads yield a zero-sample row rather than failing the
    * partition.
    */
  def extractAudioFeatures(media: Dataset[Media]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        decodeAudio(m.bytes) match {
          case Some((rate, _, samples)) =>
            var sumAbs = 0L
            var sumSq = 0L
            samples.foreach { s => sumAbs += math.abs(s.toLong); sumSq += s.toLong * s }
            val n = samples.length
            AudioFeatures(
              m.media_id, rate, n.toLong,
              if (n == 0) 0.0 else sumAbs.toDouble / n,
              if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n))
          case None => AudioFeatures(m.media_id, 0, 0L, 0.0, 0.0)
        }
      }
    }
  }

  /** AUDIO RESAMPLE (integer decimation): decode real WAV/FLAC bytes,
    * box-average each `factor`-sample block with FLOOR division
    * (`Math.floorDiv` — the same rounding DuckDB's `//` applies to
    * negative PCM values, so the resampled signal replays exactly),
    * and emit scalar evidence: the new rate/count, a position-weighted
    * checksum that pins EVERY output sample, and the resampled RMS.
    * Trailing partial blocks drop (a half-window average is a
    * different filter, not this one). Undecodable payloads emit a
    * zero-sample row (the byteStats honesty rule).
    *
    * Per-row codec work, no shuffle at all — the 100 TB shape is
    * embarrassingly parallel decode.
    */
  def resampleAudio(media: Dataset[Media], factor: Int): DataFrame = {
    require(factor >= 2, s"factor must be >= 2, got $factor")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        decodeAudio(m.bytes) match {
          case Some((rate, _, samples)) =>
            val nOut = samples.length / factor
            var checksum = 0L
            var sumSq = 0L
            var j = 0
            while (j < nOut) {
              var s = 0L
              var i = 0
              while (i < factor) { s += samples(j * factor + i); i += 1 }
              val v = Math.floorDiv(s, factor.toLong)
              checksum += v * (j + 1)
              sumSq += v * v
              j += 1
            }
            (m.media_id, rate / factor, nOut.toLong, checksum,
              if (nOut == 0) 0.0 else math.sqrt(sumSq.toDouble / nOut))
          case None => (m.media_id, 0, 0L, 0L, 0.0)
        }
      }
    }.toDF("media_id", "sample_rate", "n_samples", "checksum", "rms")
  }

  /** Integer floor box means — the shared resize/hash kernel:
    * deterministic, SQL-replayable, no float rounding anywhere.
    */
  private def boxMeans(px: Array[Byte], w: Int, h: Int, factor: Int): Array[Int] = {
    val nw = w / factor
    val nh = h / factor
    val out = new Array[Int](nw * nh)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        var s = 0
        var dy = 0
        while (dy < factor) {
          var dx = 0
          while (dx < factor) {
            s += px((y * factor + dy) * w + x * factor + dx) & 0xff
            dx += 1
          }
          dy += 1
        }
        out(y * nw + x) = s / (factor * factor)
        x += 1
      }
      y += 1
    }
    out
  }

  /** The aHash bits of one decoded frame: '1' for each box mean above
    * the frame's integer mean box value, else '0', in box order.
    */
  private def meanBits(px: Array[Byte], w: Int, h: Int, factor: Int): String = {
    val means = boxMeans(px, w, h, factor)
    var sum = 0L
    var i = 0
    while (i < means.length) { sum += means(i); i += 1 }
    val mean = sum / means.length
    val bits = new StringBuilder(means.length)
    i = 0
    while (i < means.length) {
      bits.append(if (means(i) > mean) '1' else '0')
      i += 1
    }
    bits.toString
  }

  /** REAL resize tier: decodable image payloads decode to pixels,
    * box-average `factor`×`factor` blocks (integer floor mean —
    * deterministic, SQL-replayable), and re-encode LOSSLESSLY as PNG;
    * metadata tracks the payload in lockstep. Payloads without a codec
    * (or with dims not divisible by the factor) fall back to the stub
    * byte-subsampling so the pipeline shape never branches.
    */
  def resizeDecoded(media: Dataset[Media], factor: Int): Dataset[Media] = {
    import media.sparkSession.implicits._
    require(factor >= 1)
    media.mapPartitions { it =>
      it.map { m =>
        val bytes = safeBytes(m.bytes)
        (imageDims(bytes), decodeImage(bytes)) match {
          case (Some((_, w, h)), Some(px)) if w % factor == 0 && h % factor == 0 =>
            val nw = w / factor
            val nh = h / factor
            Media(
              m.media_id,
              m.meta.copy(width = nw, height = nh),
              graft.sources.Png.encodeGray(boxMeans(px, w, h, factor), nw, nh))
          case _ =>
            val step = factor * factor
            val sub = new Array[Byte]((bytes.length + step - 1) / step)
            var i = 0
            while (i < sub.length) { sub(i) = bytes(i * step); i += 1 }
            Media(m.media_id, m.meta.copy(width = m.meta.width / factor, height = m.meta.height / factor), sub)
        }
      }
    }
  }

  /** The one size guard behind every aHash-style fingerprint: the frame
    * splits into whole `factor`×`factor` boxes, at least one each way.
    */
  private def tiles(w: Int, h: Int, factor: Int): Boolean =
    w % factor == 0 && h % factor == 0 && w >= factor && h >= factor

  /** AVERAGE-HASH (aHash) PERCEPTUAL IMAGE FINGERPRINT — the
    * image-dedup primitive: decode (REAL in-repo codecs), box-average
    * down to a `factor`-reduced thumbnail (the shared integer-floor
    * kernel), threshold each cell against the thumbnail's floor-mean,
    * and emit the bit pattern. Identical images hash identically under
    * any lossless re-encode, and a uniform brightness shift that
    * doesn't clip leaves every bit unchanged (the mean shifts with the
    * pixels) — the invariance that makes aHash a near-dup GROUPING key
    * rather than a byte checksum (qd1's exact tier can't see a
    * re-encoded copy; this can). Everything is integer (block sums,
    * floor means, strict > threshold), so the hash is the same in any
    * engine and the qm14 oracle recomputes it cell-for-cell in SQL.
    *
    * Image near-dup clusters are `nearDupClusters(aHash(media, factor),
    * bands, maxHamming)` (qm17: factor 4, 8 bands, hamming ≤ 10): a
    * re-encoded, resized-then-restored, or slightly-retouched copy
    * hashes within a few bits of its original where byte-level dedup
    * (qd1) sees nothing.
    *
    * The hash emits as a '0'/'1' STRING: a 64-cell hash doesn't fit a
    * signed 64-bit long when the top bit is set, and the driver's
    * pandas compare handles strings better than it handles overflow.
    * Undecodable payloads and dims not divisible by the factor emit
    * NO row — a fingerprint that silently fell back to byte stats
    * would poison a dedup pass (the honesty rule of the
    * perceptual-codec boundary).
    */
  def aHash(media: Dataset[Media], factor: Int): DataFrame = {
    import media.sparkSession.implicits._
    require(factor >= 1)
    media.flatMap { m =>
      val bytes = safeBytes(m.bytes)
      (imageDims(bytes), decodeImage(bytes)) match {
        case (Some((_, w, h)), Some(px)) if tiles(w, h, factor) =>
          Some((m.media_id, meanBits(px, w, h, factor)))
        case _ => None
      }
    }.toDF("media_id", "hash_bits")
  }

  /** MEDIA NEAR-DUP CLUSTERS — the one clustering entry of the
    * multimodal dedup pass, for any `(media_id, hash_bits)` fingerprint
    * frame: [[aHash]] (images), [[audioEnergyHash]] /
    * [[audioSampledEnergyHash]] (audio), [[videoFrameHash]] /
    * [[videoSampledFrameHash]] (video). Media whose fingerprints are
    * within `maxHamming` bits cluster, via the text tier's LSH recipe
    * re-targeted at decoded content.
    *
    * Pipeline: DICTIONARY-COLLAPSE identical fingerprints, band each
    * DISTINCT '0'/'1' hash string into `bands` substrings, bucket-join
    * on (band, substring) — a pair within `maxHamming` collides on ≥ 1
    * band unless every band is hit, the qd2/qd3 banding bet — verify
    * EXACT hamming (per-character compare over the zipped strings; a
    * length mismatch counts as distance, so differently-shaped media
    * never merge), then min-label connected components
    * ([[graft.operators.Dedup.connectedComponents]]) over fingerprint
    * representatives, expanded back through the fingerprint groups.
    * Fingerprints matching nothing cluster as themselves.
    *
    * Output `(media_id, cluster)`, cluster = the component's minimum
    * media_id — the same labeling contract as the text dedup tier.
    * Undecodable media emit no fingerprint and so no row.
    *
    * Identical-fingerprint collapse (the [[graft.operators.Dedup]]
    * `prefixFilterJoin` recipe, third time it's paid for itself): exact
    * re-uploads are the DOMINANT near-dup class in any crawled media
    * corpus — m byte-identical images collide in EVERY band, and the
    * uncollapsed join produced Θ(m²·bands) candidate rows, m²/2 verify
    * rows and m²/2 component edges. Collapsed, candidates/verify/
    * components see ONE representative per distinct fingerprint
    * (rep = the group's min media_id), so the quadratic stage is
    * Θ(distinct²-bounded) regardless of repetition; members rejoin by
    * fingerprint at the end. The cluster label is unchanged: hamming 0
    * ≤ maxHamming always, so identical fingerprints were always one
    * component, and min over group minima = the component's global min
    * media_id — the same contract.
    *
    * Banding covers EVERY bit: bands 0..bands−2 take width
    * ⌊len/bands⌋, the LAST band absorbs the len mod bands remainder
    * (the first draft silently excluded trailing bits from all bands).
    * Fingerprints shorter than `bands` raise an error at execution
    * time — a zero-width band would give every row the same band keys
    * and degenerate the candidate join to all-pairs.
    *
    * Scale shape: banding is a projection + explode; candidates come
    * from the band equi-join (never all-pairs); the verify joins each
    * candidate's two hash strings (candidate-bounded); components run
    * on the collided subgraph only.
    */
  def nearDupClusters(hashes: DataFrame, bands: Int, maxHamming: Int): DataFrame =
    clustered(hashes, bands, maxHamming)._2

  /** [[nearDupClusters]] beside the checkpointed `(media_id, hash_bits)`
    * rows it clustered.
    */
  private def clustered(hashes: DataFrame, bands: Int, maxHamming: Int): (DataFrame, DataFrame) = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    // EAGER materialization of the fingerprint rows and their collapse:
    // `hashes` is usually a DECODE pass (PNG/WAV/AVI per row) and this
    // tail scans it twice (collapse + member expansion) while `fp` feeds
    // FOUR consumers (candidates, both verify sides, expansion) — left
    // lazy, one qm17-class call re-decoded the whole corpus ~5×. Both
    // frames are fingerprint-sized, so the checkpoints are KB-class.
    val hs = hashes.select(col("media_id"), col("hash_bits"))
      .localCheckpoint(true)
    val fp = collapseFingerprints(hs).localCheckpoint(true)
    val cand = fingerprintCandidates(fp, bands)
    val reps = fp.select(col("__rep"), col("hash_bits"))
    val pairs = cand
      .join(reps.select(col("__rep").as("__a"), col("hash_bits").as("__ab")), Seq("__a"))
      .join(reps.select(col("__rep").as("__b"), col("hash_bits").as("__bb")), Seq("__b"))
      .filter(hamming("__ab", "__bb") <= maxHamming)
      .select(col("__a"), col("__b"))
    val comps = graft.operators.Dedup.connectedComponents(pairs, "__a", "__b")
    // expand through the fingerprint group: every member inherits its
    // representative's component label (or the rep itself when the
    // fingerprint collided with nothing)
    (hs, hs
      .join(fp, Seq("hash_bits"))
      .join(comps.select(col("id").as("__rep"), col("label")), Seq("__rep"), "left")
      .select(col("media_id"), coalesce(col("label"), col("__rep")).as("cluster")))
  }

  /** Exact hamming distance between two '0'/'1' string columns: a
    * per-character compare over the zipped strings, where `zip_with`'s
    * null padding makes every position past the shorter string count.
    */
  private def hamming(a: String, b: String): Column =
    aggregate(
      zip_with(split(col(a), ""), split(col(b), ""),
        (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (acc, v) => acc + v)

  /** INCREMENTAL media near-dup dedup — the multimodal twin of
    * [[graft.operators.Dedup.incrementalMinHashDedup]]: a batch medium
    * drops if its fingerprint is within `maxHamming` of ANY standing-
    * corpus fingerprint; the survivors near-dedup WITHIN the batch
    * (one representative per cluster — the medium whose id IS the
    * min-label). Output `(media_id, hash_bits)` — the surviving rows,
    * WITH their fingerprints, because the fingerprint column is the
    * corpus-side artifact: persist the DISTINCT `hash_bits` set and
    * union each batch's surviving fingerprints into it, and
    * steady-state ingest never re-decodes corpus media (the
    * `minHashBandBuckets` trade, pixels instead of shingles).
    *
    * Ordering contract (the text twin's): within-batch dedup runs
    * AFTER corpus hits are removed — a batch medium never survives
    * because its cluster representative was a corpus dup. Both sides
    * dictionary-collapse first, so exact re-uploads (in the batch OR
    * against the corpus) cost Θ(distinct), and the cross screen is a
    * band equi-join over DISTINCT fingerprints only.
    */
  def incrementalNearDupMedia(
      corpusHashes: DataFrame,
      batchHashes: DataFrame,
      bands: Int,
      maxHamming: Int): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    // EAGER materialization of the batch fingerprint rows at entry: the
    // batch input is usually a DECODE pass and this function scans it
    // twice — the corpus screen (via collapseFingerprints) and the
    // survivor anti-join. Checkpointed once here, both consumers read
    // fingerprint-sized blocks and the batch is decoded exactly once
    // per call (the `clustered` treatment of its `hs`).
    val bh = batchHashes.select(col("media_id"), col("hash_bits"))
      .localCheckpoint(true)
    // corpus artifact: DISTINCT fingerprints; rep = the string itself
    // (corpus media ids are not needed — membership is the question)
    val cfp = corpusHashes.select(col("hash_bits")).distinct()
    val bfp = collapseFingerprints(bh)
    val bKeys = bandKeys(bfp.select(col("hash_bits")), bands)
      .select(col("hash_bits").as("__bh"), col("__bkey"))
    val cKeys = bandKeys(cfp, bands)
      .select(col("hash_bits").as("__ch"), col("__bkey"))
    // (both sides banded over DISTINCT fingerprints only)
    val dupFp = bKeys.join(cKeys, Seq("__bkey"))
      .select(col("__bh"), col("__ch"))
      .distinct()
      .filter(hamming("__bh", "__ch") <= maxHamming)
      .select(col("__bh").as("hash_bits"))
      .distinct()
    // lazy: `clustered` checkpoints the survivor rows once, and the
    // final semi-join reads them back from that checkpoint
    val (survivors, clusters) =
      clustered(bh.join(dupFp, Seq("hash_bits"), "left_anti"), bands, maxHamming)
    survivors.join(clusters.filter(col("media_id") === col("cluster"))
      .select(col("media_id")), Seq("media_id"), "left_semi")
  }

  /** Band keys for a fingerprint frame carrying `hash_bits`: bands
    * 0..bands−2 at width ⌊len/bands⌋, the LAST band absorbs the
    * remainder (every bit covered), width 0 raises. Input columns pass
    * through with `__bkey` appended — the shared primitive behind the
    * self-join candidate tier and [[incrementalNearDupMedia]]'s cross
    * screen.
    */
  private[graft] def bandKeys(fp: DataFrame, bands: Int): DataFrame =
    fp
      .withColumn("__band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("__w",
        when(length(col("hash_bits")) >= bands,
          (length(col("hash_bits")) / bands).cast("int"))
          .otherwise(raise_error(concat(
            lit("nearDupClusters: fingerprint length "),
            length(col("hash_bits")),
            lit(s" < bands=$bands — band width would be 0 and every row " +
              "would share every band key (all-pairs candidates); lower " +
              "bands or lengthen the fingerprint")))))
      .withColumn("__bkey", concat(col("__band").cast("string"), lit(":"),
        expr(s"substring(hash_bits, __band * __w + 1, " +
          s"if(__band = ${bands - 1}, length(hash_bits) - __band * __w, __w))")))
      .drop("__band", "__w")

  /** The dictionary-collapse step of [[nearDupClusters]]: one row per
    * DISTINCT fingerprint, `(hash_bits, __rep)` with __rep = the
    * group's minimum media_id. Package-private so the scale probe can
    * assert the candidate tier is Θ(distinct), not Θ(rows).
    */
  private[graft] def collapseFingerprints(hashes: DataFrame): DataFrame =
    hashes
      .groupBy(col("hash_bits"))
      .agg(min(col("media_id")).as("__rep"))

  /** The banded candidate tier of [[nearDupClusters]] over COLLAPSED
    * fingerprints (`(hash_bits, __rep)` rows from
    * [[collapseFingerprints]]): explode `bands` band keys per distinct
    * fingerprint — bands 0..bands−2 take width ⌊len/bands⌋, the LAST
    * band absorbs the remainder so every bit is covered — and
    * equi-join on (band, substring). Returns `(__a, __b)` rep pairs,
    * __a > __b, distinct. Raises at execution time if any fingerprint
    * is shorter than `bands` (width 0 ⇒ every row shares every band
    * key ⇒ all-pairs).
    */
  private[graft] def fingerprintCandidates(fp: DataFrame, bands: Int): DataFrame = {
    val banded = bandKeys(fp, bands).select(col("__rep"), col("__bkey"))
    banded.select(col("__rep").as("__a"), col("__bkey"))
      .join(banded.select(col("__rep").as("__b"), col("__bkey")), Seq("__bkey"))
      .filter(col("__a") > col("__b"))
      .select(col("__a"), col("__b"))
      .distinct()
  }

  /** ENERGY-ENVELOPE HASH over REAL decoded audio — [[aHash]]'s recipe
    * on the time axis: split the clip into `windows` equal segments,
    * sum each segment's |amplitude| (exact Longs), and emit bit w = 1
    * iff segment w's energy exceeds the per-window mean (strict
    * cross-multiplied compare `e_w · windows > total` — no division,
    * so the hash replays cell-for-cell in SQL). Threshold = the clip's
    * OWN mean ⇒ a uniformly-scaled (volume-changed, non-clipping) copy
    * hashes identically. Undecodable clips and lengths not divisible
    * by `windows` emit NO row (the aHash honesty rule).
    *
    * Audio near-dup clusters are `nearDupClusters(audioEnergyHash(media,
    * windows), bands, maxHamming)` (qm18: 16 windows, 4 bands, hamming
    * ≤ 3): a re-encoded or one-segment-retouched clip clusters with its
    * original, and a uniformly-louder copy hashes IDENTICALLY — the
    * brightness-invariance story on the time axis.
    */
  def audioEnergyHash(media: Dataset[Media], windows: Int): DataFrame =
    energyHash(media, windows, divisible = true)

  /** SAMPLED-BOUNDARY energy hash — [[audioEnergyHash]] for ANY length
    * ≥ `windows`: sample i belongs to window ⌊i·windows/n⌋ (total,
    * monotone, near-equal window sizes for every n), energies are
    * exact Long Σ|v| per window, and bit w compares window w's MEAN
    * energy to the clip mean by cross-multiplication —
    * `e_w · n > total · n_w` (strict, division-free, exact at any
    * length through [[exceeds]]) — so a uniformly louder copy still
    * hashes identically and the whole pipeline replays cell-for-cell in
    * SQL. Clips shorter than `windows` samples emit no row.
    *
    * Trim-tolerant audio near-dup clusters are
    * `nearDupClusters(audioSampledEnergyHash(media, windows), bands,
    * maxHamming)` (qm21: 16 windows, 4 bands, hamming ≤ 3): the strict
    * [[audioEnergyHash]] emits NO row off-length, which made a trimmed
    * re-upload invisible to the dedup pass entirely; here a short
    * end-trim only drifts the window boundaries, moving at most a few
    * bits — within `maxHamming`, so trims cluster with their originals
    * (the qm20 story on the time axis).
    */
  def audioSampledEnergyHash(media: Dataset[Media], windows: Int): DataFrame =
    energyHash(media, windows, divisible = false)

  /** The one energy fold behind both audio hashes, in the sampled form.
    * `divisible` keeps only clips with n % windows == 0: there window
    * ⌊i·windows/n⌋ = ⌊i/win⌋ and n_w = win = n / windows, so
    * `e_w · n > total · n_w` is `e_w · windows > total` — the strict
    * hash, bit for bit.
    */
  private def energyHash(media: Dataset[Media], windows: Int, divisible: Boolean): DataFrame = {
    import media.sparkSession.implicits._
    require(windows >= 1, s"windows must be >= 1, got $windows")
    media.flatMap { m =>
      decodeAudio(safeBytes(m.bytes)) match {
        case Some((_, _, samples))
            if samples.length >= windows && (!divisible || samples.length % windows == 0) =>
          val n = samples.length
          val e = new Array[Long](windows)
          val cnt = new Array[Long](windows)
          var i = 0
          while (i < n) {
            val w = (i.toLong * windows / n).toInt
            e(w) += math.abs(samples(i).toLong)
            cnt(w) += 1L
            i += 1
          }
          val total = e.sum
          val bits = new StringBuilder(windows)
          var w = 0
          while (w < windows) {
            bits.append(if (exceeds(e(w), n, total, cnt(w))) '1' else '0')
            w += 1
          }
          Some((m.media_id, bits.toString))
        case _ => None
      }
    }.toDF("media_id", "hash_bits")
  }

  /** a·b > c·d for non-negative Longs, exact at any magnitude: the two
    * products compare as 128-bit values (high words from
    * `Math.multiplyHigh`, low words unsigned), where a `Long` compare
    * wraps once a product passes 2⁶³ — at 16 windows, a full-scale
    * clip of 2²⁶ samples.
    */
  private[graft] def exceeds(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi = Math.multiplyHigh(a, b)
    val hiOther = Math.multiplyHigh(c, d)
    if (hi != hiOther) hi > hiOther else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  /** The id-patterned clip behind both planted audio fixtures: `n`
    * PCM16 samples whose 64-sample block w is LOUD (amplitude 32768)
    * iff bit w of base·2654435761 mod 65536 is set (base = id mod 50),
    * QUIET (amplitude 256) otherwise, with the first block boosted by
    * `boost` (clipped at 32767).
    */
  private def patternClip(id: Long, n: Int, boost: Int): Media = {
    val base = id % 50
    val pat = base * 2654435761L % 65536L
    val samples = Array.tabulate(n) { i =>
      val amp = if (((pat >> (i / 64)) & 1L) == 1L) 32768 else 256
      val v = ((i * 2731 + 5 * base) % (2 * amp) - amp).toInt
      (if (i < 64) math.min(v + boost, 32767) else v).toShort
    }
    Media(id, MediaMeta("audio", 0, 0, 16000), graft.sources.Wav.encodeMono16(samples, 16000))
  }

  /** The WAV fixture with PLANTED NEAR-DUPS for the audio-dedup gate:
    * ids < 50 are bases whose ENERGY ENVELOPE carries the id — window w
    * is LOUD (amplitude 32768) iff bit w of the HASHED id
    * (id·2654435761 mod 65536, Knuth's multiplicative spread — raw id
    * bits repeat across windows and one-bit id neighbours land within
    * the hamming budget and chain into a giant cluster; measured
    * before this formula) is set, QUIET (amplitude 256) otherwise, so
    * distinct ids sit ~8 hash bits apart (a flat-envelope formula
    * would merge everything: the hash thresholds on the clip's own
    * mean). Ids ≥ 50 re-encode
    * base id − 50 with the first window boosted by +8000 (clipped) —
    * a one-segment retouch that moves a couple of hash bits, never
    * the whole fingerprint.
    */
  def wavMediaNearDupFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs)(id => patternClip(id, 1024, if (id >= 50) 8000 else 0))

  /** The WAV fixture with PLANTED END-TRIMS for the trim-tolerant
    * audio dedup gate: ids < 50 are 1024-sample bases with the
    * [[wavMediaNearDupFromDocuments]] per-id block pattern (16 blocks
    * of 64 samples, each high- or low-amplitude by the id's pattern
    * bits — at n = 1024 / windows = 16 the sampled windows ARE the
    * blocks, so a base's hash is its pattern), ids ≥ 50 keep only the
    * first 1000 samples of base id − 50 — a 24-sample end-trim the
    * divisibility-strict [[audioEnergyHash]] cannot hash at all
    * (1000 % 16 ≠ 0). The trim's window boundaries drift ≤ 24 samples
    * into neighboring blocks, flipping at most a couple of bits.
    */
  def wavMediaTrimNearDupFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs)(id => patternClip(id, if (id >= 50) 1000 else 1024, 0))

  /** The [[pngMediaFromDocuments]] generator with PLANTED NEAR-DUPS for
    * the image-dedup gate: ids < 50 are bases with per-id PATTERNS
    * (px = (i·(7919 + 16·id) + 3·id) mod 256 — the multiplier varies,
    * so two bases differ structurally; qm14's formula only shifts
    * brightness, which aHash is invariant to BY DESIGN and every image
    * would collapse into one cluster), ids ≥ 50 re-encode base id − 50
    * with the first 16 pixels brightened by 40 (clipped at 255) — a
    * one-block retouch that moves a handful of aHash bits, never the
    * whole fingerprint.
    */
  def pngMediaNearDupFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val base = id % 50
      val bump = if (id >= 50) 40 else 0
      val w = 32; val h = 32
      val px = Array.tabulate(w * h) { i =>
        val p = ((i * (7919 + 16 * base) + 3 * base) % 256).toInt
        if (i < 16) math.min(p + bump, 255) else p
      }
      Media(id, MediaMeta("image", w, h, 0), graft.sources.Png.encodeGray(px, w, h))
    }

  /** Per-clip video fingerprint: each decoded frame's [[aHash]] bit
    * string (per-frame mean threshold — per-frame brightness-invariant),
    * concatenated in frame order. Clips with different frame counts or
    * dimensions produce different-length strings, which the clustering
    * verify counts as distance. Undecodable clips emit no row.
    *
    * Video near-dup clusters are `nearDupClusters(videoFrameHash(media,
    * factor), bands, maxHamming)` (qm19: factor 4, 8 bands, hamming
    * ≤ 16) — the quartet's last member (text qd2, image qm17, audio
    * qm18): a re-encoded or one-block-retouched clip clusters with its
    * original.
    */
  def videoFrameHash(media: Dataset[Media], factor: Int): DataFrame =
    frameHash(media, factor, None)

  /** FIXED-COUNT frame-sampled video fingerprint: hash exactly
    * `nFrames` evenly-spaced frames — frame j of the fingerprint is
    * decoded frame ⌊j·F/nFrames⌋ (j = 0..nFrames−1, F = frame count) —
    * each by the per-frame [[aHash]] recipe, concatenated in sample
    * order. The fingerprint length is nFrames·(w/factor)·(h/factor)
    * bits regardless of F, so clips differing only by a short trim
    * still compare bit-for-bit ([[videoFrameHash]]'s concatenated form
    * cannot: its length is F-dependent). Clips with F < nFrames sample
    * frames repeatedly (the index formula is total for F ≥ 1) — still
    * deterministic, still fixed-length. Undecodable clips emit no row.
    *
    * Trim-invariant video near-dup clusters are
    * `nearDupClusters(videoSampledFrameHash(media, factor, nFrames),
    * bands, maxHamming)` (qm20: factor 4, 4 frames, 8 bands, hamming
    * ≤ 16): the concatenated form gives a clip trimmed by even one
    * frame a different-LENGTH string, so it can never cluster with its
    * original (a documented contract, but a real-world near-dup miss:
    * re-uploads routinely lose a trailing second); here same-dimension
    * clips compare at a fixed bit length and an end-trimmed copy
    * samples (nearly) the same frames as its original.
    */
  def videoSampledFrameHash(media: Dataset[Media], factor: Int, nFrames: Int): DataFrame = {
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    frameHash(media, factor, Some(nFrames))
  }

  /** The one frame fold behind both video hashes: frames ⌊j·F/k⌋ for
    * j = 0..k−1, k = `nFrames` or, when None, the clip's own frame
    * count F — where ⌊j·F/F⌋ = j hashes every frame in order.
    */
  private def frameHash(media: Dataset[Media], factor: Int, nFrames: Option[Int]): DataFrame = {
    import media.sparkSession.implicits._
    require(factor >= 1, s"factor must be >= 1, got $factor")
    media.flatMap { m =>
      decodeVideo(safeBytes(m.bytes)) match {
        case Some((w, h, frames)) if frames.nonEmpty && tiles(w, h, factor) =>
          val k = nFrames.getOrElse(frames.length)
          val sampled = (0 until k).map(j => frames(j * frames.length / k))
          Some((m.media_id, sampled.map(meanBits(_, w, h, factor)).mkString))
        case _ => None
      }
    }.toDF("media_id", "hash_bits")
  }

  /** The LCG block clip behind both planted video fixtures: `nf` 32×32
    * MJPEG frames whose 8×8 block values are v = ((blockIdx + 16·f) ·
    * (7919 + 16·base) + 3·base) mod 251 (base = id mod 50), with frame
    * 0's top-left block brightened by +100 (clipped at 250) when
    * `retouch`.
    */
  private def lcgClip(id: Long, nf: Int, retouch: Boolean): Media = {
    val base = id % 50
    mjpegClip(id, nf) { (f, i) =>
      val bc = (i % 32) / 8
      val br = (i / 32) / 8
      val v = (((bc + 4 * br + 16 * f) * (7919 + 16 * base) + 3 * base) % 251).toInt
      if (retouch && f == 0 && br == 0 && bc == 0) math.min(v + 100, 250) else v
    }
  }

  /** A 32×32 MJPEG clip of `nf` baseline-JPEG frames: pixel i of frame
    * f is `px(f, i)`.
    */
  private def mjpegClip(id: Long, nf: Int)(px: (Int, Int) => Int): Media = {
    val frames = (0 until nf).map(f =>
      graft.sources.Jpeg.encodeGray(Array.tabulate(32 * 32)(px(f, _)), 32, 32))
    Media(id, MediaMeta("video", 32, 32, 0), graft.sources.Avi.encodeMjpeg(frames, 32, 32))
  }

  /** The AVI fixture with PLANTED NEAR-DUPS for the video-dedup gate:
    * ids < 50 are bases whose block values come from a per-id LCG over
    * the block index (v = (blockIdx · (7919 + 16·id) + 3·id) mod 251 —
    * pseudo-random per-id bit patterns, pairwise hamming ~32; the
    * first draft's per-id linear GRADIENTS all thresholded to the same
    * half-plane split and 76 of 100 clips merged, caught by the
    * histogram), ids ≥ 50
    * re-encode base id − 50 with frame 0's top-left 8×8 block
    * brightened by +100 (clipped at 250) — a one-block retouch whose
    * flipped bits all land in the first frame's hash.
    */
  def aviMediaNearDupFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs)(id => lcgClip(id, 4, retouch = id >= 50))

  /** The AVI fixture with PLANTED TRIMS for the trim-invariant video
    * dedup gate: ids < 50 are 5-frame bases with the
    * [[aviMediaNearDupFromDocuments]] per-id LCG block patterns
    * (pairwise-distant fingerprints), ids ≥ 50 are base id − 50 with
    * the LAST frame dropped — a pure end-trim. At nFrames = 4 the
    * sample indices ⌊j·5/4⌋ = ⌊j·4/4⌋ = j for j = 0..3, so a trim and
    * its base hash the SAME four frames and cluster at hamming 0 —
    * exactly the pair the concatenated fingerprint (length 5·64 vs
    * 4·64) can never merge.
    */
  def aviMediaTrimNearDupFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs)(id => lcgClip(id, if (id >= 50) 4 else 5, retouch = false))

  /** OTSU BINARIZATION THRESHOLD over decoded grayscale pixels — the
    * classic foreground/background split point (argmax of between-class
    * variance over the 256-bin histogram): the document-scan /
    * figure-detection preprocessing readout. Runs entirely next to the
    * decode (per-image integer histogram + a 255-step scan — no
    * per-pixel shuffle).
    *
    * Exactness: the histogram, class weights w₀/w₁ and class sums
    * s₀/s₁ are exact integers; the between-class score
    * (s₀·w₁ − s₁·w₀)² / (w₀·w₁) is a FIXED IEEE tree on exact-double
    * operands (products ≤ 2⁶² stay exact through the subtraction; the
    * square rounds identically in any engine), and the argmax breaks
    * ties toward the LOWEST threshold. Undecodable payloads emit no
    * row (the qm14 honesty rule).
    *
    * Output: (media_id, otsu_t, n_below, var_between) — n_below =
    * pixels ≤ t.
    */
  def otsuThreshold(media: Dataset[Media]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      decodeImage(safeBytes(m.bytes)) match {
        case Some(px) if px.nonEmpty =>
          val hist = new Array[Long](256)
          var i = 0
          while (i < px.length) { hist(px(i) & 0xff) += 1L; i += 1 }
          val n = px.length.toLong
          var sAll = 0L
          i = 0
          while (i < 256) { sAll += i.toLong * hist(i); i += 1 }
          var w0 = 0L
          var s0 = 0L
          var bestT = -1
          var bestV = -1.0
          var t = 0
          while (t < 255) {
            w0 += hist(t)
            s0 += t.toLong * hist(t)
            val w1 = n - w0
            if (w0 > 0L && w1 > 0L) {
              val num = s0.toDouble * w1.toDouble - (sAll - s0).toDouble * w0.toDouble
              val v = num * num / (w0.toDouble * w1.toDouble)
              if (v > bestV) { bestV = v; bestT = t }
            }
            t += 1
          }
          if (bestT < 0) None // constant image: no valid split
          else {
            var below = 0L
            i = 0
            while (i <= bestT) { below += hist(i); i += 1 }
            // bestV is emitted RAW — callers display-round with the
            // engine round() (half-up, the oracle-compatible rule)
            Some((m.media_id, bestT.toLong, below, bestV))
          }
        case _ => None
      }
    }.toDF("media_id", "otsu_t", "n_below", "var_between")
  }

  /** PNG fixture with a SKEWED, id-dependent histogram (pixel =
    * (i² + 31·id) mod 256 — quadratic residues are non-uniform, so the
    * Otsu split is non-degenerate and differs per image; the uniform
    * [[pngMediaFromDocuments]] ramp gives every image the same
    * threshold). Same real encode path.
    */
  def pngMediaSkewed(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val w = 32; val h = 32
      val px = Array.tabulate(w * h)(i => ((i.toLong * i + 31L * id) % 256L).toInt)
      Media(id, MediaMeta("image", w, h, 0), graft.sources.Png.encodeGray(px, w, h))
    }

  /** REAL video decode tier: AVI/MJPEG payloads split into per-frame JPEG
    * streams by the [[graft.sources.Avi]] container walk, each frame
    * decoded to gray pixels by the in-repo baseline JPEG codec. Returns
    * (width, height, frames); individual undecodable frames are DROPPED
    * rather than failing the file, and non-AVI / corrupt containers
    * return None — one bad file in a 100 TB media corpus must not kill
    * the job.
    */
  def decodeVideo(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Byte]])] =
    scala.util.Try(graft.sources.Avi.mjpegFrames(safeBytes(bytes))).toOption.flatMap { raw =>
      val frames = raw.flatMap(f => scala.util.Try(graft.sources.Jpeg.decodeGray(f)).toOption)
      frames.headOption.map { case (w, h, _) => (w, h, frames.map(_._3)) }
    }

  /** AVI/MJPEG media fixture: 4 block-constant 32×32 frames per document
    * (frame f shifts the block values by f·13), encoded executor-side
    * through [[graft.sources.Jpeg.encodeGray]] + [[graft.sources.Avi]] —
    * the video twin of [[jpegMediaFromDocuments]], same exact-through-JPEG
    * contract per frame.
    */
  def aviMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      mjpegClip(id, 4) { (f, i) =>
        val bc = (i % 32) / 8; val br = (i / 32) / 8
        ((bc * 5 + br * 7 + id + f * 13) % 251).toInt
      }
    }

  /** WAV media fixture: 1024 deterministic PCM16 samples per document,
    * encoded executor-side — the audio twin of [[pngMediaFromDocuments]].
    */
  def wavMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val samples = Array.tabulate(1024)(i => (((i * 2731 + id * 17) % 65536) - 32768).toShort)
      Media(id, MediaMeta("audio", 0, 0, 16000), graft.sources.Wav.encodeMono16(samples, 16000))
    }

  /** FLAC media fixture: the WAV fixture's contract through the FLAC
    * codec — 1024 deterministic PCM16 samples per document, encoded
    * executor-side with fixed-prediction + Rice coding. FLAC is
    * lossless, so the decoded samples ARE the formula values and the
    * audio stats replay exactly in SQL.
    */
  def flacMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val samples = Array.tabulate(1024)(i => (((i * 2731 + id * 29) % 65536) - 32768).toShort)
      Media(id, MediaMeta("audio", 0, 0, 16000), graft.sources.Flac.encodeMono16(samples, 16000))
    }

  /** Stereo-LPC FLAC fixture: 1024 deterministic PCM16 samples PER
    * CHANNEL per document, encoded executor-side with quantized-LPC
    * subframes and per-frame rotation through all three stereo
    * decorrelation modes (blockSize=256 ⇒ 4 frames ⇒ mid/side,
    * left/side and right/side all occur in every payload). This is the
    * real-world FLAC shape — actual encoders emit LPC+stereo almost
    * exclusively — and losslessness means the decoded channels ARE the
    * formula values, so per-channel stats replay exactly in SQL.
    */
  def flacStereoMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val l = Array.tabulate(1024)(i => (((i * 2731 + id * 29) % 65536) - 32768).toShort)
      val r = Array.tabulate(1024)(i => (((i * 1663 + id * 101) % 65536) - 32768).toShort)
      Media(id, MediaMeta("audio", 0, 0, 44100),
        graft.sources.Flac.encodeStereo16(l, r, 44100, blockSize = 256))
    }

  /** BMP media fixture: uncompressed palette BMP — the lossless contract
    * a third time, through the raw-row/bottom-up/stride-padding path.
    */
  def bmpMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val w = 32; val h = 32
      val px = Array.tabulate(w * h)(i => ((i * 59 + id * 11) % 256).toInt)
      Media(id, MediaMeta("image", w, h, 0), graft.sources.Bmp.encodeGray(px, w, h))
    }

  /** GIF media fixture: palette GIF is lossless over 8-bit indices, so
    * arbitrary per-document pixels replay exactly — same contract as
    * [[pngMediaFromDocuments]] but through the LZW path.
    */
  def gifMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val w = 32; val h = 32
      val px = Array.tabulate(w * h)(i => ((i * 101 + id * 3) % 256).toInt)
      Media(id, MediaMeta("image", w, h, 0), graft.sources.Gif.encodeGray(px, w, h))
    }

  /** PNG media fixture: PNG is lossless, so the pixels are ARBITRARY
    * per-document values (no block-constant constraint like the JPEG
    * fixture) — every pixel still replays in SQL.
    */
  def pngMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[Media] =
    encodedFixture(spark, docs) { id =>
      val w = 32; val h = 32
      val px = Array.tabulate(w * h)(i => ((i * 7919 + id) % 256).toInt)
      Media(id, MediaMeta("image", w, h, 0), graft.sources.Png.encodeGray(px, w, h))
    }
}
