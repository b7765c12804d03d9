package graft

import graft.functions.GeoFunctions
import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the numeric semantics SURVEY §7.4 flags as
  * oracle-deciding: nearest-rank percentile, trapezoid integration,
  * scale-score normalization, and the geo kernel invariants.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(2, "property-spec")

  /** Deterministic draws from a ScalaCheck generator (no scalatest bridge
    * in the offline cache — raw Gen + fixed seeds).
    */
  private def forAll[A](g: Gen[A], n: Int = 30)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 30)(body: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      body(
        ga.pureApply(Gen.Parameters.default, Seed(i.toLong)),
        gb.pureApply(Gen.Parameters.default, Seed(1000L + i)))
    }

  private val values = Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))

  test("gap-fill matches a direct scala reference on random keyed series") {
    import spark.implicits._
    import java.sql.Timestamp
    // Spark round(x, 6) is BigDecimal HALF_UP — the reference must
    // round the same way, not via half-even math.rint
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val series = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 3L),        // key
      Gen.chooseNum(0L, 5000L),     // seconds
      Gen.chooseNum(-1e4, 1e4)))    // value
    val bucketSec = 60L
    val maxGap = 5
    forAll(series, n = 15) { raw =>
      val rows = raw.zipWithIndex.map { case ((k, sec, v), i) =>
        (k, new Timestamp(sec * 1000L), i.toLong, v)
      }
      val got = operators.Temporal
        .gapFill(rows.toDF("k", "ts", "id", "v"), "k", "ts", "id", "v",
          bucketSec, maxGap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        // bucket-last in (ts, id) order
        val byBucket = rs
          .map(t => (t._2.getTime * 1000L / (bucketSec * 1000000L), t._2.getTime, t._3, t._4))
          .groupBy(_._1).toSeq
          .map { case (b, g) => (b, g.maxBy(e => (e._2, e._3))._4) }
          .sortBy(_._1)
        val observed = byBucket.map { case (b, v) => (k, b * bucketSec, r6(v), 0) }
        val fills = byBucket.zip(byBucket.drop(1)).flatMap {
          case ((b, v), (nb, nv)) if nb - b >= 2 && nb - b <= maxGap =>
            (b + 1 until nb).map { g =>
              (k, g * bucketSec,
                r6(v + (nv - v) * ((g - b).toDouble / (nb - b).toDouble)), 1)
            }
          case _ => Seq.empty
        }
        observed ++ fills
      }.toSet
      assert(got == expect)
    }
  }

  test("percentile threshold equals the reference nearest-rank definition") {
    import spark.implicits._
    forAll2(values, Gen.chooseNum(0.0, 100.0), n = 10) { (vs: List[Double], p: Double) =>
      if (vs.nonEmpty) {
        // reference (filter-percentile.js:60-73): sort asc, take value at
        // round(p/100 * (n-1))
        val sorted = vs.sorted
        val expected = sorted(math.round(p / 100.0 * (vs.size - 1)).toInt)
        val kth = Relational.kthSmallest(
          vs.toDF("v"), "v", math.round(p / 100.0 * (vs.size - 1)), numRanges = 4)
        assert(kth == expected)
      }
    }
  }

  test("trapezoid column matches a direct scala implementation") {
    import spark.implicits._
    val series = Gen.listOfN(6, Gen.chooseNum(-100.0, 100.0))
    forAll2(series, series, n = 15) { (xsRaw: List[Double], ys: List[Double]) =>
      val xs = xsRaw.sorted
      val expected = 0.5 * xs.zip(ys).sliding(2).collect {
        case Seq((x1, y1), (x2, y2)) => (x2 - x1) * (y1 + y2)
      }.sum
      val got = Seq((xs, ys)).toDF("xs", "ys")
        .select(Relational.trapezoid(col("xs"), col("ys")).as("t"))
        .collect().head.getDouble(0)
      assert(math.abs(got - expected) < 1e-6 * math.max(1.0, math.abs(expected)))
    }
  }

  test("scale-score: max maps to 100, order is preserved") {
    import spark.implicits._
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0.001, 1e6)), n = 10) { vs: List[Double] =>
      if (vs.nonEmpty && vs.max > 0) {
        val out = Relational.scaleScore2(vs.toDF("value"), "value")
          .collect().map(r => r.getDouble(0) -> r.getDouble(1))
        assert(out.exists(_._2 == 100.0))
        assert(out.forall { case (_, s) => s >= 0 && s <= 100.0 })
        val byValue = out.sortBy(_._1).map(_._2)
        assert(byValue.zip(byValue.tail).forall { case (a, b) => a <= b })
      }
    }
  }

  test("haversine: symmetric, non-negative, zero iff same point") {
    val coord = for {
      lon <- Gen.chooseNum(-180.0, 180.0)
      lat <- Gen.chooseNum(-89.0, 89.0)
    } yield (lon, lat)
    forAll2(coord, coord, n = 50) { (a: (Double, Double), b: (Double, Double)) =>
      val d1 = GeoFunctions.haversineKm(a._1, a._2, b._1, b._2)
      val d2 = GeoFunctions.haversineKm(b._1, b._2, a._1, a._2)
      assert(math.abs(d1 - d2) < 1e-9)
      assert(d1 >= 0)
      assert(GeoFunctions.haversineKm(a._1, a._2, a._1, a._2) == 0.0)
    }
  }

  test("bbox contains every input point; bboxOverlap is reflexive") {
    val pts = Gen.nonEmptyListOf(for {
      x <- Gen.chooseNum(-180.0, 180.0)
      y <- Gen.chooseNum(-90.0, 90.0)
    } yield Seq(x, y))
    forAll(pts, n = 50) { coords: List[Seq[Double]] =>
      val b = GeoFunctions.bbox(coords)
      assert(coords.forall(c => c(0) >= b(0) && c(0) <= b(2) && c(1) >= b(1) && c(1) <= b(3)))
    }
  }

  test("wordpieceCount matches an independently-written greedy reference") {
    import graft.functions.TextFunctions
    import spark.implicits._
    // independent reference: recursive longest-prefix scan via
    // vocab.filter(startsWith).maxBy(length) — different code path from
    // the length-bucketed set probe in the UDF
    val vocab = TextFunctions.wordpieceVocab
    def refWord(w: String): Long =
      if (w.isEmpty) 0L
      else {
        val hits = vocab.filter(w.startsWith)
        val step = if (hits.isEmpty) 1 else hits.map(_.length).max
        1L + refWord(w.substring(step))
      }
    def ref(text: String): Long = {
      val t = text.trim.toLowerCase
      if (t.isEmpty) 0L else t.split("\\s+").map(refWord).sum
    }
    val word = Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaLowerChar,
      1 -> Gen.numChar,
      1 -> Gen.oneOf('!', '?', '.', '#'))).map(_.mkString)
    val textGen = Gen.nonEmptyListOf(word).map(_.mkString(" "))
    forAll(textGen, n = 60) { text =>
      val got = Seq(text).toDF("text")
        .select(TextFunctions.wordpieceCount(col("text"))).collect().head.getLong(0)
      assert(got == ref(text), s"text=$text")
    }
  }

  test("criticality score normalization matches the reference formula on random stats") {
    // criticality.js:93-110: score = round(100 * (0.4·timeNorm + 0.6·unroutNorm))
    // where timeNorm = ((unroutable+impacted)·avgNonZero) / max over ways,
    // unroutNorm = unroutable / maxUnroutable, with || 0 null-coercion on
    // 0/0. Property: scores from graft.graph.Criticality.scores lie in
    // [0,100], the way attaining both maxima scores exactly 100·(0.4·1+0.6·1),
    // and doubling every way's stats uniformly leaves scores unchanged
    // (scale invariance of the normalization).
    import spark.implicits._
    val statGen = for {
      n <- Gen.chooseNum(2, 8)
      rows <- Gen.listOfN(n, for {
        unr <- Gen.chooseNum(0, 5)
        imp <- Gen.chooseNum(0, 10)
        avg <- Gen.chooseNum(0.0, 100.0)
      } yield (unr, imp, avg))
    } yield rows
    forAll(statGen, n = 25) { rows =>
      val df = rows.zipWithIndex
        .map { case ((u, i, a), w) => (s"w$w", u, i, a) }
        .toDF("name", "unroutablePairs", "impactedPairs", "avgTimeNonZero")
      val scores = graft.graph.Criticality.scoreStats(df)
        .collect().map(r => r.getAs[String]("way_id") -> r.getAs[Double]("score")).toMap
      assert(scores.values.forall(s => s >= 0 && s <= 100))
      // scale invariance: double avgTimeNonZero everywhere → same scores
      val doubled = rows.zipWithIndex
        .map { case ((u, i, a), w) => (s"w$w", u, i, a * 2) }
        .toDF("name", "unroutablePairs", "impactedPairs", "avgTimeNonZero")
      val scores2 = graft.graph.Criticality.scoreStats(doubled)
        .collect().map(r => r.getAs[String]("way_id") -> r.getAs[Double]("score")).toMap
      scores.foreach { case (w, s) => assert(math.abs(scores2(w) - s) < 1e-9, s"way $w") }
    }
  }

  test("criticality scoring of all-zero stats gives zeros and of no stats no rows") {
    // avgMaxTime = maxUnroutable = 0 (no removal cut or slowed a pair):
    // the reference's `|| 0` makes both scores 0, where dividing by the
    // zero maximum would throw under ANSI mode
    import spark.implicits._
    val zeros = Seq(("w0", 0, 0, 0.0), ("w1", 0, 0, 0.0))
      .toDF("name", "unroutablePairs", "impactedPairs", "avgTimeNonZero")
    val scores = graft.graph.Criticality.scoreStats(zeros).collect()
    assert(scores.map(_.getAs[Double]("score")).toSeq == Seq(0.0, 0.0))
    assert(graft.graph.Criticality.scoreStats(zeros.limit(0)).collect().isEmpty)
  }

  test("lineSplit pieces reassemble the original line's length") {
    // random rectangle + random horizontal line crossing it
    val gen = for {
      x0 <- Gen.chooseNum(-50.0, 0.0)
      x1 <- Gen.chooseNum(1.0, 50.0)
      y <- Gen.chooseNum(-10.0, 10.0)
      rx0 <- Gen.chooseNum(-40.0, -1.0)
      rx1 <- Gen.chooseNum(0.5, 40.0)
      ry0 <- Gen.chooseNum(-20.0, -11.0)
      ry1 <- Gen.chooseNum(11.0, 20.0)
    } yield (Seq(Seq(x0, y), Seq(x1, y)), Seq(Seq(Seq(rx0, ry0), Seq(rx1, ry0), Seq(rx1, ry1), Seq(rx0, ry1), Seq(rx0, ry0))))
    forAll(gen, n = 50) { case (line, rings) =>
      val pieces = GeoFunctions.lineSplit(line, rings)
      // exact chaining: pieces start at the line start, end at its end,
      // and consecutive pieces share endpoints (no gaps, no overlaps).
      // (Σ haversine lengths is NOT compared: great-circle distance isn't
      // additive along a parallel, so that's not a true property.)
      assert(pieces.head.head == line.head)
      assert(pieces.last.last == line.last)
      pieces.sliding(2).foreach {
        case Seq(a, b) => assert(a.last == b.head)
        case _ =>
      }
      // x-extents partition the planar span
      val spans = pieces.map(p => (p.head(0), p.last(0)))
      assert(spans.forall { case (a, b) => a <= b })
    }
  }

  test("lossless codecs round-trip random content at random dims (PNG/GIF/BMP/WAV)") {
    import graft.sources.{Bmp, Gif, Png, Wav}
    val dims = for {
      w <- Gen.chooseNum(1, 70)
      h <- Gen.chooseNum(1, 70)
    } yield (w, h)
    forAll2(dims, Gen.chooseNum(0L, Long.MaxValue / 2), n = 15) { case ((w, h), seed) =>
      val rnd = new scala.util.Random(seed)
      val px = Array.fill(w * h)(rnd.nextInt(256))
      assert(Png.decodeGray(Png.encodeGray(px, w, h))._3.map(_ & 0xff).toSeq == px.toSeq,
        s"png ${w}x$h seed=$seed")
      assert(Gif.decodeGray(Gif.encodeGray(px, w, h))._3.map(_ & 0xff).toSeq == px.toSeq,
        s"gif ${w}x$h seed=$seed")
      assert(Bmp.decodeGray(Bmp.encodeGray(px, w, h))._3.map(_ & 0xff).toSeq == px.toSeq,
        s"bmp ${w}x$h seed=$seed")
      val samples = Array.fill(w * h)((rnd.nextInt(65536) - 32768).toShort)
      assert(Wav.decode(Wav.encodeMono16(samples, 16000))._3.toSeq == samples.toSeq,
        s"wav n=${w * h} seed=$seed")
    }
  }

  test("clip kernels: output confined to the rect, inside geometry preserved verbatim") {
    import graft.sources.VectorTile
    val pt = Gen.zip(Gen.chooseNum(-50.0, 150.0), Gen.chooseNum(-50.0, 150.0))
    val eps = 1e-9 // clip intersections carry 1-ulp float slack
    forAll(Gen.listOfN(8, pt), n = 40) { pts =>
      // polyline: every clipped vertex inside [0,100]²; fully-inside input
      // survives as one identical run
      val runs = VectorTile.clipPolyline(pts, 0, 0, 100, 100)
      runs.flatten.foreach { case (x, y) =>
        assert(x >= -eps && x <= 100 + eps && y >= -eps && y <= 100 + eps, s"($x,$y) escaped")
      }
      if (pts.forall { case (x, y) => x >= 0 && x <= 100 && y >= 0 && y <= 100 })
        assert(runs == Seq(pts))
      // ring: Sutherland–Hodgman output confined too (needs ≥3 points)
      val ring = VectorTile.clipRing(pts.take(5), 0, 0, 100, 100)
      ring.foreach { case (x, y) =>
        assert(x >= -eps && x <= 100 + eps && y >= -eps && y <= 100 + eps, s"ring ($x,$y)")
      }
    }
  }

  test("AVI/MJPEG containers round-trip random frame counts and paddings") {
    import graft.sources.{Avi, Jpeg}
    val gen = for {
      n <- Gen.chooseNum(1, 6)
      wBlocks <- Gen.chooseNum(1, 4)
      hBlocks <- Gen.chooseNum(1, 3)
      seed <- Gen.chooseNum(0L, Long.MaxValue / 2)
    } yield (n, wBlocks * 8, hBlocks * 8, seed)
    forAll(gen, n = 12) { case (n, w, h, seed) =>
      val rnd = new scala.util.Random(seed)
      val pxs = Seq.fill(n) {
        // block-constant from per-frame random coefficients: exact through JPEG
        val ka = rnd.nextInt(16); val kb = rnd.nextInt(16); val kc = rnd.nextInt(200)
        Array.tabulate(w * h) { i =>
          val bc = (i % w) / 8; val br = (i / w) / 8
          (bc * ka + br * kb + kc) % 251
        }
      }
      val avi = Avi.encodeMjpeg(pxs.map(Jpeg.encodeGray(_, w, h)), w, h)
      val back = Avi.mjpegFrames(avi).map(f => Jpeg.decodeGray(f))
      assert(back.size == n, s"frames $n ${w}x$h seed=$seed")
      back.zip(pxs).foreach { case ((dw, dh, out), expect) =>
        assert(dw == w && dh == h)
        assert(out.map(_ & 0xff).toSeq == expect.toSeq, s"pixels $n ${w}x$h seed=$seed")
      }
    }
  }

  test("G.711 expansion: monotone per segment sign, round-trips the container") {
    import graft.sources.Wav
    forAll(Gen.chooseNum(0L, Long.MaxValue / 2), n = 10) { seed =>
      val rnd = new scala.util.Random(seed)
      val codes = Array.fill(200 + rnd.nextInt(300))(rnd.nextInt(256).toByte)
      val (_, _, u) = Wav.decode(Wav.encodeG711(codes, 8000, aLaw = false))
      val (_, _, a) = Wav.decode(Wav.encodeG711(codes, 8000, aLaw = true))
      assert(u.toSeq == codes.map(c => Wav.ulawToLinear(c & 0xff)).toSeq)
      assert(a.toSeq == codes.map(c => Wav.alawToLinear(c & 0xff)).toSeq)
    }
    // positive µ-law codes decode monotonically decreasing as the code
    // grows (0x80 = max positive … 0xFF = zero): the companding order
    (0x80 until 0xff).foreach { c =>
      assert(Wav.ulawToLinear(c) >= Wav.ulawToLinear(c + 1), f"ulaw 0x$c%02x")
    }
  }

  test("MVT tiles round-trip random point features") {
    import graft.sources.VectorTile
    val feat = for {
      id <- Gen.chooseNum(0L, 1000000L)
      n <- Gen.chooseNum(1, 5)
      pts <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 4095), Gen.chooseNum(0, 4095)))
    } yield VectorTile.Feature(id, 1, Seq(pts), Map("k" -> id.toString))
    forAll(Gen.nonEmptyListOf(feat), n = 15) { feats =>
      // ids must be unique for the comparison map
      val uniq = feats.groupBy(_.id).values.map(_.head).toSeq
      val Seq(layer) = VectorTile.decodeTile(
        VectorTile.encodeTile(Seq(VectorTile.Layer("l", 4096, uniq))))
      val got = layer.features.map(f => f.id -> f).toMap
      uniq.foreach { f =>
        assert(got(f.id).geometry.flatten == f.geometry.flatten, s"feature ${f.id}")
        assert(got(f.id).attrs == f.attrs)
      }
    }
  }

  // random word-stream documents (the harness text shape): small vocab so
  // repetition is common, occasional symbols/numerics so rules bite
  private val wordGen = Gen.frequency(
    6 -> Gen.oneOf("the", "and", "to", "scan", "table", "agg", "row", "key", "fast"),
    2 -> Gen.oneOf("value", "window", "batch", "merge", "sort", "join"),
    1 -> Gen.oneOf("x#", "42", "a...b", "zzz"))
  private val docGen = Gen.nonEmptyListOf(wordGen).map(_.mkString(" "))

  test("repetitionStats equals a naive local implementation on random word streams") {
    import spark.implicits._
    forAll(Gen.listOfN(8, docGen), n = 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = operators.TextAnalysis
        .repetitionStats(docs, "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val norm = t.trim.toLowerCase.replaceAll("\\s+", " ")
        val toks = norm.split(" ").toSeq
        val n = toks.size
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val dupWord = r6((n - toks.distinct.size).toDouble / n)
        def grams(g: Int): Seq[String] =
          if (n < g) Nil else (0 to n - g).map(j => toks.slice(j, j + g).mkString(" "))
        val bi = grams(2).groupBy(identity).view.mapValues(_.size).toMap
        val top2 =
          if (bi.isEmpty) 0.0
          else {
            val mc = bi.values.max
            bi.collect { case (g, c) if c == mc => c.toLong * g.length }.max.toDouble
          }
        val d5 = grams(5).groupBy(identity).view.mapValues(_.size)
          .collect { case (g, c) if c > 1 => c.toLong * g.length }.sum.toDouble
        val expected = (n.toLong, dupWord, r6(top2 / norm.length), r6(d5 / norm.length))
        assert(got(i.toLong) == expected, s"doc $i: '$t'")
      }
    }
  }

  test("qualityRules equals a naive local implementation on random word streams") {
    import spark.implicits._
    val stops = Set("the", "be", "to", "of", "and", "that", "have", "with")
    forAll(Gen.listOfN(8, docGen), n = 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = operators.TextAnalysis
        .qualityRules(docs, "doc_id", "text", minWords = 3, maxWords = 50)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5), r.getBoolean(6))))
        .toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val norm = t.trim.toLowerCase.replaceAll("\\s+", " ")
        val toks = norm.split(" ").toSeq
        val n = toks.size
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val meanLen = r6(toks.map(_.length).sum.toDouble / n)
        val hashes = norm.count(_ == '#')
        val ellipses = "\\.\\.\\.".r.findAllIn(norm).size
        val symRatio = r6((hashes + ellipses).toDouble / n)
        val alphaFrac = r6(toks.count(_.exists(c => c >= 'a' && c <= 'z')).toDouble / n)
        val nStop = toks.count(stops).toLong
        val keep = n >= 3 && n <= 50 && meanLen >= 3.0 && meanLen <= 10.0 &&
          symRatio <= 0.1 && alphaFrac >= 0.8 && nStop >= 2
        assert(
          got(i.toLong) == ((n.toLong, meanLen, symRatio, alphaFrac, nStop, keep)),
          s"doc $i: '$t' got=${got(i.toLong)}")
      }
    }
  }

  test("peakConcurrency matches a direct sweep reference on random intervals") {
    import spark.implicits._
    import java.sql.Timestamp
    val intervals = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 2L),       // key
      Gen.chooseNum(0L, 50L),      // start sec
      Gen.chooseNum(-2.0, 10.0)))  // duration sec (<=0 dropped)
    forAll(intervals, n = 20) { raw =>
      val df = raw.map { case (k, s, d) => (k, new Timestamp(s * 1000L), d) }
        .toDF("user_id", "ts", "value")
      val got = graft.operators.Temporal
        .peakConcurrency(df, "user_id", "ts", "value")
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      // reference: per key, walk every boundary instant in µs
      raw.groupBy(_._1).foreach { case (k, rows) =>
        val iv = rows.collect { case (_, s, d) if d > 0 =>
          val st = s * 1000000L
          (st, st + math.floor(d * 1e6).toLong)
        }
        if (iv.isEmpty) assert(!got.contains(k))
        else {
          val instants = iv.flatMap(i => Seq(i._1, i._2)).distinct.sorted
          val conc = instants.map(t =>
            t -> iv.count(i => i._1 <= t && t < i._2))
          val peak = conc.map(_._2).max
          val at = conc.find(_._2 == peak).get._1
          assert(got(k) == ((k, iv.size.toLong, peak.toLong, at)),
            s"key $k iv=$iv got=${got(k)}")
        }
      }
    }
  }

  test("packSequences offsets equal the id-sorted cumulative token sums " +
      "for any seqLen, invariant under input partitioning") {
    import spark.implicits._
    val docs = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 400),
      Gen.chooseNum(0, 9))) // doc token count (0 dropped)
    forAll2(docs, Gen.chooseNum(1, 7), n = 15) { (raw, seqLen) =>
      // unique ids by construction (zipWithIndex)
      val rows = raw.zipWithIndex.map { case ((_, nTok), i) =>
        (i.toLong, Seq.fill(nTok)("w").mkString(" "))
      }
      val df = rows.toDF("doc_id", "text").repartition(5)
      val got = graft.operators.TextAnalysis
        .packSequences(df, "doc_id", "text", seqLen)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .sortBy(_._1).toSeq
      var off = 0L
      val expect = rows.sortBy(_._1).collect { case (id, t) if t.nonEmpty =>
        val n = t.split(" ").length.toLong
        val o = off; off += n
        val first = o / seqLen
        val last = (o + n - 1) / seqLen
        (id, n, o, first, last, last - first + 1)
      }
      assert(got == expect, s"seqLen=$seqLen")
    }
  }
}
