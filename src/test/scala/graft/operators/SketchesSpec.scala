package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Sketch contracts: KMV exactness below k and estimator sanity above
  * it, the k-min merge algebra (sketch of a union == merged sketches —
  * what makes set ops computable from summaries alone), count-min's
  * one-sided error, and bit-identical determinism across runs.
  */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "sketches-spec")
  import spark.implicits._

  test("kmv: below k the sketch IS the distinct set — exact counts") {
    val df = (1 to 10).flatMap(i => Seq(("g", s"v$i"), ("g", s"v$i")))
      .toDF("k", "v")
    val out = Sketches.kmvDistinct(df, "k", "v", k = 32).collect().head
    assert(out.getLong(1) == 10L && out.getDouble(2) == 10.0)
  }

  test("kmv: above k the estimate lands within the ~1/sqrt(k) error band") {
    val n = 5000
    val df = (1 to n).map(i => ("g", s"value_$i")).toDF("k", "v")
    val est = Sketches.kmvDistinct(df, "k", "v", k = 256).collect().head.getDouble(2)
    // 3 standard errors at k=256 is ~19%
    assert(math.abs(est - n) / n < 0.19, s"est=$est for n=$n")
  }

  test("kmv: deterministic — same input, same estimate, any partitioning") {
    val df = (1 to 1000).map(i => ("g", s"value_$i")).toDF("k", "v")
    val a = Sketches.kmvDistinct(df.repartition(1), "k", "v", 16).collect().head.getDouble(2)
    val b = Sketches.kmvDistinct(df.repartition(7), "k", "v", 16).collect().head.getDouble(2)
    assert(a == b)
  }

  test("kmv set ops: merged sketches equal the sketch of the union") {
    // KMV algebra: k-min(A union B) = k-min(k-min(A) union k-min(B)) —
    // so est_union from kmvSetOps must equal kmvDistinct over the
    // concatenated slices relabelled to one group
    val a = (1 to 300).map(i => ("a", s"v$i"))
    val b = (200 to 500).map(i => ("b", s"v$i"))
    val df = (a ++ b).toDF("k", "v")
    val ops = Sketches.kmvSetOps(df, "k", "v", k = 16).collect().head
    val direct = Sketches.kmvDistinct(
      df.withColumn("k", lit("u")), "k", "v", k = 16).collect().head.getDouble(2)
    assert(ops.getDouble(2) == direct)
    // inclusion-exclusion arithmetic: estA + estB - estU, in that order
    val estA = Sketches.kmvDistinct(df.filter($"k" === "a"), "k", "v", 16)
      .collect().head.getDouble(2)
    val estB = Sketches.kmvDistinct(df.filter($"k" === "b"), "k", "v", 16)
      .collect().head.getDouble(2)
    assert(ops.getDouble(3) ==
      math.rint(((estA + estB) - ops.getDouble(2)) * 1e6) / 1e6)
  }

  test("count-min: estimates are exact or OVER, never under; absent term is >= 0") {
    val docs = (Seq.fill(40)("alpha beta") ++ Seq.fill(7)("beta gamma"))
      .toDF("text")
    val est = Sketches.countMinEstimate(
      docs, "text", Seq("alpha", "beta", "gamma", "nope"), depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") >= 40L && est("beta") >= 47L && est("gamma") >= 7L)
    assert(est("nope") >= 0L)
    // with w=64 and only 3 distinct tokens, collisions are unlikely in
    // all 4 rows at once — the min should recover the exact counts
    assert(est("alpha") == 40L && est("beta") == 47L && est("gamma") == 7L)
  }

  test("hll: estimate lands within the ~1.04/sqrt(m) error band; registers bounded") {
    val n = 5000
    val df = (1 to n).map(i => ("g", s"value_$i")).toDF("k", "v")
    val out = Sketches.hllDistinct(df, "k", "v", p = 8).collect().head
    assert(out.getLong(1) <= 256L) // never more rows than registers
    val est = out.getDouble(2)
    // 3 standard errors at m=256 is ~20%
    assert(math.abs(est - n) / n < 0.20, s"est=$est for n=$n")
  }

  test("hll: small-range linear-counting branch is exact-ish and engaged") {
    // 10 distinct into 256 registers: raw estimate falls below 2.5m with
    // empty registers, so the m*ln(m/V) correction must fire — for V
    // this close to m it is near-exact
    val df = (1 to 10).map(i => ("g", s"v$i")).toDF("k", "v")
    val est = Sketches.hllDistinct(df, "k", "v", p = 8).collect().head.getDouble(2)
    assert(math.abs(est - 10.0) < 2.0, s"est=$est for n=10")
  }

  test("hll: deterministic — same input, same estimate, any partitioning") {
    val df = (1 to 1000).map(i => ("g", s"value_$i")).toDF("k", "v")
    val a = Sketches.hllDistinct(df.repartition(1), "k", "v", 4).collect().head.getDouble(2)
    val b = Sketches.hllDistinct(df.repartition(7), "k", "v", 4).collect().head.getDouble(2)
    assert(a == b)
  }

  test("hll set ops: union of registers equals the sketch of the union") {
    // the lossless merge: elementwise register max over A and B rebuilds
    // exactly the sketch of A ∪ B, so est_union must equal hllDistinct
    // over the concatenated slices relabelled to one group
    val a = (1 to 300).map(i => ("a", s"v$i"))
    val b = (200 to 500).map(i => ("b", s"v$i"))
    val df = (a ++ b).toDF("k", "v")
    val ops = Sketches.hllSetOps(df, "k", "v", p = 4).collect().head
    val direct = Sketches.hllDistinct(
      df.withColumn("k", lit("u")), "k", "v", p = 4).collect().head.getDouble(2)
    assert(ops.getDouble(2) == direct)
    val estA = Sketches.hllDistinct(df.filter($"k" === "a"), "k", "v", 4)
      .collect().head.getDouble(2)
    val estB = Sketches.hllDistinct(df.filter($"k" === "b"), "k", "v", 4)
      .collect().head.getDouble(2)
    assert(ops.getDouble(3) ==
      math.rint(((estA + estB) - ops.getDouble(2)) * 1e6) / 1e6)
  }

  test("hll: empty input produces no groups; nulls are dropped") {
    assert(Sketches.hllDistinct(Seq.empty[(String, String)].toDF("k", "v"),
      "k", "v", 4).isEmpty)
    val df = Seq(("g", "x"), ("g", null)).toDF("k", "v")
    val one = Sketches.hllDistinct(df, "k", "v", 4).collect().head
    assert(one.getLong(1) == 1L)
  }

  test("histogram quantile: hand-computed interpolation and edge-bin clamping") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("k", "v")
    val out = Sketches.histogramQuantile(df, "k", "v", 0.0, 100.0, 10,
        Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    // q=0.5: target 50; bins 0..4 hold 9+10+10+10+10 = 49, bin 5 (cnt
    // 10, values 50..59) reaches it -> est = (5 + 1/10) * 10 = 51
    assert(out(0.5) == 51.0)
    // q=1.0: v=100 clamps into bin 9 (cnt 11) -> est = (9 + 1) * 10
    assert(out(1.0) == 100.0)
    // out-of-range values clamp into edge bins and still count
    val clamped = Sketches.histogramQuantile(
      Seq(("g", -5.0), ("g", 5.0), ("g", 150.0)).toDF("k", "v"),
      "k", "v", 0.0, 100.0, 10, Seq(0.5))
      .collect().head.getDouble(2)
    // bin 0 holds {-5, 5}: target 1.5 -> est = (0 + 1.5/2) * 10 = 7.5
    assert(clamped == 7.5)
  }

  test("histogram quantile: estimate within one bin width of the exact quantile") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 3000).map(_ => ("g", rnd.nextDouble() * 80.0 + 10.0)).toDF("k", "v")
    val vals = df.collect().map(_.getDouble(1)).sorted
    val est = Sketches.histogramQuantile(df, "k", "v", 0.0, 100.0, 64, Seq(0.9))
      .collect().head.getDouble(2)
    val exact = vals((0.9 * 3000).toInt - 1)
    assert(math.abs(est - exact) <= 100.0 / 64 + 1e-9, s"est=$est exact=$exact")
  }

  test("kmv: empty input produces no groups; empty-string values still hash") {
    assert(Sketches.kmvDistinct(Seq.empty[(String, String)].toDF("k", "v"),
      "k", "v", 16).isEmpty)
    val one = Sketches.kmvDistinct(Seq(("g", "")).toDF("k", "v"), "k", "v", 16)
      .collect().head
    assert(one.getLong(1) == 1L && one.getDouble(2) == 1.0)
  }

  // ------------------------------------------------ level-sampling quantiles

  private def qdf(n: Int, key: String = "g") =
    (1 to n).map(i => (key, i.toDouble, s"id_$i")).toDF("k", "v", "id")

  test("quantile sketch: below k the sketch IS the group — exact nearest-rank " +
    "answers at level 0") {
    val out = Sketches.quantileSketch(qdf(100), "k", "v", "id",
      k = 256, qs = Seq(0.25, 0.5, 0.75, 1.0)).collect()
      .map(r => r.getDouble(1) -> r).toMap
    out.values.foreach { r =>
      assert(r.getLong(2) == 100L && r.getLong(3) == 0L && r.getLong(4) == 100L)
    }
    // nearest-rank: value #ceil(q*n) of 1..100
    assert(out(0.25).getDouble(5) == 25.0)
    assert(out(0.5).getDouble(5) == 50.0)
    assert(out(0.75).getDouble(5) == 75.0)
    assert(out(1.0).getDouble(5) == 100.0)
  }

  test("quantile sketch: above k the sample is bounded by k, n stays exact, " +
    "and rank error is within the sampling band") {
    val n = 20000
    val k = 256
    val rows = Sketches.quantileSketch(qdf(n), "k", "v", "id",
      k = k, qs = Seq(0.1, 0.5, 0.9)).collect()
    rows.foreach { r =>
      val q = r.getDouble(1)
      assert(r.getLong(2) == n.toLong, "n must be exact")
      assert(r.getLong(3) > 0L, "level must have risen")
      assert(r.getLong(4) <= k.toLong, s"sample ${r.getLong(4)} exceeds k")
      // values are 1..n, so exact rank of est == est itself
      val target = math.max(1L, math.ceil(q * n).toLong)
      val err = math.abs(r.getDouble(5) - target)
      // 4 standard errors of the Bernoulli(2^-L) rank estimate ~ 4n/sqrt(k)
      assert(err <= 4.0 * n / math.sqrt(k.toDouble),
        s"q=$q est=${r.getDouble(5)} target=$target err=$err")
    }
  }

  test("quantile sketch: deterministic — any partitioning, same rows out") {
    val df = qdf(5000)
    val a = Sketches.quantileSketch(df.repartition(1), "k", "v", "id",
      k = 64, qs = Seq(0.5)).collect().head
    val b = Sketches.quantileSketch(df.repartition(13), "k", "v", "id",
      k = 64, qs = Seq(0.5)).collect().head
    assert(a == b)
  }

  test("quantile sketch: state round-trip answers identically to the " +
    "one-shot path") {
    val df = qdf(3000) union qdf(50, "h")
    val oneShot = Sketches.quantileSketch(df, "k", "v", "id",
      k = 128, qs = Seq(0.3, 0.7)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(5)).toMap
    val viaState = QuantileSketchStates.quantileFromState(
      QuantileSketchStates.quantileSketchState(df, "k", "v", "id", k = 128),
      Seq(0.3, 0.7)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(5)).toMap
    assert(oneShot == viaState)
  }

  test("quantile sketch merge: n adds exactly, size stays bounded, answers " +
    "stay within the error band; disjoint keys pass through") {
    val left = qdf(8000)
    val right = (8001 to 16000).map(i => ("g", i.toDouble, s"id_$i"))
      .toDF("k", "v", "id") union qdf(40, "only_right")
    val k = 128
    val merged = QuantileSketchStates.mergeQuantileStates(
      QuantileSketchStates.quantileSketchState(left, "k", "v", "id", k),
      QuantileSketchStates.quantileSketchState(right, "k", "v", "id", k), k)
    val g = merged.filter($"key" === "g").collect().head
    assert(g.getLong(1) == 16000L, "merged n must be the exact sum")
    assert(g.getSeq[Any](3).size <= k, "merged sample exceeds k")
    val ans = QuantileSketchStates.quantileFromState(merged, Seq(0.5))
      .filter($"key" === "g").collect().head.getDouble(5)
    assert(math.abs(ans - 8000.0) <= 4.0 * 16000 / math.sqrt(k.toDouble),
      s"merged median $ans too far from 8000")
    // the single-sided key survives with its exact small-group answers
    val or = QuantileSketchStates.quantileFromState(merged, Seq(0.5))
      .filter($"key" === "only_right").collect().head
    assert(or.getLong(2) == 40L && or.getLong(3) == 0L && or.getDouble(5) == 20.0)
  }

  /** Ids whose md5 trailing-zero levels TIE: `count` ids sharing one tz
    * value, with that value the maximum among them — the adversarial
    * input for the level clamp (unclamped, L = maxTz + 1 retains
    * NOTHING when more than k rows tie at the max level).
    */
  private def tiedMaxTzIds(count: Int): Seq[String] = {
    val h = Sketches.md5Hash32(col("id"))
    val rows = (1 to 2000).map(i => s"id_$i").toDF("id")
      .select(col("id"),
        when(h === 0L, lit(32))
          .otherwise(length(bin(h.bitwiseAND(-h))) - lit(1)).as("tz"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val byTz = rows.groupBy(_._2).filter(_._2.length >= count)
    assert(byTz.nonEmpty, "no tz class large enough — widen the id range")
    // the LARGEST qualifying tz, so the tied value is the group maximum
    byTz.maxBy(_._1)._2.sortBy(_._1).take(count).map(_._1).toIndexedSeq
  }

  test("quantile sketch: more than k rows tied at the maximum tz still " +
    "retain a sample (level clamps to max tz, answers never throw)") {
    val ids = tiedMaxTzIds(3)
    val df = ids.zipWithIndex.map { case (id, i) => ("g", (i + 1).toDouble, id) }
      .toDF("k", "v", "id")
    val out = Sketches.quantileSketch(df, "k", "v", "id",
      k = 2, qs = Seq(0.5, 1.0)).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(2) == 3L, "n must stay exact")
      assert(r.getLong(4) >= 1L, "sample must never be empty")
      assert(!r.isNullAt(5), "answer must not be null")
    }
  }

  test("quantile sketch merge: pooled rows tied at the maximum tz above k " +
    "keep a non-empty sample") {
    val ids = tiedMaxTzIds(3)
    def st(slice: Seq[(String, Int)]) = QuantileSketchStates.quantileSketchState(
      slice.map { case (id, i) => ("g", (i + 1).toDouble, id) }
        .toDF("k", "v", "id"),
      "k", "v", "id", k = 2)
    val indexed = ids.zipWithIndex
    val merged = QuantileSketchStates.mergeQuantileStates(
      st(indexed.take(2)), st(indexed.drop(2)), k = 2)
    val row = merged.collect().head
    assert(row.getLong(1) == 3L)
    assert(row.getSeq[Any](3).nonEmpty, "merged sample must never be empty")
    val ans = QuantileSketchStates.quantileFromState(merged, Seq(0.5)).collect().head
    assert(!ans.isNullAt(5))
  }

  test("quantile sketch merge: merging is a pure function of the two states " +
    "— swap order, same result") {
    val a = QuantileSketchStates.quantileSketchState(qdf(4000), "k", "v", "id", 64)
    val b = QuantileSketchStates.quantileSketchState(
      (4001 to 6000).map(i => ("g", i.toDouble, s"id_$i")).toDF("k", "v", "id"),
      "k", "v", "id", 64)
    val ab = QuantileSketchStates.mergeQuantileStates(a, b, 64).collect().head
    val ba = QuantileSketchStates.mergeQuantileStates(b, a, 64).collect().head
    assert(ab.getLong(1) == ba.getLong(1) && ab.getLong(2) == ba.getLong(2))
    assert(ab.getSeq[Any](3) == ba.getSeq[Any](3))
  }

  test("space-saving: exact when m >= distinct, eviction inherits minCount, " +
    "bounds hold under pressure") {
    val agg = new SpaceSavingAgg(3)
    // exact regime: 3 distinct tokens in capacity 3
    val exact = "a b a c b a".split(" ").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(exact) == Seq(("a", 3L, 0L), ("b", 2L, 0L), ("c", 1L, 0L)))
    // eviction: a 4th distinct token evicts the (count, token)-smallest
    // entry ("c", 1) and inherits its count as error
    val evicted = agg.reduce(exact, "d")
    val d = evicted.find(_._1 == "d").get
    assert(d == (("d", 2L, 1L)))
    assert(!evicted.exists(_._1 == "c"))
    // upper/lower bound invariant on a longer adversarial stream:
    // count >= true >= count - err for every surviving token
    val stream = ("x " * 10 + "y " * 6 + "z " * 3 + "p q r s t u v w").trim.split(" ")
    val truth = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val s = stream.foldLeft(agg.zero)(agg.reduce)
    assert(s.size <= 3)
    s.foreach { case (t, c, e) =>
      assert(c >= truth(t), s"$t upper")
      assert(c - e <= truth(t), s"$t lower")
    }
    // pigeonhole: x (freq 10 of 27 > n/(m+1) = 6.75) must be present
    assert(s.exists(_._1 == "x"))
  }

  test("space-saving merge: exact-regime merge is a pointwise sum; the MG " +
    "cut preserves upper bounds and drops at-cut entries") {
    val agg = new SpaceSavingAgg(3)
    val a = "a a b".split(" ").foldLeft(agg.zero)(agg.reduce)
    val b = "a c c".split(" ").foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(a, b)) ==
      Seq(("a", 3L, 0L), ("c", 2L, 0L), ("b", 1L, 0L)))
    // overflow merge: 4 combined tokens force the cut at the 4th lower
    // bound; kept uppers unchanged, errs absorb the cut
    val x = "a a a b b c".split(" ").foldLeft(agg.zero)(agg.reduce)
    val y = "d d e".split(" ").foldLeft(agg.zero)(agg.reduce)
    val m = agg.merge(x, y)
    val truth = Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 2L, "e" -> 1L)
    assert(m.size <= 3)
    m.foreach { case (t, c, e) =>
      assert(c >= truth(t) && c - e <= truth(t), s"$t bounds")
    }
    // lower bounds ranked a(3) > b(2) = d(2) > c(1) = e(1): cut = 1
    // (4th entry), so a/b/d survive with err +1 and c/e vanish
    assert(m.map(_._1).toSet == Set("a", "b", "d"))
    assert(m.find(_._1 == "a").get == (("a", 3L, 1L)))
    // merge of empties and identity
    assert(agg.merge(agg.zero, agg.zero).isEmpty)
    assert(agg.finish(agg.merge(a, agg.zero)).map(_._1) == Seq("a", "b"))
  }

  test("amsF2: exact F2 correct, estimate matches an independent md5 " +
    "sign replay, sketch-only path skips ground truth") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c b b")).toDF("doc_id", "text")
    val r = Sketches.amsF2(docs, "text", k = 16).collect()(0)
    // f = {a: 3, b: 3, c: 1} -> F2 = 9 + 9 + 1 = 19
    assert(r.getLong(0) == 16L && r.getLong(2) == 19L)
    // independent replay of the md5 sign convention (first 8 hex chars
    // -> parity), written without reference to the production column
    val toks = Seq("a", "a", "b", "a", "c", "b", "b")
    def sign(j: Int, t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j|$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      1L - 2L * (java.lang.Long.parseLong(hex, 16) % 2L)
    }
    val est = (0 until 16).map { j =>
      val z = toks.map(sign(j, _)).sum; z.toDouble * z
    }.sum / 16.0
    assert(r.getDouble(1) == est)
    assert(r.getDouble(3) == BigDecimal(math.abs(est - 19.0) / 19.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // sketch-only regime: same estimate, no ground-truth branch
    val s = Sketches.amsF2(docs, "text", k = 16, includeExact = false).collect()(0)
    assert(s.getDouble(1) == est && s.isNullAt(2) && s.isNullAt(3))
  }
}
