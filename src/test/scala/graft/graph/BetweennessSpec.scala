package graft.graph

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SpecTools}

/** Betweenness contracts: hand-computed exact values (path, star, and a
  * fractional-σ cycle), the pivot estimator's exactness on a
  * vertex-transitive graph (the n/k scaling proof-by-symmetry), seeded
  * determinism, and messy-input canonicalization.
  */
class BetweennessSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "betweenness-spec")
  import spark.implicits._

  private def bc(
      edges: Seq[(Long, Long)], pivots: Int = 0, seed: Long = 42L): Map[Long, Double] =
    Betweenness.run(edges.toDF("x", "y"), "x", "y", pivots, seed)
      .as[(Long, Double)].collect().toMap

  private def approxEq(a: Map[Long, Double], b: Map[Long, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) < 1e-9 }

  test("path P4: interior vertices broker 2 pairs each, endpoints 0") {
    val out = bc(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(approxEq(out, Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0)))
  }

  test("star: the hub brokers every leaf pair — C(4,2) = 6") {
    val out = bc(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    assert(approxEq(out,
      Map(0L -> 6.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0)))
  }

  test("cycle C6: fractional sigma — diametric pairs split over 2 paths, BC = 2") {
    // per vertex v: the adjacent-pair (v-1, v+1) routes fully through v
    // (+1), and the two distance-3 pairs straddling v each have TWO
    // shortest paths, one through v (+1/2 +1/2) — exercises σ > 1
    val c6 = (0L until 6L).map(i => (i, (i + 1) % 6))
    val out = bc(c6)
    assert(out.keySet == (0L until 6L).toSet)
    assert(out.values.forall(v => math.abs(v - 2.0) < 1e-9))
  }

  test("unbiasedness, exactly: singleton-pivot estimates average to exact BC") {
    // E[estimate] = exact under uniform pivot choice; with the n/k scale
    // that identity is EXACT when averaged over all n singletons:
    // (1/n)·Σ_s (n/1)·½·δ_s(v) = ½·Σ_s δ_s(v). Checked deterministically
    // via explicit pivots on a graph with fractional σ (C6's diametric
    // pairs split over two shortest paths)
    val c6 = (0L until 6L).map(i => (i, (i + 1) % 6))
    val exact = bc(c6)
    val singles = (0L until 6L).map { s =>
      Betweenness.runPivots(c6.toDF("x", "y"), "x", "y", Seq(s))
        .as[(Long, Double)].collect().toMap
    }
    val avg = singles.flatMap(_.toSeq).groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).sum / 6.0 }
    assert(approxEq(avg, exact))
    // explicit all-nodes pivot set is exact Brandes
    assert(approxEq(
      Betweenness.runPivots(c6.toDF("x", "y"), "x", "y", 0L until 6L)
        .as[(Long, Double)].collect().toMap,
      exact))
  }

  test("pivot sampling: unbiased direction and seeded determinism") {
    // barbell: two K3s joined by a path — bridge vertices dominate
    val g = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // K3 left
      (4L, 5L), (5L, 6L), (4L, 6L), // K3 right
      (3L, 7L), (7L, 4L)) // bridge through 7
    val exact = bc(g)
    // 7 sits on every cross pair's unique shortest path: 3·3 pairs via
    // (1,2,3)x(4,5,6) counted once + ... hand value: pairs through 7 =
    // left{1,2,3} x right{4,5,6} = 9
    assert(math.abs(exact(7L) - 9.0) < 1e-9)
    // all-pivots run equals pivots = n equals pivots = 0
    assert(approxEq(bc(g, pivots = 7), exact))
    // same seed -> bit-identical; both estimates stay non-negative
    val s1 = bc(g, pivots = 3, seed = 7L)
    val s2 = bc(g, pivots = 3, seed = 7L)
    assert(s1 == s2)
    assert(s1.values.forall(_ >= 0.0))
  }

  test("messy input: duplicates, both orientations, self-loops canonicalize") {
    val clean = bc(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val messy = Betweenness.run(Seq[(Option[Long], Option[Long])](
        (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(2L), Some(3L)),
        (Some(3L), Some(2L)), (Some(3L), Some(4L)), (Some(3L), Some(4L)),
        (Some(2L), Some(2L)),
        (Some(2L), None), (None, None)) // null endpoints dropped
      .toDF("x", "y"), "x", "y").as[(Long, Double)].collect().toMap
    assert(approxEq(messy, clean))
  }

  test("the all-pivots path counts its node set once, inside its checkpoint") {
    // pivots = 0 makes every node a pivot, so k = n needs no count job
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    var out: Map[Long, Double] = null
    val names = SpecTools.actionsOf(spark) { out = bc(path) }
    assert(approxEq(out, Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0)))
    var wout: Map[Long, Double] = null
    val wnames = SpecTools.actionsOf(spark) { wout = wbc(path.map(e => (e._1, e._2, 1.0))) }
    assert(approxEq(wout, out))
    val counts = (names ++ wnames).filter(_.contains("count at Betweenness.scala"))
    assert(counts.isEmpty, (names ++ wnames).mkString("\n"))
  }

  test("empty and edgeless inputs return empty frames") {
    assert(bc(Seq.empty).isEmpty)
    assert(bc(Seq((5L, 5L))).isEmpty) // only a self-loop: no real edges
  }

  private def wbc(
      edges: Seq[(Long, Long, Double)], pivots: Int = 0): Map[Long, Double] =
    Betweenness.runWeighted(edges.toDF("x", "y", "w"), "x", "y", "w", pivots)
      .as[(Long, Double)].collect().toMap

  test("runWeighted: cost routing changes brokerage where hop routing " +
      "is blind — the asymmetric square; w ≡ 1 reproduces the " +
      "unweighted run; zero weights rejected") {
    // square 1-2-4-3-1: cheap side 1-2-4 (1+1), dear side 1-3-4 (2+2).
    // Hop betweenness sees two equal diagonals (0.5 everywhere);
    // cost betweenness routes (1,4) through 2 alone (B=1), leaves 3 a
    // pure endpoint (B=0), and splits (2,3)'s tie across 1 and 4.
    val square = Seq((1L, 2L, 1.0), (2L, 4L, 1.0), (1L, 3L, 2.0), (3L, 4L, 2.0))
    val w = wbc(square)
    assert(approxEq(w, Map(1L -> 0.5, 2L -> 1.0, 3L -> 0.0, 4L -> 0.5)), w.toString)
    val unw = bc(square.map(e => (e._1, e._2)))
    assert(approxEq(unw, Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5, 4L -> 0.5)))
    // w ≡ 1 ≡ unweighted, on a graph with real structure (P4 + a star)
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (0L, 1L), (0L, 3L), (0L, 5L))
    assert(approxEq(wbc(g.map(e => (e._1, e._2, 1.0))), bc(g)))
    // fractional sigma: C6's diametric split survives the weighted path
    val c6 = (0L until 6L).map(i => (i, (i + 1) % 6, 1.0))
    assert(approxEq(wbc(c6), bc(c6.map(e => (e._1, e._2)))))
    val ex = intercept[IllegalArgumentException] {
      wbc(Seq((1L, 2L, 1.0), (2L, 3L, 0.0)))
    }
    assert(ex.getMessage.contains("strictly positive"))
  }

  test("runWeighted: parallel edges keep the MIN weight, duplicates/" +
      "orientations canonicalize, and the pivot estimator replays " +
      "deterministically") {
    // the 5.0 parallel edge on 1-2 must lose to the 1.0 one: same
    // answers as the square test's exact run
    val g = Seq((1L, 2L, 1.0), (2L, 1L, 5.0), (2L, 4L, 1.0),
      (1L, 3L, 2.0), (4L, 3L, 2.0), (3L, 3L, 9.0))
    val w = wbc(g)
    assert(approxEq(w, Map(1L -> 0.5, 2L -> 1.0, 3L -> 0.0, 4L -> 0.5)), w.toString)
    val a = wbc(g, pivots = 2)
    assert(a == wbc(g, pivots = 2), "same pivots/seed must replay bit-identically")
  }

  test("runWeighted: the δ fixpoint settles near the DAG depth when σ " +
      "ratios are fractional (no last-ulp jitter keeps it changing)") {
    // 150 nodes with small-integer costs: many equal-cost paths, so the
    // δ terms are fractional and a sum in arrival order jitters
    val rnd = new scala.util.Random(1)
    val e = Seq.fill(700)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .map { case (x, y) => (x, y, (1 + (x + y) % 7).toDouble) }
      .toDF("x", "y", "w")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val got = Betweenness.runWeighted(e, "x", "y", "w", maxRounds = 20).collect()
      assert(got.nonEmpty && got.forall(r => r.getDouble(1) >= 0.0))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
