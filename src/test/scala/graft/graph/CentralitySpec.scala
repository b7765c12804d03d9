package graft.graph

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CentralitySpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "centrality-spec")

  test("distanceCentralities: hand-computed path + disconnected pair, " +
      "canonicalization, empty input") {
    import spark.implicits._
    // path 0-1-2 plus a separate edge 10-11 (disconnected component),
    // with a dup orientation, a self-loop and null endpoints to pin
    // canonicalization
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(0L), Some(1L)), (Some(1L), Some(2L)), (Some(1L), Some(0L)), (Some(3L), Some(3L)),
      (Some(10L), Some(11L)), (Some(4L), None), (None, None))
      .toDF("a", "b")
    val out = Centrality.distanceCentralities(edges, "a", "b")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // node 1: reaches 0 and 2 at distance 1
    assert(out(1L) == ((1L, 2L, 2L, 1.0, 2.0)))
    // node 0: reaches 1 (d=1) and 2 (d=2): closeness 2/3, harmonic 1.5
    assert(out(0L) == ((0L, 2L, 3L, 0.666667, 1.5)))
    assert(out(2L) == out(0L).copy(_1 = 2L))
    // disconnected pair: sees only each other — the harmonic form
    // never touches the other component
    assert(out(10L) == ((10L, 1L, 1L, 1.0, 1.0)))
    assert(out(11L) == ((11L, 1L, 1L, 1.0, 1.0)))
    // self-loop-only node 3 and null-sided node 4 are isolated: no row
    assert(out.keySet == Set(0L, 1L, 2L, 10L, 11L))
    assert(Centrality.distanceCentralities(
      edges.filter(lit(false)), "a", "b").count() == 0L)
  }

  test("weightedDistanceCentralities: cost distances (not hops) drive the " +
      "normalization; w ≡ 1 reproduces the unweighted tier; zero and " +
      "negative weights are rejected up front") {
    import spark.implicits._
    // triangle 0-1-2 with a heavy direct edge: d(0,2) = 3 via 1, not 10
    // direct — hop closeness would call 0-2 adjacent; cost disagrees
    val edges = Seq(
      (0L, 1L, 1.0), (1L, 2L, 2.0), (0L, 2L, 10.0),
      (2L, 0L, 12.0), // dup orientation, heavier: min binds (10), still loses to 3
      (5L, 5L, 1.0)) // self-loop drops
      .toDF("a", "b", "w")
    val out = Centrality.weightedDistanceCentralities(edges, "a", "b", "w")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // node 0: d(0,1)=1, d(0,2)=3 → sum 4, closeness 0.5, harmonic 1+1/3
    assert(out(0L) == ((0L, 2L, 4.0, 0.5, 1.333333)))
    // node 1: d=1 and d=2 → sum 3, closeness 2/3, harmonic 1.5
    assert(out(1L) == ((1L, 2L, 3.0, 0.666667, 1.5)))
    // node 2: d(2,1)=2, d(2,0)=3 → sum 5, closeness 0.4, harmonic 1/2+1/3
    assert(out(2L) == ((2L, 2L, 5.0, 0.4, 0.833333)))
    assert(!out.contains(5L))
    // w ≡ 1 degenerates to the unweighted tier on the path 0-1-2
    val path = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val unw = Centrality.distanceCentralities(path, "a", "b")
      .select(col("node"), col("n_reached"), col("sum_dist").cast("double"),
        col("closeness"), col("harmonic"))
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    val wtd = Centrality.weightedDistanceCentralities(
      path.withColumn("w", lit(1.0)), "a", "b", "w")
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    assert(unw == wtd)
    val exZero = intercept[IllegalArgumentException] {
      Centrality.weightedDistanceCentralities(
        Seq((0L, 1L, 0.0)).toDF("a", "b", "w"), "a", "b", "w")
    }
    assert(exZero.getMessage.contains("strictly positive"))
    val exNeg = intercept[IllegalArgumentException] {
      Centrality.weightedDistanceCentralities(
        Seq((0L, 1L, 1.0), (1L, 2L, -2.0)).toDF("a", "b", "w"), "a", "b", "w")
    }
    assert(exNeg.getMessage.contains("strictly positive"))
  }

  test("weightedEccentricity: ecc is the max COST distance (diameter/" +
      "radius read off the column); disconnected components stay " +
      "separate; w ≡ 1 matches hop eccentricity") {
    import spark.implicits._
    // path 0-1-2 with costs 1, 2 plus shortcut 0-2 cost 10 (loses to 3)
    val edges = Seq(
      (0L, 1L, 1.0), (1L, 2L, 2.0), (0L, 2L, 10.0),
      (10L, 11L, 7.0))
      .toDF("a", "b", "w")
    val out = Centrality.weightedEccentricity(edges, "a", "b", "w")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) == ((2L, 3.0))) // farthest: 2 at cost 3 (not 10)
    assert(out(1L) == ((2L, 2.0)))
    assert(out(2L) == ((2L, 3.0)))
    assert(out(10L) == ((1L, 7.0)) && out(11L) == ((1L, 7.0)))
    // diameter (max ecc) = 7 via the isolated pair, radius = 2 at node 1
    val eccs = out.values.map(_._2)
    assert(eccs.max == 7.0 && eccs.min == 2.0)
    // w ≡ 1 on a 4-path: ecc = hop eccentricity 3,2,2,3
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
      .withColumn("w", org.apache.spark.sql.functions.lit(1.0))
    val hops = Centrality.weightedEccentricity(path, "a", "b", "w")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(hops == Map(0L -> 3.0, 1L -> 2.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("harmonicHyperBall tracks exact harmonic on the gate graph " +
      "(p = 8: median relative error < 0.2) and replays deterministically") {
    import spark.implicits._
    val edges = graft.Tables.orders(spark, "/root/testdata/sf0.01")
      .filter(col("o_orderkey") % 29 === 0)
      .select(
        (col("o_custkey") % 150).as("x"),
        (col("o_orderkey") % 150).as("y"))
    val exact = Centrality.distanceCentralities(edges, "x", "y")
      .select(col("node"), col("harmonic"), col("n_reached"))
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    val est = Centrality.harmonicHyperBall(edges, "x", "y", p = 8)
      .as[(Long, Double, Double)].collect()
    assert(est.length == exact.size) // same vertex set
    val relErrs = est.map { case (n, h, _) =>
      math.abs(h - exact(n)._2) / exact(n)._2
    }.sorted
    val medianErr = relErrs(relErrs.length / 2)
    assert(medianErr < 0.2, s"median relative error $medianErr")
    // reached_est: the ball estimate minus self tracks exact n_reached
    est.foreach { case (n, _, r) =>
      val ex = exact(n)._3.toDouble
      assert(math.abs(r - ex) / ex < 0.3, s"node $n reached_est $r vs $ex")
    }
    // md5-replayable: a second run is bit-identical
    val est2 = Centrality.harmonicHyperBall(edges, "x", "y", p = 8)
      .as[(Long, Double, Double)].collect()
    assert(est.sortBy(_._1).toSeq == est2.sortBy(_._1).toSeq)
  }

  test("effectiveDiameterHyperBall: a clique saturates by t=1, a path's " +
      "estimate tracks the exact neighborhood function, deterministic, " +
      "empty input") {
    import spark.implicits._
    // clique on 8 nodes: N(1) = N(∞), so the interpolated crossing sits
    // inside (0, 1]
    val clique = (for {
      i <- 0L until 8L; j <- (i + 1) until 8L
    } yield (i, j)).toDF("a", "b")
    val dc = Centrality.effectiveDiameterHyperBall(clique, "a", "b", p = 8)
      .as[(Double, Long, Double)].collect().head
    assert(dc._1 == 0.9)
    assert(dc._3 > 0.0 && dc._3 <= 1.0, s"clique eff diameter ${dc._3}")
    // path 0-1-...-19: exact diameter 19; exact N(t)/N(inf) crossing of
    // 0.9 sits at t where sum over nodes of min-ball sizes crosses —
    // compute the exact effective diameter and allow the HLL p=8 band
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    val n = 20
    def ballExact(t: Int): Long =
      (0 until n).map(v => (math.min(v + t, n - 1) - math.max(v - t, 0) + 1).toLong).sum
    val nfin = ballExact(n - 1).toDouble
    val target = 0.9 * nfin
    val tc = (0 until n).find(t => ballExact(t) >= target).get
    val exact =
      if (tc == 0) 0.0
      else (tc - 1) + (target - ballExact(tc - 1)) /
        (ballExact(tc) - ballExact(tc - 1)).toDouble
    val dp = Centrality.effectiveDiameterHyperBall(path, "a", "b", p = 8)
      .as[(Double, Long, Double)].collect().head
    assert(math.abs(dp._3 - exact) / exact < 0.25,
      s"path eff diameter est ${dp._3} vs exact $exact")
    // deterministic under repartitioning
    val again = Centrality.effectiveDiameterHyperBall(
      path.repartition(5), "a", "b", p = 8)
      .as[(Double, Long, Double)].collect().head
    assert(again == dp)
    assert(Centrality.effectiveDiameterHyperBall(
      path.filter(lit(false)), "a", "b").count() == 0L)
  }

  test("eigenvectorCentrality: satisfies the eigen equation after " +
      "convergence, respects symmetry and degree order, pins the " +
      "bipartite period-2 oscillation, deterministic") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4 on 1 — non-bipartite, converges
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val x = Centrality.eigenvectorCentrality(edges, "a", "b", iters = 30)
      .as[(Long, Double)].collect().toMap
    // symmetric pair equal; hub has the max; pendant is the weakest
    assert(x(2L) == x(3L))
    assert(x(1L) == 1.0)
    assert(x(4L) < x(2L) && x(2L) < 1.0)
    // independent check — the eigen equation A·x = λ·x with λ = max(A·x)
    // (||x||∞ = 1): residual shrinks geometrically, tiny by 30 rounds
    val nbrs = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L))
    val ax = nbrs.map { case (v, ns) => v -> ns.map(x).sum }
    val lambda = ax.values.max
    val residual = ax.map { case (v, s) => math.abs(s - lambda * x(v)) }.max
    assert(residual < 1e-4, s"eigen residual $residual")
    // bipartite (star) component oscillates with period 2 — even iters
    // land on the all-ones state, the DOCUMENTED semantics
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L)).toDF("a", "b")
    val even = Centrality.eigenvectorCentrality(star, "a", "b", iters = 8)
      .as[(Long, Double)].collect().toMap
    assert(even.values.forall(_ == 1.0))
    val odd = Centrality.eigenvectorCentrality(star, "a", "b", iters = 7)
      .as[(Long, Double)].collect().toMap
    assert(odd(10L) == 1.0 && odd(11L) < 1.0)
    // deterministic under repartitioning
    val again = Centrality.eigenvectorCentrality(
      edges.repartition(5), "a", "b", iters = 30)
      .as[(Long, Double)].collect().toMap
    assert(again == x)
  }

  test("eigenvectorCentrality weighted: w ≡ 1 matches the unweighted " +
      "path exactly; weights order the leaves; orientations and " +
      "parallel edges sum; satisfies the weighted eigen equation") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val unw = Centrality.eigenvectorCentrality(edges, "a", "b", iters = 12)
      .as[(Long, Double)].collect().toMap
    val ones = Centrality.eigenvectorCentrality(
      edges.withColumn("w", lit(1.0)), "a", "b", iters = 12,
      weightCol = Some("w")).as[(Long, Double)].collect().toMap
    assert(ones == unw, "w ≡ 1 must reproduce the unweighted scores")
    // weighted triangle (non-bipartite, so it converges; mild weight
    // spread keeps |λ₂|/λ₁ ≈ 0.7 — a heavy dominant edge would be
    // near-bipartite and converge too slowly to assert on): unweighted
    // the three vertices tie — the WEIGHTS alone order them
    val tri = Seq((1L, 2L, 2.0), (1L, 3L, 1.5), (2L, 3L, 1.0))
      .toDF("a", "b", "w")
    val xs = Centrality.eigenvectorCentrality(tri, "a", "b", iters = 40,
      weightCol = Some("w")).as[(Long, Double)].collect().toMap
    assert(xs(1L) == 1.0 && xs(1L) > xs(2L) && xs(2L) > xs(3L), xs.toString)
    // weighted eigen equation A_w·x = λ·x, λ = max since ||x||∞ = 1
    val wn = Map(
      1L -> Seq((2L, 2.0), (3L, 1.5)),
      2L -> Seq((1L, 2.0), (3L, 1.0)),
      3L -> Seq((1L, 1.5), (2L, 1.0)))
    val ax = wn.map { case (v, ns) =>
      v -> ns.map { case (u, w) => w * xs(u) }.sum }
    val lambda = ax.values.max
    assert(ax.map { case (v, s) => math.abs(s - lambda * xs(v)) }.max < 1e-4)
    // both orientations + parallel edges sum into one undirected tie
    val split = Seq((1L, 2L, 2.0), (2L, 1L, 3.0), (1L, 3L, 5.0))
      .toDF("a", "b", "w")
    val merged = Seq((1L, 2L, 5.0), (1L, 3L, 5.0)).toDF("a", "b", "w")
    val xSplit = Centrality.eigenvectorCentrality(split, "a", "b", iters = 8,
      weightCol = Some("w")).as[(Long, Double)].collect().toMap
    val xMerged = Centrality.eigenvectorCentrality(merged, "a", "b", iters = 8,
      weightCol = Some("w")).as[(Long, Double)].collect().toMap
    assert(xSplit == xMerged)
  }

  test("the exact, HyperBall and weighted all-pairs loops branch on the " +
      "adjacency's own row count: no emptiness probe job") {
    import spark.implicits._
    val path = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    var sizes = Seq.empty[Long]
    val names = graft.SpecTools.actionsOf(spark) {
      sizes = Seq(
        Centrality.distanceCentralities(path, "a", "b").count(),
        Centrality.harmonicHyperBall(path, "a", "b").count(),
        Centrality.weightedAllPairsDistances(
          path.withColumn("w", lit(1.0)), "a", "b", "w").count())
    }
    assert(sizes == Seq(3L, 3L, 9L))
    assert(!names.exists(_.contains("isEmpty at Centrality.scala")), names.mkString("\n"))
  }
}
