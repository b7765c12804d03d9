package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Structural-statistics contracts: hand-computed link-prediction scores,
  * assortativity on graphs with known r (star = −1, regular = undefined),
  * modularity on the two-triangle barbell — plus canonicalization and the
  * keyed-join plan pin for the wedge enumeration.
  */
class StructureSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "structure-spec")
  import spark.implicits._

  test("link prediction: square scores both diagonals, nothing else") {
    // 1-2-3-4-1: non-adjacent pairs (1,3) and (2,4), each with two
    // shared degree-2 neighbors -> cn 2, aa 2/ln 2, ra 1.0
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("x", "y")
    val got = Structure.linkPrediction(sq, "x", "y", minCommon = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((1L, 3L), (2L, 4L)))
    val aa = math.rint(2.0 / math.log(2.0) * 1e6) / 1e6
    assert(got((1L, 3L)) == ((2L, aa, 1.0)))
    assert(got((2L, 4L)) == ((2L, aa, 1.0)))
  }

  test("link prediction: path endpoints, adjacency exclusion, minCommon cut") {
    // 1-2-3: only (1,3) via the degree-2 middle; minCommon=2 empties it
    val path = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
    val one = Structure.linkPrediction(path, "x", "y", minCommon = 1).collect()
    assert(one.length == 1)
    assert((one(0).getLong(0), one(0).getLong(1), one(0).getLong(2)) == ((1L, 3L, 1L)))
    assert(one(0).getDouble(3) == math.rint(1.0 / math.log(2.0) * 1e6) / 1e6)
    assert(one(0).getDouble(4) == 0.5)
    assert(Structure.linkPrediction(path, "x", "y", minCommon = 2).count() == 0)
    // triangle: every pair adjacent -> empty at any threshold
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("x", "y")
    assert(Structure.linkPrediction(tri, "x", "y", minCommon = 1).count() == 0)
  }

  test("link prediction: maxDegree drops hub wedges; messy input canonicalizes") {
    // star hub 0 (deg 5) plus rim edge 1-2: pairs through the hub exist
    // at maxDegree default, vanish when the cap excludes the hub
    val star = ((1L to 5L).map(i => (0L, i)) :+ ((1L, 2L))).toDF("x", "y")
    val full = Structure.linkPrediction(star, "x", "y", minCommon = 1)
    assert(full.count() == 9L) // C(5,2) rim pairs minus adjacent (1,2)
    val capped = Structure.linkPrediction(star, "x", "y", minCommon = 1, maxDegree = 4L)
    // only wedges through rim nodes survive: 1 and 2 (deg 2 each) share
    // no non-adjacent pair beyond those through the hub -> empty
    assert(capped.count() == 0L)
    // duplicate spellings must not inflate degrees or wedge counts
    // and neither may null endpoints
    val messy = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (None, Some(2L)), (None, None)).toDF("x", "y")
    val r = Structure.linkPrediction(messy, "x", "y", minCommon = 1).collect()
    assert(r.length == 1 && r(0).getLong(2) == 1L)
    assert(r(0).getDouble(4) == 0.5) // middle deg 2, not 3 or 4
  }

  test("link prediction plan: every join keyed, no cartesian under the wedge") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val plan = Structure.linkPrediction(e, "x", "y").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("neighborhoodJaccard: scores adjacent AND non-adjacent pairs, " +
    "open-neighborhood semantics, hand values on the square + diagonal") {
    // square 1-2-3-4-1 plus diagonal 1-3: degrees 1:3, 2:2, 3:3, 4:2
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("x", "y")
    val got = Structure.neighborhoodJaccard(g, "x", "y", minCommon = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getBoolean(5), r.getDouble(6)))).toMap
    // (1,3): adjacent, shares {2,4}: J = 2/(3+3-2) = 0.5
    assert(got((1L, 3L)) == ((2L, true, 0.5)))
    // (2,4): non-adjacent, shares {1,3}: J = 2/(2+2-2) = 1.0 (identical
    // open neighborhoods - the structural-equivalence readout)
    assert(got((2L, 4L)) == ((2L, false, 1.0)))
    // (1,2): adjacent, shares {3}: J = 1/(3+2-1) = 0.25
    assert(got((1L, 2L)) == ((1L, true, 0.25)))
    // pendant edges share nothing: a path's end pair never appears
    val path = Seq((1L, 2L)).toDF("x", "y")
    assert(Structure.neighborhoodJaccard(path, "x", "y", minCommon = 1)
      .count() == 0)
  }

  test("assortativity: star is -1, cycle is undefined, barbell-pendant -0.714286") {
    val star = (1L to 4L).map(i => (0L, i)).toDF("x", "y")
    val s = Structure.assortativity(star, "x", "y").collect()(0)
    assert((s.getLong(0), s.getLong(1), s.getDouble(2)) == ((5L, 4L, -1.0)))
    // 4-cycle: degree-regular -> zero variance -> null
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("x", "y")
    assert(Structure.assortativity(cyc, "x", "y").collect()(0).isNullAt(2))
    // triangle + pendant: hand-computed moments give -5/7
    val tp = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    assert(Structure.assortativity(tp, "x", "y").collect()(0).getDouble(2) == -0.714286)
  }

  test("modularity: two-triangle barbell scores 0.178571 per side") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("x", "y")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("v", "c")
    val got = Structure.modularity(edges, "x", "y", labels, "v", "c").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // per side: 3 nodes, 3 intra of 7 edges, degree mass 7,
    // q = 3/7 - (7/14)^2 = 0.178571
    assert(got(0L) == ((3L, 3L, 7L, 0.178571)))
    assert(got(1L) == ((3L, 3L, 7L, 0.178571)))
    // the whole graph in one community is exactly the null model: Q = 0
    val oneC = labels.select(col("v"), lit(0L).as("c"))
    val whole = Structure.modularity(edges, "x", "y", oneC, "v", "c").collect()
    assert(whole.length == 1 && whole(0).getDouble(4) == 0.0)
  }

  test("modularity: unlabeled nodes drop with their incident edges") {
    // label only the left triangle: bridge 3-4 and right side leave m
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("x", "y")
    val labels = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("v", "c")
    val got = Structure.modularity(edges, "x", "y", labels, "v", "c").collect()
    // labeled subgraph = the triangle alone: m = 3, e_c = 3, d_c = 6
    // q = 1 - 1 = 0
    assert(got.length == 1)
    assert((got(0).getLong(1), got(0).getLong(2), got(0).getLong(3),
      got(0).getDouble(4)) == ((3L, 3L, 6L, 0.0)))
  }
}
