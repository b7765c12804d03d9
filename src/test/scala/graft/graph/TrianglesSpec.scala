package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Triangle-counting contracts: hand-computable counts on known graphs,
  * canonicalization of messy inputs (duplicates, both orientations,
  * self-loops), the zero cases, and the scale-shape pin — every join in
  * the plan is keyed, no cartesian/nested-loop anywhere (the property
  * the degree ordering exists to preserve under skew).
  */
class TrianglesSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "triangles-spec")
  import spark.implicits._

  private def count(edges: Seq[(Long, Long)]): (Long, Long, Long) =
    countDf(edges.toDF("x", "y"))

  private def countDf(edges: DataFrame): (Long, Long, Long) = {
    val r = Triangles.count(edges, "x", "y").collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("K4 has 4 triangles; adding a pendant vertex adds none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count(k4) == (4L, 6L, 4L))
    assert(count(k4 :+ ((4L, 9L))) == (5L, 7L, 4L))
  }

  test("two triangles sharing one vertex count independently") {
    val bowtie = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    assert(count(bowtie) == (5L, 6L, 2L))
  }

  test("triangle-free graphs: path, star (the skew shape), empty") {
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == (4L, 3L, 0L))
    // star: one high-degree hub, zero triangles — the celebrity case
    assert(count((1L to 20L).map(i => (0L, i))) == (21L, 20L, 0L))
    assert(count(Seq.empty) == (0L, 0L, 0L))
  }

  test("input canonicalization: duplicates, reversed orientations, self-loops") {
    val messy = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)), // one edge, three spellings
      (Some(2L), Some(3L)), (Some(3L), Some(1L)),
      (Some(2L), Some(2L)), (Some(3L), Some(3L)), // self-loops dropped
      (Some(3L), None), (None, None)) // null endpoints dropped
    assert(countDf(messy.toDF("x", "y")) == (3L, 3L, 1L))
  }

  test("perNode: coefficients exact on K3 + pendant, corner credit sums " +
      "to 3x the global count") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("x", "y")
    val got = Triangles.perNode(edges, "x", "y").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, 0.333333)))
    assert(got(4L)._1 == 1L && got(4L)._2 == 0L && got(4L)._3.isNaN)
    // credit conservation vs the global counter on a denser graph
    val dense = (for {
      a <- 1L to 8L; b <- (a + 1) to 8L if (a + b) % 3 != 0
    } yield (a, b)).toDF("x", "y")
    val global = Triangles.count(dense, "x", "y").collect()(0).getLong(2)
    val perN = Triangles.perNode(dense, "x", "y")
      .agg(org.apache.spark.sql.functions.sum("triangles")).collect()(0).getLong(0)
    assert(perN == 3L * global)
  }

  test("every join is keyed: no cartesian or nested-loop in the plan") {
    val df = Triangles.count(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("x", "y"), "x", "y")
    // the final 1-row combine is three single-row crossJoins (bounded by
    // construction); the EDGE-scaled joins must all be hash/merge joins
    val plan = df.queryExecution.optimizedPlan.toString
    val cartesians = "(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).size
    assert(cartesians <= 2, s"edge-scaled cartesian leaked into:\n$plan")
    assert(df.collect()(0).getLong(2) == 1L)
  }
}
