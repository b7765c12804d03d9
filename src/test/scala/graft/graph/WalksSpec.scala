package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Random-walk corpus contracts: determinism (the md5 seed replaces the
  * RNG), walk-shape invariants (every step moves along a real edge), the
  * forced path on a 2-node graph, and canonicalization.
  */
class WalksSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "walks-spec")
  import spark.implicits._

  test("two-node path: walks provably alternate, full length, both starts") {
    val e = Seq((1L, 2L)).toDF("x", "y")
    val got = Walks.randomWalks(e, "x", "y", walksPerNode = 2, length = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got.size == 2 * 2 * 4)
    // the only neighbor is the other node: 1 -> 2 -> 1 -> 2
    for (w <- 0L to 1L; s <- 0L to 3L) {
      assert(got((1L, w, s)) == (if (s % 2 == 0) 1L else 2L))
      assert(got((2L, w, s)) == (if (s % 2 == 0) 2L else 1L))
    }
  }

  test("K4 walks: deterministic across runs, every hop is a real edge") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("x", "y")
    def run() = Walks.randomWalks(k4, "x", "y", walksPerNode = 3, length = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val a = run()
    assert(a.toSeq == run().toSeq) // pure function of the position
    assert(a.length == 4 * 3 * 6)
    // step 0 is the start; every later hop crosses an edge (K4: any
    // distinct pair) and never stays put
    a.groupBy(t => (t._1, t._2)).values.foreach { walk =>
      val seq = walk.sortBy(_._3).map(_._4)
      assert(seq.head == walk.head._1)
      seq.sliding(2).foreach(w => assert(w(0) != w(1)))
    }
  }

  test("canonicalization: self-loops drop; a loop-only node never walks") {
    val messy = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(3L), Some(3L)),
      (Some(4L), None), (None, None)).toDF("x", "y") // null endpoints dropped
    val starts = Walks.randomWalks(messy, "x", "y", walksPerNode = 1, length = 3)
      .select(col("start")).distinct().as[Long].collect().toSet
    assert(starts == Set(1L, 2L))
  }
}
