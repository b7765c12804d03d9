package graft.graph

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SpecTools}

/** SCC contracts: mutual-reachability equivalence classes labeled by
  * their minimum member, against hand graphs and a brute-force
  * transitive-closure oracle — directed semantics (a one-way bridge
  * does NOT merge), trim handling of DAG regions, self-loops,
  * determinism.
  */
class SccSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "scc-spec")
  import spark.implicits._

  private def scc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Scc.run(edges.toDF("s", "d"), "s", "d")
      .as[(Long, Long)].collect().toMap

  test("two cycles joined by a one-way bridge stay separate components") {
    val got = scc(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (3L, 10L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("a pure DAG dissolves into singletons (the trim path)") {
    val got = scc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("self-loops are singletons; a mutual pair merges; cycles sharing " +
      "a vertex are ONE component") {
    val got = scc(Seq(
      (5L, 5L),
      (7L, 8L), (8L, 7L),
      (20L, 21L), (21L, 20L), (21L, 22L), (22L, 21L)))
    assert(got == Map(5L -> 5L, 7L -> 7L, 8L -> 7L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("chain OF cycles: coloring retires one SCC layer per round but " +
      "labels them all correctly") {
    // 3 two-cycles in a directed chain: (1,2) -> (3,4) -> (5,6)
    val got = scc(Seq(
      (1L, 2L), (2L, 1L), (2L, 3L),
      (3L, 4L), (4L, 3L), (4L, 5L),
      (5L, 6L), (6L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L))
  }

  test("null endpoints drop end-to-end — no (null, null) singleton rows") {
    val got = Scc.run(
      Seq[(java.lang.Long, java.lang.Long)](
        (1L, 2L), (2L, 1L), (null, 3L), (3L, null))
        .toDF("s", "d"), "s", "d")
      .as[(Long, Long)].collect().toMap
    // node 3 keeps its row (its null-sided edges vanish, leaving it
    // isolated-in-edge-list => singleton via trim)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  // the brute-force oracle: Floyd-Warshall reachability over the
  // endpoints, each labeled by the least node it reaches both ways
  private def bruteForce(arcs: Seq[(Long, Long)]): Map[Long, Long] = {
    val present = arcs.flatMap(e => Seq(e._1, e._2)).distinct
    val at = present.zipWithIndex.toMap
    val n = present.size
    val reach = Array.fill(n, n)(false)
    arcs.foreach { case (a, b) => reach(at(a))(at(b)) = true }
    (0 until n).foreach(i => reach(i)(i) = true)
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    present.map { v =>
      v -> present.filter(u => reach(at(u))(at(v)) && reach(at(v))(at(u))).min
    }.toMap
  }

  test("matches a brute-force transitive-closure oracle on a hash-random " +
      "graph; deterministic under repartitioning; empty graph is empty") {
    val n = 24
    val arcs = (0 until 90).map { i =>
      (((i * 2654435761L) % n).abs, ((i * 40503L + 7) % n).abs)
    }.distinct
    val got = scc(arcs)
    assert(got == bruteForce(arcs))
    val again = Scc.run(arcs.toDF("s", "d").repartition(7), "s", "d")
      .as[(Long, Long)].collect().toMap
    assert(again == got)
    assert(Scc.run(
      Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d").count() == 0L)
  }

  test("the outer peel ends on counts observed in its checkpoints: no " +
      "emptiness probe job") {
    // 2-cycles chained 1→3→5→7: coloring labels the whole chain 1, and
    // confinement retires one 2-cycle per outer round — four rounds
    val arcs = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L),
      (5L, 6L), (6L, 5L), (6L, 7L), (7L, 8L), (8L, 7L))
    var got: Map[Long, Long] = null
    val names = SpecTools.actionsOf(spark) { got = scc(arcs) }
    assert(got == bruteForce(arcs))
    assert(!names.exists(_.contains("isEmpty at Scc.scala")), names.mkString("\n"))
  }
}
