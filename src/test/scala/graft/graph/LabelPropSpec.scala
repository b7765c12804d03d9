package graft.graph

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Sync-LPA contracts: min-label tie rule, simultaneous (not in-place)
  * update, community convergence on separable structure, the round-0
  * identity, oscillation on bipartite structure (why the round budget
  * is the contract), and round-for-round agreement with the
  * `row_number` pick on tie-heavy random multigraphs.
  */
class LabelPropSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "labelprop-spec")
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LabelProp.run(edges.toDF("x", "y"), "x", "y", rounds)
      .as[(Long, Long)].collect().toMap

  test("two cliques with one bridge: each converges to its min label") {
    val a = for (i <- 0L until 4L; j <- i + 1 until 4L) yield (i, j)
    val b = for (i <- 10L until 14L; j <- i + 1 until 14L) yield (i, j)
    val g = a ++ b ++ Seq((3L, 10L))
    val l = run(g, 5)
    assert((0L until 4L).forall(l(_) == 0L), s"clique A: $l")
    assert((10L until 14L).forall(l(_) == 10L), s"clique B: $l")
  }

  test("round 0 is the identity labelling; one round adopts the min neighbour") {
    val tri = Seq((5L, 7L), (7L, 9L), (5L, 9L))
    assert(run(tri, 0) == Map(5L -> 5L, 7L -> 7L, 9L -> 9L))
    // each vertex's neighbour labels are distinct singletons -> min wins
    assert(run(tri, 1) == Map(5L -> 7L, 7L -> 5L, 9L -> 5L))
  }

  test("tie rule: equal counts resolve to the smallest label") {
    // 100 sits between cliques {1,2,3} and {4,5,6} with equal pull after
    // round 1 (each clique converges to its min: 1 and 4) -> 100 takes 1
    val a = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val b = Seq((4L, 5L), (5L, 6L), (4L, 6L))
    val g = a ++ b ++ Seq((100L, 1L), (100L, 4L))
    assert(run(g, 3)(100L) == 1L)
  }

  test("bipartite oscillation: a single edge swaps labels every round") {
    val e = Seq((1L, 2L))
    assert(run(e, 1) == Map(1L -> 2L, 2L -> 1L))
    assert(run(e, 2) == Map(1L -> 1L, 2L -> 2L)) // swapped back
    assert(run(e, 3) == Map(1L -> 2L, 2L -> 1L))
  }

  // the per-round pick LabelProp.run replaced: a (v, label) count, then
  // a per-vertex row_number over (count desc, label asc); returns the
  // labelling after every round 0..rounds
  private def referenceRounds(edges: DataFrame, rounds: Int): Seq[Set[Row]] = {
    val e = edges
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val ed = e.select(col("a").as("v"), col("b").as("w"))
      .unionAll(e.select(col("b").as("v"), col("a").as("w")))
      .localCheckpoint(true)
    val byV = Window.partitionBy(col("v")).orderBy(col("cnt").desc, col("lbl").asc)
    val init = ed.select(col("v")).distinct().withColumn("lbl", col("v")).localCheckpoint(true)
    Iterator.iterate(init) { cur =>
      ed.join(cur.select(col("v").as("w"), col("lbl")), Seq("w"))
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(byV))
        .filter(col("__rn") === 1)
        .select(col("v"), col("lbl"))
        .localCheckpoint(true)
    }.take(rounds + 1).map(_.collect().toSet).toSeq
  }

  // sparse multigraph: repeated pairs and self-loops, degrees ~3, so most
  // vertices see several labels at the same count every round
  private def multigraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    Seq.fill(90)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
  }

  test("the one-exchange pick equals the row_number pick for rounds 0-6, Long and String ids") {
    for (seed <- Seq(7L, 21L)) {
      val pairs = multigraph(seed)
      // "n10" < "n9": string order differs from the numeric one
      val graphs = Seq(
        "Long" -> pairs.toDF("x", "y"),
        "String" -> pairs.map { case (a, b) => (s"n$a", s"n$b") }.toDF("x", "y"))
      for ((kind, g) <- graphs) {
        val ref = referenceRounds(g, 6)
        for (r <- 0 to 6) {
          val got = LabelProp.run(g, "x", "y", r).collect().toSet
          assert(got == ref(r), s"seed $seed, $kind ids, round $r")
        }
      }
    }
  }
}
