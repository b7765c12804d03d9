package graft.graph

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit, min, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Fixpoint-driver contracts: the observation-driven stop matches a
  * count-driven loop round for round, an already-stable init returns
  * after one round, the round bound throws by name, and no count job
  * runs inside the loop.
  */
class IterateSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, "iterate-spec")
  import spark.implicits._

  // chain 0-1-…-6 as a doubled adjacency (v, w)
  private def chain: DataFrame = {
    val e = (0L until 6L).map(i => (i, i + 1))
    (e ++ e.map(_.swap)).toDF("v", "w")
  }

  // min-label propagation: each node adopts the least label among itself
  // and its improved neighbours; on the chain label 0 walks one hop a round
  private def init: DataFrame =
    (0L to 6L).map(i => (i, i, true)).toDF("v", "lbl", "__imp")

  private def step(ed: DataFrame)(s: DataFrame, round: Int): DataFrame = {
    val cand = s.filter(col("__imp")).join(ed, Seq("v"))
      .select(col("w").as("v"), col("lbl"))
    s.select(col("v"), col("lbl"), lit(false).as("__cand"))
      .unionAll(cand.select(col("v"), col("lbl"), lit(true).as("__cand")))
      .groupBy(col("v"))
      .agg(min(col("lbl")).as("lbl"), min(when(!col("__cand"), col("lbl"))).as("__old"))
      .select(col("v"), col("lbl"), (col("lbl") < col("__old")).as("__imp"))
  }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select("v", "lbl").as[(Long, Long)].collect().toSet

  test("observation-driven stop: same rounds and rows as a count-driven loop") {
    val ed = chain.localCheckpoint(true)
    // the loop the driver replaces: checkpoint, then a separate count job
    var ref = init.localCheckpoint(true)
    var refRounds = 0
    var improved = 1L
    while (improved > 0L) {
      refRounds += 1
      ref = step(ed)(ref, refRounds).localCheckpoint(true)
      improved = ref.filter(col("__imp")).count()
    }
    var rounds = 0
    val got = Iterate.untilStable(init, 64, "chain") { (s, r) =>
      rounds = r
      step(ed)(s, r)
    }
    assert(rounds == refRounds && rounds == 7)
    assert(got.columns.toSeq == Seq("v", "lbl"))
    assert(rows(got) == rows(ref))
    assert(rows(got) == (0L to 6L).map(i => (i, 0L)).toSet)
  }

  test("an init with no improved rows returns after one round") {
    val ed = chain.localCheckpoint(true)
    val stable = init.withColumn("__imp", lit(false))
    var calls = 0
    val got = Iterate.untilStable(stable, 64, "stable") { (s, r) =>
      calls += 1
      step(ed)(s, r)
    }
    assert(calls == 1)
    assert(rows(got) == (0L to 6L).map(i => (i, i)).toSet)
  }

  test("still improving past maxRounds throws naming what and maxRounds") {
    val ed = chain.localCheckpoint(true)
    // 6 improving rounds + 1 stable round: 6 is one round short
    val ex = intercept[IllegalStateException] {
      Iterate.untilStable(init, 6, "chainLabels")(step(ed))
    }
    assert(ex.getMessage.contains("chainLabels"), ex.getMessage)
    assert(ex.getMessage.contains("maxRounds=6"), ex.getMessage)
    assert(rows(Iterate.untilStable(init, 7, "chainLabels")(step(ed))).size == 7)
    // two steps per round: 7 steps fit in ⌈7/2⌉ = 4 rounds, 5 do not
    def twice(s: DataFrame, r: Int): DataFrame =
      step(ed)(step(ed)(s, r).select("v", "lbl", "__imp"), r)
    assert(rows(Iterate.untilStable(init, 7, "twice", stepsPerRound = 2)(twice)).size == 7)
    val ex2 = intercept[IllegalStateException] {
      Iterate.untilStable(init, 5, "twice", stepsPerRound = 2)(twice)
    }
    assert(ex2.getMessage.contains("maxRounds=5"), ex2.getMessage)
  }

  // call sites ("<action> at File.scala:N") of the SQL executions `body`
  // starts — job-level stage names are AQE's async submit threads
  private def actionsOf(body: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => names.add(e.description)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is async; poll until quiescent
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = -1
      while (System.nanoTime() < deadline && names.size != last) {
        last = names.size; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    names.asScala.toSeq
  }

  test("no count job is submitted from inside the loop") {
    val ed = chain.localCheckpoint(true)
    var rounds = 0
    val names = actionsOf {
      Iterate.untilStable(init, 64, "chain") { (s, r) =>
        rounds = r
        step(ed)(s, r)
      }
    }
    assert(rounds == 7)
    // the init checkpoint, then one checkpoint per round
    assert(names.size == rounds + 1, names.mkString("\n"))
    assert(!names.exists(_.contains("count at")), names.mkString("\n"))
    // the listener does see the count of a count-driven round
    val refNames = actionsOf {
      step(ed)(init, 1).localCheckpoint(true).filter(col("__imp")).count()
    }
    assert(refNames.exists(_.contains("count at")), refNames.mkString("\n"))
  }

  test("odd maxRounds bounds relax steps in the three min-plus callers") {
    // 4-hop weighted path 0-1-2-3-4: 4 improving relax steps and a
    // fifth that improves nothing, so maxRounds = 5 is exactly enough
    val path = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0), (3L, 4L, 4.0))
      .toDF("x", "y", "w")
    val at = Seq(0.0, 1.0, 3.0, 6.0, 10.0)

    val sssp = Bfs.sssp(path, "x", "y", "w", 0L, maxRounds = 5)
      .as[(Long, Double)].collect().toMap
    assert(sssp == at.zipWithIndex.map { case (d, v) => v.toLong -> d }.toMap)

    val pairs = Centrality.weightedAllPairsDistances(path, "x", "y", "w", maxRounds = 5)
      .select("p", "v", "dist").as[(Long, Long, Double)].collect().toSet
    assert(pairs == (for (p <- 0 to 4; v <- 0 to 4)
      yield (p.toLong, v.toLong, math.abs(at(p) - at(v)))).toSet)

    // exact Brandes on a path: node i brokers i·(4 − i) unordered pairs
    val bc = Betweenness.runWeighted(path, "x", "y", "w", maxRounds = 5)
      .as[(Long, Double)].collect().toMap
    assert(bc == (0 to 4).map(i => i.toLong -> (i * (4 - i)).toDouble).toMap)

    def throwsNaming(what: String)(body: => Any): Unit = {
      val ex = intercept[IllegalStateException](body)
      assert(ex.getMessage.contains(what) && ex.getMessage.contains("maxRounds=3"),
        ex.getMessage)
    }
    throwsNaming("sssp")(Bfs.sssp(path, "x", "y", "w", 0L, maxRounds = 3).collect())
    throwsNaming("weightedAllPairsDistances")(
      Centrality.weightedAllPairsDistances(path, "x", "y", "w", maxRounds = 3).collect())
    throwsNaming("runWeighted")(
      Betweenness.runWeighted(path, "x", "y", "w", maxRounds = 3).collect())
  }
}
