package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, min, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, Iterate, SpecTools}
import graft.SpecTools.{closing, codeOnly, enclosingDef, mainSources}

/** Round-driver contracts: the observation-driven stop matches a
  * count-driven loop round for round, an already-stable init returns
  * after one round, the round bound throws by name, and no count job
  * runs inside the loop — in the driver and in its peel and
  * longest-path callers. The fixed-count driver matches a hand-written
  * checkpoint loop and runs one checkpoint job per round; LabelProp on
  * it runs one checkpoint execution per round and no count. No round
  * loop in src/main checkpoints a DataFrame outside [[Iterate]] unless
  * its scaladoc says why.
  *
  * The spec sits beside `Iterate` in src/test/scala/graft and keeps the
  * graph package: most of its cases drive graph-tier callers.
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

  private def actionsOf(body: => Unit): Seq[String] = SpecTools.actionsOf(spark)(body)

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

  test("peel and longest-path callers submit no count or head job per round") {
    // path 0-1-…-9 at k=2: the core is empty, peeled from both ends one
    // vertex a round (5 peeling rounds + the stable one)
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("x", "y")
    var core: Array[org.apache.spark.sql.Row] = null
    val kcore = actionsOf { core = KCore.decompose(path, "x", "y", 2).collect() }
    assert(core.isEmpty)
    val fromKCore = kcore.filter(_.contains("KCore.scala"))
    assert(!fromKCore.exists(n => n.contains("count at") || n.contains("head at")),
      kcore.mkString("\n"))
    // chain 0→1→…→9: ten layering rounds; the node count is observed
    // inside the node table's checkpoint, so no count job runs at all
    var layers: Map[Long, Long] = null
    val dag = actionsOf {
      layers = Dag.longestPathLayer(path, "x", "y").as[(Long, Long)].collect().toMap
    }
    assert(layers == (0L to 9L).map(i => i -> i).toMap)
    val reads = dag.filter(n => n.contains("Dag.scala") &&
      (n.contains("count at") || n.contains("head at")))
    assert(reads.isEmpty, dag.mkString("\n"))
  }

  test("LabelProp submits no count: one checkpoint execution per round") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L))
      .toDF("x", "y")
    for (rounds <- Seq(2, 4)) {
      val names = actionsOf { LabelProp.run(g, "x", "y", rounds).collect() }
      assert(!names.exists(_.contains("count at")), names.mkString("\n"))
      // the adjacency and round 1 (one aggregate), then one per later round
      val checkpoints = names.count(_.contains("localCheckpoint at Iterate.scala"))
      assert(checkpoints == rounds + 1, names.mkString("\n"))
      assert(names.size == checkpoints + 1, names.mkString("\n")) // + the collect
    }
  }

  // x ← ½x + ¼·Σ neighbours: doubles whose every bit depends on the round
  private def smooth(ed: DataFrame)(x: DataFrame): DataFrame =
    x.join(ed.join(x.select(col("v").as("w"), col("x").as("__n")), Seq("w"))
        .groupBy("v").agg(sum(col("__n")).as("__s")), Seq("v"))
      .select(col("v"), (col("x") * 0.5 + col("__s") * 0.25).as("x"))

  private def xs(df: DataFrame): Map[Long, Double] =
    df.select("v", "x").as[(Long, Double)].collect().toMap

  private def x0: DataFrame = (0L to 6L).map(i => (i, (i * i).toDouble / 7.0)).toDF("v", "x")

  test("fixedRounds: same values as a hand-written checkpoint loop") {
    val ed = chain.localCheckpoint(true)
    var ref = x0.localCheckpoint(true)
    (1 to 5).foreach(_ => ref = smooth(ed)(ref).localCheckpoint(true))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val got = Iterate.fixedRounds(x0, 5, "smooth") { (x, r) => seen += r; smooth(ed)(x) }
    assert(seen == (1 to 5))
    assert(xs(got) == xs(ref))
    assert(xs(got) != xs(x0))
  }

  test("fixedRounds: one checkpoint job per round plus the init, no count") {
    val ed = chain.localCheckpoint(true)
    val names = actionsOf { Iterate.fixedRounds(x0, 4, "smooth")((x, _) => smooth(ed)(x)) }
    assert(names.size == 5, names.mkString("\n"))
    assert(names.forall(_.contains("localCheckpoint at")), names.mkString("\n"))
  }

  test("fixedRounds: zero rounds returns init without calling step") {
    val got = Iterate.fixedRounds(x0, 0, "none") { (_, _) => fail("step called") }
    assert(xs(got) == xs(x0))
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

  // round loops left outside Iterate (file → enclosing def); each def's
  // scaladoc says why it does not run on a round driver
  private val outsideIterate = Set(
    "Bfs.scala" -> "hops",
    "Centrality.scala" -> "hyperBallLoop",
    "Scc.scala" -> "run",
    "TextAnalysis.scala" -> "bpeTrain")

  test("no round loop in src/main checkpoints a DataFrame outside Iterate") {
    import java.nio.file.Files
    val files = mainSources().filter(_.getFileName.toString != "Iterate.scala")
    val loopHead = "\\b(while|for)\\s*\\(".r
    // (file, enclosing def, loop header, def scaladoc) of every
    // while/for loop whose body checkpoints, directly or counted
    val loops = files.flatMap { p =>
      val text = Files.readString(p)
      val code = codeOnly(text)
      loopHead.findAllMatchIn(code).flatMap { m =>
        val cond = closing(code, code.indexOf('(', m.start), '(', ')')
        val at = code.indexWhere(c => !c.isWhitespace, cond)
        val body =
          if (at >= 0 && code(at) == '{') code.substring(at, closing(code, at, '{', '}'))
          else code.substring(cond, math.max(cond, code.indexOf('\n', cond)))
        if (!body.contains("localCheckpoint(") && !body.contains("checkpointCounted(")) None
        else {
          val owner = enclosingDef(code, m.start)
          val name = owner.fold("<none>")(_._1)
          // the scaladoc right above the enclosing def, or ""
          val doc = owner.fold("") { case (_, defAt) =>
            val start = text.lastIndexOf("/**", defAt)
            val close = text.indexOf("*/", math.max(start, 0))
            if (start < 0 || close > defAt ||
                !text.substring(close + 2, defAt).trim.matches("((private|protected)(\\[\\w+\\])?|final|override|\\s)*"))
              ""
            else text.substring(start, close)
          }
          Some((p.getFileName.toString, name, text.substring(m.start, cond), doc))
        }
      }
    }
    val offenders = loops.filterNot(l => outsideIterate((l._1, l._2)))
    assert(offenders.isEmpty,
      "round loops that checkpoint outside Iterate (move them onto fixedRounds/untilStable, " +
        "or allowlist them with a reason in their scaladoc):\n" +
        offenders.map(l => s"${l._1} ${l._2}: ${l._3}").mkString("\n"))
    val found = loops.map(l => (l._1, l._2)).toSet
    assert(outsideIterate.subsetOf(found),
      s"allowlisted loops no longer found: ${outsideIterate -- found}")
    val undocumented = loops.filter(l => !l._4.contains("Iterate"))
    assert(undocumented.isEmpty,
      s"allowlisted loops whose scaladoc does not say why they stay off Iterate: " +
        undocumented.map(l => s"${l._1} ${l._2}").mkString(", "))
  }
}
