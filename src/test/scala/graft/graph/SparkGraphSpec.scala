package graft.graph

import graft.{GraftSession, TempDirs}
import graft.sources.OsmXml
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Spark-side graph ops: G1 build (coord dedup → nodes/edges), the
  * Catalyst route-matrix operator, criticality scoring, EAUL sweep — on the
  * golden network.
  */
class SparkGraphSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "graph-spec")

  private def featuresDf = {
    import spark.implicits._
    GoldenNetwork.wayDefs.map { case (name, (s, d), _, ruc) =>
      val (lon1, lat1) = GoldenNetwork.nodeCoords(s)
      val (lon2, lat2) = GoldenNetwork.nodeCoords(d)
      (name, name, ruc, Seq(Seq(lon1, lat1), Seq(lon2, lat2)))
    }.toDF("way_id", "name", "ruc", "coords")
  }

  test("G1: coordinate-rounding dedup builds 9 nodes / 10 edges") {
    val (nodes, edges) = RoadGraph.buildTables(featuresDf)
    assert(nodes.count() == 9)
    assert(edges.count() == 10)
  }

  test("G7: criticality scores — segment 1 maximal, segment 10 severs C pairs") {
    val scores = Criticality
      .scores(spark, GoldenNetwork.graph, GoldenNetwork.odNodes)
      .collect()
      .map(r => r.getAs[String]("way_id") -> r.getAs[Double]("score"))
      .toMap
    // segment 1 severs A from everything: 2 unroutable pairs (A-B, A-C) +
    // B-C unaffected → highest unroutable count ties with segment 10
    assert(scores("1") == 100.0 || scores("1") > scores("4"))
    assert(scores.values.forall(s => s >= 0 && s <= 100))
    // segments on parallel alternates (4,7) have no unroutable pairs
    assert(scores("4") < scores("1"))
  }

  test("G7 scoring matches an independent naive reimplementation") {
    // naive scorer derived directly from criticality.js:93-110 + 232-303,
    // written without reference to the production code path
    val (g, od) = DemoNetwork.grid(5)
    val bench = Routing.routeMatrixLocal(g, od)
    case class S(name: String, unroutable: Int, impacted: Int, avgNonZero: Double)
    val stats = g.ways.indices.map { w =>
      val res = Routing.routeMatrixLocal(g, od, i => if (i == w) Double.PositiveInfinity else 1.0)
      var unroutable = 0
      var impacted = 0
      var deltas = List.empty[Double]
      res.zip(bench).foreach { case (o, b) =>
        if (!o.routable) unroutable += 1
        else {
          val dT = o.ruc.get - b.ruc.getOrElse(0.0)
          if (dT >= 0) deltas ::= dT
          if (dT > 0) impacted += 1
          if (dT < 0) unroutable += 1
        }
      }
      val nz = deltas.count(_ != 0.0)
      S(g.ways(w).name, unroutable, impacted, if (nz == 0) 0.0 else deltas.sum / nz)
    }
    val avgMaxTime = stats.map(s => (s.unroutable + s.impacted) * s.avgNonZero).max
    val maxUnroutable = stats.map(_.unroutable).max
    val expected = stats.map { s =>
      val t = if (avgMaxTime == 0) 0.0 else (s.unroutable + s.impacted) * s.avgNonZero / avgMaxTime
      val u = if (maxUnroutable == 0) 0.0 else s.unroutable.toDouble / maxUnroutable
      s.name -> (t * 0.4 + u * 0.6) * 100
    }.toMap
    val got = Criticality.scores(spark, g, od)
      .collect().map(r => r.getAs[String]("way_id") -> r.getAs[Double]("score")).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (name, score) =>
      assert(math.abs(score - expected(name)) < 1e-9, s"way $name: $score vs ${expected(name)}")
    }
  }

  test("G8-G10: distributed EAUL sweep returns 10 ways × 3 upgrades + baseline") {
    import spark.implicits._
    val df = Eaul.sweep(
      spark,
      GoldenNetwork.graph,
      GoldenNetwork.floodStats,
      GoldenNetwork.odNodes,
      GoldenNetwork.yearlyTraffic,
      GoldenNetwork.noTraffic).toDF()
    val rows = df.collect()
    assert(rows.length == 31)
    val baseline = rows.find(_.getAs[String]("way_id") == "baseline").get.getAs[Double]("eaul")
    val up23 = rows.filter(r => Seq("2", "3").contains(r.getAs[String]("way_id")) && r.getAs[String]("upgrade") == "upgrade-rehab-asphalt")
    up23.foreach(r => assert(r.getAs[Double]("eaul") > baseline))
  }

  // `body`'s result and the stages it ran
  private def submittedStages[A](body: => A): (A, Seq[StageInfo]) = {
    val submitted = new ConcurrentLinkedQueue[StageInfo]()
    val completed = new AtomicInteger()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = submitted.add(e.stageInfo)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = completed.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      val r = body
      // listener delivery is async; wait until every submitted stage has completed
      val deadline = System.nanoTime() + 10_000_000_000L
      while (System.nanoTime() < deadline && (submitted.isEmpty || completed.get < submitted.size))
        Thread.sleep(50)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    (result, submitted.asScala.toSeq)
  }

  test("sweep results are materialized once: count and write run no fan-out stage") {
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    val out = tempDir("sweep-out").toString
    val (grid, gridOd) = DemoNetwork.grid(6)
    // 30 EAUL scenarios on the golden network, 60 criticality ones on grid(6)
    val sweeps = Seq[(String, () => DataFrame)](
      "eaul" -> (() => Eaul.sweep(
        spark, GoldenNetwork.graph, GoldenNetwork.floodStats, GoldenNetwork.odNodes,
        GoldenNetwork.yearlyTraffic, GoldenNetwork.noTraffic).toDF()),
      "criticality" -> (() => Criticality.scores(spark, grid, gridOd)))
    sweeps.foreach { case (name, sweep) =>
      val (df, fanOut) = submittedStages(sweep())
      // one slice per core, not one task per scenario
      assert(fanOut.nonEmpty && fanOut.map(_.numTasks).max <= parallelism,
        s"$name: fan-out task counts ${fanOut.map(_.numTasks)}")
      val (_, stages) = submittedStages {
        df.count()
        df.write.mode("overwrite").json(s"$out/$name")
      }
      val tasks = stages.map(_.numTasks)
      assert(tasks.nonEmpty, name)
      // a re-run fan-out would read the sweep's own parallelized scenarios
      val rerun = stages.flatMap(_.rddInfos.map(_.callSite))
        .filter(c => c.startsWith("parallelize at Eaul.scala") || c.startsWith("parallelize at Criticality.scala"))
      assert(rerun.isEmpty, s"$name: fan-out RDDs in the count and write stages: $rerun")
      assert(tasks.max <= parallelism, s"$name: stage task counts $tasks, defaultParallelism $parallelism")
    }
  }

  private def osmGraph(ways: Seq[OsmXml.OsmWay]): CsrGraph = {
    val dir = tempDir("osm-bad")
    val nodes = Seq(OsmXml.OsmNode(1, 0.0, 0.0), OsmXml.OsmNode(2, 0.01, 0.0))
    OsmXml.write(nodes, ways, dir.resolve("net.osm").toString)
    val (nDf, wDf) = OsmXml.read(spark, dir.toString)
    RoadGraph.fromOsm(spark, nDf, wDf)
  }

  test("fromOsm names the way and the bad value: a dangling nd ref, a non-numeric, negative, NaN or infinite RUC") {
    val bad = Seq(
      OsmXml.OsmWay(7, Seq(1L, 2L, 99L), Map("RUC" -> "1.0")) -> "ref 99") ++
      Seq("abc", "-1.5", "NaN", "Infinity").map(ruc => OsmXml.OsmWay(7, Seq(1L, 2L), Map("RUC" -> ruc)) -> ruc)
    bad.foreach { case (way, value) =>
      val e = intercept[IllegalArgumentException](osmGraph(Seq(way)))
      assert(e.getMessage.contains("way 7") && e.getMessage.contains(value), e.getMessage)
    }
    // a zero RUC is a valid (free) cost
    assert(osmGraph(Seq(OsmXml.OsmWay(7, Seq(1L, 2L), Map("RUC" -> "0")))).cost.forall(_ == 0.0))
  }

  test("custom Catalyst operator: RouteMatrixExec plans, composes, and matches the kernel") {
    val g = GoldenNetwork.graph
    val df = graft.plans.RouteMatrixPlan.routeMatrix(spark, g, GoldenNetwork.odNodes)
    // the custom physical operator is what actually plans
    // nodeName strips the Exec suffix in plan strings
    assert(df.queryExecution.executedPlan.toString.contains("RouteMatrix"))
    assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[graft.plans.RouteMatrixExec]))
    val rows = df.collect()
    val local = Routing.routeMatrixLocal(g, GoldenNetwork.odNodes)
    assert(rows.length == local.length)
    local.foreach { p =>
      val r = rows.find(r => r.getInt(0) == p.oIdx && r.getInt(1) == p.dIdx).get
      assert(r.getBoolean(2) == p.routable)
      if (p.routable) assert(math.abs(r.getDouble(3) - p.ruc.get) < 1e-12)
    }
    // Catalyst composes on top: filter + aggregate over the custom leaf
    val routable = df.filter(col("routable")).count()
    assert(routable > 0 && routable == local.count(_.routable))
  }

  test("G2→G1: OSM-shaped ingestion routes the golden network at 3.75") {
    val dir = tempDir("osm-golden")
    val nodes = GoldenNetwork.nodeCoords.zipWithIndex.map { case ((lon, lat), i) =>
      OsmXml.OsmNode(100 + i, lon, lat)
    }
    val ways = GoldenNetwork.wayDefs.zipWithIndex.map { case ((name, (s, d), lenM, ruc), i) =>
      OsmXml.OsmWay(
        200 + i,
        Seq(100L + s, 100L + d),
        Map("NAME" -> name, "RUC" -> ruc.toString, "length" -> lenM.toString,
          "SURF_TYPE" -> "Unpaved", "ROAD_CLASS" -> "Tertiary"))
    }
    OsmXml.write(nodes, ways, dir.resolve("golden.osm").toString)
    val (nDf, wDf) = OsmXml.read(spark, dir.toString)
    val g = RoadGraph.fromOsm(spark, nDf, wDf)
    val od = Array(g.snap(0.0, 0.0), g.snap(0.026949474, 0.0), g.snap(0.017966316, 0.004491579))
    val ab = Routing.routeMatrixLocal(g, od).find(p => p.oIdx == 0 && p.dIdx == 1).get
    assert(math.abs(ab.ruc.get - 3.75) < 0.01)
    // tag normalization followed utils.js defaults
    assert(g.ways.forall(w => w.surface == "unpaved" && w.roadClass == "tertiary"))
  }

  test("S9: OSM XML parse round-trip on a synthetic snippet") {
    val xml =
      """<?xml version="1.0"?>
        |<osm version="0.6">
        |<node id="1" lat="0.0" lon="0.0"/>
        |<node id="2" lat="0.0" lon="1.0"/>
        |<way id="10"><nd ref="1"/><nd ref="2"/><tag k="NAME" v="seg-a"/><tag k="RUC" v="1.5"/></way>
        |</osm>""".stripMargin
    val dir = tempDir("osm").toFile
    val fw = new java.io.FileWriter(new java.io.File(dir, "net.osm"))
    fw.write(xml); fw.close()
    val (nodes, ways) = OsmXml.read(spark, dir.getAbsolutePath)
    assert(nodes.count() == 2)
    val w = ways.collect().head
    assert(w.getAs[Long]("way_id") == 10L)
    assert(w.getAs[Map[String, String]]("tags")("NAME") == "seg-a")
    assert(w.getAs[scala.collection.Seq[Long]]("nodes").toSeq == Seq(1L, 2L))
  }
}
