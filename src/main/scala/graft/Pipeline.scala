package graft

import graft.graph.{Criticality, Eaul, RoadGraph, Routing}
import graft.sources.OsmXml
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** §3.1 — the reference's five-stage indicator pipeline (`indicators.sh`)
  * as ONE runnable program over an OSM road network + OD points: graph
  * build → criticality indicator → EAUL sweep → indicator merge → CSV +
  * GeoJSON egress. The reference exchanged every arrow through `.tmp`
  * files and S3 between separate node processes; here each stage is a
  * DataFrame handed to the next.
  *
  * Spark work is spent only where the routing is. The OSM input is parsed
  * in one job into driver-local frames, which feed both the graph build
  * and the merge base. The two sweeps (criticality, EAUL) run one task
  * per core and are materialized once as driver-local frames, so the
  * merge, the writes and the summary counts never re-run their routing
  * and the counts start no job.
  *
  * Usage: `sbt "runMain graft.Pipeline <osmDir> <outDir>"` — with no args,
  * runs the grid(6) demo network end-to-end (writes to a temp dir).
  */
object Pipeline {

  def run(spark: SparkSession, osmDir: String, outDir: String): Unit = {
    // stage 1-2: ingest + graph build (base-network + preparation)
    val (nodesDf, waysDf) = OsmXml.read(spark, osmDir)
    val g = RoadGraph.fromOsm(spark, nodesDf, waysDf)
    require(g.numNodes > 0, s"no OSM nodes under $osmDir: the road network is empty")
    // OD points: the four extreme nodes + center snap (stand-in for the
    // od.geojson ingest — callers with real OD data snap the same way)
    val od = Array(
      0,
      g.numNodes - 1,
      g.snap(g.nodeLon.sum / g.numNodes, g.nodeLat.sum / g.numNodes))

    // stage 3: criticality indicator (way_id, score)
    val wayStats = Criticality.waysStats(spark, g, od)
    val criticality = Criticality.scoreStats(wayStats)
      .select(col("way_id"), round(col("score"), 2).as("score"))

    // stage 4: EAUL (flood stats default-zero when no stats table rides
    // along; real runs pass the flood-stats maps)
    val stats = Eaul.FloodStats(
      Map.empty.withDefaultValue(Map.empty),
      Map.empty.withDefaultValue(Map.empty))
    val yearly = Array.fill(od.length, od.length)(100.0 * 365)
    val eaul = Eaul.sweep(spark, g, stats, od, yearly, Set.empty)

    // stage 5: merge onto the road network + egress
    val rn = waysDf.select(
      col("tags")("NAME").as("NAME"),
      col("tags")("RUC").cast("double").as("RUC"))
    val merged = operators.Relational.mergeIndicators(
      rn, "NAME",
      Seq("crit" -> criticality))
    // one row per way: one CSV file, in road-network order
    merged.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$outDir/indicators")
    eaul.write.mode("overwrite").json(s"$outDir/eaul")
    // both sweep frames are driver-local: collecting them starts no job
    println(s"[pipeline] ways=${g.ways.length} nodes=${g.numNodes} " +
      s"criticality_rows=${wayStats.collect().length} eaul_rows=${eaul.collect().length} -> $outDir")
  }

  /** Serialize the grid(6) demo network to OSM XML in `dir` (a fresh
    * temp dir by default) — the self-contained input for demo runs and
    * the end-to-end spec, which passes a dir it deletes.
    */
  def demoOsmDir(
      dir: java.nio.file.Path = java.nio.file.Files.createTempDirectory("pipeline-osm")): String = {
    val nodes = graft.graph.DemoNetwork.grid(6)._1
    val osmNodes = (0 until nodes.numNodes).map(i => OsmXml.OsmNode(i.toLong, nodes.nodeLon(i), nodes.nodeLat(i)))
    val osmWays = nodes.ways.map { w =>
      // recover endpoints from the CSR for serialization
      val e = (0 until nodes.numNodes).flatMap { s =>
        (nodes.indptr(s) until nodes.indptr(s + 1))
          .filter(ei => nodes.wayOfEdge(ei) == w.idx)
          .map(ei => (s.toLong, nodes.nbr(ei).toLong))
      }.head
      OsmXml.OsmWay(w.osmId, Seq(e._1, e._2),
        Map("NAME" -> w.name, "RUC" -> w.ruc.toString, "length" -> w.lengthM.toString,
          "SURF_TYPE" -> w.surface, "ROAD_CLASS" -> w.roadClass))
    }
    OsmXml.write(osmNodes, osmWays.toSeq, dir.resolve("net.osm").toString)
    dir.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-pipeline")
    val (osmDir, outDir) = args match {
      case Array(i, o) => (i, o)
      case _ =>
        (demoOsmDir(), java.nio.file.Files.createTempDirectory("pipeline-out").toString)
    }
    run(spark, osmDir, outDir)
    spark.stop()
  }
}
