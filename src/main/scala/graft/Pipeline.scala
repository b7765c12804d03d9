package graft

import graft.graph.{Criticality, CsrGraph, Eaul, RoadGraph}
import graft.sources.OsmXml
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** §3.1 — the reference's five-stage indicator pipeline (`indicators.sh`)
  * as ONE runnable program over an OSM road network + OD points: graph
  * build → criticality indicator → EAUL sweep → indicator merge → egress
  * of one indicator CSV (`<outDir>/indicators`: each way's NAME, RUC and
  * criticality score) and one EAUL JSON file (`<outDir>/eaul`). The
  * reference exchanged every arrow through `.tmp` files and S3 between
  * separate node processes; here each stage is a DataFrame handed to the
  * next.
  *
  * Spark work is spent only where the routing is. The OSM input is parsed
  * in one job into driver-local frames, which feed both the graph build
  * and the merge base. The two sweeps (criticality, EAUL) run one task
  * per core and are materialized once as driver-local rows. Stage 5 runs
  * on those rows: scoring is one projection Catalyst evaluates on the
  * driver, the merge joins on the driver ([[mergeOnDriver]]), and the
  * summary counts rows it holds. Its only jobs are the two writes, one
  * task each.
  *
  * Usage: `sbt "runMain graft.Pipeline <osmDir> <outDir>"` — with no args,
  * runs the grid(6) demo network end-to-end (writes to a temp dir).
  */
object Pipeline {

  def run(spark: SparkSession, osmDir: String, outDir: String): Unit = {
    import spark.implicits._
    // stage 1-2: ingest + graph build (base-network + preparation)
    val (nodesDf, waysDf) = OsmXml.read(spark, osmDir)
    val g = RoadGraph.fromOsm(spark, nodesDf, waysDf)
    require(g.numNodes > 0, s"no OSM nodes under $osmDir: the road network is empty")
    val od = odNodes(g)

    // stage 3: criticality indicator (way_id, score)
    val criticality = Criticality.scoreStats(Criticality.waysStats(spark, g, od))
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
    val merged = mergeOnDriver(rn, "NAME", "crit", criticality)
    // one file each, one task each: the indicator CSV in road-network order
    merged.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$outDir/indicators")
    eaul.toDF().coalesce(1).write.mode("overwrite").json(s"$outDir/eaul")
    println(s"[pipeline] ways=${g.ways.length} nodes=${g.numNodes} " +
      s"eaul_rows=${eaul.length} -> $outDir")
  }

  /** The OD points: the first and last nodes + the center snap (stand-in
    * for the od.geojson ingest — callers with real OD data snap the same
    * way).
    */
  private[graft] def odNodes(g: CsrGraph): Array[Int] =
    Array(0, g.numNodes - 1, g.snap(g.nodeLon.sum / g.numNodes, g.nodeLat.sum / g.numNodes))

  /** Stage 5's merge: the rows [[operators.Relational.mergeIndicators]]
    * gives for one indicator `name -> ind`, in its order, joined on the
    * driver from the collected rows — for driver-local frames, where a
    * collect starts no job and a join would start a broadcast. As there,
    * `ind`'s columns other than `way_id` come back `<name>_`-prefixed
    * and keys compare by value (same type on both sides); a base row
    * with no match gets nulls, a null key matches nothing, and a base
    * row matching k indicator rows becomes k rows, the indicator's last
    * matching row first (the broadcast hash relation's order).
    */
  private[graft] def mergeOnDriver(base: DataFrame, baseKey: String, name: String, ind: DataFrame): DataFrame = {
    val key = base.schema.fieldIndex(baseKey)
    val indKey = ind.schema.fieldIndex("way_id")
    val keep = ind.schema.indices.filter(_ != indKey)
    val byKey = ind.collect().reverseIterator.filterNot(_.isNullAt(indKey)).toSeq.groupBy(_.get(indKey))
    val rows = base.collect().toSeq.flatMap { r =>
      byKey.getOrElse(r.get(key), Nil) match {
        case Nil => Seq(Row.fromSeq(r.toSeq ++ keep.map(_ => null)))
        case hits => hits.map(h => Row.fromSeq(r.toSeq ++ keep.map(h.get)))
      }
    }
    val prefixed = keep.map(ind.schema(_)).map(f => f.copy(name = s"${name}_${f.name}", nullable = true))
    base.sparkSession.createDataFrame(rows.asJava, StructType(base.schema ++ prefixed))
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
