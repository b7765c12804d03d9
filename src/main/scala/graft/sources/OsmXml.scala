package graft.sources

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S9 — OSM-XML scan (reference `scripts/utils/extract-ways.js:39-63`,
  * `debug-scripts/index-nodes.js:17-43`): stream-parse `<node>`/`<way>`
  * elements into nodes/ways tables.
  *
  * Spark shape: files land whole per task (`wholetext`) and StAX parses
  * executor-side, one task per file, so a multi-file OSM extract parses in
  * parallel. The parsed elements are collected in that one job and both
  * frames are driver-local over them: the road network is driver-small
  * (SURVEY §2.8) and the graph build collects it anyway, so reading either
  * frame never parses the files again.
  */
object OsmXml {

  case class OsmNode(node_id: Long, lon: Double, lat: Double)
  case class OsmWay(way_id: Long, nodes: Seq[Long], tags: Map[String, String])

  private def parse(content: String): (Seq[OsmNode], Seq[OsmWay]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = f.createXMLStreamReader(new java.io.StringReader(content))
    val nodes = scala.collection.mutable.ArrayBuffer[OsmNode]()
    val ways = scala.collection.mutable.ArrayBuffer[OsmWay]()
    var wayId = -1L
    var wayNodes = scala.collection.mutable.ArrayBuffer[Long]()
    var wayTags = scala.collection.mutable.Map[String, String]()
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "node" =>
              nodes += OsmNode(
                r.getAttributeValue(null, "id").toLong,
                r.getAttributeValue(null, "lon").toDouble,
                r.getAttributeValue(null, "lat").toDouble)
            case "way" =>
              wayId = r.getAttributeValue(null, "id").toLong
              wayNodes = scala.collection.mutable.ArrayBuffer[Long]()
              wayTags = scala.collection.mutable.Map[String, String]()
            case "nd" if wayId >= 0 =>
              wayNodes += r.getAttributeValue(null, "ref").toLong
            case "tag" if wayId >= 0 =>
              wayTags(r.getAttributeValue(null, "k")) = r.getAttributeValue(null, "v")
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "way" && wayId >= 0 =>
          ways += OsmWay(wayId, wayNodes.toSeq, wayTags.toMap)
          wayId = -1L
        case _ =>
      }
    }
    r.close()
    (nodes.toSeq, ways.toSeq)
  }

  /** S10 — OSM-XML sink for external-tool interop (reference produced OSM
    * only to feed OSRM, `libs/ogr2osm/ogr2osm.py:645-761`; in-engine the
    * graph stays as DataFrames, so this is an optional egress). Collects to
    * the driver deliberately — the road network is driver-small (SURVEY
    * §2.8) and OSM-XML is a single-document format.
    */
  def write(nodes: Seq[OsmNode], ways: Seq[OsmWay], path: String): Unit = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\"?>\n<osm version=\"0.6\" upload=\"false\" generator=\"graft\">\n"
    nodes.foreach(n => sb ++= s"""<node id="${n.node_id}" lat="${n.lat}" lon="${n.lon}" visible="true"/>\n""")
    ways.foreach { w =>
      sb ++= s"""<way id="${w.way_id}" visible="true">"""
      w.nodes.foreach(r => sb ++= s"""<nd ref="$r"/>""")
      w.tags.toSeq.sortBy(_._1).foreach { case (k, v) => sb ++= s"""<tag k="${esc(k)}" v="${esc(v)}"/>""" }
      sb ++= "</way>\n"
    }
    sb ++= "</osm>\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.result())
  }

  /** Nodes and ways of every OSM file under `path`, in file order: one
    * parse job, then two driver-local frames over its result.
    */
  def read(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val files = spark.read.option("wholetext", "true").text(path).as[String]
    val parsed = files.rdd.map(parse).collect()
    (parsed.flatMap(_._1).toSeq.toDF(), parsed.flatMap(_._2).toSeq.toDF())
  }
}
