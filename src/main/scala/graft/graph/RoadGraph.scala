package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Way attributes carried through routing/EAUL (reference: OSM way tags,
  * `scripts/utils/extract-ways.js:56-63`).
  */
case class Way(
    idx: Int, // dense way index, used by CSR edge → way mapping
    osmId: Long,
    name: String, // tags.NAME — the road-segment key
    ruc: Double,
    lengthM: Double,
    surface: String, // normalized: paved | unpaved (utils.js:148-155)
    roadClass: String // normalized: n/a → secondary (utils.js:140-146)
)

/** Compressed-sparse-row road graph, broadcast to executors for the routing
  * kernels (SURVEY.md §2.8 G6). The graph is legitimately driver-small
  * (node/edge count ≪ data volume — it's the road network, not the data),
  * while the WORK (per-way scenario sweeps) is what Spark distributes.
  *
  * Edge cost model (G3, reference `scripts/utils/moz.lua:61-82`): OSRM gets
  * speed = 1/RUC so reported "duration" ∝ RUC·length; we cut the middleman
  * and store cost = RUC · length_km directly (matches the golden fixture's
  * route totals 3.75/4.25/4.45, `tests/README.md:23-38`).
  */
class CsrGraph(
    val numNodes: Int,
    val indptr: Array[Int], // size numNodes+1
    val nbr: Array[Int], // neighbor node per edge slot
    val cost: Array[Double], // base cost = RUC · length_km
    val wayOfEdge: Array[Int], // way idx per edge slot
    val ways: Array[Way],
    val nodeLon: Array[Double],
    val nodeLat: Array[Double])
    extends Serializable {

  /** Single-source Dijkstra. `wayFactor(w)` scales every edge of way `w`:
    * 1.0 = unchanged, Double.PositiveInfinity = removed (flooded / ignored,
    * G4 semantics: speed 0 in the reference's speed-profile override),
    * newRuc/oldRuc = upgraded. Binary-heap, O(E log V) — one call is
    * microseconds at road-network scale; the fan-out across
    * (way × upgrade × return-period) is where Spark parallelism goes.
    */
  def dijkstra(source: Int, wayFactor: Int => Double = _ => 1.0): Array[Double] = {
    val dist = Array.fill(numNodes)(Double.PositiveInfinity)
    dist(source) = 0.0
    val pq = new java.util.PriorityQueue[(Double, Int)](11, (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    pq.add((0.0, source))
    while (!pq.isEmpty) {
      val (d, u) = pq.poll()
      if (d <= dist(u)) {
        var e = indptr(u)
        val end = indptr(u + 1)
        while (e < end) {
          val f = wayFactor(wayOfEdge(e))
          if (f != Double.PositiveInfinity) {
            val nd = d + cost(e) * f
            val v = nbr(e)
            if (nd < dist(v)) {
              dist(v) = nd
              pq.add((nd, v))
            }
          }
          e += 1
        }
      }
    }
    dist
  }

  /** Snap a lon/lat point to the nearest graph node (the reference's OSRM
    * snap; J8 argmin pattern).
    */
  def snap(lon: Double, lat: Double): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < numNodes) {
      val dx = nodeLon(i) - lon
      val dy = nodeLat(i) - lat
      val d = dx * dx + dy * dy
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }
}

/** G1/G2 — build node/edge DataFrames from a features table, then compile
  * to a broadcastable CSR graph.
  *
  * Node dedup key is the reference's coordinate rounding
  * (`libs/ogr2osm/ogr2osm.py:549-571`): round(coord · 10^7) — two features
  * sharing a vertex within 1e-7° become one graph node, which is what makes
  * the network connected.
  */
object RoadGraph {

  /** Spark-side graph build: features(way_id, name, ruc, coords) →
    * (nodes DF, edges DF). Node ids are dense ranks over the rounded-coord
    * key — deterministic across runs and partitionings.
    */
  def buildTables(features: DataFrame): (DataFrame, DataFrame) = {
    val exploded = features
      .select(col("way_id"), col("name"), col("ruc"), posexplode(col("coords")).as(Seq("pos", "coord")))
      .withColumn("kx", round(col("coord").getItem(0) * 1e7).cast("long"))
      .withColumn("ky", round(col("coord").getItem(1) * 1e7).cast("long"))
    // dense node ids: distinct rounded coords in global (kx, ky) order.
    // NOT row_number() over an unpartitioned Window — Spark executes that
    // in ONE task, a guaranteed bottleneck on a continental graph. Range
    // partition + in-partition sort + zipWithIndex assigns the identical
    // ids (range partitions are globally ordered, offsets accumulate in
    // partition order) with every stage distributed.
    val distinctKeys = exploded
      .select(col("kx"), col("ky"), col("coord"))
      .groupBy(col("kx"), col("ky"))
      .agg(first(col("coord")).as("coord"))
      .repartitionByRange(col("kx"), col("ky"))
      .sortWithinPartitions("kx", "ky")
    val spark = features.sparkSession
    val nodes = spark.createDataFrame(
      distinctKeys.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i.toInt)
      },
      distinctKeys.schema.add("node_id", org.apache.spark.sql.types.IntegerType, nullable = false))
    val withIds = exploded.join(nodes.select("kx", "ky", "node_id"), Seq("kx", "ky"))
    val w = Window.partitionBy(col("way_id")).orderBy(col("pos"))
    val edges = withIds
      .withColumn("next_id", lead(col("node_id"), 1).over(w))
      .withColumn("next_coord", lead(col("coord"), 1).over(w))
      .filter(col("next_id").isNotNull && col("next_id") =!= col("node_id"))
      .select(
        col("way_id"),
        col("name"),
        col("ruc"),
        col("node_id").as("src"),
        col("next_id").as("dst"),
        graft.functions.GeoFunctions
          .haversineColKm(
            col("coord").getItem(0), col("coord").getItem(1),
            col("next_coord").getItem(0), col("next_coord").getItem(1))
          .as("len_km"))
    (nodes.select("node_id", "coord"), edges)
  }

  /** Compile in-memory edge list to CSR. `edges`: (src, dst, wayIdx, cost)
    * with both directions NOT pre-expanded — this adds the reverse edge
    * (roads are bidirectional; the reference writes both directions in its
    * speed profiles, `utils.js:196-220`).
    */
  def compile(
      numNodes: Int,
      edges: Seq[(Int, Int, Int, Double)],
      ways: Array[Way],
      nodeLon: Array[Double],
      nodeLat: Array[Double]): CsrGraph = {
    val dir = edges.flatMap { case (s, d, w, c) => Seq((s, d, w, c), (d, s, w, c)) }
    val deg = Array.fill(numNodes + 1)(0)
    dir.foreach { case (s, _, _, _) => deg(s + 1) += 1 }
    var i = 0
    while (i < numNodes) { deg(i + 1) += deg(i); i += 1 }
    val indptr = deg
    val nbr = new Array[Int](dir.size)
    val cost = new Array[Double](dir.size)
    val wayOf = new Array[Int](dir.size)
    val fill = Array.fill(numNodes)(0)
    dir.foreach { case (s, d, w, c) =>
      val slot = indptr(s) + fill(s)
      nbr(slot) = d
      cost(slot) = c
      wayOf(slot) = w
      fill(s) += 1
    }
    new CsrGraph(numNodes, indptr, nbr, cost, wayOf, ways, nodeLon, nodeLat)
  }

  /** The reference's actual ingestion path (G2→G1): OSM-style nodes/ways
    * DataFrames (as produced by `sources.OsmXml.read`) → CSR graph. Way
    * tags follow the fixture contract: NAME, RUC, length (meters),
    * SURF_TYPE, ROAD_CLASS — normalized per `utils.js:140-162` (class
    * n/a → secondary, surface ∉ {paved,unpaved} → unpaved). Edge cost =
    * RUC · haversine(consecutive nodes).
    *
    * Bad input throws an `IllegalArgumentException` naming the way: an `nd`
    * ref with no `<node>`, a non-numeric RUC or length, and a RUC that is
    * negative, NaN or infinite (Dijkstra needs finite non-negative costs).
    */
  def fromOsm(spark: SparkSession, nodesDf: DataFrame, waysDf: DataFrame): CsrGraph = {
    val nodeRows = nodesDf.collect()
    val nodeIdx = nodeRows.map(_.getAs[Long]("node_id")).zipWithIndex.toMap
    val lon = nodeRows.map(_.getAs[Double]("lon"))
    val lat = nodeRows.map(_.getAs[Double]("lat"))
    val wayRows = waysDf.collect()
    val ways = wayRows.zipWithIndex.map { case (r, i) =>
      val id = r.getAs[Long]("way_id")
      val tags = r.getAs[Map[String, String]]("tags")
      def number(key: String, default: Double): Double =
        tags.get(key).fold(default) { v =>
          v.toDoubleOption.getOrElse(
            throw new IllegalArgumentException(s"way $id: $key tag '$v' is not a number"))
        }
      val ruc = number("RUC", 1.0)
      require(ruc >= 0 && !ruc.isInfinite, s"way $id: RUC $ruc is not a finite non-negative cost")
      val surface = tags.get("SURF_TYPE").map(_.toLowerCase).filter(Set("paved", "unpaved")).getOrElse("unpaved")
      val cls = tags.get("ROAD_CLASS").map(_.toLowerCase).filter(_ != "n/a").getOrElse("secondary")
      Way(i, id, tags.getOrElse("NAME", id.toString), ruc, number("length", 0.0), surface, cls)
    }
    val edges = wayRows.zipWithIndex.flatMap { case (r, i) =>
      val way = ways(i)
      val at = r.getAs[scala.collection.Seq[Long]]("nodes").map { ref =>
        nodeIdx.getOrElse(ref, throw new IllegalArgumentException(s"way ${way.osmId}: nd ref $ref has no <node>"))
      }
      at.sliding(2).collect {
        case scala.collection.Seq(ia, ib) if ia != ib =>
          val len = graft.functions.GeoFunctions.haversineKm(lon(ia), lat(ia), lon(ib), lat(ib))
          (ia, ib, i, way.ruc * len)
      }.toSeq
    }.toSeq
    compile(nodeRows.length, edges, ways, lon, lat)
  }
}
