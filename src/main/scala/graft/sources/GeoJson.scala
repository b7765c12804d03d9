package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S2/S3 — GeoJSON FeatureCollection scan/sink (reference loads whole
  * collections into memory, `indicator-from-areas.js:55-57`; writes with a
  * single serialize, `filter-percentile.js:73`).
  *
  * Scan: files land whole per task (`wholetext`), Jackson (already on
  * Spark's classpath) parses executor-side — schema inference can't be
  * trusted across mixed geometry types (Point `[x,y]` vs LineString
  * `[[x,y],…]` unify to junk), so coordinates stay a raw JSON string until
  * `lineCoords`/`polygonRings` decode them to typed arrays, and the
  * dynamic `properties` bag lands as `map<string,string>` (SURVEY §1.3's
  * escape hatch; values keep their JSON form).
  *
  * Sink: single-file FeatureCollection (tiles/API consumers need one
  * file) — a deliberate single-partition final egress; everything upstream
  * stays distributed.
  */
object GeoJson {

  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read
      .option("wholetext", "true")
      .text(path)
      .as[String]
      .flatMap { content =>
        val mapper = new ObjectMapper()
        val root = mapper.readTree(content)
        val feats = root.get("features")
        (0 until feats.size()).map { i =>
          val f = feats.get(i)
          val geom = f.get("geometry")
          val props = f.get("properties")
          val propMap: Map[String, String] =
            if (props == null || props.isNull) Map.empty
            else {
              val it = props.properties().iterator()
              val b = Map.newBuilder[String, String]
              while (it.hasNext) {
                val e = it.next()
                val v: JsonNode = e.getValue
                b += e.getKey -> (if (v.isTextual) v.asText() else v.toString)
              }
              b.result()
            }
          (geom.get("type").asText(), geom.get("coordinates").toString, propMap)
        }
      }
      .toDF("geom_type", "coordinates_json", "properties")
  }

  private val lineType = org.apache.spark.sql.types.DataTypes.createArrayType(
    org.apache.spark.sql.types.DataTypes.createArrayType(org.apache.spark.sql.types.DataTypes.DoubleType))

  /** Line/point coordinates as array<array<double>> for the geo kernel
    * (Point is wrapped to a 1-element line).
    */
  def lineCoords(df: DataFrame): DataFrame =
    df.withColumn(
      "coords",
      when(
        col("geom_type") === "Point",
        array(from_json(col("coordinates_json"), org.apache.spark.sql.types.DataTypes.createArrayType(org.apache.spark.sql.types.DataTypes.DoubleType))))
        .otherwise(from_json(col("coordinates_json"), lineType)))

  /** Polygon rings as array<array<array<double>>>.
    * No gate or program calls it yet: it decodes the GeoJSON area input of
    * the paper's overlay (stage 2), which `Pipeline` does not wire.
    */
  def polygonRings(df: DataFrame): DataFrame =
    df.withColumn(
      "rings",
      from_json(col("coordinates_json"), org.apache.spark.sql.types.DataTypes.createArrayType(lineType)))

  /** Write a DataFrame as one GeoJSON FeatureCollection file. `geomJson`
    * must hold the feature's geometry as a JSON string; all other columns
    * become properties.
    */
  def write(df: DataFrame, geomJsonCol: String, path: String): Unit = {
    val props = df.columns.filterNot(_ == geomJsonCol)
    val features = df.select(
      concat(
        lit("""{"type":"Feature","geometry":"""),
        col(geomJsonCol),
        lit(""","properties":"""),
        to_json(struct(props.map(col).toIndexedSeq: _*)),
        lit("}")).as("feature"))
    val joined = features
      .agg(concat_ws(",", collect_list(col("feature"))).as("joined"))
      .select(concat(lit("""{"type":"FeatureCollection","features":["""), col("joined"), lit("]}")).as("value"))
    joined.coalesce(1).write.mode(SaveMode.Overwrite).text(path)
  }
}
