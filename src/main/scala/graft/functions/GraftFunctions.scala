package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQL-surface registration: exposes graft's function library to
  * `spark.sql(...)` users, so every capability is reachable from plain SQL
  * as well as the Column API (part of the "a reference user could switch"
  * contract).
  *
  * Custom codegen expressions register through the session's
  * FunctionRegistry (native `Expression` path — stays codegen'd in SQL);
  * Scala-kernel functions register as named UDFs.
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    // native expressions — full codegen from SQL
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => graft.functions.expressions.CosineSimilarity(exprs(0), exprs(1)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => graft.functions.expressions.DotProduct(exprs(0), exprs(1)),
      "scala_udf")
    // minhash_signature(text, shingleSize, numHashes[, seed]) — the int
    // parameters must be foldable literals (they fix the seeded permutation
    // set at plan time)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature",
      exprs => graft.functions.expressions.MinHashSignatureExpr(
        exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue,
        exprs(2).eval().asInstanceOf[Number].intValue,
        if (exprs.length > 3) exprs(3).eval().asInstanceOf[Number].longValue else 42L),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64",
      exprs => graft.functions.expressions.SimHash64Expr(exprs(0)),
      "scala_udf")
    // winnow_fingerprints(text, k, w) — k/w must be foldable literals
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fingerprints",
      exprs => graft.functions.expressions.WinnowFingerprintsExpr(
        exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue,
        exprs(2).eval().asInstanceOf[Number].intValue),
      "scala_udf")

    // geo kernel
    spark.udf.register("haversine_km", (lon1: Double, lat1: Double, lon2: Double, lat2: Double) =>
      GeoFunctions.haversineKm(lon1, lat1, lon2, lat2))
    spark.udf.register("line_length_km", GeoFunctions.lineLengthKm _)
    spark.udf.register("point_in_polygon", GeoFunctions.pointInPolygon _)
    spark.udf.register("point_to_line_km", GeoFunctions.pointToLineDistanceKm _)
    spark.udf.register("geom_bbox", GeoFunctions.bbox _)
    spark.udf.register("geom_centroid", GeoFunctions.centroid _)
    spark.udf.register("line_split", GeoFunctions.lineSplit _)

    // text analysis (column-expression forms wrapped for SQL)
    spark.udf.register("graft_lang_id", (s: String) => {
      // same compiled kernel as TextFunctions.langId
      val markerSets = TextFunctions.langMarkers.map { case (l, m) => (l, m.toSet) }
      val toks = s.trim.toLowerCase.split("\\s+")
      var bestLang = "und"
      var bestHits = 0
      markerSets.foreach { case (lang, markers) =>
        var hits = 0
        toks.foreach(t => if (markers.contains(t)) hits += 1)
        if (hits > bestHits) { bestHits = hits; bestLang = lang }
      }
      bestLang
    })

    // geometry dissolve aggregate
    spark.udf.register("geom_union", GeomAggregates.geomUnion)
  }

  /** Register the harness testdata tables as temp views for `spark.sql`
    * use: `graft.functions.GraftFunctions.registerTables(spark, sfDir)`.
    * No gate or program calls it: like [[register]], it is the `spark.sql`
    * surface.
    */
  def registerTables(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      graft.Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
}
