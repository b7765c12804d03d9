package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's correctness gate only hash-checks queries that appear in
  * BOTH maps — a registry drift (query without oracle, or oracle without
  * query) silently weakens or skips a gate. Pin exact equality.
  */
class RegistrySpec extends AnyFunSuite {
  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracle SQL without a query: ${(o -- q).toSeq.sorted}")
  }

  /** Twice (round-8 qsp2, round-9 qe18) a gate landed in the end-of-round
    * snapshot without ever having been RUN, and was broken at HEAD. This
    * test makes that impossible to do silently: `graft.Verify` records
    * every gate that successfully dumped in `tools/verified_gates.txt`
    * (full run rewrites, SPARK_GRAFT_ONLY runs merge), and a declared
    * gate missing from that manifest fails `sbt test` with instructions.
    */
  test("every declared gate has a successful Verify run on record") {
    val manifest = java.nio.file.Paths.get("tools", "verified_gates.txt")
    assert(java.nio.file.Files.exists(manifest),
      "tools/verified_gates.txt missing — run `sbt \"runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out\"`")
    val verified = java.nio.file.Files.readString(manifest)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
    val unverified = SparkEntry.queries.keySet -- verified
    assert(unverified.isEmpty,
      s"gates declared but never verified (run Verify with SPARK_GRAFT_ONLY=${unverified.toSeq.sorted.mkString(",")} then oracle_check): ${unverified.toSeq.sorted}")
  }

  /** Every gate's oracle text is pinned by its sha256 in
    * `tools/oracle_sql.sha256` (`<sha256>  <gate>`, one line per gate,
    * sorted by gate). The oracle is built from shared SQL builders, so an
    * edit to one builder can change many gates' SQL at once; this names
    * each gate whose text moved, and a deliberate oracle change shows up
    * in review as the lines of that file it rewrites.
    */
  test("every oracle's SQL matches its digest in tools/oracle_sql.sha256") {
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    val pinned = java.nio.file.Files.readString(java.nio.file.Paths.get("tools", "oracle_sql.sha256"))
      .split("\n").filter(_.nonEmpty)
      .map { line => val Array(digest, gate) = line.split("  "); gate -> digest }
      .toMap
    val actual = SparkEntry.oracleSql.map { case (gate, sql) => gate -> sha256(sql) }
    assert(pinned.keySet == actual.keySet,
      s"gates without a digest: ${(actual.keySet -- pinned.keySet).toSeq.sorted}; " +
        s"digests without a gate: ${(pinned.keySet -- actual.keySet).toSeq.sorted}")
    val moved = actual.keys.filter(g => pinned(g) != actual(g)).toSeq.sorted
    assert(moved.isEmpty,
      s"oracle SQL changed for ${moved.mkString(", ")}; if intended, the new lines are:\n" +
        moved.map(g => s"${actual(g)}  $g").mkString("\n"))
  }

  /** "Verify dumps the plans Bench times" holds only while every main
    * builds its session through `GraftSession.local`; a second builder in
    * `src/main` would let the confs drift apart again.
    */
  test("GraftSession is the only session builder in src/main") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src", "main", "scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val texts = files.map(p => p -> java.nio.file.Files.readString(p))
    val home = texts.collect { case (p, t) if t.contains("object GraftSession") => p }
    assert(home.size == 1, s"expected one file defining GraftSession, got $home")
    val builderCall = "\\.builder\\(\\)".r
    val offenders = texts.collect {
      case (p, t) if p != home.head && builderCall.findFirstIn(t).nonEmpty => p.toString
    }
    assert(offenders.isEmpty,
      s"session builders outside GraftSession (call GraftSession.local instead): ${offenders.sorted}")
  }

  test("SPARK_GRAFT_ONLY selects exactly the named queries and rejects unknown names") {
    assert(SparkEntry.selectQueries(None).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.selectQueries(Some(" q1_agg,q3_join_agg ")).keySet ==
      Set("q1_agg", "q3_join_agg"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Some("q1_agg,q1_agg_typo,zz_nope")))
    assert(e.getMessage.contains("q1_agg_typo, zz_nope"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(" , ")))
  }

  test("failureReason is the exception class plus the first message line") {
    assert(SparkEntry.failureReason(new IllegalStateException()) ==
      "java.lang.IllegalStateException")
    assert(SparkEntry.failureReason(new IllegalStateException(null: String)) ==
      "java.lang.IllegalStateException")
    assert(SparkEntry.failureReason(
      new RuntimeException("\n  [CANNOT_RESOLVE] col `x`  \n== Plan ==\nProject [x]")) ==
      "java.lang.RuntimeException: [CANNOT_RESOLVE] col `x`")
  }

  /** The gates that write and re-read files stage them under a `graft-*`
    * temp dir; a dir left behind is a table copy leaked per bench run.
    * `graft-sent-cache` is the stream gates' sentinel store, kept for the
    * JVM's lifetime on purpose. The stream gates also must leave no
    * query running and no memory-sink view in the session catalog.
    */
  test("gates that stage files leave no graft-* entry in the temp dir") {
    import scala.jdk.CollectionConverters._
    val gates = Seq(
      "qz2_raster_zonal", "qz3_raster_deflate", "qz4_raster_parallel",
      "qz5_raster_jpeg", "qz6_raster_bands", "qz7_raster_bands_parallel",
      "qz8_focal", "qf1_shapefile", "qf2_geojson", "qf3_osmxml",
      "qf4_vector_tile", "qf6_orc_roundtrip", "qf7_compact",
      "qf8_polygon_holes", "qf9_shapefile_v2", "qy2_bucket_join", "qy3_zbox",
      "qy7_hilbert_box",
      "qe6_stream_sessions", "qe7_stream_join", "qe8_stream_window",
      "qe9_stream_dedup", "qe10_stream_enrich", "qe11_batch_sink",
      "qe12_stream_txlog", "qe13_stream_left_join", "qe17_stream_full_join",
      "qe18_stream_dedup_join", "qe24_stream_hll", "qe27_stream_cms",
      "qe51_stream_quantile", "qe52_stream_topk")
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-") && !n.startsWith("graft-sent-cache")).toSet
      finally ls.close()
    }
    val spark = GraftSession.local(2, "registry-spec")
    def views(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = staged()
    val viewsBefore = views()
    gates.foreach(g => SparkEntry.queries(g)(spark, "/root/testdata/sf0.001").collect())
    val leaked = staged() -- before
    assert(leaked.isEmpty, s"staging dirs left behind: ${leaked.toSeq.sorted}")
    assert(spark.streams.active.isEmpty,
      s"queries left running: ${spark.streams.active.map(_.name).toSeq}")
    val leakedViews = views() -- viewsBefore
    assert(leakedViews.isEmpty, s"sink views left behind: ${leakedViews.toSeq.sorted}")
  }
}
