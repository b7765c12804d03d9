package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

/** Timestamp-encoding invariance matrix (round-9 hardening).
  *
  * The harness testdata has shipped `events.ts` in two different physical
  * parquet encodings across regenerations — `TIMESTAMP(NANOS)` (read as
  * Long nanos under `nanosAsLong`) through round 7, then
  * `timestamp[us], isAdjustedToUTC=false` (TIMESTAMP_NTZ, the pyarrow
  * default) in round 8 — and the switch silently killed every
  * `unix_micros`/`withWatermark` consumer (qe2/qe4/qe6). This spec writes
  * the SAME events in all three encodings a real producer can emit and
  * asserts every event-time query shape — tumbling window, as-of join,
  * interval join, sessionization, and the real watermarked streaming gate —
  * returns identical rows on each. The engine must be invariant to the
  * producer's timestamp encoding, provably.
  */
class EncodingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = GraftSession.local(4, "encoding-spec")
  private val sf = "/root/testdata/sf0.001"

  /** Stage the sf0.001 events under `transform` into a fresh dir shaped
    * like an sf dir (only `events.parquet` — the queries under test read
    * nothing else).
    */
  private def stage(transform: DataFrame => DataFrame): String = {
    val dir = tempDir("graft-enc").toString
    val ev = Tables.normalizeTs(Tables.events(spark, sf))
    transform(ev).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val encodings: Seq[(String, String)] = Seq(
    // TIMESTAMP(NANOS) arrives as LongType under nanosAsLong=true; a plain
    // int64 column round-trips to the same read shape
    "long-nanos" -> stage(_.withColumn("ts", expr("unix_micros(ts) * 1000"))),
    // pyarrow's default: timestamp[us], isAdjustedToUTC=false
    "ntz-micros" -> stage(_.withColumn("ts", col("ts").cast(TimestampNTZType))),
    // isAdjustedToUTC=true (Spark's own default timestamp write)
    "ltz-micros" -> stage(identity))

  private def rows(name: String, dir: String): Set[String] =
    SparkEntry
      .queries(name)(spark, dir)
      .collect()
      .map(_.mkString("|"))
      .toSet

  for (q <- Seq(
      "q17_time_window", // tumbling event-time window (unix_timestamp)
      "q20_sliding_window", // sliding windows (epoch arithmetic)
      "qe1_sessionize", // window-function sessionization
      "qe2_asof", // as-of join (unix_micros)
      "qe3_session_window", // native session_window
      "qe4_interval_join" // range-condition interval join (unix_micros)
    )) {
    test(s"$q is invariant across ts encodings (long-nanos / ntz-micros / ltz-micros)") {
      val canonical = rows(q, sf)
      assert(canonical.nonEmpty)
      for ((enc, dir) <- encodings)
        assert(rows(q, dir) == canonical, s"$q drifted under $enc encoding")
    }
  }

  for (q <- Seq(
      "qe6_stream_sessions", // session windows, append + sentinel files
      "qe7_stream_join", // stream-stream interval join
      "qe8_stream_window", // tumbling windows, Complete mode
      "qe9_stream_dedup" // exactly-once ids over a doubled source
    )) {
    test(s"$q (real streaming query) is invariant across ts encodings") {
      val canonical = rows(q, sf)
      assert(canonical.nonEmpty)
      // the streaming gates stage their own source dirs (qe6 also writes
      // sentinel files that must replicate the staged schema's exact
      // physical ts type) — exercise all three encodings end-to-end
      for ((enc, dir) <- encodings)
        assert(rows(q, dir) == canonical, s"$q drifted under $enc encoding")
    }
  }

  // ------------------------------------------------- embedding encodings

  /** Same hazard, other table: a regeneration could flip `embedding` from
    * `list<float>` to `list<double>`. Scoring runs in double either way
    * (float→double widening is exact, the codegen vector expressions
    * accept both element types), so every similarity/dedup result must be
    * bit-identical across the two encodings.
    */
  private lazy val embDouble: String = {
    val dir = tempDir("graft-enc-emb").toString
    Tables
      .embeddings(spark, sf)
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  for (q <- Seq(
      "qs1_cosine_topk", // brute-force cosine top-k (codegen expression)
      "qs2_label_centroids", // posexplode + per-dim avg
      "qs3_dot_topk", // maximum-inner-product top-k
      "qs4_ivf", // IVF cell-pruned ANN
      "qs5_knn_join", // bounded-aggregator kNN join
      "qd5_embed_dedup", // embedding-cosine near-dup
      "qs7_pq_adc", // product-quantization codebook/encode/ADC
      "qd14_semdedup", // SemDeDup seed-cell clusters + cosine prune
      "qd15_incr_semdedup" // incremental SemDeDup (corpus/batch split)
    )) {
    test(s"$q is invariant to the embedding element type (float32 vs float64)") {
      val canonical = rows(q, sf)
      assert(canonical.nonEmpty)
      assert(rows(q, embDouble) == canonical, s"$q drifted under float64 embeddings")
    }
  }

  // -------------------------------------------------- numeric encodings

  /** Fourth regeneration hazard: lineitem numerics ship as float64 today,
    * but TPC-H-canonical producers emit DECIMAL(p,2). Without the
    * `Tables.normalizeNumerics` cast at load, every aggregate over them
    * would silently change its result DTYPE (decimal sums), failing the
    * driver's schema compare engine-wide.
    */
  test("q1_agg is invariant under a DECIMAL(12,2) lineitem regeneration") {
    val dir = tempDir("graft-enc-dec").toString
    val li = Tables.lineitem(spark, sf)
    li.schema.fields.filter(_.dataType == org.apache.spark.sql.types.DoubleType)
      .foldLeft(li)((d, f) => d.withColumn(f.name, col(f.name).cast("decimal(12,2)")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // the staged file really is decimal, and the load entry point erases it
    // (string equality alone can be vacuous: "1.23" prints alike from both)
    assert(spark.read.parquet(s"$dir/lineitem.parquet").schema.fields
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
    assert(!Tables.lineitem(spark, dir).schema.fields
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
    val canonical = rows("q1_agg", sf)
    assert(canonical.nonEmpty)
    assert(rows("q1_agg", dir) == canonical, "q1_agg drifted under DECIMAL numerics")
  }

  // ----------------------------------------------------- date encodings

  /** Third regeneration hazard: `l_shipdate`/`o_orderdate` currently ship
    * as µs-NTZ timestamps (midnight-aligned), but a producer could emit
    * DATE32 or ISO strings. Filters compare against timestamp literals
    * and q27 goes through `cast("timestamp").cast("long")` — Spark's
    * coercion chain must land on the same instants under the UTC session
    * TZ for all three encodings.
    */
  private def stageDates(cast: String): String = {
    val dir = tempDir("graft-enc-date").toString
    Tables.lineitem(spark, sf)
      .withColumn("l_shipdate", col("l_shipdate").cast(cast))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Tables.orders(spark, sf)
      .withColumn("o_orderdate", col("o_orderdate").cast(cast))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private lazy val dateEncodings: Seq[(String, String)] = Seq(
    "date32" -> stageDates("date"),
    "iso-string" -> stageDates("string"),
    "ltz-timestamp" -> stageDates("timestamp"))

  for (q <- Seq(
      "q1_agg", // shipdate range filter (lineitem only)
      "q24_moving_avg", // shipdate window ordering (lineitem only)
      "q27_range_frame" // orderdate epoch arithmetic in a RANGE frame (orders only)
    )) {
    test(s"$q is invariant across date encodings (ntz-timestamp / date32 / iso-string / ltz)") {
      val canonical = rows(q, sf)
      assert(canonical.nonEmpty)
      for ((enc, dir) <- dateEncodings)
        assert(rows(q, dir) == canonical, s"$q drifted under $enc dates")
    }
  }
}
