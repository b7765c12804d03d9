package graft

import graft.functions.{GeoFunctions, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Relational, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The gate registry and its oracles (SURVEY.md §7 states the contract).
  *
  * Each entry in `queries` demonstrates one operator family from
  * SURVEY.md §2 on the harness testdata, and `oracleSql` holds its DuckDB
  * equivalent with the same column names: every gate's rows are
  * hash-compared after sorting columns by name. Every gate has an oracle,
  * the LSH, routing and graph gates included (their oracles replay the
  * seeded planes, the recursive shortest paths and the fixpoints in SQL);
  * RegistrySpec fails on a gate without one or an oracle without a gate.
  *
  * Float policy: every aggregated double is `round(x, N)` in BOTH Spark and
  * SQL so partial-aggregation order differences (Spark) vs sequential sums
  * (DuckDB) can't flip the hash.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg with
    * map-side partial combine → sort.
    */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------ harness helpers
  /** The queries a Bench or Verify run covers: all of [[queries]] when
    * `only` (the `SPARK_GRAFT_ONLY` value, comma-separated names) is
    * unset, else exactly the named ones. Throws IllegalArgumentException
    * listing every name that is not a query: a typo must not select
    * nothing.
    */
  def selectQueries(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(names.nonEmpty, s"SPARK_GRAFT_ONLY='$v' names no query")
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      queries.filter { case (n, _) => names(n) }
    }

  /** Why a query failed, on one line: the exception class plus the first
    * non-blank line of its message (which may be null, or a multi-line
    * plan dump).
    */
  def failureReason(e: Throwable): String =
    e.getClass.getName + Option(e.getMessage)
      .flatMap(_.linesIterator.map(_.trim).find(_.nonEmpty))
      .fold("")(": " + _)

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // ---------------------------------------------------------------- helpers
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** The orders-residue graph most graph gates run on: one edge
    * (x = o_custkey % mod, y = o_orderkey % mod) per order whose key is
    * a multiple of `every`. Each gate's oracle SQL replays the same
    * projection.
    */
  private def ordersGraph(spark: SparkSession, dir: String, every: Int, mod: Int): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % every === 0)
      .select((col("o_custkey") % mod).as("x"), (col("o_orderkey") % mod).as("y"))

  /** The nation trade graph the PageRank, HITS and message-passing gates
    * run on: orders ⋈ customer ⋈ lineitem ⋈ supplier grouped into one
    * edge (src = customer nation, dst = supplier nation) with weight
    * `weight` as `w`. Each gate's oracle SQL replays the same join.
    */
  private def nationGraph(spark: SparkSession, dir: String, weight: Column): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(weight.as("w"))

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** `body` run with each `key -> value` set on the session conf; every
    * key gets its prior value back afterwards, thrown or not, and a key
    * that was unset comes back unset. A streaming query pins its confs
    * when it starts, so a gate scopes its overrides to its own query.
    */
  private[graft] def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ------------------------------------------------------------- 2.4 aggs
  /** A1/A5/A6-family: grouped multi-aggregate in one shuffle (single-pass
    * multi-agg is the reference's own manual optimization, SURVEY §4).
    */
  private def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** P1/P2/P4 — projection + predicate, both pushed into the parquet scan
    * (`PushedFilters` + pruned `ReadSchema` visible in explain).
    */
  private def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_size") >= 30 && col("p_type").contains("BRASS"))
      .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_size"))

  /** J1 — broadcast dimension joins (customer⋈nation⋈region): both dims are
    * tiny → two broadcast hash joins, zero shuffle of the fact side.
    */
  private def q3JoinAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("total_acctbal"))
      .orderBy(col("r_name"), col("n_name"))

  /** J2 — left-outer lookup join + null fill (merge-indicators semantics:
    * missing right rows → explicit default, `merge-indicators.js:110-117`).
    */
  private def q4LeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val custAgg = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("spent"))
    t(spark, dir, "customer")
      .join(custAgg, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spent"), lit(0.0)).as("spent"))
  }

  /** P9/P10 — anti-join pruning (customers with no orders), the reference's
    * zero-traffic / unroutable-pair pruning pattern.
    */
  private def q5AntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** J12 — upper-triangle self cross pairing (`utils.js:310-342`
    * combinations): all unordered nation pairs within a region.
    */
  private def q6SelfJoinPairs(spark: SparkSession, dir: String): DataFrame = {
    val n = t(spark, dir, "nation")
    val a = n.select(col("n_nationkey").as("a_key"), col("n_name").as("a_name"), col("n_regionkey").as("a_region"))
    val b = n.select(col("n_nationkey").as("b_key"), col("n_name").as("b_name"), col("n_regionkey").as("b_region"))
    a.join(b, col("a_region") === col("b_region") && col("a_key") < col("b_key"))
      .select(col("a_region").as("regionkey"), col("a_name"), col("b_name"))
  }

  /** W2/J8 — per-group argmax (top-1 by window): richest customer per
    * nation, deterministic tie-break on key (the nearest-segment argmin
    * pattern of `prep-bridge.js:98-106`).
    */
  private def q7TopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(desc("c_acctbal"), col("c_custkey"))
    t(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_nationkey"), col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  /** W1 — nearest-rank percentile filter (`filter-percentile.js:60-73`):
    * threshold = value at rank round(p/100·(n−1)) ascending; keep >=.
    */
  private def q8Percentile(spark: SparkSession, dir: String): DataFrame =
    Relational
      .percentileFilter(t(spark, dir, "orders"), "o_totalprice", 80.0)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** P3 + F6 — conditional overwrite + categorical default recode. */
  private def q9Recode(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn(
        "o_orderpriority",
        when(col("o_orderpriority") === "1-URGENT", "0-IMMEDIATE").otherwise(col("o_orderpriority")))
      .withColumn(
        "status_cat",
        Relational.categoricalDefault(col("o_orderstatus"), Seq("o", "f"), "other"))
      .groupBy(col("o_orderpriority"), col("status_cat"))
      .agg(count(lit(1)).as("n"))

  /** F24 — unpivot wide → long (`process-traffic.js:70-82` matrix melt). */
  private def q10Unpivot(spark: SparkSession, dir: String): DataFrame =
    Relational
      .unpivotMatrix(
        t(spark, dir, "lineitem"),
        "l_orderkey",
        Seq("l_quantity", "l_discount", "l_tax"),
        "metric",
        "value")
      .groupBy(col("metric"))
      .agg(round(sum(col("value")), 2).as("total"), count(lit(1)).as("n"))

  /** A4 — length-weighted average (the weighted-overlay aggregation shape,
    * `indicator-from-areas.js:86-127`): Σ(w·v)/Σ(w) per group.
    */
  private def q11WeightedAvg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity") * col("l_extendedprice")) / sum(col("l_quantity")), 4)
          .as("weighted_avg_price"))
      .orderBy(col("l_returnflag"))

  /** A10 — trapezoidal integration per group over an x-sorted series
    * (`vulnerability.js:140-146` EAD formula): x = linenumber, y = quantity.
    */
  private def q12Trapezoid(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("pts"))
      .select(
        col("l_orderkey"),
        round(
          Relational.trapezoid(
            transform(col("pts"), p => p.getField("l_linenumber").cast("double")),
            transform(col("pts"), p => p.getField("l_quantity"))),
          4).as("auc"))

  /** A1 — global-max normalization score (`indicator-from-prop.js:56-63`):
    * the §7.2 minimum end-to-end slice, on part retail price.
    */
  private def q13ScaleScore(spark: SparkSession, dir: String): DataFrame =
    Relational
      .scaleScore(t(spark, dir, "part"), "p_retailprice")
      .select(col("p_partkey"), col("p_retailprice"), col("score"))

  /** F16 — severity bucketing (`vulnerability.js:213-218` depth cuts)
    * applied to a scaled quantity, + grouped count.
    */
  private def q14Bucket(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("severity", Relational.severityBucket(col("l_quantity") / 20.0))
      .groupBy(col("severity"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("price_sum"))

  /** F3 — regex ID extraction (`prep-bridge.js:48-55`: `([A-Z])0*([1-9]\d*)`
    * over a fixed-width prefix) applied to customer names.
    */
  private def q15Regex(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(
        col("c_custkey"),
        concat(
          regexp_extract(col("c_name"), "([A-Z])[a-z]*#0*([1-9][0-9]*)", 1),
          regexp_extract(col("c_name"), "([A-Z])[a-z]*#0*([1-9][0-9]*)", 2)).as("short_id"))

  /** F8 — geodesic haversine length as a pure-Column expression, on
    * synthetic lon/lat derived deterministically from supplier keys.
    */
  private def q16Haversine(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "supplier")
      .withColumn("lon1", (col("s_suppkey") % 360) - 180.0)
      .withColumn("lat1", (col("s_suppkey") % 170) - 85.0)
      .withColumn("lon2", (col("s_nationkey") * 7 % 360) - 180.0)
      .withColumn("lat2", (col("s_nationkey") * 3 % 170) - 85.0)
    s.select(
      col("s_suppkey"),
      round(GeoFunctions.haversineColKm(col("lon1"), col("lat1"), col("lon2"), col("lat2")), 4)
        .as("dist_km"))
  }

  /** Events loader tolerant of every timestamp encoding the harness data
    * has shipped as — Long nanos (`nanosAsLong`), TIMESTAMP_NTZ (pyarrow
    * µs default), and TIMESTAMP_LTZ — via [[Tables.normalizeTs]]. The r8
    * testdata regeneration flipped ns→µs-NTZ overnight and killed every
    * `unix_micros`/`withWatermark` consumer; the engine is now invariant
    * (EncodingSpec pins all three).
    */
  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(t(spark, dir, "events"))

  /** max(unix_micros(ts)) over the events table, memoized per dir: the
    * stream gates' sentinel construction needs it every call, the table
    * is immutable per dir, and re-running the aggregate was one full
    * scan job per bench run × 3 gates.
    */
  private val maxUsCache = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def eventsMaxUs(spark: SparkSession, dir: String): Long =
    maxUsCache.computeIfAbsent(dir, d =>
      events(spark, d).agg(max(unix_micros(col("ts")))).first().getLong(0))

  /** Sentinel parquet files, memoized per (kind, dir, n): sentinel
    * content is dir-deterministic (memoized maxUs + the physical ts
    * type), so only the FIRST run pays the Spark write job — later runs
    * copy the cached file's bytes into their stage dir (measured
    * ~0.5 s/run of the stream-gate floor by the qe6 phase probe, git
    * 3e96ab2).
    */
  private val sentinelCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  // one shutdown hook reclaims every cache dir (recursive: the dirs
  // hold the parquet + Spark _SUCCESS markers, so deleteOnExit — which
  // only removes empty dirs — would leak them)
  private val sentinelDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    sentinelDirs.forEach { d =>
      try {
        val walk = java.nio.file.Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: java.io.IOException => () }
    }))

  /** Stages watermark sentinels 1 and 2 into a replay's `stage` dir as
    * `zz_sentinel_<n>.parquet`: `rows(n, us)` gives each file's
    * (event_id, ts in µs, user_id, event_type) rows, where `us` is
    * 100 + n days past the last real event. The file carries the staged
    * schema's EXACT physical ts type (Long ns / NTZ µs / LTZ µs) — a
    * file-source stream rejects schema drift; the LTZ→NTZ cast is exact
    * under the UTC session TZ. `kind` names the row shape in the memo.
    */
  private def stageSentinels(
      spark: SparkSession, dir: String, stage: java.nio.file.Path, kind: String)(
      rows: (Long, Long) => Seq[(Long, Long, Long, String)]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tsType = Tables.schema(spark, dir, "events")("ts").dataType
    val tsIsLong = tsType == org.apache.spark.sql.types.LongType
    for (n <- 1L to 2L) {
      val cached = sentinelCache.computeIfAbsent(s"$kind|$dir|$n", _ => {
        import spark.implicits._
        val tmp = Files.createTempDirectory("graft-sent-cache")
        sentinelDirs.add(tmp)
        val us = eventsMaxUs(spark, dir) + 86400L * 1000000L * (100 + n)
        val df = rows(n, us)
          .map { case (id, tsUs, user, eventType) =>
            (id, if (tsIsLong) tsUs * 1000 else tsUs, user, eventType, 0.0, "{}")
          }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        val one =
          if (tsIsLong) df
          else df.withColumn("ts", timestamp_micros(col("ts")).cast(tsType))
        one.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listed = Files.list(tmp)
        val found =
          try listed.filter(_.toString.endsWith(".parquet")).findFirst()
          finally listed.close()
        require(found.isPresent, s"sentinel build produced no parquet in $tmp")
        found.get()
      })
      Files.copy(cached, stage.resolve(s"zz_sentinel_$n.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** One click + one purchase per sentinel, on out-of-domain users, so
    * BOTH sides' watermarks jump past every real event (the global
    * watermark is their min) — qe13's and qe17's sentinels.
    */
  private val clickPurchaseSentinels: (Long, Long) => Seq[(Long, Long, Long, String)] =
    (n, us) => Seq((-2L * n, us, -1L, "click"), (-2L * n - 1, us + 1000000L, -2L, "purchase"))

  /** §2.10 — event-time tumbling window aggregation (batch form of the
    * Structured-Streaming plan; same `window()` expression). Window start
    * exported as epoch seconds so the oracle compare is precision-proof.
    */
  private def q17TimeWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(
        unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n"), col("value_sum"))

  /** Sliding event-time windows (2h window, 1h slide — each event lands in
    * two windows); oracle enumerates the two hour-aligned starts per event.
    */
  private def q20SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("window_start"), col("event_type"), col("n"))

  /** Grouping-set hierarchy (beyond-reference relational completeness —
    * SURVEY §2.4 notes the reference has none, "Spark gives these free"):
    * ROLLUP computes detail + subtotals + grand total in ONE shuffle via
    * the Expand operator, not one pass per level. NULL group markers are
    * folded to 'ALL' so the output is null-free for the hash compare.
    */
  private def q21Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"),
        col("n"))

  /** Pivot (wide-form counterpart of F24's unpivot): order counts by
    * priority × status. Explicit value list ⇒ stable output schema (no
    * value-discovery scan) and a single hash aggregation.
    */
  private def q22Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_fulfilled"),
        coalesce(col("P"), lit(0L)).as("n_pending"))

  /** Set operations (SURVEY §2.7 — the reference has only union-by-glob;
    * INTERSECT/EXCEPT round out the family): customers with both
    * fulfilled AND open orders, minus any with an urgent order. Spark
    * plans these as aggregate/anti-join under the hood — no sort.
    */
  private def q23SetOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val fulfilled = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val open = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    fulfilled.intersect(open).except(urgent).select(col("o_custkey").as("custkey"))
  }

  /** Window frames (beyond W1/W2 — ranking, lag, and a sliding ROWS
    * frame): 4-row moving average + previous-row delta per supplier.
    * Order key (shipdate, orderkey, linenumber) is unique ⇒ deterministic.
    */
  private def q24MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    t(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 10)
      .select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_shipdate"),
        col("l_extendedprice"))
      .withColumn("mov_avg", round(avg(col("l_extendedprice")).over(w.rowsBetween(-3, 0)), 4))
      .withColumn(
        "delta",
        round(col("l_extendedprice") - coalesce(lag(col("l_extendedprice"), 1).over(w), col("l_extendedprice")), 4))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("mov_avg"), col("delta"))
  }

  /** Native session windows (30-min gap): Spark's session_window operator;
    * oracle rebuilds sessions on µs epochs (gap semantics are >= gap at µs
    * precision — second-floored gaps would diverge in [1800, 1801)).
    */
  private def qe3SessionWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_timestamp(col("w.start")).as("session_start"),
        col("user_id"),
        col("n_events"))

  /** Recursive best-effort delete of a staging dir; without it every
    * bench run (5× per query) leaks a full events copy into the temp dir.
    */
  private def rmTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    try
      Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach { p => Files.deleteIfExists(p); () }
    catch { case _: java.io.IOException => () }
  }

  /** Run a gate that writes and re-reads files: `body` gets a fresh
    * `graft-<name>…` temp dir, its rows are collected into a
    * one-partition local frame, and the dir is deleted whether or not
    * the body throws. A gate's result is small by construction; its
    * staged files (some a lineitem copy) are not, and a lazy frame over
    * them would keep them alive past the gate.
    */
  private def staged(spark: SparkSession, name: String)(
      body: java.nio.file.Path => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name")
    try {
      val out = body(dir)
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.collect().toIndexedSeq, 1), out.schema)
    } finally rmTree(dir)
  }

  /** The tx-log gates' fixture: inside [[staged]], the table root `tbl`
    * under the stage dir and the orders (key, customer, price) columns
    * the gate commits into it.
    */
  private def stagedOrdersTxLog(spark: SparkSession, dir: String, name: String)(
      body: (String, DataFrame) => DataFrame): DataFrame =
    staged(spark, name) { wh =>
      val orders = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      body(wh.resolve("tbl").toString, orders)
    }

  /** The bounded replay behind every stream gate: the events parquet
    * (file or directory) is copied into a fresh `graft-events-src` dir
    * (file-source streams need a directory), and `body` gets that dir
    * and the [[Tables.normalizeTs]] file stream over it. The stream
    * lists the dir only when its query starts, so the body may add
    * files first (duplicates, sentinels); the real files are all there
    * before, so batch 1 sees every row with the watermark still at
    * -inf. `conf` holds for the body — a streaming query pins its
    * confs when it starts — and `oneFilePerTrigger` makes each staged
    * file its own micro-batch. The dir is deleted when the body returns
    * or throws, staging included, so the body's result must not read it
    * lazily ([[streaming.EventStreams.drain]] materializes its rows).
    */
  private def replayEvents(
      spark: SparkSession,
      dir: String,
      conf: Seq[(String, String)] = Nil,
      oneFilePerTrigger: Boolean = false)(
      body: (java.nio.file.Path, DataFrame) => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = Files.createTempDirectory("graft-events-src")
    try {
      val src = Paths.get(dir, "events.parquet")
      if (Files.isDirectory(src)) {
        val ls = Files.list(src)
        try ls.forEach { p =>
          if (p.toString.endsWith(".parquet"))
            Files.copy(p, stage.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
        } finally ls.close()
      } else Files.copy(src, stage.resolve("events.parquet"))
      val reader = spark.readStream.schema(Tables.schema(spark, dir, "events"))
      val files = if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
      val stream = Tables.normalizeTs(files.parquet(stage.toString))
      withConf(spark, conf: _*)(body(stage, stream))
    } finally rmTree(stage)
  }

  /** The click-to-purchase interval join ([[streaming.EventStreams
    * .clickToPurchaseJoin]], 10-minute window) drained from a replay:
    * the join family qe7, qe13, qe17 and qe18 gate.
    */
  private def drainClickPurchase(
      ev: DataFrame, joinType: String = "inner", preWatermarked: Boolean = false): DataFrame =
    streaming.EventStreams.drain(
      streaming.EventStreams
        .clickToPurchaseJoin(ev, windowSec = 600, joinType = joinType,
          preWatermarked = preWatermarked)
        .select(
          col("click_id"), col("user_id"), col("purchase_id"),
          round(col("value"), 2).as("value")),
      OutputMode.Append)

  /** §2.10 through the ORACLE — a REAL Structured Streaming run inside
    * the gate: the replayed events go through a watermark →
    * `session_window` (30-min gap) → **append mode** → memory sink. Two
    * far-future sentinel events (user −1) are staged with the data so
    * the watermark passes every real session and append mode flushes
    * them all — each real session is emitted exactly once, making the
    * output equal to the BATCH `session_window` result (qe3's oracle,
    * same SQL replay). Lineage of this gate's rows therefore includes an
    * actual streaming query, not a batch twin.
    */
  private def qe6StreamSessions(spark: SparkSession, dir: String): DataFrame =
    // a streaming query pins shuffle.partitions at start; 2 state-store
    // partitions instead of 32 cuts the per-batch checkpoint-file fan-out
    // (3 batches × partitions HDFS-state files) that dominates this
    // gate's wall time on local data volumes.
    // qe6 phase probe (r17, git 3e96ab2): 8 → 2 takes another ~0.5 s
    // off both batches (state is ~95 k session rows — 48 k/partition is
    // nowhere near memory pressure)
    replayEvents(spark, dir, Seq(ShufflePartitions -> "2")) { (stage, ev) =>
      // sentinels are staged BEFORE the query starts: the watermark is 0
      // throughout the initial batch (no state evicts inside it), advances
      // past every real session when the batch commits, and the engine's
      // no-data micro-batch (run exactly because the watermark moved)
      // flushes the closed sessions — same cross-batch eviction semantics
      // as the old drain-sentinel-drain loop at a third of the micro-batch
      // count (the gate's wall cost is batches, not rows; the multi-batch
      // state path itself is pinned by StreamingSpec on MemoryStreams)
      stageSentinels(spark, dir, stage, "qe6")((n, us) => Seq((-n, us, -1L, "s")))
      // NO sentinel filter inside the streaming plan: Catalyst pushes a
      // user_id predicate below the EventTimeWatermark node, and filtered
      // sentinel rows then never advance the watermark (caught live: the 7
      // final sessions of the gate data stayed open forever). Sentinels
      // flow through the full plan and their session rows are excluded from
      // the drained table afterwards.
      streaming.EventStreams.drain(
        ev.withWatermark("ts", "1 second")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(
            unix_timestamp(col("w.start")).as("session_start"),
            col("user_id"),
            col("n_events")),
        OutputMode.Append)
    }.filter(col("user_id") >= 0)

  /** §2.10 through the ORACLE, part 2 — a REAL stream-stream interval
    * join inside the gate ([[streaming.EventStreams.clickToPurchaseJoin]]):
    * the replayed events are read as TWO watermarked streams (clicks /
    * purchases) joined on user within a 10-minute window after the
    * click. Inner stream-stream joins emit matches EAGERLY (the
    * watermark only bounds join state, it doesn't gate emission), so a
    * bounded replay needs no sentinels — one drain yields every matched
    * pair. Lineage of this gate's rows therefore includes an actual
    * stream-stream join, the shape qe4 only exercises in batch form. The
    * query runs with no-data micro-batches off: with every match emitted
    * in its data batch, the trailing no-data batch would only evict join
    * state.
    */
  private def qe7StreamJoin(spark: SparkSession, dir: String): DataFrame =
    // stream-stream joins keep FOUR state stores per partition (both
    // sides × key/index maps), so per-partition checkpoint fan-out costs
    // 4× qe6's; 2 partitions suffice for the gate volumes (the state is
    // per-user rows within a 10-min horizon)
    replayEvents(spark, dir, Seq(ShufflePartitions -> "2", NoDataBatches -> "false")) {
      (_, ev) => drainClickPurchase(ev)
    }

  /** CHAINED STATEFUL STREAMING — watermarked dedup feeding a
    * stream-stream interval join in ONE query (two stateful operators
    * in sequence, the capability corner multi-step event pipelines
    * live on): the staged input is the events table PLUS a re-sent
    * duplicate slice (event_id % 5 = 0, byte-identical rows in a later
    * file → a later micro-batch, so the dedup state must catch them
    * ACROSS batches), and the join runs on the deduped stream. The
    * oracle is qe7's plain batch join over the ORIGINAL table — it
    * never sees the duplicates, so any dup the stream lets through
    * joins into extra rows and breaks the compare.
    *
    * Exactly ONE watermark is defined, on `ts` before the dedup — Spark
    * disallows redefining a watermark downstream, so the join runs with
    * `preWatermarked = true` and inherits this one through the per-side
    * aliases. The delay (45 days) deliberately exceeds the events
    * table's full time span: nothing is ever "late", so EVERY re-sent
    * duplicate is rejected by cross-batch dedup STATE rather than by
    * late-data drop — the bounded-replay contract that makes the gate
    * actually exercise the claimed path. (The production shape would use
    * a small delay; the big one here only pins state for the ~10k-row
    * staged replay.)
    */
  private def qe18StreamDedupJoin(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "2"), oneFilePerTrigger = true) {
      (stage, ev) =>
        import java.nio.file.{Files, StandardCopyOption}
        // inject byte-identical duplicates as a LATER file (newer mtime ⇒
        // later micro-batch under maxFilesPerTrigger=1)
        val dups = spark.read.parquet(stage.toString).filter(col("event_id") % 5 === 0)
        val tmp = Files.createTempDirectory("graft-qe18-dup")
        try {
          dups.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val ls = Files.list(tmp)
          try ls.forEach { p =>
            if (p.toString.endsWith(".parquet"))
              Files.move(p, stage.resolve(s"zz_dup_${p.getFileName}"),
                StandardCopyOption.REPLACE_EXISTING)
          } finally ls.close()
        } finally rmTree(tmp)
        drainClickPurchase(
          ev.withWatermark("ts", "45 days").dropDuplicatesWithinWatermark("event_id"),
          preWatermarked = true)
    }

  /** §2.10 through the ORACLE, part 6 — the stream-stream LEFT OUTER
    * interval join ([[streaming.EventStreams.clickToPurchaseJoin]] with
    * `left_outer`): "which clicks did NOT convert within 10 minutes?"
    * Unlike qe7's inner form, the null-padded rows can only emit when
    * the WATERMARK proves no matching purchase can still arrive, so the
    * bounded replay stages click+purchase sentinel rows past the data
    * (both sides' watermarks must advance — the global watermark is
    * their min; sentinels carry real event_types because a pre-watermark
    * filter would silently drop them, the qe6 lesson) and lets the
    * engine's no-data micro-batch flush the evictions.
    * The oracle is the plain batch LEFT JOIN: a lost null-padded row
    * (watermark never advanced), a duplicate (state re-emission), or an
    * eager null (emitted before the window closed) all break the
    * compare.
    */
  private def qe13StreamLeftJoin(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "2")) { (stage, ev) =>
      // sentinels staged BEFORE the query: the watermark stays 0 through
      // the initial batch (matches emit eagerly, nothing evicts), jumps
      // past every real click window at batch commit, and the engine's
      // no-data micro-batch flushes the null-padded non-converters — the
      // same cross-batch eviction at a third of the micro-batch count
      stageSentinels(spark, dir, stage, "cp")(clickPurchaseSentinels)
      drainClickPurchase(ev, joinType = "left_outer")
    }.filter(col("user_id") >= 0)

  /** Stream-stream FULL OUTER interval join — completes the join-type
    * family (qe7 inner, qe13 left): BOTH unmatched sides may only emit
    * null-padded once the watermark proves no partner can arrive, so
    * the staged replay needs qe13's sentinel rows (both sides'
    * watermarks must advance; the no-data batch flushes). The oracle is
    * the batch FULL JOIN: a lost null row on EITHER side, a duplicate
    * from state re-emission, or an eager null each break the compare.
    */
  private def qe17StreamFullJoin(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "2")) { (stage, ev) =>
      stageSentinels(spark, dir, stage, "cp")(clickPurchaseSentinels)
      drainClickPurchase(ev, joinType = "full_outer")
    }.filter(col("user_id") >= 0)

  /** §2.10 through the ORACLE, part 5 — the STREAM-STATIC enrich join
    * ([[streaming.EventStreams.enrichStream]]): the events file-stream
    * joins the static customer dimension (broadcast per micro-batch) and
    * appends the enriched rows. Stateless append — no watermark, no
    * state store — so the bounded replay is one drain; the oracle is the
    * plain batch join. With qe6/qe7/qe8/qe9 this completes real
    * `writeStream` lineage for every core Structured-Streaming shape:
    * windowed agg, sessions, stream-stream join, dedup, stream-static
    * join.
    */
  private def qe10StreamEnrich(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir) { (_, ev) =>
      val dim = t(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      streaming.EventStreams.drain(
        streaming.EventStreams
          .enrichStream(ev, dim, "user_id", "c_custkey")
          .select(
            col("event_id"), col("user_id"),
            col("c_mktsegment").as("segment"),
            round(col("value"), 2).as("value")),
        OutputMode.Append)
    }

  /** §2.10 through the ORACLE, part 3 — the REAL watermarked streaming
    * tumbling-window aggregation ([[streaming.EventStreams.runWindowedStream]],
    * Complete mode so a bounded replay keeps the tail windows) against
    * q17's batch oracle. With qe6 (session windows, append) and qe7
    * (stream-stream join) this gives every core Structured-Streaming
    * shape a CORRECTNESS row whose lineage includes an actual
    * `writeStream` run, not just a batch twin.
    */
  private def qe8StreamWindow(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "8")) {
      (_, ev) => streaming.EventStreams.runWindowedStream(ev)
    }.select(
      unix_timestamp(col("window_start")).as("window_start"),
      col("event_type"), col("n"), col("value_sum"))

  /** §2.10 through the ORACLE, part 4 — REAL streaming dedup
    * ([[streaming.EventStreams.dedupStream]], `dropDuplicatesWithinWatermark`
    * so state expires with the watermark instead of growing unboundedly):
    * the staged source dir holds every events file TWICE, so each event id
    * arrives twice and the emitted stream must equal the events table
    * exactly once per id. Completes the real-writeStream lineage set:
    * sessions (qe6), stream-stream join (qe7), windowed agg (qe8),
    * dedup (qe9). `dropDuplicatesWithinWatermark` in append mode emits
    * each first-seen id in its data batch, so the query runs with no-data
    * micro-batches off: the trailing one would only evict expired state,
    * and one micro-batch drains the whole replay.
    */
  private def qe9StreamDedup(spark: SparkSession, dir: String): DataFrame =
    // 2 state-store partitions, the qe6 rationale: the batch's state
    // work fans out per partition (sf0.01, 4 cores: the query drains in
    // 0.87 s at 8 partitions, 0.63 s at 2, medians of 6)
    replayEvents(spark, dir, Seq(ShufflePartitions -> "2", NoDataBatches -> "false")) {
      (stage, ev) =>
        import java.nio.file.{Files, StandardCopyOption}
        // duplicate every staged file under a shifted name: 2× arrival of
        // every event id, the exactly-once contract under test
        import scala.jdk.CollectionConverters._
        val ls = Files.list(stage)
        val files =
          try ls.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
          finally ls.close()
        files.foreach { p =>
          Files.copy(p, stage.resolve(s"dup_${p.getFileName}"), StandardCopyOption.REPLACE_EXISTING)
        }
        streaming.EventStreams.drain(
          streaming.EventStreams
            .dedupStream(ev, "event_id")
            .select(
              col("event_id"), col("user_id"), col("event_type"),
              round(col("value"), 2).as("value")),
          OutputMode.Append)
    }

  /** §2.10 through the ORACLE, part 6 — EXACTLY-ONCE FILE SINK
    * ([[streaming.EventStreams.idempotentParquetSink]]): the events
    * file-stream drains through a real `writeStream.foreachBatch` that
    * lands each micro-batch under `batch_id=<id>` in Overwrite mode —
    * at-least-once redelivery + idempotent per-batch write = exactly-once
    * table contents (the standard recipe for non-transactional sinks).
    * `maxFilesPerTrigger=1` forces one batch per staged file so the sink
    * really partitions by batch; the union of batch dirs must equal the
    * events table exactly once per row (the oracle). The redelivery
    * overwrite contract itself is pinned in StreamingSpec.
    */
  private def qe11BatchSink(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qe11") { tmp =>
      replayEvents(spark, dir, oneFilePerTrigger = true) { (_, ev) =>
        val out = tmp.resolve("out").toString
        streaming.EventStreams.awaitAll(streaming.EventStreams.idempotentParquetSink(
          ev.select(
            col("event_id"), col("user_id"), col("event_type"),
            round(col("value"), 2).as("value")),
          out, tmp.resolve("ckpt").toString))
        spark.read.parquet(out).drop("batch_id")
      }
    }

  /** Exactly-once STREAMING INGEST INTO THE TX-LOG TABLE
    * ([[streaming.EventStreams.txLogSink]] over
    * [[operators.TxLog.appendStreamBatch]]): the staged events
    * file-stream drains through a real writeStream whose every
    * micro-batch commits as version batchId+1 — then the gate REPLAYS
    * batch 0 with a poison row; the version file is already claimed, so
    * the redelivery must no-op (if idempotence ever breaks, the poison
    * row lands in the snapshot and the oracle — the plain events
    * projection, each row exactly once — catches it). Transactional
    * upgrade of qe11: readers see whole committed versions, never a
    * half-written batch dir.
    */
  private def qe12StreamTxlog(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qe12") { tmp =>
      replayEvents(spark, dir, oneFilePerTrigger = true) { (_, ev) =>
        val root = tmp.resolve("tbl").toString
        val rows = ev.select(
          col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value"))
        operators.TxLog.create(
          spark, root,
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rows.schema))
        streaming.EventStreams.awaitAll(
          streaming.EventStreams.txLogSink(rows, root, tmp.resolve("ckpt").toString))
        // redelivery probe: batch 0 arrives again (poison payload) — the
        // claimed version makes it a no-op; a duplicate would fail the oracle
        val poison = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(
            org.apache.spark.sql.Row(-999L, -1L, "poison", 0.0)), 1), rows.schema)
        operators.TxLog.appendStreamBatch(spark, root, poison, batchId = 0L)
        operators.TxLog.snapshot(spark, root)
      }
    }

  /** As-of join — for each click, the user's latest purchase at-or-before
    * it (µs-integer event times; right side pre-deduped per instant).
    * Cross-validated against DuckDB's native ASOF JOIN.
    */
  private def qe2AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("tus", unix_micros(col("ts")))
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tus"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("tus"))
      .agg(
        max(col("event_id")).as("pid"),
        max_by(col("value"), col("event_id")).as("pvalue"))
    operators.Temporal
      .asofJoin(clicks, purchases, "user_id", "tus", Seq("pid", "pvalue"))
      .select(
        col("event_id"),
        col("user_id"),
        col("pid").as("prior_purchase_id"),
        round(col("pvalue"), 2).as("prior_value"))
  }

  /** Skew-salted join under the oracle gate
    * ([[operators.Relational.saltedJoin]]): a deliberately skewed key
    * (70% of lineitem lands on key 0 — the null-sentinel hot-key shape
    * AQE's skew split doesn't always catch) joins the nation dim through
    * the salt: the hot key's rows spread across `saltFactor` subkeys, the
    * small right side replicates `saltFactor`×, and the aggregate result
    * must equal the plain join the oracle replays — salting changes the
    * PLAN (no single straggler task owns key 0), never the answer.
    */
  private def qj13SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val skewKey = when(col("l_orderkey") % 10 < 7, lit(0L))
      .otherwise(col("l_orderkey") % 25)
    val facts = t(spark, dir, "lineitem")
      .select(skewKey.as("k"), col("l_extendedprice"), col("l_quantity"))
    val dim = t(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
    operators.Relational.saltedJoin(facts, dim, "k", saltFactor = 8)
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"))
  }

  /** Bloom runtime-filter join ([[operators.Relational.bloomFilterJoin]]):
    * lineitem joins a 1/53-selective orders dimension through a bloom
    * sketch of the dimension's surviving keys, so ~98% of the fact rows
    * die BEFORE the join exchange. The oracle is the plain join — a
    * bloom false negative (impossible by construction) would drop rows,
    * and a mishandled false positive would add them; either breaks
    * n/revenue per priority.
    */
  private def qj14BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = t(spark, dir, "orders")
      .filter(col("o_orderkey") % 53 === 0)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    operators.Relational.bloomFilterJoin(
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      dim, "l_orderkey", expectedKeys = 200000L)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Binned range join — lineitem prices against synthetic price bands
    * (shuffle equi-join on bins, not a nested-loop over every pair).
    */
  private def qr1RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val points = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
    val bands = t(spark, dir, "nation").select(
      col("n_nationkey").as("band_id"),
      (col("n_nationkey") * 2000).cast("double").as("lo"),
      (col("n_nationkey") * 2000 + 1500 + (col("n_nationkey") % 3) * 300).cast("double").as("hi"))
    Relational
      .rangeJoin(points, bands, "l_extendedprice", "lo", "hi", binSize = 1000.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("price_sum"))
  }

  /** TPC-H Q3 shape — shipping priority: 3-way join with date filters
    * both pushed to scans, group + top-10 by revenue.
    */
  private def q18ShippingPriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .join(t(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)

  /** TPC-H Q5 shape — local supplier volume: 6-way join where supplier
    * and customer share a nation, grouped revenue per nation.
    */
  private def q19LocalVolume(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(t(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin("AMERICA", "ASIA"))
      .groupBy(col("n_name"))
      // EXACT decimal accumulation: price·(1−disc) has ≤4 decimal digits,
      // so the per-row cast is exact and the sum is order-independent —
      // double summation diverged from the oracle by 0.01 at sf1 (FP
      // addition is not associative; partition order differs from DuckDB)
      .agg(
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))

  // ----------------------------------------- training-data pipeline ops
  /** Exact dedup on normalized text fingerprint. */
  private def qd1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .exactDedup(t(spark, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_chars"))

  /** MinHash-LSH near-dedup — survivors (rows-only oracle). */
  private def qd2MinHashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .minHashDedup(t(spark, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"))

  /** SimHash near-dedup — survivors (rows-only oracle). */
  private def qd3SimHashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .simHashDedup(t(spark, dir, "documents").filter(col("n_chars") < 2000), "doc_id", "text")
      .select(col("doc_id"))

  /** N-gram-Jaccard near-dedup — survivors (rows-only oracle). */
  private def qd4NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .ngramJaccardDedup(t(spark, dir, "documents"), "doc_id", "text", threshold = 0.9)
      .select(col("doc_id"))

  /** Embedding-cosine near-dup survivors (rows-only oracle). */
  private def qd5EmbedDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .embeddingNearDup(t(spark, dir, "embeddings"), "vec_id", "embedding", dim = 64, threshold = 0.98)
      .select(col("vec_id"))

  /** SemDeDup (Abbas et al. 2023) survivors over the embeddings table:
    * seed-cell cluster assignment (argmin-L2² vs the 8 lowest-id vectors,
    * 6-dp-rounded distances, lowest-index ties — the qs7 codebook
    * contract with m = 1) and within-cluster cosine ≥ 0.4 drops the
    * higher id. Pairs exist only inside a cluster, so the oracle and the
    * engine both do Σ|cluster|² work, never n². The 0.4 threshold is the
    * paper's regime — SemDeDup prunes SEMANTIC redundancy at moderate
    * cosine, not byte-near-duplicates (this corpus's max within-cluster
    * cosine is 0.49; at 0.95 the prune would be vacuous).
    */
  private def qd14SemDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .semDedup(t(spark, dir, "embeddings"), "vec_id", "embedding", k = 8, threshold = 0.4)
      .select(col("vec_id"), col("cluster"))

  /** Incremental SemDeDup ([[Dedup.incrementalSemDedup]]): the corpus is
    * the non-multiple-of-5 embeddings, the batch is the multiple-of-5
    * rows with ids shifted +1000000 — so real cross-split semantic pairs
    * exist at the qd14 threshold. Seed centroids come from the CORPUS's
    * 8 lowest ids (cluster stability under corpus growth); drops happen
    * both against the corpus and within the batch, and the oracle
    * replays the split, the assignment, and both prune paths.
    */
  private def qd15IncrementalSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val embs = t(spark, dir, "embeddings")
    val corpus = embs.filter(col("vec_id") % 5 =!= 0)
    val batch = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Dedup
      .incrementalSemDedup(corpus, batch, "vec_id", "embedding", k = 8, threshold = 0.4)
      .select(col("vec_id"), col("cluster"))
  }

  /** Token count + char stats per doc — oracle-checkable text analysis. */
  private def qt1TokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        // cast to long: DuckDB's length/len return BIGINT, Spark's INT
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len"))

  /** Language-ID distribution (rows-only oracle; heuristic argmax). */
  private def qt2LangId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("pred_lang", TextFunctions.langId(col("text")))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** Quality scoring distribution (rows-only oracle). */
  private def qt3Quality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))

  /** PII redaction over synthesized contact strings (emails/phones/IPs
    * planted deterministically so the scrub is observable).
    */
  private def qt4Redact(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(
      col("text"),
      lit(" contact: user"),
      col("doc_id").cast("string"),
      lit("@example.com call +12345678901 ip 192.168.1.1"))
    t(spark, dir, "documents")
      .withColumn("red", TextFunctions.redactPii(planted))
      .select(
        col("doc_id"),
        length(col("red")).cast("long").as("len"),
        (regexp_count(col("red"), lit("<EMAIL>")) +
          regexp_count(col("red"), lit("<PHONE>")) +
          regexp_count(col("red"), lit("<IP>"))).cast("long").as("n_redacted"))
  }

  /** Repetition-ratio quality signal (Gopher-style). */
  private def qt5Repetition(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        round(TextFunctions.repetitionRatioUdf(col("text")), 4).as("rep_ratio"))

  /** BPE-ish subword count (rows-only: lookaround regex isn't RE2). */
  private def qt6Subword(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextFunctions.subwordCount(col("text")).cast("long").as("n_subwords"))

  /** Cluster-closure dedup: MinHash-LSH candidate pairs → connected
    * components → keep the min doc per transitive cluster (rows-only).
    */
  private def qd6ClusterDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val sigs = docs.select(
      col("doc_id"),
      graft.functions.expressions.TextHashExpressions.minHashSignature(col("text"), 3, 16).as("__sig"))
    val b = sigs
      .withColumn("__band", explode(array((0 until 4).map(lit): _*)))
      .withColumn("__bandhash", xxhash64(slice(col("__sig"), col("__band") * 4 + 1, lit(4)), col("__band")))
      .select(col("doc_id"), col("__bandhash"))
    val pairs = b.select(col("doc_id").as("a"), col("__bandhash"))
      .join(b.select(col("doc_id").as("b"), col("__bandhash")), Seq("__bandhash"))
      .filter(col("a") > col("b"))
      .select("a", "b")
      .distinct()
    val labels = Dedup.connectedComponents(pairs, "a", "b")
    val survivors = docs
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .select("doc_id")
    survivors
  }

  /** Brute-force cosine top-k ANN baseline (rows-only oracle; ties broken
    * by id, sims rounded so ordering is stable).
    */
  private def qs1CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i + 1.0)) // deterministic probe
    Similarity.bruteForceTopK(t(spark, dir, "embeddings"), "vec_id", "embedding", query, 100)
  }

  /** Maximum-inner-product top-k (codegen DotProduct expression; the
    * second metric of the ANN family, SQL-oracled like qs1).
    */
  private def qs3DotTopK(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.cos(i * 0.5 + 1.0)) // deterministic probe
    Similarity.bruteForceTopKDot(t(spark, dir, "embeddings"), "vec_id", "embedding", query, 100)
  }

  /** Cosine radius search ([[operators.Similarity.radiusSearch]]): every
    * vector at least 0.15-similar to the probe — a pure scan + filter
    * (no k-cut), so the oracle is the same per-term cosine replay as qs1
    * with a WHERE instead of a LIMIT: a vector wrongly inside or outside
    * the ball breaks the row set.
    */
  private def qs9Radius(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i * 1.3 + 0.25)) // deterministic probe
    Similarity.radiusSearch(t(spark, dir, "embeddings"), "vec_id", "embedding", query, 0.15)
  }

  /** Triangle counting ([[graph.Triangles]]): a deterministic
    * co-occurrence graph derived from orders (custkey×orderkey residues)
    * is counted by the degree-ordered compact-forward joins; the oracle
    * replays the canonical 3-way self-join over a<b<c edges — an
    * orientation bug double- or under-counting any triangle breaks the
    * single-row compare, and n_nodes/n_edges pin the canonicalization.
    */
  private def qg10Triangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 3, 80)
    graph.Triangles.count(edges, "x", "y")
  }

  /** Dataset drift report ([[operators.Profiling.driftReport]]): the
    * even/odd event-id halves compare per event_type — counts, shares,
    * and the PSI term from UNROUNDED shares. The oracle replays the
    * identical ratios and log; a count in the wrong slice or a share
    * off by one row moves a 6-dp psi.
    */
  private def qp4Drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    operators.Profiling.driftReport(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1),
      "event_type")
  }

  /** Ordered conversion funnel ([[operators.Temporal.funnel]],
    * view → click → purchase): per user, the first time each step is
    * reached STRICTLY AFTER the previous one, nulls once the funnel
    * stalls, and the completed-stage count. The oracle chains three
    * conditional-min aggregates (each referencing the previous step's
    * time), so an out-of-order match, a `>=` vs `>` slip, or a stalled
    * funnel that keeps matching all break rows.
    */
  private def qe19Funnel(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.funnel(
      events(spark, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  /** Cohort retention ([[operators.Temporal.cohortRetention]]): users
    * bucketed by first-event week, counted in each week-offset they
    * reappear — the retention triangle. Integer epoch-week buckets
    * (identical truncating arithmetic both engines), distinct
    * (cohort, offset, user) before the count so a twice-active week
    * never double-counts.
    */
  private def qe20Cohort(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.cohortRetention(events(spark, dir), "user_id", "ts")

  /** Markov transition matrix ([[operators.Temporal.transitionMatrix]]):
    * per-user consecutive event-type pairs in strict (ts, event_id)
    * order, counted and normalized per from-state — the session-flow
    * model. The oracle runs the identical `lead` window and the same
    * BIGINT/BIGINT→double division; a mis-ordered tie or a pair crossing
    * users changes counts.
    */
  private def qe21Transitions(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.transitionMatrix(
      events(spark, dir), "user_id", "ts", "event_id", "event_type")

  /** Rolling z-score anomaly scoring
    * ([[operators.Temporal.rollingZscore]], lookback 8, threshold 2.5):
    * each event scored against the mean/σ of its 8 PRECEDING events per
    * user in strict (ts, event_id) order. The oracle replays the same
    * ROWS frame, the same explicit s2/n − (s1/n)² variance (never the
    * builtin stddev — engines disagree on the algorithm), and the same
    * full-window/positive-variance guards; z rounds at 4 dp because
    * windowed double sums may associate differently across engines.
    */
  private def qe22Zscore(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.rollingZscore(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      lookback = 8, threshold = 2.5)

  /** Time-weighted average ([[operators.Temporal.twap]], 30-min
    * buckets): Σ v·Δt / Σ Δt with Δt in integer microseconds to the
    * next observation (bucket-edge close for the last) — the
    * irregular-sampling integral a plain AVG gets wrong. The oracle
    * replays the identical lead window, integer-µs Δt arithmetic, and
    * HUGEINT-capped Δt sum.
    */
  private def qe23Twap(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.twap(
      events(spark, dir), "user_id", "ts", "event_id", "value", 1800L)

  /** LTTB downsampling ([[operators.Temporal.lttb]], k = 20): per user
    * the 20 visually-faithful points (endpoints + per-bucket largest
    * triangle); users with ≤ 20 observations pass through whole.
    */
  private def qe28Lttb(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.lttb(
      events(spark, dir), "user_id", "ts", "event_id", "value", k = 20)

  /** Containment-similarity join ([[operators.Dedup.containmentJoin]],
    * 3-gram shingles, τ = 0.9): every ordered (a, b) where ≥ 90% of
    * a's shingles appear in b — quote/excerpt/contamination detection,
    * the directional question qd16's Jaccard can't ask.
    */
  private def qd17Containment(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.containmentJoin(
      t(spark, dir, "documents"), "doc_id", "text",
      minContainment = 0.9, shingleSize = 3)

  /** Holt double-exponential smoothing ([[operators.Temporal.holt]],
    * α = 0.5, β = 0.25 — dyadic by the operator's cross-engine literal
    * contract): per-user final level/trend/one-step forecast.
    */
  private def qe26Holt(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.holt(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      alpha = 0.5, beta = 0.25)

  /** Holt-Winters additive smoothing ([[operators.Temporal
    * .holtWinters]], α = 0.5, β = 0.25, γ = 0.25, period 4 — all dyadic
    * per the cross-engine literal contract): per-user final
    * level/trend/next-slot seasonal/forecast.
    */
  private def qe29HoltWinters(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.holtWinters(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      alpha = 0.5, beta = 0.25, gamma = 0.25, period = 4)

  /** CUSUM change detection ([[operators.Temporal.cusum]], target 250,
    * slack 16, threshold 256 — micro-integer parameters, all-integer
    * fold): per-user alarm counts and peak statistic.
    */
  private def qe30Cusum(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.cusum(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      targetMicro = 250000000L, slackMicro = 16000000L,
      thresholdMicro = 256000000L)

  /** Interval coverage ([[operators.Temporal.intervalCoverage]]):
    * events as [ts, ts + value seconds) spans; per-user union length
    * and disjoint-segment count via the one-window sweep-line.
    */
  private def qr2IntervalCoverage(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.intervalCoverage(
      events(spark, dir), "user_id", "ts", "event_id", "value")

  /** Peak interval concurrency ([[operators.Temporal
    * .peakConcurrency]]): per-user max simultaneously-active intervals
    * (qr2's interval construction) and the earliest µs instant it is
    * reached — integer sweep, deterministic after the per-instant
    * delta collapse.
    */
  private def qr4PeakConcurrency(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.peakConcurrency(
      events(spark, dir), "user_id", "ts", "value")

  /** Mann-Kendall trend test ([[operators.Temporal.mannKendall]]):
    * per-user S statistic, tie-corrected variance numerator, and
    * continuity-corrected z — the all-integer core replayed by the
    * oracle's ordered pair join.
    */
  private def qe31MannKendall(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.mannKendall(
      events(spark, dir), "user_id", "ts", "event_id", "value")

  /** SCD Type-2 history ([[operators.Temporal.scd2History]]): the
    * per-user event_type change log as validity intervals — one row
    * per attribute run, half-open [valid_from, valid_to), null-closed
    * current row, versions in change order.
    */
  private def qj15Scd2(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.scd2History(
      events(spark, dir), "user_id", "ts", "event_id", "event_type")

  /** Benford first-digit profile ([[operators.Profiling.benford]]):
    * per event_type leading-digit counts of the micro-quantized value,
    * chi-square against the literal Benford probabilities, 5% flag.
    */
  private def qp5Benford(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.benford(events(spark, dir), "event_type", "value")

  /** Binned interval-overlap join ([[operators.Relational
    * .intervalOverlapJoin]], 1 h bins): even-event intervals ×
    * odd-event intervals per user ([ts, ts + value MINUTES)), counted
    * once per overlapping pair; per-user pair count, total and max
    * overlap. The oracle is the UNBINNED quadratic pair join — a
    * double-counted bin, missed boundary pair, or closed-interval slip
    * all break it.
    */
  private def qr3OverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("st"),
        (expr("unix_micros(ts)")
          + floor(col("value").cast("double") * lit(6e7)).cast("long"))
          .as("en"))
    val out = operators.Relational.intervalOverlapJoin(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1),
      "user_id", "event_id", "st", "en", binUs = 3600000000L)
    out.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("overlap_us")).as("overlap_us_sum"),
        max(col("overlap_us")).as("max_overlap_us"))
  }

  /** Two-proportion A/B test ([[operators.Profiling.abTest]], arm =
    * even user_id): per event_type success counts, rates, pooled z,
    * and the 5% significance flag.
    */
  private def qp6AbTest(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.abTest(
      events(spark, dir), col("user_id") % 2 === 0, "event_type")

  /** Autocorrelation function ([[operators.Temporal.acf]], lags 1-3):
    * per-user sample ACF over the centi-quantized value series — the
    * power-sum decomposition makes the float tree order-free.
    */
  private def qe32Acf(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.acf(
      events(spark, dir), "user_id", "ts", "event_id", "value", maxLag = 3)

  /** Count-correlation matrix ([[operators.Profiling.countCorrelation]],
    * daily buckets): pairwise Pearson r of per-day event counts between
    * event types, zero-densified over the day x type grid.
    */
  private def qp7CorrMatrix(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.countCorrelation(
      events(spark, dir), expr("unix_micros(ts) div 86400000000"),
      "event_type")

  /** Calibration profile + ECE ([[operators.Profiling.calibration]],
    * 10 bins): value/500 as the confidence score, purchase as the
    * label — per-bin reliability curve plus the ordered-fold expected
    * calibration error.
    */
  private def qp8Calibration(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.calibration(
      events(spark, dir).filter(col("value").isNotNull),
      col("value") / lit(500.0), col("event_type") === "purchase", bins = 10)

  /** Kaplan-Meier survival curve ([[operators.Temporal.kaplanMeier]],
    * death = first purchase): time-to-convert in days with
    * right-censoring at last observation — the day table's suffix-sum
    * risks and ordered prefix product replayed by a recursive CTE.
    */
  private def qe34KaplanMeier(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.kaplanMeier(
      events(spark, dir), "user_id", "ts", col("event_type") === "purchase")

  /** Chi-square independence + Cramér's V ([[operators.Profiling
    * .chiSquareIndependence]]): is event mix independent of the
    * user-parity arm? Zero-densified 5x2 contingency grid, ordered
    * cell fold.
    */
  private def qp9ChiSquare(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.chiSquareIndependence(
      events(spark, dir), col("event_type"),
      (col("user_id") % 2).cast("long"))

  /** Good-Turing unseen-mass estimate ([[operators.TextAnalysis
    * .goodTuring]]): corpus lexical-coverage readout — hapax share,
    * doubleton-adjusted count, p0 = N1/N.
    */
  private def qt37GoodTuring(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.goodTuring(t(spark, dir, "documents"), "text")

  /** Two-sample KS test ([[operators.Profiling.ksTest]]): per
    * event_type, the exact ECDF supremum distance between the
    * user-parity arms' value distributions — the unbinned drift test.
    */
  private def qp10KsTest(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.ksTest(
      events(spark, dir), "event_type", "value", col("user_id") % 2 === 0)

  /** Mann-Whitney U ([[operators.Profiling.mannWhitney]]): per
    * event_type, the rank-sum location test between the user-parity
    * arms — doubled midranks keep everything integer to the last
    * divide.
    */
  private def qe37MannWhitney(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.mannWhitney(
      events(spark, dir), "event_type", "value", col("user_id") % 2 === 0)

  /** One-way ANOVA ([[operators.Profiling.oneWayAnova]]): does mean
    * event value differ across the 5 event types — the parametric
    * k-group test beside the 2-arm qe37/qp10 family; exact integer
    * power sums, fixed sorted-group IEEE fold.
    */
  private def qp11Anova(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.oneWayAnova(events(spark, dir), "event_type", "value")

  /** Mutual information ([[operators.Profiling.mutualInformation]],
    * lang × source over documents): feature-relevance MI + entropies +
    * √(H·H)-normalized NMI, every entropic sum an ordered fold over
    * exact integer counts.
    */
  private def qp12MutualInfo(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.mutualInformation(
      t(spark, dir, "documents"), col("lang"), col("source"))

  /** Hampel robust-outlier screen ([[operators.Temporal
    * .robustOutliers]]): per-user median/MAD (exact integer
    * selections at 2× scale) and the `2·dev > 3·dm2` outlier count.
    */
  private def qe39RobustZ(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.robustOutliers(events(spark, dir), "user_id", "value")

  /** Per-user OLS trend ([[operators.Temporal.olsTrend]]): slope /
    * intercept / R² from exact integer power sums over (hours since
    * 2020, centi-value).
    */
  private def qe40Ols(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.olsTrend(events(spark, dir), "user_id", "ts", "value")

  /** Per-user Spearman rank correlation ([[operators.Temporal
    * .spearman]]): monotone-trend strength from integer time ranks ×
    * doubled average value ranks.
    */
  private def qe41Spearman(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.spearman(
      events(spark, dir), "user_id", "ts", "event_id", "value")

  /** Gini concentration per event_type ([[operators.Profiling.gini]]):
    * value-mass inequality from the exact integer rank-weighted sum.
    */
  private def qp13Gini(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.gini(events(spark, dir), "event_type", "value")

  /** RFM segmentation ([[operators.Temporal.rfmSegments]], 5 bands):
    * recency/frequency/monetary quantile scores from range-partitioned
    * exact threshold selections — no global ntile sort.
    */
  private def qe42Rfm(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.rfmSegments(events(spark, dir), "user_id", "ts", "value")

  /** Bucketed DBSCAN ([[operators.Similarity.dbscanCosine]], 4-bit
    * hyperplane buckets, cosine ≥ 0.25, minPts = 2): density clusters
    * + noise over the embeddings — the LSH-bucketed neighbor graph is
    * part of the operator contract (qd5 semantics), core-core
    * components take min-label, borders take their minimum core
    * neighbor's label (the DBSCAN order-dependence wrinkle pinned
    * deterministic). At these parameters the gate output carries all
    * three roles (217 core / 118 border / 165 noise, 30 clusters) —
    * a non-degenerate exercise of every labeling path.
    */
  private def qs16Dbscan(spark: SparkSession, dir: String): DataFrame =
    operators.Similarity.dbscanCosine(
      t(spark, dir, "embeddings"), "vec_id", "embedding", dim = 64,
      simThreshold = 0.25, minPts = 2, bits = 4)

  /** IVF·PQ composed ANN ([[operators.Similarity.ivfPqTopK]]): coarse
    * seed-cell probe (2 of 8 cells) → fine 8×16 seed-codebook ADC over
    * the survivors — the two-level FAISS shape, both levels replayed
    * by the oracle.
    */
  private def qs15IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i * 0.3 + 2.0)) // the qs7 probe
    operators.Similarity.ivfPqTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding", query,
      topK = 50, nCells = 8, nProbe = 2, m = 8, k = 16)
  }

  /** Stupid-backoff LM scoring ([[operators.TextAnalysis
    * .backoffLmScore]], qt12's even/odd split): seen bigrams score
    * c12/c1 raw, unseen back off to 0.4 · add-one unigram — the
    * web-scale count-only scoring rule.
    */
  private def qt39BackoffLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    operators.TextAnalysis.backoffLmScore(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text")
  }

  /** Per-node clustering coefficient ([[graph.Triangles.perNode]],
    * the qg10 edge list): degree-ordered triangle corners exploded,
    * coef = 2t/(d(d−1)), degree-<2 nodes null.
    */
  private def qg17ClusteringCoef(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 3, 80)
    graph.Triangles.perNode(edges, "x", "y")
  }

  /** Bollinger bands ([[operators.Temporal.bollinger]], window 5,
    * k = 1): rolling mean ± σ envelope from exact window power sums,
    * full windows only, quantized-value breakout flags. k = 1 because
    * the max |z| of the CURRENT row inside its own 5-window is
    * (n−1)/√n ≈ 1.79 — a k = 2 band is unbreakable by construction and
    * the flag would gate nothing.
    */
  private def qe43Bollinger(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.bollinger(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      window = 5, k = 1.0)

  /** Audio decimation ([[multimodal.Multimodal.resampleAudio]], 2:1):
    * real WAV decode → floor-mean pair averaging → checksum/RMS
    * evidence; the oracle replays the PCM formula and the floor pairs.
    */
  private def qm15AudioResample(spark: SparkSession, dir: String): DataFrame =
    multimodal.Multimodal
      .resampleAudio(
        multimodal.Multimodal.wavMediaFromDocuments(spark, t(spark, dir, "documents")),
        factor = 2)
      .select(
        col("media_id"), col("sample_rate"), col("n_samples"),
        col("checksum"), round(col("rms"), 6).as("rms"))

  /** Focal raster mean ([[operators.Spatial.focalMean]], 3×3 window)
    * over a deterministic synthetic GeoTIFF — written and re-read
    * through the native codec (the qz2 roundtrip), grid coords
    * recovered from the half-pixel-centered world coords, edge pixels
    * averaging over their real neighbors only.
    */
  private def qz8Focal(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qz8") { tmp =>
      val (w, h) = (64, 48)
      sources.GeoTiff.write(
        tmp.resolve("raster.tif").toString, w, h, rasterValues(w, h, 7, 13, 40),
        1.0, 1.0, 0.0, h.toDouble)
      val cells = sources.GeoTiff.read(spark, tmp.toString, globFilter = Some("*.tif"))
        .select(
          floor(col("x")).cast("long").as("cx"),
          floor(col("y")).cast("long").as("cy"),
          col("value"))
      operators.Spatial.focalMean(cells, radius = 1, quant = 10.0)
    }

  /** Rolling lag-1 autocorrelation ([[operators.Temporal
    * .rollingAutocorr]], window 8): per-user trending-vs-whipsawing
    * regime signal — Pearson over the trailing 8 (prev, current)
    * centi-quantized pairs, full windows only.
    */
  private def qe44Autocorr(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.rollingAutocorr(
      events(spark, dir), "user_id", "ts", "event_id", "value", window = 8)

  /** Jensen–Shannon divergence ([[operators.Profiling.jsDivergence]])
    * between the even- and odd-doc token distributions — the
    * zero-bin-safe corpus drift readout (PSI's log-ratio is infinite on
    * any token one side lacks; JSD's mixture midpoint absorbs it).
    */
  private def qp14Jsd(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    def toks(f: DataFrame): DataFrame =
      f.select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    operators.Profiling.jsDivergence(
      toks(docs.filter(col("doc_id") % 2 === 0)),
      toks(docs.filter(col("doc_id") % 2 === 1)),
      "token")
  }

  /** Zipf rank–frequency fit ([[operators.TextAnalysis.zipfFit]]):
    * OLS of ln(freq) on ln(rank) over the descending word-frequency
    * table — the corpus-health fingerprint (natural text ≈ −1 slope).
    */
  private def qt41Zipf(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.zipfFit(t(spark, dir, "documents"), "text")

  /** Winsorization ([[operators.Relational.winsorize]], p10/p90 per
    * event_type on centi-quantized values): row-preserving outlier
    * clamping through the grouped-percentile bisection kernel, read
    * out as per-type clip counts and raw-vs-winsorized means.
    */
  private def qe45Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir)
      .filter(col("value").isNotNull)
      .select(
        col("event_type"),
        floor(col("value").cast("double") * lit(100.0)).cast("long").as("q"))
    operators.Relational.winsorize(base, "event_type", "q", 10.0, 90.0)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__clip") === -1L, 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("__clip") === 1L, 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("q")).as("__sraw"),
        sum(col("__w").cast("long")).as("__swin"))
      .select(
        col("event_type"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
        round(col("__sraw").cast("double") / col("n").cast("double") / lit(100.0), 6)
          .as("mean_raw"),
        round(col("__swin").cast("double") / col("n").cast("double") / lit(100.0), 6)
          .as("mean_winsorized"))
  }

  /** Single-source BFS hop distance ([[graph.Bfs.hops]]) from node 0
    * over the orders-derived mod-500 graph: frontier-expansion layers,
    * unreachable nodes absent. Oracle replays the monotone min-fold
    * (the qd6 label-prop recursion carrying the FULL distance table
    * per iteration — frontier-style recursion multiplies paths).
    */
  private def qg18Bfs(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 11, 500)
    graph.Bfs.hops(edges, "x", "y", source = 0L)
  }

  /** Exact betweenness centrality ([[graph.Betweenness.run]], pivots
    * = 0 ⇒ every vertex a source — exact Brandes): shortest-path
    * brokerage over a %150 projection of orders. The oracle avoids
    * replaying Brandes' backward accumulation: it computes layered
    * per-source path counts σ (one recursive DP over the converged
    * qg18-style distance table) and applies the pair-sum identity
    * BC(v) = ½·Σ_{s,t} σ_sv·σ_vt/σ_st·[d(s,v)+d(v,t)=d(s,t)] — a pure
    * triple join, exact by Brandes (2001) Thm 6 / Lemma 3. Both sides
    * round to 6 dp; the two accumulation ORDERS differ (engine backward
    * pass vs oracle pair sum), and their 6-dp equality is EMPIRICAL,
    * validated bit-identical against an independent hand-rolled Brandes
    * for THIS exact projection (%29 order filter, %150 keys, sf0.01/
    * sf0.1) — changing the projection or scale re-opens the rounding-
    * boundary question and needs that validation re-run.
    */
  private def qg21Betweenness(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
    // 2×diameter eager frame rounds over ≤ 150² state rows: at 32
    // shuffle partitions the wall is TASK COUNT, not data (measured
    // 6.5 → 4.5 s at 8) — the qe6 small-state override, restored after
    // the eager rounds (Betweenness checkpoints its output, so the
    // caller's count() does no shuffling at the restored setting)
    withConf(spark, ShufflePartitions -> "8") {
      graph.Betweenness.run(edges, "x", "y", pivots = 0)
        .select(col("node"), round(col("betweenness"), 6).as("betweenness"))
    }
  }

  /** Weighted betweenness ([[graph.Betweenness.runWeighted]], exact —
    * every vertex a pivot) on the qg32 projection/cost model:
    * cost-shortest-path brokerage via three keyed fixpoints (min-plus
    * distances, σ path counts over the bit-exact shortest-path DAG,
    * backward δ). Integer costs keep distances, DAG membership and σ
    * exact; the oracle replays the Brandes pair-sum identity
    * B(v) = ½·Σ σ_sv·σ_vt/σ_st over cost-additive triples, with σ from
    * a hop-layered DAG recursion — no backward pass in SQL, the qg21
    * cross-derivation check.
    */
  private def qg34WeightedBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
      .withColumn("w", (lit(1) + (col("x") + col("y")) % 7).cast("double"))
    withConf(spark, ShufflePartitions -> "8") {
      graph.Betweenness.runWeighted(edges, "x", "y", "w", pivots = 0)
        .select(col("node"), round(col("betweenness"), 6).as("betweenness"))
    }
  }

  /** Common-neighbor link prediction ([[graph.Structure.linkPrediction]],
    * cn ≥ 2) on a %200 order-residue graph: every NON-adjacent pair
    * scored by common-neighbor count, Adamic-Adar Σ 1/ln(deg) and
    * resource-allocation Σ 1/deg through its shared neighbors — the
    * missing-link primitive next to qg10's closed-wedge count. The
    * oracle replays the wedge self-join, the NOT EXISTS adjacency
    * filter and both 6-dp sums — a pair wrongly adjacent, a missed
    * wedge, or a degree off by one moves a score.
    */
  private def qg35LinkPred(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 5, 200)
    graph.Structure.linkPrediction(edges, "x", "y", minCommon = 2)
  }

  /** Neighborhood-Jaccard structural similarity ([[graph.Structure
    * .neighborhoodJaccard]], cn ≥ 3) on qg35's %200 projection: the
    * SNN-graph construction — every pair (adjacent or not) scored by
    * open-neighborhood overlap with both degrees and the adjacency
    * flag. The oracle replays the wedge count, both degree joins, the
    * EXISTS flag and the J division at 6 dp.
    */
  private def qg39NeighborhoodJaccard(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 5, 200)
    graph.Structure.neighborhoodJaccard(edges, "x", "y", minCommon = 3)
  }

  /** Degree assortativity ([[graph.Structure.assortativity]]) on qg10's
    * %80 projection: Newman's mixing coefficient as one Pearson r over
    * the symmetrized endpoint-degree pairs. Every moment accumulates as
    * an exact integer (DECIMAL(38,0) / HUGEINT), so the single final
    * division chain is bit-identical across engines; mean² is an
    * explicit multiply (never libm pow) for the same reason.
    */
  private def qg36Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 3, 80)
    graph.Structure.assortativity(edges, "x", "y")
  }

  /** Partition modularity ([[graph.Structure.modularity]]) of the
    * deterministic v mod 8 labeling over qg10's %80 projection: per
    * community the intra-edge count, degree mass and Newman-Girvan
    * q_term = e_c/m − (d_c/2m)² — integer-exact counts, one FP
    * division chain per row, replayed literally by the oracle.
    */
  private def qg37Modularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 3, 80)
    val labels = spark.range(80)
      .select(col("id").as("v"), (col("id") % 8).as("c"))
    graph.Structure.modularity(edges, "x", "y", labels, "v", "c")
  }

  /** Deterministic random-walk corpus ([[graph.Walks.randomWalks]],
    * 2 walks × length 8 per node) on qg10's %80 projection: the
    * DeepWalk/node2vec input stage with md5(start|walk|step|current)
    * replacing the RNG — the oracle replays every step of every walk
    * through a recursive CTE over the same sorted adjacency lists, so
    * one mis-chosen neighbor anywhere breaks rows.
    */
  private def qg38RandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 3, 80)
    withConf(spark, ShufflePartitions -> "8") {
      graph.Walks.randomWalks(edges, "x", "y", walksPerNode = 2, length = 8)
    }
  }

  /** Exact closeness + harmonic centrality ([[graph.Centrality
    * .distanceCentralities]]) on qg21's %150 projection: per-vertex
    * reachable count, exact Long distance sum, closeness =
    * n_reached/sum_dist (one IEEE divide of exact integers), harmonic
    * = Σ count_d/d folded in ascending-distance order — ≤ diameter
    * terms per vertex, replayed by the oracle as the same sorted
    * list_reduce fold (the qp14 ordered-fold contract).
    */
  private def qg22Centrality(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
    // small-state override (the qg21 rationale: diameter eager BFS
    // rounds over ≤ 150² rows are task-count-bound at 32 partitions)
    withConf(spark, ShufflePartitions -> "8") {
      graph.Centrality.distanceCentralities(edges, "x", "y")
    }
  }

  /** HyperBall harmonic-centrality ESTIMATE ([[graph.Centrality
    * .harmonicHyperBall]], p = 6) on qg22's %150 projection — the
    * designated 100 TB path for qg22's semantics (Θ(n·2^p) state vs
    * the exact tier's Θ(n·reached)). The gate hash-compares the
    * APPROXIMATE answer exactly (the qk4 recipe): registers are
    * md5-replayable, the harmonic estimate is the per-round running
    * max M(t) folded as Σ(M(t)−M(t−1))/t in round order, and every
    * estimator term is a power of two (FP-exact in any order) — the
    * oracle rebuilds per-round ball register states from exact BFS
    * distances (ball at round t = registers over {w : d ≤ t}), applies
    * the identical α₆₄/linear-counting switch, and folds the identical
    * running-max deltas as an ordered list_reduce. Accuracy vs the
    * exact tier is CentralitySpec's error-band pin, not the gate's.
    */
  private def qg23HyperBall(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
    // small-state override (the qg21 rationale: diameter eager rounds
    // over ≤ 150·2^p register rows are task-count-bound at 32)
    withConf(spark, ShufflePartitions -> "8") {
      graph.Centrality.harmonicHyperBall(edges, "x", "y", p = 6)
        .select(col("node"),
          round(col("harmonic_est"), 6).as("harmonic_est"),
          round(col("reached_est"), 6).as("reached_est"))
    }
  }

  /** Effective diameter via HyperANF ([[graph.Centrality
    * .effectiveDiameterHyperBall]], α = 0.9, p = 6) on qg22's %150
    * projection: the neighborhood function N(t) = Σ_v M_v(t) in exact
    * MICRO-UNIT Longs (each per-node running-max estimate quantizes
    * to round(M·10⁶) before the global sum — order-free), then the
    * interpolated smallest t with N(t) ≥ α·N(∞). The oracle rebuilds
    * the same per-round register estimates as qg23, extends each
    * node's series constantly past its eccentricity (registers are
    * fixed there), and replays the pick + interpolation on the same
    * exact integers.
    */
  private def qg24EffDiameter(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
    withConf(spark, ShufflePartitions -> "8") {
      graph.Centrality.effectiveDiameterHyperBall(
        edges, "x", "y", alpha = 0.9, p = 6)
    }
  }

  /** Hard-negative mining ([[operators.Similarity.hardNegatives]],
    * band [0.1, 0.3), k = 10, anchors = the 8 lowest vec_ids — the
    * qd14 seed pattern): per anchor, the top-k corpus vectors inside
    * the similarity band — contrastive negatives similar enough to
    * teach the margin, dissimilar enough to not be latent positives.
    * 6-dp-rounded scores, id tie-break; bounded-aggregator k-cut.
    */
  private def qs17HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val embs = t(spark, dir, "embeddings")
    val anchors = embs.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    operators.Similarity.hardNegatives(
      embs, anchors, "vec_id", "embedding", "a_id", "a_vec",
      lo = 0.1, hi = 0.3, k = 10)
  }

  /** Source overlap matrix ([[operators.TextAnalysis.sourceOverlap]],
    * trigrams): pairwise distinct-gram Jaccard between the documents
    * table's `source` feeds — the corpus-composition diagnostic
    * (qt48's per-doc novelty lifted to the source×source matrix).
    * Counts exact Longs, one IEEE divide.
    */
  private def qd21SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.sourceOverlap(
      t(spark, dir, "documents"), "source", "text", n = 3)

  /** Eigenvector centrality ([[graph.Centrality
    * .eigenvectorCentrality]], 8 power-iteration rounds) on qg22's
    * %150 projection: the dominant-eigenvector importance score —
    * the centrality family's last missing member. L∞ normalization
    * (max — order-free) each round; the oracle unrolls the same 8
    * rounds as MATERIALIZED CTEs (the qg14 recipe) with the per-node
    * neighbor sums carrying the qg9 bounded-fan-in slack under the
    * 6-dp round.
    */
  private def qg25Eigenvector(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
    withConf(spark, ShufflePartitions -> "8") {
      graph.Centrality.eigenvectorCentrality(edges, "x", "y", iters = 8)
    }
  }

  /** WEIGHTED eigenvector centrality ([[graph.Centrality
    * .eigenvectorCentrality]] with `weightCol`, 8 rounds) on the FULL
    * %150 orders projection with edge weight = pair multiplicity
    * (x ← A_w·x, [[graph.Centrality]]'s strength adjacency — both
    * orientations and parallel pairs sum): the weighted form every
    * real tie-strength graph needs, same L∞ normalization. Counts are
    * exact Longs, the Σw·x neighbor sum carries the qg14 bounded-
    * fan-in slack under the 6-dp round; the oracle unrolls the same 8
    * rounds as MATERIALIZED CTEs over the same summed-weight edges.
    */
  private def qg27WeightedEigenvector(spark: SparkSession, dir: String): DataFrame = {
    val edges = t(spark, dir, "orders")
      .groupBy(
        (col("o_custkey") % 150).as("x"),
        (col("o_orderkey") % 150).as("y"))
      .agg(count(lit(1)).as("w"))
    withConf(spark, ShufflePartitions -> "8") {
      graph.Centrality.eigenvectorCentrality(
        edges, "x", "y", iters = 8, weightCol = Some("w"))
    }
  }

  /** Strongly connected components ([[graph.Scc]], trim + forward
    * coloring + backward confinement) over a DIRECTED %60 orders
    * projection — mutual-reachability classes labeled by their minimum
    * member (qg19's undirected components can't see one-way bridges).
    * The oracle computes the recursive-CTE transitive closure and
    * takes min over mutual-reach partners — exact integer labels, no
    * FP anywhere.
    */
  private def qg28Scc(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 97, 60).toDF("s", "d")
    // small-state fixpoint rounds over ≤ 60 label rows — task-count-
    // bound at 32 shuffle partitions (the qg21/qg23 rationale)
    withConf(spark, ShufflePartitions -> "8")(graph.Scc.run(edges, "s", "d"))
  }

  /** Topological layering ([[graph.Dag.longestPathLayer]]): per node,
    * the longest directed path ending at it, over a BUCKET-LAYERED
    * orders projection (edge kept only when floor(s/50) <
    * floor(d/50)) — acyclic by construction with critical depth ≤ 9
    * at ANY scale factor (density fills layers sideways, never
    * lengthwise), so the fixpoint round count is scale-stable.
    */
  private def qg29DagLayer(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 11, 500).toDF("s", "d")
      .filter(floor(col("s") / 50) < floor(col("d") / 50))
    // small-state fixpoint rounds over ≤ 500 layer rows (the qg28
    // rationale)
    withConf(spark, ShufflePartitions -> "8")(graph.Dag.longestPathLayer(edges, "s", "d"))
  }

  /** Critical path ([[graph.Dag.criticalPath]]): the qg29 bucket-layered
    * DAG with integer durations w = 1 + (s + d) % 5 — per node, the hop
    * layer AND the max total duration of any dependency chain into it
    * (earliest-start scheduling).
    */
  private def qg31CriticalPath(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 11, 500).toDF("s", "d")
      .filter(floor(col("s") / 50) < floor(col("d") / 50))
      .withColumn("w", (lit(1) + (col("s") + col("d")) % 5).cast("double"))
    withConf(spark, ShufflePartitions -> "8")(graph.Dag.criticalPath(edges, "s", "d", "w"))
  }

  /** Distributed weighted SSSP ([[graph.Bfs.sssp]], source 0): min-plus
    * frontier Bellman-Ford over the qg18 projection with exact integer
    * edge costs w = 1 + (a + b) % 7 — the DataFrame form of the
    * broadcast-CSR Dijkstra tier, for graphs past any single
    * executor's CSR.
    */
  private def qg30Sssp(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 11, 500)
      .select(least(col("x"), col("y")).as("s"), greatest(col("x"), col("y")).as("d"))
      .filter(col("s") =!= col("d"))
      .withColumn("w", (lit(1) + (col("s") + col("d")) % 7).cast("double"))
    withConf(spark, ShufflePartitions -> "8")(graph.Bfs.sssp(edges, "s", "d", "w", source = 0L))
  }

  /** Weighted closeness + harmonic centrality ([[graph.Centrality
    * .weightedDistanceCentralities]]) on qg22's %150 projection with
    * the qg30 integer cost model w = 1 + (a + b) % 7: the qg30
    * min-plus fixpoint run from every source, normalized by the qg22
    * tail (ascending-(dist, cnt) ordered folds for sum_dist and
    * harmonic, one IEEE divide for closeness). Integer-valued costs
    * keep every distance and fold term exact; the oracle replays the
    * multi-source recursive-CTE Bellman-Ford bounded by the node
    * count (any shortest path has ≤ n − 1 hops, so it < 150 is
    * structural, not data-dependent).
    */
  private def qg32WeightedCentrality(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
      .withColumn("w", (lit(1) + (col("x") + col("y")) % 7).cast("double"))
    withConf(spark, ShufflePartitions -> "8") {
      graph.Centrality.weightedDistanceCentralities(edges, "x", "y", "w")
    }
  }

  /** Weighted eccentricity ([[graph.Centrality.weightedEccentricity]])
    * on the qg32 projection/cost model: per node the COST distance to
    * its farthest reachable vertex (max over the shared all-pairs
    * min-plus kernel — no summation, so 6-dp rounding is convention,
    * not protection); max/min over the column read the graph's cost
    * diameter and radius. Oracle = the qg32 multi-source Bellman-Ford
    * CTE re-aggregated with max, same n-derived iteration bound.
    */
  private def qg33WeightedEcc(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 29, 150)
      .withColumn("w", (lit(1) + (col("x") + col("y")) % 7).cast("double"))
    withConf(spark, ShufflePartitions -> "8") {
      graph.Centrality.weightedEccentricity(edges, "x", "y", "w")
    }
  }

  /** ANN recall@10 evaluation ([[operators.Similarity.annRecall]],
    * 16 queries, 8-bit hyperplane cells, hamming-1 probe ball): per
    * query, |approximate top-10 ∩ exact top-10| / 10 — the
    * index-quality read that decides bits/nProbe tuning.
    */
  private def qs18AnnRecall(spark: SparkSession, dir: String): DataFrame =
    operators.Similarity.annRecall(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, k = 10, bits = 8, nProbe = 1, numQueries = 16)

  /** Multi-probe ANN recall@10 ([[operators.Similarity
    * .annRecallMultiProbe]], 16 queries, 8-bit cells, 9 margin-ranked
    * probe cells — the SAME cell budget as qs18's hamming-1 ball):
    * probe cells are the signature perturbations minimizing summed
    * squared µ-margins of the flipped bits (integer micro-units, so
    * the mask ranking is an exact integer sort the oracle replays),
    * the qs18-adjudicated recall improvement at fixed budget.
    */
  private def qs19AnnMultiprobe(spark: SparkSession, dir: String): DataFrame =
    operators.Similarity.annRecallMultiProbe(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, k = 10, bits = 8, nCand = 9, numQueries = 16)

  /** Multi-probe kNN JOIN ([[operators.Similarity.multiProbeKnnJoin]],
    * 16 lowest-id query rows, 8-bit cells, 9 margin-ranked probes):
    * the batch search path — per query the approximate cosine top-10
    * from the probed cells, self included (the qs5 knnJoin contract),
    * bounded TopK aggregator, probe cells a broadcast equi-join.
    */
  private def qs21MpKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val embs = t(spark, dir, "embeddings")
    val queries = embs.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    operators.Similarity.multiProbeKnnJoin(
      embs, queries, "vec_id", "embedding", "qid", "qv",
      dim = 64, k = 10, bits = 8, nCand = 9)
  }

  /** Weighted (TF) Jaccard report ([[operators.Dedup
    * .weightedJaccardReport]], 16 hashes / 8 bands): per LSH candidate
    * pair, the token-multiset Jaccard Σmin(tf)/Σmax(tf) — the
    * repetition-aware similarity set Jaccard is blind to. Exact
    * integer Σmin + totals; one IEEE divide.
    */
  private def qd23WeightedJaccard(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.weightedJaccardReport(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Winnowing near-dup pairs ([[operators.Dedup.winnowingNearDup]],
    * k = 4, w = 8, minShared = 3): qt51's fingerprints self-joined on
    * the inverted index — MOSS-style deterministic overlap detection
    * (any shared run ≥ 11 words is guaranteed caught). The oracle
    * replays the shared CTE pipeline plus the pair count and
    * fingerprint-Jaccard arithmetic.
    */
  private def qd24WinnowNearDup(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.winnowingNearDup(
      t(spark, dir, "documents"), "doc_id", "text", minShared = 3)

  /** Leakage-safe train/val/test split ([[operators.Dedup
    * .leakageSafeSplit]], 8/1/1): the split is drawn per NEAR-DUP
    * CLUSTER (qd2's LSH bands → qd6's min-label components;
    * singletons = own id), so near-duplicates can never straddle
    * splits — the eval-contamination guard a per-doc hash split
    * lacks. Bucket = md5(cluster|seed) mod 10, cumulative-weight
    * thresholds name the split.
    */
  private def qd22LeakageSplit(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.leakageSafeSplit(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Per-doc unigram KL quality score ([[operators.TextAnalysis
    * .unigramKl]]): divergence of the doc's token distribution from
    * the corpus distribution — the frequency-based quality signal.
    * Ordered lexicographic term fold (the qg22/qp14 contract), exact
    * Long counts, 6 dp.
    */
  private def qt49UnigramKl(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.unigramKl(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Edit-distance self-join ([[operators.Dedup.editDistanceJoin]],
    * k = 1) over customer names: deletion-neighborhood candidates +
    * exact levenshtein verify. The shared "Customer#0000" prefix is
    * the corpus shape that defeats q-gram prefix filtering (measured:
    * 10⁷–10⁸ candidates at every q); deletion variants pin all but k
    * characters, so buckets stay true-neighbor-sized.
    */
  private def qd19EditJoin(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.editDistanceJoin(
      t(spark, dir, "customer"), "c_custkey", "c_name", k = 1)

  /** Keep-best near-dup canonicalization ([[operators.Dedup
    * .keepBestNearDups]]): qd2's MinHash-LSH pairs, qd6's connected
    * components, then each multi-member cluster keeps its LONGEST
    * document (ties to the lowest id) — the "most complete variant"
    * selection policy, per-cluster argmax as max(struct), no window.
    */
  private def qd20KeepBest(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.keepBestNearDups(
      t(spark, dir, "documents"), "doc_id", "text")

  /** TextRank keywords ([[operators.TextAnalysis.textRank]], window 2,
    * damping 0.85, 4 iterations): PageRank over the word co-occurrence
    * graph — the unsupervised keyword extractor. Oracle unrolls the
    * iterations as MATERIALIZED score CTEs (the qg14 pattern).
    */
  private def qt40TextRank(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.textRank(
      t(spark, dir, "documents"), "text",
      window = 2, damping = 0.85, iterations = 4)

  /** Naive-forecast backtest ([[operators.Temporal.naiveBacktest]],
    * 80/20 split): per-user sMAPE of the no-change forecast over the
    * test tail — the forecastability baseline readout.
    */
  private def qe46Smape(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.naiveBacktest(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      trainFrac = 0.8)

  /** Otsu binarization threshold ([[multimodal.Multimodal
    * .otsuThreshold]]) over REAL PNG decode of the skewed fixture
    * (pixel = (i² + 31·id) mod 256 — per-image non-uniform histograms,
    * so the split varies). The oracle regenerates pixels from the
    * formula and replays the integer histogram + the fixed IEEE
    * between-class-variance tree + the lowest-t argmax.
    */
  private def qm16Otsu(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id")).distinct()
    multimodal.Multimodal.otsuThreshold(
        multimodal.Multimodal.pngMediaSkewed(spark, folded))
      .select(
        col("media_id"), col("otsu_t"), col("n_below"),
        // normalized by n² (1024² fixture pixels): raw between-class
        // variance is ~4e9 where 6-dp rounding exceeds double
        // precision and the engines' round() pick different
        // neighboring doubles; at O(10³) both agree
        round(col("var_between") / lit(1048576.0), 6).as("var_norm"))
  }

  /** Connected-component size histogram ([[operators.Dedup
    * .connectedComponents]] over the qg18 edge set): how fragmented is
    * the graph — (component_size, n_components). The single-pass
    * star-contraction label table, aggregated twice.
    */
  private def qg19Components(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 53, 500)
    val pairs = edges
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    operators.Dedup.connectedComponents(pairs, "a", "b")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
  }

  /** Data-quality rule report ([[operators.Profiling.qualityReport]]):
    * five expectations over orders — including a broadcast referential
    * check against customer — audited in ONE scan.
    */
  private def qp16Quality(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), lit(1L).as("__cust_hit"))
    val orders = t(spark, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left")
    operators.Profiling.qualityReport(orders, Seq(
      "totalprice_positive" -> (col("o_totalprice") > 0),
      "totalprice_under_100k" -> (col("o_totalprice") < 100000.0),
      "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
      "priority_format" -> col("o_orderpriority").rlike("^[1-5]-"),
      "customer_exists" -> col("__cust_hit").isNotNull))
  }

  /** Embedding-space drift ([[operators.Profiling.embeddingDrift]],
    * top 16 dims): per-dimension mean shift between the even- and
    * odd-id halves of the embedding corpus — micro-quantized exact
    * integer sums (order-free), one IEEE divide per mean, ranked by
    * (6-dp drift DESC, dim ASC).
    */
  private def qp17EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val embs = t(spark, dir, "embeddings")
    operators.Profiling.embeddingDrift(
      embs.filter(col("vec_id") % 2 === 0),
      embs.filter(col("vec_id") % 2 === 1),
      "embedding", topK = 16)
  }

  /** Local peak detection ([[operators.Temporal.peakDetect]],
    * minDelta 2.0): per-user strict local maxima with the rise over
    * the higher neighbor — pure integer comparisons on centi-quantized
    * values, boundaries and plateaus excluded.
    */
  private def qe48Peaks(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.peakDetect(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      minDelta = 2.0)

  /** Robust summary ([[operators.Relational.robustSummary]]) per
    * event_type on centi-quantized values: nearest-rank p25/median/
    * p75/IQR/MAD through the bisection threshold kernel — every
    * number an actual data value (or an exact difference).
    */
  private def qe47RobustSummary(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir)
      .filter(col("value").isNotNull)
      .select(
        col("event_type"),
        floor(col("value").cast("double") * lit(100.0)).cast("long").as("q"))
    operators.Relational.robustSummary(base, "event_type", "q")
      .select(
        col("event_type"), col("n"),
        round(col("p25") / lit(100.0), 6).as("p25"),
        round(col("median") / lit(100.0), 6).as("median"),
        round(col("p75") / lit(100.0), 6).as("p75"),
        round(col("iqr") / lit(100.0), 6).as("iqr"),
        round(col("mad") / lit(100.0), 6).as("mad"))
  }

  /** Inter-arrival burstiness ([[operators.Temporal.burstiness]]):
    * per-user gap-distribution summary — mean gap, CV, and the
    * Goh–Barabási B — on exact second-floored integer gaps.
    */
  private def qe50Burstiness(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.burstiness(
      events(spark, dir), "user_id", "ts", "event_id")

  /** Degree distribution histogram over the qg18 graph: canonical
    * undirected degrees, then (degree, n_nodes) — the first look at
    * any graph's shape (hub detection, power-law eyeballing).
    */
  private def qg20DegreeHist(spark: SparkSession, dir: String): DataFrame = {
    val e = ordersGraph(spark, dir, 11, 500)
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("__deg"))
      .groupBy(col("__deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Lexical diversity ([[operators.TextAnalysis.lexicalDiversity]]):
    * per-doc TTR + Herdan's C — vocabulary-richness QA, zero shuffle.
    */
  private def qt43LexDiversity(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.lexicalDiversity(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Sequence packing ([[operators.TextAnalysis.packSequences]],
    * seqLen = 512): every doc's global token offset and training-chunk
    * span under the concat-and-chunk layout — all exact integer math
    * (the oracle replays the prefix sum as one ordered window; the
    * engine computes it distributed, bucket totals + per-bucket
    * windows, same Longs either way).
    */
  private def qt44Packing(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.packSequences(
      t(spark, dir, "documents"), "doc_id", "text", seqLen = 512)

  /** Weighted sampling without replacement ([[operators.TextAnalysis
    * .weightedSampleNoReplace]], A-ES, k = 50): a
    * length-proportional doc sample — weight = whitespace token count,
    * u from the md5-replayable hash, competition key ln(u)/w rounded
    * to 6 dp BEFORE the sort (id tie-break) so a libm ulp can't flip
    * the sampled row set.
    */
  private def qt45WeightedSample(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.weightedSampleNoReplace(
      t(spark, dir, "documents").withColumn("n_tokens",
        functions.TextFunctions.tokenCount(col("text")).cast("long")),
      "doc_id", "n_tokens", k = 50)

  /** Gopher repetition signals ([[operators.TextAnalysis
    * .repetitionSignals]]): per-doc top-2/3-gram dominance and
    * duplicated-5-gram token coverage — all-integer counts, fractions
    * one IEEE divide each; the oracle replays the same gram explodes,
    * counts, and the coverage DISTINCT union (single-pass on the
    * engine side — one explode, one shared gram aggregate — is a plan
    * shape, not a semantics change; values are scan-count-invariant).
    */
  private def qt46Repetition(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.repetitionSignals(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Per-key A-ES weighted sampling ([[operators.TextAnalysis
    * .weightedSamplePerKey]], k = 20 per language): qt45's PPS
    * sample vectorized over groups — the per-language quota draw.
    * The k-cut rides the qs5 bounded Aggregator (≤ k rows per (key,
    * partition) cross the shuffle), never a per-key window sort; the
    * oracle ranks the same 6-dp keys with a per-key window (exact at
    * gate scale).
    */
  private def qt47SamplePerKey(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.weightedSamplePerKey(
      t(spark, dir, "documents").withColumn("n_tokens",
        functions.TextFunctions.tokenCount(col("text")).cast("long")),
      "lang", "doc_id", "n_tokens", k = 20)

  /** Per-key PPS sampling WITH replacement ([[operators.TextAnalysis
    * .weightedSampleWithReplacement]], k = 8 draws per language):
    * qt47's complement — k INDEPENDENT single-PPS draws (the md5 salt
    * carries the draw index), so heavy docs repeat across draws. One
    * max(struct) hash aggregate over the n·k exploded rows, no window,
    * no rejoin; the oracle replays the same 6-dp ln(u)/w argmax per
    * (lang, draw) with a window rank (exact at gate scale).
    */
  private def qt50SampleWithReplacement(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.weightedSampleWithReplacement(
      t(spark, dir, "documents").withColumn("n_tokens",
        functions.TextFunctions.tokenCount(col("text")).cast("long")),
      "lang", "doc_id", "n_tokens", k = 8)

  /** Incremental winnowing dedup ([[operators.Dedup
    * .incrementalWinnowDedup]], minShared = 3): the corpus (doc_id ≡ 0
    * mod 3) contributes only its STANDING fingerprint set; batch docs
    * (the rest) drop on ≥ 3 corpus-fingerprint hits, survivors
    * min-label dedupe within the batch. The oracle builds both
    * fingerprint families from the shared CTE builder and replays the
    * screen, the pair cut, and the qd6 component keep-min.
    */
  private def qd25IncrWinnow(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    operators.Dedup
      .incrementalWinnowDedup(
        operators.TextAnalysis.winnowingFingerprints(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text"),
        docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", minShared = 3)
      .select(col("doc_id"), col("n_chars"))
  }

  /** Sample-ratio-mismatch check ([[operators.Profiling.srmCheck]],
    * designed allocation A/N/R = ¼/½/¼ — close to lineitem's actual
    * returnflag mix, so the per-arm χ² terms are non-degenerate but
    * finite): exact counts, one fixed IEEE tree per term, replayed
    * with a VALUES allocation table.
    */
  private def qp19Srm(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.srmCheck(
      t(spark, dir, "lineitem"), "l_returnflag",
      Seq("A" -> 0.25, "N" -> 0.5, "R" -> 0.25))

  /** CUPED variance reduction ([[operators.Profiling.cuped]],
    * quantScale = 100 — prices and quantities are 2-dp exact): lineitem
    * prices adjusted by the quantity covariate with the pooled θ, per
    * return-flag raw/adjusted means and variances. Every moment an
    * exact integer; the oracle replays the identical quantization,
    * HUGEINT sums and IEEE trees.
    */
  private def qp18Cuped(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.cuped(
      t(spark, dir, "lineitem"),
      "l_returnflag", "l_extendedprice", "l_quantity", quantScale = 100.0)

  /** Flesch reading-ease ([[operators.TextAnalysis.readability]]): the
    * vowel-group syllable heuristic + sentence-run counts — integer
    * match counts via regexp_extract_all on both engines (never
    * split-array lengths, whose trailing-empty semantics differ), one
    * fixed IEEE tree, 4-dp round.
    */
  private def qt52Readability(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.readability(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Winnowing fingerprints ([[operators.TextAnalysis
    * .winnowingFingerprints]], k = 4, w = 8 — the MOSS defaults' shape):
    * per document the distinct window-minimum 56-bit md5 k-gram hashes,
    * ~2/(w+1) of positions with the ≥ w+k−1-word shared-run detection
    * guarantee. All HOF work doc-local (zero shuffle before the
    * explode); the oracle replays tokenize → 4-gram → md5 prefix →
    * window-min → distinct with DuckDB list lambdas — a window off by
    * one, a gram boundary slip, or a hash-width mismatch changes rows.
    */
  private def qt51Winnowing(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.winnowingFingerprints(
      t(spark, dir, "documents"), "doc_id", "text")

  /** N-gram novelty vs a reference corpus ([[operators.TextAnalysis
    * .ngramNovelty]], n = 3, reference = even doc_ids, scored = odd):
    * the qd8 decontamination join inverted into a per-doc freshness
    * score — distinct trigrams, how many never occur in the
    * reference, and their ratio (one IEEE divide of exact Longs).
    */
  private def qt48Novelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    operators.TextAnalysis.ngramNovelty(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "text", n = 3)
  }

  /** Theil-Sen slope ([[operators.Temporal.theilSen]]): per-user
    * robust trend magnitude — median pairwise slope in value/hour,
    * the estimator paired with qe31's Mann-Kendall test.
    */
  private def qe38TheilSen(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.theilSen(
      events(spark, dir), "user_id", "ts", "event_id", "value")

  /** Association pair mining ([[operators.TextAnalysis.assocPairs]],
    * minSupport 50, k 20): top token pairs by document co-occurrence
    * with support and lift — Apriori level 2, frequent-item prune
    * before the in-basket pair scan.
    */
  private def qt38AssocPairs(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.assocPairs(
      t(spark, dir, "documents"), "text", minSupport = 50L, k = 20)

  /** Linear multi-touch attribution ([[operators.Temporal
    * .linearAttribution]], click → purchase, 7-day lookback): per
    * purchase, the credit split across the user's preceding clicks,
    * with first/last-touch argmin/argmax.
    */
  private def qj17Attribution(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.linearAttribution(
      events(spark, dir), "user_id", "ts", "event_id", "event_type",
      touchType = "click", convType = "purchase",
      windowUs = 7L * 86400L * 1000000L)

  /** Mutual k-NN pairs ([[operators.Similarity.mutualKnn]], k = 5,
    * 32 seed cells × 2 probes): reciprocal-neighbour pairs over the
    * embeddings table — the kNN-graph edge set. Candidates come from
    * the multi-probe seed-cell join (the qd14 assignment contract),
    * never an all-pairs scan; the oracle replays the probe
    * assignment, the cell-join candidate set, and both directed
    * k-cuts — INCLUDING the nCells formula (its seed LIMIT is the
    * same greatest(32, n/64) scalar subquery), so the compare holds
    * at any scale, not just where n/64 <= 32.
    */
  private def qs14MutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val embs = t(spark, dir, "embeddings")
    // nCells grows with the corpus so cell occupancy stays ~constant
    // (the operator's own scale contract: fixed nCells makes per-cell
    // work quadratic in n — measured 129 s at sf1 with 32 cells over
    // 20k vectors). Mirrored verbatim in the oracle's seed LIMIT.
    val nCells = math.max(32L, embs.count() / 64L).toInt
    operators.Similarity.mutualKnn(
      embs, "vec_id", "embedding", k = 5,
      nCells = nCells, nProbe = 2)
  }

  /** NDCG@10 ([[operators.Similarity.ndcgAtK]]): graded ranking
    * quality of the cosine top-10 against integer labels, literal
    * logarithmic discounts, both DCG folds in rank order.
    */
  private def qs13Ndcg(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i * 0.33 + 0.7))
    operators.Similarity.ndcgAtK(
      t(spark, dir, "embeddings"), "vec_id", "embedding", "label",
      query, k = 10)
  }

  /** Changepoint localization ([[operators.Temporal.changepoint]]):
    * per-user binary-segmentation first split — all-integer deviation
    * argmax with smallest-k ties, plus the two segment means.
    */
  private def qe36Changepoint(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.changepoint(
      events(spark, dir), "user_id", "ts", "event_id", "value")

  /** Log-rank test ([[operators.Temporal.logRank]], arms = user_id
    * parity, death = first purchase): does one arm convert FASTER —
    * the survival A/B readout qp6's rate test can't see.
    */
  private def qe35LogRank(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.logRank(
      events(spark, dir), "user_id", "ts",
      col("event_type") === "purchase", col("user_id") % 2 === 0)

  /** MMR diversity re-ranking ([[operators.Similarity.mmrRerank]],
    * pool 30 → k 10, λ = 0.5): redundancy-aware top-k — each greedy
    * pick maximizes relevance minus similarity to what's already
    * chosen, replayed step-for-step by the oracle's recursive CTE
    * (argmax as max(struct), picked set as a LIST column).
    */
  private def qs12Mmr(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i * 0.7 + 0.3))
    operators.Similarity.mmrRerank(
      t(spark, dir, "embeddings"), "vec_id", "embedding", query,
      poolK = 30, k = 10, lambda = 0.5)
  }

  /** GNN-style message passing ([[graph.MessagePassing]], 2 rounds)
    * over the qg9 trade graph: all-integer weighted neighbourhood
    * aggregation — 2-hop upstream structural signatures per nation.
    */
  private def qg16MsgPass(spark: SparkSession, dir: String): DataFrame = {
    val edges = nationGraph(spark, dir, count(lit(1)))
    graph.MessagePassing.run(edges, "src", "dst", "w", rounds = 2)
  }

  /** Seasonal decomposition ([[operators.Temporal.seasonalDecompose]],
    * period 4): per-user positional seasonal indices from the exact-
    * integer 2x4 centered-MA construction.
    */
  private def qe33Decompose(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.seasonalDecompose(
      events(spark, dir), "user_id", "ts", "event_id", "value")

  /** Point-in-time join composition ([[operators.Temporal.scd2History]]
    * → same-instant version dedup → [[operators.Temporal.asofJoin]]):
    * every event enriched with the event_type VERSION valid at its
    * time, counted per (user, version) — the warehouse pattern the two
    * operators exist for, proven end to end against DuckDB's native
    * ASOF JOIN over the replayed dimension.
    */
  private def qj16PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val dim = operators.Temporal
      .scd2History(ev, "user_id", "ts", "event_id", "event_type")
      .groupBy(col("user_id"), col("valid_from_us").as("tus"))
      .agg(max(col("version")).as("version"))
    val facts = ev.select(col("user_id"), col("event_id"),
      expr("unix_micros(ts)").as("tus"))
    operators.Temporal.asofJoin(facts, dim, "user_id", "tus", Seq("version"))
      .groupBy(col("user_id"), col("version"))
      .agg(count(lit(1)).as("n_facts"))
  }

  /** PMI collocations ([[operators.TextAnalysis.pmiCollocations]],
    * support ≥ 5, top-50): ranked by the exact integer-product ratio so
    * the k boundary can't flip on a libm ulp.
    */
  private def qt36Pmi(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.pmiCollocations(
      t(spark, dir, "documents"), "text", minCount = 5L, k = 50)

  /** Proportion rebalancing ([[operators.TextAnalysis
    * .proportionRebalance]]): target mixture weights 1–4 by source
    * index; the scarcest stratum pins the feasible total and every
    * source downsamples to its exact integer quota in md5-hash order.
    */
  private def qt35DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val weights = docs.select(col("source")).distinct()
      .withColumn("weight",
        (regexp_extract(col("source"), "\\d+", 0).cast("long") % 4L) + 1L)
    operators.TextAnalysis.proportionRebalance(docs, "source", "doc_id", weights)
  }

  /** Gap-fill resampling ([[operators.Temporal.gapFill]], 6 h buckets,
    * gaps ≤ 8 buckets interpolated): per user, bucket-last values on
    * the regular grid plus linearly interpolated rows for the interior
    * of short gaps — longer outages stay holes by contract.
    */
  private def qe25GapFill(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.gapFill(
      events(spark, dir), "user_id", "ts", "event_id", "value",
      bucketSec = 21600L, maxGapBuckets = 8)

  /** STREAMING HLL through the oracle ([[streaming.EventStreams
    * .runHllStream]]): a real `writeStream` whose state IS the sketch —
    * per-hour (window, bucket) → max-rank register rows, ≤ 2^p rows per
    * window no matter how many distinct users arrive (the bounded-state
    * answer to streaming COUNT(DISTINCT)); the harmonic-mean estimate
    * finalizes as a batch fold over the drained register table. Because
    * `max` is the HLL merge, micro-batch increments replay to exactly
    * the batch registers — which is what lets the DuckDB batch oracle
    * gate a STREAMING approximate answer hash-exactly.
    */
  private def qe24StreamHll(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "8")) {
      (_, ev) => streaming.EventStreams.runHllStream(ev, p = 4)
    }.select(
      unix_timestamp(col("window_start")).as("window_start"),
      col("n_registers"), col("est_distinct"))

  /** STREAMING QUANTILE SKETCH through the oracle ([[streaming
    * .EventStreams.runQuantileStream]], k = 8, q ∈ {0.5, 0.95} — k
    * BELOW the ~14-per-hour median so the level-rise/prune path is
    * what the gate actually replays, not the exact below-k fallback):
    * the
    * per-hour `value` quantile member of the qe24/qe27 streaming-
    * sketch family — state is [[operators.LevelSampleAgg]]'s (exact
    * count, retained rows at the COUNT-DRIVEN level), mergeable across
    * micro-batches because L(n) only rises with n. maxFilesPerTrigger
    * = 1 makes the staged replay multi-batch when the source has
    * several files. The DuckDB batch oracle rebuilds the same
    * count-driven level (integer bit-length form — no float log2),
    * the same tz ≥ L retained set, and the same nearest-rank index.
    */
  private def qe51StreamQuantile(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "8"), oneFilePerTrigger = true) {
      (_, ev) => streaming.EventStreams.runQuantileStream(ev, k = 8, qs = Seq(0.5, 0.95))
    }.select(
      unix_timestamp(col("window_start")).as("window_start"),
      col("q"), col("n"), col("level"), col("n_sample"), col("est"))

  /** FORWARD as-of join ([[operators.Temporal.asofJoinForward]]):
    * qe2's click→purchase lookup mirrored in time — for each click the
    * EARLIEST purchase at-or-after it per user (the time-to-event
    * label). The oracle replays it as a LATERAL min-tus probe (DuckDB
    * ASOF only binds the backward direction), equal timestamps match
    * by the `>=` contract on both sides.
    */
  private def qe55AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("tus", unix_micros(col("ts")))
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tus"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("tus"))
      .agg(
        max(col("event_id")).as("pid"),
        max_by(col("value"), col("event_id")).as("pvalue"))
    operators.Temporal
      .asofJoinForward(clicks, purchases, "user_id", "tus", Seq("pid", "pvalue"))
      .select(
        col("event_id"),
        col("user_id"),
        col("pid").as("next_purchase_id"),
        round(col("pvalue"), 2).as("next_value"))
  }

  /** Matryoshka prefix-rerank search ([[operators.Similarity
    * .prefixRerankTopK]], 16-dim prefix → 40 candidates → top 10): the
    * MRL two-stage pattern with both cuts on 6-dp-rounded scores. The
    * oracle replays both cosine stages and both rank cuts in one
    * grouped pass.
    */
  private def qs22MrlRerank(spark: SparkSession, dir: String): DataFrame = {
    val q = Array.tabulate(64)(i => math.sin(i * 0.7 + 0.3))
    operators.Similarity.prefixRerankTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding", q,
      dPrefix = 16, candidates = 40, k = 10)
  }

  /** Lagged cross-correlation ([[operators.Temporal
    * .laggedCrossCorrelation]], hourly buckets, lags 0–3) between
    * event-type activity series: zero-filled global-span grids, exact
    * integer moments per (pair, lag), one IEEE Pearson tree — the
    * lead/lag detector beside qe44's within-key autocorrelation. The
    * oracle replays the µs floor-div bucketing, the generate_series
    * grid, the shifted equi-join and the identical moment arithmetic.
    */
  private def qe54Xcorr(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.laggedCrossCorrelation(
      events(spark, dir).filter(col("event_type").isNotNull),
      "event_type", "ts", bucketSeconds = 3600L, maxLag = 3)

  /** Pairwise DTW distance ([[operators.Temporal.dtwDistances]],
    * maxLen = 40) over the %23 user subset: alignment-tolerant series
    * similarity by the classic DP. Every DP cell is a fixed-order
    * chain of IEEE adds and exact mins, so the distance is bit-exact
    * across engines; the oracle replays the recurrence as an
    * anti-diagonal recursive CTE (carry-all with a GROUP BY min that
    * merges each new cell's ≤ 3 predecessors) — validated cell-exact
    * against an independent local DP before landing.
    */
  private def qe53Dtw(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.dtwDistances(
      events(spark, dir).filter(col("user_id") % 23 === 0),
      "user_id", "ts", "event_id", "value", maxLen = 40)

  /** STREAMING TOP-K through the oracle ([[streaming.EventStreams
    * .runTopKStream]], m = 64, k = 5): per-hour heavy hitters with
    * [[operators.SpaceSavingAgg]] as the bounded streaming state. The
    * events table carries ~5 distinct event types, far under m = 64,
    * so no eviction or merge-cut ever fires and the summary is the
    * EXACT per-hour count table (every err 0) under any micro-batch
    * schedule — the oracle replays `GROUP BY` counts with the same
    * (est DESC, term) rank cut. Eviction/merge-error behavior is
    * StreamingSpec's deterministic-fixture job, not the gate's.
    */
  private def qe52StreamTopk(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "8")) {
      (_, ev) => streaming.EventStreams.runTopKStream(ev, m = 64, k = 5)
    }.select(
      unix_timestamp(col("window_start")).as("window_start"),
      col("rank"), col("term"), col("est"), col("err"))

  /** STREAMING COUNT-MIN through the oracle ([[streaming.EventStreams
    * .runCmsStream]]): the sum-merge sibling of qe24 — per-hour
    * (window, row, bucket) cell counts as the streaming state
    * (≤ depth·width rows per window), probe estimates finalized as a
    * batch min over the drained cells. Addition being the CMS merge is
    * what makes the micro-batched cells equal the batch cells exactly.
    */
  private def qe27StreamCms(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, Seq(ShufflePartitions -> "8")) { (_, ev) =>
      streaming.EventStreams.runCmsStream(
        ev, probes = Seq("click", "purchase", "zzz_missing"), depth = 4, width = 64)
    }.select(
      unix_timestamp(col("window_start")).as("window_start"),
      col("term"), col("est"))

  /** Histogram-quantile sketch ([[operators.Sketches
    * .histogramQuantile]], 64 bins over [0, 110000), q ∈
    * {0.5, 0.95, 0.99} on lineitem prices per return flag): the
    * bounded-state approximate quantile next to the exact rank
    * machinery (q8/q28). Bin width 110000/64 = 1718.75 is FP-exact, and
    * the interpolation arithmetic is a chain of single IEEE ops over
    * integer-valued doubles — no order-dependent summation — so both
    * engines produce bit-identical estimates.
    */
  private def qk6HistQuantile(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.histogramQuantile(
      t(spark, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      lo = 0.0, hi = 110000.0, bins = 64, qs = Seq(0.5, 0.95, 0.99))

  /** Mergeable level-sampling quantile sketch ([[operators.Sketches
    * .quantileSketch]], k = 256) on lineitem prices per return flag —
    * the fixed-size quantile member of the HLL/KMV/CMS family (qk6's
    * histogram needs a value range a priori; this doesn't). Each row's
    * retention level is the trailing-zero count of its md5 row-id
    * hash, so the sketch is a pure function of the row SET (merge- and
    * partition-order-independent — the property KLL/t-digest give up)
    * and the oracle replays it bit-for-bit: same tz, same 33-row
    * suffix-sum level pick, same (v, id)-ordered sample ranks, same
    * integer ⌈target/2ᴸ⌉ index. `est` values are raw input prices —
    * no interpolation, nothing to round.
    */
  private def qk7QuantileSketch(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.quantileSketch(
      t(spark, dir, "lineitem").withColumn("__rid",
        concat(col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string"))),
      "l_returnflag", "l_extendedprice", "__rid",
      k = 256, qs = Seq(0.25, 0.5, 0.75, 0.95))

  /** AMS tug-of-war F₂ / self-join-size sketch ([[operators.Sketches
    * .amsF2]], k = 16) over document tokens: md5-salted ±1 signs, 16
    * exact-integer counters, one divide — with the ground-truth Σ f²
    * and relative error in the same row (the report regime; the
    * sketch-only path skips the Θ(vocabulary) group-by). Everything
    * up to the final divide is integer, so the estimate replays
    * bit-for-bit like qk2's cells.
    */
  private def qk8AmsF2(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.amsF2(t(spark, dir, "documents"), "text", k = 16)

  /** Random-projection dimensionality reduction
    * ([[operators.Similarity.randomProjection]], 64 → 16 dims): the
    * Achlioptas ±1 sign matrix derives from md5-prefix parity of
    * (dim, position), and the inner sum is a SEQUENTIAL left fold —
    * DuckDB replays sign-for-sign with an index lambda and
    * `list_reduce`, so the projected doubles match bit-for-bit before
    * the 6-dp round (no group-by sum reorder on either side).
    */
  private def qs11RandomProjection(spark: SparkSession, dir: String): DataFrame =
    operators.Similarity.randomProjection(
      t(spark, dir, "embeddings"), "vec_id", "embedding", 16)

  /** Edit-distance similarity over adjacent doc pairs: Levenshtein on
    * the 40-char prefixes (both engines implement the same unit-cost
    * DP) plus the length-normalized similarity — the fuzzy-matching
    * primitive under typo-tolerant dedup. Codegen builtin, no UDF.
    */
  private def qt34EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("__p"))
    d.join(
      d.select((col("doc_id") - 1).as("doc_id"), col("__p").as("__p2")),
      Seq("doc_id"))
      .select(
        col("doc_id"),
        levenshtein(col("__p"), col("__p2")).as("edit_dist"),
        round(
          lit(1.0) -
            levenshtein(col("__p"), col("__p2")).cast("double") /
              greatest(length(col("__p")), length(col("__p2"))).cast("double"),
          6).as("sim"))
  }

  /** KMV distinct-count sketch per source
    * ([[operators.Sketches.kmvDistinct]], k = 16): bounded-state
    * approximate distinct counting whose md5-derived hashes REPLAY in
    * the oracle — DuckDB rebuilds the identical k-minimum sketch
    * (distinct hash ranks ≤ k per source) and the identical
    * (k−1)/h_(k) estimate, so the gate hash-compares an APPROXIMATE
    * answer exactly. k = 16 < the 25 distinct texts per source, so the
    * estimator path (not the exact small-set fallback) is what's
    * compared.
    */
  private def qk1KmvDistinct(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.kmvDistinct(t(spark, dir, "documents"), "source", "text", 16)

  /** Count-min frequency estimates ([[operators.Sketches
    * .countMinEstimate]], d=4, w=256) for three corpus tokens and one
    * absent probe: the oracle rebuilds the full d×w count table with the
    * same md5 bucket hashes and takes the same min — over-counting
    * collisions and the absent term's empty-bucket zero both replay
    * exactly (LEFT join semantics on both sides).
    */
  private def qk2CountMin(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.countMinEstimate(
      t(spark, dir, "documents"), "text",
      Seq("join", "hash", "agg", "zzzmissing"), depth = 4, width = 256)

  /** KMV set algebra across source pairs ([[operators.Sketches
    * .kmvSetOps]]): union/intersection distinct estimates computed from
    * the per-source sketches alone (k-min(A∪B) = k-min of the merged
    * sketches — exact KMV algebra, no second data pass). The oracle
    * re-derives every pair's merged sketch and the same
    * inclusion–exclusion arithmetic in the same operation order.
    */
  private def qk3KmvSetOps(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.kmvSetOps(t(spark, dir, "documents"), "source", "text", 16)

  /** HyperLogLog distinct users per event type
    * ([[operators.Sketches.hllDistinct]], p = 4 → 16 registers): the
    * harmonic-mean register sketch behind every engine's
    * `approx_count_distinct`, here md5-replayable — the oracle rebuilds
    * the identical registers (`length(bin(rem))` is the cross-engine
    * leading-zero rank; the harmonic sum is FP-exact in ANY order, all
    * terms powers of two) and the identical α·m²/S estimate, so the
    * gate hash-compares the approximation exactly. The gate data keeps
    * every register filled (150 distinct ≫ 2.5·m = 40), pinning the
    * raw-estimator branch on both engines.
    */
  private def qk4HllDistinct(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.hllDistinct(events(spark, dir), "event_type", "user_id", 4)

  /** HLL set algebra across event-type pairs ([[operators.Sketches
    * .hllSetOps]]): union = elementwise register max (the lossless
    * associative merge HLL is famous for), intersection =
    * inclusion–exclusion over estimates in the same (a+b)−u operation
    * order as the oracle.
    */
  private def qk5HllSetOps(spark: SparkSession, dir: String): DataFrame =
    operators.Sketches.hllSetOps(events(spark, dir), "event_type", "user_id", 4)

  /** Per-user EWMA over the event stream
    * ([[operators.Temporal.ewma]]): the sequential smoothing fold,
    * ordered by (ts, event_id) — the oracle replays the identical
    * recurrence step-for-step as a recursive CTE, so the doubles match
    * bit-for-bit before the 6-dp round (no pow closed form on either
    * side); a wrong seed, a mis-ordered tie, or one skipped step each
    * break a user's row.
    */
  private def qe15Ewma(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.ewma(
      events(spark, dir), "user_id", "ts", "event_id", "value", 0.25)

  /** RESTORE to an earlier version ([[operators.TxLog.restore]]): the
    * table absorbs a DV delete AND a dirty-file rewrite after v1, then
    * restores to v1 as a new metadata-only commit — and the snapshot
    * must equal v1's plain predicate exactly: a file lost from the
    * re-referenced add-set, a DV wrongly carried from the rolled-back
    * state, or a masked row that fails to resurrect each break the
    * aggregate. History preservation and CDF-of-restore are
    * TxLogSpec's job.
    */
  private def qf17TxlogRestore(spark: SparkSession, dir: String): DataFrame =
    stagedOrdersTxLog(spark, dir, "qf17") { (root, orders) =>
      operators.TxLog.create(
        spark, root,
        orders.filter(col("o_orderkey") % 3 === 0)
          .repartitionByRange(4, col("o_orderkey")))
      operators.TxLog.append(spark, root, orders.filter(col("o_orderkey") % 3 === 1)) // v1
      operators.TxLog.delete(spark, root, col("o_custkey") % 7 === 2) // v2 (DV)
      operators.TxLog.rewrite(spark, root, col("o_totalprice") >= 80000.0) // v3
      operators.TxLog.restore(spark, root, 1L) // v4
      operators.TxLog.snapshot(spark, root)
        .groupBy((col("o_orderkey") % 5).as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    }

  /** Composed partition + stats pruning
    * ([[operators.TxLog.snapshotWhereRange]]): the table partitions by
    * o_orderstatus AND declares o_orderkey stats, so a probe with both
    * predicates plans its file set by Hive-style partition elimination
    * then Iceberg-style stats elimination — the oracle is the plain
    * full-table conjunction, and identical rows is each pruning's
    * no-false-negatives contract composed. Planned-count assertions are
    * TxLogSpec's job.
    */
  private def qy11TxlogCombined(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qy11") { wh =>
      val root = wh.resolve("tbl").toString
      val orders = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
      operators.TxLog.create(
        spark, root,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(6, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
        statsCol = Some("o_orderkey"),
        partitionBy = Seq("o_orderstatus"))
      operators.TxLog.append(
        spark, root,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(6, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      operators.TxLog.snapshotWhereRange(
        spark, root, Map("o_orderstatus" -> Seq("O")), 3000L, 4200L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
    }
  }

  /** K-truss decomposition ([[graph.Truss.decompose]]): the
    * custkey×orderkey residue graph (100 nodes, triangle-rich) peels
    * at k=6 through a measured 5-round cascade, and the surviving
    * edges WITH their within-truss supports must equal the oracle's 10
    * unrolled peels (fixpoint + margin; extra rounds provably no-op) —
    * a support counted against dropped edges, a premature stop, or a
    * missed cascade each break the row set. Fixpoint mechanics are
    * TrussSpec's job.
    */
  private def qg13KTruss(spark: SparkSession, dir: String): DataFrame = {
    val edges = ordersGraph(spark, dir, 15, 100)
    graph.Truss.decompose(edges, "x", "y", 6)
  }

  /** Label-propagation communities ([[graph.LabelProp.run]]): four
    * disjoint 50-node blocks (orderkey-residue block id keys both
    * endpoints) run 5 synchronous rounds, and every (node, label) must
    * match the oracle's round-for-round CTE replay — same most-frequent
    * rule, same min-label ties, same simultaneous update. One
    * mis-ordered tie or a round short each moves labels. Fixed-round
    * determinism (sync LPA may oscillate; the budget IS the contract)
    * is the operator doc's point; LabelPropSpec pins the mechanics.
    */
  private def qg12LabelProp(spark: SparkSession, dir: String): DataFrame = {
    val edges = t(spark, dir, "orders")
      .select(
        ((col("o_orderkey") % 4) * 50 + col("o_custkey") % 50).as("x"),
        ((col("o_orderkey") % 4) * 50 + col("o_orderkey") % 47).as("y"))
    graph.LabelProp.run(edges, "x", "y", 5)
  }

  /** OHLC bars over the event stream
    * ([[operators.Temporal.resampleOhlc]]): per (user, 30-min bucket),
    * open/high/low/close/count/volume with explicit (ts, event_id) tie
    * order — the oracle replays the same integer bucket arithmetic and
    * row_number picks, so a wrong bar edge, a tie-flipped open/close,
    * or a lost event each break a bar.
    */
  private def qe16Ohlc(spark: SparkSession, dir: String): DataFrame =
    operators.Temporal.resampleOhlc(
      events(spark, dir), "user_id", "ts", "event_id", "value", 1800L)

  /** K-core decomposition ([[graph.KCore.decompose]]): a hub-skewed
    * deterministic graph (variable-modulus custkey hubs × orderkey
    * fringe) peels at k=15 through a genuine multi-round cascade, and
    * the surviving core with per-node degrees must equal the oracle's
    * unrolled peel — 12 SQL iterations, comfortably past the measured
    * fixpoint (4 rounds at sf0.01), with extra rounds provably no-ops.
    * A premature stop, an un-cascaded removal, or a degree counted
    * against dead neighbours each break the row set. Deep-cascade
    * fixpoint semantics (a 12-node path at k=2 needs 6 rounds) are
    * KCoreSpec's job.
    */
  private def qg11KCore(spark: SparkSession, dir: String): DataFrame = {
    val edges = t(spark, dir, "orders")
      .filter(col("o_orderkey") % 4 === 0)
      .select(
        (col("o_custkey") % (col("o_orderkey") % 97 + 1)).as("x"),
        (col("o_orderkey") % 350 + 100).as("y"))
    graph.KCore.decompose(edges, "x", "y", 15)
  }

  /** Filtered vector search: top-k cosine among vectors whose label
    * passes the predicate — PRE-filtered, so the filter reaches the
    * scan and the k-cut ranks only eligible vectors (post-filtering a
    * global top-k can return < k or miss eligible matches entirely;
    * this shape can't). The oracle is qs1's cosine replay with the
    * same WHERE.
    */
  private def qs10FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.cos(i * 0.9 + 0.1)) // deterministic probe
    Similarity.bruteForceTopK(
      t(spark, dir, "embeddings").filter(col("label").isin(1, 3)),
      "vec_id", "embedding", query, 50)
  }

  /** Hybrid search via reciprocal-rank fusion
    * ([[operators.TextAnalysis.rrfFuse]]): BM25's lexical top-30 over
    * documents fuses with the vector top-30 over embeddings (ids
    * aligned) by Σ 1/(60+rank), terms in declared list order — the
    * oracle recomputes BOTH ranked lists (the qt15 and qs1 replay CTEs)
    * and the identical fusion arithmetic, so a rank off by one in
    * either list moves a fused score.
    */
  private def qt33Rrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = operators.TextAnalysis.bm25Rank(
      t(spark, dir, "documents"), "doc_id", "text",
      Seq("spark", "query", "join", "window"), 30)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val vecQuery = Array.tabulate(64)(i => math.sin(i * 0.45 + 1.5))
    val vec = Similarity.bruteForceTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding", vecQuery, 30)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("rank"))
    operators.TextAnalysis.rrfFuse(Seq(bm, vec), "doc_id", 20)
  }

  // qs8's probe is quantized ONCE here and the same literal codes feed
  // both the Spark gate and the DuckDB oracle — Scala math.round (half
  // up) vs SQL round (half away) could otherwise disagree on the query
  private val qs8Probe = Array.tabulate(64)(i => math.sin(i * 0.7 + 0.5))
  private lazy val (qs8Qc, qs8Qm) = operators.Similarity.sqQuantizeQuery(qs8Probe)

  /** Int8 scalar-quantized top-k ([[operators.Similarity.sqTopK]]): the
    * 4×-compression ANN tier — integer dot product over max-abs codes,
    * de-scaled per row. The oracle replays the corpus quantization
    * term-for-term (identical round/scale arithmetic) and consumes the
    * SAME pre-quantized query codes, so ranking must match exactly.
    */
  private def qs8SqTopK(spark: SparkSession, dir: String): DataFrame =
    operators.Similarity.sqTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding", qs8Qc, qs8Qm, 100)

  /** Product-quantization ADC top-k ([[operators.Similarity.pqTopK]]):
    * the memory-bound ANN scale path — 64 floats compress to 8 one-byte
    * codes (32×), query-time work is table-lookup sums over codes, no
    * float vector read. Deterministic seed codebook (16 lowest-id
    * vectors' subvectors) so DuckDB re-derives codebook, encoding, and
    * ADC ranking exactly.
    */
  private def qs7PqAdc(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i * 0.3 + 2.0)) // deterministic probe
    Similarity.pqTopK(t(spark, dir, "embeddings"), "vec_id", "embedding", query, 100)
  }

  /** Corpus-level TF-IDF: top-3 terms per document (TextAnalysis operator;
    * scores rounded before ranking for a deterministic k-cut).
    */
  private def qt7Tfidf(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.tfIdfTopTerms(t(spark, dir, "documents"), "doc_id", "text", 3)

  /** Vocabulary building: corpus top-20 bigrams. Consecutive-token pairs
    * come from zipping the token array against its own tail (slice +
    * arrays_zip + explode — native collection expressions, no per-element
    * lambda HOF on the hot path), then one hash-count shuffle.
    */
  private def qt8Bigrams(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("h", expr("slice(toks, 1, size(toks) - 1)"))
      .withColumn("tl", expr("slice(toks, 2, size(toks) - 1)"))
      .select(explode(arrays_zip(col("h"), col("tl"))).as("p"))
      .select(concat(col("p.h"), lit(" "), col("p.tl")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("bigram"))
      .limit(20)

  /** Stratified deterministic sampling + class-balance reweighting: a
    * hash-gate keeps ~20% of docs reproducibly (no RNG — same rows on any
    * cluster/partitioning), then each kept row carries the inverse-
    * frequency weight N/(k·n_class) a balanced training loss would use.
    */
  private def qt9Sample(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // Gate (doc_id·2654435761) mod 1000 < 200, computed in the residue
    // ring: (a·K) mod 1000 ≡ ((a mod 1000)·(K mod 1000)) mod 1000, and
    // 2654435761 mod 1000 = 761 — identical selection, but the product is
    // bounded by 999·761 so it can never overflow Long (the direct form
    // throws under ANSI once doc_id ≥ ~3.5e9 at 100 TB scale).
    val sampled = docs.filter(pmod(pmod(col("doc_id"), lit(1000L)) * lit(761L), lit(1000L)) < 200)
    // k (number of classes) is derived, not hardcoded: N/(k·n_class)
    // weights then average to 1 over the sample for any label cardinality
    val n = sampled.agg(
      count(lit(1)).cast("double").as("__n"),
      countDistinct(col("lang")).cast("double").as("__k"))
    val byLang = sampled.groupBy(col("lang")).agg(count(lit(1)).cast("double").as("__nl"))
    sampled
      .join(broadcast(byLang), Seq("lang"))
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"),
        col("lang"),
        round(col("__n") / (col("__k") * col("__nl")), 6).as("weight"))
  }

  /** Sequence packing for training batches: docs pack into ≤4096-token
    * sequences by running cumsum within each lang shard (contiguous
    * cumsum-division packing — deterministic, one window; per-shard
    * windows keep the sort distributed, no global single-partition order).
    */
  private def qt10Packing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "documents")
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / 4096.0).cast("long").as("seq_id"))
  }

  /** Exact word-set Jaccard on adjacent-id doc pairs — the verification
    * kernel of the LSH dedup family, isolated on a fixed pair set so it
    * IS SQL-expressible (the LSH candidate generation itself is not).
    */
  private def qd7WordJaccard(spark: SparkSession, dir: String): DataFrame = {
    val w = t(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(split(lower(trim(col("text"))), "\\s+")).as("ws"))
    val a = w.select(col("doc_id").as("a_id"), col("ws").as("a_ws"))
    val b = w.select((col("doc_id") - 1).as("a_id"), col("ws").as("b_ws"))
    a.join(b, Seq("a_id"))
      .select(
        col("a_id").as("doc_id"),
        round(
          size(array_intersect(col("a_ws"), col("b_ws"))).cast("double") /
            size(array_union(col("a_ws"), col("b_ws"))).cast("double"),
          6).as("jaccard"))
  }

  /** Exact prefix-filtered similarity join
    * ([[operators.Dedup.prefixFilterJoin]]): every doc pair with
    * word-Jaccard ≥ 0.95, found via the rare-first prefix equi-join —
    * recall 1.0 BY THEOREM, which is exactly what the oracle checks: it
    * brute-forces ALL pairs, so one pair the prefix filter wrongly
    * prunes (or a verification miscount) breaks the row set.
    */
  private def qd16PrefixJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterJoin(t(spark, dir, "documents"), "doc_id", "text", 0.95)

  /** MinHash estimator audit: per adjacent-id doc pair, the signature
    * agreement fraction (the unbiased Jaccard estimate LSH banding rests
    * on) NEXT TO the exact 3-word-shingle Jaccard — the measured-recall
    * counterpart to the qd2 banding gate. n/16 is exactly representable,
    * so both engines agree bit-for-bit.
    */
  private def qd9MinhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // localCheckpoint: the a/b self-join branches would otherwise each
    // re-run the signature + shingle UDFs over the whole corpus
    val sigs = docs.select(
      col("doc_id"),
      graft.functions.expressions.TextHashExpressions.minHashSignature(col("text"), 3, 16).as("sig"),
      Dedup.shingleSetUdf(3)(col("text")).as("sh"))
      .localCheckpoint(true)
    val a = sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig"), col("sh").as("a_sh"))
    val b = sigs.select((col("doc_id") - 1).as("a_id"), col("sig").as("b_sig"), col("sh").as("b_sh"))
    a.join(b, Seq("a_id"))
      .select(
        col("a_id").as("doc_id"),
        round(
          expr("aggregate(zip_with(a_sig, b_sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)") / 16.0,
          6).as("mh_est"),
        round(Dedup.jaccard(col("a_sh"), col("b_sh")), 6).as("exact_j"))
  }

  /** SKETCHED CONTAINMENT (qd17's estimate tier): C(a→b) derived from
    * the MinHash Jaccard estimate plus the EXACT set sizes —
    * i = J·(na+nb)/(1+J), C = i/na — so containment screening runs at
    * signature cost (16 longs/doc) with no shingle join; the gate pairs
    * the estimate with the exact containment, the qd9 calibration
    * shape. Sizes are cheap (a count per doc, not a cross-doc join);
    * the one divide chain is ordered identically in both engines.
    */
  private def qd18ContainEstimate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val sigs = docs.select(
      col("doc_id"),
      graft.functions.expressions.TextHashExpressions
        .minHashSignature(col("text"), 3, 16).as("sig"),
      Dedup.shingleSetUdf(3)(col("text")).as("sh"))
      .localCheckpoint(true)
    val a = sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig"), col("sh").as("a_sh"))
    val b = sigs.select((col("doc_id") - 1).as("a_id"), col("sig").as("b_sig"), col("sh").as("b_sh"))
    val jest =
      expr("aggregate(zip_with(a_sig, b_sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)") / 16.0
    a.join(b, Seq("a_id"))
      .filter(size(col("a_sh")) >= 1 && size(col("b_sh")) >= 1)
      .select(
        col("a_id").as("doc_id"),
        round((jest * (size(col("a_sh")) + size(col("b_sh")))) /
          ((lit(1.0) + jest) * size(col("a_sh"))), 6).as("cont_est"),
        round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(col("a_sh")).cast("double"), 6).as("exact_c"))
  }

  /** Grouped nearest-rank percentile (W1 per group): top-20%-by-price
    * lineitems WITHIN each returnflag, summarized per group. */
  private def q28GroupPercentile(spark: SparkSession, dir: String): DataFrame =
    Relational
      .groupedPercentileFilter(t(spark, dir, "lineitem"), "l_returnflag", "l_extendedprice", 80.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_kept"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** RANGE window frame (q24 covers ROWS): 7-day trailing revenue per
    * customer — value-based frame on epoch seconds, so peers with equal
    * timestamps are all included and the result is tie-order-independent
    * by construction (no ROWS-frame tie-break needed).
    */
  private def q27RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("ep")).rangeBetween(-604800, 0)
    t(spark, dir, "orders")
      // NTZ → LTZ is identity under the session's UTC timezone; direct
      // NTZ→long cast is disallowed
      .withColumn("ep", col("o_orderdate").cast("timestamp").cast("long"))
      .withColumn("trailing_7d", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_orderkey"), col("o_custkey"), col("trailing_7d"))
  }

  /** Multimodal frame sampling gated: every-2nd 100-byte "frame" of each
    * payload (the video→frames generator shape, real row multiplication +
    * rebalance). Output is scalar (frame lengths) — binary columns break
    * the driver compare.
    */
  private def qm3FrameSample(spark: SparkSession, dir: String): DataFrame =
    multimodal.Multimodal
      .sampleFrames(
        multimodal.Multimodal.mediaFromDocuments(spark, t(spark, dir, "documents")),
        everyK = 2,
        frameBytes = 100)
      .select(col("media_id"), col("frame_no"), length(col("frame_bytes")).as("frame_len"))

  /** Semi-structured props: schema-on-read JSON extraction (`from_json`
    * with an explicit schema — the Spark-idiomatic path; a permissive
    * parse yields null for malformed rows, never a job failure) +
    * aggregation over the extracted field.
    */
  private def qe5JsonProps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn(
        "k",
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"))

  /** Bigram-LM quality scoring: model trained on even doc_ids, odd ones
    * scored by mean smoothed log-probability (TextAnalysis.bigramLmScore —
    * the trained-model quality filter, vs qt3's closed-form heuristic).
    */
  private def qt12LmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    operators.TextAnalysis.bigramLmScore(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id",
      "text")
  }

  /** PERPLEXITY FILTERING (CCNet, Wenzek et al. 2020): score held-out
    * docs with the trained bigram LM (qt12's exact kernel) and keep
    * everything at or above the exact nearest-rank 30th percentile —
    * i.e. drop the worst-perplexity 30%. The threshold comes from
    * [[operators.Relational.percentileFilter]]'s range-partitioned exact
    * selection (no global sort), so the whole quality gate is two
    * verified kernels composed. LM scores are average log-probs (higher
    * = more fluent), so `>= threshold` keeps the fluent tail.
    */
  private def qt23PplFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // checkpoint the scored frame: percentileFilter reads its input
    // TWICE (threshold selection pass + the filter), and without the
    // cut each pass re-runs the whole LM-training join (measured 2×
    // the gate wall). Scores are doc-count rows — cheap to pin.
    val scores = operators.TextAnalysis.bigramLmScore(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id",
      "text").localCheckpoint(true)
    operators.Relational.percentileFilter(scores, "lm_score", 30.0)
  }

  /** Event interval join — the batch twin of a watermarked stream-stream
    * join (same plan semantics Structured Streaming gives
    * `clicks.join(purchases, expr("... BETWEEN ..."))`): each click pairs
    * with the same user's purchases in the following 10 minutes. The
    * user_id equality makes this a plain hash join with a residual time
    * predicate — no nested-loop, no binning needed; per-user event counts
    * bound the match fan-out. Epoch-second arithmetic keeps both engines
    * integer-exact.
    */
  private def qe4IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").cast("long").as("cep"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast("long").as("pep"), col("value"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("pep") >= col("cep") && col("pep") <= col("cep") + 600)
      .groupBy(col("click_id"))
      .agg(count(lit(1)).as("n_purch"), round(sum(col("value")), 6).as("purch_value"))
  }

  /** Cross-corpus decontamination: even doc_ids play the training set,
    * odd ones the eval set; an eval doc is flagged when it shares any
    * word 5-gram with training text (canonical n is 13 — these synthetic
    * docs are short, so the gate uses 5 to keep the collision set
    * non-trivial). Output = flagged ids + distinct colliding-gram count.
    */
  private def qd8Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.decontaminate(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id",
      "text",
      n = 5)
  }

  /** Exact substring-level dedup (Lee et al. 2022, aggressive variant):
    * every character covered by a 20-gram occurring ≥2 times in the
    * corpus is cut from every occurrence. The oracle replays the
    * position-coverage SEMANTICS char by char (obviously correct, O(n·k)
    * rows in DuckDB); the Spark side computes the same text via merged
    * spans + a single splice — matching hashes prove the two
    * formulations equivalent on real data.
    */
  private def qd11SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.substringDedup(t(spark, dir, "documents"), "doc_id", "text", k = 20)

  /** Incremental exact dedup — the growing-corpus ingest shape: the
    * batch (doc_id ≡ 0 mod 3) dedups against the standing corpus (the
    * rest) via the corpus's DISTINCT fingerprint set only (anti join),
    * then first-of-fingerprint within the batch. The oracle replays both
    * steps on the normalized text; collapsing them differently (dedup
    * before anti join) is provably order-independent because the anti
    * join removes whole fingerprint groups.
    */
  private def qd12IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    operators.Dedup
      .incrementalExactDedup(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Incremental NEAR-dup dedup — the MinHash twin of qd12: the batch
    * (doc_id ≡ 0 mod 3) drops any doc whose band bucket the corpus ever
    * occupied, then near-dedups within itself. The oracle replays the
    * full signature pipeline (shared CTE prefix) restricted to each
    * subset — corpus side reduced to DISTINCT (band, key) buckets, the
    * same set the engine semi-joins against.
    */
  private def qd13IncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    operators.Dedup
      .incrementalMinHashDedup(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
      .select(col("doc_id"))
  }

  /** Skew report — the pre-salting diagnosis: heaviest join keys with
    * their table share and the salt factor that levels each to the mean
    * key load. One keyed aggregation + a broadcast 1-row totals side;
    * ties deterministic (count desc, then key).
    */
  private def qp3Skew(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.skewReport(t(spark, dir, "lineitem"), "l_partkey", topN = 12)

  /** IVF ANN — the scale path of the similarity family (qs1/qs3 are the
    * brute-force baselines): corpus rows land in 8-bit hyperplane cells,
    * and only cells within hamming 1 of the query's cell are scored
    * (9 of 256 cells ⇒ ~28× scan cut at uniform fill; written bucketed by
    * cell this becomes partition pruning). Deterministic end to end:
    * seeded hyperplanes, exact codegen cosine inside the probed cells.
    */
  private def qs4IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i + 1.0)) // same probe as qs1
    Similarity.ivfTopK(t(spark, dir, "embeddings"), "vec_id", "embedding", query, 100, bits = 8, nProbe = 1)
  }

  /** Multi-probe IVF top-k ([[operators.Similarity.multiProbeTopK]],
    * qs4's query at the SAME 9-cell budget as its hamming-1 ball):
    * probe cells are margin-ranked signature perturbations landing in
    * the plan as `isin` literals on the cell column — the
    * partition-prunable search path the qs19 recall read justifies.
    */
  private def qs20IvfMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val query = Array.tabulate(64)(i => math.sin(i + 1.0))
    Similarity.multiProbeTopK(
      t(spark, dir, "embeddings"), "vec_id", "embedding", query,
      k = 100, bits = 8, nCand = 9)
  }

  /** Exact k-NN JOIN (every query row gets its top-10 corpus neighbours by
    * cosine, ties by ascending id) — the multi-query counterpart of qs1.
    * The plan is the scale-safe one: queries broadcast, the corpus scans
    * once, and a BOUNDED k-entry Aggregator reduces candidates map-side so
    * the only exchange carries ≤ k rows per (query, partition) — never the
    * full |corpus|×|queries| candidate set (PlanSpec-asserted: no Window,
    * ObjectHashAggregate partial/final pair).
    */
  private def qs5KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val embs = t(spark, dir, "embeddings")
    val queries = embs
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    Similarity.knnJoin(embs, queries, "vec_id", "embedding", "query_id", "qv", 10)
  }

  /** Distributed Lloyd k-means under the oracle gate, on an integer-
    * lattice fixture designed so the 5-round unrolled SQL replay is
    * FP-stable: three 18-point corner clusters (ids round-robin) plus six
    * "bridge" points that flip allegiance as centroids move (assignment
    * at iteration 1 ≠ iteration 0 — real Lloyd dynamics, not a fixpoint),
    * with every argmin margin ≥ 50 so no tie can depend on float noise.
    * All coordinates are small integers: cluster means are exact-sum
    * rationals, identical in Spark and DuckDB regardless of add order.
    */
  private def qs6Kmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Seq.tabulate(60) { i =>
      val (x, y) =
        if (i < 54) {
          val bx = if (i % 3 == 1) 60.0 else 0.0
          val by = if (i % 3 == 2) 60.0 else 0.0
          (bx + (i / 3) % 5, by + (i / 3) / 5)
        } else (22.0 + (i - 54) * 3.0, 1.0 + (i - 54))
      (i.toLong, Array(x.toFloat, y.toFloat))
    }
    val embs = pts.toDF("vec_id", "embedding")
    val (_, assigned) = Similarity.kmeans(embs, "vec_id", "embedding", 3, 5)
    assigned
  }

  /** The qs6 oracle: Lloyd unrolled to 5 rounds of pure SQL (assign by
    * squared distance, first-wins argmin, re-average), initial centroids =
    * the 3 lowest-id lattice points, final re-assignment against the
    * round-5 centroids — the exact contract of [[Similarity.kmeans]].
    */
  private def qs6OracleSql: String = {
    def k(n: Int, src: String) =
      s"""c$n AS (SELECT cluster, avg(x) AS mx, avg(y) AS my FROM $src GROUP BY cluster),
         |k$n AS (SELECT
         |  max(CASE WHEN cluster = 0 THEN mx END) AS c0x, max(CASE WHEN cluster = 0 THEN my END) AS c0y,
         |  max(CASE WHEN cluster = 1 THEN mx END) AS c1x, max(CASE WHEN cluster = 1 THEN my END) AS c1y,
         |  max(CASE WHEN cluster = 2 THEN mx END) AS c2x, max(CASE WHEN cluster = 2 THEN my END) AS c2y
         |  FROM c$n)""".stripMargin
    def assign(n: Int, kSrc: String) =
      s"""a$n AS (SELECT id, x, y,
         |  CASE WHEN (x-c0x)*(x-c0x)+(y-c0y)*(y-c0y) <= (x-c1x)*(x-c1x)+(y-c1y)*(y-c1y)
         |        AND (x-c0x)*(x-c0x)+(y-c0y)*(y-c0y) <= (x-c2x)*(x-c2x)+(y-c2y)*(y-c2y) THEN 0
         |       WHEN (x-c1x)*(x-c1x)+(y-c1y)*(y-c1y) <= (x-c2x)*(x-c2x)+(y-c2y)*(y-c2y) THEN 1
         |       ELSE 2 END AS cluster
         |FROM p CROSS JOIN $kSrc)""".stripMargin
    val rounds = (1 to 5).map(n => k(n, s"a${n - 1}") + ",\n" + assign(n, s"k$n")).mkString(",\n")
    s"""WITH p AS (
       |  SELECT i AS id,
       |    CASE WHEN i < 54 THEN (CASE WHEN i % 3 = 1 THEN 60.0 ELSE 0.0 END) + ((i // 3) % 5)
       |         ELSE 22.0 + (i - 54) * 3.0 END AS x,
       |    CASE WHEN i < 54 THEN (CASE WHEN i % 3 = 2 THEN 60.0 ELSE 0.0 END) + ((i // 3) // 5)
       |         ELSE 1.0 + (i - 54) END AS y
       |  FROM generate_series(0, 59) t(i)),
       |k0 AS (SELECT 0.0 AS c0x, 0.0 AS c0y, 60.0 AS c1x, 0.0 AS c1y, 0.0 AS c2x, 60.0 AS c2y),
       |${assign(0, "k0")},
       |$rounds
       |SELECT id AS vec_id, CAST(cluster AS INTEGER) AS cluster FROM a5""".stripMargin
  }

  /** Shared qt13/qt21 oracle prefix: the BPE training replay — `w`
    * (distinct-word freqs), `s0` (char-wrapped words), and per round i the
    * `t_i` (split tokens) / `p_i` (pair counts) / `b_i` (argmax merge) /
    * `s_i` (merge applied via the wrapped-token replace, which equals the
    * greedy left-to-right [[operators.TextAnalysis.mergePair]] because
    * each token is individually delimited). `s$n` is the fully-encoded
    * distinct-word dictionary.
    */
  private def bpeTrainCteSql(numMerges: Int): String = {
    val iterations = (1 to numMerges).map { i =>
      s"""t$i AS (SELECT freq, string_split(st[2:len(st)-1], '><') AS t, st FROM s${i - 1}),
         |p$i AS (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT pr[1] AS l, pr[2] AS r, freq FROM (
         |      SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS pr, freq
         |      FROM t$i WHERE len(t) > 1))
         |  GROUP BY l, r),
         |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS (
         |  SELECT freq, replace(st, '<' || b.l || '><' || b.r || '>', '<' || b.l || b.r || '>') AS st
         |  FROM t$i, b$i AS b)""".stripMargin
    }.mkString(",\n")
    s"""w AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', ' ', 'g'), '\\s+')) AS word
       |    FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |s0 AS (SELECT freq, regexp_replace(word, '(.)', '<\\1>', 'g') AS st FROM w),
       |$iterations""".stripMargin
  }

  /** Real WordPiece inference (greedy longest-prefix-match over the fixed
    * `TextFunctions.wordpieceVocab`) — upgrades the qt6 regex stand-in to
    * the actual subword algorithm; per-doc piece count.
    */
  private def qt11Wordpiece(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextFunctions.wordpieceCount(col("text")).as("n_pieces"))

  /** Learned BPE merges (Sennrich): train the first 10 merge rules on the
    * corpus — the TRAINED-tokenizer counterpart to qt11's fixed-vocab
    * WordPiece inference. The corpus collapses to a distinct-word
    * dictionary once; each merge is then one dictionary-sized pair-count
    * shuffle + a 1-row argmax.
    */
  private def qt13BpeTrain(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.bpeTrain(t(spark, dir, "documents"), "text", 10)

  /** BPE ENCODE with the merges learned on the same corpus — the full
    * train→tokenize round trip ([[operators.TextAnalysis.bpeEncode]]):
    * per-doc BPE token counts under the 10 qt13 merges, applied in rank
    * order with the greedy left-to-right rule. The oracle replays
    * training (qt13's unrolled CTE) AND encoding — its `s10` stage IS the
    * encoded dictionary, because training already applies each merge to
    * every distinct word.
    */
  private def qt21BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val merges = operators.TextAnalysis.bpeTrain(docs, "text", 10)
    operators.TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
  }

  /** Deterministic corpus SHUFFLE + SHARD ([[operators.Layout.shuffleShard]])
    * — the reproducible pseudorandom permutation + round-robin shard deal
    * every training run performs before reading batches. The gate's order
    * key is a multiplicative hash `(doc_id·2654435761) mod 1000000007`
    * (62-bit-safe under ANSI, trivially replayable); production defaults
    * to xxhash64. Positions come from range-partition + zipWithIndex, not
    * a one-task global window — the oracle's `row_number()` proves the
    * distributed assignment matches the sequential definition exactly.
    */
  private def qt22ShuffleShard(spark: SparkSession, dir: String): DataFrame =
    operators.Layout
      .shuffleShard(
        t(spark, dir, "documents").select(col("doc_id")),
        "doc_id",
        numShards = 8,
        orderKey = Some((col("doc_id") * lit(2654435761L)) % lit(1000000007L)))
      .select(col("doc_id"), col("shuffle_pos"), col("shard"), col("pos_in_shard"))

  /** HTML → text extraction ([[functions.TextFunctions.htmlExtract]], the
    * crawl pipeline's WET step) over a deterministic page built around
    * each doc's entity-escaped text. The fixture plants the classic
    * boilerplate traps: CSS and JS bodies that a naive tag-strip would
    * leak into the corpus (the script even contains a `"</p>"` string),
    * a comment, and entity round-trips. The oracle replays the identical
    * regexp/replace chain under DuckDB's RE2.
    */
  private def qt24HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val esc = replace(
      replace(
        replace(col("text"), lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")),
      lit(">"), lit("&gt;"))
    val html = concat(
      lit(
        "<html><head><title>Page</title><style type=\"text/css\">p { color: red; }</style>" +
          "<script>if (1 < 2) { var x = \"</p>\"; }</script></head><body><h1>Heading</h1><p>"),
      esc,
      lit("</p><!-- hidden comment --></body></html>"))
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        functions.TextFunctions.htmlExtract(html).as("cleaned"))
      .withColumn("n_chars", length(col("cleaned")).cast("long"))
  }

  /** PARAGRAPH-LEVEL corpus dedup (CCNet/C4 crawl curation —
    * [[operators.Dedup.paragraphDedup]] + [[operators.Dedup.reassembleParagraphs]]):
    * every document is wrapped in the same boilerplate header/footer (the
    * newsletter-plea/copyright lines a crawl repeats on every page), then
    * each distinct trimmed paragraph survives only at its first
    * (doc_id, position) occurrence and documents reassemble from their
    * survivors. So: the header/footer live on only in the lowest doc_id,
    * exact-duplicate documents lose their body everywhere but the first
    * copy and vanish entirely (the CCNet empty-doc drop), and unique
    * prose is untouched. The oracle replays split/rank/reassemble with
    * DuckDB's zipped unnest + ordered string_agg. Hot boilerplate keys
    * are erased by map-side combine before the exchange (see operator
    * Scaladoc); dropped-doc accounting is the row-count delta.
    */
  private def qt25ParagraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val wrapped = t(spark, dir, "documents").select(
      col("doc_id"),
      concat(
        lit("subscribe to our newsletter\n"),
        col("text"),
        lit("\ncopyright all rights reserved")).as("wtext"))
    val survivors = operators.Dedup.paragraphDedup(wrapped, "doc_id", "wtext")
    operators.Dedup.reassembleParagraphs(survivors, "doc_id")
      .select(col("doc_id"), col("clean_text"), col("kept"))
  }

  /** Order-0 word-entropy quality signals
    * ([[operators.TextAnalysis.entropyStats]]): Shannon entropy of each
    * doc's word distribution + normalized entropy — the cheap
    * SQL-replayable stand-in for compression-ratio filtering (low
    * entropy = repetitive/boilerplate docs). A pure zero-exchange
    * projection (histogram via nested higher-order lambdas); the oracle
    * replays the identical transform/filter/log2 chain with DuckDB list
    * lambdas.
    */
  private def qt26Entropy(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.entropyStats(t(spark, dir, "documents"), "doc_id", "text")

  /** Data-mixture sampling ([[operators.TextAnalysis.mixtureSample]]):
    * each source admits docs in deterministic pseudorandom order until
    * its token budget fills (pre-sum < budget ⇒ ≤ 1 doc overshoot). The
    * gate derives per-source budgets from the source name (so the oracle
    * can rebuild the dimension) and uses the qt22 multiplicative-hash
    * order key for exact SQL replay; production uses xxhash64. Budgets
    * broadcast; running sums are per-source windows (the qt10 shape).
    */
  private def qt27Mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val budgets = docs.select(col("source")).distinct()
      .withColumn(
        "budget",
        lit(400L) + (regexp_extract(col("source"), "\\d+", 0).cast("long") % 5L) * 150L)
    operators.TextAnalysis.mixtureSample(
      docs, "doc_id", "source", "text", budgets,
      orderKey = Some((col("doc_id") * lit(2654435761L)) % lit(1000000007L)))
  }

  /** Token-window chunking with overlap
    * ([[operators.TextAnalysis.chunkDocs]]) — the RAG/embedding
    * ingestion step: 48-token windows, 12 shared between consecutive
    * chunks (stride 36). Pure zero-exchange projection
    * (explode(sequence) + slice — PlanSpec-pinned); the oracle replays
    * chunk count, starts, and window contents with `generate_series` +
    * `list_slice`. Sizes chosen so sf0.01 docs (≈ tens of tokens)
    * genuinely multi-chunk.
    */
  private def qt28Chunk(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.chunkDocs(
      t(spark, dir, "documents"), "doc_id", "text", chunkTokens = 48, overlap = 12)

  /** Inverted-index build + conjunctive search
    * ([[operators.TextAnalysis.invertedIndex]]/[[operators.TextAnalysis.searchAll]]):
    * the gate builds the (term, doc) index and answers a 3-term AND
    * query through it; the oracle bypasses the index entirely and asks
    * the documents table directly (list_contains × 3 on the same
    * tokenization) — so a posting lost in the build, a dup surviving
    * distinct, or a miscounted intersection each change the doc set.
    */
  private def qt30InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val idx = operators.TextAnalysis.invertedIndex(
      t(spark, dir, "documents"), "doc_id", "text")
    operators.TextAnalysis.searchAll(idx, "doc_id", Seq("join", "hash", "spark"))
  }

  /** Deterministic stratified sample
    * ([[operators.TextAnalysis.stratifiedSample]]): exactly 20 docs per
    * source, chosen by md5-hash order of doc_id — the oracle replays
    * the identical row_number window (DuckDB md5 returns the same hex,
    * and hex-string order is engine-independent), so the gate pins both
    * the per-stratum exact-k contract and the reproducible choice of
    * WHICH rows.
    */
  /** Weighted PPS systematic sample
    * ([[operators.TextAnalysis.ppsSample]]): exactly 25 picks per
    * source, each doc's multiplicity proportional to its n_chars — the
    * all-integer lattice arithmetic replays floor-for-floor in DuckDB
    * (`div` ↔ `//`), so one off-by-one anywhere in the cumulative
    * windows or the telescoping floors breaks the row set.
    */
  private def qt32PpsSample(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.ppsSample(
      t(spark, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", "n_chars", 25)

  private def qt31StratSample(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.stratifiedSample(
      t(spark, dir, "documents").select(col("source"), col("doc_id")),
      "source", "doc_id", k = 20)

  /** Deterministic hash-based train/val/test split
    * ([[operators.TextAnalysis.assignSplits]]): every doc's split is a
    * pure function of md5(doc_id) — reproducible across runs, engines,
    * partitionings, corpus growth — and the gate emits the full
    * (doc_id, split) assignment, which the oracle recomputes
    * hash-for-hash in DuckDB (`CAST('0x'||substr(md5)) AS BIGINT)`
    * mirroring Spark's `conv(substring(md5), 16, 10)`). Per-split mass
    * lands near 80/10/10 by md5 uniformity; EXACT per-row equality is
    * what the hash compare enforces.
    */
  private def qt29Split(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.assignSplits(
      t(spark, dir, "documents").select(col("doc_id")), "doc_id",
      Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))

  /** EXACT heavy hitters via the two-pass Misra–Gries sketch-then-recount
    * ([[operators.TextAnalysis.heavyHitters]]): all terms with corpus
    * frequency ≥ support·N, exact counts. Output is identical to the
    * naive `GROUP BY term HAVING count ≥ ceil(support·N)` the oracle
    * runs — the sketch only changes the PLAN (shuffle-free candidate
    * pass, recount exchange bounded by candidate tokens, not the corpus).
    */
  private def qt14HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.heavyHitters(t(spark, dir, "documents"), "text", 0.0335)

  /** Dedup AUDIT report — per-source duplicate rate (docs, distinct
    * normalized texts, dup share): the QA table a curation run publishes
    * before/after dedup. Gate compares on the normalized text itself so
    * both engines count identically; the 100 TB path swaps in the 64-bit
    * [[functions.TextFunctions.fingerprint]] (counts equal modulo 2⁻⁶⁴
    * collisions) so the distinct state is 8 bytes/doc, not the text.
    */
  private def qd10DupReport(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("n_distinct"),
        round(
          lit(1.0) - countDistinct(regexp_replace(lower(trim(col("text"))), "\\s+", " ")) /
            count(lit(1)).cast("double"),
          6).as("dup_rate"))

  /** Gopher repetition filters ([[operators.TextAnalysis.repetitionStats]]):
    * dup-word fraction, most-frequent-bigram char coverage, duplicated
    * 5-gram char coverage — the repetition-removal signals of an LLM
    * data-quality pipeline, fully SQL-replayable.
    */
  private def qt19Repetition(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.repetitionStats(t(spark, dir, "documents"), "doc_id", "text")

  /** Gopher document-quality rules ([[operators.TextAnalysis.qualityRules]]):
    * the keep/drop gate (word count, mean word length, symbol ratio,
    * alpha-word fraction, stopword floor) with every metric exposed for
    * auditability. Word-count band tightened to the synthetic docs' range
    * so `keep` is non-degenerate on the gate data.
    */
  private def qt20QualityRules(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.qualityRules(
      t(spark, dir, "documents"), "doc_id", "text", minWords = 50, maxWords = 100000)

  /** Sequence-length histogram (32-token buckets) — the distribution
    * that drives packing/batching config (qt10's inputs). One tokenize
    * pass, one hash-agg shuffle bounded by distinct buckets.
    */
  private def qt18LenHist(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        (floor(functions.TextFunctions.tokenCount(col("text")).cast("long") / 32) * 32)
          .as("bucket_lo"),
        functions.TextFunctions.tokenCount(col("text")).cast("long").as("__n"))
      .groupBy(col("bucket_lo"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("__n")).as("min_tokens"),
        max(col("__n")).as("max_tokens"))

  /** URL canonicalization for crawl dedup: deterministic messy URLs are
    * synthesized from doc fields (mixed-case scheme/host, default port,
    * www, tracking params in every position, fragments), canonicalized
    * by the codegen'd regexp chain, and grouped by registrable host.
    * Oracle re-runs the identical steps in DuckDB RE2.
    */
  private def qt17UrlCanon(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val url = concat(
      lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM:443/Path/"),
      col("source"), lit("/D"), id,
      when(col("doc_id") % 3 === 0, concat(lit("/?utm_source=x&utm_campaign=y&id="), id))
        .otherwise(concat(lit("?id="), id, lit("&fbclid=abc"))),
      when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        functions.TextFunctions.urlCanonicalize(url).as("canon"),
        functions.TextFunctions.urlHost(url).as("host"))
  }

  /** Stratified sampling: exact ⌈20%·N_lang⌉ docs per language by the
    * deterministic residue-ring order — the auditable balanced-sample
    * primitive of a training-data pipeline (qt9 is the flat-rate gate
    * twin). Full closed-form oracle.
    */
  private def qt16Stratified(spark: SparkSession, dir: String): DataFrame =
    Relational
      .stratifiedSample(t(spark, dir, "documents"), "lang", "doc_id", 0.2)
      .select(col("doc_id"), col("lang"))

  /** BM25 retrieval ranking against a fixed query (training-data
    * quality-filter / targeted-pull scorer); full closed-form oracle —
    * the per-doc Σ over query terms is summed in ascending term order on
    * BOTH engines so FP non-associativity cannot flip the 6-dp round.
    */
  private def qt15Bm25(spark: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.bm25Rank(
      t(spark, dir, "documents"), "doc_id", "text",
      Seq("spark", "query", "join", "window"), 20)

  /** CUBE grouping sets over (returnflag, linestatus): all four grouping
    * combinations in ONE Expand + hash aggregate (single shuffle), vs
    * four separate scans.
    */
  private def q25Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))

  /** Bloom-filter-accelerated semi join: the build side's keys compact
    * into a broadcast bloom filter that prunes the probe scan BEFORE the
    * shuffle (the 100 TB win: only ~fpp of non-matching rows reach the
    * exchange), then the exact semi join removes the false positives —
    * output is bit-identical to the plain semi join, which is exactly
    * what the oracle runs. Sizing is fixed here; at scale derive
    * expectedNumItems from table stats.
    */
  private def q26BloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bf = urgent.stat.bloomFilter("o_orderkey", 200000L, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContain(k))
    t(spark, dir, "lineitem")
      .filter(mightContain(col("l_orderkey")))
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Column profiling (training-data QA): null count, exact distinct,
    * min/max/avg per numeric column — one scan, wide multi-agg, then a
    * stack() unpivot to long form. n_null via count(*)−count(col) so both
    * engines stay in BIGINT.
    */
  private def qp2Profile(spark: SparkSession, dir: String): DataFrame =
    operators.Profiling.profile(
      t(spark, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      exact = true) // the oracle gate needs exact distincts; the 100 TB
  // routine tier is profile(exact = false) — HLL++ sketches, no Expand
  // (accuracy spec-asserted vs this exact tier in OperatorsSpec)

  /** §2.10 — sessionization (gap > 30 min), batch window-function form;
    * StreamingSpec checks it against two stateful-operator forms.
    */
  private def qe1Sessionize(spark: SparkSession, dir: String): DataFrame =
    streaming.EventStreams.sessionizeBatch(events(spark, dir))

  /** J4 — case-insensitive lookup join against a literal dim (the
    * province-name join of `additional-props.js:62-66`) + F20 weight map.
    */
  private def qj4CiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Seq(("1-urgent", 1.0), ("2-high", 0.8), ("3-medium", 0.5)).toDF("prio", "weight")
    t(spark, dir, "orders")
      .join(broadcast(dim), lower(col("o_orderpriority")) === col("prio"), "left")
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(coalesce(col("weight"), lit(0.0)) * col("o_totalprice")), 2).as("weighted_value"))
  }

  /** J5 — group-collecting join (`additional-props.js:68-76` bridges per
    * way): suppliers collected per nation, left-joined onto the base.
    */
  private def qj5CollectJoin(spark: SparkSession, dir: String): DataFrame = {
    val agg = t(spark, dir, "supplier")
      .groupBy(col("s_nationkey"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("s_name")))).as("supplier_list"),
        count(lit(1)).as("cnt"))
    t(spark, dir, "nation")
      .join(broadcast(agg), col("n_nationkey") === col("s_nationkey"), "left")
      .select(
        col("n_name"),
        col("supplier_list"),
        coalesce(col("cnt"), lit(0L)).as("n_suppliers"))
  }

  /** Multimodal — binary media columns with typed metadata; n_bytes/kind
    * are oracle-checkable, the decode stub's features ride in qm2.
    */
  private def qm1MediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = multimodal.Multimodal.mediaFromDocuments(spark, t(spark, dir, "documents"))
    multimodal.Multimodal
      .extractFeatures(media)
      .select(col("media_id"), col("kind"), col("n_bytes"))
  }

  /** Multimodal feature extraction (stub decode, real partition/batch
    * shape). Output is all-scalar (the 16-dim feature rides as its l2
    * norm) so the hash compare applies, and the deterministic byte-stats
    * decode gets a full DuckDB oracle (docs are ASCII ⇒ codepoint==byte).
    */
  /** The shared qm-gate output shape: byte/pixel stats rounded to 4 dp,
    * the 16-dim feature collapsed to its l2 norm (scalars only — array
    * columns break the driver compare).
    */
  private def mediaStatsSelect(features: org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaFeatures]): DataFrame =
    features.select(
      col("media_id"),
      round(col("mean_byte"), 4).as("mean_byte"),
      round(col("byte_entropy"), 4).as("byte_entropy"),
      round(
        sqrt(aggregate(col("feature"), lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))),
        4).as("feature_norm"))

  private def qm2MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = multimodal.Multimodal.mediaFromDocuments(spark, t(spark, dir, "documents"))
    mediaStatsSelect(multimodal.Multimodal.extractFeatures(media))
  }

  /** Multimodal with REAL pixel decode: every document gets a 32×32
    * block-constant grayscale JPEG encoded executor-side by the engine's
    * own codec, and features are computed over the DECODED pixels
    * ([[multimodal.Multimodal.extractFeaturesDecoded]] →
    * [[sources.Jpeg.decodeGray]]) — a distributed encode→decode round
    * trip, not the byte-stats stub. Block-constant content is exact
    * through JPEG, so the oracle replays pixel mean / entropy / chunked
    * feature norm from generate_series.
    */
  private def qm4JpegPixels(spark: SparkSession, dir: String): DataFrame = {
    val media = multimodal.Multimodal.jpegMediaFromDocuments(spark, t(spark, dir, "documents"))
    mediaStatsSelect(multimodal.Multimodal.extractFeaturesDecoded(media))
  }

  /** Multimodal PNG tier: same distributed encode→decode round trip as
    * qm4 but through the PNG codec ([[sources.Png]]) — PNG is LOSSLESS,
    * so the fixture uses ARBITRARY per-document pixels (i·7919 + doc_id
    * mod 256), a strictly stronger replay than qm4's block-constant JPEG
    * constraint: every one of the 1024 pixels per document is an
    * independent SQL-checked value flowing through zlib + filter framing.
    */
  private def qm5PngPixels(spark: SparkSession, dir: String): DataFrame = {
    val media = multimodal.Multimodal.pngMediaFromDocuments(spark, t(spark, dir, "documents"))
    mediaStatsSelect(multimodal.Multimodal.extractFeaturesDecoded(media))
  }

  /** Perceptual image dedup ([[multimodal.Multimodal.aHash]], 32×32
    * PNG → 8×8 aHash): doc_id % 100 folds the corpus onto 100 distinct
    * images, so every hash group collects the ~N/100 re-encoded copies
    * — the grouping aHash exists for, with the whole decode → box-mean
    * → threshold pipeline integer-exact and replayed cell-for-cell.
    */
  private def qm14PerceptualHash(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id"))
    val media = multimodal.Multimodal.pngMediaFromDocuments(spark, folded)
    multimodal.Multimodal.aHash(media, factor = 4)
      .groupBy(col("hash_bits"))
      .agg(count(lit(1)).as("n_images"))
  }

  /** Image near-dup clusters ([[multimodal.Multimodal.nearDupClusters]]
    * over [[multimodal.Multimodal.aHash]], 8 bands / hamming ≤ 10): the
    * multimodal dedup pass — aHash fingerprints banded LSH-style, exact
    * hamming verify, min-label components. Media = 100 synthetic PNGs where
    * ids ≥ 50 are one-block-retouched copies of id − 50 (a few aHash
    * bits move, never the whole fingerprint).
    */
  private def qm17ImageDedup(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id"))
      .distinct()
    val media = multimodal.Multimodal.pngMediaNearDupFromDocuments(spark, folded)
    multimodal.Multimodal.nearDupClusters(
      multimodal.Multimodal.aHash(media, factor = 4), bands = 8, maxHamming = 10)
  }

  /** Video near-dup clusters ([[multimodal.Multimodal.nearDupClusters]]
    * over [[multimodal.Multimodal.videoFrameHash]], 8 bands / hamming
    * ≤ 16): per-frame aHash fingerprints concatenated in frame order,
    * banded LSH-style, exact hamming verify, min-label components. Media = 100 synthetic
    * 4-frame MJPEG clips where ids ≥ 50 are one-block-retouched copies
    * of id − 50 (block-constant frames survive JPEG losslessly, the
    * qm10 contract, so the oracle replays pixels by formula).
    */
  private def qm19VideoDedup(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id"))
      .distinct()
    val media = multimodal.Multimodal.aviMediaNearDupFromDocuments(spark, folded)
    multimodal.Multimodal.nearDupClusters(
      multimodal.Multimodal.videoFrameHash(media, factor = 4), bands = 8, maxHamming = 16)
  }

  /** Trim-invariant video near-dup clusters ([[multimodal.Multimodal
    * .nearDupClusters]] over [[multimodal.Multimodal
    * .videoSampledFrameHash]], 4 sampled frames / 8 bands / hamming
    * ≤ 16): the frame-SAMPLED fingerprint hashes exactly 4
    * evenly-spaced frames (index ⌊j·F/4⌋), so an end-trimmed re-upload
    * compares at the same 256-bit length as its original — the pair
    * the qm19 concatenated fingerprint (length F·64) can never merge.
    * Media = 100 synthetic MJPEG clips where ids ≥ 50 drop the LAST
    * frame of base id − 50; at F = 5 vs 4 the sample indices coincide
    * (⌊j·5/4⌋ = j), so each trim hashes the same four frames as its
    * base and clusters at hamming 0.
    */
  private def qm20VideoTrimDedup(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id"))
      .distinct()
    val media = multimodal.Multimodal.aviMediaTrimNearDupFromDocuments(spark, folded)
    multimodal.Multimodal.nearDupClusters(
      multimodal.Multimodal.videoSampledFrameHash(media, factor = 4, nFrames = 4),
      bands = 8, maxHamming = 16)
  }

  /** Audio near-dup clusters ([[multimodal.Multimodal.nearDupClusters]]
    * over [[multimodal.Multimodal.audioEnergyHash]], 16 windows / 4
    * bands / hamming ≤ 3): the audio dedup pass — energy-envelope
    * fingerprints banded LSH-style, exact hamming verify, min-label
    * components. Media = 100 synthetic WAV clips where ids ≥ 50 are
    * one-segment-boosted copies of id − 50.
    */
  private def qm18AudioDedup(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id"))
      .distinct()
    val media = multimodal.Multimodal.wavMediaNearDupFromDocuments(spark, folded)
    multimodal.Multimodal.nearDupClusters(
      multimodal.Multimodal.audioEnergyHash(media, windows = 16), bands = 4, maxHamming = 3)
  }

  /** Incremental media near-dup dedup ([[multimodal.Multimodal
    * .incrementalNearDupMedia]], 8 bands / hamming ≤ 10): the
    * multimodal twin of qd8's incremental ingest — standing corpus =
    * the DISTINCT aHash fingerprints of bases 0-24, batch = the 50
    * retouched copies (ids 50-99). Retouches of corpus bases drop on
    * the cross band-screen; retouches of ABSENT bases (25-49) pass it
    * unless their pattern happens to sit within the hamming threshold
    * of some corpus base (the fixture's structured multipliers put a
    * handful of base pairs within 10 bits — near-dups by the
    * operator's own definition), then near-dedup WITHIN the batch
    * down to min-label representatives: 14 survivors at this fixture,
    * every one ≥ 75, with their fingerprints — the rows whose
    * hash_bits a real ingest would union into the standing set.
    */
  private def qm22IncrImageDedup(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id"))
      .distinct()
    val media = multimodal.Multimodal.pngMediaNearDupFromDocuments(spark, folded)
    // eager: the corpus and batch sides below are two filters of the SAME
    // hash frame — lazy, the PNG encode+decode pass runs once per filter
    val hashes = multimodal.Multimodal.aHash(media, factor = 4)
      .localCheckpoint(true)
    multimodal.Multimodal.incrementalNearDupMedia(
      hashes.filter(col("media_id") < 25),
      hashes.filter(col("media_id") >= 50),
      bands = 8, maxHamming = 10)
  }

  /** Trim-tolerant audio near-dup clusters ([[multimodal.Multimodal
    * .nearDupClusters]] over [[multimodal.Multimodal
    * .audioSampledEnergyHash]], 16 sampled windows / 4 bands / hamming
    * ≤ 3): the strict energy hash requires n divisible by
    * `windows`, so a trimmed re-upload emitted NO row and was
    * invisible to dedup; the sampled form assigns sample i to window
    * ⌊i·16/n⌋ and compares window means by cross-multiplication —
    * any length ≥ 16 hashes at 16 bits, exact integers throughout.
    * Media = 100 synthetic WAVs where ids ≥ 50 keep the first 1000 of
    * base id − 50's 1024 samples (a 24-sample end-trim, unhashable by
    * the strict form since 1000 % 16 ≠ 0).
    */
  private def qm21AudioTrimDedup(spark: SparkSession, dir: String): DataFrame = {
    val folded = t(spark, dir, "documents")
      .select((col("doc_id") % 100L).as("doc_id"))
      .distinct()
    val media = multimodal.Multimodal.wavMediaTrimNearDupFromDocuments(spark, folded)
    multimodal.Multimodal.nearDupClusters(
      multimodal.Multimodal.audioSampledEnergyHash(media, windows = 16),
      bands = 4, maxHamming = 3)
  }

  /** Multimodal audio tier — REAL WAV/PCM decode ([[sources.Wav]]): one
    * 1024-sample PCM16 clip per document, encoded executor-side and
    * decoded back to actual samples; mean |amplitude| and RMS are
    * integer-exact sums over power-of-two counts, so the oracle replays
    * them from generate_series with no FP slack at all (sqrt is
    * IEEE-correctly-rounded in both engines).
    */
  private def qm6WavAudio(spark: SparkSession, dir: String): DataFrame = {
    val media = multimodal.Multimodal.wavMediaFromDocuments(spark, t(spark, dir, "documents"))
    multimodal.Multimodal
      .extractAudioFeatures(media)
      .select(
        col("media_id"),
        col("sample_rate"),
        col("n_samples"),
        round(col("mean_amp"), 6).as("mean_amp"),
        round(col("rms"), 6).as("rms"))
  }

  /** Multimodal REAL resize — PNG fixture → decode → 2×2 integer box
    * average → lossless PNG re-encode → decode again; output is a per-doc
    * pixel mean plus a position-weighted checksum that pins EVERY resized
    * pixel. All arithmetic is integer (floor mean) or power-of-two
    * division — zero FP slack in the oracle replay.
    */
  private def qm7Resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = multimodal.Multimodal.pngMediaFromDocuments(spark, t(spark, dir, "documents"))
    multimodal.Multimodal
      .resizeDecoded(media, 2)
      .mapPartitions { it =>
        it.map { m =>
          val px = multimodal.Multimodal.decodeImage(m.bytes).get
          var sum = 0L
          var chk = 0L
          var i = 0
          while (i < px.length) {
            val v = px(i) & 0xff
            sum += v
            chk += v.toLong * (i + 1)
            i += 1
          }
          (m.media_id, m.meta.width, m.meta.height, sum / 256.0, chk)
        }
      }
      .toDF("media_id", "width", "height", "mean_px", "checksum")
      .withColumn("mean_px", round(col("mean_px"), 6))
  }

  /** Multimodal GIF tier: same lossless contract as qm5 but through the
    * GIF-LZW codec ([[sources.Gif]]) — arbitrary per-document pixels,
    * encoded executor-side with real dictionary-growth LZW and decoded
    * back through the palette, every pixel SQL-replayed.
    */
  private def qm8GifPixels(spark: SparkSession, dir: String): DataFrame = {
    val media = multimodal.Multimodal.gifMediaFromDocuments(spark, t(spark, dir, "documents"))
    mediaStatsSelect(multimodal.Multimodal.extractFeaturesDecoded(media))
  }

  /** Multimodal BMP tier: lossless contract through the raw-row path
    * (bottom-up rows, 4-byte stride padding, BGRA palette) — with qm5
    * (zlib) and qm8 (LZW) this oracle-gates every real image decode
    * route the engine ships.
    */
  private def qm9BmpPixels(spark: SparkSession, dir: String): DataFrame = {
    val media = multimodal.Multimodal.bmpMediaFromDocuments(spark, t(spark, dir, "documents"))
    mediaStatsSelect(multimodal.Multimodal.extractFeaturesDecoded(media))
  }

  /** Multimodal COMPRESSED-audio tier — REAL G.711 µ-law/A-law decode
    * ([[sources.Wav.ulawToLinear]]/[[sources.Wav.alawToLinear]]): per
    * document, 1024 companded codes covering all 256 code points ride a
    * format-6/7 WAV and expand to 16-bit linear executor-side; the
    * oracle replays the ITU-T expansion arithmetic (shift/segment
    * tables) directly in SQL — integer-exact, zero FP slack like qm6.
    */
  private def qm11G711Audio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          Seq("ulaw", "alaw").map { law =>
            val codes = Array.tabulate(1024)(i => ((i * 7 + id) % 256).toByte)
            val wav = sources.Wav.encodeG711(codes, 8000, aLaw = law == "alaw")
            val (rate, _, samples) = sources.Wav.decode(wav)
            var sumAbs = 0L
            var sumSq = 0L
            samples.foreach { s => sumAbs += math.abs(s.toLong); sumSq += s.toLong * s }
            val n = samples.length
            (id, law, rate, n.toLong, sumAbs.toDouble / n, math.sqrt(sumSq.toDouble / n))
          }
        }
      }
      .toDF("media_id", "law", "sample_rate", "n_samples", "mean_amp", "rms")
      .withColumn("mean_amp", round(col("mean_amp"), 6))
      .withColumn("rms", round(col("rms"), 6))
  }

  /** Multimodal FLAC tier — the qm6 contract through a REAL compressed
    * container: per-document PCM encodes executor-side with
    * fixed-prediction + Rice coding ([[sources.Flac]]), decodes back via
    * the dispatching [[multimodal.Multimodal.decodeAudio]] (magic-based
    * WAV/FLAC routing is itself under test), and the stats replay with
    * zero FP slack because FLAC is lossless.
    */
  private def qm12FlacAudio(spark: SparkSession, dir: String): DataFrame = {
    val media = multimodal.Multimodal.flacMediaFromDocuments(spark, t(spark, dir, "documents"))
    multimodal.Multimodal
      .extractAudioFeatures(media)
      .select(
        col("media_id"),
        col("sample_rate"),
        col("n_samples"),
        round(col("mean_amp"), 6).as("mean_amp"),
        round(col("rms"), 6).as("rms"))
  }

  /** Multimodal FLAC **LPC + stereo** tier — the real-world FLAC shape:
    * per-document stereo PCM encodes executor-side with quantized-LPC
    * subframes and all three stereo decorrelation modes (the payload
    * rotates mid/side → left/side → right/side across its 4 frames),
    * then decodes back through [[sources.Flac.decodeStereo16]].
    * Per-channel mean |amplitude| + RMS replay with zero FP slack
    * because the codec is lossless.
    */
  private def qm13FlacStereoLpc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = multimodal.Multimodal.flacStereoMediaFromDocuments(spark, t(spark, dir, "documents"))
    media
      .map { m =>
        val (rate, l, r) = graft.sources.Flac.decodeStereo16(m.bytes)
        var sl = 0L; var ql = 0L; var sr = 0L; var qr = 0L
        var i = 0
        while (i < l.length) {
          sl += math.abs(l(i).toLong); ql += l(i).toLong * l(i)
          sr += math.abs(r(i).toLong); qr += r(i).toLong * r(i)
          i += 1
        }
        val n = l.length.toDouble
        (m.media_id, rate, l.length.toLong,
          sl / n, math.sqrt(ql / n), sr / n, math.sqrt(qr / n))
      }
      .toDF("media_id", "sample_rate", "n_samples",
        "mean_amp_l", "rms_l", "mean_amp_r", "rms_r")
      .withColumn("mean_amp_l", round(col("mean_amp_l"), 6))
      .withColumn("rms_l", round(col("rms_l"), 6))
      .withColumn("mean_amp_r", round(col("mean_amp_r"), 6))
      .withColumn("rms_r", round(col("rms_r"), 6))
  }

  /** Multimodal VIDEO tier — REAL AVI/MJPEG decode: 4 block-constant
    * 32×32 JPEG frames per document ride an AVI container built
    * executor-side ([[sources.Avi]]); decode walks the movi chunks and
    * runs each frame through the in-repo JPEG codec
    * ([[multimodal.Multimodal.decodeVideo]]). Per (media, frame): pixel
    * mean + position-weighted checksum pinning EVERY pixel of every
    * frame — the qm7 contract extended over the frame axis.
    */
  private def qm10MjpegFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = multimodal.Multimodal.aviMediaFromDocuments(spark, t(spark, dir, "documents"))
    media
      .flatMap { m =>
        multimodal.Multimodal.decodeVideo(m.bytes).toSeq.flatMap { case (w, h, frames) =>
          frames.zipWithIndex.map { case (px, f) =>
            var sum = 0L
            var chk = 0L
            var i = 0
            while (i < px.length) {
              val v = px(i) & 0xff
              sum += v
              chk += v.toLong * (i + 1)
              i += 1
            }
            (m.media_id, f, w, h, sum / 1024.0, chk)
          }
        }
      }
      .toDF("media_id", "frame_no", "width", "height", "mean_px", "checksum")
      .withColumn("mean_px", round(col("mean_px"), 6))
  }

  /** A3+A10 — EAD vulnerability indicator on synthetic flood arrays (the
    * reference data model: 10-element RP arrays + bridges struct array);
    * full closed-form oracle.
    */
  private def qv1Ead(spark: SparkSession, dir: String): DataFrame =
    qv1EadFrom(t(spark, dir, "supplier"))

  private def qv1EadFrom(supp: DataFrame): DataFrame = {
    val s = col("s_suppkey")
    val ways = supp.select(
      s.as("way_id"),
      transform(sequence(lit(0), lit(9)), i => ((s * 7 + i * 13) % 40) / 10.0).as("flood_depths"),
      transform(sequence(lit(0), lit(9)), i => ((s * 3 + i * 5) % 100) / 10.0).as("flood_lengths"),
      when(s % 2 === 0, "paved").otherwise("unpaved").as("surface"),
      when(s % 3 === 0, "poor").when(s % 3 === 1, "fair").otherwise("good").as("condition"),
      when(
        s % 4 < 3,
        array(
          struct(
            when(s % 2 === 0, "bridge").otherwise("culvert").as("type"),
            (lit(5) + s % 25).cast("double").as("length"))))
        .otherwise(array().cast("array<struct<type:string,length:double>>"))
        .as("bridges"))
    operators.Vulnerability.wayEad(ways)
  }

  /** §3.1 — the composed indicator pipeline (indicators.sh): base road
    * network ← spatial-overlay indicator (J9/A4) ← EAD indicator (A3/A10)
    * ← scale-score-from-property indicator (A1), merged with J2 left joins
    * (merge-indicators.js) in ONE lazy Catalyst plan — the reference's five
    * file-exchanging processes become one lineage.
    */
  private def qp1Pipeline(spark: SparkSession, dir: String): DataFrame = {
    // the supplier base is consumed by FOUR subplans (overlay ways, EAD,
    // aadt score, road-network spine); ReuseExchange cannot dedupe the
    // differently-shaped scan subtrees, so share ONE scan via a LAZY
    // localCheckpoint: no eager job at construction (the qz1 lesson),
    // first action materializes the dim once, ContextCleaner reclaims it
    // when the frame is unreferenced (no caller unpersist contract)
    val supp = t(spark, dir, "supplier").localCheckpoint(false)
    val fish = qsp1OverlayFrom(supp, spark, dir).select(col("way_id"), col("score"))
    val ead = Relational
      .scaleScore2(qv1EadFrom(supp), "value")
      .select(col("way_id"), col("value"), col("score"))
    val aadt = Relational
      .scaleScore(supp, "s_acctbal")
      .select(col("s_suppkey").as("way_id"), col("score"))
    val rn = supp.select(col("s_suppkey").as("way_id"))
    Relational
      .mergeIndicators(rn, "way_id", Seq("fish" -> fish, "ead" -> ead, "aadt" -> aadt))
      .select(
        col("way_id"),
        col("fish_score"),
        col("ead_value"),
        col("ead_score"),
        col("aadt_score"))
  }

  /** A2 — grouped geometry dissolve via the custom typed Aggregator
    * (rows-only oracle; geometry union isn't SQL-expressible).
    */
  private def qa2Dissolve(spark: SparkSession, dir: String): DataFrame = {
    val areas = syntheticAreas(spark, dir).select(
      (col("area_id") % 5).as("group_id"),
      array(
        array(
          array(col("rx1"), col("ry1")),
          array(col("rx2"), col("ry1")),
          array(col("rx2"), col("ry2")),
          array(col("rx1"), col("ry2")),
          array(col("rx1"), col("ry1")))).as("rings"))
    areas
      .groupBy(col("group_id"))
      .agg(functions.GeomAggregates.geomUnion(col("rings")).as("dissolved"))
      .select(
        col("group_id"),
        size(col("dissolved")).cast("long").as("n_rings"),
        round(GeoFunctions.multiRingAreaUdf(col("dissolved")), 6).as("area"),
        round(GeoFunctions.multiRingPerimeterUdf(col("dissolved")), 6).as("perimeter"))
  }

  /** A2 exact path — dissolve with the slab-sweep boolean union
    * ([[functions.PolygonUnion]]): partially-overlapping rectangles come
    * out as ONE traced boundary per connected component (`ST_union`
    * semantics, preparation.sh:149-151), so the union AREA — not the
    * overlap-double-counting multi-part sum of qa2's documented
    * approximation — is what the oracle independently recomputes via
    * coordinate-compression strips, and ring count equals the overlap
    * graph's component count (this data dissolves to hole-free shapes).
    */
  private def qa3DissolveExact(spark: SparkSession, dir: String): DataFrame = {
    val areas = syntheticAreas(spark, dir).select(
      (col("area_id") % 5).as("group_id"),
      array(
        array(
          array(col("rx1"), col("ry1")),
          array(col("rx2"), col("ry1")),
          array(col("rx2"), col("ry2")),
          array(col("rx1"), col("ry2")),
          array(col("rx1"), col("ry1")))).as("rings"))
    areas
      .groupBy(col("group_id"))
      .agg(functions.GeomAggregates.geomUnionExact(col("rings")).as("dissolved"))
      .select(
        col("group_id"),
        size(col("dissolved")).cast("long").as("n_rings"),
        round(functions.GeomAggregates.signedAreaUdf(col("dissolved")), 6).as("area"))
  }

  // --------------------------------------------------- spatial (J8/J9/A4)
  /** Synthetic geometry derived deterministically from table keys so the
    * spatial operators get REAL DuckDB oracles: axis-aligned rectangles
    * make point-in-polygon and line-clipping SQL-expressible.
    */
  private def syntheticWaysFrom(supp: DataFrame): DataFrame =
    supp.select(
      col("s_suppkey").as("way_id"),
      ((col("s_suppkey") % 13) + 0.25).as("y"),
      (col("s_suppkey") % 17).cast("double").as("x1"),
      ((col("s_suppkey") % 17) + 1 + (col("s_suppkey") % 4)).cast("double").as("x2"))

  private def syntheticAreas(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation").select(
      col("n_nationkey").as("area_id"),
      (col("n_nationkey") % 10).cast("double").as("rx1"),
      ((col("n_nationkey") % 10) + 2 + (col("n_nationkey") % 3)).cast("double").as("rx2"),
      ((col("n_nationkey") % 11) - 0.2).as("ry1"),
      ((col("n_nationkey") % 11) + 1.2 + (col("n_nationkey") % 2)).as("ry2"),
      ((col("n_nationkey") % 7) + 1).cast("double").as("value"))

  /** The synthetic areas as closed rectangle zones (zone_id, rings). */
  private def syntheticZones(spark: SparkSession, dir: String): DataFrame =
    syntheticAreas(spark, dir).select(
      col("area_id").as("zone_id"),
      array(
        array(
          array(col("rx1"), col("ry1")),
          array(col("rx2"), col("ry1")),
          array(col("rx2"), col("ry2")),
          array(col("rx1"), col("ry2")),
          array(col("rx1"), col("ry1")))).as("rings"))

  /** A w×h float32 GeoTIFF fixture: cell (c, r) holds ((c·a + r·b) mod m)
    * / 10, row-major. The raster gates' oracles regenerate the same grid.
    */
  private def rasterValues(w: Int, h: Int, a: Int, b: Int, m: Int): Array[Float] =
    Array.tabulate(w * h) { i =>
      val c = i % w; val r = i / w
      (((c * a + r * b) % m) / 10.0).toFloat
    }

  /** qz6/qz7's 3-band BandsW×BandsH fixture, exact quarter floats. */
  private val BandsW = 32
  private val BandsH = 16
  private def rasterBands: Array[Array[Float]] =
    Array.tabulate(3)(b =>
      Array.tabulate(BandsW * BandsH) { i =>
        val c = i % BandsW; val r = i / BandsW
        (((c * 3 + r * 5 + b * 7) % 40) / 4.0).toFloat
      })

  /** J9 + A4 + F8/F11/F12 — the §3.2 representative query: bbox spatial
    * join → line split by polygon → midpoint-in-polygon weighting →
    * per-way sum → scale-score. Oracle reproduces the geometry with
    * interval clipping + the identical haversine length ratio.
    */
  private def qsp1Overlay(spark: SparkSession, dir: String): DataFrame =
    qsp1OverlayFrom(t(spark, dir, "supplier"), spark, dir)

  private def qsp1OverlayFrom(supp: DataFrame, spark: SparkSession, dir: String): DataFrame = {
    val ways = syntheticWaysFrom(supp).select(
      col("way_id"),
      array(array(col("x1"), col("y")), array(col("x2"), col("y"))).as("coords"))
    val areas = syntheticAreas(spark, dir).select(
      col("area_id"),
      array(
        array(
          array(col("rx1"), col("ry1")),
          array(col("rx2"), col("ry1")),
          array(col("rx2"), col("ry2")),
          array(col("rx1"), col("ry2")),
          array(col("rx1"), col("ry1")))).as("rings"),
      col("value"))
    operators.Spatial
      .indicatorFromAreas(ways, areas)
      .select(col("way_id"), round(col("value"), 4).as("value"), col("score"))
  }

  /** J8 — nearest-neighbour argmin join: nearest supplier per customer by
    * haversine, deterministic tie-break (round to 1 mm, then key). Runs
    * through the GRID form ([[operators.Spatial.nearestJoinGridKm]]):
    * the broadcast-cross-join twin is O(cust·supp) — 15M pairs at sf0.1
    * but 1.5B at sf1 (the round-8 scale proof caught it at 100× super-
    * linear) — while the grid probes only nearby cells per round and is
    * bit-identical by the distance-lower-bound argument (spec-pinned).
    */
  private def qsp2Nearest(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select(
      col("c_custkey"),
      ((col("c_custkey") % 180) - 90 + 0.25).as("clon"),
      ((col("c_custkey") % 160) - 80 + 0.25).as("clat"))
    val supp = t(spark, dir, "supplier").select(
      col("s_suppkey"),
      ((col("s_suppkey") * 3 % 180) - 90).cast("double").as("slon"),
      ((col("s_suppkey") * 5 % 160) - 80).cast("double").as("slat"))
    operators.Spatial
      .nearestJoinGridKm(cust, "c_custkey", "clon", "clat", supp, "s_suppkey", "slon", "slat")
      .select(col("c_custkey"), col("__tie").as("s_suppkey"), col("dist").as("dist_km"))
  }

  /** A11/S11 equivalent — zonal statistics: raster-as-cell-table (x, y,
    * value synthesized from part keys, offset 0.5 so cells never sit on
    * rectangle boundaries) under the synthetic rectangle zones.
    */
  private def qz1Zonal(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "part").select(
      ((col("p_partkey") % 17) + 0.5).as("x"),
      ((col("p_partkey") % 11) + 0.5).as("y"),
      col("p_retailprice").as("value"))
    operators.Spatial.zonalStats(cells, syntheticZones(spark, dir))
  }

  /** S11 end-to-end — raster zonal stats with the raster decode
    * IN-ENGINE: a deterministic float32 GeoTIFF is materialized through
    * [[sources.GeoTiff.write]], scanned back by [[sources.GeoTiff.read]]
    * (binaryFile → per-file generator decode), and aggregated under the
    * synthetic zones. The oracle regenerates the identical cell grid in
    * SQL (value replayed through REAL to match float32 quantization), so
    * this gates the writer, the reader, the pixel-center georeferencing
    * AND the zonal aggregation in one pass — closing the reference's
    * img-stats stage (`img-stats.py:60-102`) fully in-engine.
    */
  private def qz2RasterZonal(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qz2") { tmp =>
      val (w, h) = (64, 48)
      sources.GeoTiff.write(
        tmp.resolve("raster.tif").toString, w, h, rasterValues(w, h, 7, 13, 40),
        1.0, 1.0, 0.0, h.toDouble)
      val cells = sources.GeoTiff.read(spark, tmp.toString, globFilter = Some("*.tif"))
        .select("x", "y", "value")
      operators.Spatial.zonalStats(cells, syntheticZones(spark, dir))
    }

  /** S11 compressed — as [[qz2RasterZonal]] but the raster is written
    * zlib-compressed (TIFF Compression=8) and inflated by the reader's
    * per-segment decode, gating the whole compressed-ingest path (real
    * flood rasters ship deflate- or LZW-compressed; `img-stats.py`
    * delegates that to rasterio, this engine decodes natively).
    */
  private def qz3RasterDeflate(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qz3") { tmp =>
      val (w, h) = (80, 40)
      sources.GeoTiff.write(
        tmp.resolve("raster.tif").toString, w, h, rasterValues(w, h, 11, 7, 50),
        1.0, 1.0, 0.0, h.toDouble, deflate = true)
      val cells = sources.GeoTiff.read(spark, tmp.toString, globFilter = Some("*.tif"))
        .select("x", "y", "value")
      operators.Spatial.zonalStats(cells, syntheticZones(spark, dir))
    }

  /** S11 mega-raster path — the SAME contract as qz3 but the raster is
    * written MULTI-STRIP (8 rows per strip, each strip independently
    * deflated) and scanned by [[sources.GeoTiff.readParallel]]: ranged
    * header parse + one task per strip byte range. Gates the fan-out
    * path the single-huge-raster scenario needs.
    */
  private def qz4RasterParallel(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qz4") { tmp =>
      val (w, h) = (80, 40)
      sources.GeoTiff.write(
        tmp.resolve("raster.tif").toString, w, h, rasterValues(w, h, 11, 7, 50),
        1.0, 1.0, 0.0, h.toDouble, deflate = true, rowsPerStrip = 8)
      val cells = sources.GeoTiff
        .readParallel(spark, tmp.toString + "/*", globFilter = Some("*.tif"))
        .select("x", "y", "value")
      operators.Spatial.zonalStats(cells, syntheticZones(spark, dir))
    }

  /** S11 JPEG — Compression=7 ingest through the native baseline-DCT
    * codec ([[sources.Jpeg]]): a block-constant 8-bit raster is written in
    * the common libtiff shape (JPEGTables tag + abbreviated per-strip
    * streams) and read back cell-exact. Block-constant content survives
    * JPEG exactly (DC-only blocks under the uniform quant table — see
    * [[sources.Jpeg]]), so the oracle replays every pixel from
    * generate_series while the full huffman/DCT/marker machinery runs.
    */
  private def qz5RasterJpeg(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qz5") { tmp =>
      val w = 64; val h = 48
      val px = Array.tabulate(w * h) { i =>
        val bc = (i % w) / 8; val br = (i / w) / 8
        (bc * 5 + br * 11) % 256
      }
      sources.GeoTiff.writeJpeg(
        tmp.resolve("raster.tif").toString, w, h, px, 1.0, 1.0, 0.0, h.toDouble,
        rowsPerStrip = 16)
      sources.GeoTiff.read(spark, tmp.toString, globFilter = Some("*.tif"))
        .select(col("x"), col("y"), col("value"))
    }

  /** S11 multi-band — a 3-band (RGB-shaped) float32 chunky-interleaved
    * GeoTIFF writes through [[sources.GeoTiff.writeBands]] and scans back
    * per band via [[sources.GeoTiff.readBands]]; values are exact quarter
    * floats, so every (x, y, band, value) cell replays in SQL. Closes the
    * single-band-only limitation for the orthophoto/multispectral case.
    */
  private def qz6RasterBands(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qz6") { tmp =>
      sources.GeoTiff.writeBands(
        tmp.resolve("rgb.tif").toString, BandsW, BandsH, rasterBands,
        1.0, 1.0, 0.0, BandsH.toDouble, deflate = true)
      sources.GeoTiff.readBands(spark, tmp.toString, globFilter = Some("*.tif"))
        .select(col("x"), col("y"), col("band"), col("value"))
    }

  /** qz6's fixture through the MEGA-RASTER path: multi-strip + deflate +
    * multi-band, read segment-fanned by
    * [[sources.GeoTiff.readBandsParallel]] (each strip an independent
    * task carrying all bands of its rows). Same oracle as qz6 — the
    * physical plan differs, the cells must not.
    */
  private def qz7RasterBandsParallel(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qz7") { tmp =>
      sources.GeoTiff.writeBands(
        tmp.resolve("rgb.tif").toString, BandsW, BandsH, rasterBands,
        1.0, 1.0, 0.0, BandsH.toDouble, deflate = true, rowsPerStrip = 4)
      sources.GeoTiff.readBandsParallel(spark, tmp.resolve("rgb.tif").toString)
        .select(col("x"), col("y"), col("band"), col("value"))
    }

  /** S8-family — AVRO CONTAINER ROUND TRIP through the from-scratch
    * connector ([[sources.Avro.writeAvro]]/[[sources.Avro.readAvro]] —
    * `spark-avro` is NOT on this classpath; only Avro core is): a
    * lineitem slice exercising every supported shape (long, int, string,
    * double, NTZ timestamp, array<double>, boolean) is written as one
    * container file per partition and scanned back file-parallel, then
    * aggregated. The oracle replays the aggregate over the parquet
    * source, so any encode/decode corruption — union-null mishandling,
    * timestamp unit drift, array element loss — breaks count/sum/hash.
    * Output is materialized (3 rows) so the staging dir is reclaimed.
    */
  private def qf10AvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qf10") { tmp =>
      val src = t(spark, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), col("l_shipdate"),
        array(col("l_discount"), col("l_tax")).as("rates"),
        (col("l_quantity") < 25).as("small"))
      sources.Avro.writeAvro(src.repartition(8), tmp.toString)
      sources.Avro.readAvro(spark, tmp.toString)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(element_at(col("rates"), 1) + element_at(col("rates"), 2)), 4)
            .as("sum_rates"),
          sum(when(col("small"), 1L).otherwise(0L)).as("n_small"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
    }
  }

  /** Transaction-log table format end-to-end ([[operators.TxLog]]):
    * orders build a versioned table — v0 creates the orderkey%3=0 slice,
    * v1 appends the %3=1 slice, v2 rewrites away rows under a totalprice
    * floor (per-file dirty check; clean files carry by reference) — and
    * the gate reads ALL THREE versions back through time-travel
    * snapshots, emitting (version, n, sum_price). The oracle replays
    * each version's logical contents as plain predicates over the
    * source table, so a lost add, an unapplied remove, or a stale live
    * set at any version breaks that version's row. Commit atomicity /
    * concurrency / vacuum / partial-rewrite file identity are
    * TxLogSpec's job.
    */
  private def qf11Txlog(spark: SparkSession, dir: String): DataFrame =
    stagedOrdersTxLog(spark, dir, "qf11") { (root, orders) =>
      operators.TxLog.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
      operators.TxLog.append(spark, root, orders.filter(col("o_orderkey") % 3 === 1))
      operators.TxLog.rewrite(spark, root, col("o_totalprice") >= 150000.0)
      (0L to 2L).map { v =>
        operators.TxLog.snapshot(spark, root, Some(v))
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(v).as("version"), col("n"), col("sum_price"))
      }.reduce(_ unionByName _)
    }

  /** Manifest-stats range scan over the tx-log table
    * ([[operators.TxLog.snapshotRange]]): orders commit in two versions
    * (even keys, then odd), each range-partitioned so every data file
    * covers a tight o_orderkey interval whose (min, max) ride IN the
    * commit JSON — and the range query plans its file set from the log
    * alone (no directory listing, no parquet footer probes; the Iceberg
    * manifest shape on the qf11 format). The oracle is the plain
    * full-table BETWEEN: identical rows is the stats' no-false-negatives
    * contract (partial-overlap files are cleaned by the residual
    * filter). The pruning count itself is TxLogSpec's job.
    */
  private def qy8TxlogPrune(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qy8") { wh =>
      val root = wh.resolve("tbl").toString
      val orders = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      operators.TxLog.create(
        spark, root,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
        statsCol = Some("o_orderkey"))
      operators.TxLog.append(
        spark, root,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      operators.TxLog.snapshotRange(spark, root, 2000L, 2600L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
    }
  }

  /** Log-checkpointed planning under the oracle
    * ([[operators.TxLog.checkpoint]]): same shape as qy8, but the range
    * scan plans its file set THROUGH a checkpoint written between the
    * two commits — replay = checkpoint state + one commit, never the
    * full prefix. A checkpoint that dropped a live file, resurrected a
    * removed one, or corrupted the manifest stats changes the planned
    * file set and breaks the plain-BETWEEN oracle (stats-pruning safety
    * means extra files are invisible, but a LOST file loses rows). The
    * corrupt-prefix proof that replay really starts at the checkpoint
    * is TxLogSpec's job.
    */
  private def qy9TxlogCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qy9") { wh =>
      val root = wh.resolve("tbl").toString
      val orders = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      operators.TxLog.create(
        spark, root,
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
        statsCol = Some("o_orderkey"))
      operators.TxLog.checkpoint(spark, root) // fold v0 into the checkpoint
      operators.TxLog.append(
        spark, root,
        orders.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      operators.TxLog.snapshotRange(spark, root, 2000L, 2600L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
    }
  }

  /** Tx-log OPTIMIZE end-to-end ([[operators.TxLog.optimize]]): four
    * fragmented commits (6 files each — the layout a streaming sink
    * leaves) fold into 4 Hilbert-clustered files as ONE atomic version,
    * and the gate aggregates THROUGH the optimized snapshot. The oracle
    * replays the aggregate over the source table: any row lost or
    * duplicated by the rewrite — the exact hazard compaction introduces
    * — breaks count/sum/hash. File-count, history, and refreshed-stats
    * contracts are TxLogSpec's job.
    */
  private def qf12TxlogOptimize(spark: SparkSession, dir: String): DataFrame =
    stagedOrdersTxLog(spark, dir, "qf12") { (root, orders) =>
      operators.TxLog.create(
        spark, root, orders.filter(col("o_orderkey") % 4 === 0).repartition(6),
        statsCol = Some("o_orderkey"))
      (1L to 3L).foreach { r =>
        operators.TxLog.append(
          spark, root, orders.filter(col("o_orderkey") % 4 === r).repartition(6))
      }
      operators.TxLog.optimize(
        spark, root, numFiles = 4, clusterBy = Seq("o_orderkey", "o_custkey"))
      operators.TxLog.snapshot(spark, root)
        .groupBy((col("o_orderkey") % 7).as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    }

  /** Tx-log MERGE (upsert) end-to-end ([[operators.TxLog.merge]]): the
    * orderkey%4=0 slice becomes the standing table (range-partitioned
    * so matched keys land in a subset of files and clean files carry by
    * reference), then a source of re-priced %8=0 rows (matched →
    * update) plus %8=1 rows (unmatched → insert) merges as one atomic
    * version, and the gate emits the FULL final table. The oracle
    * replays merge's defining identity — target anti-join source-keys,
    * union source — so a lost update, a surviving stale row, a dropped
    * insert, or a row duplicated across the rewrite boundary each break
    * the hash. Dirty-file bounding / source-key-uniqueness / empty-edge
    * contracts are TxLogSpec's job.
    */
  private def qf13TxlogMerge(spark: SparkSession, dir: String): DataFrame =
    stagedOrdersTxLog(spark, dir, "qf13") { (root, orders) =>
      operators.TxLog.create(
        spark, root,
        orders.filter(col("o_orderkey") % 4 === 0)
          .repartitionByRange(6, col("o_orderkey")))
      val source = orders.filter(col("o_orderkey") % 8 <= 1)
        .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
      operators.TxLog.merge(spark, root, source, Seq("o_orderkey"))
      operators.TxLog.snapshot(spark, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }

  /** Row-level change data feed over the tx-log table
    * ([[operators.TxLog.changes]]): v1 appends the %4=1 slice, v2
    * rewrites away the custkey%10=3 rows (a per-file dirty rewrite that
    * physically RE-STAGES every survivor in a dirty file), and the gate
    * emits the feed for (0, 2]. The oracle states the logical diff
    * directly — v1's inserts are the appended slice, v2's deletes are
    * exactly the dropped rows — so a carried survivor leaking into the
    * feed (the hazard the per-version EXCEPT ALL exists to cancel), a
    * missed delete, or a wrong version attribution each break the
    * compare. Upsert-as-delete+insert and optimize-as-empty-feed are
    * TxLogSpec's job.
    */
  private def qf14TxlogCdf(spark: SparkSession, dir: String): DataFrame =
    stagedOrdersTxLog(spark, dir, "qf14") { (root, orders) =>
      operators.TxLog.create(
        spark, root,
        orders.filter(col("o_orderkey") % 4 === 0)
          .repartitionByRange(6, col("o_orderkey")))
      operators.TxLog.append(spark, root, orders.filter(col("o_orderkey") % 4 === 1))
      operators.TxLog.rewrite(spark, root, !(col("o_custkey") % 10 === 3))
      operators.TxLog.changes(spark, root, 0L, 2L)
        .select(col("_commit_version"), col("_change_type"),
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }

  /** Partitioned tx-log table ([[operators.TxLog.snapshotWhere]]): the
    * table is created partitioned by o_orderstatus — files land under
    * path-encoded partition dirs while the column stays IN the data —
    * and a two-status probe plans its file set from the log + paths
    * alone, with the residual IN filter restoring exactness. The oracle
    * is the plain full-table IN: identical rows is partition pruning's
    * no-false-negatives contract (a file wrongly pruned loses rows; a
    * file wrongly kept is cleaned by the residual). The pruned-count
    * metric and rewrite-preserves-layout contracts are TxLogSpec's job.
    */
  private def qf15TxlogPartition(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qf15") { wh =>
      val root = wh.resolve("tbl").toString
      val orders = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
      operators.TxLog.create(
        spark, root, orders.filter(col("o_orderkey") % 2 === 0).repartition(4),
        partitionBy = Seq("o_orderstatus"))
      operators.TxLog.append(
        spark, root, orders.filter(col("o_orderkey") % 2 === 1).repartition(4))
      operators.TxLog.snapshotWhere(
        spark, root, Map("o_orderstatus" -> Seq("F", "P")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
    }
  }

  /** Deletion-vector delete ([[operators.TxLog.delete]]): two row-level
    * deletes commit as (file, position) sidecars — zero data files
    * rewritten (TxLogSpec pins the physical identity) — and the gate
    * aggregates THROUGH the masked snapshot. The oracle applies the
    * same predicates as plain WHERE NOT clauses: a row the mask loses
    * (wrong position), resurrects (mask not applied), or double-deletes
    * (overlapping DVs miscounted) breaks count/sum. Fold-on-optimize
    * and read-through-mask rewrite contracts are TxLogSpec's job.
    */
  private def qf16TxlogDelete(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qf16") { wh =>
      val root = wh.resolve("tbl").toString
      val orders = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
      operators.TxLog.create(
        spark, root,
        orders.repartitionByRange(6, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      operators.TxLog.delete(
        spark, root,
        col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0)
      operators.TxLog.delete(spark, root, col("o_custkey") % 10 === 7)
      operators.TxLog.snapshot(spark, root)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    }
  }

  /** Incremental index maintenance from the change feed
    * ([[operators.TextAnalysis.applyIndexDelta]] over
    * [[operators.TxLog.changes]]): the index built at v0 follows an
    * upsert (v1 merge: re-texted + fresh docs) and a DV delete (v2)
    * by consuming ONLY the feed — and must equal the full tokenization
    * of the final table, which is exactly what the oracle states in
    * plain predicates. A stale posting kept, a new one missed, or a
    * deleted doc's postings surviving each break the pair set; the
    * multi-version fold (upsert THEN delete of the same doc must end
    * deleted) is TextAnalysisSpec's job.
    */
  private def qy10IncrIndex(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qy10") { wh =>
      val root = wh.resolve("tbl").toString
      val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      operators.TxLog.create(
        spark, root,
        docs.filter(col("doc_id") % 3 =!= 2).repartitionByRange(4, col("doc_id")))
      val index0 = operators.TextAnalysis.invertedIndex(
        operators.TxLog.snapshot(spark, root, Some(0L)), "doc_id", "text")
      val source = docs.filter(col("doc_id") % 4 === 1)
        .withColumn("text", concat(col("text"), lit(" zzupdated")))
      operators.TxLog.merge(spark, root, source, Seq("doc_id")) // v1
      operators.TxLog.delete(spark, root, col("doc_id") % 9 === 0) // v2
      val delta = operators.TxLog.changes(spark, root, 0L, 2L)
      operators.TextAnalysis.applyIndexDelta(index0, delta, "doc_id", "text")
    }
  }

  /** S-family interop — ORC round trip: lineitem projects through an ORC
    * write → read (Spark's builtin columnar format besides parquet) and
    * aggregates; the oracle replays the same aggregate over the parquet
    * source directly, so any value corruption in the ORC path (type
    * mapping, nulls, decimal/double round trip) breaks the hash.
    */
  private def qf6OrcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf6") { tmp =>
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"), col("l_discount"))
        .write.mode("overwrite").orc(tmp.toString)
      spark.read.orc(tmp.toString)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
    }

  /** Layout tier — Z-order clustering under the oracle gate: the Morton
    * code ([[operators.Layout.zorder2]], magic-number bit spreading as
    * pure builtin shift/and/or expressions) is computed over two key
    * columns and aggregated; the oracle replays the identical spreading
    * arithmetic in SQL (`&`, `|`, `<<` — lateral aliases), so one wrong
    * mask or shift anywhere in the interleave breaks the hash. The
    * clustering itself (repartitionByRange on z → disjoint per-file Z
    * intervals → multi-dim min/max pruning at rest) is plan-asserted in
    * LayoutSpec; this gate pins the code the layout sorts by.
    */
  private def qy1Zorder(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(
        col("l_returnflag"),
        operators.Layout.zorder2(col("l_partkey"), col("l_suppkey")).as("z"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("z")).as("z_sum"),
        min(col("z")).as("z_min"),
        max(col("z")).as("z_max"))

  /** Layout tier — bucketed co-located join: orders and lineitem are
    * written as hash-bucketed sorted tables on the join key
    * ([[operators.Layout.writeBucketed]]), then joined and aggregated
    * THROUGH the bucketed tables — the read-side join needs no exchange
    * (LayoutSpec asserts the plan; at 100 TB the write-once shuffle
    * amortizes across every later fact-fact join). The oracle replays the
    * plain join over the parquet sources, so bucket routing or per-bucket
    * sort corruption (a row landing in the wrong bucket would silently
    * drop join matches under bucketed execution) breaks the values.
    */
  private def qy2BucketJoin(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qy2") { whDir =>
      val wh = whDir.toString
      operators.Layout.writeBucketed(
        t(spark, dir, "orders")
          .filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_orderkey"), col("o_custkey")),
        "graft_qy2_orders", "o_orderkey", 8, wh)
      operators.Layout.writeBucketed(
        // a deterministic slice keeps the gate's write volume proportional
        // while still routing rows across all 8 buckets
        t(spark, dir, "lineitem")
          .filter(col("l_quantity") < 10)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"), col("l_discount")),
        "graft_qy2_lineitem", "l_orderkey", 8, wh)
      spark.table("graft_qy2_lineitem")
        .join(
          spark.table("graft_qy2_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }

  /** Layout tier — FILE-LEVEL BLOOM SKIPPING INDEX end-to-end
    * ([[operators.Layout.writeBloomIndexed]]/[[operators.Layout.bloomLookup]]):
    * a lineitem slice is written hash-partitioned by `l_orderkey` with a
    * per-file bloom sidecar (Spark's native `BloomFilterAggregate`), and
    * the gate's rows come back through a point lookup that reads the
    * sidecar, keeps bloom-candidate files only, and applies the residual
    * equality filter. The oracle replays the plain full-scan filter —
    * identical output is exactly the bloom's no-false-negatives contract.
    * The skipping itself (1 candidate file of 16 for this key) is
    * asserted in LayoutSpec. Result rows are materialized (a handful by
    * construction) so the staging dir can be reclaimed before return —
    * bench reruns must not accumulate lineitem copies in /tmp.
    */
  private def qy4BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qy4") { wh =>
      operators.Layout.writeBloomIndexed(
        t(spark, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"), col("l_extendedprice")),
        "l_orderkey", wh.toString, numFiles = 16, expectedPerFile = 500000L)
      operators.Layout
        .bloomLookup(spark, wh.toString, "l_orderkey", lit(1L))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice"))
    }
  }

  /** Layout tier — FILE-LEVEL MIN/MAX ZONE-MAP INDEX end-to-end
    * ([[operators.Layout.writeMinMaxIndexed]]/[[operators.Layout.rangeLookup]]):
    * orders are written range-partitioned + sorted by `o_orderkey` with a
    * per-file (lo, hi, rows) sidecar, and the gate's rows come back
    * through a range lookup that reads the KB sidecar, keeps only files
    * whose zone overlaps [1000, 1400], and applies the residual BETWEEN
    * inside the scan. The oracle replays the plain full-scan BETWEEN —
    * identical output is the zone map's no-false-negatives contract
    * (partial-overlap files are cleaned by the residual filter). The
    * skipping itself (1–2 candidate files of 16) is asserted in
    * LayoutSpec. Rows are materialized so the staging dir can be
    * reclaimed before return.
    */
  private def qy5MinMaxPrune(spark: SparkSession, dir: String): DataFrame = {
    staged(spark, "qy5") { wh =>
      operators.Layout.writeMinMaxIndexed(
        t(spark, dir, "orders")
          .select(
            col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority")),
        "o_orderkey", wh.toString, numFiles = 16)
      operators.Layout
        .rangeLookup(spark, wh.toString, "o_orderkey", lit(1000L), lit(1400L))
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
    }
  }

  /** Layout tier — HILBERT-CURVE INDEX ([[operators.Layout.hilbert2]],
    * the codegen'd [[functions.expressions.Hilbert2]] loop): per-row
    * Hilbert distance of (l_partkey, l_suppkey) masked to 16 bits,
    * aggregated per returnflag — the qy1 shape on the locality-preserving
    * curve. The oracle replays the identical xy2d iteration (bit test,
    * d += s²·((3·rx)⊕ry), conditional flip+swap) as a DuckDB RECURSIVE
    * CTE, one recursion step per bit level, so any drift in the rotation
    * arithmetic breaks sum/min/max exactly.
    */
  private def qy6Hilbert(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(
        col("l_returnflag"),
        operators.Layout.hilbert2(col("l_partkey"), col("l_suppkey"), order = 16).as("h"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("h")).as("h_sum"),
        min(col("h")).as("h_min"),
        max(col("h")).as("h_max"))

  /** Layout tier — Hilbert box query end-to-end: lineitem is clustered
    * by the Hilbert index of its 8-bit (x, y) keys
    * ([[operators.Layout.clusterByHilbertKeep]]), and the box filter
    * reaches the rows through [[operators.Layout.hilbertBoxQuery]] —
    * quadtree-decomposed `h BETWEEN` intervals (pushed to parquet
    * min/max stats on the h-sorted files) plus the exact residual. The
    * oracle is the plain 2-D box filter: identical output is the
    * interval decomposition's exactness contract. File-level pruning
    * (and Hilbert-vs-Z candidate-file comparison) is LayoutSpec's job.
    */
  private def qy7HilbertBox(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qy7") { tmpDir =>
      val tmp = tmpDir.toString
      val base = t(spark, dir, "lineitem").select(
        col("l_partkey").bitwiseAND(lit(255)).as("x"),
        col("l_suppkey").bitwiseAND(lit(255)).as("y"),
        col("l_extendedprice"))
      operators.Layout
        .clusterByHilbertKeep(base, Seq(col("x"), col("y")), numFiles = 8, order = 8)
        .write.mode("overwrite").parquet(tmp)
      operators.Layout
        .hilbertBoxQuery(
          spark.read.parquet(tmp), col("x"), col("y"), col("h"),
          32, 79, 100, 131, order = 8)
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }

  /** Layout tier — small-file compaction round trip: a 48-shard parquet
    * directory is compacted ([[operators.Layout.compact]] — `coalesce`,
    * a narrow dependency, so NO shuffle; LayoutSpec asserts the plan and
    * the output file count) and aggregated through the compacted copy.
    * The oracle replays the aggregate over the source table, so any row
    * lost or duplicated by the rewrite breaks count/sum/hash.
    */
  private def qf7Compact(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf7") { tmp =>
      val in = tmp.resolve("in").toString
      val out = tmp.resolve("out").toString
      t(spark, dir, "lineitem")
        .filter(col("l_linenumber") === 1) // deterministic slice; 48 shards still exercise the merge
        .select(col("l_orderkey"), col("l_linestatus"), col("l_extendedprice"), col("l_quantity"))
        .repartition(48)
        .write.mode("overwrite").parquet(in)
      val total = new java.io.File(in).listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      operators.Layout.compact(spark, in, out, targetBytes = math.max(1L, total / 6))
      spark.read.parquet(out)
        .groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
    }

  // ------------------------------------------- file codecs (S1/S2/S3/S9/S10)
  /** The GEOGCS `.prj` the shapefile gates write: lon/lat passes through. */
  private val Wgs84Prj =
    """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""

  /** S1 end-to-end — native shapefile ingest under the oracle gate: a
    * deterministic .shp/.dbf/.prj triple is materialized through
    * [[sources.Shapefile.writePoints]] and scanned back by
    * [[sources.Shapefile.read]] (binaryFile → per-basename sidecar zip →
    * dBase attribute parse → GEOGCS .prj passthrough). All fixture values
    * are binary-exact doubles so DuckDB regenerates them bit-identically
    * from generate_series. Closes the one §2 row family whose correctness
    * previously rested on specs alone (`base-network.sh:98-99` semantics).
    */
  private def qf1ShapefileScan(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf1") { tmp =>
      val n = 40
      val pts = Seq.tabulate(n)(i => (i * 1.5 + 0.25, (i % 7) * 2.0 - 3.5))
      val attrs = Seq.tabulate(n) { i =>
        Map(
          "NAME" -> s"F$i",
          "VAL" -> String.format(java.util.Locale.ROOT, "%6.2f", Double.box((i % 20) * 0.25)))
      }
      sources.Shapefile.writePoints(
        tmp.resolve("pts.shp").toString, pts, attrs, Seq(("NAME", 8), ("VAL", 6)))
      java.nio.file.Files.writeString(tmp.resolve("pts.prj"), Wgs84Prj)
      sources.Shapefile.read(spark, tmp.toString + "/*")
        .select(
          col("record_no"),
          expr("parts[0][0][0]").as("x"),
          expr("parts[0][0][1]").as("y"),
          col("attrs")("NAME").as("name"),
          col("attrs")("VAL").cast("double").as("val"))
    }

  /** S1 through the DATASOURCE V2 path ([[sources.v2.ShapefileDataSource]]):
    * `spark.read.format("graft-shapefile")` over a TWO-file directory —
    * sidecar grouping happens at PLANNING time (one InputPartition per
    * basename, no binaryFile shuffle), .dbf attributes surface as typed
    * top-level columns, and the un-selected EXTRA column is pruned by
    * Catalyst down into the dBase parse (PlanSpec pins the ReadSchema).
    * Same parse kernels as qf1, so the oracle is the same fixture
    * arithmetic, unioned across both files.
    */
  private def qf9ShapefileV2(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf9") { tmp =>
      val lens = Seq(("NAME", 8), ("VAL", 6), ("EXTRA", 6))
      def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%6.2f", Double.box(d))
      sources.Shapefile.writePoints(
        tmp.resolve("a.shp").toString,
        Seq.tabulate(40)(i => (i * 1.5 + 0.25, (i % 7) * 2.0 - 3.5)),
        Seq.tabulate(40)(i =>
          Map("NAME" -> s"F$i", "VAL" -> fmt((i % 20) * 0.25), "EXTRA" -> s"X$i")),
        lens)
      java.nio.file.Files.writeString(tmp.resolve("a.prj"), Wgs84Prj)
      sources.Shapefile.writePoints(
        tmp.resolve("b.shp").toString,
        Seq.tabulate(20)(i => (i * 0.5 + 0.125, (i % 5) * 1.0 - 2.0)),
        Seq.tabulate(20)(i =>
          Map("NAME" -> s"G$i", "VAL" -> fmt((i % 10) * 0.5), "EXTRA" -> s"Y$i")),
        lens)
      java.nio.file.Files.writeString(tmp.resolve("b.prj"), Wgs84Prj)
      spark.read.format("graft-shapefile").load(tmp.toString)
        .select(
          col("record_no"),
          expr("parts[0][0][0]").as("x"),
          expr("parts[0][0][1]").as("y"),
          col("NAME").as("name"),
          col("VAL").cast("double").as("val"))
    }

  /** S2+S3 round-trip — GeoJSON FeatureCollection sink then scan: a
    * synthetic point layer serializes through [[sources.GeoJson.write]]
    * (single-file FeatureCollection egress), re-ingests via
    * [[sources.GeoJson.read]] + `lineCoords` (Jackson executor-side parse,
    * properties as map<string,string>), and lands as scalars. Geometry
    * coordinates and property values use binary-exact doubles, so the
    * JSON text round-trip (shortest-repr format → parse) is lossless and
    * DuckDB replays the layer from generate_series.
    */
  private def qf2GeoJsonRoundtrip(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf2") { tmp =>
      val src = spark
        .range(30)
        .select(
          concat(
            lit("""{"type":"Point","coordinates":["""),
            (col("id") * 0.5).cast("string"),
            lit(","),
            ((col("id") % 5) * 1.0).cast("string"),
            lit("]}")).as("geom"),
          concat(lit("g"), col("id")).as("name"),
          (col("id") * 0.25).as("score"))
      val out = tmp.resolve("layer.geojson").toString
      sources.GeoJson.write(src, "geom", out)
      sources.GeoJson
        .lineCoords(sources.GeoJson.read(spark, out + "/part-*"))
        .select(
          col("geom_type"),
          col("properties")("name").as("name"),
          col("properties")("score").cast("double").as("score"),
          expr("coords[0][0]").as("x"),
          expr("coords[0][1]").as("y"))
    }

  /** S9+S10 round-trip — OSM-XML sink then scan: a synthetic road network
    * (24 nodes, 6 four-node ways with tags) serializes through
    * [[sources.OsmXml.write]] and re-ingests via [[sources.OsmXml.read]]
    * (StAX executor-side parse). Output = way→node incidence joined with
    * node coordinates — gating node parse, way `nd` ordering, tag parse
    * and the join in one pass (`extract-ways.js:56-63` semantics).
    */
  private def qf3OsmRoundtrip(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf3") { tmp =>
      val nodes = Seq.tabulate(24)(i =>
        sources.OsmXml.OsmNode(i + 1L, i * 0.25 + 0.125, 0.25 - (i % 9) * 0.5))
      val ways = Seq.tabulate(6)(j =>
        sources.OsmXml.OsmWay(
          100L + j,
          Seq.tabulate(4)(k => (j * 4 + k) % 24 + 1L),
          Map("highway" -> (if (j % 2 == 0) "primary" else "secondary"), "name" -> s"W$j")))
      val osmPath = tmp.resolve("net.osm").toString
      sources.OsmXml.write(nodes, ways, osmPath)
      val (nodesDf, waysDf) = sources.OsmXml.read(spark, osmPath)
      waysDf
        .select(
          col("way_id"),
          col("tags")("highway").as("highway"),
          posexplode(col("nodes")).as(Seq("pos", "node_id")))
        .join(nodesDf, Seq("node_id"))
        .select(col("way_id"), col("pos"), col("node_id"), col("highway"), col("lon"), col("lat"))
    }

  /** S13 — native Mapbox Vector Tile sink under the oracle gate: the
    * nation dim (driver-small by contract, like the OSM egress) encodes
    * to a real .mvt protobuf through [[sources.VectorTile.encodeTile]],
    * the file re-ingests through [[sources.VectorTile.decodeTile]], and
    * the decoded features land as scalars. Tile coordinates are pure
    * integer functions of the key, so the oracle replays the whole
    * zigzag/varint/command-stream round trip with zero FP. Closes the
    * last §2 row that stayed external (tippecanoe, `indicators.sh:109`);
    * the distributed lon/lat tiler (`writeTiles`) is spec-covered.
    */
  private def qf4VectorTile(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf4") { tmp =>
      import spark.implicits._
      val nations = t(spark, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      val feats = nations.map { case (k, name) =>
        sources.VectorTile.Feature(
          k, 1,
          Seq(Seq((((k * 163) % 4096).toInt, ((k * 311) % 4096).toInt))),
          Map("name" -> name))
      }
      val p = tmp.resolve("0.mvt")
      java.nio.file.Files.write(
        p, sources.VectorTile.encodeTile(Seq(sources.VectorTile.Layer("nations", 4096, feats.toSeq))))
      sources.VectorTile
        .decodeTile(java.nio.file.Files.readAllBytes(p))
        .flatMap(l => l.features.map(f =>
          (f.id, f.geometry.head.head._1, f.geometry.head.head._2, f.attrs("name"))))
        .toDF("id", "px", "py", "name")
    }

  /** S13 line/polygon tier — the MVT geometry command stream beyond
    * points: per nation, one square ring (ClosePath, implied closure) and
    * one TWO-part linestring (cursor persists across parts — the command
    * encoding's only stateful rule) encode → decode; every vertex of
    * every part replays from key arithmetic in SQL. Complements qf4
    * (points) so all three MVT geometry types are oracle-gated.
    */
  private def qf5VectorGeom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = t(spark, dir, "nation")
      .select(col("n_nationkey").cast("long")).as[Long].collect().sorted
    val feats = nations.flatMap { k =>
      val ax = ((k * 163) % 3000).toInt; val ay = ((k * 311) % 3000).toInt
      val w = (100 + (k % 7) * 10).toInt
      val ring = Seq((ax, ay), (ax + w, ay), (ax + w, ay + w), (ax, ay + w))
      val bx = ((k * 77) % 3900).toInt; val by = ((k * 53) % 3900).toInt
      val line1 = Seq((bx, by), (bx + 50, by + 20), (bx + 10, by + 90))
      val line2 = Seq((bx + 5, by + 5), (bx + 60, by + 70))
      Seq(
        sources.VectorTile.Feature(k, 3, Seq(ring), Map("kind" -> "poly")),
        sources.VectorTile.Feature(k + 1000, 2, Seq(line1, line2), Map("kind" -> "line")))
    }
    val bytes = sources.VectorTile.encodeTile(
      Seq(sources.VectorTile.Layer("geom", 4096, feats.toSeq)))
    sources.VectorTile
      .decodeTile(bytes)
      .flatMap(l => l.features.flatMap(f =>
        f.geometry.zipWithIndex.flatMap { case (part, pi) =>
          part.zipWithIndex.map { case ((x, y), vi) =>
            (f.id, f.geomType, pi, vi, x, y, f.attrs("kind"))
          }
        }))
      .toDF("id", "geom_type", "part", "pos", "x", "y", "kind")
  }

  /** Layout tier — Z-ordered BOX QUERY end to end: lineitem keys project
    * to a 8-bit (x, y) plane, cluster to Z-ordered parquet
    * ([[operators.Layout.clusterByZorderKeep]]), and a 2-D box predicate
    * runs as [[operators.Layout.zRangesForBox]] interval pushdown + the
    * exact residual filter (LayoutSpec asserts the intervals reach the
    * scan's PushedFilters). The oracle is the plain box filter — any
    * interval-decomposition bug (a lost quad cell, an off-by-one range
    * bound) loses or duplicates rows and breaks count/sum.
    */
  private def qy3ZBoxQuery(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qy3") { tmpDir =>
      val tmp = tmpDir.toString
      val base = t(spark, dir, "lineitem").select(
        col("l_partkey").bitwiseAND(lit(255)).as("x"),
        col("l_suppkey").bitwiseAND(lit(255)).as("y"),
        col("l_extendedprice"))
      operators.Layout
        .clusterByZorderKeep(base, Seq(col("x"), col("y")), numFiles = 8)
        .write.mode("overwrite").parquet(tmp)
      operators.Layout
        .boxQuery(spark.read.parquet(tmp), col("x"), col("y"), col("z"), 32, 79, 100, 131)
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }

  /** S13 polygons-with-holes — [[sources.VectorTile.writeTiles]]
    * under the oracle gate: per nation, a donut (exterior square + hole)
    * whose TARGET pixels are integers; lon/lat come from the inverse web-
    * mercator, so the sink's forward projection rounds back to exactly
    * those integers (the round trip is within ~1e-9 px, and no target is
    * near a .5 boundary). The z0 clip is the identity (all rings inside
    * the world tile), winding normalization keeps the positively-wound
    * exterior verbatim and reverses the hole cyclically — the oracle
    * replays both vertex streams, hole in reversed order, from pure key
    * arithmetic. Any protobuf/zigzag/winding/clip regression breaks the
    * vertex hash.
    */
  private def qf8PolygonHoles(spark: SparkSession, dir: String): DataFrame =
    staged(spark, "qf8") { tmpDir =>
      val tmp = tmpDir.toString
      import spark.implicits._
      def invLon(gx: Double) = gx / 4096.0 * 360.0 - 180.0
      def invLat(gy: Double) = math.atan(math.sinh(math.Pi * (1.0 - 2.0 * gy / 4096.0))) * 180.0 / math.Pi
      val nations = t(spark, dir, "nation")
        .select(col("n_nationkey").cast("long")).as[Long].collect().sorted
      val rows = nations.toSeq.map { k =>
        val ex = 256.0 + k * 163 % 3000
        val ey = 256.0 + k * 311 % 3000
        val w = 200.0 + k % 5 * 16
        def ring(x0: Double, y0: Double, s: Double) = Seq(
          Seq(invLon(x0), invLat(y0)), Seq(invLon(x0 + s), invLat(y0)),
          Seq(invLon(x0 + s), invLat(y0 + s)), Seq(invLon(x0), invLat(y0 + s)))
        (k, Seq(ring(ex, ey, w), ring(ex + 48, ey + 48, w - 96)), "donut")
      }
      sources.VectorTile.writeTiles(
        rows.toDF("id", "rings", "name"), "id", geomType = 3, "rings", Seq("name"), zoom = 0, dir = tmp)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tmp, "0", "0", "0.mvt"))
      sources.VectorTile
        .decodeTile(bytes)
        .flatMap(l => l.features.flatMap(f =>
          f.geometry.zipWithIndex.flatMap { case (part, pi) =>
            part.zipWithIndex.map { case ((x, y), vi) => (f.id, pi, vi, x, y) }
          }))
        .toDF("id", "ring", "pos", "x", "y")
    }

  // ------------------------------------------------- routing (G6/G7/G8-10)
  /** G6 — many-to-many route matrix via the custom Catalyst operator
    * (RouteMatrixRelation → RouteMatrixExec). DuckDB oracle: hop-bounded
    * Bellman-Ford in a recursive CTE over the same SQL-generated grid —
    * bit-identical costs, because both engines compute the minimal
    * fixpoint of dist(v) = min(dist(u) + w) with identical left-to-right
    * accumulation along the winning path.
    */
  private def qg1RouteMatrix(spark: SparkSession, dir: String): DataFrame = {
    val (g, od) = graph.DemoNetwork.grid(8)
    plans.RouteMatrixPlan.routeMatrix(spark, g, od)
  }

  /** G7 — leave-one-out criticality scores over all grid ways. Doubles
    * rounded to 6 dp: delta sums accumulate in pair order here but in
    * arbitrary order in the set-based oracle (1e-13 divergence).
    */
  private def qg2Criticality(spark: SparkSession, dir: String): DataFrame = {
    val (g, od) = graph.DemoNetwork.grid(8)
    graph.Criticality.scores(spark, g, od)
      .select(
        col("way_id"),
        round(col("score"), 6).as("score"),
        col("unroutablePairs"),
        col("impactedPairs"),
        round(col("avgTimeNonZero"), 6).as("avgTimeNonZero"))
  }

  /** G7 at scale — leave-one-out criticality over a 16×16 grid (480 ways,
    * 481 full OD matrices): the workload class the reference distributed
    * over machines with per-way OSRM rebuilds, here one query.
    */
  private def qg4CriticalityLarge(spark: SparkSession, dir: String): DataFrame = {
    val (g, od) = graph.DemoNetwork.grid(16)
    graph.Criticality.scores(spark, g, od)
      .select(
        col("way_id"),
        round(col("score"), 6).as("score"),
        col("unroutablePairs"),
        col("impactedPairs"),
        round(col("avgTimeNonZero"), 6).as("avgTimeNonZero"))
  }

  /** The reference's own golden fixture (tests/README.md:23-61) as a gate
    * query: route matrix over the reconstructed 10-segment network. The
    * documented A-B cost (3.75 via ways 1-2-3) is asserted in RoutingSpec;
    * here the whole matrix is DuckDB-validated (Bellman-Ford over the
    * same VALUES edge list, identical ruc·len/1000 cost arithmetic).
    */
  private def qg5GoldenRoutes(spark: SparkSession, dir: String): DataFrame =
    plans.RouteMatrixPlan.routeMatrix(spark, graph.GoldenNetwork.graph, graph.GoldenNetwork.odNodes)

  /** Golden-fixture EAUL sweep: unlike qg3's grid, the golden floods give
    * DIFFERENT impassable sets per return period (ways 2,3 at RP500;
    * 2,3,5 at RP1000) AND disconnect OD pairs (A-C, B-C) — so this gate
    * exercises the global unroutable-pair exclusion and per-period repair
    * times through the SQL oracle, which qg3 structurally cannot.
    */
  private def qg6GoldenEaul(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graph.Eaul.sweep(
      spark, graph.GoldenNetwork.graph, graph.GoldenNetwork.floodStats,
      graph.GoldenNetwork.odNodes, graph.GoldenNetwork.yearlyTraffic,
      graph.GoldenNetwork.noTraffic)
      .toDF()
      .select(col("way_id"), col("upgrade"), round(col("eaul"), 6).as("eaul"))
  }

  /** G8–G10 — EAUL upgrade sweep: (way × upgrade) fan-out with flood
    * scenarios and the trapezoid over return periods. DuckDB-oracled: the
    * demo flood stats only sever ways at RP 500/1000 (identical impassable
    * sets), so each scenario routes exactly two matrices (upgrade
    * baseline + flooded), the RP≤250 trapezoid terms are
    * literal zeros, and the whole chain — impassability, repair-time max,
    * user-cost sum, trapezoid, neglect threshold — replays in SQL. Rounded
    * to 6 dp (pair sums accumulate in different orders across engines).
    */
  private def qg3Eaul(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (g, od) = graph.DemoNetwork.grid(6)
    graph.Eaul.sweep(
      spark, g, graph.DemoNetwork.floodStats(g), od,
      graph.DemoNetwork.yearlyTraffic(od.length), Set.empty)
      .toDF()
      .select(col("way_id"), col("upgrade"), round(col("eaul"), 6).as("eaul"))
  }

  /** S6+F3+F4+F5 — the bridge-prep projection ([[operators.BridgePrep]],
    * reference `scripts/prep-bridge/prep-bridge.js:48-64` +
    * `preparation.sh:113` csv2geojson): road-id regex from Link_ID,
    * CULV→culvert recode, comma-stripped length with the 7 m default, and
    * GPS columns → point geometry. Fixture synthesizes the messy CSV
    * shapes (zero-padded link ids, thousands commas, zero lengths) from
    * supplier keys; geometry surfaces as scalars (x, y) for the compare.
    */
  private def qb1BridgePrep(spark: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey")
    val bridges = t(spark, dir, "supplier").select(
      concat(lit("B"), k).as("Str_ID"),
      concat(
        element_at(array(lit("N"), lit("R"), lit("M")), (k % 3 + 1).cast("int")),
        lpad((k % 800 + 1).cast("string"), 6, "0")).as("Link_ID"),
      when(k % 4 === 0, "CULV").otherwise(concat(lit("T"), k % 3)).as("Des_Type"),
      when(k % 5 === 0, lit("0"))
        .when(k % 5 === 1, lit("1,234"))
        .when(k % 5 === 2, lit("56.5"))
        .otherwise(k.cast("string")).as("Over_Length"),
      ((k % 360).cast("double") * 0.1).as("GPS_E"),
      // subtraction, not negation: -(0·0.1) is IEEE −0.0, which the
      // engines stringify differently ("-0.0" vs "0.0")
      ((k % 170).cast("double") * 0.1 - 8.5).as("GPS_S"))
    operators.BridgePrep.prepare(bridges).select(
      col("bridge_id"), col("road_id"), col("type"),
      round(col("length"), 6).as("length"),
      col("geometry").getItem(0).as("x"),
      col("geometry").getItem(1).as("y"))
  }

  /** J10 — reverse-pair merge ([[operators.Relational.mergeReversePairs]]):
    * keep (o, d) rows with o < d and attach the (d, o) row's value as
    * `reverse_val`. One shuffle on the pair key; oracle is the literal
    * self-join replay.
    */
  private def qj10ReversePairs(spark: SparkSession, dir: String): DataFrame = {
    val n = col("n_nationkey")
    val pairs = t(spark, dir, "nation")
      .select(
        (n % 4).as("o"),
        ((n * 3 + 1) % 4).as("d"),
        n.cast("double").as("val"))
      .filter(col("o") =!= col("d"))
    operators.Relational.mergeReversePairs(pairs, "o", "d", "val")
  }

  /** G4 — scenario overrides ([[graph.ScenarioWeights.applyOverrides]]):
    * last-written profile wins per way (the reference's append-mode
    * profile semantics, `utils.js:196-220`), speed 0 ⇒ way removed
    * (+∞ weight), otherwise weight = base / speed, non-overridden ways
    * pass through. Overrides feed as a single sorted partition so the
    * monotonic-id "last row" is the max nation key — which the oracle
    * replays as max_by.
    */
  /** Weighted PageRank over the trade network ([[graph.PageRank]]):
    * nations are nodes, customer-nation → supplier-nation order flow
    * the weighted edges, 5 damped iterations with dangling-mass
    * redistribution. The oracle unrolls the EXACT recurrence as five
    * chained CTEs — transition probabilities are ratios of integer
    * counts (bit-identical in both engines), so any drift in the
    * iteration algebra, the dangling term, or the damping constant
    * shows up against round(rank, 6). The lineage-truncation /
    * persist-per-iteration scale contract is PageRankSpec's job.
    */
  private def qg9PageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = nationGraph(spark, dir, count(lit(1)))
    graph.PageRank.run(edges, "src", "dst", "w", iterations = 5)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** STRENGTH-weighted PageRank ([[graph.PageRank]]) — qg9's trade
    * graph with edge weight = Σ l_quantity (total units shipped, the
    * tie STRENGTH) instead of order count: the weighted path the
    * flagship road graph (RUC·length ties) actually runs. Quantities
    * are integer-valued doubles, so the per-edge sums and the outflow
    * normalizer are exact and the transition ratios replay
    * bit-identically; the oracle unrolls the same 5 damped rounds with
    * the dangling term.
    */
  private def qg26WeightedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = nationGraph(spark, dir, sum(col("l_quantity")))
    graph.PageRank.run(edges, "src", "dst", "w", iterations = 5)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Personalized PageRank ([[graph.PageRank]] with
    * `personalizedTo = 0`): random-walk-with-restart relevance FROM
    * nation 0 over the qg9 trade graph — the recommendation /
    * seed-expansion complement of qg9's global rank.
    */
  private def qg15Ppr(spark: SparkSession, dir: String): DataFrame = {
    val edges = nationGraph(spark, dir, count(lit(1)))
    graph.PageRank.run(edges, "src", "dst", "w", iterations = 5,
        personalizedTo = Some(0L))
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** HITS hubs/authorities ([[graph.Hits]], 4 fixed iterations) on the
    * qg9 nation trade graph: customer-nations as buyers (hubs),
    * supplier-nations as sellers (authorities) — the two directed
    * centrality roles PageRank's single score conflates.
    */
  private def qg14Hits(spark: SparkSession, dir: String): DataFrame = {
    val edges = nationGraph(spark, dir, count(lit(1)))
    graph.Hits.run(edges, "src", "dst", "w", iterations = 4)
      .select(col("node"), round(col("hub"), 6).as("hub"),
        round(col("authority"), 6).as("authority"))
  }

  private def qg8ScenarioOverrides(spark: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey")
    val edges = t(spark, dir, "supplier").select(
      concat(lit("w"), k % 10).as("way_id"),
      (k % 100).as("src"),
      ((k * 7 + 1) % 100).as("dst"),
      ((k % 13).cast("double") * 0.5 + 1.0).as("weight"))
    val n = col("n_nationkey")
    val overrides = t(spark, dir, "nation")
      .select(
        concat(lit("w"), n % 7).as("way_id"),
        when(n % 3 === 0, 0.0).otherwise((n % 5).cast("double") * 0.5 + 0.5).as("speed"),
        n.as("__ord"))
      .repartition(1)
      .sortWithinPartitions("__ord")
      .drop("__ord")
    graph.ScenarioWeights.applyOverrides(edges, overrides)
      .select(col("way_id"), col("src"), col("dst"), round(col("weight"), 6).as("weight"))
  }

  /** G1 — the reference's central ingestion transform, gated end-to-end
    * through the DataFrame build path ([[graph.RoadGraph.buildTables]]):
    * features with coordinate arrays → explode → round(coord·10⁷) vertex
    * dedup → dense node ids → consecutive-pair edges with haversine
    * lengths (`libs/ogr2osm/ogr2osm.py:549-628`,
    * `scripts/utils/extract-ways.js:56-63`). Ways synthesize
    * deterministically from supplier keys onto a shared 0.25° lattice so
    * consecutive ways genuinely share vertices — the rounded-coordinate
    * dedup is the thing under test (3·|supplier| points collapse to ≤40
    * nodes); the oracle replays the same rounding + dense-rank in SQL.
    */
  private def qg7GraphBuild(spark: SparkSession, dir: String): DataFrame = {
    val pts = (0 to 2).map { d =>
      val j = (col("way_id") + lit(d)) % 40
      array(
        (j % 8).cast("double") * 0.25 - 1.0,
        floor(j / lit(8.0)).cast("double") * 0.25 - 0.5)
    }
    val features = t(spark, dir, "supplier")
      .select(col("s_suppkey").as("way_id"))
      .withColumn("name", concat(lit("W"), col("way_id")))
      .withColumn("ruc", (col("way_id") % 5).cast("double") / 2.0 + 1.0)
      .withColumn("coords", array(pts: _*))
    val (_, edges) = graph.RoadGraph.buildTables(features)
    edges.select(
      col("way_id"), col("name"), col("ruc"),
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
      round(col("len_km"), 4).as("len_km"))
  }

  /** Vector aggregation — per-label mean embedding (posexplode → grouped
    * avg per dimension), the centroid builder IVF/k-means rests on.
    */
  private def qs2LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "elem")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("elem")), 6).as("centroid_val"))

  // ------------------------------------------------------------ registry
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q2_filter_project" -> (q2FilterProject _),
    "q3_join_agg" -> (q3JoinAgg _),
    "q4_left_join" -> (q4LeftJoin _),
    "q5_anti_join" -> (q5AntiJoin _),
    "q6_self_join_pairs" -> (q6SelfJoinPairs _),
    "q7_top_per_group" -> (q7TopPerGroup _),
    "q8_percentile" -> (q8Percentile _),
    "q9_recode" -> (q9Recode _),
    "q10_unpivot" -> (q10Unpivot _),
    "q11_weighted_avg" -> (q11WeightedAvg _),
    "q12_trapezoid" -> (q12Trapezoid _),
    "q13_scale_score" -> (q13ScaleScore _),
    "q14_bucket" -> (q14Bucket _),
    "q15_regex" -> (q15Regex _),
    "q16_haversine" -> (q16Haversine _),
    "q17_time_window" -> (q17TimeWindow _),
    "q18_shipping_priority" -> (q18ShippingPriority _),
    "q20_sliding_window" -> (q20SlidingWindow _),
    "q19_local_volume" -> (q19LocalVolume _),
    "q21_rollup" -> (q21Rollup _),
    "q22_pivot" -> (q22Pivot _),
    "q23_set_ops" -> (q23SetOps _),
    "q24_moving_avg" -> (q24MovingAvg _),
    "qd1_exact_dedup" -> (qd1ExactDedup _),
    "qd2_minhash_dedup" -> (qd2MinHashDedup _),
    "qd3_simhash_dedup" -> (qd3SimHashDedup _),
    "qd4_ngram_jaccard" -> (qd4NgramJaccard _),
    "qd5_embed_dedup" -> (qd5EmbedDedup _),
    "qd14_semdedup" -> (qd14SemDedup _),
    "qd15_incr_semdedup" -> (qd15IncrementalSemDedup _),
    "qt1_token_count" -> (qt1TokenCount _),
    "qt2_langid" -> (qt2LangId _),
    "qt3_quality" -> (qt3Quality _),
    "qt4_redact" -> (qt4Redact _),
    "qt5_repetition" -> (qt5Repetition _),
    "qt6_subword" -> (qt6Subword _),
    "qt7_tfidf" -> (qt7Tfidf _),
    "qt8_bigrams" -> (qt8Bigrams _),
    "qt9_sample" -> (qt9Sample _),
    "qt10_packing" -> (qt10Packing _),
    "qd7_word_jaccard" -> (qd7WordJaccard _),
    "qd16_prefix_join" -> (qd16PrefixJoin _),
    "qd6_cluster_dedup" -> (qd6ClusterDedup _),
    "qs1_cosine_topk" -> (qs1CosineTopK _),
    "qs8_sq_topk" -> (qs8SqTopK _),
    "qs9_radius" -> (qs9Radius _),
    "qs10_filtered_ann" -> (qs10FilteredAnn _),
    "qt33_rrf" -> (qt33Rrf _),
    "qs3_dot_topk" -> (qs3DotTopK _),
    "qs2_label_centroids" -> (qs2LabelCentroids _),
    "qe1_sessionize" -> (qe1Sessionize _),
    "qe2_asof" -> (qe2AsofJoin _),
    "qe3_session_window" -> (qe3SessionWindow _),
    "qe6_stream_sessions" -> (qe6StreamSessions _),
    "qe7_stream_join" -> (qe7StreamJoin _),
    "qe13_stream_left_join" -> (qe13StreamLeftJoin _),
    "qe17_stream_full_join" -> (qe17StreamFullJoin _),
    "qe18_stream_dedup_join" -> (qe18StreamDedupJoin _),
    "qe8_stream_window" -> (qe8StreamWindow _),
    "qe9_stream_dedup" -> (qe9StreamDedup _),
    "qr1_range_join" -> (qr1RangeJoin _),
    "qv1_ead" -> (qv1Ead _),
    "qp1_pipeline" -> (qp1Pipeline _),
    "qa2_dissolve" -> (qa2Dissolve _),
    "qa3_dissolve_exact" -> (qa3DissolveExact _),
    "qz1_zonal" -> (qz1Zonal _),
    "qz2_raster_zonal" -> (qz2RasterZonal _),
    "qz3_raster_deflate" -> (qz3RasterDeflate _),
    "qz4_raster_parallel" -> (qz4RasterParallel _),
    "qz5_raster_jpeg" -> (qz5RasterJpeg _),
    "qz6_raster_bands" -> (qz6RasterBands _),
    "qz7_raster_bands_parallel" -> (qz7RasterBandsParallel _),
    "qf1_shapefile" -> (qf1ShapefileScan _),
    "qf2_geojson" -> (qf2GeoJsonRoundtrip _),
    "qf3_osmxml" -> (qf3OsmRoundtrip _),
    "qf4_vector_tile" -> (qf4VectorTile _),
    "qf5_vector_geom" -> (qf5VectorGeom _),
    "qf6_orc_roundtrip" -> (qf6OrcRoundtrip _),
    "qf10_avro_roundtrip" -> (qf10AvroRoundtrip _),
    "qf11_txlog" -> (qf11Txlog _),
    "qf12_txlog_optimize" -> (qf12TxlogOptimize _),
    "qf13_txlog_merge" -> (qf13TxlogMerge _),
    "qf14_txlog_cdf" -> (qf14TxlogCdf _),
    "qf15_txlog_partition" -> (qf15TxlogPartition _),
    "qf16_txlog_delete" -> (qf16TxlogDelete _),
    "qy10_incr_index" -> (qy10IncrIndex _),
    "qy11_txlog_combined" -> (qy11TxlogCombined _),
    "qf17_txlog_restore" -> (qf17TxlogRestore _),
    "qy9_txlog_checkpoint" -> (qy9TxlogCheckpoint _),
    "qf7_compact" -> (qf7Compact _),
    "qf8_polygon_holes" -> (qf8PolygonHoles _),
    "qf9_shapefile_v2" -> (qf9ShapefileV2 _),
    "qy1_zorder" -> (qy1Zorder _),
    "qy2_bucket_join" -> (qy2BucketJoin _),
    "qy3_zbox" -> (qy3ZBoxQuery _),
    "qy4_bloom_lookup" -> (qy4BloomLookup _),
    "qj4_ci_join" -> (qj4CiJoin _),
    "qj5_collect_join" -> (qj5CollectJoin _),
    "qm1_media_meta" -> (qm1MediaMeta _),
    "qm2_media_features" -> (qm2MediaFeatures _),
    "qm4_jpeg_pixels" -> (qm4JpegPixels _),
    "qm5_png_pixels" -> (qm5PngPixels _),
    "qm6_wav_audio" -> (qm6WavAudio _),
    "qm7_resize" -> (qm7Resize _),
    "qm8_gif_pixels" -> (qm8GifPixels _),
    "qm9_bmp_pixels" -> (qm9BmpPixels _),
    "qm10_mjpeg_frames" -> (qm10MjpegFrames _),
    "qm11_g711_audio" -> (qm11G711Audio _),
    "qm12_flac_audio" -> (qm12FlacAudio _),
    "qm13_flac_stereo_lpc" -> (qm13FlacStereoLpc _),
    "qm14_perceptual_hash" -> (qm14PerceptualHash _),
    "qm17_image_dedup" -> (qm17ImageDedup _),
    "qm18_audio_dedup" -> (qm18AudioDedup _),
    "qm19_video_dedup" -> (qm19VideoDedup _),
    "qm20_video_trim_dedup" -> (qm20VideoTrimDedup _),
    "qm21_audio_trim_dedup" -> (qm21AudioTrimDedup _),
    "qm22_incr_image_dedup" -> (qm22IncrImageDedup _),
    "qsp1_overlay" -> (qsp1Overlay _),
    "qsp2_nearest" -> (qsp2Nearest _),
    "qg1_route_matrix" -> (qg1RouteMatrix _),
    "qg2_criticality" -> (qg2Criticality _),
    "qg3_eaul" -> (qg3Eaul _),
    "qg4_criticality_large" -> (qg4CriticalityLarge _),
    "qg5_golden_routes" -> (qg5GoldenRoutes _),
    "qg6_golden_eaul" -> (qg6GoldenEaul _),
    "qg7_graph_build" -> (qg7GraphBuild _),
    "qg8_scenario_overrides" -> (qg8ScenarioOverrides _),
    "qg9_pagerank" -> (qg9PageRank _),
    "qg10_triangles" -> (qg10Triangles _),
    "qg11_kcore" -> (qg11KCore _),
    "qg12_label_prop" -> (qg12LabelProp _),
    "qg13_ktruss" -> (qg13KTruss _),
    "qg14_hits" -> (qg14Hits _),
    "qg15_ppr" -> (qg15Ppr _),
    "qe15_ewma" -> (qe15Ewma _),
    "qe16_ohlc" -> (qe16Ohlc _),
    "qp4_drift" -> (qp4Drift _),
    "qk1_kmv_distinct" -> (qk1KmvDistinct _),
    "qk2_countmin" -> (qk2CountMin _),
    "qk3_kmv_setops" -> (qk3KmvSetOps _),
    "qk4_hll_distinct" -> (qk4HllDistinct _),
    "qk5_hll_setops" -> (qk5HllSetOps _),
    "qe19_funnel" -> (qe19Funnel _),
    "qe20_cohort" -> (qe20Cohort _),
    "qe21_transitions" -> (qe21Transitions _),
    "qe22_zscore" -> (qe22Zscore _),
    "qe23_twap" -> (qe23Twap _),
    "qe24_stream_hll" -> (qe24StreamHll _),
    "qe51_stream_quantile" -> (qe51StreamQuantile _),
    "qe52_stream_topk" -> (qe52StreamTopk _),
    "qe53_dtw" -> (qe53Dtw _),
    "qe25_gapfill" -> (qe25GapFill _),
    "qt35_domain_mix" -> (qt35DomainMix _),
    "qe26_holt" -> (qe26Holt _),
    "qe29_holt_winters" -> (qe29HoltWinters _),
    "qe30_cusum" -> (qe30Cusum _),
    "qr2_interval_coverage" -> (qr2IntervalCoverage _),
    "qr4_peak_concurrency" -> (qr4PeakConcurrency _),
    "qe31_mann_kendall" -> (qe31MannKendall _),
    "qj15_scd2" -> (qj15Scd2 _),
    "qp5_benford" -> (qp5Benford _),
    "qr3_overlap_join" -> (qr3OverlapJoin _),
    "qp6_abtest" -> (qp6AbTest _),
    "qe32_acf" -> (qe32Acf _),
    "qp7_corr_matrix" -> (qp7CorrMatrix _),
    "qe33_decompose" -> (qe33Decompose _),
    "qj16_pit_join" -> (qj16PitJoin _),
    "qg16_msg_pass" -> (qg16MsgPass _),
    "qs12_mmr" -> (qs12Mmr _),
    "qe34_kaplan_meier" -> (qe34KaplanMeier _),
    "qp8_calibration" -> (qp8Calibration _),
    "qe35_logrank" -> (qe35LogRank _),
    "qe36_changepoint" -> (qe36Changepoint _),
    "qs13_ndcg" -> (qs13Ndcg _),
    "qp9_chi_square" -> (qp9ChiSquare _),
    "qt37_good_turing" -> (qt37GoodTuring _),
    "qp10_ks_test" -> (qp10KsTest _),
    "qe37_mann_whitney" -> (qe37MannWhitney _),
    "qp11_anova" -> (qp11Anova _),
    "qp12_mutual_info" -> (qp12MutualInfo _),
    "qp13_gini" -> (qp13Gini _),
    "qe38_theil_sen" -> (qe38TheilSen _),
    "qe39_robust_z" -> (qe39RobustZ _),
    "qe40_ols" -> (qe40Ols _),
    "qe41_spearman" -> (qe41Spearman _),
    "qe42_rfm" -> (qe42Rfm _),
    "qe43_bollinger" -> (qe43Bollinger _),
    "qe44_autocorr" -> (qe44Autocorr _),
    "qe45_winsorize" -> (qe45Winsorize _),
    "qp14_jsd" -> (qp14Jsd _),
    "qt41_zipf" -> (qt41Zipf _),
    "qg18_bfs" -> (qg18Bfs _),
    "qg21_betweenness" -> (qg21Betweenness _),
    "qg22_centrality" -> (qg22Centrality _),
    "qg23_hyperball" -> (qg23HyperBall _),
    "qg24_eff_diameter" -> (qg24EffDiameter _),
    "qg25_eigenvector" -> (qg25Eigenvector _),
    "qg26_weighted_pagerank" -> (qg26WeightedPagerank _),
    "qg27_weighted_eigenvector" -> (qg27WeightedEigenvector _),
    "qg28_scc" -> (qg28Scc _),
    "qg29_dag_layer" -> (qg29DagLayer _),
    "qg30_sssp" -> (qg30Sssp _),
    "qg31_critical_path" -> (qg31CriticalPath _),
    "qg32_weighted_centrality" -> (qg32WeightedCentrality _),
    "qg33_weighted_ecc" -> (qg33WeightedEcc _),
    "qg34_weighted_betweenness" -> (qg34WeightedBetweenness _),
    "qg35_link_pred" -> (qg35LinkPred _),
    "qg36_assortativity" -> (qg36Assortativity _),
    "qg37_modularity" -> (qg37Modularity _),
    "qg38_random_walks" -> (qg38RandomWalks _),
    "qg39_nbr_jaccard" -> (qg39NeighborhoodJaccard _),
    "qp18_cuped" -> (qp18Cuped _),
    "qp19_srm" -> (qp19Srm _),
    "qt52_readability" -> (qt52Readability _),
    "qs18_ann_recall" -> (qs18AnnRecall _),
    "qs19_ann_multiprobe" -> (qs19AnnMultiprobe _),
    "qs20_ivf_multiprobe" -> (qs20IvfMultiprobe _),
    "qs21_mp_knn_join" -> (qs21MpKnnJoin _),
    "qs17_hard_negatives" -> (qs17HardNegatives _),
    "qd21_source_overlap" -> (qd21SourceOverlap _),
    "qd22_leakage_split" -> (qd22LeakageSplit _),
    "qd23_weighted_jaccard" -> (qd23WeightedJaccard _),
    "qd24_winnow_neardup" -> (qd24WinnowNearDup _),
    "qd25_incr_winnow" -> (qd25IncrWinnow _),
    "qt49_unigram_kl" -> (qt49UnigramKl _),
    "qd19_edit_join" -> (qd19EditJoin _),
    "qd20_keep_best" -> (qd20KeepBest _),
    "qt40_textrank" -> (qt40TextRank _),
    "qe46_smape" -> (qe46Smape _),
    "qm16_otsu" -> (qm16Otsu _),
    "qg19_components" -> (qg19Components _),
    "qp16_quality" -> (qp16Quality _),
    "qp17_embedding_drift" -> (qp17EmbeddingDrift _),
    "qe47_robust_summary" -> (qe47RobustSummary _),
    "qe48_peaks" -> (qe48Peaks _),
    "qe50_burstiness" -> (qe50Burstiness _),
    "qg20_degree_hist" -> (qg20DegreeHist _),
    "qt43_lex_diversity" -> (qt43LexDiversity _),
    "qt44_packing" -> (qt44Packing _),
    "qt45_weighted_sample" -> (qt45WeightedSample _),
    "qt46_repetition" -> (qt46Repetition _),
    "qt47_sample_per_key" -> (qt47SamplePerKey _),
    "qt50_sample_with_replacement" -> (qt50SampleWithReplacement _),
    "qt51_winnowing" -> (qt51Winnowing _),
    "qt48_novelty" -> (qt48Novelty _),
    "qs15_ivfpq" -> (qs15IvfPq _),
    "qs16_dbscan" -> (qs16Dbscan _),
    "qz8_focal" -> (qz8Focal _),
    "qt39_backoff_lm" -> (qt39BackoffLm _),
    "qg17_clustering_coef" -> (qg17ClusteringCoef _),
    "qm15_audio_resample" -> (qm15AudioResample _),
    "qt38_assoc_pairs" -> (qt38AssocPairs _),
    "qj17_attribution" -> (qj17Attribution _),
    "qs14_mutual_knn" -> (qs14MutualKnn _),
    "qt36_pmi" -> (qt36Pmi _),
    "qd17_containment" -> (qd17Containment _),
    "qe27_stream_cms" -> (qe27StreamCms _),
    "qe28_lttb" -> (qe28Lttb _),
    "qd18_contain_est" -> (qd18ContainEstimate _),
    "qk6_hist_quantile" -> (qk6HistQuantile _),
    "qk7_quantile_sketch" -> (qk7QuantileSketch _),
    "qk8_ams_f2" -> (qk8AmsF2 _),
    "qe54_xcorr" -> (qe54Xcorr _),
    "qe55_asof_forward" -> (qe55AsofForward _),
    "qs22_mrl_rerank" -> (qs22MrlRerank _),
    "qs11_random_projection" -> (qs11RandomProjection _),
    "qt34_edit_distance" -> (qt34EditDistance _),
    "qb1_bridge_prep" -> (qb1BridgePrep _),
    "qj10_reverse_pairs" -> (qj10ReversePairs _),
    "qj13_salted_join" -> (qj13SaltedJoin _),
    "qj14_bloom_join" -> (qj14BloomJoin _),
    "qd8_decontaminate" -> (qd8Decontaminate _),
    "qd11_substring_dedup" -> (qd11SubstringDedup _),
    "qt12_lm_score" -> (qt12LmScore _),
    "qt23_ppl_filter" -> (qt23PplFilter _),
    "qt24_html_extract" -> (qt24HtmlExtract _),
    "qt25_paragraph_dedup" -> (qt25ParagraphDedup _),
    "qt26_entropy" -> (qt26Entropy _),
    "qt27_mixture" -> (qt27Mixture _),
    "qt28_chunk" -> (qt28Chunk _),
    "qt29_split" -> (qt29Split _),
    "qt30_inverted_index" -> (qt30InvertedIndex _),
    "qt31_strat_sample" -> (qt31StratSample _),
    "qt32_pps_sample" -> (qt32PpsSample _),
    "qy5_minmax_prune" -> (qy5MinMaxPrune _),
    "qy6_hilbert" -> (qy6Hilbert _),
    "qy8_txlog_prune" -> (qy8TxlogPrune _),
    "qy7_hilbert_box" -> (qy7HilbertBox _),
    "q27_range_frame" -> (q27RangeFrame _),
    "q28_group_percentile" -> (q28GroupPercentile _),
    "qd9_minhash_estimate" -> (qd9MinhashEstimate _),
    "qm3_frame_sample" -> (qm3FrameSample _),
    "qe4_interval_join" -> (qe4IntervalJoin _),
    "qe5_json_props" -> (qe5JsonProps _),
    "qs4_ivf" -> (qs4IvfTopK _),
    "qs5_knn_join" -> (qs5KnnJoin _),
    "qs7_pq_adc" -> (qs7PqAdc _),
    "qs6_kmeans" -> (qs6Kmeans _),
    "qt11_wordpiece" -> (qt11Wordpiece _),
    "qt13_bpe_train" -> (qt13BpeTrain _),
    "qt21_bpe_encode" -> (qt21BpeEncode _),
    "qt22_shuffle_shard" -> (qt22ShuffleShard _),
    "qe10_stream_enrich" -> (qe10StreamEnrich _),
    "qe11_batch_sink" -> (qe11BatchSink _),
    "qe12_stream_txlog" -> (qe12StreamTxlog _),
    "qt14_heavy_hitters" -> (qt14HeavyHitters _),
    "qt15_bm25" -> (qt15Bm25 _),
    "qt16_stratified" -> (qt16Stratified _),
    "qt17_url_canon" -> (qt17UrlCanon _),
    "qd10_dup_report" -> (qd10DupReport _),
    "qt18_len_hist" -> (qt18LenHist _),
    "qt19_repetition" -> (qt19Repetition _),
    "qt20_quality_rules" -> (qt20QualityRules _),
    "q25_cube" -> (q25Cube _),
    "q26_bloom_semi" -> (q26BloomSemi _),
    "qp2_profile" -> (qp2Profile _),
    "qd12_incremental_dedup" -> (qd12IncrementalDedup _),
    "qd13_incremental_neardup" -> (qd13IncrementalNearDup _),
    "qp3_skew" -> (qp3Skew _)
  )

  /** Shared qt12/qt23 oracle CTEs: bigram-LM training on even docs,
    * add-1-smoothed average log-prob scoring of odd docs → `scored`
    * (doc_id, lm_score rounded 6dp, n_bigrams).
    */
  private lazy val lmScoreOracleCtes: String =
    """tr AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 2 = 0),
      |ev AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 2 = 1),
      |tb AS (
      |  SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c12
      |  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM tr)
      |  GROUP BY 1, 2),
      |tu AS (SELECT w1, sum(c12) AS c1 FROM tb GROUP BY w1),
      |v AS (SELECT count(DISTINCT w)::DOUBLE AS vv
      |      FROM (SELECT unnest(tk) AS w FROM tr)),
      |eb AS (
      |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM ev)),
      |scored AS MATERIALIZED (
      |  SELECT e.doc_id,
      |    round(avg(ln((coalesce(tb.c12, 0) + 1.0) / (coalesce(tu.c1, 0) + v.vv))), 6)
      |      AS lm_score,
      |    count(*) AS n_bigrams
      |  FROM eb e
      |  LEFT JOIN tb USING (w1, w2)
      |  LEFT JOIN tu USING (w1)
      |  CROSS JOIN v
      |  GROUP BY e.doc_id)""".stripMargin

  /** Shared oracle CTE prefix for the MinHash family (qd2/qd4/qd6):
    * 3-word shingles → engine FNV-1a hash emulated in HUGEINT wrap
    * arithmetic → floorMod to 2^31-1 → the 16 seeded permutations (exact
    * coefficients from `Dedup.minHashCoefs`) → per-(doc, k) signature
    * minima. MATERIALIZED so multi-consumer plans don't re-run the hash
    * recursion per reference.
    */
  // Shared winnowing pipeline (qt51 + qd24 + qd25): tokenize → 4-gram →
  // 56-bit md5 prefix hash → 8-window minima → per-doc distinct list.
  // `suffix` names the CTE family, `where` restricts the doc subset
  // (qd25 builds a corpus and a batch family side by side).
  private def winnowingCtesFor(suffix: String, where: String): String =
    s"""toks$suffix AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND ($where)),
       |grams$suffix AS (
       |  SELECT doc_id, list_transform(range(1, greatest(len(tk) - 3, 1) + 1),
       |      i -> array_to_string(tk[i:i+3], ' ')) AS gs
       |  FROM toks$suffix),
       |hashes$suffix AS (
       |  SELECT doc_id, list_transform(gs,
       |      g -> CAST('0x' || substr(md5(g), 1, 14) AS BIGINT)) AS hs
       |  FROM grams$suffix),
       |wins$suffix AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |      range(1, greatest(len(hs) - 7, 1) + 1),
       |      i -> list_aggregate(hs[i:i+7], 'min'))) AS fps
       |  FROM hashes$suffix)""".stripMargin

  private lazy val winnowingOracleCtes: String = winnowingCtesFor("", "TRUE")

  private lazy val minhashOracleCtes: String = {
    val coefValues = Dedup.minHashCoefs(16, 42L).zipWithIndex
      .map { case ((a, b), k) => s"($k,$a,$b)" }
      .mkString(",")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents
       |), sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
       |           ELSE tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] END AS sh
       |    FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i FROM toks))
       |), strs(s, ln) AS (
       |  SELECT DISTINCT sh, length(sh) FROM sh
       |), $fnvCte
       |), hx AS (
       |  -- engine finalizer replay: h ^ (h >>> 32) == xor(signed(u), u // 2^32)
       |  SELECT s, CAST(((hf % 2147483647) + 2147483647) % 2147483647 AS BIGINT) AS x
       |  FROM (
       |    SELECT s,
       |      xor(CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
       |               THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END AS BIGINT),
       |          CAST(u // 4294967296 AS BIGINT)) AS hf
       |    FROM f WHERE i = ln
       |  )
       |), coef(k, a, b) AS (
       |  SELECT * FROM (VALUES $coefValues)
       |), sig AS MATERIALIZED (
       |  SELECT sh.doc_id, coef.k, min((coef.a * hx.x + coef.b) % 2147483647) AS v
       |  FROM sh JOIN hx ON hx.s = sh.sh CROSS JOIN coef
       |  GROUP BY sh.doc_id, coef.k
       |)""".stripMargin
  }

  /** Leave-one-out criticality oracle over `DemoNetwork.grid(n)`: grid
    * rebuild (same ruc formula and append-order way indexing), hop-bounded
    * Bellman-Ford with per-scenario way removal, then the reference's
    * scoring formula (criticality.js:93-110). One generated body serves
    * qg2 (n=8) and qg4 (n=16).
    */
  private def criticalityOracleSql(n: Int, hopBound: Int): String = {
    val odValues = Seq((0, 0), (1, n - 1), (2, (n - 1) * n), (3, n * n - 1), (4, (n / 2) * n + n / 2))
      .map { case (i, node) => s"($i,$node)" }
      .mkString(",")
    s"""WITH RECURSIVE wayedges AS (
       |  SELECT row_number() OVER (ORDER BY i, j, kind) - 1 AS way, src, dst, w
       |  FROM (
       |    SELECT i, j, 0 AS kind, i*$n+j AS src, i*$n+j+1 AS dst,
       |           (0.5 + ((i*31 + j*17) % 100)/100.0) * 0.99888 AS w
       |    FROM generate_series(0,${n - 1}) s(i), generate_series(0,${n - 2}) t(j)
       |    UNION ALL
       |    SELECT i, j, 1, i*$n+j, (i+1)*$n+j,
       |           (0.5 + ((j*31 + i*17) % 100)/100.0) * 0.99888
       |    FROM generate_series(0,${n - 2}) s(i), generate_series(0,${n - 1}) t(j)
       |  ) raw(i, j, kind, src, dst, w)
       |),
       |edges AS (
       |  SELECT way, src, dst, w FROM wayedges
       |  UNION ALL
       |  SELECT way, dst, src, w FROM wayedges
       |),
       |od(idx, node) AS (SELECT * FROM (VALUES $odValues)),
       |scen(sw) AS (SELECT -1 UNION ALL SELECT DISTINCT way FROM wayedges),
       |r(sw, it, s, node, cost) AS (
       |    SELECT scen.sw, 0, idx, node, CAST(0.0 AS DOUBLE) FROM od CROSS JOIN scen
       |    UNION ALL
       |    SELECT sw, it + 1, s, node, min(cost) FROM (
       |      SELECT sw, it, s, node, cost FROM r
       |      UNION ALL
       |      SELECT r.sw, r.it, r.s, e.dst, r.cost + e.w
       |      FROM r JOIN edges e ON e.src = r.node AND e.way != r.sw
       |    ) t(sw, it, s, node, cost)
       |    WHERE it < $hopBound
       |    GROUP BY sw, it, s, node
       |),
       |sp AS (SELECT sw, s, node, min(cost) AS cost FROM r GROUP BY sw, s, node),
       |pairs AS (
       |  SELECT sp.sw, a.idx AS o, b.idx AS d, sp.cost
       |  FROM od a JOIN od b ON a.idx < b.idx
       |  JOIN sp ON sp.s = a.idx AND sp.node = b.node
       |),
       |delta AS (
       |  SELECT s.sw AS way, s.cost - b.cost AS dt
       |  FROM pairs s JOIN pairs b ON b.sw = -1 AND s.o = b.o AND s.d = b.d
       |  WHERE s.sw >= 0
       |),
       |stats AS (
       |  SELECT way,
       |    0 AS unroutablePairs,
       |    sum(CASE WHEN dt > 0 THEN 1 ELSE 0 END)::INTEGER AS impactedPairs,
       |    CASE WHEN sum(CASE WHEN dt != 0 THEN 1 ELSE 0 END) = 0 THEN 0.0
       |         ELSE sum(CASE WHEN dt >= 0 THEN dt ELSE 0 END) / sum(CASE WHEN dt != 0 THEN 1 ELSE 0 END) END AS avgTimeNonZero
       |  FROM delta GROUP BY way
       |),
       |norms AS (
       |  SELECT max((unroutablePairs + impactedPairs) * avgTimeNonZero) AS avgMaxTime,
       |         max(unroutablePairs) AS maxUnroutable
       |  FROM stats
       |),
       |scored AS (
       |  SELECT 'w' || way AS way_id,
       |    round((CASE WHEN n.avgMaxTime = 0 THEN 0.0
       |          ELSE (s.unroutablePairs + s.impactedPairs) * s.avgTimeNonZero / n.avgMaxTime END * 0.4 +
       |     CASE WHEN n.maxUnroutable = 0 THEN 0.0
       |          ELSE CAST(s.unroutablePairs AS DOUBLE) / n.maxUnroutable END * 0.6) * 100, 6) AS score,
       |    s.unroutablePairs, s.impactedPairs, round(s.avgTimeNonZero, 6) AS avgTimeNonZero
       |  FROM stats s CROSS JOIN norms n
       |)
       |SELECT way_id, score, unroutablePairs, impactedPairs, avgTimeNonZero FROM scored""".stripMargin
  }

  /** Shared by qz3 (binaryFile read) and qz4 (segment-parallel read):
    * identical raster, identical zones — the SCAN STRATEGY must be
    * invisible to the result.
    */
  private lazy val qzDeflateGridSql: String =
    s"""WITH cols AS (SELECT unnest(generate_series(0, 79)) AS c),
       |rows_ AS (SELECT unnest(generate_series(0, 39)) AS r),
       |cells AS (
       |  SELECT c + 0.5 AS x, 40 - (r + 0.5) AS y,
       |    CAST(CAST(CAST((c*11 + r*7) % 50 AS DOUBLE) / 10.0 AS REAL) AS DOUBLE) AS value
       |  FROM cols, rows_),
       |${zonalSql("cells")}""".stripMargin

  // Oracle SQL builders: each writes one CTE family that several gates'
  // oracles share. Every oracle still expands to one standalone string;
  // the builders only keep the family's text in one place.

  private def cteAs(materialized: Boolean): String =
    if (materialized) "AS MATERIALIZED" else "AS"

  /** `raw`/`e`: the gate-side `ordersGraph(spark, dir, every, mod)`
    * projection, deduplicated into undirected edges a < b.
    */
  private def ordersGraphCtes(every: Int, mod: Int): String =
    s"""raw AS (
       |  SELECT o_custkey % $mod AS x, o_orderkey % $mod AS y
       |  FROM orders WHERE o_orderkey % $every = 0),
       |e AS (
       |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
       |  FROM raw WHERE x <> y)""".stripMargin

  private lazy val symCte: String =
    """sym AS MATERIALIZED (
      |  SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e)""".stripMargin

  /** The %150/29 orders graph, its `nodes`, and the multi-source hop
    * distance table `dist(p, v, d)` (qg21–qg24): the qg18 min-fold keyed
    * by pivot, bound 40 = 8× the projection's measured max eccentricity.
    */
  private lazy val hopDistCtes: String =
    s"""${ordersGraphCtes(29, 150)},
       |$symCte,
       |nodes AS MATERIALIZED (SELECT DISTINCT v FROM sym),
       |lab(it, p, node, d) AS (
       |  SELECT 0, v, v, 0 FROM nodes
       |  UNION ALL
       |  SELECT it + 1, p, node, min(d) FROM (
       |    SELECT l.it, l.p, l.node, l.d FROM lab l
       |    UNION ALL
       |    SELECT l.it, l.p, s.w AS node, l.d + 1
       |    FROM lab l JOIN sym s ON s.v = l.node
       |  ) t(it, p, node, d)
       |  WHERE it < 40
       |  GROUP BY it, p, node),
       |dist AS MATERIALIZED (
       |  SELECT p, node AS v, min(d) AS d FROM lab GROUP BY p, node)""".stripMargin

  /** The orders graph with integer-valued edge costs 1 + (a + b) % 7,
    * symmetrized as `sym(v, t, w)` (qg30, qg32–qg34).
    */
  private def weightedGraphCtes(every: Int, mod: Int): String =
    s"""${ordersGraphCtes(every, mod)},
       |we AS (SELECT a, b, CAST(1 + (a + b) % 7 AS DOUBLE) AS w FROM e),
       |sym AS MATERIALIZED (
       |  SELECT a AS v, b AS t, w FROM we UNION ALL SELECT b, a, w FROM we)""".stripMargin

  /** The multi-source min-plus distance table `dist(p, v, d)` over the
    * weighted %150/29 graph (qg32–qg34): one edge hop per iteration with
    * min-merge, bound 150 = the projection's node-count ceiling.
    */
  private def costDistCtes(materialized: Boolean): String =
    s"""${weightedGraphCtes(29, 150)},
       |nodes AS MATERIALIZED (SELECT DISTINCT v FROM sym),
       |lab(it, p, node, c) AS (
       |  SELECT 0, v, v, CAST(0 AS DOUBLE) FROM nodes
       |  UNION ALL
       |  SELECT it + 1, p, node, min(c) FROM (
       |    SELECT l.it, l.p, l.node, l.c FROM lab l
       |    UNION ALL
       |    SELECT l.it, l.p, s.t AS node, l.c + s.w
       |    FROM lab l JOIN sym s ON s.v = l.node
       |  ) t(it, p, node, c)
       |  WHERE it < 150
       |  GROUP BY it, p, node),
       |dist ${cteAs(materialized)} (
       |  SELECT p, node AS v, min(c) AS d FROM lab GROUP BY p, node)""".stripMargin

  /** Min-label connected components over `nodes(id)` and the undirected
    * `sym(u, v)`: every node starts as its own label and takes the least
    * label of itself and its neighbours each round, `rounds` rounds (the
    * qd6 label-prop min-fold). `sep` closes `lab` and opens `final`;
    * the caller closes `final(id, lb)`, each node's component label.
    */
  private def componentCtes(sep: String, rounds: Int = 20): String =
    s"""lab(it, id, lb) AS (
       |  SELECT 0, id, id FROM nodes
       |  UNION ALL
       |  SELECT it + 1, id, min(lb) FROM (
       |    SELECT l.it, l.id, l.lb FROM lab l
       |    UNION ALL
       |    SELECT l.it, s.v AS id, l.lb FROM lab l JOIN sym s ON s.u = l.id
       |  ) t(it, id, lb)
       |  WHERE it < $rounds
       |  GROUP BY it, id${sep}final AS (SELECT id, min(lb) AS lb FROM lab GROUP BY id""".stripMargin

  /** qd6's MinHash band buckets (4 signature rows per band), the pairs
    * that share a bucket, and their components (qd6, qd20, qd22).
    */
  private lazy val minhashComponentCtes: String =
    s"""buckets AS (
       |  SELECT doc_id, k // 4 AS band, string_agg(v::VARCHAR, ',' ORDER BY k) AS bkey
       |  FROM sig GROUP BY doc_id, k // 4
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id > b.doc_id
       |), nodes AS (SELECT DISTINCT id FROM (SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs)
       |), sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs
       |), ${componentCtes("\n), ")}""".stripMargin

  /** Components over the media near-dup `pairs(ga, gb)` (qm17–qm22). */
  private lazy val mediaComponentCtes: String =
    s"""nodes AS (SELECT DISTINCT id FROM (SELECT ga AS id FROM pairs UNION ALL SELECT gb FROM pairs)),
       |sym AS MATERIALIZED (SELECT ga AS u, gb AS v FROM pairs UNION ALL SELECT gb, ga FROM pairs),
       |${componentCtes("),\n")})""".stripMargin

  /** Exact per-character hamming distance of two bit strings of `bits`
    * characters.
    */
  private def hammingSql(a: String, b: String, bits: Int): String =
    s"""list_sum(list_transform(generate_series(1, $bits), j ->
       |      CASE WHEN substr($a, j, 1) = substr($b, j, 1) THEN 0 ELSE 1 END))""".stripMargin

  /** The media near-dup chain over `bits(gid, hb)` (qm17–qm21): `bands`
    * substrings of `width` chars, candidate pairs sharing one, exact
    * hamming <= `maxHam`, then components; an unpaired gid clusters as
    * itself.
    */
  private def mediaClusterSql(width: Int, bands: Int, maxHam: Int): String =
    s"""banded AS (
       |  SELECT gid, b, substr(hb, b * $width + 1, $width) AS bk
       |  FROM bits, unnest(generate_series(0, ${bands - 1})) s(b)),
       |cand AS (
       |  SELECT DISTINCT a.gid AS ga, b.gid AS gb
       |  FROM banded a JOIN banded b ON a.b = b.b AND a.bk = b.bk AND a.gid > b.gid),
       |ham AS (
       |  SELECT c.ga, c.gb,
       |    ${hammingSql("ha.hb", "h2.hb", width * bands)} AS d
       |  FROM cand c JOIN bits ha ON ha.gid = c.ga JOIN bits h2 ON h2.gid = c.gb),
       |pairs AS (SELECT ga, gb FROM ham WHERE d <= $maxHam),
       |$mediaComponentCtes
       |SELECT g.gid AS media_id,
       |  CAST(coalesce(f.lb, g.gid) AS BIGINT) AS cluster
       |FROM gids g LEFT JOIN final f ON f.id = g.gid""".stripMargin

  /** The qm14 aHash recipe with the planted retouch (first 16 pixels of
    * ids >= 50 brightened by 40, clipped) as `bits(gid, hb)` (qm17, qm22).
    */
  private lazy val retouchedImageBitsCtes: String =
    """WITH RECURSIVE gids AS (
      |  SELECT DISTINCT doc_id % 100 AS gid FROM documents),
      |px AS (
      |  SELECT gid, i,
      |    CASE WHEN i < 16
      |      THEN least((i * (7919 + 16 * (gid % 50)) + 3 * (gid % 50)) % 256
      |             + CASE WHEN gid >= 50 THEN 40 ELSE 0 END, 255)
      |      ELSE (i * (7919 + 16 * (gid % 50)) + 3 * (gid % 50)) % 256 END AS p
      |  FROM gids, unnest(generate_series(0, 1023)) t(i)),
      |r2 AS (
      |  SELECT gid, (i // 32) // 4 AS ry, (i % 32) // 4 AS rx,
      |    CAST(sum(p) AS BIGINT) // 16 AS rp
      |  FROM px GROUP BY 1, 2, 3),
      |mn AS (SELECT gid, CAST(sum(rp) AS BIGINT) // 64 AS mean
      |       FROM r2 GROUP BY 1),
      |bits AS MATERIALIZED (
      |  SELECT r2.gid,
      |    string_agg(CASE WHEN rp > mean THEN '1' ELSE '0' END, ''
      |      ORDER BY ry, rx) AS hb
      |  FROM r2 JOIN mn USING (gid) GROUP BY r2.gid)""".stripMargin

  /** Lossless pixel-codec replay (qm5, qm8, qm9): the 1024 per-doc bytes
    * from `pixel` (over doc `d`, index `t.i`), mean, byte entropy, and the
    * norm of the 16 chunk means.
    */
  private def pixelStatsSql(pixel: String): String =
    s"""WITH px AS (
       |  SELECT d.doc_id, t.i AS idx, $pixel AS v
       |  FROM documents d CROSS JOIN generate_series(0, 1023) t(i)
       |), stats AS (
       |  SELECT doc_id, sum(v) / 1024.0 AS mean_byte FROM px GROUP BY doc_id
       |), counts AS (
       |  SELECT doc_id, v, count(*)::DOUBLE AS c FROM px GROUP BY doc_id, v
       |), ent AS (
       |  SELECT doc_id, sum(-(c / 1024.0) * ln(c / 1024.0) / ln(2)) AS entropy
       |  FROM counts GROUP BY doc_id
       |), chunkf AS (
       |  SELECT doc_id, idx // 64 AS ch, CAST(sum(v) / 64.0 / 255.0 AS FLOAT) AS f
       |  FROM px GROUP BY doc_id, idx // 64
       |), nrm AS (
       |  SELECT doc_id, sqrt(sum(CAST(f AS DOUBLE) * CAST(f AS DOUBLE))) AS fn
       |  FROM chunkf GROUP BY doc_id
       |)
       |SELECT s.doc_id AS media_id,
       |  round(s.mean_byte, 4) AS mean_byte,
       |  round(e.entropy, 4) AS byte_entropy,
       |  round(n.fn, 4) AS feature_norm
       |FROM stats s JOIN ent e USING (doc_id) JOIN nrm n USING (doc_id)""".stripMargin

  /** The nation graph of the orders⋈customer⋈lineitem⋈supplier join
    * (qg9, qg14–qg16, qg26): one edge per (customer nation, supplier
    * nation), weight `weight`; the gate-side `nationGraph` builds the same.
    */
  private def nationEdgesCte(weight: String, materialized: Boolean): String =
    s"""edges ${cteAs(materialized)} (
       |  SELECT c_nationkey AS src, s_nationkey AS dst,
       |    $weight AS w
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN lineitem ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2)""".stripMargin

  /** qg9's 5-round unrolled PageRank over the nation graph weighted by
    * `weight` (qg9, qg26): uniform restart, dangling mass spread evenly.
    */
  private def pageRankSql(weight: String): String = {
    def iter(i: Int): String =
      s""",
         |r$i AS (
         |  SELECT nd.node,
         |    (1 - 0.85) / (SELECT n FROM cnt)
         |    + 0.85 * coalesce(s.inflow, 0)
         |    + 0.85 * (SELECT coalesce(sum(r.rank), 0) FROM r${i - 1} r
         |              WHERE r.node NOT IN (SELECT src FROM trans))
         |      / (SELECT n FROM cnt) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT t.dst AS node, sum(r.rank * t.p) AS inflow
         |    FROM r${i - 1} r JOIN trans t ON r.node = t.src GROUP BY 1) s
         |    ON nd.node = s.node)""".stripMargin
    s"""WITH ${nationEdgesCte(weight, materialized = false)},
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |trans AS (
       |  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes)""".stripMargin +
      (1 to 5).map(iter).mkString +
      "\nSELECT node, round(rank, 6) AS rank FROM r5"
  }

  /** The EAUL upgrade catalogue (qg3, qg6). */
  private lazy val eaulUpgradesCte: String =
    """ups(uidx, uid, uruc, usurface) AS (
      |  SELECT * FROM (VALUES (0,'upgrade-rehab-asphalt',0.23,'paved'),
      |                        (1,'upgrade-rehab-gravel',0.27,'unpaved'),
      |                        (2,'rehab-earth',0.30,'unpaved')))""".stripMargin

  /** The EAUL route matrices (qg3, qg6): hop-bounded Bellman-Ford per
    * (way sw, upgrade uidx, flood fl) scenario from every OD source, the
    * upgraded way's cost rescaled by uruc/ruc; `passable`, appended to
    * the relaxation's edge join condition (over `r` and `e`), removes the
    * flooded edges. `mat` is every scenario's OD cost, NULL where
    * unroutable.
    */
  private def eaulRouteCtes(passable: String, hopBound: Int): String =
    s"""r(sw, uidx, fl, it, s, node, cost) AS (
       |  SELECT sw, uidx, fl, 0, idx, node, CAST(0.0 AS DOUBLE) FROM scen CROSS JOIN od
       |  UNION ALL
       |  SELECT sw, uidx, fl, it + 1, s, node, min(cost) FROM (
       |    SELECT sw, uidx, fl, it, s, node, cost FROM r
       |    UNION ALL
       |    SELECT r.sw, r.uidx, r.fl, r.it, r.s, e.dst,
       |      r.cost + CASE WHEN e.way = r.sw THEN e.w * (u.uruc / e.ruc) ELSE e.w END
       |    FROM r JOIN edges e ON e.src = r.node$passable
       |    LEFT JOIN ups u ON u.uidx = r.uidx
       |  ) t(sw, uidx, fl, it, s, node, cost)
       |  WHERE it < $hopBound
       |  GROUP BY sw, uidx, fl, it, s, node
       |),
       |sp AS (SELECT sw, uidx, fl, s, node, min(cost) AS cost FROM r GROUP BY sw, uidx, fl, s, node),
       |tri AS (SELECT a.idx AS o, b.idx AS d, b.node AS dnode FROM od a JOIN od b ON a.idx < b.idx),
       |mat AS (
       |  SELECT sc.sw, sc.uidx, sc.fl, t.o, t.d, sp.cost
       |  FROM scen sc CROSS JOIN tri t
       |  LEFT JOIN sp ON sp.sw = sc.sw AND sp.uidx = sc.uidx AND sp.fl = sc.fl
       |              AND sp.s = t.o AND sp.node = t.dnode
       |)""".stripMargin

  /** `n` gaussian hyperplanes over 64 dims from the same Random(42)
    * sequence the engine's hyperplaneSignature draws.
    */
  private def hyperplanes(n: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(n)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** `planes` as `(b, i, c)` VALUES rows, i 1-based. */
  private def planeValues(planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.flatMap { case (p, b) =>
      p.zipWithIndex.map { case (c, i) => s"($b,${i + 1},$c)" }
    }.mkString(",")

  /** The 8-plane signature of every embedding, `sigs(vec_id, sig)` with
    * bit b set iff the dot with plane b is >= 0 (qs4, qs18–qs21).
    */
  private def hyperplaneSigCtes(materialized: Boolean): String =
    s"""planes(b, i, c) AS (SELECT * FROM (VALUES ${planeValues(hyperplanes(8))})),
       |dots AS (
       |  SELECT e.vec_id, p.b, sum(CAST(e.embedding[p.i] AS DOUBLE) * p.c) AS d
       |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, p.b),
       |sigs ${cteAs(materialized)} (
       |  SELECT vec_id, sum(CASE WHEN d >= 0.0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS sig
       |  FROM dots GROUP BY vec_id)""".stripMargin

  /** The ANN gates' signatures and their 16 lowest-id queries `q(qid, qv)`
    * (qs18, qs19, qs21).
    */
  private lazy val annQueryCtes: String =
    s"""WITH ${hyperplaneSigCtes(materialized = true)},
       |q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 16)""".stripMargin

  /** The multi-probe set (qs19, qs21): per query-bit µ-margin
    * floor(|dot|*1e6 + 0.5), mask score Σ µ² over set bits, the 9
    * lowest (score, mask) masks as `probes(qid, m)`.
    */
  private lazy val annProbeCtes: String =
    """qmu AS (
      |  SELECT d.vec_id AS qid, d.b,
      |    CAST(floor(abs(d.d) * 1000000 + 0.5) AS BIGINT) AS mu
      |  FROM dots d JOIN q ON q.qid = d.vec_id),
      |mscore AS (
      |  SELECT q.qid, m.m,
      |    coalesce(sum(CASE WHEN (m.m >> qmu.b) & 1 = 1
      |      THEN qmu.mu * qmu.mu ELSE 0 END), 0) AS s
      |  FROM q
      |  CROSS JOIN generate_series(0, 255) m(m)
      |  LEFT JOIN qmu ON qmu.qid = q.qid
      |  GROUP BY q.qid, m.m),
      |probes AS MATERIALIZED (
      |  SELECT qid, m FROM (
      |    SELECT qid, m, row_number() OVER (PARTITION BY qid ORDER BY s, m) AS r
      |    FROM mscore) WHERE r <= 9)""".stripMargin

  /** The brute-force truth of the recall gates (qs18, qs19): every
    * query's 6-dp cosine to every other vector, top 10 by (sim DESC,
    * vec_id).
    */
  private lazy val annTruthCtes: String =
    """s0 AS (
      |  SELECT q.qid, c.vec_id,
      |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dot,
      |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE)) AS na,
      |    sum(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS nb
      |  FROM embeddings c
      |  CROSS JOIN q
      |  CROSS JOIN generate_series(1, 64) AS t(i)
      |  WHERE c.vec_id <> q.qid
      |  GROUP BY q.qid, c.vec_id),
      |sims AS MATERIALIZED (
      |  SELECT qid, vec_id,
      |    round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
      |               ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
      |  FROM s0),
      |truth AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
      |    FROM sims) WHERE r <= 10)""".stripMargin

  /** The recall tail (qs18, qs19): the candidates' top 10 on the same
    * (sim DESC, vec_id) contract, intersected with `truth`.
    */
  private lazy val annRecallSql: String =
    """approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT c.qid, c.vec_id,
      |      row_number() OVER (PARTITION BY c.qid ORDER BY s.sim DESC, c.vec_id) AS r
      |    FROM cand c JOIN sims s ON s.qid = c.qid AND s.vec_id = c.vec_id)
      |  WHERE r <= 10),
      |hits AS (
      |  SELECT t.qid, count(a.vec_id) AS n_hit
      |  FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
      |  GROUP BY t.qid)
      |SELECT q.qid AS query_id,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  round(coalesce(h.n_hit, 0) / 10.0, 6) AS recall
      |FROM q LEFT JOIN hits h ON h.qid = q.qid
      |ORDER BY query_id""".stripMargin

  /** The IVF query sin(i + 1) and its cell and per-plane µ-margins under
    * the 8 hyperplanes, with the engine's sequential double arithmetic.
    */
  private lazy val ivfQuery: Array[Double] = Array.tabulate(64)(i => math.sin(i + 1.0))

  private lazy val (ivfQueryCell, ivfQueryMicro): (Long, Array[Long]) = {
    var qCell = 0L
    val micro = new Array[Long](8)
    hyperplanes(8).zipWithIndex.foreach { case (p, b) =>
      var d = 0.0
      var i = 0
      while (i < 64) { d += ivfQuery(i) * p(i); i += 1 }
      if (d >= 0.0) qCell |= 1L << b
      micro(b) = math.floor(math.abs(d) * 1e6 + 0.5).toLong
    }
    (qCell, micro)
  }

  /** The IVF gates (qs4, qs20): exact cosine to the literal query over
    * the vectors whose signature passes `cellFilter`, top 100.
    */
  private def ivfSql(cellFilter: String): String = {
    val qv = ivfQuery.map(_.toString).mkString("[", ", ", "]")
    s"""WITH ${hyperplaneSigCtes(materialized = false)},
       |cand AS (SELECT vec_id FROM sigs WHERE $cellFilter),
       |s AS (
       |  SELECT q.vec_id,
       |    sum(CAST(q.embedding[t.i] AS DOUBLE) * q.qv[t.i]) AS dot,
       |    sum(CAST(q.embedding[t.i] AS DOUBLE) * CAST(q.embedding[t.i] AS DOUBLE)) AS na,
       |    sum(q.qv[t.i] * q.qv[t.i]) AS nb
       |  FROM (SELECT e.vec_id, e.embedding, $qv::DOUBLE[] AS qv
       |        FROM embeddings e JOIN cand USING (vec_id)) q
       |  CROSS JOIN generate_series(1, 64) AS t(i)
       |  GROUP BY q.vec_id)
       |SELECT vec_id,
       |  round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
       |             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
       |FROM s ORDER BY sim DESC, vec_id LIMIT 100""".stripMargin
  }

  /** The PQ gates' probe sin(i * 0.3 + 2) as a DuckDB list literal. */
  private lazy val pqQuery: String = Array.tabulate(64)(i => math.sin(i * 0.3 + 2.0))
    .map(_.toString)
    .mkString("[", ", ", "]")

  /** The qs7 PQ encoding and ADC (qs7, qs15): codebook = the 8 subvectors
    * of the 16 lowest-id vectors, per-subspace 6-dp L2² argmin (ties to
    * the lowest code) of every vector in `encoded`, `adc0(vec_id, adc)`
    * the 6-dp sum of the query's per-subspace tables.
    */
  private def pqAdcCtes(encoded: String): String =
    s"""seeds AS (
       |  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS c
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |cb AS (
       |  SELECT s.s, seeds.c,
       |    list_transform(generate_series(1, 8),
       |      j -> CAST(embedding[s.s * 8 + j] AS DOUBLE)) AS cent
       |  FROM seeds CROSS JOIN generate_series(0, 7) AS s(s)),
       |dists AS (
       |  SELECT e.vec_id, cb.s, cb.c,
       |    round(list_sum(list_transform(generate_series(1, 8), j ->
       |      pow(CAST(e.embedding[cb.s * 8 + j] AS DOUBLE) - cb.cent[j], 2))), 6) AS d2
       |  FROM $encoded),
       |enc AS (
       |  SELECT vec_id, s, c FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
       |    FROM dists)
       |  WHERE rn = 1),
       |qd AS (
       |  SELECT cb.s, cb.c,
       |    round(list_sum(list_transform(generate_series(1, 8), j ->
       |      pow(qv[cb.s * 8 + j] - cb.cent[j], 2))), 6) AS qdist
       |  FROM cb CROSS JOIN (SELECT $pqQuery::DOUBLE[] AS qv)),
       |adc0 AS (
       |  SELECT e.vec_id, round(sum(q.qdist), 6) AS adc
       |  FROM enc e JOIN qd q ON e.s = q.s AND e.c = q.c
       |  GROUP BY e.vec_id)""".stripMargin

  /** The qsp1 way/area overlay (qp1, qsp1): each synthetic way's
    * haversine-length share inside each area box times the area value,
    * summed per way as `contrib(way_id, value)`.
    */
  private lazy val overlayCtes: String =
    """ways AS (
      |  SELECT s_suppkey AS way_id,
      |    (s_suppkey % 13) + 0.25 AS y,
      |    CAST(s_suppkey % 17 AS DOUBLE) AS x1,
      |    CAST((s_suppkey % 17) + 1 + (s_suppkey % 4) AS DOUBLE) AS x2
      |  FROM supplier),
      |areas AS (
      |  SELECT n_nationkey AS area_id,
      |    CAST(n_nationkey % 10 AS DOUBLE) AS rx1,
      |    CAST((n_nationkey % 10) + 2 + (n_nationkey % 3) AS DOUBLE) AS rx2,
      |    (n_nationkey % 11) - 0.2 AS ry1,
      |    (n_nationkey % 11) + 1.2 + (n_nationkey % 2) AS ry2,
      |    CAST((n_nationkey % 7) + 1 AS DOUBLE) AS value
      |  FROM nation),
      |contrib AS (
      |  SELECT way_id, sum(
      |    (2*6371.0088*asin(least(1.0, sqrt(cos(radians(y))*cos(radians(y))*
      |       pow(sin(radians(least(x2,rx2)-greatest(x1,rx1))/2),2))))) /
      |    (2*6371.0088*asin(least(1.0, sqrt(cos(radians(y))*cos(radians(y))*
      |       pow(sin(radians(x2-x1)/2),2))))) * value) AS value
      |  FROM ways JOIN areas
      |    ON greatest(x1,rx1) < least(x2,rx2) AND y > ry1 AND y < ry2
      |  GROUP BY way_id)""".stripMargin

  /** The qv1 expected-annual-damage replay (qp1, qv1): per-way road and
    * bridge damage at each return period, trapezoid over 1/T as
    * `tz(s, road_ead, bridge_ead)`.
    */
  private lazy val eadCtes: String =
    """rp(i, t) AS (VALUES (0,5),(1,10),(2,20),(3,50),(4,75),
      |  (5,100),(6,200),(7,250),(8,500),(9,1000)),
      |w AS (SELECT s_suppkey AS s,
      |    CASE WHEN s_suppkey % 2 = 0 THEN 'paved' ELSE 'unpaved' END AS surface,
      |    CASE WHEN s_suppkey % 3 = 0 THEN 0.3
      |         WHEN s_suppkey % 3 = 1 THEN 0.5 ELSE 0.7 END AS condrate,
      |    s_suppkey % 4 < 3 AS has_bridge,
      |    CASE WHEN s_suppkey % 2 = 0 THEN 'bridge' ELSE 'culvert' END AS btype,
      |    5 + s_suppkey % 25 AS blen
      |  FROM supplier),
      |d AS (SELECT s, i, t, surface, condrate, has_bridge, btype, blen,
      |    ((s*7 + i*13) % 40)/10.0 AS depth,
      |    ((s*3 + i*5) % 100)/10.0 AS len,
      |    ((s*7 + (CASE WHEN btype = 'bridge' THEN 5 ELSE 2 END)*13) % 40)/10.0 AS wld
      |  FROM w CROSS JOIN rp),
      |dmg AS (SELECT s, i, t,
      |    CASE WHEN depth < 0.2 THEN 0
      |         WHEN depth > 1.5 THEN len * (CASE WHEN surface = 'paved' THEN 20000 ELSE 55000 END)
      |         WHEN depth > 0.5 THEN len * (CASE WHEN surface = 'paved' THEN 4000 ELSE 27000 END)
      |         ELSE len * (CASE WHEN surface = 'paved' THEN 2000 ELSE 15000 END) END AS road_dmg,
      |    CASE WHEN has_bridge THEN greatest(0, (depth - wld*0.7) / condrate *
      |         (CASE WHEN btype = 'bridge' THEN blen*44000 ELSE 10000 END)) ELSE 0 END AS bridge_dmg
      |  FROM d),
      |tz AS (SELECT s,
      |    sum((1.0/prev_t - 1.0/t) * (prev_rd + road_dmg)) / 2 AS road_ead,
      |    sum((1.0/prev_t - 1.0/t) * (prev_bd + bridge_dmg)) / 2 AS bridge_ead
      |  FROM (SELECT *,
      |      lag(t) OVER (PARTITION BY s ORDER BY i) AS prev_t,
      |      lag(road_dmg) OVER (PARTITION BY s ORDER BY i) AS prev_rd,
      |      lag(bridge_dmg) OVER (PARTITION BY s ORDER BY i) AS prev_bd
      |    FROM dmg)
      |  GROUP BY s)""".stripMargin

  /** qd9's MinHash agreement estimate for each doc and its successor,
    * `est(a_id, e)`, next to the exact shingle sizes `shc` and overlaps
    * `inter` (qd9, qd18).
    */
  private lazy val minhashPairCtes: String =
    """pair AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |), est AS (
      |  SELECT p.a_id, sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / 16.0 AS e
      |  FROM pair p
      |  JOIN sig sa ON sa.doc_id = p.a_id
      |  JOIN sig sb ON sb.doc_id = p.b_id AND sb.k = sa.k
      |  GROUP BY p.a_id
      |), shc AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT p.a_id, count(*) AS ni
      |  FROM pair p
      |  JOIN sh sa ON sa.doc_id = p.a_id
      |  JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
      |  GROUP BY p.a_id
      |)""".stripMargin

  /** HyperBall registers (p=6, m=64, α=0.709) over the hop `dist` table
    * (qg23, qg24): per pivot and round t, the HLL of the ball
    * {v: d(p,v) <= t} up to p's eccentricity, and qk4's estimator at m=64
    * as `est(p, t, est)`; `ts` lists the columns of `ts`.
    */
  private def hyperBallCtes(ts: String): String =
    s"""hr AS MATERIALIZED (
       |  SELECT v, hv // 67108864 AS b,
       |    CASE WHEN hv % 67108864 = 0 THEN 27
       |      ELSE 27 - length(bin(hv % 67108864)) END AS r
       |  FROM (SELECT v,
       |      CAST('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 8)
       |        AS BIGINT) AS hv
       |    FROM nodes)),
       |ts AS (
       |  SELECT $ts, unnest(generate_series(0, ecc)) AS t
       |  FROM (SELECT p, max(d) AS ecc FROM dist GROUP BY p)),
       |regs AS (
       |  SELECT ts.p, ts.t, hr.b, max(hr.r) AS m
       |  FROM ts
       |  JOIN dist ON dist.p = ts.p AND dist.d <= ts.t
       |  JOIN hr ON hr.v = dist.v
       |  GROUP BY ts.p, ts.t, hr.b),
       |s AS (
       |  SELECT p, t, CAST(count(*) AS BIGINT) AS n,
       |    sum(1.0 / CAST(1::BIGINT << m AS DOUBLE)) AS sp
       |  FROM regs GROUP BY p, t),
       |est AS (
       |  SELECT p, t,
       |    CASE WHEN (0.709 * 64.0 * 64.0 /
       |          (sp + (64.0 - CAST(n AS DOUBLE)))) <= 160.0 AND (64 - n) > 0
       |      THEN 64.0 * ln(64.0 / CAST(64 - n AS DOUBLE))
       |      ELSE 0.709 * 64.0 * 64.0 /
       |        (sp + (64.0 - CAST(n AS DOUBLE))) END AS est
       |  FROM s)""".stripMargin

  /** Hop-bounded Bellman-Ford from every `od` node over `edges`, the
    * full per-node min table each iteration (qg1, qg5), and the route
    * matrix over the od pairs.
    */
  private def routeMatrixSql(hopBound: Int): String =
    s"""r(it, s, node, cost) AS (
       |    SELECT 0, idx, node, CAST(0.0 AS DOUBLE) FROM od
       |    UNION ALL
       |    SELECT it + 1, s, node, min(cost) FROM (
       |      SELECT it, s, node, cost FROM r
       |      UNION ALL
       |      SELECT r.it, r.s, e.dst, r.cost + e.w FROM r JOIN edges e ON e.src = r.node
       |    ) t(it, s, node, cost)
       |    WHERE it < $hopBound
       |    GROUP BY it, s, node
       |), sp AS (SELECT s, node, min(cost) AS cost FROM r GROUP BY s, node)
       |SELECT a.idx AS o_idx, b.idx AS d_idx, TRUE AS routable, sp.cost AS ruc
       |FROM od a JOIN od b ON a.idx < b.idx
       |JOIN sp ON sp.s = a.idx AND sp.node = b.node""".stripMargin

  /** Exact double-cast cosine of every `cand(a_id, b_id)` pair over the
    * rows of `vectors`; `dups(a_id)` are the a sides at >= `minSim`
    * (qd5, qd14, qd15).
    */
  private def cosineDupsCtes(vectors: String, minSim: String): String =
    s"""cosim AS (
       |  SELECT c.a_id,
       |    sum(CAST(ea.embedding[t.i] AS DOUBLE) * CAST(eb.embedding[t.i] AS DOUBLE)) AS dt,
       |    sum(CAST(ea.embedding[t.i] AS DOUBLE) * CAST(ea.embedding[t.i] AS DOUBLE)) AS na,
       |    sum(CAST(eb.embedding[t.i] AS DOUBLE) * CAST(eb.embedding[t.i] AS DOUBLE)) AS nb
       |  FROM cand c
       |  JOIN $vectors ea ON ea.vec_id = c.a_id
       |  JOIN $vectors eb ON eb.vec_id = c.b_id
       |  CROSS JOIN generate_series(1, 64) t(i)
       |  GROUP BY c.a_id, c.b_id),
       |dups AS (
       |  SELECT DISTINCT a_id FROM cosim
       |  WHERE (CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0 ELSE dt / (sqrt(na) * sqrt(nb)) END) >= $minSim)""".stripMargin

  /** 30-minute session windows per user over the events (qe3, and its
    * streaming twin qe6): a gap of >= 1800 s opens a session.
    */
  private lazy val sessionWindowSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev IS NULL OR tus - prev >= 1800000000
      |                 THEN 1 ELSE 0 END AS ns
      |  FROM (SELECT *, lag(tus) OVER (
      |          PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |        FROM e)),
      |s AS (
      |  SELECT *, sum(ns) OVER (
      |      PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT CAST(min(tus) // 1000000 AS BIGINT) AS session_start,
      |  user_id, count(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Each click joined to the same user's purchases within the next
    * 600 s (qe7, qe18).
    */
  private lazy val clickPurchaseJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      |  FROM events),
      |c AS (SELECT event_id AS click_id, user_id, us AS cus FROM e
      |      WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, us AS pus, value
      |      FROM e WHERE event_type = 'purchase')
      |SELECT c.click_id, c.user_id, p.purchase_id, round(p.value, 2) AS value
      |FROM c JOIN p USING (user_id)
      |WHERE p.pus >= c.cus AND p.pus <= c.cus + 600 * 1000000""".stripMargin

  /** Zonal statistics of `cells(x, y, value)` per nation zone box (qz1,
    * qz2, qz3, qz4): count, mean, min, max, and the share of all rows of
    * `total` the zone covers.
    */
  private def zonalSql(total: String): String =
    s"""zones AS (
       |  SELECT n_nationkey AS zone_id,
       |    CAST(n_nationkey % 10 AS DOUBLE) AS rx1,
       |    CAST((n_nationkey % 10) + 2 + (n_nationkey % 3) AS DOUBLE) AS rx2,
       |    (n_nationkey % 11) - 0.2 AS ry1,
       |    (n_nationkey % 11) + 1.2 + (n_nationkey % 2) AS ry2
       |  FROM nation)
       |SELECT zone_id, count(*) AS n_cells,
       |  round(avg(value), 4) AS mean_value,
       |  min(value) AS min_value, max(value) AS max_value,
       |  round(count(*) * 100.0 / (SELECT count(*) FROM $total), 4) AS percent
       |FROM cells JOIN zones
       |  ON x > rx1 AND x < rx2 AND y > ry1 AND y < ry2
       |GROUP BY zone_id""".stripMargin

  /** BM25 (k1 = 1.2, b = 0.75) of the four query terms per document,
    * summed and replayed through DECIMAL(28,12) to 6 dp as
    * `summed(doc_id, score)` (qt15, qt33); the caller closes `summed`.
    */
  private lazy val bm25Ctes: String =
    """tok AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |    FROM documents)
      |  WHERE length(term) > 0
      |), tf AS (
      |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term
      |), dlen AS (
      |  SELECT doc_id, sum(tf) AS len FROM tf GROUP BY doc_id
      |), n AS (SELECT count(*)::DOUBLE AS nn FROM documents),
      |tot AS (SELECT count(*)::DOUBLE AS tot FROM tok),
      |qt AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dlen.len,
      |    CAST(count(*) OVER (PARTITION BY tf.term) AS DOUBLE) AS df
      |  FROM tf JOIN dlen USING (doc_id)
      |  WHERE tf.term IN ('spark', 'query', 'join', 'window')
      |), scored AS (
      |  SELECT doc_id,
      |    ln(1 + (n.nn - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
      |      (tf + 1.2 * (1 - 0.75 + 0.75 * len / (tot.tot / n.nn))) AS tscore
      |  FROM qt CROSS JOIN n CROSS JOIN tot
      |), summed AS (
      |  SELECT doc_id,
      |    CAST(round(CAST(sum(tscore) AS DECIMAL(28,12)), 6) AS DOUBLE) AS score
      |  FROM scored GROUP BY doc_id""".stripMargin

  /** `s(vec_id, dot, na, nb)`: every embedding's dot product with the
    * literal query list `qv` and both squared norms, per term in double
    * (qs1, qs9, qt33); the caller closes `s`.
    */
  private def queryCosineCte(qv: String): String =
    s"""s AS (
       |  SELECT vec_id,
       |    sum(CAST(embedding[t.i] AS DOUBLE) * qv[t.i]) AS dot,
       |    sum(CAST(embedding[t.i] AS DOUBLE) * CAST(embedding[t.i] AS DOUBLE)) AS na,
       |    sum(qv[t.i] * qv[t.i]) AS nb
       |  FROM (SELECT vec_id, embedding, $qv::DOUBLE[] AS qv FROM embeddings)
       |  CROSS JOIN generate_series(1, 64) AS t(i)
       |  GROUP BY vec_id""".stripMargin

  /** `f(s, ln, i, u)`: the engine's 64-bit FNV-1a of each `strs(s, ln)`
    * string, one character per recursion step in HUGEINT wrap
    * arithmetic; `u` at i = ln is the unsigned hash (the MinHash family
    * through `minhashOracleCtes`, and qd3).
    */
  private lazy val fnvCte: String =
    """f(s, ln, i, u) AS (
      |  SELECT s, ln, 0, CAST('14695981039346656037' AS HUGEINT) FROM strs
      |  UNION ALL
      |  SELECT s, ln, i + 1,
      |    ((CASE WHEN xr < 0 THEN CAST(xr AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT)
      |           ELSE CAST(xr AS HUGEINT) END) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
      |  FROM (
      |    SELECT s, ln, i,
      |      xor(CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
      |               THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END AS BIGINT),
      |          unicode(substr(s, i + 1, 1))::BIGINT) AS xr
      |    FROM f WHERE i < ln
      |  )""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "qz4_raster_parallel" -> qzDeflateGridSql,
    // File-codec round-trips: the Spark side materializes a fixture
    // through the engine's own writer and re-ingests it; every value is a
    // binary-exact double, so the oracle regenerates the layer from
    // generate_series with no parse in the loop.
    // Multi-band raster: quarter-float values are exact in float32, so
    // each (x, y, band) cell replays directly; band is the interleave
    // position the decoder must recover from the chunky layout.
    "qz6_raster_bands" ->
      """SELECT i + 0.5 AS x, 16 - (j + 0.5) AS y, CAST(b AS INTEGER) AS band,
        |  ((i * 3 + j * 5 + b * 7) % 40) / 4.0 AS value
        |FROM generate_series(0, 31) a(i)
        |CROSS JOIN generate_series(0, 15) c(j)
        |CROSS JOIN generate_series(0, 2) d(b)""".stripMargin,
    // ORC round trip: the oracle reads the parquet source directly — any
    // value corruption in the ORC write→read path breaks the hash.
    "qf6_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem GROUP BY 1""".stripMargin,
    // Avro round trip: the oracle reads the parquet source directly — any
    // encode/decode corruption in the Avro write→read path (union nulls,
    // timestamp units, array elements, booleans) breaks the hash.
    "qf10_avro_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_discount + l_tax), 4) AS sum_rates,
        |  CAST(sum(CASE WHEN l_quantity < 25 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small,
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
        |FROM lineitem GROUP BY 1""".stripMargin,
    // Tx-log time travel: each version's logical contents as plain
    // predicates — v0 the created slice, v1 after append, v2 after the
    // rewrite retraction. A stale live set at any version breaks its row.
    "qf11_txlog" ->
      """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*), round(sum(o_totalprice), 2)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), round(sum(o_totalprice), 2)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |  AND o_totalprice >= 150000""".stripMargin,
    // Tx-log optimize: the oracle aggregates the source table — the
    // all-slices union — so a row lost/duplicated by the atomic
    // compaction rewrite breaks count/sum/hash
    "qf12_txlog_optimize" ->
      """SELECT o_orderkey % 7 AS bucket, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    // Tx-log merge: the oracle IS merge's definition — target rows whose
    // key the source doesn't claim, plus every source row. A stale
    // survivor, lost update, dropped insert, or rewrite-duplicated row
    // all break the full-table hash.
    "qf13_txlog_merge" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 0),
        |src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 100000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 8 <= 1)
        |SELECT * FROM tgt
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |UNION ALL SELECT * FROM src""".stripMargin,
    // Tx-log CDF: the oracle states the logical diff per version — the
    // appended slice as v1 inserts, the retracted rows as v2 deletes.
    // A dirty-file survivor leaking into the feed shows up as extra rows.
    "qf14_txlog_cdf" ->
      """SELECT CAST(1 AS BIGINT) AS _commit_version,
        |  'insert' AS _change_type, o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'delete', o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 4 IN (0, 1) AND o_custkey % 10 = 3""".stripMargin,
    // Partitioned tx-log probe: the oracle is the plain full-table IN
    // over both committed slices — identical rows is partition pruning's
    // no-false-negatives contract.
    "qf15_txlog_partition" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderstatus IN ('F', 'P')""".stripMargin,
    // Deletion-vector delete: the oracle applies the two delete
    // predicates as plain WHERE NOT clauses over the source table — a
    // row lost, resurrected, or double-deleted by the position mask
    // breaks count/sum.
    "qf16_txlog_delete" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        |  AND NOT (o_custkey % 10 = 7)
        |GROUP BY 1""".stripMargin,
    // Restore: the oracle is v1's logical contents in plain predicates
    // — the rolled-back DV delete and rewrite must leave no trace.
    "qf17_txlog_restore" ->
      """SELECT o_orderkey % 5 AS bucket, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY 1""".stripMargin,
    // Composed pruning: the oracle is the plain conjunction over the
    // full table — partition + stats elimination must lose nothing.
    "qy11_txlog_combined" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |  AND o_orderkey BETWEEN 3000 AND 4200""".stripMargin,
    // Incremental index via CDF: the oracle tokenizes the FINAL table
    // stated in plain predicates — base minus upserted keys, plus the
    // re-texted source, minus the DV-deleted docs. The engine reached
    // the same pair set by consuming only the change feed.
    "qy10_incr_index" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2),
        |src AS (
        |  SELECT doc_id, text || ' zzupdated' AS text
        |  FROM documents WHERE doc_id % 4 = 1),
        |final AS (
        |  SELECT * FROM (
        |    SELECT doc_id, text FROM base
        |    WHERE doc_id NOT IN (SELECT doc_id FROM src)
        |    UNION ALL SELECT doc_id, text FROM src)
        |  WHERE doc_id % 9 <> 0)
        |SELECT DISTINCT doc_id, t.term
        |FROM final,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(term)
        |WHERE len(t.term) > 0""".stripMargin,
    // Compaction round trip: the oracle reads the source table — a row
    // lost or duplicated by the coalesce-rewrite breaks count/sum/avg.
    "qf7_compact" ->
      """SELECT l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(avg(l_quantity), 6) AS avg_qty
        |FROM lineitem WHERE l_linenumber = 1 GROUP BY 1""".stripMargin,
    // Z-order: the oracle replays the magic-number bit spreading with
    // DuckDB's &, |, << and lateral column aliases — the exact interleave
    // arithmetic of Layout.spread16/zorder2, term for term.
    "qy1_zorder" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(z) AS BIGINT) AS z_sum, min(z) AS z_min, max(z) AS z_max
        |FROM (
        |  SELECT l_returnflag, (x4 | (y4 << 1)) AS z FROM (
        |    SELECT l_returnflag,
        |      CAST(l_partkey AS BIGINT) & 65535 AS x0,
        |      (x0 | (x0 << 8)) & 16711935 AS x1,
        |      (x1 | (x1 << 4)) & 252645135 AS x2,
        |      (x2 | (x2 << 2)) & 858993459 AS x3,
        |      (x3 | (x3 << 1)) & 1431655765 AS x4,
        |      CAST(l_suppkey AS BIGINT) & 65535 AS y0,
        |      (y0 | (y0 << 8)) & 16711935 AS y1,
        |      (y1 | (y1 << 4)) & 252645135 AS y2,
        |      (y2 | (y2 << 2)) & 858993459 AS y3,
        |      (y3 | (y3 << 1)) & 1431655765 AS y4
        |    FROM lineitem))
        |GROUP BY 1""".stripMargin,
    // Z-box query: the oracle is the plain 2-D box filter — the engine
    // side must reach the same rows through its z-interval pushdown.
    "qy3_zbox" ->
      """SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM (SELECT l_partkey & 255 AS x, l_suppkey & 255 AS y, l_extendedprice
        |      FROM lineitem)
        |WHERE x BETWEEN 32 AND 79 AND y BETWEEN 100 AND 131""".stripMargin,
    // Bloom-skipping lookup: the oracle is the plain full-scan filter —
    // identical rows is the bloom's no-false-negatives contract (false
    // positives are erased by the residual filter inside the scan)
    "qy4_bloom_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_orderkey = 1""".stripMargin,
    // Zone-map range lookup: the oracle is the plain full-scan BETWEEN —
    // identical rows is the min/max sidecar's no-false-negatives
    // contract (partial-overlap files are cleaned by the residual filter)
    "qy5_minmax_prune" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 1400""".stripMargin,
    // Manifest-stats range scan: the oracle is the plain full-scan
    // BETWEEN over the whole table (even + odd commits = all rows) —
    // identical rows is the in-commit stats' no-false-negatives contract
    "qy8_txlog_prune" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey BETWEEN 2000 AND 2600""".stripMargin,
    // Checkpointed planning: same plain-BETWEEN contract as qy8 — the
    // range scan must return identical rows when the live set + stats
    // come from a checkpoint plus one commit instead of the full log
    "qy9_txlog_checkpoint" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey BETWEEN 2000 AND 2600""".stripMargin,
    // Hilbert index: the oracle replays the iterative xy2d loop (bit
    // test, d += s²·((3·rx) xor ry), conditional flip-then-swap rotate)
    // as a recursive CTE — one recursion step per bit level, s halving
    // 32768→0; rows with s=0 carry the finished distance
    "qy6_hilbert" ->
      """WITH RECURSIVE hil AS (
        |  SELECT l_returnflag,
        |    CAST(l_partkey AS BIGINT) & 65535 AS x,
        |    CAST(l_suppkey AS BIGINT) & 65535 AS y,
        |    CAST(0 AS BIGINT) AS d,
        |    CAST(32768 AS BIGINT) AS s
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag,
        |    CASE WHEN (y & s) = 0
        |         THEN CASE WHEN (x & s) > 0 THEN 65535 - y ELSE y END
        |         ELSE x END,
        |    CASE WHEN (y & s) = 0
        |         THEN CASE WHEN (x & s) > 0 THEN 65535 - x ELSE x END
        |         ELSE y END,
        |    d + s * s * xor(CASE WHEN (x & s) > 0 THEN CAST(3 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
        |                    CASE WHEN (y & s) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |    s // 2
        |  FROM hil WHERE s > 0)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(d) AS BIGINT) AS h_sum, min(d) AS h_min, max(d) AS h_max
        |FROM hil WHERE s = 0
        |GROUP BY 1""".stripMargin,
    // Hilbert box query: the oracle is the plain 2-D box filter — the
    // engine must reach the same rows through its h-interval pushdown
    // (the quadtree decomposition's exactness contract)
    "qy7_hilbert_box" ->
      """SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM (SELECT l_partkey & 255 AS x, l_suppkey & 255 AS y, l_extendedprice
        |      FROM lineitem)
        |WHERE x BETWEEN 32 AND 79 AND y BETWEEN 100 AND 131""".stripMargin,
    // Paragraph dedup: zipped unnest gives (idx, para) per document,
    // row_number over the trimmed paragraph in (doc_id, idx) order picks
    // the first occurrence, ordered string_agg reassembles — documents
    // whose every paragraph was dropped produce no group (empty-doc drop)
    // Word entropy: DuckDB replays the identical nested-lambda histogram
    // (list_transform over distinct, list_filter count, log2) — fold
    // order may differ but terms are ~1e-15 apart from 6-dp boundaries
    "qt26_entropy" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS n,
        |    list_distinct(toks) AS dist
        |  FROM t),
        |e AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(len(dist) AS BIGINT) AS n_distinct,
        |    round(list_sum(list_transform(dist,
        |      c -> -(len(list_filter(toks, t -> t = c)) / n) *
        |             log2(len(list_filter(toks, t -> t = c)) / n))), 6)
        |      AS entropy
        |  FROM d)
        |SELECT doc_id, n_words, n_distinct, entropy,
        |  round(CASE WHEN n_distinct > 1
        |    THEN entropy / log2(CAST(n_distinct AS DOUBLE))
        |    ELSE 0.0 END, 6) AS norm_entropy
        |FROM e""".stripMargin,
    // Mixture sampling: per-source token-budget admission in
    // multiplicative-hash order — the oracle rebuilds the budget
    // dimension from the source name and replays the pre-sum admission
    "qt27_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE length(regexp_split_to_array(trim(text), '\s+'))
        |     END)::BIGINT AS n_tokens,
        |    (doc_id * 2654435761) % 1000000007 AS ok
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    400 + (CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 5) * 150
        |      AS budget
        |  FROM (SELECT DISTINCT source FROM documents)),
        |c AS (
        |  SELECT d.doc_id, d.source, d.n_tokens, b.budget,
        |    CAST(sum(d.n_tokens) OVER (PARTITION BY d.source ORDER BY ok,
        |      doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM d JOIN b USING (source))
        |SELECT source, doc_id, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens - n_tokens < budget""".stripMargin,
    // Token-window chunking: the oracle replays the chunk-count
    // arithmetic (1 + ceil((n-48)/36) integer form), the start offsets,
    // and the window contents via generate_series + list_slice (1-based
    // inclusive, end-clamping — matching Spark's slice exactly)
    "qt28_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
        |  WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    CASE WHEN n <= 48 THEN 1 ELSE 1 + (n - 48 + 35) // 36 END AS nc
        |  FROM d),
        |ch AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, nc - 1)) AS chunk_id
        |  FROM c)
        |SELECT doc_id, chunk_id,
        |  chunk_id * 36 AS start_tok,
        |  least(chunk_id * 36 + 48, n) - chunk_id * 36 AS n_tok,
        |  array_to_string(
        |    list_slice(toks, chunk_id * 36 + 1, chunk_id * 36 + 48), ' ')
        |    AS chunk_text
        |FROM ch""".stripMargin,
    // Deterministic split: the oracle recomputes the md5-fraction
    // assignment hash-for-hash — '0x'||hex-prefix cast mirrors Spark's
    // conv(substring(md5(key),1,8),16,10); any drift in the hash, the
    // fraction, or the cut logic flips a row's split and breaks compare.
    "qt29_split" ->
      """SELECT doc_id,
        |  CASE WHEN frac < 0.8 THEN 'train'
        |       WHEN frac < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 AS frac
        |  FROM documents)""".stripMargin,
    // Inverted index: the oracle answers the AND query WITHOUT the index
    // (direct list_contains over the same lowercase/\s+ tokenization) —
    // build or intersection bugs change the doc set.
    "qt30_inverted_index" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(string_split_regex(lower(trim(text)), '\s+'), 'join')
        |  AND list_contains(string_split_regex(lower(trim(text)), '\s+'), 'hash')
        |  AND list_contains(string_split_regex(lower(trim(text)), '\s+'), 'spark')""".stripMargin,
    // Stratified sample: identical md5-hex window replay — row_number
    // over (source, md5(doc_id), doc_id) is deterministic in both engines.
    // PPS systematic sample: identical all-integer lattice replay —
    // DuckDB's // is Spark's div, cumulative and total window sums
    // match term for term.
    "qt32_pps_sample" ->
      """SELECT doc_id, source, n_chars,
        |  (c * 25) // W - ((c - n_chars) * 25) // W AS picks
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    -- DuckDB window sum is HUGEINT; BIGINT keeps // in int64
        |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
        |    CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS W
        |  FROM documents)
        |WHERE (c * 25) // W - ((c - n_chars) * 25) // W >= 1""".stripMargin,
    "qt31_strat_sample" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin,
    "qt25_paragraph_dedup" ->
      """WITH wrapped AS (
        |  SELECT doc_id,
        |    'subscribe to our newsletter' || chr(10) || text || chr(10) ||
        |      'copyright all rights reserved' AS wtext
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(string_split(wtext, chr(10))) + 1)) - 1 AS idx,
        |    unnest(string_split(wtext, chr(10))) AS para
        |  FROM wrapped),
        |ranked AS (
        |  SELECT doc_id, idx, para,
        |    row_number() OVER (PARTITION BY trim(para) ORDER BY doc_id, idx) AS rn
        |  FROM paras WHERE length(trim(para)) > 0)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS clean_text,
        |  count(*) AS kept
        |FROM ranked WHERE rn = 1
        |GROUP BY doc_id""".stripMargin,
    // Bucketed join: the oracle replays the plain join over the parquet
    // sources — wrong bucket routing silently drops matches on the Spark
    // side and breaks n/revenue.
    "qy2_bucket_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '2-HIGH' AND l_quantity < 10
        |GROUP BY 1""".stripMargin,
    // Donut tiles: exterior verbatim (positively wound already), hole
    // cyclically reversed by winding normalization — pure key arithmetic.
    "qf8_polygon_holes" ->
      """WITH k AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  256 + (n_nationkey * 163) % 3000 AS ex,
        |  256 + (n_nationkey * 311) % 3000 AS ey,
        |  200 + (n_nationkey % 5) * 16 AS w
        |FROM nation)
        |SELECT id, CAST(ring AS INTEGER) AS ring, CAST(pos AS INTEGER) AS pos,
        |  CAST(x AS INTEGER) AS x, CAST(y AS INTEGER) AS y FROM (
        |  SELECT id, 0 AS ring, pos,
        |    CASE pos WHEN 0 THEN ex WHEN 1 THEN ex + w WHEN 2 THEN ex + w ELSE ex END AS x,
        |    CASE pos WHEN 0 THEN ey WHEN 1 THEN ey WHEN 2 THEN ey + w ELSE ey + w END AS y
        |  FROM k CROSS JOIN generate_series(0, 3) g(pos)
        |  UNION ALL
        |  SELECT id, 1 AS ring, pos,
        |    CASE pos WHEN 0 THEN ex + 48 WHEN 1 THEN ex + 48
        |             WHEN 2 THEN ex + w - 48 ELSE ex + w - 48 END AS x,
        |    CASE pos WHEN 0 THEN ey + 48 WHEN 1 THEN ey + w - 48
        |             WHEN 2 THEN ey + w - 48 ELSE ey + 48 END AS y
        |  FROM k CROSS JOIN generate_series(0, 3) g(pos))""".stripMargin,
    // qz7: identical cells through the segment-fanned multi-band path.
    "qz7_raster_bands_parallel" ->
      """SELECT i + 0.5 AS x, 16 - (j + 0.5) AS y, CAST(b AS INTEGER) AS band,
        |  ((i * 3 + j * 5 + b * 7) % 40) / 4.0 AS value
        |FROM generate_series(0, 31) a(i)
        |CROSS JOIN generate_series(0, 15) c(j)
        |CROSS JOIN generate_series(0, 2) d(b)""".stripMargin,
    // MVT round trip is integer-exact: tile coords are pure functions of
    // the key, the protobuf/zigzag machinery must reproduce them.
    "qf4_vector_tile" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  CAST((n_nationkey * 163) % 4096 AS INTEGER) AS px,
        |  CAST((n_nationkey * 311) % 4096 AS INTEGER) AS py,
        |  n_name AS name
        |FROM nation""".stripMargin,
    // MVT lines + polygon rings: the command stream (MoveTo/LineTo/
    // ClosePath, cursor persisting across parts) must reproduce every
    // vertex of every part — pure key arithmetic replays them.
    "qf5_vector_geom" ->
      """WITH k AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |a AS (
        |  SELECT k, CAST((k * 163) % 3000 AS INTEGER) AS ax,
        |    CAST((k * 311) % 3000 AS INTEGER) AS ay,
        |    CAST(100 + (k % 7) * 10 AS INTEGER) AS w
        |  FROM k
        |), b AS (
        |  SELECT k, CAST((k * 77) % 3900 AS INTEGER) AS bx,
        |    CAST((k * 53) % 3900 AS INTEGER) AS b_y
        |  FROM k
        |), poly AS (
        |  SELECT k AS id, 3 AS geom_type, 0 AS part, CAST(v.i AS INTEGER) AS pos,
        |    CASE v.i WHEN 0 THEN ax WHEN 1 THEN ax + w WHEN 2 THEN ax + w ELSE ax END AS x,
        |    CASE v.i WHEN 0 THEN ay WHEN 1 THEN ay WHEN 2 THEN ay + w ELSE ay + w END AS y,
        |    'poly' AS kind
        |  FROM a CROSS JOIN generate_series(0, 3) v(i)
        |), line1 AS (
        |  SELECT k + 1000 AS id, 2 AS geom_type, 0 AS part, CAST(v.i AS INTEGER) AS pos,
        |    CASE v.i WHEN 0 THEN bx WHEN 1 THEN bx + 50 ELSE bx + 10 END AS x,
        |    CASE v.i WHEN 0 THEN b_y WHEN 1 THEN b_y + 20 ELSE b_y + 90 END AS y,
        |    'line' AS kind
        |  FROM b CROSS JOIN generate_series(0, 2) v(i)
        |), line2 AS (
        |  SELECT k + 1000 AS id, 2 AS geom_type, 1 AS part, CAST(v.i AS INTEGER) AS pos,
        |    CASE v.i WHEN 0 THEN bx + 5 ELSE bx + 60 END AS x,
        |    CASE v.i WHEN 0 THEN b_y + 5 ELSE b_y + 70 END AS y,
        |    'line' AS kind
        |  FROM b CROSS JOIN generate_series(0, 1) v(i)
        |)
        |SELECT * FROM poly UNION ALL SELECT * FROM line1 UNION ALL SELECT * FROM line2""".stripMargin,
    // JPEG-in-TIFF: block-constant pixels are exact through the codec
    // (DC-only under the uniform quant table), so every cell replays.
    "qz5_raster_jpeg" ->
      """SELECT i + 0.5 AS x, 48 - (j + 0.5) AS y,
        |  CAST(((i // 8) * 5 + (j // 8) * 11) % 256 AS DOUBLE) AS value
        |FROM generate_series(0, 63) a(i) CROSS JOIN generate_series(0, 47) b(j)""".stripMargin,
    "qf1_shapefile" ->
      """SELECT CAST(i + 1 AS INTEGER) AS record_no,
        |  0.25 + 1.5 * i AS x,
        |  (i % 7) * 2.0 - 3.5 AS y,
        |  'F' || CAST(i AS VARCHAR) AS name,
        |  (i % 20) * 0.25 AS val
        |FROM generate_series(0, 39) t(i)""".stripMargin,
    // V2 source: same fixture arithmetic as qf1, across both files
    "qf9_shapefile_v2" ->
      """SELECT CAST(i + 1 AS INTEGER) AS record_no,
        |  0.25 + 1.5 * i AS x,
        |  (i % 7) * 2.0 - 3.5 AS y,
        |  'F' || CAST(i AS VARCHAR) AS name,
        |  (i % 20) * 0.25 AS val
        |FROM generate_series(0, 39) t(i)
        |UNION ALL
        |SELECT CAST(i + 1 AS INTEGER),
        |  0.125 + 0.5 * i,
        |  (i % 5) * 1.0 - 2.0,
        |  'G' || CAST(i AS VARCHAR),
        |  (i % 10) * 0.5
        |FROM generate_series(0, 19) t(i)""".stripMargin,
    "qf2_geojson" ->
      """SELECT 'Point' AS geom_type,
        |  'g' || CAST(i AS VARCHAR) AS name,
        |  i * 0.25 AS score,
        |  i * 0.5 AS x,
        |  (i % 5) * 1.0 AS y
        |FROM generate_series(0, 29) t(i)""".stripMargin,
    "qf3_osmxml" ->
      """WITH wn AS (
        |  SELECT 100 + j AS way_id, k AS pos, (j * 4 + k) % 24 + 1 AS node_id,
        |    CASE WHEN j % 2 = 0 THEN 'primary' ELSE 'secondary' END AS highway
        |  FROM generate_series(0, 5) s(j) CROSS JOIN generate_series(0, 3) t(k))
        |SELECT way_id, CAST(pos AS INTEGER) AS pos, node_id, highway,
        |  (node_id - 1) * 0.25 + 0.125 AS lon,
        |  0.25 - ((node_id - 1) % 9) * 0.5 AS lat
        |FROM wn""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT p_partkey, p_name, p_type, p_size FROM part
        |WHERE p_size >= 30 AND p_type LIKE '%BRASS%'""".stripMargin,
    "q3_join_agg" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q4_left_join" ->
      """SELECT c_custkey,
        |  coalesce(agg.n_orders, 0) AS n_orders,
        |  coalesce(agg.spent, 0.0) AS spent
        |FROM customer
        |LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    round(sum(o_totalprice), 2) AS spent
        |  FROM orders GROUP BY o_custkey
        |) agg ON c_custkey = agg.o_custkey""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q6_self_join_pairs" ->
      """SELECT a.n_regionkey AS regionkey, a.n_name AS a_name, b.n_name AS b_name
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""".stripMargin,
    "q7_top_per_group" ->
      """SELECT c_nationkey, c_custkey, c_name, c_acctbal FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) WHERE rn = 1""".stripMargin,
    "q8_percentile" ->
      """WITH ranked AS (
        |  SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) - 1 AS r
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |n AS (SELECT count(*) AS c FROM orders WHERE o_totalprice IS NOT NULL),
        |thr AS (SELECT v FROM ranked, n WHERE r = round(0.8 * (c - 1)))
        |SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >= (SELECT v FROM thr)""".stripMargin,
    "q9_recode" ->
      """SELECT
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN '0-IMMEDIATE'
        |       ELSE o_orderpriority END AS o_orderpriority,
        |  CASE WHEN lower(o_orderstatus) IN ('o','f') THEN lower(o_orderstatus)
        |       ELSE 'other' END AS status_cat,
        |  count(*) AS n
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q10_unpivot" ->
      """SELECT metric, round(sum(value), 2) AS total, count(*) AS n FROM (
        |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', l_tax FROM lineitem
        |) GROUP BY metric""".stripMargin,
    "q11_weighted_avg" ->
      """SELECT l_returnflag,
        |  round(sum(l_quantity * l_extendedprice) / sum(l_quantity), 4)
        |    AS weighted_avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q12_trapezoid" ->
      """SELECT l_orderkey,
        |  round(coalesce(sum(0.5 * (x - prev_x) * (y + prev_y)), 0.0), 4) AS auc
        |FROM (
        |  SELECT l_orderkey,
        |    CAST(l_linenumber AS DOUBLE) AS x, l_quantity AS y,
        |    lag(CAST(l_linenumber AS DOUBLE)) OVER (
        |      PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS prev_x,
        |    lag(l_quantity) OVER (
        |      PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS prev_y
        |  FROM lineitem)
        |GROUP BY l_orderkey""".stripMargin,
    "q13_scale_score" ->
      """SELECT p_partkey, p_retailprice,
        |  round(p_retailprice / (SELECT max(p_retailprice) FROM part
        |                         WHERE NOT isnan(p_retailprice)) * 100)
        |    AS score
        |FROM part""".stripMargin,
    "q14_bucket" ->
      """SELECT CASE WHEN l_quantity / 20.0 < 0.2 THEN 'none'
        |            WHEN l_quantity / 20.0 <= 0.5 THEN 'low'
        |            WHEN l_quantity / 20.0 <= 1.5 THEN 'medium'
        |            ELSE 'high' END AS severity,
        |  count(*) AS n, round(sum(l_extendedprice), 2) AS price_sum
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q15_regex" ->
      """SELECT c_custkey,
        |  concat(regexp_extract(c_name, '([A-Z])[a-z]*#0*([1-9][0-9]*)', 1),
        |         regexp_extract(c_name, '([A-Z])[a-z]*#0*([1-9][0-9]*)', 2))
        |    AS short_id
        |FROM customer""".stripMargin,
    "q16_haversine" ->
      """SELECT s_suppkey,
        |  round(2 * 6371.0088 * asin(least(1.0, sqrt(
        |    pow(sin(radians(((s_nationkey * 3) % 170 - 85.0) -
        |                    ((s_suppkey % 170) - 85.0)) / 2), 2) +
        |    cos(radians((s_suppkey % 170) - 85.0)) *
        |    cos(radians((s_nationkey * 3) % 170 - 85.0)) *
        |    pow(sin(radians(((s_nationkey * 7) % 360 - 180.0) -
        |                    ((s_suppkey % 360) - 180.0)) / 2), 2)))), 4)
        |    AS dist_km
        |FROM supplier""".stripMargin,
    "q17_time_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    // streaming dedup over a 2x-duplicated source must emit the events
    // table exactly once per id
    "qe9_stream_dedup" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events""".stripMargin,
    // exactly-once foreachBatch sink: the union of batch_id dirs must be
    // the events table exactly once per row
    "qe11_batch_sink" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events""".stripMargin,
    // exactly-once tx-log streaming ingest: the table snapshot must be
    // the events table exactly once per row — a redelivered (poisoned)
    // batch 0 must not land, or the extra row breaks the compare
    "qe12_stream_txlog" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
        |FROM events""".stripMargin,
    // stream-static enrich: stateless append ≡ the plain batch join
    "qe10_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
        |  round(e.value, 2) AS value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
    // streaming twin of q17: the windows a real watermarked Complete-mode
    // streaming query emits must equal the batch aggregation
    "qe8_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    "qp1_pipeline" ->
      s"""WITH $overlayCtes,
         |fish AS (
         |  SELECT way_id,
         |    round(value / (SELECT max(value) FROM contrib) * 100, 2) AS score
         |  FROM contrib),
         |$eadCtes,
         |ead AS (SELECT s AS way_id,
         |    CAST(floor(bridge_ead + road_ead) AS BIGINT) AS value
         |  FROM tz),
         |eads AS (SELECT way_id, value,
         |    round(value / (SELECT max(value) FROM ead) * 100, 2) AS score
         |  FROM ead),
         |aadt AS (SELECT s_suppkey AS way_id,
         |    -- + 0.0 normalizes IEEE -0.0 (negative acctbal rounding to
         |    -- zero) to +0.0: Spark's round goes through BigDecimal, which
         |    -- has no signed zero
         |    round(s_acctbal / (SELECT max(s_acctbal) FROM supplier
         |                       WHERE NOT isnan(s_acctbal)) * 100) + 0.0 AS score
         |  FROM supplier)
         |SELECT s_suppkey AS way_id, f.score AS fish_score,
         |  e.value AS ead_value, e.score AS ead_score, a.score AS aadt_score
         |FROM supplier
         |LEFT JOIN fish f ON s_suppkey = f.way_id
         |LEFT JOIN eads e ON s_suppkey = e.way_id
         |LEFT JOIN aadt a ON s_suppkey = a.way_id""".stripMargin,
    "qr1_range_join" ->
      """SELECT n_nationkey AS band_id, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS price_sum
        |FROM lineitem JOIN nation
        |  ON l_extendedprice >= CAST(n_nationkey * 2000 AS DOUBLE)
        | AND l_extendedprice <= CAST(n_nationkey * 2000 + 1500 + (n_nationkey % 3) * 300 AS DOUBLE)
        |GROUP BY n_nationkey""".stripMargin,
    "qe3_session_window" -> sessionWindowSql,
    // streaming twin of qe3: the session set a real watermarked
    // append-mode streaming query emits must equal the batch sessions
    "qe6_stream_sessions" -> sessionWindowSql,
    // streaming twin of qe4's join shape: the matched pairs a real
    // watermarked stream-stream interval join emits must equal the batch
    // interval join over the same events
    "qe7_stream_join" -> clickPurchaseJoinSql,
    // Chained dedup→join: the oracle is the plain batch join over the
    // ORIGINAL events — the injected duplicate slice must vanish in the
    // stream's dedup state or it joins into extra rows.
    "qe18_stream_dedup_join" -> clickPurchaseJoinSql,
    // Stream-stream LEFT OUTER join: the oracle is the batch left join —
    // the streaming side must emit every match eagerly AND every
    // non-converting click exactly once after watermark eviction.
    "qe13_stream_left_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
        |  FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us AS cus FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, us AS pus,
        |        value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id, p.purchase_id, round(p.value, 2) AS value
        |FROM c LEFT JOIN p ON c.user_id = p.p_user
        |  AND p.pus >= c.cus AND p.pus <= c.cus + 600 * 1000000""".stripMargin,
    // FULL OUTER stream-stream: the batch FULL JOIN — null-padded rows
    // on BOTH sides must appear exactly once after watermark eviction.
    "qe17_stream_full_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
        |  FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us AS cus FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, us AS pus,
        |        value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.click_id, coalesce(c.user_id, p.p_user) AS user_id,
        |  p.purchase_id, round(p.value, 2) AS value
        |FROM c FULL JOIN p ON c.user_id = p.p_user
        |  AND p.pus >= c.cus AND p.pus <= c.cus + 600 * 1000000""".stripMargin,
    "qe2_asof" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    max(event_id) AS pid, max_by(value, event_id) AS pvalue
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, epoch_us(ts))
        |SELECT c.event_id, c.user_id, p.pid AS prior_purchase_id,
        |  round(p.pvalue, 2) AS prior_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.tus >= p.tus""".stripMargin,
    // Forward as-of: DuckDB ASOF binds only the backward direction, so
    // the replay is a LATERAL earliest-at-or-after probe (purch rows
    // are unique per (user, tus), so ORDER BY tus is deterministic).
    "qe55_asof_forward" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    max(event_id) AS pid, max_by(value, event_id) AS pvalue
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, epoch_us(ts))
        |SELECT c.event_id, c.user_id, p.pid AS next_purchase_id,
        |  round(p.pvalue, 2) AS next_value
        |FROM clicks c LEFT JOIN LATERAL (
        |  SELECT pp.pid, pp.pvalue FROM purch pp
        |  WHERE pp.user_id = c.user_id AND pp.tus >= c.tus
        |  ORDER BY pp.tus LIMIT 1) p ON true""".stripMargin,
    "qv1_ead" ->
      s"""WITH $eadCtes
         |SELECT s AS way_id, CAST(floor(bridge_ead + road_ead) AS BIGINT) AS value
         |FROM tz""".stripMargin,
    "q20_sliding_window" ->
      """SELECT ws AS window_start, event_type, count(*) AS n
        |FROM (
        |  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) - off AS ws,
        |    event_type
        |  FROM events CROSS JOIN (VALUES (0), (3600)) AS o(off))
        |GROUP BY ws, event_type""".stripMargin,
    "q21_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q22_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q23_set_ops" ->
      """SELECT custkey FROM (
        |  (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |   INTERSECT
        |   SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    "q24_moving_avg" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(avg(l_extendedprice) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
        |  round(l_extendedprice - coalesce(lag(l_extendedprice, 1) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber),
        |    l_extendedprice), 4) AS delta
        |FROM lineitem WHERE l_suppkey <= 10""".stripMargin,
    "qt7_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |    FROM documents)
        |  WHERE length(term) > 0
        |), tf AS (
        |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term
        |), n AS (
        |  SELECT count(*)::DOUBLE AS nn FROM documents
        |), ranked AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(n.nn / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |)
        |SELECT doc_id, term, tfidf,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |FROM ranked
        |QUALIFY rk <= 3""".stripMargin,
    "qt8_bigrams" ->
      """WITH d AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
        |), p AS (
        |  SELECT unnest(generate_series(1, len(toks) - 1)) AS i, toks FROM d
        |)
        |SELECT toks[i] || ' ' || toks[i+1] AS bigram, count(*) AS n
        |FROM p GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "qt9_sample" ->
      """WITH sampled AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE ((doc_id % 1000) * 761) % 1000 < 200
        |), n AS (SELECT count(*)::DOUBLE AS nn, count(DISTINCT lang)::DOUBLE AS kk FROM sampled),
        |bylang AS (SELECT lang, count(*)::DOUBLE AS nl FROM sampled GROUP BY lang)
        |SELECT s.doc_id, s.lang, round(n.nn / (n.kk * b.nl), 6) AS weight
        |FROM sampled s JOIN bylang b USING (lang) CROSS JOIN n""".stripMargin,
    "qt10_packing" ->
      """SELECT doc_id, lang, n_tokens,
        |  CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS seq_id
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (
        |    SELECT doc_id, lang,
        |      (CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE length(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens
        |    FROM documents))""".stripMargin,
    "qd7_word_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS ws
        |  FROM documents
        |)
        |SELECT a.doc_id,
        |  round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE), 6) AS jaccard
        |FROM w a JOIN w b ON b.doc_id = a.doc_id + 1""".stripMargin,
    // Exact prefix-filtered similarity join: the oracle brute-forces ALL
    // doc pairs — identical rows is the prefix filter's recall-1.0
    // theorem, checked pair by pair (the length filter is implied by
    // J >= tau, so the oracle needs neither).
    "qd16_prefix_join" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS ws
        |  FROM documents)
        |SELECT a_id, b_id, round(j, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |    CAST(len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))
        |      AS DOUBLE) AS j
        |  FROM w a JOIN w b ON b.doc_id > a.doc_id)
        |WHERE j >= 0.95""".stripMargin,
    "q18_shipping_priority" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q19_local_volume" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('AMERICA', 'ASIA')
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "qs2_label_centroids" ->
      """SELECT label, CAST(t.i - 1 AS INTEGER) AS pos,
        |  round(avg(embedding[t.i]), 6) AS centroid_val
        |FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |GROUP BY label, pos""".stripMargin,
    "qe1_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev IS NULL OR epoch - prev > 1800 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM (
        |    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
        |      lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM events))
        |GROUP BY user_id""".stripMargin,
    "qj4_ci_join" ->
      """SELECT o_orderpriority,
        |  round(sum(coalesce(w.weight, 0) * o_totalprice), 2)
        |    AS weighted_value
        |FROM orders LEFT JOIN (VALUES
        |  ('1-urgent', 1.0), ('2-high', 0.8), ('3-medium', 0.5)
        |) AS w(prio, weight) ON lower(o_orderpriority) = w.prio
        |GROUP BY o_orderpriority""".stripMargin,
    "qj5_collect_join" ->
      """SELECT n_name, agg.supplier_list,
        |  CAST(coalesce(agg.cnt, 0) AS BIGINT) AS n_suppliers
        |FROM nation LEFT JOIN (
        |  SELECT s_nationkey,
        |    string_agg(s_name, ',' ORDER BY s_name) AS supplier_list,
        |    count(*) AS cnt
        |  FROM supplier GROUP BY s_nationkey
        |) agg ON n_nationkey = agg.s_nationkey""".stripMargin,
    "qm1_media_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents""".stripMargin,
    // byteStats reimplemented in SQL: per-byte stats over the UTF-8 payload
    // (documents are ASCII, so unicode(char)==byte); entropy term keeps the
    // exact -p*ln(p)/ln(2) op shape; 16 chunk means use the same integer-
    // division boundaries and the same double->float32 truncation
    "qm2_media_features" ->
      """WITH docs AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |), pos AS (
        |  SELECT doc_id, n, text, unnest(generate_series(1, n)) AS p FROM docs
        |), bv AS (
        |  SELECT doc_id, n, p - 1 AS idx, unicode(substr(text, p, 1)) AS v FROM pos
        |), stats AS (
        |  SELECT doc_id, sum(v) / count(*) AS mean_byte FROM bv GROUP BY doc_id
        |), counts AS (
        |  SELECT doc_id, v, count(*)::DOUBLE AS c FROM bv GROUP BY doc_id, v
        |), tot AS (
        |  SELECT doc_id, sum(c) AS nn FROM counts GROUP BY doc_id
        |), ent AS (
        |  SELECT c.doc_id, sum(-(c.c / t.nn) * ln(c.c / t.nn) / ln(2)) AS entropy
        |  FROM counts c JOIN tot t USING (doc_id) GROUP BY c.doc_id
        |), chunkdef AS (
        |  SELECT doc_id, n, unnest(generate_series(0, 15)) AS i FROM docs
        |), chunkf AS (
        |  SELECT cd.doc_id, cd.i,
        |    CAST(sum(bv.v) / count(*) / 255.0 AS FLOAT) AS f
        |  FROM chunkdef cd JOIN bv ON bv.doc_id = cd.doc_id
        |    AND bv.idx >= (cd.i * cd.n) // 16
        |    -- greatest mirrors byteStats's end = max(start+1, ...): a doc
        |    -- shorter than 16 bytes re-reads one byte per empty chunk
        |    -- instead of dropping the chunk
        |    AND bv.idx < greatest((cd.i * cd.n) // 16 + 1, ((cd.i + 1) * cd.n) // 16)
        |  GROUP BY cd.doc_id, cd.i
        |), nrm AS (
        |  SELECT doc_id, sqrt(sum(CAST(f AS DOUBLE) * CAST(f AS DOUBLE))) AS fn
        |  FROM chunkf GROUP BY doc_id
        |)
        |SELECT s.doc_id AS media_id,
        |  round(s.mean_byte, 4) AS mean_byte,
        |  round(e.entropy, 4) AS byte_entropy,
        |  round(nrm.fn, 4) AS feature_norm
        |FROM stats s JOIN ent e USING (doc_id) JOIN nrm USING (doc_id)""".stripMargin,
    // Real-decode multimodal replay: each doc's 32x32 JPEG is 16
    // block-constant 8x8 blocks with v = (bc*5 + br*7 + doc_id) % 251 and
    // survives the codec exactly, so pixel stats reduce to block algebra:
    // every block weighs 64 px; a 64-byte chunk (2 pixel rows) spans the 4
    // blocks of its block-row (16 px each), 4 chunks per block-row. All
    // divisors are powers of two, so mean/p/f hit identical doubles.
    "qm4_jpeg_pixels" ->
      """WITH blocks AS (
        |  SELECT d.doc_id, bc.i AS bc, br.j AS br,
        |    (bc.i * 5 + br.j * 7 + d.doc_id) % 251 AS v
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 3) bc(i)
        |  CROSS JOIN generate_series(0, 3) br(j)
        |), stats AS (
        |  SELECT doc_id, (sum(v) * 64) / 1024.0 AS mean_byte FROM blocks GROUP BY doc_id
        |), counts AS (
        |  SELECT doc_id, v, count(*)::DOUBLE * 64 AS c FROM blocks GROUP BY doc_id, v
        |), ent AS (
        |  SELECT doc_id, sum(-(c / 1024.0) * ln(c / 1024.0) / ln(2)) AS entropy
        |  FROM counts GROUP BY doc_id
        |), chunkf AS (
        |  SELECT doc_id, br, CAST((sum(v) * 16) / 64.0 / 255.0 AS FLOAT) AS f
        |  FROM blocks GROUP BY doc_id, br
        |), nrm AS (
        |  SELECT doc_id, sqrt(sum(4.0 * CAST(f AS DOUBLE) * CAST(f AS DOUBLE))) AS fn
        |  FROM chunkf GROUP BY doc_id
        |)
        |SELECT s.doc_id AS media_id,
        |  round(s.mean_byte, 4) AS mean_byte,
        |  round(e.entropy, 4) AS byte_entropy,
        |  round(n.fn, 4) AS feature_norm
        |FROM stats s JOIN ent e USING (doc_id) JOIN nrm n USING (doc_id)""".stripMargin,
    // WAV/PCM replay: integer sample sums over power-of-two counts —
    // zero FP slack (sqrt is correctly rounded in both engines).
    "qm6_wav_audio" ->
      """WITH s AS (
        |  SELECT d.doc_id, ((t.i * 2731 + d.doc_id * 17) % 65536) - 32768 AS v
        |  FROM documents d CROSS JOIN generate_series(0, 1023) t(i))
        |SELECT doc_id AS media_id,
        |  CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(1024 AS BIGINT) AS n_samples,
        |  round(CAST(sum(abs(v)) AS DOUBLE) / 1024.0, 6) AS mean_amp,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 1024.0), 6) AS rms
        |FROM s GROUP BY doc_id""".stripMargin,
    // Resize replay: out(y,x) = floor-mean of the 2x2 source block of the
    // PNG fixture p(r,c) = ((r*32+c)*7919 + doc_id) % 256; the weighted
    // checksum pins every resized pixel individually.
    "qm7_resize" ->
      """WITH o AS (
        |  SELECT d.doc_id, t.i AS idx,
        |    ( (((t.i // 16) * 2 * 32 + (t.i % 16) * 2) * 7919 + d.doc_id) % 256
        |    + (((t.i // 16) * 2 * 32 + (t.i % 16) * 2 + 1) * 7919 + d.doc_id) % 256
        |    + ((((t.i // 16) * 2 + 1) * 32 + (t.i % 16) * 2) * 7919 + d.doc_id) % 256
        |    + ((((t.i // 16) * 2 + 1) * 32 + (t.i % 16) * 2 + 1) * 7919 + d.doc_id) % 256
        |    ) // 4 AS v
        |  FROM documents d CROSS JOIN generate_series(0, 255) t(i))
        |SELECT doc_id AS media_id,
        |  CAST(16 AS INTEGER) AS width,
        |  CAST(16 AS INTEGER) AS height,
        |  round(sum(v) / 256.0, 6) AS mean_px,
        |  CAST(sum(v * (idx + 1)) AS BIGINT) AS checksum
        |FROM o GROUP BY doc_id""".stripMargin,
    // MJPEG video replay: frame f of doc d is block-constant
    // v(bc,br) = (bc*5 + br*7 + d + f*13) % 251 (exact through JPEG, the
    // qm4 contract). The position-weighted checksum folds per block:
    // sum over the 8x8 block of (i+1) = 64*(br*256 + bc*8 + 1) + 7392.
    "qm10_mjpeg_frames" ->
      """WITH px AS (
        |  SELECT d.doc_id, f.f AS fno, bc.i AS bc, br.j AS br,
        |    (bc.i * 5 + br.j * 7 + d.doc_id + f.f * 13) % 251 AS v
        |  FROM documents d
        |  CROSS JOIN generate_series(0, 3) f(f)
        |  CROSS JOIN generate_series(0, 3) bc(i)
        |  CROSS JOIN generate_series(0, 3) br(j)
        |)
        |SELECT doc_id AS media_id,
        |  CAST(fno AS INTEGER) AS frame_no,
        |  CAST(32 AS INTEGER) AS width,
        |  CAST(32 AS INTEGER) AS height,
        |  round(sum(v) * 64 / 1024.0, 6) AS mean_px,
        |  CAST(sum(v * (64 * (br * 256 + bc * 8 + 1) + 7392)) AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id, fno""".stripMargin,
    // FLAC replay: lossless codec ⇒ decoded samples ARE the formula
    // values; same integer-exact stats contract as qm6.
    "qm12_flac_audio" ->
      """WITH s AS (
        |  SELECT d.doc_id, ((t.i * 2731 + d.doc_id * 29) % 65536) - 32768 AS v
        |  FROM documents d CROSS JOIN generate_series(0, 1023) t(i))
        |SELECT doc_id AS media_id,
        |  CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(1024 AS BIGINT) AS n_samples,
        |  round(CAST(sum(abs(v)) AS DOUBLE) / 1024.0, 6) AS mean_amp,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 1024.0), 6) AS rms
        |FROM s GROUP BY doc_id""".stripMargin,
    // Stereo-LPC FLAC replay: lossless codec ⇒ decoded channels ARE the
    // two formula streams; per-channel integer-exact stats in SQL.
    "qm13_flac_stereo_lpc" ->
      """WITH s AS (
        |  SELECT d.doc_id,
        |    ((t.i * 2731 + d.doc_id * 29) % 65536) - 32768 AS vl,
        |    ((t.i * 1663 + d.doc_id * 101) % 65536) - 32768 AS vr
        |  FROM documents d CROSS JOIN generate_series(0, 1023) t(i))
        |SELECT doc_id AS media_id,
        |  CAST(44100 AS INTEGER) AS sample_rate,
        |  CAST(1024 AS BIGINT) AS n_samples,
        |  round(CAST(sum(abs(vl)) AS DOUBLE) / 1024.0, 6) AS mean_amp_l,
        |  round(sqrt(CAST(sum(vl * vl) AS DOUBLE) / 1024.0), 6) AS rms_l,
        |  round(CAST(sum(abs(vr)) AS DOUBLE) / 1024.0, 6) AS mean_amp_r,
        |  round(sqrt(CAST(sum(vr * vr) AS DOUBLE) / 1024.0), 6) AS rms_r
        |FROM s GROUP BY doc_id""".stripMargin,
    // G.711 replay: the ITU-T expansion is pure integer shift/segment
    // arithmetic, so SQL computes the exact 16-bit sample per code byte.
    // µ-law: u = ~e; t = ((u%16)*8+132) << ((u//16)%8); v = ±(t-132).
    // A-law: a = e^0x55; seg 0 → m*16+8, seg 1 → m*16+264,
    // seg≥2 → (m*16+264) << (seg-1); sign = a's high bit (positive when set).
    "qm11_g711_audio" ->
      """WITH codes AS (
        |  SELECT d.doc_id, t.i, (t.i * 7 + d.doc_id) % 256 AS e
        |  FROM documents d CROSS JOIN generate_series(0, 1023) t(i)
        |), ul AS (
        |  SELECT doc_id, 'ulaw' AS law,
        |    CASE WHEN (255 - e) >= 128
        |      THEN 132 - ((((255 - e) % 16) * 8 + 132) << (((255 - e) // 16) % 8))
        |      ELSE ((((255 - e) % 16) * 8 + 132) << (((255 - e) // 16) % 8)) - 132
        |    END AS v
        |  FROM codes
        |), al AS (
        |  SELECT doc_id, 'alaw' AS law,
        |    (CASE WHEN xor(e, 85) >= 128 THEN 1 ELSE -1 END) *
        |    (CASE (xor(e, 85) // 16) % 8
        |       WHEN 0 THEN (xor(e, 85) % 16) * 16 + 8
        |       WHEN 1 THEN (xor(e, 85) % 16) * 16 + 264
        |       ELSE ((xor(e, 85) % 16) * 16 + 264) << ((xor(e, 85) // 16) % 8 - 1)
        |     END) AS v
        |  FROM codes
        |), u AS (SELECT * FROM ul UNION ALL SELECT * FROM al)
        |SELECT doc_id AS media_id, law,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1024 AS BIGINT) AS n_samples,
        |  round(CAST(sum(abs(v)) AS DOUBLE) / 1024.0, 6) AS mean_amp,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 1024.0), 6) AS rms
        |FROM u GROUP BY doc_id, law""".stripMargin,
    // BMP raw rows are lossless: same replay shape, exercising stride
    // padding + bottom-up row order + palette quads.
    "qm9_bmp_pixels" ->
      pixelStatsSql("(t.i * 59 + d.doc_id * 11) % 256"),
    // GIF-LZW is lossless over palette indices: identical replay shape to
    // qm5, exercising the LZW dictionary instead of zlib.
    "qm8_gif_pixels" ->
      pixelStatsSql("(t.i * 101 + d.doc_id * 3) % 256"),
    // PNG is lossless: all 1024 per-doc pixels replay individually.
    // Chunk i covers bytes 64i..64i+63 (1024/16); power-of-two divisors
    // keep every division exact, same as the qm4 contract.
    "qm5_png_pixels" ->
      pixelStatsSql("(t.i * 7919 + d.doc_id) % 256"),
    "qz1_zonal" ->
      s"""WITH cells AS (
         |  SELECT (p_partkey % 17) + 0.5 AS x, (p_partkey % 11) + 0.5 AS y,
         |    p_retailprice AS value
         |  FROM part),
         |${zonalSql("part")}""".stripMargin,
    // regenerates the engine's deterministic raster grid in SQL; value
    // passes through REAL so the float32 quantization of the GeoTIFF
    // payload is replayed bit-exactly
    "qz2_raster_zonal" ->
      s"""WITH cols AS (SELECT unnest(generate_series(0, 63)) AS c),
         |rows_ AS (SELECT unnest(generate_series(0, 47)) AS r),
         |cells AS (
         |  SELECT c + 0.5 AS x, 48 - (r + 0.5) AS y,
         |    CAST(CAST(CAST((c*7 + r*13) % 40 AS DOUBLE) / 10.0 AS REAL) AS DOUBLE) AS value
         |  FROM cols, rows_),
         |${zonalSql("cells")}""".stripMargin,
    // identical contract to qz2 (value through REAL), different grid +
    // value formula; compression must be invisible to the result
    "qz3_raster_deflate" -> qzDeflateGridSql,
    "qsp1_overlay" ->
      s"""WITH $overlayCtes
         |SELECT way_id, round(value, 4) AS value,
         |  round(value / (SELECT max(value) FROM contrib) * 100, 2) AS score
         |FROM contrib""".stripMargin,
    "qsp2_nearest" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    (c_custkey % 180) - 90 + 0.25 AS clon,
        |    (c_custkey % 160) - 80 + 0.25 AS clat
        |  FROM customer),
        |supp AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey * 3 % 180) - 90 AS DOUBLE) AS slon,
        |    CAST((s_suppkey * 5 % 160) - 80 AS DOUBLE) AS slat
        |  FROM supplier),
        |pairs AS (
        |  SELECT c_custkey, s_suppkey,
        |    round(2 * 6371.0088 * asin(least(1.0, sqrt(
        |      pow(sin(radians(slat - clat) / 2), 2) +
        |      cos(radians(clat)) * cos(radians(slat)) *
        |      pow(sin(radians(slon - clon) / 2), 2)))), 6) AS dist_km
        |  FROM cust CROSS JOIN supp)
        |SELECT c_custkey, s_suppkey, dist_km FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rn
        |  FROM pairs) WHERE rn = 1""".stripMargin,
    "qt2_langid" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN t IN ('the','and','of','to','is','in','that','you','with','for') THEN 1 ELSE 0 END) AS en,
        |    sum(CASE WHEN t IN ('der','die','und','das','ist','nicht','ein','mit','sich','auf') THEN 1 ELSE 0 END) AS de,
        |    sum(CASE WHEN t IN ('le','la','les','et','est','une','dans','que','pour','pas') THEN 1 ELSE 0 END) AS fr,
        |    sum(CASE WHEN t IN ('el','los','las','es','una','por','con','para','como','del') THEN 1 ELSE 0 END) AS es,
        |    sum(CASE WHEN t IN ('o','os','um','uma','não','mais','como','mas','foi','ele') THEN 1 ELSE 0 END) AS pt
        |  FROM tok GROUP BY doc_id),
        |pred AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN en > 0 AND en >= de AND en >= fr AND en >= es AND en >= pt THEN 'en'
        |      WHEN de > 0 AND de > en AND de >= fr AND de >= es AND de >= pt THEN 'de'
        |      WHEN fr > 0 AND fr > en AND fr > de AND fr >= es AND fr >= pt THEN 'fr'
        |      WHEN es > 0 AND es > en AND es > de AND es > fr AND es >= pt THEN 'es'
        |      WHEN pt > 0 AND pt > en AND pt > de AND pt > fr AND pt > es THEN 'pt'
        |      ELSE 'und' END AS pred_lang
        |  FROM hits)
        |SELECT pred_lang, count(*) AS n FROM pred GROUP BY pred_lang""".stripMargin,
    "qt3_quality" ->
      """WITH sw AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN t IN ('the','of','and','a','to','in','is','that','it','for',
        |                             'on','with','as','was','at','by','an','be','this','are')
        |             THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS swr_raw
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |        FROM documents)
        |  GROUP BY doc_id),
        |base AS (
        |  SELECT d.doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |    length(text) AS len,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
        |    CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE sw.swr_raw END AS swr
        |  FROM documents d JOIN sw ON d.doc_id = sw.doc_id)
        |SELECT doc_id,
        |  -- two-step round via DECIMAL(28,12): Spark's round(double, 2)
        |  -- rounds the SHORTEST decimal repr (BigDecimal.valueOf), DuckDB
        |  -- rounds the true binary value — a score whose shortest repr
        |  -- ends in …5 at the 3rd decimal (e.g. 73.975, stored as
        |  -- 73.97499999…) flips between them. Rounding to 12 decimals
        |  -- first reproduces the shortest-repr behavior for these
        |  -- magnitudes, then the 2-dp half-up round agrees.
        |  CAST(round(CAST(
        |    least(CAST(ntok AS DOUBLE) / 50.0, 1.0) * 30.0 + alpha * 30.0 +
        |    least(swr * 4.0, 1.0) * 25.0 +
        |    (1.0 - least(punct * 4.0, 1.0)) * 15.0
        |  AS DECIMAL(28,12)), 2) AS DOUBLE) AS quality
        |FROM base""".stripMargin,
    "qs1_cosine_topk" -> {
      val qv = Array.tabulate(64)(i => math.sin(i + 1.0)) // same probe as qs1
        .map(_.toString)
        .mkString("[", ", ", "]")
      s"""WITH ${queryCosineCte(qv)})
         |SELECT vec_id,
         |  round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
         |FROM s ORDER BY sim DESC, vec_id LIMIT 100""".stripMargin
    },
    // Matryoshka rerank: qs1's cosine replay computed twice in one
    // grouped pass (prefix terms via a CASE on the series index, full
    // terms unconditionally), then both rank cuts.
    "qs22_mrl_rerank" -> {
      val qv = Array.tabulate(64)(i => math.sin(i * 0.7 + 0.3))
        .map(_.toString)
        .mkString("[", ", ", "]")
      s"""WITH b AS (
         |  SELECT vec_id, embedding, $qv::DOUBLE[] AS qv FROM embeddings),
         |s AS (
         |  SELECT vec_id,
         |    sum(CASE WHEN t.i <= 16
         |      THEN CAST(embedding[t.i] AS DOUBLE) * qv[t.i] END) AS dotp,
         |    sum(CASE WHEN t.i <= 16
         |      THEN CAST(embedding[t.i] AS DOUBLE)
         |        * CAST(embedding[t.i] AS DOUBLE) END) AS nap,
         |    sum(CASE WHEN t.i <= 16 THEN qv[t.i] * qv[t.i] END) AS nbp,
         |    sum(CAST(embedding[t.i] AS DOUBLE) * qv[t.i]) AS dotf,
         |    sum(CAST(embedding[t.i] AS DOUBLE)
         |      * CAST(embedding[t.i] AS DOUBLE)) AS naf,
         |    sum(qv[t.i] * qv[t.i]) AS nbf
         |  FROM b CROSS JOIN generate_series(1, 64) AS t(i)
         |  GROUP BY vec_id),
         |p AS (
         |  SELECT vec_id,
         |    round(CASE WHEN sqrt(nap) * sqrt(nbp) = 0 THEN 0
         |      ELSE dotp / (sqrt(nap) * sqrt(nbp)) END, 6) AS sim_prefix,
         |    round(CASE WHEN sqrt(naf) * sqrt(nbf) = 0 THEN 0
         |      ELSE dotf / (sqrt(naf) * sqrt(nbf)) END, 6) AS sim
         |  FROM s),
         |c AS (SELECT * FROM p ORDER BY sim_prefix DESC, vec_id LIMIT 40)
         |SELECT vec_id, sim_prefix, sim FROM c
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
    },
    // Filtered ANN: qs1's cosine replay restricted to the label
    // predicate BEFORE ranking — pre-filter semantics, not post-filter.
    "qs10_filtered_ann" -> {
      val qv = Array.tabulate(64)(i => math.cos(i * 0.9 + 0.1)) // same probe as qs10
        .map(_.toString)
        .mkString("[", ", ", "]")
      s"""WITH s AS (
         |  SELECT vec_id,
         |    sum(CAST(embedding[t.i] AS DOUBLE) * qv[t.i]) AS dot,
         |    sum(CAST(embedding[t.i] AS DOUBLE) * CAST(embedding[t.i] AS DOUBLE)) AS na,
         |    sum(qv[t.i] * qv[t.i]) AS nb
         |  FROM (SELECT vec_id, embedding, $qv::DOUBLE[] AS qv
         |        FROM embeddings WHERE label IN (1, 3))
         |  CROSS JOIN generate_series(1, 64) AS t(i)
         |  GROUP BY vec_id)
         |SELECT vec_id,
         |  round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
         |FROM s ORDER BY sim DESC, vec_id LIMIT 50""".stripMargin
    },
    // RRF hybrid: recompute BOTH ranked lists — the qt15 BM25 chain at
    // k=30 and the qs1-style cosine chain at k=30 — then the identical
    // two-term fusion, BM25 term first (FP addition order is part of
    // the contract).
    "qt33_rrf" -> {
      val qv = Array.tabulate(64)(i => math.sin(i * 0.45 + 1.5)) // same probe as qt33
        .map(_.toString)
        .mkString("[", ", ", "]")
      s"""WITH $bm25Ctes
         |), bmr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rb
         |  FROM summed
         |  QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 30
         |), ${queryCosineCte(qv)}
         |), sims AS (
         |  SELECT vec_id,
         |    round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |               ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
         |  FROM s
         |), vr AS (
         |  SELECT vec_id AS doc_id,
         |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rv
         |  FROM sims
         |  QUALIFY row_number() OVER (ORDER BY sim DESC, vec_id) <= 30
         |), fused AS (
         |  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         |    round(coalesce(1.0 / (60 + b.rb), 0) +
         |          coalesce(1.0 / (60 + v.rv), 0), 6) AS rrf
         |  FROM bmr b FULL JOIN vr v ON b.doc_id = v.doc_id)
         |SELECT doc_id, rrf FROM fused
         |QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= 20""".stripMargin
    },
    // Radius search: qs1's per-term cosine replay with the ball's WHERE
    // instead of a LIMIT — membership at the rounded boundary must agree.
    "qs9_radius" -> {
      val qv = Array.tabulate(64)(i => math.sin(i * 1.3 + 0.25)) // same probe as qs9
        .map(_.toString)
        .mkString("[", ", ", "]")
      s"""WITH ${queryCosineCte(qv)})
         |SELECT vec_id,
         |  round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |             ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
         |FROM s
         |WHERE round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |            ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) >= 0.15""".stripMargin
    },
    // Triangle counting: the oracle is the textbook 3-way self-join over
    // canonical a<b edges, one row per triangle a<b<c — the engine's
    // degree-ordered orientation must reach the same count exactly.
    "qg10_triangles" ->
      s"""WITH ${ordersGraphCtes(3, 80)},
         |n AS (SELECT count(DISTINCT v) AS n_nodes FROM
         |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
         |m AS (SELECT count(*) AS n_edges FROM e),
         |t AS (SELECT count(*) AS triangles
         |  FROM e e1
         |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
         |SELECT n_nodes, n_edges, triangles FROM n, m, t""".stripMargin,
    // K-truss: 10 unrolled peels (fixpoint at 5 measured), per round
    // re-counting each edge's common neighbours WITHIN the surviving
    // set via the doubled-adjacency wedge join; zero-support edges
    // vanish from the inner join — equivalently dropped.
    "qg13_ktruss" -> {
      val rounds = (1 to 10).map { i =>
        s"""ed$i AS MATERIALIZED (SELECT a AS v, b AS w FROM e${i - 1}
           |  UNION ALL SELECT b, a FROM e${i - 1}),
           |e$i AS MATERIALIZED (
           |  SELECT a, b FROM (
           |    SELECT x.a, x.b, count(*) AS sup
           |    FROM e${i - 1} x
           |    JOIN ed$i p ON p.v = x.a
           |    JOIN ed$i q ON q.v = x.b AND q.w = p.w
           |    GROUP BY x.a, x.b)
           |  WHERE sup >= 4)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT o_custkey % 100 AS x, o_orderkey % 100 AS y
         |  FROM orders WHERE o_orderkey % 15 = 0),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
         |  FROM raw WHERE x <> y),
         |$rounds,
         |edf AS MATERIALIZED (SELECT a AS v, b AS w FROM e10
         |  UNION ALL SELECT b, a FROM e10)
         |SELECT x.a, x.b, count(*) AS support
         |FROM e10 x
         |JOIN edf p ON p.v = x.a
         |JOIN edf q ON q.v = x.b AND q.w = p.w
         |GROUP BY x.a, x.b""".stripMargin
    },
    // Label propagation: 5 rounds unrolled as MATERIALIZED CTEs (each
    // referenced once per round but materialization keeps the chain
    // linear), same most-frequent/min-label/simultaneous-update rule.
    "qg12_label_prop" -> {
      val rounds = (1 to 5).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT v, lbl FROM (
           |    SELECT v, lbl,
           |      row_number() OVER (PARTITION BY v
           |        ORDER BY cnt DESC, lbl ASC) AS rn
           |    FROM (
           |      SELECT ed.v, l.lbl, count(*) AS cnt
           |      FROM ed JOIN l${i - 1} l ON ed.w = l.v
           |      GROUP BY ed.v, l.lbl))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT (o_orderkey % 4) * 50 + o_custkey % 50 AS x,
         |         (o_orderkey % 4) * 50 + o_orderkey % 47 AS y
         |  FROM orders),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
         |  FROM raw WHERE x <> y),
         |ed AS MATERIALIZED (SELECT a AS v, b AS w FROM e
         |  UNION ALL SELECT b, a FROM e),
         |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM ed),
         |$rounds
         |SELECT v AS node, lbl AS label FROM l5""".stripMargin
    },
    // Drift/PSI: identical unrounded ratios and ln on both sides; keys
    // missing from a slice report null psi (no silent smoothing).
    "qp4_drift" ->
      """WITH a AS (
        |  SELECT event_type, count(*) AS n_a FROM events
        |  WHERE event_id % 2 = 0 GROUP BY 1),
        |b AS (
        |  SELECT event_type, count(*) AS n_b FROM events
        |  WHERE event_id % 2 = 1 GROUP BY 1),
        |j AS (
        |  SELECT coalesce(a.event_type, b.event_type) AS event_type,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM a FULL JOIN b ON a.event_type = b.event_type),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |             CAST(sum(n_b) AS BIGINT) AS tb FROM j)
        |SELECT event_type, n_a, n_b,
        |  round(n_a / ta, 6) AS share_a,
        |  round(n_b / tb, 6) AS share_b,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN round((n_a / ta - n_b / tb) * ln((n_a / ta) / (n_b / tb)), 6)
        |  END AS psi
        |FROM j CROSS JOIN t""".stripMargin,
    // Funnel: chained conditional mins, each gated strictly-after the
    // previous step's time; a stalled step's null propagates.
    "qe19_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN us END) AS t_view
        |  FROM e GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, s1.t_view,
        |    min(CASE WHEN event_type = 'click' AND us > t_view THEN us END)
        |      AS t_click
        |  FROM e JOIN s1 ON e.user_id = s1.user_id GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, s2.t_view, s2.t_click,
        |    min(CASE WHEN event_type = 'purchase' AND us > t_click THEN us END)
        |      AS t_purchase
        |  FROM e JOIN s2 ON e.user_id = s2.user_id GROUP BY 1, 2, 3)
        |SELECT user_id, t_view, t_click, t_purchase,
        |  CAST(CASE WHEN t_view IS NULL THEN 0
        |            WHEN t_click IS NULL THEN 1
        |            WHEN t_purchase IS NULL THEN 2
        |            ELSE 3 END AS INTEGER) AS stage
        |FROM s3""".stripMargin,
    // Cohort retention: integer epoch-week buckets, distinct
    // (cohort, offset, user) before counting.
    "qe20_cohort" ->
      """WITH w AS (
        |  SELECT user_id,
        |    epoch_us(ts) // 604800000000 AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1),
        |d AS (
        |  SELECT DISTINCT w.user_id, cohort, wk - cohort AS off
        |  FROM w JOIN f ON w.user_id = f.user_id)
        |SELECT cohort AS cohort_week, off AS week_offset,
        |  count(*) AS n_active
        |FROM d GROUP BY 1, 2""".stripMargin,
    // Transition matrix: identical lead window, identical tie order,
    // identical BIGINT/BIGINT -> double division.
    "qe21_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_state
        |  FROM events),
        |c AS (
        |  SELECT from_state, to_state, count(*) AS n FROM p
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n, round(c.n / t.tot, 6) AS p
        |FROM c JOIN t USING (from_state)""".stripMargin,
    // Rolling z-score: identical ROWS frame over null-filtered rows,
    // identical explicit-variance arithmetic (s2/n - (s1/n)^2, that
    // operation order), full-window and positive-variance guards on
    // both sides; the flag compares the UNROUNDED |z|.
    "qe22_zscore" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    count(value) OVER w AS n,
        |    sum(value) OVER w AS s1,
        |    sum(value * value) OVER w AS s2
        |  FROM events WHERE value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, round(value, 6) AS value,
        |  round(CASE WHEN (s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0)) > 0.0
        |    THEN (value - s1 / 8.0) /
        |      sqrt(s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0)) END, 4) AS z,
        |  CASE WHEN (s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0)) > 0.0
        |      AND abs((value - s1 / 8.0) /
        |        sqrt(s2 / 8.0 - (s1 / 8.0) * (s1 / 8.0))) > 2.5
        |    THEN 1 ELSE 0 END AS is_anomaly
        |FROM e WHERE n = 8""".stripMargin,
    // TWAP: identical lead window, integer-microsecond dt (bucket edges
    // are exact integer multiples), dt sum CAST out of DuckDB's HUGEINT
    // before the divide.
    "qe23_twap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |d AS (
        |  SELECT user_id, tus // 1800000000 AS bucket, value,
        |    coalesce(lead(tus) OVER (PARTITION BY user_id,
        |        tus // 1800000000 ORDER BY tus, event_id),
        |      (tus // 1800000000 + 1) * 1800000000) - tus AS dt
        |  FROM e)
        |SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value * CAST(dt AS DOUBLE)) /
        |    CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE), 6) AS twap
        |FROM d GROUP BY 1, 2""".stripMargin,
    // Streaming HLL: max is the sketch merge, so the micro-batched
    // stream's registers equal the batch registers exactly — the same
    // qk4 replay, keyed by the tumbling hour.
    "qe24_stream_hll" ->
      """WITH h AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wk,
        |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |g AS (
        |  SELECT wk, hv // 268435456 AS b,
        |    max(CASE WHEN hv % 268435456 = 0 THEN 29
        |      ELSE 29 - length(bin(hv % 268435456)) END) AS m
        |  FROM h GROUP BY 1, 2),
        |s AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS n_registers,
        |    sum(1.0 / CAST(1::BIGINT << m AS DOUBLE)) AS sp
        |  FROM g GROUP BY 1)
        |SELECT wk AS window_start, n_registers,
        |  round(CASE WHEN (0.673 * 16.0 * 16.0 /
        |        (sp + (16.0 - CAST(n_registers AS DOUBLE)))) <= 40.0
        |      AND (16 - n_registers) > 0
        |    THEN 16.0 * ln(16.0 / CAST(16 - n_registers AS DOUBLE))
        |    ELSE 0.673 * 16.0 * 16.0 /
        |      (sp + (16.0 - CAST(n_registers AS DOUBLE))) END, 6)
        |    AS est_distinct
        |FROM s""".stripMargin,
    // Streaming quantile sketch: the count-driven level L(n) = smallest
    // L with n <= 8·2^L replays as the BIT LENGTH of ceil(n/8) - 1
    // (all-integer — no float-log2-at-power-of-two hazard), retained =
    // tz >= L, then qk7's nearest-rank index on the (v, id) rank
    "qe51_stream_quantile" ->
      """WITH base AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wk,
        |    CAST(value AS DOUBLE) AS v, CAST(event_id AS VARCHAR) AS id
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |hz AS MATERIALIZED (
        |  SELECT wk, v, id,
        |    CASE WHEN hv = 0 THEN 32
        |      ELSE length(bin(hv & (-hv))) - 1 END AS tz
        |  FROM (SELECT wk, v, id,
        |      CAST('0x' || substring(md5(id), 1, 8) AS BIGINT) AS hv
        |    FROM base)),
        |lv AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS n,
        |    CAST(CASE WHEN (count(*) + 7) // 8 <= 1 THEN 0
        |      ELSE length(bin((count(*) + 7) // 8 - 1)) END
        |      AS BIGINT) AS lvl
        |  FROM hz GROUP BY wk),
        |samp AS (
        |  SELECT hz.wk, hz.v, lv.n, lv.lvl,
        |    row_number() OVER (PARTITION BY hz.wk ORDER BY hz.v, hz.id) AS i,
        |    count(*) OVER (PARTITION BY hz.wk) AS ns
        |  FROM hz JOIN lv ON lv.wk = hz.wk AND hz.tz >= lv.lvl),
        |tg AS (
        |  SELECT wk, q, v, n, lvl, i, ns,
        |    least(((greatest(1, CAST(ceil(CAST(n AS DOUBLE) * q) AS BIGINT))
        |        - 1) >> CAST(lvl AS INT)) + 1,
        |      CAST(ns AS BIGINT)) AS istar
        |  FROM samp
        |  CROSS JOIN (VALUES (0.5), (0.95)) qq(q))
        |SELECT wk AS window_start, q,
        |  CAST(max(n) AS BIGINT) AS n, max(lvl) AS level,
        |  CAST(max(ns) AS BIGINT) AS n_sample,
        |  min(CASE WHEN i = istar THEN v END) AS est
        |FROM tg GROUP BY 1, 2""".stripMargin,
    // Streaming top-k: with m = 64 >> 5 distinct event types the
    // SpaceSaving state is the exact per-hour count table (every err
    // 0), so the replay is plain GROUP BY counts + the identical
    // (est DESC, term) rank cut.
    "qe52_stream_topk" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wk,
        |    event_type AS term, count(*) AS est
        |  FROM events WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT wk, term, est,
        |    row_number() OVER (PARTITION BY wk
        |      ORDER BY est DESC, term) AS rank
        |  FROM c)
        |SELECT wk AS window_start, CAST(rank AS BIGINT) AS rank, term,
        |  est, CAST(0 AS BIGINT) AS err
        |FROM r WHERE rank <= 5""".stripMargin,
    // DTW replay: anti-diagonal DP as a carry-all recursive CTE — every
    // round re-emits all cells (it is a GLOBAL round counter) plus the
    // three successor candidates of cells on diagonals it/it−1 (the
    // i+di+j+dj = it+1 filter admits only those), GROUP BY min merges a
    // new cell's predecessors; guard it < 80 = 2·maxLen reaches the
    // (la, lb) corner of every pair.
    "qe53_dtw" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn, value
        |  FROM events
        |  WHERE user_id % 23 = 0 AND value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |ser AS (
        |  SELECT user_id, list(value ORDER BY rn) AS vs
        |  FROM ev WHERE rn <= 40 GROUP BY user_id),
        |pr AS MATERIALIZED (
        |  SELECT a.user_id AS key_a, b.user_id AS key_b, a.vs AS va,
        |    b.vs AS vb, len(a.vs) AS la, len(b.vs) AS lb
        |  FROM ser a JOIN ser b ON a.user_id < b.user_id),
        |dp(it, key_a, key_b, i, j, c) AS (
        |  SELECT 2, key_a, key_b, 1, 1, abs(va[1] - vb[1]) FROM pr
        |  UNION ALL
        |  SELECT t.it + 1, t.key_a, t.key_b, t.i, t.j, min(t.c)
        |  FROM (
        |    SELECT d.it, d.key_a, d.key_b, d.i, d.j, d.c FROM dp d
        |    UNION ALL
        |    SELECT d.it, d.key_a, d.key_b, d.i + s.di, d.j + s.dj,
        |      d.c + abs(p.va[d.i + s.di] - p.vb[d.j + s.dj])
        |    FROM dp d JOIN pr p
        |      ON p.key_a = d.key_a AND p.key_b = d.key_b
        |    CROSS JOIN (VALUES (1, 0), (0, 1), (1, 1)) s(di, dj)
        |    WHERE d.i + s.di + d.j + s.dj = d.it + 1
        |      AND d.i + s.di <= p.la AND d.j + s.dj <= p.lb
        |  ) t(it, key_a, key_b, i, j, c)
        |  WHERE t.it < 80
        |  GROUP BY t.it + 1, t.key_a, t.key_b, t.i, t.j)
        |SELECT d.key_a, d.key_b, p.la AS len_a, p.lb AS len_b,
        |  round(d.c, 6) AS dtw
        |FROM dp d JOIN pr p
        |  ON p.key_a = d.key_a AND p.key_b = d.key_b
        |WHERE d.it = 80 AND d.i = p.la AND d.j = p.lb""".stripMargin,
    // Lagged cross-correlation: µs floor-div hourly buckets (equal to
    // the engine's floor over unix seconds — nested-floor identity),
    // generate_series zero-filled grid, shifted equi-join, HUGEINT
    // moments, the identical Pearson tree at 6 dp.
    "qe54_xcorr" ->
      """WITH c AS (
        |  SELECT event_type AS k, epoch_us(ts) // 3600000000 AS b,
        |    count(*) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |sp AS (SELECT min(b) AS lo, max(b) AS hi FROM c),
        |g AS (
        |  SELECT kk.k, gs.b, coalesce(c.n, 0) AS n
        |  FROM (SELECT DISTINCT k FROM c) kk
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS b FROM sp) gs
        |  LEFT JOIN c ON c.k = kk.k AND c.b = gs.b),
        |p AS (
        |  SELECT a.k AS ka, bb.k AS kb, l.lag, a.n AS x, bb.n AS y
        |  FROM g a
        |  CROSS JOIN generate_series(0, 3) l(lag)
        |  JOIN g bb ON bb.k > a.k AND bb.b = a.b + l.lag),
        |m AS (
        |  SELECT ka, kb, lag, count(*) AS n_buckets,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        |    sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM p GROUP BY 1, 2, 3)
        |SELECT ka AS key_a, kb AS key_b, CAST(lag AS BIGINT) AS lag,
        |  n_buckets,
        |  CASE WHEN CAST(sxx AS DOUBLE) * n_buckets
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |      AND CAST(syy AS DOUBLE) * n_buckets
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |    THEN round((CAST(sxy AS DOUBLE) * n_buckets
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(sxx AS DOUBLE) * n_buckets
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(syy AS DOUBLE) * n_buckets
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS r
        |FROM m""".stripMargin,
    // Gap-fill: identical integer bucketing and bucket-last pick
    // (lead-over-(bucket, ts, tie) filter), identical subtract →
    // integer-ratio divide → multiply → add interpolation — DuckDB's
    // generate_series is end-inclusive and empty when start > stop, so
    // the open interval (b, nb) replays Spark's filtered sequence.
    "qe25_gapfill" ->
      """WITH e AS (
        |  SELECT user_id AS k, epoch_us(ts) AS tus, event_id AS tie,
        |    value AS v, epoch_us(ts) // 21600000000 AS b
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |l AS (
        |  SELECT k, b, v,
        |    lead(b) OVER (PARTITION BY k ORDER BY b, tus, tie) AS nxb
        |  FROM e),
        |o AS (SELECT k, b, v FROM l WHERE nxb IS NULL OR nxb <> b),
        |w AS (
        |  SELECT k, b, v, lead(b) OVER (PARTITION BY k ORDER BY b) AS nb,
        |    lead(v) OVER (PARTITION BY k ORDER BY b) AS nv
        |  FROM o)
        |SELECT k AS user_id, b * 21600 AS bucket_start,
        |  round(v, 6) AS value, 0 AS filled
        |FROM w
        |UNION ALL
        |SELECT k, g * 21600,
        |  round(v + (nv - v) *
        |    (CAST(g - b AS DOUBLE) / CAST(nb - b AS DOUBLE)), 6), 1
        |FROM w, unnest(generate_series(b + 1, nb - 1)) AS t(g)
        |WHERE nb IS NOT NULL AND nb - b >= 2 AND nb - b <= 8""".stripMargin,
    // Proportion rebalance: quotas are all-integer (counts, weights,
    // two floor-divides — // here, div in Spark), so both engines
    // derive the SAME per-stratum k; the picks replay qt31's
    // md5-hash-order rank. DuckDB sum(BIGINT) is HUGEINT — cast back.
    "qt35_domain_mix" ->
      """WITH wts AS (
        |  SELECT source,
        |    (CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 4) + 1 AS w
        |  FROM (SELECT DISTINCT source FROM documents)),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM wts),
        |cnt AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |m AS (
        |  SELECT min((c * wt) // w) AS m
        |  FROM cnt JOIN wts USING (source) CROSS JOIN tot),
        |quota AS (
        |  SELECT source, (m * w) // wt AS k
        |  FROM wts CROSS JOIN tot CROSS JOIN m),
        |r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, doc_id
        |FROM r JOIN quota USING (source) WHERE rn <= k""".stripMargin,
    // Holt smoothing: the recursive CTE replays the coupled (l, b) fold
    // step-for-step — same seed (l=x0, b=0), same (ts, event_id) order,
    // same IEEE op trees with DYADIC literals (0.5/0.25/0.75 are the
    // same double as Scala's 1-alpha/1-beta by the operator's contract)
    // — so doubles match bit-for-bit before the 6-dp round.
    "qe26_holt" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT ev.user_id, ev.rn,
        |    ev.value * 0.5 + (r.l + r.b) * 0.5,
        |    ((ev.value * 0.5 + (r.l + r.b) * 0.5) - r.l) * 0.25
        |      + r.b * 0.75
        |  FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1)
        |SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
        |  round(max_by(l, rn), 6) AS level,
        |  round(max_by(b, rn), 6) AS trend,
        |  round(max_by(l, rn) + max_by(b, rn), 6) AS forecast
        |FROM r GROUP BY user_id""".stripMargin,
    // Holt-Winters: the qe26 replay extended with the seasonal RING as
    // a LIST column in the recursive term — slot ((rn-1) % 4) + 1 is
    // read (s_{i-m}) and rewritten (s_i) each step, every literal
    // dyadic, so doubles match bit-for-bit before the 6-dp round.
    "qe29_holt_winters" -> {
      val sOld = "r.ring[((ev.rn - 1) % 4) + 1]"
      val lNew = s"((ev.value - $sOld) * 0.5 + (r.l + r.b) * 0.5)"
      val sNew = s"((ev.value - $lNew) * 0.25 + $sOld * 0.75)"
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM events WHERE value IS NOT NULL),
         |r AS (
         |  SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b,
         |    [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
         |     CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)] AS ring
         |  FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT ev.user_id, ev.rn,
         |    $lNew,
         |    ($lNew - r.l) * 0.25 + r.b * 0.75,
         |    [CASE WHEN k = ((ev.rn - 1) % 4) + 1 THEN $sNew
         |          ELSE r.ring[k] END
         |     for k in generate_series(1, 4)]
         |  FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1)
         |SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
         |  round(max_by(l, rn), 6) AS level,
         |  round(max_by(b, rn), 6) AS trend,
         |  round(max_by(ring, rn)[(max(rn) % 4) + 1], 6) AS seasonal_next,
         |  round(max_by(l, rn) + max_by(b, rn)
         |    + max_by(ring, rn)[(max(rn) % 4) + 1], 6) AS forecast
         |FROM r GROUP BY user_id""".stripMargin
    },
    // CUSUM: ALL-INTEGER fold (micro-quantized x, integer target+slack
    // and threshold), so the recursive replay is exact Long arithmetic
    // — no FP anywhere until the final max_stat divide.
    "qe30_cusum" -> {
      val tA = "greatest(CAST(0 AS BIGINT), q - 266000000)"
      val tR = "greatest(CAST(0 AS BIGINT), r.t + (ev.q - 266000000))"
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, CAST(floor(value * 1000000.0) AS BIGINT) AS q,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM events WHERE value IS NOT NULL),
         |r AS (
         |  SELECT user_id, rn, $tA AS t, $tA AS mx,
         |    CASE WHEN $tA > 256000000 THEN CAST(1 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS n,
         |    CASE WHEN $tA > 256000000 THEN CAST(1 AS BIGINT) END AS first
         |  FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT ev.user_id, ev.rn, $tR,
         |    greatest(r.mx, $tR),
         |    r.n + CASE WHEN $tR > 256000000 THEN 1 ELSE 0 END,
         |    coalesce(r.first,
         |      CASE WHEN $tR > 256000000 THEN CAST(ev.rn AS BIGINT) END)
         |  FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1)
         |SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
         |  CAST(max_by(n, rn) AS BIGINT) AS n_alarms,
         |  round(CAST(max_by(mx, rn) AS DOUBLE) / 1000000.0, 6) AS max_stat,
         |  CAST(max_by(first, rn) AS BIGINT) AS first_alarm_rn
         |FROM r GROUP BY user_id""".stripMargin
    },
    // Interval coverage: the sweep-line union replays as one window max
    // over micro-integer bounds — every clamp and sum exact BIGINT.
    "qr2_interval_coverage" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS en
        |  FROM events WHERE value IS NOT NULL AND value > 0),
        |w AS (
        |  SELECT user_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pm
        |  FROM iv)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(CASE WHEN pm IS NULL OR st > pm THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_segments,
        |  CAST(sum(greatest(CAST(0 AS BIGINT),
        |    en - greatest(st, coalesce(pm, st)))) AS BIGINT) AS covered_us,
        |  round(CAST(sum(greatest(CAST(0 AS BIGINT),
        |    en - greatest(st, coalesce(pm, st)))) AS DOUBLE) / 1000000.0, 6)
        |    AS covered_sec
        |FROM w GROUP BY user_id""".stripMargin,
    // Peak concurrency: qr2's interval build, ±1 deltas collapsed per
    // (user, instant) — ends-before-starts falls out of the collapse —
    // then one ordered running sum (instants unique per user after the
    // GROUP BY, so the cumsum is deterministic); peak instant = min t
    // at the max run, replayed as a join instead of the engine's
    // max(struct) — same (peak, t) either way
    "qr4_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS en
        |  FROM events WHERE value IS NOT NULL AND value > 0),
        |pts AS (
        |  SELECT user_id, t, CAST(sum(d) AS BIGINT) AS net,
        |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS starts
        |  FROM (
        |    SELECT user_id, st AS t, 1 AS d FROM iv
        |    UNION ALL
        |    SELECT user_id, en, -1 FROM iv)
        |  GROUP BY user_id, t),
        |run AS (
        |  SELECT user_id, t, starts,
        |    CAST(sum(net) OVER (PARTITION BY user_id ORDER BY t)
        |      AS BIGINT) AS run
        |  FROM pts),
        |agg AS (
        |  SELECT user_id, CAST(sum(starts) AS BIGINT) AS n_intervals,
        |    CAST(max(run) AS BIGINT) AS peak
        |  FROM run GROUP BY user_id)
        |SELECT agg.user_id, agg.n_intervals,
        |  agg.peak AS peak_concurrency,
        |  CAST(min(run.t) AS BIGINT) AS peak_at_us
        |FROM agg JOIN run
        |  ON run.user_id = agg.user_id AND run.run = agg.peak
        |GROUP BY agg.user_id, agg.n_intervals, agg.peak""".stripMargin,
    // Mann-Kendall: S from an rn-ordered pair join over the SAME
    // micro-quantized values, the tie term from a (user, q) group —
    // all exact BIGINT; z is the identical divide/sqrt on identical
    // operands. Sums cast back from DuckDB's HUGEINT.
    "qe31_mann_kendall" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(value * 1000000.0) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events WHERE value IS NOT NULL),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |      FROM ev GROUP BY user_id),
        |s AS (
        |  SELECT a.user_id, CAST(sum(CASE WHEN b.q > a.q THEN 1
        |    WHEN b.q < a.q THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM ev a JOIN ev b
        |    ON b.user_id = a.user_id AND b.rn > a.rn
        |  GROUP BY a.user_id),
        |t AS (
        |  SELECT user_id, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |    AS tie
        |  FROM (SELECT user_id, q, CAST(count(*) AS BIGINT) AS t
        |        FROM ev GROUP BY user_id, q) GROUP BY user_id),
        |v AS (
        |  SELECT n.user_id, n.n AS n_events,
        |    coalesce(s.s_stat, 0) AS s_stat,
        |    n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie, 0) AS var_num
        |  FROM n LEFT JOIN s ON s.user_id = n.user_id
        |  LEFT JOIN t ON t.user_id = n.user_id),
        |z AS (
        |  SELECT user_id, n_events, s_stat, CAST(var_num AS BIGINT)
        |      AS var_num,
        |    CASE WHEN var_num > 0 AND s_stat <> 0
        |      THEN round(CAST(s_stat - sign(s_stat) AS DOUBLE)
        |        / sqrt(CAST(var_num AS DOUBLE) / 18.0), 6)
        |      ELSE 0.0 END AS z_score
        |  FROM v)
        |SELECT user_id, n_events, s_stat, var_num, z_score,
        |  CASE WHEN z_score > 1.959964 THEN 'increasing'
        |       WHEN z_score < -1.959964 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM z""".stripMargin,
    // SCD-2: identical two-window replay — change rows are rn = 1 OR
    // attribute IS DISTINCT FROM its lag (the null-safe marker-struct
    // semantics), validity closes with lead over the filtered set.
    "qj15_scd2" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type,
        |    row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |c AS (
        |  SELECT * FROM b
        |  WHERE rn = 1 OR (event_type IS DISTINCT FROM prev))
        |SELECT user_id, event_type, tsu AS valid_from_us,
        |  lead(tsu) OVER w2 AS valid_to_us,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version,
        |  CASE WHEN lead(tsu) OVER w2 IS NULL THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS is_current
        |FROM c
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY tsu, event_id)"""
        .stripMargin,
    // Benford: same integer digit extraction (first char of the
    // micro-quantized Long's decimal string — never a runtime log10),
    // same literal probabilities, same left-associated 9-term chain.
    "qp5_benford" -> {
      val p = Seq(
        "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
        "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
        "0.05799194697768673", "0.05115252244738129", "0.04575749056067514")
      val cnts = (1 to 9).map(d =>
        s"CAST(sum(CASE WHEN d = $d THEN 1 ELSE 0 END) AS BIGINT) AS d${d}_cnt")
        .mkString(",\n    ")
      val terms = (1 to 9).map { d =>
        val e = s"(CAST(n_values AS DOUBLE) * ${p(d - 1)})"
        s"((CAST(d${d}_cnt AS DOUBLE) - $e) * (CAST(d${d}_cnt AS DOUBLE) - $e) / $e)"
      }.mkString("\n    + ")
      val outCols = (1 to 9).map(d => s"d${d}_cnt").mkString(", ")
      s"""WITH b AS (
         |  SELECT event_type,
         |    CAST(substr(CAST(CAST(floor(abs(value) * 1000000.0) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INT) AS d
         |  FROM events
         |  WHERE value IS NOT NULL
         |    AND CAST(floor(abs(value) * 1000000.0) AS BIGINT) > 0),
         |c AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_values,
         |    $cnts
         |  FROM b GROUP BY event_type),
         |x AS (
         |  SELECT *, round($terms, 6) AS chi_square FROM c)
         |SELECT event_type, n_values, $outCols, chi_square,
         |  CASE WHEN chi_square <= 15.507313 THEN CAST(1 AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS benford_ok
         |FROM x""".stripMargin
    },
    // Overlap join: the oracle is the UNBINNED quadratic pair join over
    // identical half-open micro-integer spans — the binned plan must
    // reproduce its pair SET exactly (once each).
    "qr3_overlap_join" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS en
        |  FROM events WHERE value IS NOT NULL AND value > 0),
        |pairs AS (
        |  SELECT l.user_id,
        |    least(l.en, r.en) - greatest(l.st, r.st) AS overlap_us
        |  FROM iv l JOIN iv r
        |    ON r.user_id = l.user_id
        |   AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
        |   AND l.st < r.en AND r.st < l.en)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(overlap_us) AS BIGINT) AS overlap_us_sum,
        |  CAST(max(overlap_us) AS BIGINT) AS max_overlap_us
        |FROM pairs GROUP BY user_id""".stripMargin,
    // A/B test: exact integer counts from one grouped pass + the same
    // left-associated pooled-variance tree; degenerate pools -> z = 0.
    "qp6_abtest" ->
      """WITH t AS (
        |  SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_b
        |  FROM events),
        |p AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS x_b
        |  FROM events GROUP BY event_type),
        |z AS (
        |  SELECT event_type, n_a, x_a, n_b, x_b,
        |    round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |    round(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |    CASE WHEN sqrt(
        |        (CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0.0
        |      THEN round(
        |        (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |          - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        / sqrt(
        |        (CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |      ELSE 0.0 END AS z_score
        |  FROM p CROSS JOIN t)
        |SELECT event_type, n_a, x_a, n_b, x_b, rate_a, rate_b, z_score,
        |  CASE WHEN abs(z_score) > 1.959964 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS significant
        |FROM z""".stripMargin,
    // ACF: the same exact integer power sums (lag products from an
    // rn-offset self-join) feeding the same fixed IEEE tree — no
    // order-dependent float summation on either side.
    "qe32_acf" -> {
      val lagCte = (1 to 3).map(k =>
        s"""lag$k AS (
           |  SELECT a.user_id, CAST(sum(a.q * b.q) AS BIGINT) AS sxy$k,
           |    CAST(sum(a.q) AS BIGINT) AS sh$k,
           |    CAST(sum(b.q) AS BIGINT) AS st$k
           |  FROM ev a JOIN ev b
           |    ON b.user_id = a.user_id AND b.rn = a.rn + $k
           |  GROUP BY a.user_id)""".stripMargin).mkString(",\n")
      val acfExpr = (1 to 3).map(k =>
        s"""  CASE WHEN n > $k AND
           |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
           |      / CAST(n AS DOUBLE)) > 0.0
           |  THEN round(
           |    (CAST(sxy$k AS DOUBLE)
           |      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
           |        * CAST(sh$k + st$k AS DOUBLE)
           |      + CAST(n - $k AS DOUBLE)
           |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
           |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
           |      / CAST(n AS DOUBLE)), 6)
           |  END AS acf$k""".stripMargin).mkString(",\n")
      s"""WITH ev AS (
         |  SELECT user_id, CAST(floor(value * 100.0) AS BIGINT) AS q,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM events WHERE value IS NOT NULL),
         |base AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(q) AS BIGINT) AS sx, CAST(sum(q * q) AS BIGINT) AS sxx
         |  FROM ev GROUP BY user_id),
         |$lagCte
         |SELECT base.user_id, n AS n_events,
         |$acfExpr
         |FROM base
         |LEFT JOIN lag1 ON lag1.user_id = base.user_id
         |LEFT JOIN lag2 ON lag2.user_id = base.user_id
         |LEFT JOIN lag3 ON lag3.user_id = base.user_id""".stripMargin
    },
    // Correlation matrix: zero-densified day x type grid, exact integer
    // power sums, identical fixed IEEE tree.
    "qp7_corr_matrix" ->
      """WITH c AS (
        |  SELECT epoch_us(ts) // 86400000000 AS u, event_type AS cat,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |units AS (SELECT DISTINCT u FROM c),
        |cats AS (SELECT DISTINCT cat FROM c),
        |filled AS (
        |  SELECT units.u, cats.cat, coalesce(c.n, CAST(0 AS BIGINT)) AS n
        |  FROM units CROSS JOIN cats
        |  LEFT JOIN c ON c.u = units.u AND c.cat = cats.cat),
        |p AS (
        |  SELECT a.cat AS type_a, b.cat AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(a.n) AS BIGINT) AS sa, CAST(sum(b.n) AS BIGINT) AS sb,
        |    CAST(sum(a.n * b.n) AS BIGINT) AS sab,
        |    CAST(sum(a.n * a.n) AS BIGINT) AS saa,
        |    CAST(sum(b.n * b.n) AS BIGINT) AS sbb
        |  FROM filled a JOIN filled b ON b.u = a.u AND a.cat < b.cat
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_units,
        |  CASE WHEN
        |      (CAST(n_units AS DOUBLE) * CAST(saa AS DOUBLE)
        |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0.0
        |    AND
        |      (CAST(n_units AS DOUBLE) * CAST(sbb AS DOUBLE)
        |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0.0
        |  THEN round(
        |    (CAST(n_units AS DOUBLE) * CAST(sab AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |    / sqrt(
        |      (CAST(n_units AS DOUBLE) * CAST(saa AS DOUBLE)
        |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |      * (CAST(n_units AS DOUBLE) * CAST(sbb AS DOUBLE)
        |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
        |  END AS pearson_r
        |FROM p""".stripMargin,
    // Seasonal decomposition: identical lag/lead 2x4-MA numerators over
    // centi-quantized values — exact BIGINT until the one final divide.
    "qe33_decompose" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(value * 100.0) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT user_id, rn, n, q,
        |    lag(q, 2) OVER w + lag(q, 1) OVER w * 2 + q * 2
        |      + lead(q, 1) OVER w * 2 + lead(q, 2) OVER w AS ma8
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY rn))
        |SELECT user_id, CAST((rn - 1) % 4 AS INT) AS slot,
        |  CAST(count(*) AS BIGINT) AS n_terms,
        |  round(CAST(sum(q * 8 - ma8) AS DOUBLE)
        |    / (800.0 * CAST(count(*) AS DOUBLE)), 6) AS seasonal
        |FROM m WHERE rn >= 3 AND rn <= n - 2
        |GROUP BY user_id, slot""".stripMargin,
    // Point-in-time join: the scd2 replay deduped per instant, then
    // DuckDB's native ASOF JOIN binds each fact to its valid version.
    "qj16_pit_join" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type,
        |    row_number() OVER w AS rn, lag(event_type) OVER w AS prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |c AS (
        |  SELECT * FROM b
        |  WHERE rn = 1 OR (event_type IS DISTINCT FROM prev)),
        |v AS (
        |  SELECT user_id, tsu,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY tsu, event_id) AS BIGINT) AS version
        |  FROM c),
        |dim AS (
        |  SELECT user_id, tsu, max(version) AS version
        |  FROM v GROUP BY user_id, tsu),
        |f AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events)
        |SELECT f.user_id, d.version AS version,
        |  CAST(count(*) AS BIGINT) AS n_facts
        |FROM f ASOF JOIN dim d
        |  ON f.user_id = d.user_id AND f.tsu >= d.tsu
        |GROUP BY f.user_id, d.version""".stripMargin,
    // Message passing: the identical integer rounds as chained CTEs —
    // edges MATERIALIZED (referenced every round; DuckDB inlines plain
    // CTEs and re-expands the join chain each reference).
    "qg16_msg_pass" ->
      s"""WITH ${nationEdgesCte("CAST(count(*) AS BIGINT)", materialized = true)},
         |nodes AS MATERIALIZED (
         |  SELECT src AS node FROM edges
         |  UNION SELECT dst FROM edges),
         |h0 AS MATERIALIZED (
         |  SELECT n.node, CAST(coalesce(o.s, 0) AS BIGINT) AS feature
         |  FROM nodes n LEFT JOIN (
         |    SELECT src AS node, CAST(sum(w) AS BIGINT) AS s
         |    FROM edges GROUP BY 1) o ON o.node = n.node),
         |h1 AS MATERIALIZED (
         |  SELECT h.node,
         |    CAST(h.feature + coalesce(m.s, 0) AS BIGINT) AS feature
         |  FROM h0 h LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(e.w * h.feature) AS BIGINT) AS s
         |    FROM edges e JOIN h0 h ON h.node = e.src GROUP BY 1) m
         |    ON m.node = h.node),
         |h2 AS (
         |  SELECT h.node,
         |    CAST(h.feature + coalesce(m.s, 0) AS BIGINT) AS feature
         |  FROM h1 h LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(e.w * h.feature) AS BIGINT) AS s
         |    FROM edges e JOIN h1 h ON h.node = e.src GROUP BY 1) m
         |    ON m.node = h.node)
         |SELECT CAST(node AS BIGINT) AS node, feature FROM h2""".stripMargin,
    // MMR: pool + pairwise sims are the qs1 rounded-cosine replay; the
    // greedy replays as a recursive CTE carrying the picked set as a
    // LIST, argmax per step as max over a (score, -id) struct — the
    // objective is one subtract on identical 6-dp operands.
    "qs12_mmr" -> {
      val qv = Array.tabulate(64)(i => math.sin(i * 0.7 + 0.3)) // same probe as qs12
        .map(_.toString)
        .mkString("[", ", ", "]")
      s"""WITH RECURSIVE cand AS MATERIALIZED (
         |  SELECT vec_id, emb,
         |    round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |               ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS rel
         |  FROM (
         |    SELECT vec_id, embedding AS emb,
         |      sum(CAST(embedding[t.i] AS DOUBLE) * qv[t.i]) AS dot,
         |      sum(CAST(embedding[t.i] AS DOUBLE)
         |        * CAST(embedding[t.i] AS DOUBLE)) AS na,
         |      sum(qv[t.i] * qv[t.i]) AS nb
         |    FROM (SELECT vec_id, embedding, $qv::DOUBLE[] AS qv
         |          FROM embeddings)
         |    CROSS JOIN generate_series(1, 64) AS t(i)
         |    GROUP BY vec_id, embedding)
         |  ORDER BY rel DESC, vec_id LIMIT 30),
         |ps AS MATERIALIZED (
         |  SELECT ai, bi,
         |    round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |               ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s
         |  FROM (
         |    SELECT a.vec_id AS ai, b.vec_id AS bi,
         |      sum(CAST(a.emb[t.i] AS DOUBLE) * CAST(b.emb[t.i] AS DOUBLE))
         |        AS dot,
         |      sum(CAST(a.emb[t.i] AS DOUBLE) * CAST(a.emb[t.i] AS DOUBLE))
         |        AS na,
         |      sum(CAST(b.emb[t.i] AS DOUBLE) * CAST(b.emb[t.i] AS DOUBLE))
         |        AS nb
         |    FROM cand a JOIN cand b ON b.vec_id <> a.vec_id
         |    CROSS JOIN generate_series(1, 64) AS t(i)
         |    GROUP BY 1, 2)),
         |r AS (
         |  (SELECT 1 AS mmr_rank, vec_id, round(0.5 * rel - 0.5 * 0.0, 6)
         |      AS mmr_score, [vec_id] AS picked
         |   FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
         |  UNION ALL
         |  SELECT t.mmr_rank + 1, (t.mx).id, round((t.mx).s, 6),
         |    list_append(t.picked, (t.mx).id)
         |  FROM (
         |    SELECT r.mmr_rank AS mmr_rank, r.picked AS picked,
         |      max({'s': 0.5 * c.rel - 0.5 * coalesce((
         |             SELECT max(ps.s) FROM ps
         |             WHERE ps.ai = c.vec_id
         |               AND list_contains(r.picked, ps.bi)), 0.0),
         |           'tb': -c.vec_id, 'id': c.vec_id}) AS mx
         |    FROM r JOIN cand c ON NOT list_contains(r.picked, c.vec_id)
         |    WHERE r.mmr_rank < 10
         |    GROUP BY r.mmr_rank, r.picked) t)
         |SELECT mmr_rank, vec_id, mmr_score FROM r""".stripMargin
    },
    // Kaplan-Meier: integer day table + desc-window suffix-sum risks;
    // the survival prefix product replays as a recursive CTE (anchor
    // 1.0*f1 = f1 is IEEE-exact, every literal CAST to DOUBLE).
    "qe34_kaplan_meier" ->
      """WITH RECURSIVE s AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t0,
        |    min(CASE WHEN event_type = 'purchase'
        |             THEN epoch_us(ts) END) AS td,
        |    max(epoch_us(ts)) AS tmax
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT (coalesce(td, tmax) - t0) // 86400000000 AS dur,
        |    CASE WHEN td IS NOT NULL THEN 1 ELSE 0 END AS evt
        |  FROM s),
        |g AS (
        |  SELECT dur, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(evt) AS BIGINT) AS dd
        |  FROM d GROUP BY dur),
        |w AS (
        |  SELECT dur, n, dd,
        |    CAST(sum(n) OVER (ORDER BY dur DESC) AS BIGINT) AS risk,
        |    row_number() OVER (ORDER BY dur) AS rn
        |  FROM g),
        |r AS (
        |  SELECT rn, dur, n, dd, risk,
        |    CAST(1.0 AS DOUBLE)
        |      - CAST(dd AS DOUBLE) / CAST(risk AS DOUBLE) AS surv
        |  FROM w WHERE rn = 1
        |  UNION ALL
        |  SELECT w.rn, w.dur, w.n, w.dd, w.risk,
        |    r.surv * (CAST(1.0 AS DOUBLE)
        |      - CAST(w.dd AS DOUBLE) / CAST(w.risk AS DOUBLE))
        |  FROM r JOIN w ON w.rn = r.rn + 1)
        |SELECT dur AS dur_days, risk AS n_risk, dd AS n_death,
        |  CAST(n - dd AS BIGINT) AS n_censor, round(surv, 6) AS survival
        |FROM r""".stripMargin,
    // Calibration/ECE: micro-quantized per-bin sums, single divides,
    // and the ECE as an ORDERED list fold (list(term ORDER BY bin) +
    // list_reduce) replaying Spark's bin-sorted aggregate exactly.
    "qp8_calibration" ->
      """WITH b AS (
        |  SELECT greatest(CAST(0 AS BIGINT),
        |      least(CAST(floor(value / 500.0 * 10) AS BIGINT),
        |            CAST(9 AS BIGINT))) AS bin,
        |    CAST(floor(value / 500.0 * 1000000.0) AS BIGINT) AS cq,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cq) AS BIGINT) AS sq, CAST(sum(y) AS BIGINT) AS sy
        |  FROM b GROUP BY bin),
        |nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g),
        |terms AS (
        |  SELECT g.bin,
        |    CAST(g.n AS DOUBLE) / CAST(nt.n_total AS DOUBLE)
        |      * abs(CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE)
        |        - CAST(g.sq AS DOUBLE) / (1000000.0 * CAST(g.n AS DOUBLE)))
        |      AS term
        |  FROM g CROSS JOIN nt),
        |t AS (
        |  SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(term ORDER BY bin)), (a, x) -> a + x), 6) AS ece
        |  FROM terms)
        |SELECT g.bin, g.n AS n_values,
        |  round(CAST(g.sq AS DOUBLE) / (1000000.0 * CAST(g.n AS DOUBLE)), 6)
        |    AS avg_conf,
        |  round(CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS accuracy,
        |  nt.n_total, t.ece
        |FROM g CROSS JOIN nt CROSS JOIN t""".stripMargin,
    // Log-rank: zero-state anchor at rn 0, then the identical ordered
    // accumulation of integer at-risk counts and IEEE E/V terms.
    "qe35_logrank" -> {
      val rt = "(t.n1 - r.p1 + t.n0 - r.p0)"
      val dt = "(g.d1 + g.d0)"
      s"""WITH RECURSIVE s AS (
         |  SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase'
         |             THEN epoch_us(ts) END) AS td,
         |    max(epoch_us(ts)) AS tmax,
         |    max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS grp
         |  FROM events GROUP BY user_id),
         |d AS (
         |  SELECT (coalesce(td, tmax) - t0) // 86400000000 AS dur,
         |    CASE WHEN td IS NOT NULL THEN 1 ELSE 0 END AS evt, grp
         |  FROM s),
         |gd AS (
         |  SELECT dur, CAST(sum(grp) AS BIGINT) AS n1c,
         |    CAST(sum(1 - grp) AS BIGINT) AS n0c,
         |    CAST(sum(grp * evt) AS BIGINT) AS d1,
         |    CAST(sum((1 - grp) * evt) AS BIGINT) AS d0,
         |    row_number() OVER (ORDER BY dur) AS rn
         |  FROM d GROUP BY dur),
         |tot AS (
         |  SELECT CAST(sum(n1c) AS BIGINT) AS n1,
         |    CAST(sum(n0c) AS BIGINT) AS n0 FROM gd),
         |r AS (
         |  SELECT 0 AS rn, CAST(0 AS BIGINT) AS p1, CAST(0 AS BIGINT) AS p0,
         |    CAST(0 AS BIGINT) AS o, CAST(0.0 AS DOUBLE) AS e,
         |    CAST(0.0 AS DOUBLE) AS v
         |  UNION ALL
         |  SELECT g.rn, r.p1 + g.n1c, r.p0 + g.n0c, r.o + g.d1,
         |    r.e + CASE WHEN $dt > 0
         |      THEN CAST($dt AS DOUBLE) * CAST(t.n1 - r.p1 AS DOUBLE)
         |        / CAST($rt AS DOUBLE) ELSE 0.0 END,
         |    r.v + CASE WHEN $dt > 0 AND $rt > 1
         |      THEN CAST($dt AS DOUBLE)
         |        * (CAST(t.n1 - r.p1 AS DOUBLE) / CAST($rt AS DOUBLE))
         |        * (CAST(t.n0 - r.p0 AS DOUBLE) / CAST($rt AS DOUBLE))
         |        * (CAST($rt - $dt AS DOUBLE) / CAST($rt - 1 AS DOUBLE))
         |      ELSE 0.0 END
         |  FROM r JOIN gd g ON g.rn = r.rn + 1 CROSS JOIN tot t),
         |fin AS (SELECT * FROM r ORDER BY rn DESC LIMIT 1)
         |SELECT o AS o1, round(e, 6) AS e1, round(v, 6) AS v1,
         |  CASE WHEN v > 0.0 THEN round((CAST(o AS DOUBLE) - e)
         |    * (CAST(o AS DOUBLE) - e) / v, 6) ELSE 0.0 END AS chi_square,
         |  CASE WHEN v > 0.0 THEN round((CAST(o AS DOUBLE) - e)
         |    / sqrt(v), 6) ELSE 0.0 END AS z_score,
         |  CASE WHEN abs(CASE WHEN v > 0.0 THEN round((CAST(o AS DOUBLE) - e)
         |      / sqrt(v), 6) ELSE 0.0 END) > 1.959964
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS significant
         |FROM fin""".stripMargin
    },
    // Changepoint: identical integer deviations from window prefix
    // sums; the argmax picks by (dev DESC, k ASC) — exact Long compare.
    "qe36_changepoint" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(value * 100.0) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT user_id, rn, q,
        |    CAST(sum(q) OVER (PARTITION BY user_id ORDER BY rn)
        |      AS BIGINT) AS p,
        |    CAST(sum(q) OVER (PARTITION BY user_id) AS BIGINT) AS t,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM ev),
        |d AS (
        |  SELECT user_id, n, t, CAST(rn AS BIGINT) AS k, p,
        |    abs(n * p - CAST(rn AS BIGINT) * t) AS dev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY abs(n * p - CAST(rn AS BIGINT) * t) DESC, rn) AS pick
        |  FROM w WHERE rn < n AND n >= 2)
        |SELECT user_id, n AS n_events, k AS split_rn,
        |  CAST(dev AS BIGINT) AS deviation,
        |  round(CAST(p AS DOUBLE) / (100.0 * CAST(k AS DOUBLE)), 6)
        |    AS mean_before,
        |  round(CAST(t - p AS DOUBLE) / (100.0 * CAST(n - k AS DOUBLE)), 6)
        |    AS mean_after
        |FROM d WHERE pick = 1""".stripMargin,
    // NDCG: the qs1 rounded-cosine top-10 joined to integer labels,
    // LITERAL discount weights indexed by rank, both folds via
    // list(term ORDER BY rank) + list_reduce.
    "qs13_ndcg" -> {
      val qv = Array.tabulate(64)(i => math.sin(i * 0.33 + 0.7)) // same probe as qs13
        .map(_.toString)
        .mkString("[", ", ", "]")
      val wt = Seq(1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
        0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
        0.31546487678572877, 0.3010299956639812, 0.2890648263178879)
        .map(_.toString).mkString("[", ", ", "]")
      s"""WITH ranked AS (
         |  SELECT vec_id, sim,
         |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
         |  FROM (
         |    SELECT vec_id,
         |      round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |                 ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
         |    FROM (
         |      SELECT vec_id,
         |        sum(CAST(embedding[t.i] AS DOUBLE) * qv[t.i]) AS dot,
         |        sum(CAST(embedding[t.i] AS DOUBLE)
         |          * CAST(embedding[t.i] AS DOUBLE)) AS na,
         |        sum(qv[t.i] * qv[t.i]) AS nb
         |      FROM (SELECT vec_id, embedding, $qv::DOUBLE[] AS qv
         |            FROM embeddings)
         |      CROSS JOIN generate_series(1, 64) AS t(i)
         |      GROUP BY vec_id))
         |  ORDER BY sim DESC, vec_id LIMIT 10),
         |dcg AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(CAST(e.label AS DOUBLE) * ($wt::DOUBLE[])[r.rnk]
         |      ORDER BY r.rnk)), (a, x) -> a + x) AS d
         |  FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id),
         |ideal AS (
         |  SELECT label, row_number() OVER (ORDER BY label DESC, vec_id)
         |    AS rnk
         |  FROM embeddings ORDER BY label DESC, vec_id LIMIT 10),
         |idcg AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(CAST(label AS DOUBLE) * ($wt::DOUBLE[])[rnk]
         |      ORDER BY rnk)), (a, x) -> a + x) AS d
         |  FROM ideal)
         |SELECT round(dcg.d, 6) AS dcg, round(idcg.d, 6) AS idcg,
         |  CASE WHEN idcg.d > 0.0 THEN round(dcg.d / idcg.d, 6)
         |       ELSE 0.0 END AS ndcg,
         |  CAST(10 AS INT) AS k
         |FROM dcg CROSS JOIN idcg""".stripMargin
    },
    // Chi-square independence: zero-densified grid, integer margins,
    // ordered cell fold, same fixed tree for chi2 and Cramér's V.
    "qp9_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type AS a, CAST(user_id % 2 AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT aa.a, bb.b, coalesce(c.o, CAST(0 AS BIGINT)) AS o
        |  FROM (SELECT DISTINCT a FROM cells) aa
        |  CROSS JOIN (SELECT DISTINCT b FROM cells) bb
        |  LEFT JOIN cells c ON c.a = aa.a AND c.b = bb.b),
        |m AS (
        |  SELECT g.a, g.b, g.o, ra.ra, cb.cb
        |  FROM grid g
        |  JOIN (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM grid GROUP BY a)
        |    ra ON ra.a = g.a
        |  JOIN (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM grid GROUP BY b)
        |    cb ON cb.b = g.b),
        |tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT b) AS BIGINT) AS c
        |  FROM grid),
        |chi AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list((CAST(m.o AS DOUBLE)
        |        - CAST(m.ra * m.cb AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * (CAST(m.o AS DOUBLE)
        |        - CAST(m.ra * m.cb AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      / (CAST(m.ra * m.cb AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      ORDER BY m.a, m.b)), (x, y) -> x + y) AS chi
        |  FROM m CROSS JOIN tot t)
        |SELECT t.n AS n_total, t.r AS n_rows, t.c AS n_cols,
        |  CAST((t.r - 1) * (t.c - 1) AS BIGINT) AS dof,
        |  round(chi.chi, 6) AS chi_square,
        |  CASE WHEN least(t.r - 1, t.c - 1) >= 1 AND t.n > 0
        |    THEN round(sqrt(chi.chi / (CAST(t.n AS DOUBLE)
        |      * CAST(least(t.r - 1, t.c - 1) AS DOUBLE))), 6)
        |    ELSE 0.0 END AS cramers_v
        |FROM tot t CROSS JOIN chi""".stripMargin,
    // Good-Turing: the qt36 tokenization contract, all-integer
    // frequency-of-frequencies, two final divides.
    "qt37_good_turing" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM w WHERE w <> '' GROUP BY w),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1_hapax,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2_doubleton
        |  FROM c)
        |SELECT vocab, n_tokens, n1_hapax, n2_doubleton,
        |  round(CAST(n1_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS unseen_mass,
        |  CASE WHEN n1_hapax > 0
        |    THEN round(2.0 * CAST(n2_doubleton AS DOUBLE)
        |      / CAST(n1_hapax AS DOUBLE), 6)
        |    ELSE 0.0 END AS adj_count_1
        |FROM s""".stripMargin,
    // KS: identical RANGE-frame cumulative counts (the default frame
    // with ORDER BY — includes all value peers, so tie order is moot),
    // integer supremum, two IEEE ops.
    "qp10_ks_test" ->
      """WITH b AS (
        |  SELECT event_type AS k,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS q,
        |    CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS a
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT k,
        |    CAST(sum(a) OVER (PARTITION BY k ORDER BY q) AS BIGINT) AS ca,
        |    CAST(sum(1 - a) OVER (PARTITION BY k ORDER BY q) AS BIGINT)
        |      AS cb,
        |    CAST(sum(a) OVER (PARTITION BY k) AS BIGINT) AS na,
        |    CAST(sum(1 - a) OVER (PARTITION BY k) AS BIGINT) AS nb
        |  FROM b),
        |g AS (
        |  SELECT k AS event_type, max(na) AS n_a, max(nb) AS n_b,
        |    max(abs(ca * nb - cb * na)) AS dn
        |  FROM w GROUP BY k),
        |z AS (
        |  SELECT event_type, n_a, n_b,
        |    round(CAST(dn AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6)
        |      AS d_stat,
        |    round(CAST(dn AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
        |      * sqrt(CAST(n_a * n_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE)), 6) AS ks_stat
        |  FROM g WHERE n_a > 0 AND n_b > 0)
        |SELECT event_type, n_a, n_b, d_stat, ks_stat,
        |  CASE WHEN ks_stat > 1.358 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS significant
        |FROM z""".stripMargin,
    // Mann-Whitney: identical doubled midranks (2*rank_lo + tie - 1),
    // exact 2U, tie-corrected variance from integer t^3 - t sums, one
    // fixed IEEE tree.
    "qe37_mann_whitney" ->
      """WITH b AS (
        |  SELECT event_type AS k,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS q,
        |    CASE WHEN user_id % 2 = 0 THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS a
        |  FROM events WHERE value IS NOT NULL),
        |rk AS (
        |  SELECT k, a,
        |    2 * CAST(rank() OVER (PARTITION BY k ORDER BY q) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY k, q) AS BIGINT) - 1
        |      AS r2
        |  FROM b),
        |tc AS (
        |  SELECT k, CAST(sum(t * t * t - t) AS BIGINT) AS tcorr
        |  FROM (SELECT k, q, CAST(count(*) AS BIGINT) AS t
        |        FROM b GROUP BY k, q) GROUP BY k),
        |g AS (
        |  SELECT rk.k, CAST(sum(a) AS BIGINT) AS n_a,
        |    CAST(sum(1 - a) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN a = 1 THEN r2 ELSE 0 END) AS BIGINT) AS r2a
        |  FROM rk GROUP BY rk.k),
        |z AS (
        |  SELECT g.k AS event_type, n_a, n_b,
        |    r2a - n_a * (n_a + 1) AS u2,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |      * (CAST(n_a + n_b + 1 AS DOUBLE)
        |        - CAST(tc.tcorr AS DOUBLE)
        |          / (CAST(n_a + n_b AS DOUBLE)
        |            * CAST(n_a + n_b - 1 AS DOUBLE))) AS sig2
        |  FROM g JOIN tc ON tc.k = g.k
        |  WHERE n_a > 0 AND n_b > 0 AND n_a + n_b > 1),
        |f AS (
        |  SELECT event_type, n_a, n_b,
        |    round(CAST(u2 AS DOUBLE) / 2.0, 6) AS u_stat,
        |    CASE WHEN sig2 > 0.0
        |      THEN round(CAST(u2 - n_a * n_b AS DOUBLE)
        |        / (2.0 * sqrt(sig2)), 6)
        |      ELSE 0.0 END AS z_score
        |  FROM z)
        |SELECT event_type, n_a, n_b, u_stat, z_score,
        |  CASE WHEN abs(z_score) > 1.959964 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS significant
        |FROM f""".stripMargin,
    // ANOVA: identical integer (n, Σq, Σq²) per group, SSB folded in
    // sorted-group order (list_reduce replays Spark's sorted-array
    // aggregate term for term), fixed IEEE tree on top.
    "qp11_anova" ->
      """WITH b AS (
        |  SELECT event_type AS g,
        |    CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |grp AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS s,
        |    CAST(sum(q * q) AS BIGINT) AS qq
        |  FROM b GROUP BY g),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS n_tot,
        |    CAST(sum(s) AS BIGINT) AS s_tot,
        |    CAST(sum(qq) AS BIGINT) AS qq_tot,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(n AS DOUBLE) ORDER BY g)),
        |      (x, y) -> x + y) AS sb_raw
        |  FROM grp),
        |z AS (
        |  SELECT n_tot AS n, k,
        |    sb_raw - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
        |      / CAST(n_tot AS DOUBLE) AS ssb,
        |    CAST(qq_tot AS DOUBLE) - CAST(s_tot AS DOUBLE)
        |      * CAST(s_tot AS DOUBLE)
        |      / CAST(n_tot AS DOUBLE) AS sst
        |  FROM tot WHERE k > 0)
        |SELECT n AS n_total, k AS n_groups,
        |  k - 1 AS df_between, n - k AS df_within,
        |  round(ssb / 10000.0, 4) AS ss_between,
        |  round((sst - ssb) / 10000.0, 4) AS ss_within,
        |  CASE WHEN sst - ssb > 0.0 AND k > 1 AND n > k
        |    THEN round((ssb / CAST(k - 1 AS DOUBLE))
        |      / ((sst - ssb) / CAST(n - k AS DOUBLE)), 6) END AS f_stat,
        |  CASE WHEN sst > 0.0 THEN round(ssb / sst, 6) END AS eta_sq
        |FROM z""".stripMargin,
    // Mutual information: exact integer cell/margin counts; each log
    // argument is ONE divide of exact integer products (the qt36 ratio
    // rule); MI and both entropies fold in sorted-cell/sorted-margin
    // order (list_reduce = Spark's ordered aggregate, term for term);
    // nmi divides the UNROUNDED sums.
    "qp12_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |mi AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
        |      * ln(CAST(o * n AS DOUBLE) / CAST(ra * cb AS DOUBLE))
        |      ORDER BY a, b)), (x, y) -> x + y) AS mi
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nn),
        |ha AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ka,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(-(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE)
        |        * ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))) ORDER BY a)),
        |      (x, y) -> x + y) AS ha
        |  FROM ra CROSS JOIN nn),
        |hb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS kb,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(-(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)
        |        * ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))) ORDER BY b)),
        |      (x, y) -> x + y) AS hb
        |  FROM cb CROSS JOIN nn)
        |SELECT n AS n_total, ka AS n_a, kb AS n_b,
        |  round(mi, 6) AS mi, round(ha, 6) AS h_a, round(hb, 6) AS h_b,
        |  CASE WHEN ha > 0.0 AND hb > 0.0
        |    THEN round(mi / sqrt(ha * hb), 6) END AS nmi
        |FROM mi CROSS JOIN ha CROSS JOIN hb CROSS JOIN nn""".stripMargin,
    // Stupid backoff: qt12's tokenization; seen bigrams score the raw
    // integer ratio c12/c1, unseen back off to 0.4 * add-one unigram —
    // each score one or two IEEE ops on exact counts, avg(ln) readout
    "qt39_backoff_lm" ->
      """WITH tr AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 2 = 0),
        |ev AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 2 = 1),
        |tb AS (
        |  SELECT tk[i] AS w1, tk[i+1] AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM tr)
        |  GROUP BY 1, 2),
        |tu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM tb GROUP BY w1),
        |ug AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS cu
        |  FROM (SELECT unnest(tk) AS w2 FROM tr) GROUP BY w2),
        |tot AS (
        |  SELECT CAST(sum(cu) AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS vv
        |  FROM ug),
        |eb AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
        |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM ev)),
        |sc AS (
        |  SELECT e.doc_id,
        |    CASE WHEN tb.c12 IS NOT NULL AND tu.c1 > 0
        |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS seen,
        |    CASE WHEN tb.c12 IS NOT NULL AND tu.c1 > 0
        |      THEN CAST(tb.c12 AS DOUBLE) / CAST(tu.c1 AS DOUBLE)
        |      ELSE 0.4 * CAST(coalesce(ug.cu, 0) + 1 AS DOUBLE)
        |        / CAST(tt + vv AS DOUBLE) END AS s
        |  FROM eb e
        |  LEFT JOIN tb USING (w1, w2)
        |  LEFT JOIN tu USING (w1)
        |  LEFT JOIN ug USING (w2)
        |  CROSS JOIN tot)
        |SELECT doc_id, round(avg(ln(s)), 6) AS backoff_score,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(seen) AS BIGINT) AS n_seen
        |FROM sc GROUP BY doc_id""".stripMargin,
    // Per-node clustering coefficient: canonical edge replay, triangles
    // enumerated as ordered triples (a<b<c by the join structure), each
    // crediting its three corners; coef = 2t/(d(d-1)), deg<2 null
    "qg17_clustering_coef" ->
      s"""WITH ${ordersGraphCtes(3, 80)},
         |deg AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1
         |  JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tpn AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS t FROM (
         |    SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
         |    UNION ALL SELECT z AS v FROM tri) GROUP BY v)
         |SELECT d.v AS node, d.deg,
         |  CAST(coalesce(t.t, 0) AS BIGINT) AS triangles,
         |  CASE WHEN d.deg >= 2 THEN
         |    round(CAST(2 * coalesce(t.t, 0) AS DOUBLE)
         |      / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) END AS clustering_coef
         |FROM deg d LEFT JOIN tpn t ON t.v = d.v""".stripMargin,
    // Bollinger: identical ROWS-frame window power sums (exact Longs),
    // the same fixed mean/sd/band IEEE tree, full windows only, and the
    // breakout compares the same quantized doubles
    "qe43_bollinger" ->
      """WITH b AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
        |    CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT k, tie, q,
        |    CAST(count(*) OVER win AS BIGINT) AS n,
        |    CAST(sum(q) OVER win AS BIGINT) AS sq,
        |    CAST(sum(q * q) OVER win AS BIGINT) AS sqq
        |  FROM b
        |  WINDOW win AS (PARTITION BY k ORDER BY t, tie
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT * FROM w WHERE n = 5),
        |c AS (
        |  SELECT k, tie, q,
        |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS m,
        |    sqrt(CAST(n * sqq - sq * sq AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0 AS sd
        |  FROM f)
        |SELECT k AS user_id, tie AS event_id,
        |  round(m, 6) AS band_mean, round(sd, 6) AS band_sd,
        |  round(m + 1.0 * sd, 6) AS band_upper,
        |  round(m - 1.0 * sd, 6) AS band_lower,
        |  CASE WHEN CAST(q AS DOUBLE) / 100.0 > m + 1.0 * sd THEN CAST(1 AS BIGINT)
        |       WHEN CAST(q AS DOUBLE) / 100.0 < m - 1.0 * sd THEN CAST(-1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS breakout
        |FROM c""".stripMargin,
    // Audio decimation: the qm6 PCM formula, floor-mean pairs. NOTE:
    // DuckDB's // TRUNCATES toward zero on negatives (measured:
    // -62805 // 2 = -31402), so Math.floorDiv's floor is spelled via
    // an explicit floor() on an exact small double
    "qm15_audio_resample" ->
      """WITH s AS (
        |  SELECT d.doc_id, t.j AS j,
        |    CAST(floor(CAST(
        |      (((2 * t.j) * 2731 + d.doc_id * 17) % 65536) - 32768
        |    + (((2 * t.j + 1) * 2731 + d.doc_id * 17) % 65536) - 32768
        |    AS DOUBLE) / 2.0) AS BIGINT) AS v
        |  FROM documents d CROSS JOIN generate_series(0, 511) t(j))
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(512 AS BIGINT) AS n_samples,
        |  CAST(sum(v * (j + 1)) AS BIGINT) AS checksum,
        |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / 512.0), 6) AS rms
        |FROM s GROUP BY doc_id""".stripMargin,
    // Gini: exact integer rank-weighted sum (2*Sum(i*q) - (n+1)*Sum(q));
    // intra-tie row_number order can't change it (equal values swap
    // coefficients), so no tie-break key is needed; one IEEE divide
    "qp13_gini" ->
      """WITH b AS (
        |  SELECT event_type AS k, CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL AND value >= 0.0),
        |r AS (
        |  SELECT k, q,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY q) AS BIGINT) AS i
        |  FROM b),
        |a AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq,
        |    CAST(sum(i * q) AS BIGINT) AS siq
        |  FROM r GROUP BY k)
        |SELECT k AS event_type, n AS n_events,
        |  round(CAST(sq AS DOUBLE) / 100.0, 2) AS total_value,
        |  CASE WHEN sq > 0 THEN
        |    round(CAST(2 * siq - (n + 1) * sq AS DOUBLE)
        |      / CAST(n * sq AS DOUBLE), 6) END AS gini
        |FROM a""".stripMargin,
    // RFM: integer metrics (floor-div days, counts, cents), thresholds
    // = values at ascending ranks ceil(i*N/5) (list-indexed selection),
    // score = 1 + #{thresholds strictly below}; recency inverts
    "qe42_rfm" ->
      """WITH m AS (
        |  SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(floor(coalesce(value, 0.0) * 100.0) AS BIGINT))
        |      AS BIGINT) AS cents,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY user_id),
        |mm AS (SELECT max(last_us) AS mx FROM m),
        |met AS (
        |  SELECT user_id, (mx - last_us) // 86400000000 AS rec,
        |    n_events, cents
        |  FROM m CROSS JOIN mm),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM met),
        |th AS (
        |  SELECT
        |    list(CAST(rec AS DOUBLE) ORDER BY rec) AS trs,
        |    list(CAST(n_events AS DOUBLE) ORDER BY n_events) AS tfs,
        |    list(CAST(cents AS DOUBLE) ORDER BY cents) AS tms
        |  FROM met),
        |sc AS (
        |  SELECT user_id, rec, n_events, cents,
        |    1 + CAST(CAST(rec AS DOUBLE) > trs[CAST((1 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(rec AS DOUBLE) > trs[CAST((2 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(rec AS DOUBLE) > trs[CAST((3 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(rec AS DOUBLE) > trs[CAST((4 * nu + 4) // 5 AS INT)] AS INT) AS ra,
        |    1 + CAST(CAST(n_events AS DOUBLE) > tfs[CAST((1 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(n_events AS DOUBLE) > tfs[CAST((2 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(n_events AS DOUBLE) > tfs[CAST((3 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(n_events AS DOUBLE) > tfs[CAST((4 * nu + 4) // 5 AS INT)] AS INT) AS fa,
        |    1 + CAST(CAST(cents AS DOUBLE) > tms[CAST((1 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(cents AS DOUBLE) > tms[CAST((2 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(cents AS DOUBLE) > tms[CAST((3 * nu + 4) // 5 AS INT)] AS INT)
        |      + CAST(CAST(cents AS DOUBLE) > tms[CAST((4 * nu + 4) // 5 AS INT)] AS INT) AS ma
        |  FROM met CROSS JOIN th CROSS JOIN nn)
        |SELECT user_id, rec AS recency_days, n_events,
        |  round(CAST(cents AS DOUBLE) / 100.0, 2) AS monetary,
        |  CAST(6 - ra AS BIGINT) AS r_score,
        |  CAST(fa AS BIGINT) AS f_score,
        |  CAST(ma AS BIGINT) AS m_score,
        |  CAST((6 - ra) * 100 + fa * 10 + ma AS BIGINT) AS segment
        |FROM sc""".stripMargin,
    // IVF·PQ: the qd14 coarse assignment (8 seed cells, round-6dp L2²
    // argmin) + the query's own 2-probe cell pick by the same rule,
    // then the qs7 fine ADC (16-seed 8-subspace codebook) over the
    // probed subset only
    "qs15_ivfpq" ->
      s"""WITH cseeds AS (
         |  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS cc
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
         |cd AS (
         |  SELECT e.vec_id, s.cc,
         |    round(list_sum(list_transform(generate_series(1, 64), j ->
         |      pow(CAST(e.embedding[j] AS DOUBLE) - CAST(s.embedding[j] AS DOUBLE), 2))), 6) AS d2
         |  FROM embeddings e CROSS JOIN cseeds s),
         |assign AS (
         |  SELECT vec_id, cc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cc) AS rn
         |    FROM cd)
         |  WHERE rn = 1),
         |qp AS (
         |  SELECT cc FROM (
         |    SELECT cc,
         |      row_number() OVER (ORDER BY
         |        round(list_sum(list_transform(generate_series(1, 64), j ->
         |          pow(qv[j] - CAST(s.embedding[j] AS DOUBLE), 2))), 6), cc) AS rn
         |    FROM cseeds s CROSS JOIN (SELECT $pqQuery::DOUBLE[] AS qv))
         |  WHERE rn <= 2),
         |sub AS (
         |  SELECT vec_id FROM assign WHERE cc IN (SELECT cc FROM qp)),
         |${pqAdcCtes("embeddings e\n  JOIN sub USING (vec_id)\n  CROSS JOIN cb")}
         |SELECT vec_id, adc FROM adc0 ORDER BY adc, vec_id LIMIT 50""".stripMargin,
    // Focal mean: the raster regenerates from its formula (the qz2
    // contract), grid coords replay the half-pixel-centered floor,
    // neighbors via a banded self-join, integer deci-sums, one divide
    "qz8_focal" ->
      """WITH g AS (
        |  SELECT c.c AS cx, (48 - 1 - r.r) AS cy,
        |    (c.c * 7 + r.r * 13) % 40 AS q
        |  FROM generate_series(0, 63) AS c(c)
        |  CROSS JOIN generate_series(0, 47) AS r(r)),
        |f AS (
        |  SELECT a.cx, a.cy,
        |    CAST(count(*) AS BIGINT) AS n_nbrs,
        |    CAST(sum(b.q) AS BIGINT) AS s
        |  FROM g a JOIN g b
        |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
        |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        |  GROUP BY a.cx, a.cy)
        |SELECT cx, cy, n_nbrs,
        |  round(CAST(s AS DOUBLE) / (CAST(n_nbrs AS DOUBLE) * 10.0), 6)
        |    AS focal_mean
        |FROM f""".stripMargin,
    // Rolling lag-1 autocorrelation: identical lag pairs (the lag runs
    // over the key's FULL ordered series, then non-null pairs window),
    // exact Long power sums, variances multiply as DOUBLES (their Long
    // product overflows at centi scale), one sqrt + divide
    "qe44_autocorr" ->
      """WITH b AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
        |    CAST(floor(value * 100.0) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT k, t, tie, y,
        |    lag(y, 1) OVER (PARTITION BY k ORDER BY t, tie) AS x
        |  FROM b),
        |pp AS (SELECT * FROM p WHERE x IS NOT NULL),
        |w AS (
        |  SELECT k, tie,
        |    CAST(count(*) OVER win AS BIGINT) AS n,
        |    CAST(sum(x) OVER win AS BIGINT) AS sx,
        |    CAST(sum(y) OVER win AS BIGINT) AS sy,
        |    CAST(sum(x * y) OVER win AS BIGINT) AS sxy,
        |    CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER win AS BIGINT) AS syy
        |  FROM pp
        |  WINDOW win AS (PARTITION BY k ORDER BY t, tie
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT k, tie,
        |    n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS denx,
        |    n * syy - sy * sy AS deny
        |  FROM w WHERE n = 8)
        |SELECT k AS user_id, tie AS event_id,
        |  CASE WHEN denx > 0 AND deny > 0 THEN
        |    round(CAST(num AS DOUBLE)
        |      / sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6)
        |  END AS autocorr_l1
        |FROM f""".stripMargin,
    // JSD: exact Long category counts both sides, the per-category
    // 0.5*p*ln(p/m) terms fold in category order (list_reduce mirrors
    // the engine's sorted-array fold), zero-count sides contribute 0
    "qp14_jsd" ->
      """WITH ta AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS c
        |  FROM documents WHERE doc_id % 2 = 0),
        |tb AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS c
        |  FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT c, CAST(count(*) AS BIGINT) AS ca FROM ta GROUP BY c),
        |cb AS (SELECT c, CAST(count(*) AS BIGINT) AS cb FROM tb GROUP BY c),
        |j AS (
        |  SELECT coalesce(ca.c, cb.c) AS c,
        |    coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.c = cb.c),
        |tot AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM j),
        |s AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(
        |      (CASE WHEN ca > 0 THEN 0.5 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
        |        * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
        |          / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |            + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
        |        ELSE 0.0 END)
        |      + (CASE WHEN cb > 0 THEN 0.5 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        |        * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        |          / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |            + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
        |        ELSE 0.0 END)
        |      ORDER BY c)), (x, y) -> x + y) AS jsd
        |  FROM j CROSS JOIN tot)
        |SELECT na AS n_a, nb AS n_b, k AS n_cats,
        |  round(jsd, 6) AS jsd, round(jsd / ln(2), 6) AS jsd_norm
        |FROM s CROSS JOIN tot""".stripMargin,
    // Zipf fit: total (count desc, word) rank order, ln terms fold as
    // ordered list_reduce sums (the engine folds the same sorted
    // array), the OLS readout is the qe40 closed form on those sums
    "qt41_zipf" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY w),
        |r AS (
        |  SELECT w, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r
        |  FROM c),
        |t AS (
        |  SELECT r, ln(CAST(r AS DOUBLE)) AS lx, ln(CAST(c AS DOUBLE)) AS ly, c
        |  FROM r),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS nk,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(lx ORDER BY r)), (x, y) -> x + y) AS sx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ly ORDER BY r)), (x, y) -> x + y) AS sy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(lx * ly ORDER BY r)), (x, y) -> x + y) AS sxy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(lx * lx ORDER BY r)), (x, y) -> x + y) AS sxx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ly * ly ORDER BY r)), (x, y) -> x + y) AS syy
        |  FROM t),
        |f AS (
        |  SELECT n, nk,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS denx,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS deny,
        |    sx, sy
        |  FROM s)
        |SELECT n AS n_types, nk AS n_tokens,
        |  CASE WHEN denx > 0.0 THEN round(num / denx, 6) END AS slope,
        |  CASE WHEN denx > 0.0 THEN
        |    round((sy - num / denx * sx) / CAST(n AS DOUBLE), 6) END AS intercept,
        |  CASE WHEN denx > 0.0 AND deny > 0.0 THEN
        |    round(num * num / (denx * deny), 6) END AS r_squared
        |FROM f""".stripMargin,
    // Winsorize: nearest-rank thresholds are group-multiset properties
    // (round(p/100*(n-1)) on the ascending sort of exact centi-Longs),
    // clamp and sums stay integer, one divide per mean
    "qe45_winsorize" ->
      """WITH b AS (
        |  SELECT event_type AS k, CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT k, q,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY q) AS BIGINT) - 1 AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM b),
        |lo AS (
        |  SELECT k, CAST(q AS DOUBLE) AS lo FROM r
        |  WHERE rn = round(0.10 * (n - 1))),
        |hi AS (
        |  SELECT k, CAST(q AS DOUBLE) AS hi FROM r
        |  WHERE rn = round(0.90 * (n - 1))),
        |c AS (
        |  SELECT b.k, b.q,
        |    CASE WHEN CAST(b.q AS DOUBLE) < lo.lo THEN CAST(lo.lo AS BIGINT)
        |         WHEN CAST(b.q AS DOUBLE) > hi.hi THEN CAST(hi.hi AS BIGINT)
        |         ELSE b.q END AS w,
        |    CASE WHEN CAST(b.q AS DOUBLE) < lo.lo THEN -1
        |         WHEN CAST(b.q AS DOUBLE) > hi.hi THEN 1 ELSE 0 END AS clip
        |  FROM b JOIN lo ON lo.k = b.k JOIN hi ON hi.k = b.k)
        |SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN clip = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN clip = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  round(CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0, 6)
        |    AS mean_raw,
        |  round(CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0, 6)
        |    AS mean_winsorized
        |FROM c GROUP BY k""".stripMargin,
    // BFS hops: the qd6 monotone min-fold recursion — the FULL distance
    // table rides every iteration (frontier-style recursion multiplies
    // paths), min over all iterations = the converged layer distance.
    // 40 iterations (the qg19 bound) >> any plausible eccentricity of
    // the %500 projection (the engine runs to frontier exhaustion, so
    // a too-small oracle bound silently truncates distant nodes); the
    // GROUP BY collapse keeps extra iterations O(V) each.
    "qg18_bfs" ->
      s"""WITH RECURSIVE ${ordersGraphCtes(11, 500)},
         |$symCte,
         |lab(it, node, d) AS (
         |  SELECT 0, CAST(0 AS BIGINT), 0
         |  UNION ALL
         |  SELECT it + 1, node, min(d) FROM (
         |    SELECT l.it, l.node, l.d FROM lab l
         |    UNION ALL
         |    SELECT l.it, s.w AS node, l.d + 1 FROM lab l JOIN sym s ON s.v = l.node
         |  ) t(it, node, d)
         |  WHERE it < 40
         |  GROUP BY it, node)
         |SELECT node, min(d) AS dist FROM lab GROUP BY node""".stripMargin,
    // Betweenness: no backward-pass replay — layered σ DP over the
    // converged multi-source distance table (the qg18 min-fold, keyed
    // by pivot), then the Brandes pair-sum identity as one triple
    // join: BC(v) = ½·Σ σ_sv·σ_vt/σ_st over pairs with
    // d(s,v)+d(v,t)=d(s,t). s≠t is implied (it would need
    // d(s,v)+d(v,s) = 0 with both legs > 0). σ sums are exact BIGINTs;
    // the ratio terms are IEEE divides on exact integers; 40-iteration
    // bound = 8× the measured max eccentricity (5) of this projection.
    // Validated bit-identical (at 6 dp) against an independent
    // hand-rolled Brandes implementation on the same edge set.
    "qg21_betweenness" ->
      s"""WITH RECURSIVE $hopDistCtes,
         |sig(d, p, v, sigma) AS (
         |  SELECT 0, v, v, CAST(1 AS BIGINT) FROM nodes
         |  UNION ALL
         |  SELECT s.d + 1, s.p, sym.w, CAST(sum(s.sigma) AS BIGINT)
         |  FROM sig s
         |  JOIN sym ON sym.v = s.v
         |  JOIN dist ON dist.p = s.p AND dist.v = sym.w AND dist.d = s.d + 1
         |  GROUP BY s.d + 1, s.p, sym.w),
         |bc AS (
         |  SELECT sv.v AS node,
         |    sum(CAST(sv.sigma AS DOUBLE) * CAST(vt.sigma AS DOUBLE)
         |        / CAST(st.sigma AS DOUBLE)) / 2.0 AS b
         |  FROM sig sv
         |  JOIN sig vt ON vt.p = sv.v AND vt.d > 0
         |  JOIN sig st ON st.p = sv.p AND st.v = vt.v AND st.d = sv.d + vt.d
         |  WHERE sv.d > 0
         |  GROUP BY sv.v)
         |SELECT n.v AS node, round(coalesce(bc.b, 0.0), 6) AS betweenness
         |FROM nodes n LEFT JOIN bc ON bc.node = n.v""".stripMargin,
    // Closeness + harmonic: qg21's multi-source distance table, then
    // per-vertex (distance, count) rows — n_reached/sum_dist exact
    // BIGINTs, closeness one IEEE divide, harmonic a list_reduce left
    // fold over the ASCENDING-distance struct list (list_sort on
    // struct = Spark's sort_array lexicographic order; 0.0 + x is
    // exact, so DuckDB's first-element-init fold equals Spark's
    // 0.0-init fold term for term)
    "qg22_centrality" ->
      s"""WITH RECURSIVE $hopDistCtes,
         |cnts AS (
         |  SELECT v, d, CAST(count(*) AS BIGINT) AS cnt
         |  FROM dist WHERE d > 0 GROUP BY v, d),
         |per AS (
         |  SELECT v,
         |    CAST(sum(cnt) AS BIGINT) AS n_reached,
         |    CAST(sum(cnt * d) AS BIGINT) AS sum_dist,
         |    list_sort(list(struct_pack(dist := d, cnt := cnt))) AS t
         |  FROM cnts GROUP BY v)
         |SELECT v AS node, n_reached, sum_dist,
         |  round(CAST(n_reached AS DOUBLE) / CAST(sum_dist AS DOUBLE), 6)
         |    AS closeness,
         |  round(list_reduce(
         |    list_transform(t, x -> CAST(x.cnt AS DOUBLE) / CAST(x.dist AS DOUBLE)),
         |    (acc, e) -> acc + e), 6) AS harmonic
         |FROM per""".stripMargin,
    // HyperBall (p=6, m=64, α=0.709): the register state of vertex v at
    // round t IS the HLL sketch of the exact-distance ball {w: d(v,w)≤t}
    // (register union = ball union), so the oracle rebuilds per-round
    // registers from the qg22 BFS distance table, applies the identical
    // estimator (qk4's, at m=64: linear counting when raw ≤ 2.5m=160 and
    // an empty register exists), takes the running max M(t) — the
    // engine's monotone accumulator — and folds Σ(M(t)−M(t−1))/t in
    // ascending t as a list_reduce (0.0-init equals first-element-init:
    // 0.0 + x is exact). Rounds past a vertex's eccentricity leave its
    // registers — hence M — unchanged, so truncating at ecc(v) replays
    // the engine's global fixpoint loop term for term. Every harmonic-
    // sum input is a power of two (FP-exact in any aggregation order);
    // the delta/divide/add chain is the same IEEE op sequence as the
    // engine's per-round update.
    "qg23_hyperball" ->
      s"""WITH RECURSIVE $hopDistCtes,
         |${hyperBallCtes("p")},
         |mx AS (
         |  SELECT p, t, max(est) OVER (PARTITION BY p ORDER BY t) AS m
         |  FROM est),
         |dl AS (
         |  SELECT p, t, m,
         |    (m - lag(m) OVER (PARTITION BY p ORDER BY t))
         |      / CAST(t AS DOUBLE) AS term
         |  FROM mx),
         |per AS (
         |  SELECT p,
         |    list_sort(list(struct_pack(t := t, term := term))) AS l,
         |    max(m) AS mfin
         |  FROM dl WHERE t > 0 GROUP BY p)
         |SELECT p AS node,
         |  round(list_reduce(list_transform(l, x -> x.term),
         |    (acc, e) -> acc + e), 6) AS harmonic_est,
         |  round(mfin - 1.0, 6) AS reached_est
         |FROM per""".stripMargin,
    // HyperANF effective diameter: the same per-round running-max
    // register estimates as qg23, quantized to micro-units BEFORE the
    // global sum (exact integer N(t), order-free), each node's series
    // extended constantly past its eccentricity (registers are fixed
    // there — the engine's fixpoint loop sees the same constants), then
    // the same pick + interpolation on exact integers.
    "qg24_eff_diameter" ->
      s"""WITH RECURSIVE $hopDistCtes,
         |${hyperBallCtes("p, ecc")},
         |mx AS MATERIALIZED (
         |  SELECT p, t,
         |    CAST(round(max(est) OVER (PARTITION BY p ORDER BY t)
         |      * 1000000.0) AS BIGINT) AS m6
         |  FROM est),
         |axis AS (
         |  SELECT unnest(generate_series(0,
         |    (SELECT max(t) FROM mx))) AS t),
         |ecc2 AS (SELECT p, max(t) AS ecc FROM mx GROUP BY p),
         |nf AS MATERIALIZED (
         |  SELECT a.t, CAST(sum(x.m6) AS BIGINT) AS nft
         |  FROM axis a
         |  JOIN ecc2 c ON true
         |  JOIN mx x ON x.p = c.p AND x.t = least(a.t, c.ecc)
         |  GROUP BY a.t),
         |fin AS (SELECT max(nft) AS nfin FROM nf),
         |cr AS (
         |  SELECT t, nft, lag(nft) OVER (ORDER BY t) AS prev FROM nf),
         |pick AS (
         |  SELECT t, nft, prev FROM cr, fin
         |  WHERE CAST(nft AS DOUBLE) >= 0.9 * CAST(nfin AS DOUBLE)
         |  ORDER BY t LIMIT 1)
         |SELECT CAST(0.9 AS DOUBLE) AS alpha, fin.nfin AS nf_final,
         |  round(CASE WHEN pick.t = 0 THEN 0.0
         |    ELSE (pick.t - 1)
         |      + (0.9 * CAST(fin.nfin AS DOUBLE) - CAST(pick.prev AS DOUBLE))
         |        / (CAST(pick.nft AS DOUBLE) - CAST(pick.prev AS DOUBLE))
         |    END, 6) AS eff_diameter
         |FROM pick, fin""".stripMargin,
    // TextRank: unrolled MATERIALIZED score CTEs (the qg14 pattern);
    // integer pair counts/strengths, (1.0 - 0.85) written as the same
    // IEEE subtraction the engine folds, per-node neighbor sums carry
    // the qg9 bounded-fan-in slack under the 6-dp round
    "qt40_textrank" ->
      """WITH tok AS (
        |  SELECT doc_id, i AS p, tk[i] AS w
        |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
        |        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        |              FROM documents))),
        |pe AS (
        |  SELECT least(a.w, b.w) AS u, greatest(a.w, b.w) AS v
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
        |    AND b.p > a.p AND b.p - a.p <= 2 AND a.w <> b.w),
        |e AS MATERIALIZED (
        |  SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM pe GROUP BY u, v),
        |sym AS MATERIALIZED (
        |  SELECT u, v, c FROM e UNION ALL SELECT v, u, c FROM e),
        |st AS MATERIALIZED (
        |  SELECT u, CAST(sum(c) AS BIGINT) AS st FROM sym GROUP BY u),
        |s0 AS MATERIALIZED (SELECT u AS w, 1.0 AS s FROM st),
        |s1 AS MATERIALIZED (
        |  SELECT sym.v AS w,
        |    (1.0 - 0.85) + 0.85 * sum(CAST(sym.c AS DOUBLE) / CAST(st.st AS DOUBLE) * s0.s) AS s
        |  FROM sym JOIN st ON st.u = sym.u JOIN s0 ON s0.w = sym.u GROUP BY sym.v),
        |s2 AS MATERIALIZED (
        |  SELECT sym.v AS w,
        |    (1.0 - 0.85) + 0.85 * sum(CAST(sym.c AS DOUBLE) / CAST(st.st AS DOUBLE) * s1.s) AS s
        |  FROM sym JOIN st ON st.u = sym.u JOIN s1 ON s1.w = sym.u GROUP BY sym.v),
        |s3 AS MATERIALIZED (
        |  SELECT sym.v AS w,
        |    (1.0 - 0.85) + 0.85 * sum(CAST(sym.c AS DOUBLE) / CAST(st.st AS DOUBLE) * s2.s) AS s
        |  FROM sym JOIN st ON st.u = sym.u JOIN s2 ON s2.w = sym.u GROUP BY sym.v),
        |s4 AS MATERIALIZED (
        |  SELECT sym.v AS w,
        |    (1.0 - 0.85) + 0.85 * sum(CAST(sym.c AS DOUBLE) / CAST(st.st AS DOUBLE) * s3.s) AS s
        |  FROM sym JOIN st ON st.u = sym.u JOIN s3 ON s3.w = sym.u GROUP BY sym.v)
        |SELECT s4.w AS word, round(s4.s, 6) AS textrank, st.st AS strength
        |FROM s4 JOIN st ON st.u = s4.w""".stripMargin,
    // Naive backtest: identical split index floor(0.8*n) on the same
    // (t, tie) order, exact-integer sMAPE terms (2|f-a| and |f|+|a|
    // are Longs, one divide), term sum folds in rn order
    "qe46_smape" ->
      """WITH b AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
        |    CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT k, q,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY t, tie) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM b),
        |c AS (
        |  SELECT k, q, rn, CAST(floor(0.8 * n) AS BIGINT) AS cut
        |  FROM r WHERE floor(0.8 * n) >= 1),
        |f AS (SELECT k, q AS fv FROM c WHERE rn = cut),
        |tst AS (
        |  SELECT c.k, c.rn, c.cut,
        |    CASE WHEN abs(f.fv) + abs(c.q) = 0 THEN 0.0
        |      ELSE CAST(2 * abs(f.fv - c.q) AS DOUBLE)
        |        / CAST(abs(f.fv) + abs(c.q) AS DOUBLE) END AS tm
        |  FROM c JOIN f ON f.k = c.k WHERE c.rn > c.cut)
        |SELECT k AS user_id, max(cut) AS n_train,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(tm ORDER BY rn)), (x, y) -> x + y)
        |    / CAST(count(*) AS DOUBLE), 6) AS smape
        |FROM tst GROUP BY k""".stripMargin,
    // Burstiness: second-floored integer gaps (µs div 1e6), exact Long
    // power sums, one fixed IEEE tree for mean/sd/CV/B
    "qe50_burstiness" ->
      """WITH b AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie
        |  FROM events),
        |g AS (
        |  SELECT k,
        |    (t - lag(t, 1) OVER (PARTITION BY k ORDER BY t, tie)) // 1000000 AS gp
        |  FROM b),
        |gg AS (SELECT k, CAST(gp AS BIGINT) AS gp FROM g WHERE gp IS NOT NULL),
        |a AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(gp) AS BIGINT) AS sg, CAST(sum(gp * gp) AS BIGINT) AS sgg
        |  FROM gg GROUP BY k HAVING count(*) >= 2),
        |f AS (
        |  SELECT k, n,
        |    CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(n AS DOUBLE) AS sd
        |  FROM a)
        |SELECT k AS user_id, n AS n_gaps,
        |  round(m, 6) AS mean_gap_s,
        |  CASE WHEN m > 0.0 THEN round(sd / m, 6) END AS cv,
        |  CASE WHEN sd + m > 0.0 THEN round((sd - m) / (sd + m), 6) END AS burstiness
        |FROM f""".stripMargin,
    // Degree histogram: canonical distinct undirected edges, degree =
    // rows in the symmetric list, all-integer
    "qg20_degree_hist" ->
      s"""WITH ${ordersGraphCtes(11, 500)},
         |d AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node)
         |SELECT deg AS degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM d GROUP BY deg""".stripMargin,
    // Sequence packing: pure integer pipeline — token counts, a
    // windowed prefix sum ordered by the unique doc_id, floor division
    // (// here, div in Spark — both truncate-toward-zero on the
    // non-negative offsets). The engine computes the same prefix sum
    // distributed (range-bucket totals + per-bucket windows); sums of
    // Longs are order-free, so the replay is exact.
    "qt44_packing" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        |p AS (
        |  SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS off
        |  FROM n WHERE n > 0)
        |SELECT doc_id, n AS n_tokens, off AS start_offset,
        |  off // 512 AS first_chunk,
        |  (off + n - 1) // 512 AS last_chunk,
        |  ((off + n - 1) // 512) - (off // 512) + 1 AS n_chunks
        |FROM p""".stripMargin,
    // A-ES weighted sample: md5-replayable u, key = ln(u)/w rounded to
    // 6 dp before the (key DESC, id) sort — the qt36 libm-ulp lesson;
    // rank is the same window both sides, LIMIT after the window
    "qt45_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id AS id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS weight
        |  FROM documents),
        |h AS (
        |  SELECT id, weight,
        |    round(ln((CAST('0x' || substring(md5(CAST(id AS VARCHAR) || '|42'), 1, 8)
        |        AS BIGINT) + 1) / 4294967296.0)
        |      / CAST(weight AS DOUBLE), 6) AS key
        |  FROM w WHERE weight > 0)
        |SELECT id, weight, key,
        |  CAST(row_number() OVER (ORDER BY key DESC, id) AS BIGINT) AS rank
        |FROM h ORDER BY key DESC, id LIMIT 50""".stripMargin,
    // Per-key A-ES: the same md5-seeded 6-dp competition key, ranked
    // WITHIN each language by the same (key DESC, id) order the
    // engine's bounded aggregator realizes
    "qt47_sample_per_key" ->
      """WITH w AS (
        |  SELECT lang, doc_id AS id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS weight
        |  FROM documents WHERE doc_id IS NOT NULL),
        |h AS (
        |  SELECT lang, id, weight,
        |    round(ln((CAST('0x' || substring(md5(CAST(id AS VARCHAR) || '|42'), 1, 8)
        |        AS BIGINT) + 1) / 4294967296.0)
        |      / CAST(weight AS DOUBLE), 6) AS sample_key
        |  FROM w WHERE weight > 0),
        |r AS (
        |  SELECT lang, id, weight, sample_key,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY sample_key DESC, id) AS BIGINT) AS rank
        |  FROM h)
        |SELECT id, lang, weight, sample_key, rank
        |FROM r WHERE rank <= 20""".stripMargin,
    // Per-key PPS WITH replacement: the same md5-seeded 6-dp ln(u)/w
    // competition key, salted by the draw index, argmax per (lang,
    // draw) via a window rank (ties to the lowest id — the engine's
    // max(struct(c, -id)) order)
    "qt50_sample_with_replacement" ->
      """WITH w AS (
        |  SELECT lang, doc_id AS id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS weight
        |  FROM documents WHERE doc_id IS NOT NULL),
        |h AS (
        |  SELECT lang, CAST(t.j AS BIGINT) AS draw, id,
        |    CAST(weight AS DOUBLE) AS weight,
        |    round(ln((CAST('0x' || substring(md5(CAST(id AS VARCHAR)
        |          || '|42|' || CAST(t.j AS VARCHAR)), 1, 8)
        |        AS BIGINT) + 1) / 4294967296.0)
        |      / CAST(weight AS DOUBLE), 6) AS draw_key
        |  FROM w CROSS JOIN generate_series(1, 8) t(j)
        |  WHERE weight > 0),
        |r AS (
        |  SELECT lang, draw, id, weight, draw_key,
        |    row_number() OVER (PARTITION BY lang, draw
        |      ORDER BY draw_key DESC, id) AS rn
        |  FROM h)
        |SELECT lang, draw, id, weight, draw_key
        |FROM r WHERE rn = 1""".stripMargin,
    // Incremental winnowing: two CTE families (corpus / batch) from the
    // shared builder, the >= 3 corpus-hit screen, the qd24 pair cut,
    // the qd6 min-label component keep-min over survivors.
    "qd25_incr_winnow" ->
      (s"WITH RECURSIVE ${winnowingCtesFor("c", "doc_id % 3 = 0")},\n" +
        s"${winnowingCtesFor("b", "doc_id % 3 <> 0")}," +
        s"""
           |cfp AS (SELECT DISTINCT unnest(fps) AS fingerprint FROM winsc),
           |bfp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM winsb),
           |hit AS (
           |  SELECT b.doc_id FROM bfp b JOIN cfp c USING (fingerprint)
           |  GROUP BY b.doc_id HAVING count(*) >= 3),
           |novel AS (
           |  SELECT * FROM bfp
           |  WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
           |pairs AS (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM novel a JOIN novel b ON b.fingerprint = a.fingerprint
           |    AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= 3),
           |nodes AS (SELECT DISTINCT id FROM
           |  (SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs)),
           |sym AS MATERIALIZED (
           |  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
           |${componentCtes("),\n")})
           |SELECT d.doc_id, d.n_chars FROM documents d
           |JOIN (SELECT DISTINCT doc_id FROM novel) nv ON nv.doc_id = d.doc_id
           |LEFT JOIN final ON final.id = d.doc_id
           |WHERE final.id IS NULL OR final.lb = d.doc_id""".stripMargin),
    // SRM replay: VALUES allocation table, exact counts, the identical
    // (o − n·share)²/(n·share) tree at 6 dp.
    "qp19_srm" ->
      """WITH exp(arm, share) AS (
        |  VALUES ('A', 0.25), ('N', 0.5), ('R', 0.25)),
        |c AS (
        |  SELECT l_returnflag AS arm, count(*) AS n_obs
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL
        |    AND l_returnflag IN (SELECT arm FROM exp)
        |  GROUP BY 1),
        |n AS (SELECT coalesce(sum(n_obs), 0) AS n FROM c)
        |SELECT e.arm, CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
        |  round(CAST(n.n AS DOUBLE) * e.share, 6) AS expected_n,
        |  CASE WHEN n.n > 0 THEN round(
        |    (CAST(coalesce(c.n_obs, 0) AS DOUBLE)
        |      - CAST(n.n AS DOUBLE) * e.share)
        |    * (CAST(coalesce(c.n_obs, 0) AS DOUBLE)
        |      - CAST(n.n AS DOUBLE) * e.share)
        |    / (CAST(n.n AS DOUBLE) * e.share), 6) END AS chi2_term
        |FROM exp e LEFT JOIN c ON c.arm = e.arm CROSS JOIN n""".stripMargin,
    // CUPED replay: identical half-up 1e2 quantization, HUGEINT moments
    // mirroring DECIMAL(38,0), pooled theta/xbar cross-joined into the
    // per-arm report, every IEEE tree written in the engine's order.
    "qp18_cuped" ->
      """WITH q AS (
        |  SELECT l_returnflag AS arm,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS yq,
        |    CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS xq
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL),
        |g AS (
        |  SELECT count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
        |    sum(xq * yq) AS sxy, sum(xq * xq) AS sxx FROM q),
        |t AS (
        |  SELECT CAST(sx AS DOUBLE) / n AS xbar,
        |    CASE WHEN CAST(sxx AS DOUBLE) * n
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |      THEN (CAST(sxy AS DOUBLE) * n
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(sxx AS DOUBLE) * n
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    END AS theta
        |  FROM g),
        |a AS (
        |  SELECT arm, count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
        |    sum(xq * yq) AS sxy, sum(xq * xq) AS sxx, sum(yq * yq) AS syy
        |  FROM q GROUP BY arm)
        |SELECT arm, a.n AS n, round(theta, 6) AS theta,
        |  round(CAST(a.sy AS DOUBLE) / a.n / 100.0, 6) AS mean_y,
        |  round((CAST(a.sy AS DOUBLE) / a.n
        |    - theta * (CAST(a.sx AS DOUBLE) / a.n - xbar)) / 100.0, 6)
        |    AS mean_y_adj,
        |  round((CAST(a.syy AS DOUBLE) / a.n
        |    - (CAST(a.sy AS DOUBLE) / a.n) * (CAST(a.sy AS DOUBLE) / a.n))
        |    / 10000.0, 4) AS var_y,
        |  round(((CAST(a.syy AS DOUBLE)
        |      - 2.0 * theta * CAST(a.sxy AS DOUBLE)
        |      + theta * theta * CAST(a.sxx AS DOUBLE)) / a.n
        |    - (CAST(a.sy AS DOUBLE) / a.n
        |        - theta * CAST(a.sx AS DOUBLE) / a.n)
        |      * (CAST(a.sy AS DOUBLE) / a.n
        |        - theta * CAST(a.sx AS DOUBLE) / a.n))
        |    / 10000.0, 4) AS var_y_adj
        |FROM a CROSS JOIN t""".stripMargin,
    // Flesch replay: match COUNTS from regexp_extract_all (split-array
    // trailing-empty semantics differ between engines; match counts
    // don't), the clamp and the fixed IEEE tree at 4 dp.
    "qt52_readability" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(trim(text)), '[a-z0-9]+'))
        |    AS BIGINT) AS n_words,
        |  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
        |    1) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |    AS BIGINT) AS n_syllables,
        |  CASE WHEN len(regexp_extract_all(lower(trim(text)), '[a-z0-9]+'))
        |      > 0 THEN
        |    round(206.835
        |      - 1.015 * (CAST(len(regexp_extract_all(lower(trim(text)),
        |            '[a-z0-9]+')) AS DOUBLE)
        |        / CAST(greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
        |            AS BIGINT), 1) AS DOUBLE))
        |      - 84.6 * (CAST(len(regexp_extract_all(lower(text),
        |            '[aeiouy]+')) AS DOUBLE)
        |        / CAST(len(regexp_extract_all(lower(trim(text)),
        |            '[a-z0-9]+')) AS DOUBLE)), 4)
        |  END AS flesch
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL""".stripMargin,
    // Winnowing replay: DuckDB list slices are INCLUSIVE (tk[i:i+3] is
    // the 4-gram, hs[i:i+7] the 8-window — mirroring Spark's
    // slice(_, i, 4)/slice(_, i, 8)); windows = max(nh−w+1, 1), hash =
    // 56-bit md5 prefix, per-doc list_distinct before the unnest.
    "qt51_winnowing" ->
      (s"WITH $winnowingOracleCtes" +
        "\nSELECT doc_id, unnest(fps) AS fingerprint FROM wins"),
    // Winnowing near-dup pairs: the qt51 fingerprints self-joined on
    // the inverted index, pair counts cut at 3 shared, fingerprint
    // Jaccard from the full per-doc set sizes.
    "qd24_winnow_neardup" ->
      (s"WITH $winnowingOracleCtes" +
        """, fp AS (SELECT doc_id, unnest(fps) AS f FROM wins),
          |sz AS (SELECT doc_id, len(fps) AS n FROM wins),
          |cand AS (
          |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          |  FROM fp a JOIN fp b ON b.f = a.f AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2 HAVING count(*) >= 3)
          |SELECT da AS doc_a, db AS doc_b, shared,
          |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
          |  round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6)
          |    AS jaccard
          |FROM cand
          |JOIN sz sa ON sa.doc_id = da
          |JOIN sz sb ON sb.doc_id = db""".stripMargin),
    // Trigram novelty: identical tokenize + 1-based gram windows, the
    // reference's distinct-gram set probed via LEFT JOIN null-mark —
    // counts exact BIGINTs, novelty one IEEE divide
    "qt48_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id IS NOT NULL),
        |refg AS (
        |  SELECT DISTINCT concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tk WHERE doc_id % 2 = 0 AND len(t) >= 3)),
        |dg AS (
        |  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tk WHERE doc_id % 2 = 1 AND len(t) >= 3))
        |SELECT dg.doc_id,
        |  CAST(count(*) AS BIGINT) AS distinct_grams,
        |  CAST(sum(CASE WHEN refg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS novel_grams,
        |  round(CAST(sum(CASE WHEN refg.g IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM dg LEFT JOIN refg ON refg.g = dg.g
        |GROUP BY dg.doc_id""".stripMargin,
    // Source overlap: identical tokenize + 1-based trigram windows per
    // SOURCE, distinct gram sets, pair counts from the gram self-join
    // (a < b), J = common/(a + b - common) — one IEEE divide
    "qd21_source_overlap" ->
      """WITH tk AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE source IS NOT NULL),
        |g AS MATERIALIZED (
        |  SELECT DISTINCT source, concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
        |  FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tk WHERE len(t) >= 3)),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
        |pr AS (
        |  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS c
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pr.sa AS source_a, pr.sb AS source_b,
        |  za.n AS grams_a, zb.n AS grams_b, pr.c AS common_grams,
        |  round(CAST(pr.c AS DOUBLE)
        |    / CAST(za.n + zb.n - pr.c AS DOUBLE), 6) AS jaccard
        |FROM pr
        |JOIN sz za ON za.source = pr.sa
        |JOIN sz zb ON zb.source = pr.sb""".stripMargin,
    // Unigram KL: identical tokenize, exact Long doc/corpus counts, the
    // per-doc term sum as a LEXICOGRAPHICALLY ordered list_reduce (the
    // qg22 fold contract — a GROUP BY sum of ln terms would be
    // order-dependent); 6 dp absorbs libm ln ulps (qt15 precedent)
    "qt49_unigram_kl" ->
      """WITH tok AS (
        |  SELECT doc_id, w
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE doc_id IS NOT NULL)
        |  WHERE length(w) > 0),
        |dc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len
        |  FROM dc GROUP BY 1),
        |cc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        |ag AS (
        |  SELECT dc.doc_id, dl.len, nn.n,
        |    list_sort(list(struct_pack(w := dc.w, c := dc.c, cw := cc.cw))) AS l
        |  FROM dc
        |  JOIN cc ON cc.w = dc.w
        |  JOIN dl ON dl.doc_id = dc.doc_id
        |  CROSS JOIN nn
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, len AS n_tokens,
        |  round(list_reduce(list_transform(l, x ->
        |    (CAST(x.c AS DOUBLE) / CAST(len AS DOUBLE))
        |      * ln((CAST(x.c AS DOUBLE) / CAST(len AS DOUBLE))
        |        / (CAST(x.cw AS DOUBLE) / CAST(n AS DOUBLE)))),
        |    (acc, e) -> acc + e), 6) AS kl
        |FROM ag""".stripMargin,
    // Gopher repetition: integer gram counts; the 5-gram coverage is a
    // DISTINCT over covered positions (union semantics — 1-based here,
    // 0-based in the engine; counts are base-independent); fractions
    // are one divide of exact integers
    "qt46_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE doc_id IS NOT NULL),
        |b AS (
        |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
        |  FROM tk WHERE len(t) >= 5),
        |g2 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM b, unnest(generate_series(1, len(t) - 1)) AS u(i)),
        |t2 AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top2 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM b, unnest(generate_series(1, len(t) - 2)) AS u(i)),
        |t3 AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top3 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |g5 AS (
        |  SELECT doc_id, i AS p,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |      || ' ' || t[i+4] AS g
        |  FROM b, unnest(generate_series(1, len(t) - 4)) AS u(i)),
        |d5 AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g)
        |  WHERE c >= 2),
        |cov AS (
        |  SELECT g5.doc_id, CAST(count(DISTINCT j) AS BIGINT) AS cov
        |  FROM g5 JOIN d5 USING (doc_id, g),
        |    unnest(generate_series(g5.p, g5.p + 4)) AS v(j)
        |  GROUP BY g5.doc_id)
        |SELECT b.doc_id, b.n AS n_tokens,
        |  t2.top2 AS top2_count,
        |  round(CAST(t2.top2 * 2 AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
        |    AS top2_frac,
        |  t3.top3 AS top3_count,
        |  round(CAST(t3.top3 * 3 AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
        |    AS top3_frac,
        |  CAST(coalesce(cov.cov, 0) AS BIGINT) AS dup5_covered,
        |  round(CAST(coalesce(cov.cov, 0) AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
        |    AS dup5_frac
        |FROM b JOIN t2 USING (doc_id) JOIN t3 USING (doc_id)
        |LEFT JOIN cov USING (doc_id)""".stripMargin,
    // Lexical diversity: integer token/type counts per doc, one fixed
    // IEEE tree for TTR and Herdan's C (null at <= 1 token)
    "qt43_lex_diversity" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_types
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        |        FROM documents))
        |SELECT doc_id, n_tokens, n_types,
        |  CASE WHEN n_tokens > 0 THEN
        |    round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) END AS ttr,
        |  CASE WHEN n_tokens > 1 THEN
        |    round(ln(CAST(n_types AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)), 6)
        |  END AS herdan_c
        |FROM b""".stripMargin,
    // Peaks: identical lag/lead on the (t, tie) order, pure integer
    // comparisons and delta, display rescale only
    "qe48_peaks" ->
      """WITH b AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
        |    CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |n AS (
        |  SELECT k, tie, q,
        |    lag(q, 1) OVER w AS pv, lead(q, 1) OVER w AS nx
        |  FROM b WINDOW w AS (PARTITION BY k ORDER BY t, tie))
        |SELECT k AS user_id, tie AS event_id,
        |  round(CAST(q AS DOUBLE) / 100.0, 6) AS value,
        |  round(CAST(q - greatest(pv, nx) AS DOUBLE) / 100.0, 6) AS delta
        |FROM n
        |WHERE pv IS NOT NULL AND nx IS NOT NULL
        |  AND q > pv AND q > nx AND q - greatest(pv, nx) >= 200""".stripMargin,
    // Robust summary: every quantile a nearest-rank SELECTION
    // (round(p/100*(n-1)) on the ascending sort of exact centi-Longs);
    // MAD re-ranks the exact |x - median| integers
    "qe47_robust_summary" ->
      """WITH b AS (
        |  SELECT event_type AS k, CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT k, q,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY q) AS BIGINT) - 1 AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM b),
        |p25 AS (SELECT k, CAST(q AS DOUBLE) AS p25 FROM r WHERE rn = round(0.25 * (n - 1))),
        |p50 AS (SELECT k, CAST(q AS DOUBLE) AS med FROM r WHERE rn = round(0.50 * (n - 1))),
        |p75 AS (SELECT k, CAST(q AS DOUBLE) AS p75 FROM r WHERE rn = round(0.75 * (n - 1))),
        |ad AS (
        |  SELECT b.k, abs(CAST(b.q AS DOUBLE) - p50.med) AS av
        |  FROM b JOIN p50 ON p50.k = b.k),
        |ar AS (
        |  SELECT k, av,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY av) AS BIGINT) - 1 AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM ad),
        |mad AS (SELECT k, av AS mad FROM ar WHERE rn = round(0.50 * (n - 1))),
        |cnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY k)
        |SELECT cnt.k AS event_type, cnt.n,
        |  round(p25.p25 / 100.0, 6) AS p25,
        |  round(p50.med / 100.0, 6) AS median,
        |  round(p75.p75 / 100.0, 6) AS p75,
        |  round((p75.p75 - p25.p25) / 100.0, 6) AS iqr,
        |  round(mad.mad / 100.0, 6) AS mad
        |FROM cnt
        |JOIN p25 ON p25.k = cnt.k JOIN p50 ON p50.k = cnt.k
        |JOIN p75 ON p75.k = cnt.k JOIN mad ON mad.k = cnt.k""".stripMargin,
    // Otsu: pixels regenerate from the fixture formula, exact integer
    // histogram/cumulatives, the SAME fixed IEEE variance tree per
    // threshold, argmax ties to the lowest t (ORDER BY v DESC, t)
    "qm16_otsu" ->
      """WITH ids AS (SELECT DISTINCT doc_id % 100 AS id FROM documents),
        |px AS (
        |  SELECT id, ((i * i + 31 * id) % 256) AS v
        |  FROM ids, generate_series(0, 1023) AS g(i)),
        |h AS (SELECT id, v, CAST(count(*) AS BIGINT) AS c FROM px GROUP BY id, v),
        |tot AS (
        |  SELECT id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS sall
        |  FROM h GROUP BY id),
        |th AS (SELECT id, t FROM ids, generate_series(0, 254) AS g(t)),
        |cum AS (
        |  SELECT th.id, th.t,
        |    CAST(coalesce(sum(h.c), 0) AS BIGINT) AS w0,
        |    CAST(coalesce(sum(h.v * h.c), 0) AS BIGINT) AS s0
        |  FROM th LEFT JOIN h ON h.id = th.id AND h.v <= th.t
        |  GROUP BY th.id, th.t),
        |sc AS (
        |  SELECT c.id, c.t, c.w0, c.s0,
        |    tot.n - c.w0 AS w1, tot.sall - c.s0 AS s1
        |  FROM cum c JOIN tot ON tot.id = c.id
        |  WHERE c.w0 > 0 AND tot.n - c.w0 > 0),
        |v AS (
        |  SELECT id, t, w0,
        |    (CAST(s0 AS DOUBLE) * CAST(w1 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(w0 AS DOUBLE))
        |    * (CAST(s0 AS DOUBLE) * CAST(w1 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(w0 AS DOUBLE))
        |    / (CAST(w0 AS DOUBLE) * CAST(w1 AS DOUBLE)) AS bv
        |  FROM sc),
        |best AS (
        |  SELECT id, t, w0, bv,
        |    row_number() OVER (PARTITION BY id ORDER BY bv DESC, t) AS rn
        |  FROM v)
        |SELECT id AS media_id, CAST(t AS BIGINT) AS otsu_t,
        |  w0 AS n_below, round(bv / 1048576.0, 6) AS var_norm
        |FROM best WHERE rn = 1""".stripMargin,
    // Component sizes: the qg18 edge set through the qd6 label-prop
    // min-fold, sizes aggregated twice (per-label, then per-size). The
    // %53 graph has ~26-node components: label-prop needs diameter
    // rounds, so this oracle (alone) runs 40 iterations.
    "qg19_components" ->
      s"""WITH RECURSIVE ${ordersGraphCtes(53, 500)},
         |nodes AS (
         |  SELECT DISTINCT id FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)),
         |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         |${componentCtes("),\n", rounds = 40)}),
         |sz AS (SELECT lb, CAST(count(*) AS BIGINT) AS sz FROM final GROUP BY lb)
         |SELECT sz AS component_size, CAST(count(*) AS BIGINT) AS n_components
         |FROM sz GROUP BY sz""".stripMargin,
    // Quality rules: one aggregate row, unpivoted; CASE WHEN counts
    // nulls as FAIL exactly like the engine's when/otherwise
    "qp16_quality" ->
      """WITH j AS (
        |  SELECT o.*, c.c_custkey AS ck
        |  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(sum(CASE WHEN o_totalprice < 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |    CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        |    CAST(sum(CASE WHEN ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r5
        |  FROM j),
        |u AS (
        |  SELECT 'totalprice_positive' AS rule, n, r1 AS np FROM a
        |  UNION ALL SELECT 'totalprice_under_100k', n, r2 FROM a
        |  UNION ALL SELECT 'status_domain', n, r3 FROM a
        |  UNION ALL SELECT 'priority_format', n, r4 FROM a
        |  UNION ALL SELECT 'customer_exists', n, r5 FROM a)
        |SELECT rule, n AS n_rows, np AS n_pass,
        |  CASE WHEN n > 0 THEN
        |    round(CAST(np AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS pass_rate
        |FROM u""".stripMargin,
    // Edit-distance join: the oracle brute-forces every length-compatible
    // pair with the SAME exact levenshtein the engine verifies with —
    // any prefix-filter recall hole loses a pair and breaks the compare
    "qd19_edit_join" ->
      """WITH s AS (
        |  SELECT c_custkey AS id, c_name AS nm FROM customer
        |  WHERE c_name IS NOT NULL)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM s a JOIN s b
        |  ON a.id < b.id AND abs(length(a.nm) - length(b.nm)) <= 1
        |WHERE levenshtein(a.nm, b.nm) <= 1""".stripMargin,
    // Hampel screen: both medians are SELECTIONS over identical Longs
    // carried at 2x scale; the outlier test is all-integer
    // (2*dev > 3*dm2) — no float before display rounding on either side
    "qe39_robust_z" ->
      """WITH b AS (
        |  SELECT user_id AS k, CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |l AS (
        |  SELECT k, list_sort(list(q)) AS qs, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY k),
        |m AS (
        |  SELECT k, n, qs,
        |    CASE WHEN n % 2 = 1 THEN 2 * qs[CAST((n + 1) // 2 AS INT)]
        |         ELSE qs[CAST(n // 2 AS INT)] + qs[CAST(n // 2 + 1 AS INT)]
        |    END AS m2
        |  FROM l),
        |d AS (
        |  SELECT k, n, m2,
        |    list_sort(list_transform(qs, x -> abs(2 * x - m2))) AS ds
        |  FROM m),
        |dm AS (
        |  SELECT k, n, m2, ds,
        |    CASE WHEN n % 2 = 1 THEN 2 * ds[CAST((n + 1) // 2 AS INT)]
        |         ELSE ds[CAST(n // 2 AS INT)] + ds[CAST(n // 2 + 1 AS INT)]
        |    END AS dm2
        |  FROM d)
        |SELECT k AS user_id, n AS n_events,
        |  round(CAST(m2 AS DOUBLE) / 200.0, 6) AS value_median,
        |  round(CAST(dm2 AS DOUBLE) / 400.0, 6) AS mad,
        |  CAST(len(list_filter(ds, x -> 2 * x > 3 * dm2)) AS BIGINT)
        |    AS n_outliers
        |FROM dm""".stripMargin,
    // OLS: identical integer power sums over (hours since 2020,
    // centi-value); slope/intercept/R² are the same fixed IEEE tree on
    // exact-cast doubles
    "qe40_ols" ->
      """WITH b AS (
        |  SELECT user_id AS k,
        |    (epoch_us(ts) // 3600000000) - 438288 AS t,
        |    CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |a AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(q) AS BIGINT) AS sq,
        |    CAST(sum(t * q) AS BIGINT) AS stq,
        |    CAST(sum(t * t) AS BIGINT) AS stt,
        |    CAST(sum(q * q) AS BIGINT) AS sqq
        |  FROM b GROUP BY k HAVING count(*) >= 2),
        |f AS (
        |  SELECT k, n, st, sq,
        |    n * stq - st * sq AS num,
        |    n * stt - st * st AS dent,
        |    n * sqq - sq * sq AS denq
        |  FROM a)
        |SELECT k AS user_id, n AS n_events,
        |  CASE WHEN dent > 0 THEN
        |    round(CAST(num AS DOUBLE) / CAST(dent AS DOUBLE) / 100.0, 6)
        |  END AS slope_per_hour,
        |  CASE WHEN dent > 0 THEN
        |    round((CAST(sq AS DOUBLE)
        |      - CAST(num AS DOUBLE) / CAST(dent AS DOUBLE) * CAST(st AS DOUBLE))
        |      / CAST(n AS DOUBLE) / 100.0, 6)
        |  END AS intercept,
        |  CASE WHEN dent > 0 AND denq > 0 THEN
        |    round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        |      / (CAST(dent AS DOUBLE) * CAST(denq AS DOUBLE)), 6)
        |  END AS r_squared
        |FROM f""".stripMargin,
    // Spearman: integer time ranks (row_number over (t, tie)) ×
    // doubled average value ranks (2*rank + peers - 1), then the exact
    // power-sum Pearson tree
    "qe41_spearman" ->
      """WITH b AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
        |    CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT k,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY t, tie) AS BIGINT) AS x,
        |    2 * CAST(rank() OVER (PARTITION BY k ORDER BY q) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY k, q) AS BIGINT) - 1 AS y
        |  FROM b),
        |a AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM r GROUP BY k HAVING count(*) >= 2)
        |SELECT k AS user_id, n AS n_events,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM a""".stripMargin,
    // Theil-Sen: the median is a SELECTION over identically-computed
    // doubles (one divide of exact integers per pair), so a pair
    // self-join + row_number replay lands on the same values; the
    // Spark side's in-array i<j scan generates exactly the a.t < b.t
    // pair set (equal-t pairs excluded on both sides).
    "qe38_theil_sen" ->
      """WITH b AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tie,
        |    CAST(floor(value * 100.0) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL),
        |n AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY k
        |  HAVING count(*) >= 2),
        |p AS (
        |  SELECT x.k,
        |    CAST((y.q - x.q) * 36000000 AS DOUBLE)
        |      / CAST(y.t - x.t AS DOUBLE) AS s
        |  FROM b x JOIN b y ON x.k = y.k AND x.t < y.t),
        |pr AS (
        |  SELECT k, s,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY s) AS BIGINT)
        |      AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS m
        |  FROM p),
        |sl AS (
        |  SELECT k, max(m) AS m,
        |    CASE WHEN max(m) % 2 = 1 THEN
        |      sum(CASE WHEN rn = (m + 1) / 2 THEN s ELSE 0.0 END)
        |    ELSE
        |      (sum(CASE WHEN rn = m / 2 THEN s ELSE 0.0 END)
        |        + sum(CASE WHEN rn = m / 2 + 1 THEN s ELSE 0.0 END)) / 2.0
        |    END AS slope
        |  FROM pr GROUP BY k),
        |vr AS (
        |  SELECT k, q,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY q) AS BIGINT)
        |      AS rn,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM b),
        |vm AS (
        |  SELECT k,
        |    CASE WHEN max(n) % 2 = 1 THEN
        |      CAST(sum(CASE WHEN rn = (n + 1) / 2 THEN q ELSE 0 END)
        |        AS DOUBLE)
        |    ELSE
        |      CAST(sum(CASE WHEN rn = n / 2 THEN q ELSE 0 END)
        |        + sum(CASE WHEN rn = n / 2 + 1 THEN q ELSE 0 END)
        |        AS DOUBLE) / 2.0
        |    END AS vmed
        |  FROM vr GROUP BY k)
        |SELECT n.k AS user_id, n.n AS n_events,
        |  coalesce(sl.m, CAST(0 AS BIGINT)) AS n_pairs,
        |  round(sl.slope, 6) AS slope_per_hour,
        |  round(vm.vmed / 100.0, 6) AS value_median
        |FROM n
        |LEFT JOIN sl ON sl.k = n.k
        |JOIN vm ON vm.k = n.k""".stripMargin,
    // Association pairs: identical distinct-token baskets, all-integer
    // counts and the Apriori prune (pair >= s implies both items >= s,
    // so pruning items first changes nothing), top-k on integer keys.
    "qt38_assoc_pairs" ->
      """WITH baskets AS (
        |  SELECT row_number() OVER () AS bid,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      w -> w <> '')) AS items
        |  FROM documents),
        |nb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM baskets
        |  WHERE len(items) > 0),
        |it AS (
        |  SELECT bid, unnest(items) AS w FROM baskets),
        |freq AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cw
        |  FROM it GROUP BY w HAVING count(*) >= 50),
        |pairs AS (
        |  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS c
        |  FROM it a
        |  JOIN it b ON a.bid = b.bid AND a.w < b.w
        |  JOIN freq fa ON fa.w = a.w
        |  JOIN freq fb ON fb.w = b.w
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT w1, w2, c AS pair_count, fa.cw AS count_a, fb.cw AS count_b,
        |  nb.n AS n_baskets,
        |  round(CAST(c AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) AS support,
        |  round(CAST(c AS DOUBLE) * CAST(nb.n AS DOUBLE)
        |    / (CAST(fa.cw AS DOUBLE) * CAST(fb.cw AS DOUBLE)), 6) AS lift
        |FROM pairs
        |JOIN freq fa ON fa.w = pairs.w1
        |JOIN freq fb ON fb.w = pairs.w2
        |CROSS JOIN nb
        |ORDER BY pair_count DESC, w1, w2
        |LIMIT 20""".stripMargin,
    // Attribution: all-integer join predicate and argmin/argmax
    // first/last selection; credit is one IEEE divide.
    "qj17_attribution" ->
      """WITH t AS (
        |  SELECT user_id AS u, epoch_us(ts) AS tt, event_id AS tid
        |  FROM events WHERE event_type = 'click'),
        |c AS (
        |  SELECT user_id AS u, epoch_us(ts) AS ct, event_id AS cid
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.u AS user_id, c.cid AS conversion_id,
        |  CAST(count(t.tid) AS BIGINT) AS n_touches,
        |  min(CASE WHEN t.tid IS NOT NULL THEN struct_pack(tt := t.tt,
        |    tid := t.tid) END).tid AS first_touch_id,
        |  max(CASE WHEN t.tid IS NOT NULL THEN struct_pack(tt := t.tt,
        |    tid := t.tid) END).tid AS last_touch_id,
        |  CASE WHEN count(t.tid) > 0
        |    THEN round(1.0 / CAST(count(t.tid) AS DOUBLE), 6)
        |  END AS credit_per_touch
        |FROM c
        |LEFT JOIN t ON t.u = c.u AND t.tt < c.ct
        |  AND t.tt >= c.ct - 604800000000
        |GROUP BY c.u, c.ct, c.cid""".stripMargin,
    // Mutual kNN, cell-bucketed: the qd14 seed-cell assignment made
    // multi-probe (round-6dp L2² to the 32 lowest-id seeds, the 2
    // nearest cells per vector, (d2, cidx) ties), DISTINCT shared-cell
    // candidate pairs, then the qs5 cosine replay per direction
    // (symmetric bit-for-bit — multiplies commute, fold order is
    // element order), row_number k-cut with the same (sim desc, id)
    // tie-break, and the directed edge list joined with its transpose.
    "qs14_mutual_knn" ->
      """WITH seeds AS (
        |  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
        |        LIMIT (SELECT greatest(32, count(*) // 64) FROM embeddings))),
        |dists AS (
        |  SELECT e.vec_id, s.cidx,
        |    round(list_sum(list_transform(generate_series(1, 64), j ->
        |      pow(CAST(e.embedding[j] AS DOUBLE) - CAST(s.embedding[j] AS DOUBLE), 2))), 6) AS d2
        |  FROM embeddings e CROSS JOIN seeds s),
        |probes AS (
        |  SELECT vec_id, cidx AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cidx) AS rn
        |    FROM dists)
        |  WHERE rn <= 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS qa, b.vec_id AS qb
        |  FROM probes a JOIN probes b ON a.cell = b.cell
        |  WHERE a.vec_id <> b.vec_id),
        |s AS (
        |  SELECT c.qa, c.qb,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE))) AS dot,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(a.embedding[i] AS DOUBLE))) AS na,
        |    list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(b.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE))) AS nb
        |  FROM cand c
        |  JOIN embeddings a ON a.vec_id = c.qa
        |  JOIN embeddings b ON b.vec_id = c.qb),
        |r AS (
        |  SELECT qa, qb,
        |    round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
        |               ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
        |  FROM s),
        |rk AS (
        |  SELECT qa, qb, sim,
        |    CAST(row_number() OVER (PARTITION BY qa
        |      ORDER BY sim DESC, qb) AS BIGINT) AS rank
        |  FROM r),
        |knn AS (SELECT * FROM rk WHERE rank <= 5)
        |SELECT f.qa AS id_a, f.qb AS id_b, f.sim,
        |  f.rank AS rank_ab, g.rank AS rank_ba
        |FROM knn f
        |JOIN knn g ON g.qa = f.qb AND g.qb = f.qa
        |WHERE f.qa < f.qb""".stripMargin,
    // PMI: identical tokenization (split \s+ of lower(trim)), identical
    // integer bigram counts, and the RATIO — one IEEE divide of exact
    // integer products — as the sort key on both sides, so the top-k
    // row set can't flip on a libm ln ulp; ln only shapes the output.
    "qt36_pmi" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
        |c12 AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
        |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM c12),
        |r AS (
        |  SELECT w1, w2, c12,
        |    CAST(c12 * n AS DOUBLE) / CAST(c1 * c2 AS DOUBLE) AS ratio
        |  FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
        |  WHERE c12 >= 5)
        |SELECT w1, w2, c12, round(ln(ratio), 6) AS pmi
        |FROM r ORDER BY ratio DESC, w1, w2 LIMIT 50""".stripMargin,
    // Containment: the oracle brute-forces ALL ordered pairs over the
    // identical 3-gram shingle sets — the strongest check the prefix
    // theorem allows. Integer threshold (1000c >= 900·na) on both
    // sides; the C = c/na divide is one IEEE op on exact integers.
    "qd17_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                   for i in generate_series(1, len(t) - 2)]) AS ts
        |  FROM toks WHERE len(t) >= 3),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.ts, b.ts)) AS c, len(a.ts) AS na
        |  FROM s a, s b WHERE a.doc_id <> b.doc_id)
        |SELECT a_id, b_id,
        |  round(CAST(c AS DOUBLE) / CAST(na AS DOUBLE), 6) AS containment
        |FROM p WHERE c * 1000 >= 900 * na""".stripMargin,
    // LTTB: the sequential bucket walk replays as a recursive CTE with
    // GROUP BY in the recursive term (the qg1 shape) — per step the
    // argmax is max(struct(area, −rn, …)), the exact total order of
    // Spark's first-wins strict-> fold. All sums are INTEGER (y is
    // quantized millionths), centroids and the cross product are
    // correctly-rounded IEEE ops on bit-identical operands, and the
    // bucket map is engine-exact floor division.
    "qe28_lttb" ->
      """WITH RECURSIVE pts AS (
        |  SELECT user_id AS k, epoch_us(ts) AS x,
        |    CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |small AS (SELECT k, x, y FROM pts WHERE n <= 20),
        |big AS (SELECT * FROM pts WHERE n > 20),
        |mid AS (
        |  SELECT k, rn, x, y, ((rn - 2) * 18) // (n - 2) + 1 AS b
        |  FROM big WHERE rn >= 2 AND rn <= n - 1),
        |nexts AS (
        |  SELECT k, b - 1 AS i,
        |    CAST(sum(x) AS DOUBLE) / count(*) AS nx,
        |    CAST(sum(y) AS DOUBLE) / count(*) AS ny
        |  FROM mid GROUP BY k, b HAVING b >= 2),
        |lastpt AS (
        |  SELECT k, CAST(x AS DOUBLE) AS nx, CAST(y AS DOUBLE) AS ny
        |  FROM big WHERE rn = n),
        |anchors AS (
        |  SELECT k, i, nx, ny FROM nexts
        |  UNION ALL SELECT k, 18, nx, ny FROM lastpt),
        |r AS (
        |  SELECT k, 0 AS i, x AS px, y AS py FROM big WHERE rn = 1
        |  UNION ALL
        |  SELECT m.k, r.i + 1,
        |    (max(struct_pack(a := abs(
        |        (CAST(r.px AS DOUBLE) - an.nx)
        |          * (CAST(m.y AS DOUBLE) - CAST(r.py AS DOUBLE))
        |        - (CAST(r.px AS DOUBLE) - CAST(m.x AS DOUBLE))
        |          * (an.ny - CAST(r.py AS DOUBLE))),
        |      nr := -m.rn, sx := m.x, sy := m.y))).sx,
        |    (max(struct_pack(a := abs(
        |        (CAST(r.px AS DOUBLE) - an.nx)
        |          * (CAST(m.y AS DOUBLE) - CAST(r.py AS DOUBLE))
        |        - (CAST(r.px AS DOUBLE) - CAST(m.x AS DOUBLE))
        |          * (an.ny - CAST(r.py AS DOUBLE))),
        |      nr := -m.rn, sx := m.x, sy := m.y))).sy
        |  FROM r
        |  JOIN mid m ON m.k = r.k AND m.b = r.i + 1
        |  JOIN anchors an ON an.k = r.k AND an.i = r.i + 1
        |  WHERE r.i < 18
        |  GROUP BY m.k, r.i + 1),
        |sel AS (
        |  SELECT k, px AS x, py AS y FROM r
        |  UNION ALL SELECT k, x, y FROM big WHERE rn = n
        |  UNION ALL SELECT k, x, y FROM small)
        |SELECT k AS user_id, x, CAST(y AS DOUBLE) / 1000000.0 AS y
        |FROM sel""".stripMargin,
    // Streaming count-min: addition is the CMS merge, so the stream's
    // per-window cells equal the batch cells exactly — qk2's replay
    // keyed by the tumbling hour, probes estimated per window.
    "qe27_stream_cms" ->
      """WITH e AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wk,
        |    event_type AS tok
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (
        |  SELECT wk, r,
        |    CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || tok), 1, 8)
        |      AS BIGINT) % 64 AS bucket,
        |    count(*) AS cnt
        |  FROM e CROSS JOIN generate_series(0, 3) AS s(r) GROUP BY 1, 2, 3),
        |w AS (SELECT DISTINCT wk FROM e),
        |p AS (
        |  SELECT term, r,
        |    CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || term), 1, 8)
        |      AS BIGINT) % 64 AS bucket
        |  FROM (VALUES ('click'), ('purchase'), ('zzz_missing')) v(term)
        |  CROSS JOIN generate_series(0, 3) AS s(r))
        |SELECT wk AS window_start, term,
        |  CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
        |FROM w CROSS JOIN p LEFT JOIN g USING (wk, r, bucket)
        |GROUP BY 1, 2""".stripMargin,
    // Histogram quantile: identical equi-width binning (floor of the
    // same IEEE division; width 1718.75 is FP-exact), identical
    // cumulative pick and single-IEEE-op interpolation — counts and bin
    // indices are integer-valued doubles, so there is no summation
    // order anywhere and the estimates match bit-for-bit.
    "qk6_hist_quantile" ->
      """WITH v AS (
        |  SELECT l_returnflag AS k, l_extendedprice AS val FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |b AS (
        |  SELECT k, least(greatest(
        |    CAST(floor((val - 0.0) / 1718.75) AS BIGINT), 0), 63) AS bin
        |  FROM v),
        |c AS (SELECT k, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |w AS (
        |  SELECT k, bin, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY k ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY k) AS BIGINT) AS n
        |  FROM c),
        |e AS (
        |  SELECT k, q, bin, cnt, cum, n,
        |    row_number() OVER (PARTITION BY k, q ORDER BY bin) AS rn
        |  FROM w CROSS JOIN (VALUES (0.5), (0.95), (0.99)) qq(q)
        |  WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE))
        |SELECT k AS l_returnflag, q,
        |  round(0.0 + (CAST(bin AS DOUBLE) +
        |    (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE)) /
        |      CAST(cnt AS DOUBLE)) * 1718.75, 6) AS est
        |FROM e WHERE rn = 1""".stripMargin,
    // Level-sampling quantile sketch: tz = trailing zeros of the md5
    // row-id hash (bin() of the isolated lowest bit — the qk4 unpadded-
    // binary idiom), level = (largest tz whose >=tz suffix count
    // exceeds k) + 1 — clamped to the key's max tz, the never-empty
    // guarantee — via the same DESC cumulative window, sample ranks
    // over the same (v, id) order, answer index ((target-1) >> L) + 1
    // clamped to the sample — every step integer or a raw input value,
    // so the hash compare is FP-trivial.
    "qk7_quantile_sketch" ->
      """WITH base AS (
        |  SELECT l_returnflag AS k, l_extendedprice AS v,
        |    CAST(l_orderkey AS VARCHAR) || '|' ||
        |      CAST(l_linenumber AS VARCHAR) AS id
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |hz AS MATERIALIZED (
        |  SELECT k, v, id,
        |    CASE WHEN hv = 0 THEN 32
        |      ELSE length(bin(hv & (-hv))) - 1 END AS tz
        |  FROM (SELECT k, v, id,
        |      CAST('0x' || substring(md5(id), 1, 8) AS BIGINT) AS hv
        |    FROM base)),
        |lv AS (
        |  SELECT k, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(least(
        |      coalesce(max(CASE WHEN suf > 256 THEN tz END) + 1, 0),
        |      max(tz)) AS BIGINT) AS lvl
        |  FROM (
        |    SELECT k, tz, c,
        |      sum(c) OVER (PARTITION BY k ORDER BY tz DESC) AS suf
        |    FROM (SELECT k, tz, count(*) AS c FROM hz GROUP BY 1, 2))
        |  GROUP BY k),
        |samp AS (
        |  SELECT hz.k, hz.v, lv.n, lv.lvl,
        |    row_number() OVER (PARTITION BY hz.k ORDER BY hz.v, hz.id) AS i,
        |    count(*) OVER (PARTITION BY hz.k) AS ns
        |  FROM hz JOIN lv ON lv.k = hz.k AND hz.tz >= lv.lvl),
        |tg AS (
        |  SELECT k, q, v, n, lvl, i, ns,
        |    least(((greatest(1, CAST(ceil(CAST(n AS DOUBLE) * q) AS BIGINT))
        |        - 1) >> CAST(lvl AS INT)) + 1,
        |      CAST(ns AS BIGINT)) AS istar
        |  FROM samp
        |  CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) qq(q))
        |SELECT k AS l_returnflag, q,
        |  CAST(max(n) AS BIGINT) AS n, max(lvl) AS level,
        |  CAST(max(ns) AS BIGINT) AS n_sample,
        |  min(CASE WHEN i = istar THEN v END) AS est
        |FROM tg GROUP BY 1, 2""".stripMargin,
    // AMS F2: sign-for-sign md5-parity replay (the qs11 convention),
    // HUGEINT counter sums mirroring the engine's DECIMAL(38,0), one
    // final divide each side.
    "qk8_ams_f2" ->
      """WITH tk AS (
        |  SELECT t FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |sgn AS (
        |  SELECT g.j,
        |    1 - 2 * (CAST('0x' || substring(md5(CAST(g.j AS VARCHAR)
        |      || '|' || t), 1, 8) AS BIGINT) % 2) AS s
        |  FROM tk CROSS JOIN generate_series(0, 15) g(j)),
        |z AS (SELECT j, sum(s) AS z FROM sgn GROUP BY j),
        |zz AS (SELECT sum(z * z) AS szz FROM z),
        |ex AS (
        |  SELECT sum(c * c) AS f2
        |  FROM (SELECT count(*) AS c FROM tk GROUP BY t))
        |SELECT CAST(16 AS BIGINT) AS k,
        |  CAST(szz AS DOUBLE) / 16.0 AS f2_est,
        |  CAST(f2 AS BIGINT) AS f2_exact,
        |  CASE WHEN f2 > 0 THEN
        |    round(abs(CAST(szz AS DOUBLE) / 16.0 - CAST(f2 AS DOUBLE))
        |      / CAST(f2 AS DOUBLE), 6) END AS rel_err
        |FROM zz, ex""".stripMargin,
    // Random projection: sign-for-sign md5-parity replay, and the inner
    // sum is list_reduce — the same sequential left fold Spark's
    // aggregate() runs, so doubles match bit-for-bit pre-round.
    "qs11_random_projection" ->
      """SELECT vec_id, CAST(t.j AS INTEGER) AS dim,
        |  round(list_reduce(
        |    list_transform(embedding, (x, i) ->
        |      CAST(x AS DOUBLE) *
        |      CASE WHEN CAST('0x' || substring(
        |          md5(CAST(t.j AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 8)
        |        AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END),
        |    (a, b) -> a + b) / 4.0, 6) AS proj
        |FROM embeddings CROSS JOIN generate_series(1, 16) AS t(j)""".stripMargin,
    // Levenshtein: both engines run the same unit-cost DP; the
    // normalized similarity divides in the same operation order.
    "qt34_edit_distance" ->
      """WITH d AS (
        |  SELECT doc_id, substring(text, 1, 40) AS p FROM documents)
        |SELECT a.doc_id,
        |  CAST(levenshtein(a.p, b.p) AS INTEGER) AS edit_dist,
        |  round(1.0 - CAST(levenshtein(a.p, b.p) AS DOUBLE) /
        |    CAST(greatest(len(a.p), len(b.p)) AS DOUBLE), 6) AS sim
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,
    // KMV sketch: the oracle rebuilds the k-minimum distinct-hash set
    // (md5-prefix hashes, rank <= 16 per source) and the identical
    // (k-1)/h_(k) estimate — approximate answer, exact replay.
    "qk1_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM h),
        |s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_sketch,
        |    max(CASE WHEN rn = 16 THEN hv END) AS hk
        |  FROM r WHERE rn <= 16 GROUP BY source)
        |SELECT source, n_sketch,
        |  round(CASE WHEN n_sketch < 16 THEN CAST(n_sketch AS DOUBLE)
        |    ELSE 15.0 / (CAST(hk + 1 AS DOUBLE) / 4294967296.0) END, 6)
        |    AS est_distinct
        |FROM s""".stripMargin,
    // Count-min: full d x w count table with the same md5 bucket hashes,
    // same min over rows; LEFT join keeps the absent probe's zero.
    "qk2_countmin" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |t2 AS (SELECT tok FROM toks WHERE len(tok) > 0),
        |g AS (
        |  SELECT r,
        |    CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || tok), 1, 8)
        |      AS BIGINT) % 256 AS bucket,
        |    count(*) AS cnt
        |  FROM t2 CROSS JOIN generate_series(0, 3) AS s(r) GROUP BY 1, 2),
        |p AS (
        |  SELECT term, r,
        |    CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || term), 1, 8)
        |      AS BIGINT) % 256 AS bucket
        |  FROM (VALUES ('join'), ('hash'), ('agg'), ('zzzmissing')) v(term)
        |  CROSS JOIN generate_series(0, 3) AS s(r))
        |SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
        |FROM p LEFT JOIN g USING (r, bucket) GROUP BY term""".stripMargin,
    // KMV set algebra: merged pair sketches (rank <= 16 of the union of
    // the two k-min sets), same estimates, same (a+b)-u operation order.
    "qk3_kmv_setops" ->
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM h),
        |sk AS MATERIALIZED (SELECT source, hv, rn FROM r WHERE rn <= 16),
        |e2 AS MATERIALIZED (
        |  SELECT source,
        |    CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
        |      ELSE 15.0 / (CAST(max(CASE WHEN rn = 16 THEN hv END) + 1
        |        AS DOUBLE) / 4294967296.0) END AS est
        |  FROM sk GROUP BY source),
        |pairs AS MATERIALIZED (
        |  SELECT a.source AS key_a, b.source AS key_b
        |  FROM (SELECT DISTINCT source FROM documents) a
        |  JOIN (SELECT DISTINCT source FROM documents) b
        |    ON a.source < b.source),
        |uh AS (
        |  SELECT key_a, key_b, hv FROM pairs JOIN sk ON sk.source = key_a
        |  UNION
        |  SELECT key_a, key_b, hv FROM pairs JOIN sk ON sk.source = key_b),
        |ur AS (
        |  SELECT key_a, key_b, hv,
        |    row_number() OVER (PARTITION BY key_a, key_b ORDER BY hv) AS rn
        |  FROM uh),
        |ue AS (
        |  SELECT key_a, key_b,
        |    CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
        |      ELSE 15.0 / (CAST(max(CASE WHEN rn = 16 THEN hv END) + 1
        |        AS DOUBLE) / 4294967296.0) END AS estu
        |  FROM ur WHERE rn <= 16 GROUP BY key_a, key_b)
        |SELECT ue.key_a, ue.key_b, round(estu, 6) AS est_union,
        |  round((ea.est + eb.est) - estu, 6) AS est_intersect
        |FROM ue
        |JOIN e2 ea ON ea.source = ue.key_a
        |JOIN e2 eb ON eb.source = ue.key_b""".stripMargin,
    // HLL: identical registers (top-4 hash bits bucket via integer
    // floor-divide, rank via unpadded bin() length — both engine-exact)
    // and identical harmonic estimate (the register sum is FP-exact in
    // any order: every term is a power of two, partials fit a mantissa).
    // 0.673*16.0*16.0 replays lit(alpha*m*m) exactly — scaling a
    // rounded literal by a power of two commutes with the rounding.
    "qk4_hll_distinct" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |g AS (
        |  SELECT event_type, hv // 268435456 AS b,
        |    max(CASE WHEN hv % 268435456 = 0 THEN 29
        |      ELSE 29 - length(bin(hv % 268435456)) END) AS m
        |  FROM h GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_registers,
        |    sum(1.0 / CAST(1::BIGINT << m AS DOUBLE)) AS sp
        |  FROM g GROUP BY 1)
        |SELECT event_type, n_registers,
        |  round(CASE WHEN (0.673 * 16.0 * 16.0 /
        |        (sp + (16.0 - CAST(n_registers AS DOUBLE)))) <= 40.0
        |      AND (16 - n_registers) > 0
        |    THEN 16.0 * ln(16.0 / CAST(16 - n_registers AS DOUBLE))
        |    ELSE 0.673 * 16.0 * 16.0 /
        |      (sp + (16.0 - CAST(n_registers AS DOUBLE))) END, 6)
        |    AS est_distinct
        |FROM s""".stripMargin,
    // HLL set algebra: per-pair union registers = elementwise max of
    // the two sides' register rows; same estimator, same (a+b)-u
    // inclusion-exclusion order as the Spark side.
    "qk5_hll_setops" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |g AS MATERIALIZED (
        |  SELECT event_type, hv // 268435456 AS b,
        |    max(CASE WHEN hv % 268435456 = 0 THEN 29
        |      ELSE 29 - length(bin(hv % 268435456)) END) AS m
        |  FROM h GROUP BY 1, 2),
        |e1 AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(1.0 / CAST(1::BIGINT << m AS DOUBLE)) AS sp
        |  FROM g GROUP BY 1),
        |e2 AS MATERIALIZED (
        |  SELECT event_type,
        |    CASE WHEN (0.673 * 16.0 * 16.0 /
        |          (sp + (16.0 - CAST(n AS DOUBLE)))) <= 40.0 AND (16 - n) > 0
        |      THEN 16.0 * ln(16.0 / CAST(16 - n AS DOUBLE))
        |      ELSE 0.673 * 16.0 * 16.0 / (sp + (16.0 - CAST(n AS DOUBLE)))
        |      END AS est
        |  FROM e1),
        |pairs AS MATERIALIZED (
        |  SELECT a.event_type AS key_a, b.event_type AS key_b
        |  FROM (SELECT DISTINCT event_type FROM g) a
        |  JOIN (SELECT DISTINCT event_type FROM g) b
        |    ON a.event_type < b.event_type),
        |uh AS (
        |  SELECT key_a, key_b, b, m FROM pairs JOIN g ON g.event_type = key_a
        |  UNION ALL
        |  SELECT key_a, key_b, b, m FROM pairs JOIN g ON g.event_type = key_b),
        |ug AS (
        |  SELECT key_a, key_b, b, max(m) AS m FROM uh GROUP BY 1, 2, 3),
        |ue AS (
        |  SELECT key_a, key_b, CAST(count(*) AS BIGINT) AS n,
        |    sum(1.0 / CAST(1::BIGINT << m AS DOUBLE)) AS sp
        |  FROM ug GROUP BY 1, 2),
        |uest AS (
        |  SELECT key_a, key_b,
        |    CASE WHEN (0.673 * 16.0 * 16.0 /
        |          (sp + (16.0 - CAST(n AS DOUBLE)))) <= 40.0 AND (16 - n) > 0
        |      THEN 16.0 * ln(16.0 / CAST(16 - n AS DOUBLE))
        |      ELSE 0.673 * 16.0 * 16.0 / (sp + (16.0 - CAST(n AS DOUBLE)))
        |      END AS est
        |  FROM ue)
        |SELECT u.key_a, u.key_b, round(u.est, 6) AS est_union,
        |  round((ea.est + eb.est) - u.est, 6) AS est_intersect
        |FROM uest u
        |JOIN e2 ea ON ea.event_type = u.key_a
        |JOIN e2 eb ON eb.event_type = u.key_b""".stripMargin,
    // EWMA: the recursive CTE replays the fold step-for-step — same
    // seed, same (ts, event_id) order, same acc*0.75 + v*0.25 IEEE ops
    // — so doubles match bit-for-bit before the 6-dp round.
    "qe15_ewma" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, rn, value AS acc FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT ev.user_id, ev.rn, r.acc * 0.75 + ev.value * 0.25
        |  FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1)
        |SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
        |  round(max_by(acc, rn), 6) AS ewma
        |FROM r GROUP BY user_id""".stripMargin,
    // OHLC bars: identical integer bucket arithmetic (// == div) and
    // row_number tie order on both sides.
    "qe16_ohlc" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    (epoch_us(ts) // 1000000) // 1800 AS bucket,
        |    value,
        |    row_number() OVER (PARTITION BY user_id,
        |      (epoch_us(ts) // 1000000) // 1800
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY user_id,
        |      (epoch_us(ts) // 1000000) // 1800
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM events)
        |SELECT user_id, bucket,
        |  round(max(CASE WHEN ra = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(max(CASE WHEN rd = 1 THEN value END), 6) AS close,
        |  count(*) AS n,
        |  round(sum(value), 6) AS vol
        |FROM ev GROUP BY 1, 2""".stripMargin,
    // K-core: the oracle unrolls the peel 12 iterations (fixpoint at 4
    // measured; extra rounds are no-ops by definition of a fixpoint),
    // each round re-counting degrees WITHIN the surviving set only.
    "qg11_kcore" -> {
      // MATERIALIZED: each nᵢ is referenced twice — inlined CTEs would
      // re-expand the whole chain per reference (2¹² scans of orders)
      val iters = (1 to 12).map { i =>
        s"""n$i AS MATERIALIZED (SELECT v FROM (
           |  SELECT ed.v, count(*) AS d FROM ed
           |  WHERE ed.v IN (SELECT v FROM n${i - 1})
           |    AND ed.w IN (SELECT v FROM n${i - 1})
           |  GROUP BY ed.v) WHERE d >= 15)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT o_custkey % (1 + o_orderkey % 97) AS x,
         |         100 + o_orderkey % 350 AS y
         |  FROM orders WHERE o_orderkey % 4 = 0),
         |e AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
         |      FROM raw WHERE x <> y),
         |ed AS MATERIALIZED (SELECT a AS v, b AS w FROM e
         |      UNION ALL SELECT b, a FROM e),
         |n0 AS MATERIALIZED (SELECT DISTINCT v FROM ed),
         |$iters
         |SELECT ed.v AS node, count(*) AS core_deg FROM ed
         |WHERE ed.v IN (SELECT v FROM n12) AND ed.w IN (SELECT v FROM n12)
         |GROUP BY 1""".stripMargin
    },
    // int8 SQ: corpus quantization replayed term-for-term (same max-abs
    // scale, same round, same de-scale order); query codes arrive as the
    // SAME literal integers the gate used
    "qs8_sq_topk" -> {
      val qc = qs8Qc.map(_.toString).mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
         |  FROM embeddings),
         |c AS (
         |  SELECT vec_id, m,
         |    list_transform(embedding,
         |      x -> CAST(round(127.0 * CAST(x AS DOUBLE) / m) AS BIGINT)) AS codes
         |  FROM v WHERE m > 0),
         |s AS (
         |  SELECT vec_id, m,
         |    list_sum(list_transform(range(1, 65), i -> codes[i] * qc[i])) AS s
         |  FROM (SELECT vec_id, m, codes, $qc::BIGINT[] AS qc FROM c))
         |SELECT vec_id,
         |  round(((CAST(s AS DOUBLE) * m) * $qs8Qm) / 16129.0, 6) AS approx
         |FROM s ORDER BY approx DESC, vec_id LIMIT 100""".stripMargin
    },
    // codebook = subvectors of the 16 lowest-id vectors; per-subspace L2^2
    // rounded to 6 before the argmin (ties -> lowest code); ADC = sum of
    // per-subspace query tables, rounded to 6 — all three rules replayed
    "qs7_pq_adc" ->
      s"""WITH ${pqAdcCtes("embeddings e CROSS JOIN cb")}
         |SELECT vec_id, adc FROM adc0 ORDER BY adc, vec_id LIMIT 100""".stripMargin,
    "qs3_dot_topk" -> {
      val qv = Array.tabulate(64)(i => math.cos(i * 0.5 + 1.0)) // same probe as qs3
        .map(_.toString)
        .mkString("[", ", ", "]")
      s"""WITH s AS (
         |  SELECT vec_id,
         |    sum(CAST(embedding[t.i] AS DOUBLE) * qv[t.i]) AS d
         |  FROM (SELECT vec_id, embedding, $qv::DOUBLE[] AS qv FROM embeddings)
         |  CROSS JOIN generate_series(1, 64) AS t(i)
         |  GROUP BY vec_id)
         |SELECT vec_id, round(d, 6) AS dot
         |FROM s ORDER BY dot DESC, vec_id LIMIT 100""".stripMargin
    },
    "qs6_kmeans" -> qs6OracleSql,
    // Exact k-NN join replay: same per-element double-cast cosine as the
    // qs1 oracle, ranked per query with the identical (sim DESC, vec_id)
    // tie order the bounded aggregator uses.
    "qs5_knn_join" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT q.query_id, c.vec_id,
        |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dot,
        |    sum(CAST(c.embedding[t.i] AS DOUBLE) * CAST(c.embedding[t.i] AS DOUBLE)) AS na,
        |    sum(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS nb
        |  FROM embeddings c
        |  CROSS JOIN q
        |  CROSS JOIN generate_series(1, 64) AS t(i)
        |  GROUP BY q.query_id, c.vec_id),
        |r AS (
        |  SELECT query_id, vec_id,
        |    round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
        |               ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
        |  FROM s),
        |rk AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM r)
        |SELECT query_id, vec_id, sim, rank FROM rk WHERE rank <= 10""".stripMargin,
    // DemoNetwork.grid(8) rebuilt in SQL (same ruc formula, same 0.99888 km
    // factor, same append-order way indexing via row_number over (i,j,kind)),
    // then hop-bounded Bellman-Ford as a recursive CTE: each iteration
    // carries the full per-(source,node) min table forward and relaxes one
    // edge hop; min over iterations = Dijkstra's fixpoint, bit-identical
    // (identical left-to-right accumulation along the winning path, min
    // over the same candidate set). Hop bound 70 > any useful path length
    // (cheapest edge 0.4994, costliest shortest path ~11.3 ⇒ ≤23 hops).
    "qg1_route_matrix" ->
      s"""WITH RECURSIVE h AS (
         |  SELECT i*8+j AS src, i*8+j+1 AS dst,
         |         (0.5 + ((i*31 + j*17) % 100)/100.0) * 0.99888 AS w
         |  FROM generate_series(0,7) s(i), generate_series(0,6) t(j)
         |), v AS (
         |  SELECT i*8+j AS src, (i+1)*8+j AS dst,
         |         (0.5 + ((j*31 + i*17) % 100)/100.0) * 0.99888 AS w
         |  FROM generate_series(0,6) s(i), generate_series(0,7) t(j)
         |), e0 AS (SELECT * FROM h UNION ALL SELECT * FROM v),
         |edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
         |od(idx, node) AS (SELECT * FROM (VALUES (0,0),(1,7),(2,56),(3,63),(4,36))),
         |${routeMatrixSql(70)}""".stripMargin,
    // leave-one-out criticality: scenario dimension sw = way removed (-1 =
    // benchmark), edges filtered per scenario inside the relaxation; then
    // the reference's exact scoring (criticality.js:93-110) in SQL. One
    // generated body serves both grid sizes so the cost formula cannot
    // silently diverge between them. Hop bounds verified converged
    // (identical output at bound and bound+10); qg4 runs ~25 s in DuckDB.
    "qg2_criticality" -> criticalityOracleSql(n = 8, hopBound = 50),
    "qg4_criticality_large" -> criticalityOracleSql(n = 16, hopBound = 60),
    // Bridge prep: the road-id regex, CULV recode, comma-strip + 7 m
    // default, and GPS→point all replay literally (TRY_CAST mirrors the
    // permissive cast; the fixture keeps every value numeric so Spark's
    // ANSI cast never throws).
    "qb1_bridge_prep" ->
      """WITH b AS (
        |  SELECT s_suppkey AS k,
        |    'B' || CAST(s_suppkey AS VARCHAR) AS str_id,
        |    (CASE s_suppkey % 3 WHEN 0 THEN 'N' WHEN 1 THEN 'R' ELSE 'M' END)
        |      || lpad(CAST(s_suppkey % 800 + 1 AS VARCHAR), 6, '0') AS link_id,
        |    CASE WHEN s_suppkey % 4 = 0 THEN 'CULV'
        |         ELSE 'T' || CAST(s_suppkey % 3 AS VARCHAR) END AS des_type,
        |    CASE s_suppkey % 5 WHEN 0 THEN '0' WHEN 1 THEN '1,234'
        |      WHEN 2 THEN '56.5' ELSE CAST(s_suppkey AS VARCHAR) END AS over_length
        |  FROM supplier
        |), c AS (
        |  SELECT *, TRY_CAST(replace(over_length, ',', '') AS DOUBLE) AS len0 FROM b
        |)
        |SELECT str_id AS bridge_id,
        |  regexp_extract(substring(link_id, 1, 5), '([A-Z])0*([1-9][0-9]*)', 1) ||
        |  regexp_extract(substring(link_id, 1, 5), '([A-Z])0*([1-9][0-9]*)', 2) AS road_id,
        |  CASE WHEN des_type = 'CULV' THEN 'culvert' ELSE 'bridge' END AS type,
        |  round(CASE WHEN len0 IS NULL OR len0 = 0.0 THEN 7.0 ELSE len0 END, 6) AS length,
        |  (k % 360) * 0.1 AS x,
        |  (k % 170) * 0.1 - 8.5 AS y
        |FROM c""".stripMargin,
    // Salted join: the oracle is the PLAIN join over the same skewed
    // key — salting redistributes the hot key across subkeys without
    // changing a single matched row
    "qj13_salted_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
        |              ELSE l_orderkey % 25 END AS k,
        |    l_extendedprice, l_quantity
        |  FROM lineitem),
        |d AS (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation)
        |SELECT n_name, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(avg(l_quantity), 6) AS avg_qty
        |FROM f JOIN d USING (k)
        |GROUP BY 1""".stripMargin,
    // Bloom runtime-filter join: the oracle is the PLAIN join — the
    // bloom pre-filter must be output-invisible (false positives die in
    // the join, false negatives cannot exist).
    "qj14_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 53 = 0
        |GROUP BY 1""".stripMargin,
    // Reverse-pair merge: literal self-join replay.
    "qj10_reverse_pairs" ->
      """WITH p AS (
        |  SELECT n_nationkey % 4 AS o, (n_nationkey * 3 + 1) % 4 AS d,
        |    CAST(n_nationkey AS DOUBLE) AS val
        |  FROM nation WHERE n_nationkey % 4 <> (n_nationkey * 3 + 1) % 4
        |)
        |SELECT a.o, a.d, a.val, b.val AS reverse_val
        |FROM p a LEFT JOIN p b ON a.o = b.d AND a.d = b.o
        |WHERE a.o < a.d""".stripMargin,
    // Scenario overrides: last-written profile wins per way (max_by over
    // the feed order = nation key), speed 0 ⇒ +∞ (way removed), else
    // weight/speed, non-overridden ways pass through the left join.
    // PageRank: the oracle unrolls the damped recurrence as 5 chained
    // CTEs over transition probabilities that are integer-count ratios
    // (bit-identical across engines); damping constants appear as the
    // same double expressions (1 - 0.85, 0.85) the engine computes.
    // HITS: the same unrolled-fixpoint replay as qg9/qg11 — each
    // half-step one LEFT JOIN gather scaled by the CONSTANT ΣW (exact
    // cross-engine: integer-count weights sum order-free in doubles),
    // ONE max-normalization at the end (max is comparison-exact; the
    // Σ w·score slack is absorbed by the 6-dp round, the qg9
    // contract). MATERIALIZED is load-bearing: each score CTE feeds
    // the next gather AND the final select.
    "qg14_hits" -> {
      def iter(i: Int): String =
        s""",
           |a$i AS MATERIALIZED (
           |  SELECT nd.node, coalesce(s.v, 0) AS a
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS node, sum(e.w * p.h) / (SELECT sw FROM sw) AS v
           |    FROM h${i - 1} p JOIN edges e ON p.node = e.src GROUP BY 1) s
           |    ON nd.node = s.node),
           |h$i AS MATERIALIZED (
           |  SELECT nd.node, coalesce(s.v, 0) AS h
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.src AS node, sum(e.w * p.a) / (SELECT sw FROM sw) AS v
           |    FROM a$i p JOIN edges e ON p.node = e.dst GROUP BY 1) s
           |    ON nd.node = s.node)""".stripMargin
      s"""WITH ${nationEdgesCte("CAST(count(*) AS DOUBLE)", materialized = true)},
         |nodes AS MATERIALIZED (
         |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |sw AS MATERIALIZED (SELECT sum(w) AS sw FROM edges),
         |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)""".stripMargin +
        (1 to 4).map(iter).mkString +
        """,
          |m AS (SELECT max(h) AS mh, max(a) AS ma
          |      FROM h4 JOIN a4 ON h4.node = a4.node)
          |SELECT h4.node AS node,
          |  round(CASE WHEN mh > 0 THEN h / mh ELSE 0.0 END, 6) AS hub,
          |  round(CASE WHEN ma > 0 THEN a / ma ELSE 0.0 END, 6) AS authority
          |FROM h4 JOIN a4 ON h4.node = a4.node CROSS JOIN m""".stripMargin
    },
    // Personalized PageRank: qg9's unrolled replay with the restart
    // (and dangling redistribution, and r0) concentrated on node 0 —
    // term order matches the Spark expression exactly.
    "qg15_ppr" -> {
      def iter(i: Int): String =
        s""",
           |r$i AS (
           |  SELECT nd.node,
           |    CASE WHEN nd.node = 0 THEN 0.15 ELSE 0.0 END
           |    + 0.85 * coalesce(s.inflow, 0)
           |    + CASE WHEN nd.node = 0 THEN 0.85 * (
           |        SELECT coalesce(sum(r.rank), 0) FROM r${i - 1} r
           |        WHERE r.node NOT IN (SELECT src FROM trans))
           |      ELSE 0.0 END AS rank
           |  FROM nodes nd LEFT JOIN (
           |    SELECT t.dst AS node, sum(r.rank * t.p) AS inflow
           |    FROM r${i - 1} r JOIN trans t ON r.node = t.src GROUP BY 1) s
           |    ON nd.node = s.node)""".stripMargin
      s"""WITH ${nationEdgesCte("CAST(count(*) AS DOUBLE)", materialized = false)},
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |trans AS (
         |  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges),
         |r0 AS (
         |  SELECT node, CASE WHEN node = 0 THEN 1.0 ELSE 0.0 END AS rank
         |  FROM nodes)""".stripMargin +
        (1 to 5).map(iter).mkString +
        "\nSELECT node, round(rank, 6) AS rank FROM r5"
    },
    "qg9_pagerank" ->
      pageRankSql("CAST(count(*) AS DOUBLE)"),
    // Strength-weighted PageRank: identical unrolled recurrence, edge
    // weight = sum(l_quantity) — integer-valued doubles, so the per-pair
    // sums, the per-src outflow normalizer, and the transition ratios
    // are all exact in both engines
    "qg26_weighted_pagerank" ->
      pageRankSql("CAST(sum(l_quantity) AS DOUBLE)"),
    "qg8_scenario_overrides" ->
      """WITH ov AS (
        |  SELECT 'w' || CAST(n_nationkey % 7 AS VARCHAR) AS way_id,
        |    max_by(CASE WHEN n_nationkey % 3 = 0 THEN 0.0
        |                ELSE (n_nationkey % 5) * 0.5 + 0.5 END, n_nationkey) AS speed
        |  FROM nation GROUP BY 1
        |), e AS (
        |  SELECT 'w' || CAST(s_suppkey % 10 AS VARCHAR) AS way_id,
        |    s_suppkey % 100 AS src, (s_suppkey * 7 + 1) % 100 AS dst,
        |    (s_suppkey % 13) * 0.5 + 1.0 AS weight
        |  FROM supplier
        |)
        |SELECT e.way_id, e.src, e.dst,
        |  round(CASE WHEN ov.speed IS NULL THEN e.weight
        |             WHEN ov.speed = 0.0 THEN CAST('infinity' AS DOUBLE)
        |             ELSE e.weight / ov.speed END, 6) AS weight
        |FROM e LEFT JOIN ov USING (way_id)""".stripMargin,
    // G1 graph build: replay the explode → round(coord·1e7) dedup →
    // dense-id → consecutive-pair-edge chain in SQL. Lattice coords are
    // dyadic (k·0.25±const) so round(x·1e7) is exact in both engines;
    // haversine replayed with the q16 formula shape, rounded to 4 dp.
    "qg7_graph_build" ->
      """WITH pts AS (
        |  SELECT s_suppkey AS way_id,
        |    'W' || CAST(s_suppkey AS VARCHAR) AS name,
        |    (s_suppkey % 5) / 2.0 + 1.0 AS ruc,
        |    d.pos AS pos,
        |    ((s_suppkey + d.pos) % 40) AS j
        |  FROM supplier, (SELECT unnest([0, 1, 2]) AS pos) d
        |), coords AS (
        |  SELECT way_id, name, ruc, pos,
        |    (j % 8) * 0.25 - 1.0 AS x,
        |    floor(j / 8.0) * 0.25 - 0.5 AS y
        |  FROM pts
        |), keyed AS (
        |  SELECT *, CAST(round(x * 1e7) AS BIGINT) AS kx,
        |            CAST(round(y * 1e7) AS BIGINT) AS ky
        |  FROM coords
        |), nodes AS (
        |  SELECT kx, ky, row_number() OVER (ORDER BY kx, ky) - 1 AS node_id
        |  FROM (SELECT DISTINCT kx, ky FROM keyed)
        |), seq AS (
        |  SELECT k.way_id, k.name, k.ruc, k.pos, n.node_id, k.x, k.y
        |  FROM keyed k JOIN nodes n ON k.kx = n.kx AND k.ky = n.ky
        |), hop AS (
        |  SELECT way_id, name, ruc, node_id AS src, x AS x1, y AS y1,
        |    lead(node_id) OVER w AS dst,
        |    lead(x) OVER w AS x2,
        |    lead(y) OVER w AS y2
        |  FROM seq
        |  WINDOW w AS (PARTITION BY way_id ORDER BY pos)
        |)
        |SELECT way_id, name, ruc, src, dst,
        |  round(2 * 6371.0088 * asin(least(1.0, sqrt(
        |    pow(sin(radians(y2 - y1) / 2), 2) +
        |    cos(radians(y1)) * cos(radians(y2)) *
        |    pow(sin(radians(x2 - x1) / 2), 2)))), 4) AS len_km
        |FROM hop
        |WHERE dst IS NOT NULL AND dst <> src""".stripMargin,
    // geometry dissolve: the aggregator's containment prune tests every
    // shell vertex with boundary-exclusive ray casting, which for these
    // axis-aligned rings reduces EXACTLY to the half-open box
    // [qx1,qx2)×[qy1,qy2) — so "all vertices inside" is four comparisons.
    // Survivor stats (count / shoelace area / perimeter) replay the same
    // ring arithmetic on the surviving rectangles.
    "qa2_dissolve" ->
      """WITH rects AS (
        |  SELECT n_nationkey % 5 AS group_id, n_nationkey AS id,
        |    CAST(n_nationkey % 10 AS DOUBLE) AS x1,
        |    CAST((n_nationkey % 10) + 2 + (n_nationkey % 3) AS DOUBLE) AS x2,
        |    (n_nationkey % 11) - 0.2 AS y1,
        |    (n_nationkey % 11) + 1.2 + (n_nationkey % 2) AS y2
        |  FROM nation
        |), surv AS (
        |  SELECT * FROM rects p
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM rects q
        |    WHERE q.group_id = p.group_id AND q.id != p.id
        |      AND p.x1 >= q.x1 AND p.x2 < q.x2 AND p.y1 >= q.y1 AND p.y2 < q.y2)
        |)
        |SELECT group_id, count(*) AS n_rings,
        |  round(sum(abs((x1*y1 - x2*y1) + (x2*y2 - x2*y1) + (x2*y2 - x1*y2) + (x1*y1 - x1*y2)) / 2.0), 6) AS area,
        |  round(sum(sqrt((x2-x1)*(x2-x1)) + sqrt((y2-y1)*(y2-y1)) + sqrt((x1-x2)*(x1-x2)) + sqrt((y1-y2)*(y1-y2))), 6) AS perimeter
        |FROM surv GROUP BY group_id""".stripMargin,
    // exact-union area recomputed INDEPENDENTLY by coordinate-compression
    // strips (x-cuts -> per-strip y-interval union); ring count via
    // min-label propagation over the rect overlap graph (nation is a
    // fixed 25-row dim at every SF, and this data dissolves hole-free,
    // so boundary components == connectivity components)
    "qa3_dissolve_exact" ->
      """WITH RECURSIVE rects AS (
        |  SELECT n_nationkey % 5 AS g, n_nationkey AS id,
        |    CAST(n_nationkey % 10 AS DOUBLE) AS x1,
        |    CAST((n_nationkey % 10) + 2 + (n_nationkey % 3) AS DOUBLE) AS x2,
        |    (n_nationkey % 11) - 0.2 AS y1,
        |    (n_nationkey % 11) + 1.2 + (n_nationkey % 2) AS y2
        |  FROM nation
        |),
        |xs AS (SELECT DISTINCT g, x FROM (SELECT g, x1 AS x FROM rects UNION SELECT g, x2 FROM rects)),
        |strips AS (
        |  SELECT g, x AS xa, lead(x) OVER (PARTITION BY g ORDER BY x) AS xb FROM xs
        |  QUALIFY xb IS NOT NULL),
        |cover AS (
        |  SELECT s.g, s.xa, s.xb, r.y1, r.y2
        |  FROM strips s JOIN rects r ON r.g = s.g AND r.x1 <= s.xa AND r.x2 >= s.xb),
        |marked AS (
        |  SELECT g, xa, xb, y1, y2,
        |    CASE WHEN y1 > coalesce(max(y2) OVER (PARTITION BY g, xa ORDER BY y1, y2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), y1 - 1) THEN 1 ELSE 0 END AS brk
        |  FROM cover),
        |isl AS (
        |  SELECT g, xa, xb, y1, y2,
        |    sum(brk) OVER (PARTITION BY g, xa ORDER BY y1, y2 ROWS UNBOUNDED PRECEDING) AS isl_id
        |  FROM marked),
        |islands AS (SELECT g, xa, xb, isl_id, min(y1) AS ya, max(y2) AS yb FROM isl GROUP BY g, xa, xb, isl_id),
        |area AS (SELECT g, sum((xb - xa) * (yb - ya)) AS area FROM islands GROUP BY g),
        |edges AS (
        |  SELECT a.g, a.id AS u, b.id AS v FROM rects a JOIN rects b
        |  ON a.g = b.g AND a.x1 <= b.x2 AND b.x1 <= a.x2 AND a.y1 <= b.y2 AND b.y1 <= a.y2),
        |lbl AS (
        |  SELECT g, id, id AS l, 0 AS it FROM rects
        |  UNION ALL
        |  SELECT e.g, e.u AS id, min(p.l) AS l, p.it + 1 AS it
        |  FROM lbl p JOIN edges e ON e.g = p.g AND e.v = p.id
        |  WHERE p.it < 5
        |  GROUP BY e.g, e.u, p.it),
        |ncomp AS (SELECT g, count(DISTINCT l) AS n_comp FROM lbl WHERE it = 5 GROUP BY g)
        |SELECT a.g AS group_id, CAST(n.n_comp AS BIGINT) AS n_rings, round(a.area, 6) AS area
        |FROM area a JOIN ncomp n ON n.g = a.g""".stripMargin,
    // MinHash-LSH dedup family (qd2/qd4/qd6): fully replayed in SQL.
    // The engine's FNV-1a string hash is emulated bit-exactly with HUGEINT
    // wrap arithmetic (xor in signed BIGINT, multiply mod 2^64 unsigned),
    // the seeded permutation coefficients are inlined from the SAME
    // Random(42) sequence the engine uses, and band buckets group on the
    // raw (band, signature-slice) tuple — grouping by the tuple is
    // equivalent to grouping by the engine's xxhash64 of it.
    "qd2_minhash_dedup" ->
      (s"WITH RECURSIVE $minhashOracleCtes" +
        """, buckets AS (
          |  SELECT doc_id, k // 4 AS band, string_agg(v::VARCHAR, ',' ORDER BY k) AS bkey
          |  FROM sig GROUP BY doc_id, k // 4
          |), bmin AS (
          |  SELECT band, bkey, min(doc_id) AS bucketmin FROM buckets GROUP BY band, bkey
          |), keep AS (
          |  SELECT b.doc_id, min(m.bucketmin) AS keepid
          |  FROM buckets b JOIN bmin m ON m.band = b.band AND m.bkey = b.bkey
          |  GROUP BY b.doc_id
          |)
          |SELECT doc_id FROM keep WHERE doc_id = keepid""".stripMargin),
    // Incremental near-dup: corpus reduced to its DISTINCT band buckets,
    // batch docs drop on any bucket hit, survivors dedup within the batch
    // — band-key construction identical to qd2's.
    "qd13_incremental_neardup" ->
      (s"WITH RECURSIVE $minhashOracleCtes" +
        """, buckets AS (
          |  SELECT doc_id, k // 4 AS band, string_agg(v::VARCHAR, ',' ORDER BY k) AS bkey
          |  FROM sig GROUP BY doc_id, k // 4
          |), corpusb AS (
          |  SELECT DISTINCT band, bkey FROM buckets WHERE doc_id % 3 <> 0
          |), batchb AS (
          |  SELECT * FROM buckets WHERE doc_id % 3 = 0
          |), hit AS (
          |  SELECT DISTINCT b.doc_id FROM batchb b
          |  JOIN corpusb c ON c.band = b.band AND c.bkey = b.bkey
          |), nb AS (
          |  SELECT * FROM batchb WHERE doc_id NOT IN (SELECT doc_id FROM hit)
          |), bmin AS (
          |  SELECT band, bkey, min(doc_id) AS bucketmin FROM nb GROUP BY band, bkey
          |), keep AS (
          |  SELECT b.doc_id, min(m.bucketmin) AS keepid
          |  FROM nb b JOIN bmin m ON m.band = b.band AND m.bkey = b.bkey
          |  GROUP BY b.doc_id
          |)
          |SELECT doc_id FROM keep WHERE doc_id = keepid""".stripMargin),
    "qd4_ngram_jaccard" ->
      (s"WITH RECURSIVE $minhashOracleCtes" +
        """, buckets AS (
          |  SELECT doc_id, k // 2 AS band, string_agg(v::VARCHAR, ',' ORDER BY k) AS bkey
          |  FROM sig GROUP BY doc_id, k // 2
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id > b.doc_id
          |), shcount AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
          |), inter AS (
          |  SELECT c.a_id, c.b_id, count(*) AS ni
          |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
          |  GROUP BY c.a_id, c.b_id
          |), dups AS (
          |  SELECT DISTINCT c.a_id
          |  FROM cand c
          |  JOIN shcount na ON na.doc_id = c.a_id
          |  JOIN shcount nb ON nb.doc_id = c.b_id
          |  LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
          |  WHERE CASE WHEN (na.n + nb.n - coalesce(i.ni, 0)) = 0 THEN 0.0
          |        ELSE CAST(coalesce(i.ni, 0) AS DOUBLE) / CAST(na.n + nb.n - coalesce(i.ni, 0) AS DOUBLE) END >= 0.9
          |)
          |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT a_id FROM dups)""".stripMargin),
    // Weighted Jaccard replay: qd4's band-candidate CTEs (raw band-value
    // buckets — same equality classes as the engine's xxhash64 band keys)
    // + exact token-multiset min/max arithmetic. Σmax = n_a + n_b − Σmin,
    // all BIGINTs; one rounded divide.
    "qd23_weighted_jaccard" ->
      (s"WITH RECURSIVE $minhashOracleCtes" +
        """, buckets AS (
          |  SELECT doc_id, k // 2 AS band, string_agg(v::VARCHAR, ',' ORDER BY k) AS bkey
          |  FROM sig GROUP BY doc_id, k // 2
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id > b.doc_id
          |), wtc AS MATERIALIZED (
          |  SELECT doc_id, w, count(*) AS c FROM (
          |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          |    FROM documents) t
          |  WHERE w <> '' GROUP BY doc_id, w
          |), wtot AS (SELECT doc_id, sum(c) AS n FROM wtc GROUP BY doc_id
          |), winter AS (
          |  SELECT c.a_id, c.b_id, sum(least(a.c, b.c)) AS ni
          |  FROM cand c
          |  JOIN wtc a ON a.doc_id = c.a_id
          |  JOIN wtc b ON b.doc_id = c.b_id AND b.w = a.w
          |  GROUP BY c.a_id, c.b_id)
          |SELECT c.a_id, c.b_id,
          |  CAST(coalesce(wi.ni, 0) AS BIGINT) AS n_common,
          |  CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
          |  round(coalesce(wi.ni, 0) / CAST(ta.n + tb.n - coalesce(wi.ni, 0) AS DOUBLE), 6) AS jw
          |FROM cand c
          |JOIN wtot ta ON ta.doc_id = c.a_id
          |JOIN wtot tb ON tb.doc_id = c.b_id
          |LEFT JOIN winter wi ON wi.a_id = c.a_id AND wi.b_id = c.b_id""".stripMargin),
    "qd6_cluster_dedup" ->
      (s"WITH RECURSIVE $minhashOracleCtes, $minhashComponentCtes" +
        """)
          |SELECT d.doc_id FROM documents d
          |LEFT JOIN final ON final.id = d.doc_id
          |WHERE final.id IS NULL OR final.lb = d.doc_id""".stripMargin),
    // Leakage-safe split: qd6's bucket pairs + label-prop CC, every doc
    // labeled (singletons = own id), then the md5 bucket of the cluster
    // label picks the split by cumulative 8/1/1 thresholds
    "qd22_leakage_split" ->
      (s"WITH RECURSIVE $minhashOracleCtes, $minhashComponentCtes" +
        """
          |), allc AS (
          |  SELECT d.doc_id AS id, coalesce(final.lb, d.doc_id) AS cluster
          |  FROM documents d LEFT JOIN final ON final.id = d.doc_id
          |  WHERE d.doc_id IS NOT NULL)
          |SELECT id, cluster,
          |  CASE WHEN hb < 8 THEN 'train' WHEN hb < 9 THEN 'val'
          |    ELSE 'test' END AS split
          |FROM (SELECT id, cluster,
          |    CAST('0x' || substring(md5(CAST(cluster AS VARCHAR) || '|42'), 1, 8)
          |      AS BIGINT) % 10 AS hb
          |  FROM allc)""".stripMargin),
    // Keep-best canonicalization: qd6's bucket pairs + label-prop CC,
    // then each cluster's survivor = (length(text) DESC, doc_id) top-1
    "qd20_keep_best" ->
      (s"WITH RECURSIVE $minhashOracleCtes, $minhashComponentCtes" +
        """
          |), mem AS (
          |  SELECT f.lb AS cluster, d.doc_id, length(d.text) AS ln
          |  FROM final f JOIN documents d ON d.doc_id = f.id
          |), rk AS (
          |  SELECT cluster, doc_id, ln,
          |    row_number() OVER (PARTITION BY cluster ORDER BY ln DESC, doc_id) AS rn
          |  FROM mem)
          |SELECT cluster,
          |  max(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
          |  CAST(max(CASE WHEN rn = 1 THEN ln END) AS BIGINT) AS survivor_len,
          |  CAST(count(*) AS BIGINT) AS n_members
          |FROM rk GROUP BY cluster""".stripMargin),
    // SimHash dedup: per-token multiplicity votes over the 64 bits of the
    // FNV hash, sign votes pack back into an unsigned HUGEINT signature,
    // 16-bit block LSH, hamming <= 3 verify via bit_count(xor) on the
    // signed reinterpretation — all integer-exact.
    "qd3_simhash_dedup" -> {
      val bitsValues = (0 until 64).map(i => s"($i,'${BigInt(1) << i}')").mkString(",")
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, text FROM documents WHERE n_chars < 2000
         |), toksm AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM docs
         |), tc AS MATERIALIZED (
         |  SELECT doc_id, tok, count(*) AS cnt FROM toksm GROUP BY doc_id, tok
         |), strs(s, ln) AS (
         |  SELECT DISTINCT tok, length(tok) FROM tc
         |), $fnvCte
         |), th AS MATERIALIZED (
         |  -- engine finalizer replay: h ^ (h >>> 32), re-expressed unsigned
         |  SELECT s, CASE WHEN hf < 0 THEN CAST(hf AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT)
         |            ELSE CAST(hf AS HUGEINT) END AS u
         |  FROM (
         |    SELECT s,
         |      xor(CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
         |               THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END AS BIGINT),
         |          CAST(u // 4294967296 AS BIGINT)) AS hf
         |    FROM f WHERE i = ln
         |  )
         |), bits(i, p) AS (
         |  SELECT i, CAST(p AS HUGEINT) FROM (VALUES $bitsValues) t(i, p)
         |), votes AS (
         |  SELECT tc.doc_id, b.i,
         |    sum(CASE WHEN (th.u // b.p) % 2 = 1 THEN tc.cnt ELSE -tc.cnt END) AS v
         |  FROM tc JOIN th ON th.s = tc.tok CROSS JOIN bits b
         |  GROUP BY tc.doc_id, b.i
         |), sigs AS MATERIALIZED (
         |  SELECT v.doc_id, sum(CASE WHEN v.v > 0 THEN b.p ELSE CAST(0 AS HUGEINT) END) AS usig
         |  FROM votes v JOIN bits b ON b.i = v.i
         |  GROUP BY v.doc_id
         |), blocked AS MATERIALIZED (
         |  SELECT doc_id, usig, blk, (usig // (CASE blk WHEN 0 THEN CAST(1 AS HUGEINT)
         |    WHEN 1 THEN CAST(65536 AS HUGEINT) WHEN 2 THEN CAST(4294967296 AS HUGEINT)
         |    ELSE CAST('281474976710656' AS HUGEINT) END)) % 65536 AS blkval
         |  FROM sigs CROSS JOIN (VALUES (0),(1),(2),(3)) t(blk)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, a.usig AS ua, b.usig AS ub
         |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.blkval = b.blkval AND a.doc_id > b.doc_id
         |), dups AS (
         |  SELECT DISTINCT a_id FROM cand
         |  WHERE bit_count(xor(
         |    CAST(CASE WHEN ua >= CAST('9223372036854775808' AS HUGEINT)
         |         THEN ua - CAST('18446744073709551616' AS HUGEINT) ELSE ua END AS BIGINT),
         |    CAST(CASE WHEN ub >= CAST('9223372036854775808' AS HUGEINT)
         |         THEN ub - CAST('18446744073709551616' AS HUGEINT) ELSE ub END AS BIGINT))) <= 3
         |)
         |SELECT doc_id FROM docs WHERE doc_id NOT IN (SELECT a_id FROM dups)""".stripMargin
    },
    // hyperplane-LSH embedding dedup: the 16 seeded gaussian hyperplanes
    // are generated by the SAME scala.util.Random(42) sequence the engine
    // inlines into its projection, then shipped to DuckDB as literals —
    // the "non-SQL-expressible" part of LSH was only the RNG, and the
    // oracle builder runs in Scala where the RNG lives
    "qd5_embed_dedup" -> {
      val values = planeValues(hyperplanes(16))
      s"""WITH planes(b, i, c) AS (
         |  SELECT * FROM (VALUES $values)),
         |dots AS (
         |  SELECT e.vec_id, p.b, sum(CAST(e.embedding[p.i] AS DOUBLE) * p.c) AS d
         |  FROM embeddings e CROSS JOIN planes p
         |  GROUP BY e.vec_id, p.b),
         |sigs AS (
         |  SELECT vec_id, sum(CASE WHEN d >= 0.0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS sig
         |  FROM dots GROUP BY vec_id),
         |cand AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id > b.vec_id),
         |${cosineDupsCtes("embeddings", "0.98")}
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT a_id FROM dups)""".stripMargin
    },
    // Bucketed DBSCAN: qd5's plane-literal signature replay (4 planes
    // from the same Random(42) stream), the same raw-cosine >= threshold
    // edge rule, core = degree >= minPts over the directed nbr rows,
    // min-label components via bounded recursive propagation (250 >> any
    // 500-node component's eccentricity), border = min core-neighbor
    // label, everything else noise
    "qs16_dbscan" -> {
      val values = planeValues(hyperplanes(4))
      s"""WITH RECURSIVE planes(b, i, c) AS (
         |  SELECT * FROM (VALUES $values)),
         |dots AS (
         |  SELECT e.vec_id, p.b, sum(CAST(e.embedding[p.i] AS DOUBLE) * p.c) AS d
         |  FROM embeddings e CROSS JOIN planes p
         |  GROUP BY e.vec_id, p.b),
         |sigs AS MATERIALIZED (
         |  SELECT vec_id, sum(CASE WHEN d >= 0.0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS sig
         |  FROM dots GROUP BY vec_id),
         |cand AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
         |nbr AS MATERIALIZED (
         |  SELECT c.a_id, c.b_id
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.a_id
         |  JOIN embeddings eb ON eb.vec_id = c.b_id
         |  CROSS JOIN generate_series(1, 64) t(i)
         |  GROUP BY c.a_id, c.b_id
         |  HAVING (CASE WHEN sqrt(sum(CAST(ea.embedding[t.i] AS DOUBLE) * CAST(ea.embedding[t.i] AS DOUBLE)))
         |        * sqrt(sum(CAST(eb.embedding[t.i] AS DOUBLE) * CAST(eb.embedding[t.i] AS DOUBLE))) = 0 THEN 0
         |      ELSE sum(CAST(ea.embedding[t.i] AS DOUBLE) * CAST(eb.embedding[t.i] AS DOUBLE))
         |        / (sqrt(sum(CAST(ea.embedding[t.i] AS DOUBLE) * CAST(ea.embedding[t.i] AS DOUBLE)))
         |          * sqrt(sum(CAST(eb.embedding[t.i] AS DOUBLE) * CAST(eb.embedding[t.i] AS DOUBLE))))
         |      END) >= 0.25),
         |core AS MATERIALIZED (
         |  SELECT a_id AS id FROM nbr GROUP BY a_id HAVING count(*) >= 2),
         |ce AS MATERIALIZED (
         |  SELECT n.a_id AS u, n.b_id AS v FROM nbr n
         |  JOIN core x ON x.id = n.a_id JOIN core y ON y.id = n.b_id),
         |lab(it, node, lbl) AS (
         |  SELECT 0, id, id FROM core
         |  UNION ALL
         |  SELECT it + 1, node, min(lbl) FROM (
         |    SELECT l.it, l.node, l.lbl FROM lab l
         |    UNION ALL
         |    SELECT l.it, c.v AS node, l.lbl FROM lab l JOIN ce c ON c.u = l.node
         |  ) t(it, node, lbl)
         |  WHERE it < 250
         |  GROUP BY it, node),
         |cl AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM lab GROUP BY node),
         |bord AS MATERIALIZED (
         |  SELECT n.a_id AS id, min(cl.lbl) AS lbl
         |  FROM nbr n JOIN cl ON cl.node = n.b_id
         |  WHERE n.a_id NOT IN (SELECT id FROM core)
         |  GROUP BY n.a_id)
         |SELECT e.vec_id,
         |  CASE WHEN cl.lbl IS NOT NULL THEN 'core'
         |    WHEN bord.lbl IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
         |  CAST(coalesce(cl.lbl, bord.lbl, -1) AS BIGINT) AS cluster
         |FROM embeddings e
         |LEFT JOIN cl ON cl.node = e.vec_id
         |LEFT JOIN bord ON bord.id = e.vec_id""".stripMargin
    },
    // Hard negatives: qd5's exact double-cast cosine (list_sum folds),
    // ROUNDED to 6 dp before the band filter and the (sim DESC, id)
    // rank — the same order the engine's bounded aggregator realizes;
    // anchors are the 8 lowest vec_ids (deterministic ORDER BY LIMIT)
    "qs17_hard_negatives" ->
      """WITH a AS (
        |  SELECT vec_id AS a_id, embedding AS a_vec
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |sc AS (
        |  SELECT a.a_id, e.vec_id,
        |    round(CASE WHEN sqrt(list_sum(list_transform(generate_series(1, 64),
        |          i -> CAST(a.a_vec[i] AS DOUBLE) * CAST(a.a_vec[i] AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(generate_series(1, 64),
        |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) = 0
        |      THEN 0
        |      ELSE list_sum(list_transform(generate_series(1, 64),
        |          i -> CAST(a.a_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |            i -> CAST(a.a_vec[i] AS DOUBLE) * CAST(a.a_vec[i] AS DOUBLE))))
        |          * sqrt(list_sum(list_transform(generate_series(1, 64),
        |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
        |      END, 6) AS sim
        |  FROM a CROSS JOIN embeddings e
        |  WHERE e.vec_id <> a.a_id),
        |f AS (
        |  SELECT a_id, vec_id, sim,
        |    CAST(row_number() OVER (PARTITION BY a_id
        |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
        |  FROM sc WHERE sim >= 0.1 AND sim < 0.3)
        |SELECT a_id AS anchor_id, vec_id AS neg_id, sim, rank
        |FROM f WHERE rank <= 10""".stripMargin,
    // Eigenvector centrality: 8 unrolled power-iteration CTEs (the
    // qg14 recipe), L-inf normalization via a scalar max subquery each
    // round (order-free), per-node neighbor sums under the qg9
    // bounded-fan-in 6-dp contract; x0 forced DOUBLE so no DECIMAL
    // arithmetic leaks into the chain
    "qg25_eigenvector" -> {
      val rounds = (1 to 8).map { i =>
        s"""s$i AS MATERIALIZED (
           |  SELECT s.v, sum(p.x) AS s
           |  FROM sym s JOIN x${i - 1} p ON p.v = s.w GROUP BY s.v),
           |x$i AS MATERIALIZED (
           |  SELECT v, s / (SELECT max(s) FROM s$i) AS x FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ordersGraphCtes(29, 150)},
         |$symCte,
         |nodes AS MATERIALIZED (SELECT DISTINCT v FROM sym),
         |x0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS x FROM nodes),
         |$rounds
         |SELECT v AS node, round(x, 6) AS score
         |FROM x8""".stripMargin
    },
    // Weighted eigenvector: qg25's unrolled power iteration with the
    // neighbor sum picking up the summed pair-multiplicity weight
    // (exact BIGINT counts, both orientations added) — Σ w·x under the
    // same bounded-fan-in 6-dp slack, L∞ normalization unchanged
    "qg27_weighted_eigenvector" -> {
      def iter(i: Int): String =
        s""",
           |s$i AS MATERIALIZED (
           |  SELECT s.v, sum(s.wt * p.x) AS s
           |  FROM sym s JOIN x${i - 1} p ON p.v = s.w GROUP BY s.v),
           |x$i AS MATERIALIZED (
           |  SELECT v, s / (SELECT max(s) FROM s$i) AS x FROM s$i)""".stripMargin
      """WITH dir AS (
        |  SELECT o_custkey % 150 AS x, o_orderkey % 150 AS y,
        |    count(*) AS w
        |  FROM orders GROUP BY 1, 2),
        |e AS (
        |  SELECT least(x, y) AS a, greatest(x, y) AS b,
        |    CAST(sum(w) AS DOUBLE) AS wt
        |  FROM dir WHERE x <> y GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        |  SELECT a AS v, b AS w, wt FROM e UNION ALL SELECT b, a, wt FROM e),
        |nodes AS MATERIALIZED (SELECT DISTINCT v FROM sym),
        |x0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS x FROM nodes)""".stripMargin +
        (1 to 8).map(iter).mkString +
        "\nSELECT v AS node, round(x, 6) AS score FROM x8"
    },
    // SCC: recursive-CTE transitive closure (UNION dedups, so the
    // recursion is the standard reachability fixpoint), mutual pairs =
    // closure joined with its transpose, label = min mutual partner
    // (least with the node's own id) — all-integer replay
    "qg28_scc" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey % 60 AS s, o_orderkey % 60 AS d
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |nodes AS (SELECT s AS v FROM e UNION SELECT d FROM e),
        |ne AS (SELECT s, d FROM e WHERE s <> d),
        |r AS (
        |  WITH RECURSIVE rr(s, t) AS (
        |    SELECT s, d FROM ne
        |    UNION
        |    SELECT rr.s, ne.d FROM rr JOIN ne ON ne.s = rr.t)
        |  SELECT * FROM rr),
        |mutual AS (
        |  SELECT a.s AS u, a.t AS v FROM r a
        |  JOIN r b ON b.s = a.t AND b.t = a.s)
        |SELECT n.v AS node,
        |  CAST(coalesce(least(n.v, min(m.u)), n.v) AS BIGINT) AS scc
        |FROM nodes n LEFT JOIN mutual m ON m.v = n.v
        |GROUP BY n.v""".stripMargin,
    // Critical-path replay: the qg29 DP carrying BOTH folds — hop layer
    // (max d) and max-plus duration (max c) — per (it, node) group.
    // Integer-valued doubles keep every cost exact. Bound it < 20 is
    // the qg29 structural cap (bucket-increasing paths <= 9 hops at
    // any scale factor), not a connectivity guess.
    "qg31_critical_path" ->
      """WITH RECURSIVE raw AS (
        |  SELECT o_custkey % 500 AS x, o_orderkey % 500 AS y
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |e AS (
        |  SELECT DISTINCT x AS a, y AS b FROM raw
        |  WHERE x // 50 < y // 50),
        |we AS (SELECT a, b, CAST(1 + (a + b) % 5 AS DOUBLE) AS w FROM e),
        |nodes AS MATERIALIZED (SELECT a AS v FROM we UNION SELECT b FROM we),
        |lab(it, node, d, c) AS (
        |  SELECT 0, v, 0, CAST(0 AS DOUBLE) FROM nodes
        |  UNION ALL
        |  SELECT it + 1, node, max(d), max(c) FROM (
        |    SELECT l.it, l.node, l.d, l.c FROM lab l
        |    UNION ALL
        |    SELECT l.it, we.b AS node, l.d + 1, l.c + we.w
        |    FROM lab l JOIN we ON we.a = l.node
        |  ) t(it, node, d, c)
        |  WHERE it < 20
        |  GROUP BY it, node)
        |SELECT node, CAST(max(d) AS BIGINT) AS layer, max(c) AS cost
        |FROM lab GROUP BY node""".stripMargin,
    // Weighted SSSP replay: the qg1 recursive Bellman-Ford recipe on the
    // qg18 projection — full per-node min table carried per iteration,
    // costs accumulate left-to-right along the winning path exactly as
    // the engine's relax order does. Bound 40: w ∈ [1,7] and the hop
    // eccentricity is ~5, so any path past 35 hops costs > any 5-hop
    // path; integer-valued doubles keep every distance exact.
    // Weighted closeness/harmonic replay: the qg22 multi-source CTE
    // with the qg30 cost model — seed every node at cost 0, relax one
    // edge hop per iteration with min-merge, bound it < 150 = the %150
    // projection's node-count ceiling (any shortest path has <= n - 1
    // hops — a structural bound, not a data-dependent guess). The
    // normalization tail folds (dist, cnt) terms in ascending order
    // (list_sort + list_reduce), the same operation tree Spark's
    // sort_array + aggregate builds; integer-valued costs keep every
    // term exact.
    // Weighted betweenness replay: qg32's weighted multi-source dist
    // CTE; σ by a hop-layered recursion over the shortest-path DAG
    // (edge u→w counts iff d(p,u) + w(u,w) = d(p,w) — exact double
    // equality under integer costs; a cost-shortest path's prefix is
    // cost-shortest, so paths of h hops extend paths of h−1); total
    // σ = Σ over h; then the Brandes pair-sum identity
    // B(v) = ½ Σ_{s,t} σ_sv·σ_vt/σ_st over cost-additive triples —
    // derivation-independent of the engine's backward-δ pass (the
    // qg21 cross-check). Hop bound 150 = node-count ceiling.
    "qg34_weighted_betweenness" ->
      s"""WITH RECURSIVE ${costDistCtes(materialized = true)},
         |sig(h, p, v, sigma) AS (
         |  SELECT 0, v, v, CAST(1 AS BIGINT) FROM nodes
         |  UNION ALL
         |  SELECT s.h + 1, s.p, sym.t, CAST(sum(s.sigma) AS BIGINT)
         |  FROM sig s
         |  JOIN sym ON sym.v = s.v
         |  JOIN dist du ON du.p = s.p AND du.v = s.v
         |  JOIN dist dv ON dv.p = s.p AND dv.v = sym.t
         |    AND dv.d = du.d + sym.w
         |  WHERE s.h < 150
         |  GROUP BY s.h + 1, s.p, sym.t),
         |tot AS MATERIALIZED (
         |  SELECT s.p, s.v, CAST(sum(s.sigma) AS BIGINT) AS sg, max(d.d) AS d
         |  FROM sig s JOIN dist d ON d.p = s.p AND d.v = s.v
         |  GROUP BY s.p, s.v),
         |bc AS (
         |  SELECT sv.v AS node,
         |    sum(CAST(sv.sg AS DOUBLE) * CAST(vt.sg AS DOUBLE)
         |        / CAST(st.sg AS DOUBLE)) / 2.0 AS b
         |  FROM tot sv
         |  JOIN tot vt ON vt.p = sv.v AND vt.d > 0
         |  JOIN tot st ON st.p = sv.p AND st.v = vt.v AND st.d = sv.d + vt.d
         |  WHERE sv.d > 0
         |  GROUP BY sv.v)
         |SELECT n.v AS node, round(coalesce(bc.b, 0.0), 6) AS betweenness
         |FROM nodes n LEFT JOIN bc ON bc.node = n.v""".stripMargin,
    // Weighted eccentricity replay: the qg32 CTE with the tail swapped
    // to count + max per target node — ecc is a MAX of bit-exact
    // distances, no summation anywhere.
    "qg33_weighted_ecc" ->
      s"""WITH RECURSIVE ${costDistCtes(materialized = false)}
         |SELECT v AS node,
         |  CAST(count(*) AS BIGINT) AS n_reached,
         |  round(max(d), 6) AS ecc
         |FROM dist WHERE p <> v GROUP BY v""".stripMargin,
    // Link-prediction replay: the same wedge self-join over the
    // symmetrized adjacency, NOT EXISTS against the canonical edge list,
    // and the identical 1/ln(deg) + 1/deg sums at 6 dp.
    "qg35_link_pred" ->
      s"""WITH ${ordersGraphCtes(5, 200)},
         |adj AS (SELECT a AS v, b AS t FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
         |wedge AS (
         |  SELECT a1.t AS a, a2.t AS b, d.deg
         |  FROM adj a1 JOIN adj a2 ON a2.v = a1.v AND a1.t < a2.t
         |  JOIN deg d ON d.v = a1.v),
         |cand AS (
         |  SELECT w.a, w.b, w.deg FROM wedge w
         |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.b))
         |SELECT a, b, count(*) AS cn,
         |  round(sum(1.0 / ln(deg)), 6) AS adamic_adar,
         |  round(sum(1.0 / deg), 6) AS resource_alloc
         |FROM cand GROUP BY a, b HAVING count(*) >= 2""".stripMargin,
    // Neighborhood-Jaccard replay: qg35's wedge count WITHOUT the
    // NOT EXISTS, both degree joins, the EXISTS adjacency flag, one
    // division at 6 dp.
    "qg39_nbr_jaccard" ->
      s"""WITH ${ordersGraphCtes(5, 200)},
         |adj AS (SELECT a AS v, b AS t FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
         |wedge AS (
         |  SELECT a1.t AS a, a2.t AS b
         |  FROM adj a1 JOIN adj a2 ON a2.v = a1.v AND a1.t < a2.t),
         |cn AS (
         |  SELECT a, b, count(*) AS cn FROM wedge
         |  GROUP BY a, b HAVING count(*) >= 3)
         |SELECT cn.a, cn.b, cn.cn, da.deg AS deg_a, db.deg AS deg_b,
         |  EXISTS (SELECT 1 FROM e WHERE e.a = cn.a AND e.b = cn.b)
         |    AS adjacent,
         |  round(CAST(cn.cn AS DOUBLE) / (da.deg + db.deg - cn.cn), 6)
         |    AS jaccard
         |FROM cn
         |JOIN deg da ON da.v = cn.a
         |JOIN deg db ON db.v = cn.b""".stripMargin,
    // Assortativity replay: integer moments (DuckDB sums BIGINT into
    // HUGEINT — exact, mirroring the engine's DECIMAL(38,0)), mean² as
    // an explicit multiply, nullif for the regular-graph degenerate.
    "qg36_assortativity" ->
      s"""WITH ${ordersGraphCtes(3, 80)},
         |adj AS (SELECT a AS v, b AS t FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
         |dd AS (
         |  SELECT dv.deg AS dx, dt.deg AS dy
         |  FROM adj JOIN deg dv ON dv.v = adj.v JOIN deg dt ON dt.v = adj.t),
         |mom AS (
         |  SELECT count(*) AS m2, sum(dx) AS sx, sum(dx * dx) AS sx2,
         |    sum(dx * dy) AS sxy
         |  FROM dd),
         |n AS (SELECT count(*) AS n_nodes FROM deg),
         |m AS (SELECT count(*) AS n_edges FROM e)
         |SELECT n_nodes, n_edges,
         |  round((CAST(sxy AS DOUBLE) / m2
         |          - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2))
         |        / nullif(CAST(sx2 AS DOUBLE) / m2
         |          - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2), 0),
         |    6) AS assortativity
         |FROM mom, n, m""".stripMargin,
    // Modularity replay: v mod 8 labeling, per-community degree mass +
    // intra count, q_term's division chain written literally.
    "qg37_modularity" ->
      s"""WITH ${ordersGraphCtes(3, 80)},
         |el AS (SELECT a, b, a % 8 AS ca, b % 8 AS cb FROM e),
         |m AS (SELECT count(*) AS m FROM el),
         |degc AS (
         |  SELECT c, count(DISTINCT v) AS n_nodes, count(*) AS deg_sum FROM (
         |    SELECT a AS v, ca AS c FROM el UNION ALL SELECT b, cb FROM el)
         |  GROUP BY c),
         |intra AS (
         |  SELECT ca AS c, count(*) AS intra_edges FROM el
         |  WHERE ca = cb GROUP BY ca)
         |SELECT d.c AS community, d.n_nodes,
         |  CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
         |  d.deg_sum,
         |  round(CAST(coalesce(i.intra_edges, 0) AS DOUBLE) / m.m
         |        - (CAST(d.deg_sum AS DOUBLE) / (2 * m.m))
         |          * (CAST(d.deg_sum AS DOUBLE) / (2 * m.m)),
         |    6) AS q_term
         |FROM degc d LEFT JOIN intra i ON i.c = d.c CROSS JOIN m""".stripMargin,
    // Random-walk replay: the same sorted adjacency lists, the same
    // md5(start|walk|step|current) mod degree neighbor pick, one CTE
    // step per walk hop.
    "qg38_random_walks" ->
      s"""WITH RECURSIVE ${ordersGraphCtes(3, 80)},
         |sym AS (SELECT a AS v, b AS t FROM e UNION ALL SELECT b, a FROM e),
         |adj AS MATERIALIZED (
         |  SELECT v, list(t ORDER BY t) AS nbrs, count(*) AS deg
         |  FROM sym GROUP BY v),
         |wk(start, walk, step, node) AS (
         |  SELECT v, w.j, 0, v FROM adj CROSS JOIN generate_series(0, 1) w(j)
         |  UNION ALL
         |  SELECT wk.start, wk.walk, wk.step + 1,
         |    a.nbrs[CAST(
         |      (CAST('0x' || substring(md5(
         |         CAST(wk.start AS VARCHAR) || '|'
         |         || CAST(wk.walk AS VARCHAR) || '|'
         |         || CAST(wk.step + 1 AS VARCHAR) || '|'
         |         || CAST(wk.node AS VARCHAR)),
         |       1, 8) AS BIGINT) % a.deg) + 1 AS INT)]
         |  FROM wk JOIN adj a ON a.v = wk.node
         |  WHERE wk.step < 7)
         |SELECT CAST(start AS BIGINT) AS start, CAST(walk AS BIGINT) AS walk,
         |  CAST(step AS BIGINT) AS step, CAST(node AS BIGINT) AS node
         |FROM wk""".stripMargin,
    "qg32_weighted_centrality" ->
      s"""WITH RECURSIVE ${costDistCtes(materialized = true)},
         |cnts AS (
         |  SELECT v, d, CAST(count(*) AS BIGINT) AS cnt
         |  FROM dist WHERE p <> v GROUP BY v, d),
         |per AS (
         |  SELECT v,
         |    CAST(sum(cnt) AS BIGINT) AS n_reached,
         |    list_sort(list(struct_pack(dist := d, cnt := cnt))) AS t
         |  FROM cnts GROUP BY v),
         |sd AS (
         |  SELECT v, n_reached, t,
         |    list_reduce(
         |      list_transform(t, x -> x.dist * CAST(x.cnt AS DOUBLE)),
         |      (acc, e) -> acc + e) AS sdv
         |  FROM per)
         |SELECT v AS node, n_reached,
         |  round(sdv, 6) AS sum_dist,
         |  round(CAST(n_reached AS DOUBLE) / sdv, 6) AS closeness,
         |  round(list_reduce(
         |    list_transform(t, x -> CAST(x.cnt AS DOUBLE) / x.dist),
         |    (acc, e) -> acc + e), 6) AS harmonic
         |FROM sd""".stripMargin,
    "qg30_sssp" ->
      s"""WITH RECURSIVE ${weightedGraphCtes(11, 500)},
         |r(it, node, cost) AS (
         |  SELECT 0, CAST(0 AS BIGINT), CAST(0 AS DOUBLE)
         |  UNION ALL
         |  SELECT it + 1, node, min(cost) FROM (
         |    SELECT r.it, r.node, r.cost FROM r
         |    UNION ALL
         |    SELECT r.it, s.t AS node, r.cost + s.w FROM r JOIN sym s ON s.v = r.node
         |  ) q(it, node, cost)
         |  WHERE it < 500
         |  GROUP BY it, node)
         |SELECT node, min(cost) AS dist FROM r GROUP BY node""".stripMargin,
    // ^ bound = the %500 projection's node-count ceiling: any shortest
    // path has <= n - 1 hops, so it < 500 is structural at EVERY scale
    // factor (the old it < 40 leaned on data-dependent connectivity — a
    // sparse SF with hop eccentricity > 40 would have under-relaxed the
    // oracle and failed the gate spuriously).
    // DAG layering replay: the qg18 hop-bounded DP with max instead of
    // min — every node seeds at 0, each step relaxes one edge hop, the
    // GROUP BY max keeps the frontier table one-row-per-(it, node).
    // Bound 20 > 2x the structural depth cap: the bucket filter makes
    // paths strictly bucket-increasing over 10 buckets, <= 9 hops at
    // ANY density/scale factor — SF-independent, unlike a
    // connectivity-derived bound.
    "qg29_dag_layer" ->
      """WITH RECURSIVE raw AS (
        |  SELECT o_custkey % 500 AS x, o_orderkey % 500 AS y
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |e AS (
        |  SELECT DISTINCT x AS a, y AS b FROM raw
        |  WHERE x // 50 < y // 50),
        |nodes AS MATERIALIZED (SELECT a AS v FROM e UNION SELECT b FROM e),
        |lab(it, node, d) AS (
        |  SELECT 0, v, 0 FROM nodes
        |  UNION ALL
        |  SELECT it + 1, node, max(d) FROM (
        |    SELECT l.it, l.node, l.d FROM lab l
        |    UNION ALL
        |    SELECT l.it, e.b AS node, l.d + 1 FROM lab l JOIN e ON e.a = l.node
        |  ) t(it, node, d)
        |  WHERE it < 20
        |  GROUP BY it, node)
        |SELECT node, CAST(max(d) AS BIGINT) AS layer
        |FROM lab GROUP BY node""".stripMargin,
    // SemDeDup replay: seed-cell assignment is the qs7 codebook contract
    // with m = 1 (round-6dp L2² argmin, lowest-index ties); the prune is
    // qd5's exact double-cast cosine, but candidate pairs come from
    // cluster equality instead of LSH signature equality
    "qd14_semdedup" ->
      s"""WITH seeds AS (
         |  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
         |dists AS (
         |  SELECT e.vec_id, s.cidx,
         |    round(list_sum(list_transform(generate_series(1, 64), j ->
         |      pow(CAST(e.embedding[j] AS DOUBLE) - CAST(s.embedding[j] AS DOUBLE), 2))), 6) AS d2
         |  FROM embeddings e CROSS JOIN seeds s),
         |assign AS (
         |  SELECT vec_id, cidx AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cidx) AS rn
         |    FROM dists)
         |  WHERE rn = 1),
         |cand AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id > b.vec_id),
         |${cosineDupsCtes("embeddings", "0.4")}
         |SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster FROM assign a
         |WHERE a.vec_id NOT IN (SELECT a_id FROM dups)""".stripMargin,
    // incremental SemDeDup: corpus/batch split + corpus-seeded assignment
    // + both prune paths (vs corpus, within batch) replayed
    "qd15_incr_semdedup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
         |batch AS (
         |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
         |  WHERE vec_id % 5 = 0),
         |seeds AS (
         |  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
         |  FROM (SELECT vec_id, embedding FROM corpus ORDER BY vec_id LIMIT 8)),
         |call AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
         |dists AS (
         |  SELECT e.vec_id, s.cidx,
         |    round(list_sum(list_transform(generate_series(1, 64), j ->
         |      pow(CAST(e.embedding[j] AS DOUBLE) - CAST(s.embedding[j] AS DOUBLE), 2))), 6) AS d2
         |  FROM call e CROSS JOIN seeds s),
         |assign AS (
         |  SELECT vec_id, cidx AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cidx) AS rn
         |    FROM dists)
         |  WHERE rn = 1),
         |cand AS (
         |  SELECT b.vec_id AS a_id, o.vec_id AS b_id
         |  FROM assign b JOIN assign o ON b.cluster = o.cluster
         |  JOIN batch bb ON bb.vec_id = b.vec_id
         |  WHERE (o.vec_id < 1000000 OR (o.vec_id >= 1000000 AND o.vec_id < b.vec_id))
         |    AND o.vec_id <> b.vec_id),
         |${cosineDupsCtes("call", "0.4")}
         |SELECT b.vec_id, CAST(a.cluster AS INTEGER) AS cluster
         |FROM batch b JOIN assign a ON a.vec_id = b.vec_id
         |WHERE b.vec_id NOT IN (SELECT a_id FROM dups)""".stripMargin,
    // the reference's golden 10-segment network: edge list as VALUES with
    // the identical ruc·lenM/1000.0 cost expression (literal simplification
    // like 0.8·1000/1000 → 0.8 would NOT be ulp-identical), BF as in qg1
    "qg5_golden_routes" ->
      s"""WITH RECURSIVE e0(src, dst, ruc, lenm) AS (
         |  SELECT * FROM (VALUES
         |    (0,1,1.25,1000),(1,2,1.25,1000),(2,3,1.25,1000),
         |    (1,4,0.75,1000),(4,5,0.75,2000),(5,3,0.75,1000),
         |    (1,6,0.8,1000),(6,7,0.8,2000),(7,3,0.8,1000),(8,2,0.8,500))),
         |edges AS (
         |  SELECT src, dst, CAST(ruc AS DOUBLE) * lenm / 1000.0 AS w FROM e0
         |  UNION ALL
         |  SELECT dst, src, CAST(ruc AS DOUBLE) * lenm / 1000.0 AS w FROM e0
         |),
         |od(idx, node) AS (SELECT * FROM (VALUES (0,0),(1,3),(2,8))),
         |${routeMatrixSql(20)}""".stripMargin,
    // golden-fixture EAUL: two DISTINCT impassable sets (RP500: ways 2,3;
    // RP1000: 2,3,5 — fl dimension 0/1/2), A-C and B-C disconnect under
    // flood and are globally excluded (gu), per-period repair times from
    // the documented way lengths/percents. Same bit-exact BF core.
    "qg6_golden_eaul" ->
      s"""WITH RECURSIVE ways(way, name, src, dst, ruc, lenm) AS (
         |  SELECT * FROM (VALUES
         |    (0,'1',0,1,1.25,1000),(1,'2',1,2,1.25,1000),(2,'3',2,3,1.25,1000),
         |    (3,'4',1,4,0.75,1000),(4,'5',4,5,0.75,2000),(5,'6',5,3,0.75,1000),
         |    (6,'7',1,6,0.8,1000),(7,'8',6,7,0.8,2000),(8,'9',7,3,0.8,1000),
         |    (9,'10',8,2,0.8,500))),
         |edges AS (
         |  SELECT way, src, dst, CAST(ruc AS DOUBLE) AS ruc, CAST(ruc AS DOUBLE) * lenm / 1000.0 AS w FROM ways
         |  UNION ALL
         |  SELECT way, dst, src, CAST(ruc AS DOUBLE), CAST(ruc AS DOUBLE) * lenm / 1000.0 FROM ways
         |),
         |imp(fl, way) AS (SELECT * FROM (VALUES (1,1),(1,2),(2,1),(2,2),(2,4))),
         |pct(fl, way, p) AS (SELECT * FROM (VALUES (1,1,50.0),(1,2,50.0),(2,1,100.0),(2,2,100.0),(2,4,100.0))),
         |$eaulUpgradesCte,
         |scen AS (
         |  SELECT -1 AS sw, -1 AS uidx, fl FROM (VALUES (0),(1),(2)) f(fl)
         |  UNION ALL
         |  SELECT w.way, u.uidx, f.fl FROM (SELECT DISTINCT way FROM ways) w(way)
         |  CROSS JOIN ups u CROSS JOIN (VALUES (0),(1),(2)) f(fl)
         |),
         |od(idx, node) AS (SELECT * FROM (VALUES (0,0),(1,3),(2,8))),
         |${eaulRouteCtes("\n      AND NOT EXISTS (SELECT 1 FROM imp WHERE imp.fl = r.fl AND imp.way = e.way)", 15)},
         |gu AS (SELECT DISTINCT o, d FROM mat WHERE sw = -1 AND uidx = -1 AND fl IN (1,2) AND cost IS NULL),
         |fsum AS (
         |  SELECT f.sw, f.uidx, f.fl,
         |    sum((coalesce(f.cost, 0) - coalesce(b.cost, 0)) * 73000.0) AS s
         |  FROM mat f
         |  JOIN mat b ON b.sw = f.sw AND b.uidx = f.uidx AND b.fl = 0 AND b.o = f.o AND b.d = f.d
         |  WHERE f.fl IN (1,2) AND NOT EXISTS (SELECT 1 FROM gu WHERE gu.o = f.o AND gu.d = f.d)
         |  GROUP BY f.sw, f.uidx, f.fl
         |),
         |rep AS (
         |  SELECT q.sw, q.uidx, q.fl,
         |    max(CAST(q.lenm AS DOUBLE) * q.p / 100.0 / 1000.0 * q.rt / 24.0) AS r
         |  FROM (
         |    SELECT sc.sw, sc.uidx, i.fl, w.lenm, pct.p,
         |      CASE WHEN (CASE WHEN w.way = sc.sw THEN u.usurface ELSE 'unpaved' END) = 'paved'
         |           THEN 1056.0 ELSE 4320.0 END AS rt
         |    FROM (SELECT DISTINCT sw, uidx FROM scen) sc
         |    CROSS JOIN imp i
         |    JOIN ways w ON w.way = i.way
         |    JOIN pct ON pct.fl = i.fl AND pct.way = i.way
         |    LEFT JOIN ups u ON u.uidx = sc.uidx
         |  ) q
         |  GROUP BY q.sw, q.uidx, q.fl
         |),
         |eauls AS (
         |  SELECT f5.sw, f5.uidx,
         |    0.5 * ((1.0/250 - 1.0/500) * (0.0 + r5.r * f5.s)
         |         + (1.0/500 - 1.0/1000) * (r5.r * f5.s + r10.r * f10.s)) AS raw
         |  FROM fsum f5
         |  JOIN fsum f10 ON f10.sw = f5.sw AND f10.uidx = f5.uidx AND f10.fl = 2
         |  JOIN rep r5 ON r5.sw = f5.sw AND r5.uidx = f5.uidx AND r5.fl = 1
         |  JOIN rep r10 ON r10.sw = f5.sw AND r10.uidx = f5.uidx AND r10.fl = 2
         |  WHERE f5.fl = 1
         |)
         |SELECT w.name AS way_id, u.uid AS upgrade,
         |  round(CASE WHEN abs(raw) < 1 THEN 0.0 ELSE raw END, 6) AS eaul
         |FROM eauls JOIN ups u USING (uidx) JOIN (SELECT DISTINCT way, name FROM ways) w ON w.way = eauls.sw
         |WHERE sw >= 0
         |UNION ALL
         |SELECT 'baseline', 'baseline', round(raw, 6) FROM eauls WHERE sw = -1""".stripMargin,
    // EAUL sweep on grid(6): scenario = (way sw, upgrade uidx, flooded fl).
    // Demo flood stats sever ways only at RP 500/1000 with the same
    // impassable set, so per scenario exactly two route matrices exist
    // (fl=0 upgrade baseline, fl=1 flooded); RP≤250 user costs are exactly
    // 0 (identical graphs ⇒ identical costs ⇒ fr−br ≡ 0, and empty
    // impassable set ⇒ repair time 0), so their trapezoid terms vanish
    // bit-exactly and only the 250→500→1000 terms survive. Repair times,
    // the JS null-coercion user-cost sum, the monotone-flood global
    // unroutable exclusion, and the |eaul|<1 neglect threshold all replay
    // with the reference's exact arithmetic shape.
    "qg3_eaul" ->
      s"""WITH RECURSIVE wayedges AS (
         |  SELECT row_number() OVER (ORDER BY i, j, kind) - 1 AS way, src, dst, ruc, ruc * 0.99888 AS w
         |  FROM (
         |    SELECT i, j, 0 AS kind, i*6+j AS src, i*6+j+1 AS dst,
         |           0.5 + ((i*31 + j*17) % 100)/100.0 AS ruc
         |    FROM generate_series(0,5) s(i), generate_series(0,4) t(j)
         |    UNION ALL
         |    SELECT i, j, 1, i*6+j, (i+1)*6+j,
         |           0.5 + ((j*31 + i*17) % 100)/100.0
         |    FROM generate_series(0,4) s(i), generate_series(0,5) t(j)
         |  ) raw(i, j, kind, src, dst, ruc)
         |),
         |ways AS (
         |  SELECT way, min(ruc) AS ruc,
         |         CASE WHEN way % 3 = 0 THEN 'paved' ELSE 'unpaved' END AS surface,
         |         (way % 7 = 0) AS flooded
         |  FROM wayedges GROUP BY way
         |),
         |edges AS (
         |  SELECT we.way, we.src, we.dst, we.ruc, we.w, wy.flooded
         |  FROM wayedges we JOIN ways wy USING (way)
         |  UNION ALL
         |  SELECT we.way, we.dst, we.src, we.ruc, we.w, wy.flooded
         |  FROM wayedges we JOIN ways wy USING (way)
         |),
         |$eaulUpgradesCte,
         |scen AS (
         |  SELECT -1 AS sw, -1 AS uidx, fl FROM (VALUES (0),(1)) f(fl)
         |  UNION ALL
         |  SELECT w.way, u.uidx, f.fl FROM ways w CROSS JOIN ups u CROSS JOIN (VALUES (0),(1)) f(fl)
         |),
         |od(idx, node) AS (SELECT * FROM (VALUES (0,0),(1,5),(2,30),(3,35),(4,21))),
         |${eaulRouteCtes(" AND NOT (r.fl = 1 AND e.flooded)", 40)},
         |gu AS (SELECT o, d FROM mat WHERE sw = -1 AND uidx = -1 AND fl = 1 AND cost IS NULL),
         |fsum AS (
         |  SELECT f.sw, f.uidx,
         |    sum((coalesce(f.cost, 0) - coalesce(b.cost, 0)) * 36500.0) AS s
         |  FROM mat f
         |  JOIN mat b ON b.sw = f.sw AND b.uidx = f.uidx AND b.fl = 0 AND b.o = f.o AND b.d = f.d
         |  WHERE f.fl = 1 AND NOT EXISTS (SELECT 1 FROM gu WHERE gu.o = f.o AND gu.d = f.d)
         |  GROUP BY f.sw, f.uidx
         |),
         |rep AS (
         |  SELECT q.sw, q.uidx,
         |    max(1000.0 * 50.0 / 100.0 / 1000.0 * q.rt / 24.0) AS r500,
         |    max(1000.0 * 100.0 / 100.0 / 1000.0 * q.rt / 24.0) AS r1000
         |  FROM (
         |    SELECT sc.sw, sc.uidx,
         |      CASE WHEN (CASE WHEN w.way = sc.sw THEN u.usurface ELSE w.surface END) = 'paved'
         |           THEN 1056.0 ELSE 4320.0 END AS rt
         |    FROM (SELECT DISTINCT sw, uidx FROM scen) sc
         |    CROSS JOIN ways w
         |    LEFT JOIN ups u ON u.uidx = sc.uidx
         |    WHERE w.flooded
         |  ) q
         |  GROUP BY q.sw, q.uidx
         |),
         |eauls AS (
         |  SELECT f.sw, f.uidx,
         |    0.5 * ((1.0/250 - 1.0/500) * (0.0 + rep.r500 * f.s)
         |         + (1.0/500 - 1.0/1000) * (rep.r500 * f.s + rep.r1000 * f.s)) AS raw
         |  FROM fsum f JOIN rep ON rep.sw = f.sw AND rep.uidx = f.uidx
         |)
         |SELECT 'w' || sw AS way_id, u.uid AS upgrade,
         |  round(CASE WHEN abs(raw) < 1 THEN 0.0 ELSE raw END, 6) AS eaul
         |FROM eauls JOIN ups u USING (uidx) WHERE sw >= 0
         |UNION ALL
         |SELECT 'baseline', 'baseline', round(raw, 6) FROM eauls WHERE sw = -1""".stripMargin,
    "qt4_redact" ->
      """WITH red AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    concat(text, ' contact: user', CAST(doc_id AS VARCHAR),
        |           '@example.com call +12345678901 ip 192.168.1.1'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS red
        |  FROM documents)
        |SELECT doc_id, length(red) AS len,
        |  CAST(length(regexp_extract_all(red, '<EMAIL>')) +
        |       length(regexp_extract_all(red, '<PHONE>')) +
        |       length(regexp_extract_all(red, '<IP>')) AS BIGINT) AS n_redacted
        |FROM red""".stripMargin,
    "qt5_repetition" ->
      """SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS rep_ratio
        |FROM (
        |  SELECT doc_id, t, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |    FROM documents)
        |  GROUP BY doc_id, t)
        |GROUP BY doc_id""".stripMargin,
    "qt6_subword" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) +
        |       length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        |       AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin,
    "qd1_exact_dedup" ->
      """SELECT d.doc_id, d.n_chars FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents
        |      GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) k
        |USING (doc_id)""".stripMargin,
    "qt1_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE length(regexp_split_to_array(trim(text), '\s+')) END
        |    AS n_tokens,
        |  length(text) AS len
        |FROM documents""".stripMargin,
    // MinHash estimate (shared sig/sh CTEs): agreement-count/16 is a
    // dyadic rational — exact in both engines
    "qd9_minhash_estimate" ->
      (s"WITH RECURSIVE $minhashOracleCtes, $minhashPairCtes" +
        """
          |SELECT e.a_id AS doc_id, round(e.e, 6) AS mh_est,
          |  round(coalesce(i.ni, 0)::DOUBLE /
          |        (na.n + nb.n - coalesce(i.ni, 0)), 6) AS exact_j
          |FROM est e
          |JOIN shc na ON na.doc_id = e.a_id
          |JOIN shc nb ON nb.doc_id = e.a_id + 1
          |LEFT JOIN inter i ON i.a_id = e.a_id""".stripMargin),
    // Sketched containment: same signature replay as qd9; the estimate
    // formula is one ordered divide chain over the identical J estimate
    // and integer sizes, so it matches bit-for-bit before the round.
    "qd18_contain_est" ->
      (s"WITH RECURSIVE $minhashOracleCtes, $minhashPairCtes" +
        """
          |SELECT e.a_id AS doc_id,
          |  round((e.e * (na.n + nb.n)) / ((1 + e.e) * na.n), 6) AS cont_est,
          |  round(coalesce(i.ni, 0)::DOUBLE / na.n, 6) AS exact_c
          |FROM est e
          |JOIN shc na ON na.doc_id = e.a_id
          |JOIN shc nb ON nb.doc_id = e.a_id + 1
          |LEFT JOIN inter i ON i.a_id = e.a_id""".stripMargin),
    // Perceptual hash: the oracle recomputes the whole pipeline from
    // the pixel formula — 4×4 block sums // 16, thumbnail mean // 64,
    // strict-> threshold bits in (ry, rx) order — all integer, so the
    // REAL decode→resize→hash path must land cell-for-cell on it.
    // Video near-dup replay: block-constant frames survive JPEG
    // losslessly (the qm10 contract), so each 4x4-pixel aHash cell's
    // mean IS its 8x8 block's formula value; per-frame bits threshold
    // on the frame's own floor-mean, frames concatenate in order, then
    // the shared band/hamming/component chain.
    // Trim-tolerant audio replay: per gid the block-pattern PCM16
    // formula at n = 1024 (bases) / 1000 (end-trims), sample i in
    // window (i*16)//n, exact |v| energy sums, bit = e*n > total*cnt
    // (the cross-multiplied MEAN compare — window sizes are unequal
    // off-divisible lengths), then the qm18 band/hamming/component
    // chain.
    "qm21_audio_trim_dedup" ->
      s"""WITH RECURSIVE gids AS (
         |  SELECT DISTINCT doc_id % 100 AS gid FROM documents),
         |par AS (
         |  SELECT gid,
         |    CASE WHEN gid >= 50 THEN 1000 ELSE 1024 END AS n,
         |    (gid % 50) * 2654435761 % 65536 AS pat
         |  FROM gids),
         |smp AS (
         |  SELECT p.gid, p.n, i.i,
         |    abs((i.i * 2731) % (2 * CASE WHEN (pat >> (i.i // 64)) & 1 = 1
         |          THEN 32768 ELSE 256 END)
         |        - CASE WHEN (pat >> (i.i // 64)) & 1 = 1
         |          THEN 32768 ELSE 256 END) AS av,
         |    (i.i * 16) // p.n AS w
         |  FROM par p JOIN generate_series(0, 1023) i(i) ON i.i < p.n),
         |en AS (
         |  SELECT gid, w, CAST(sum(av) AS BIGINT) AS e,
         |    CAST(count(*) AS BIGINT) AS cw, max(n) AS n
         |  FROM smp GROUP BY gid, w),
         |tot AS (SELECT gid, CAST(sum(e) AS BIGINT) AS total FROM en GROUP BY gid),
         |bits AS MATERIALIZED (
         |  SELECT en.gid,
         |    string_agg(CASE WHEN e * n > total * cw THEN '1' ELSE '0' END, ''
         |      ORDER BY w) AS hb
         |  FROM en JOIN tot USING (gid) GROUP BY en.gid),
         |${mediaClusterSql(4, 4, 3)}""".stripMargin,
    // Trim-invariant video near-dup replay: the qm19 block-formula
    // pixels over the SAMPLED frame indices floor(j*F/4), F = 5 for
    // bases / 4 for end-trims — the indices coincide (= j), so a trim
    // and its base rebuild identical 256-bit fingerprints; then the
    // shared band/hamming/component chain.
    "qm20_video_trim_dedup" ->
      s"""WITH RECURSIVE gids AS (
         |  SELECT DISTINCT doc_id % 100 AS gid FROM documents),
         |cells AS (
         |  SELECT gid, j.j, cy.cy, cx.cx,
         |    ((cx.cx // 2 + 4 * (cy.cy // 2)
         |       + 16 * ((j.j * (CASE WHEN gid >= 50 THEN 4 ELSE 5 END)) // 4))
         |      * (7919 + 16 * (gid % 50)) + 3 * (gid % 50)) % 251 AS v
         |  FROM gids
         |  CROSS JOIN generate_series(0, 3) j(j)
         |  CROSS JOIN generate_series(0, 7) cy(cy)
         |  CROSS JOIN generate_series(0, 7) cx(cx)),
         |mn AS (
         |  SELECT gid, j, CAST(sum(v) AS BIGINT) // 64 AS mean
         |  FROM cells GROUP BY 1, 2),
         |fb AS (
         |  SELECT cells.gid, cells.j,
         |    string_agg(CASE WHEN v > mean THEN '1' ELSE '0' END, ''
         |      ORDER BY cy, cx) AS b
         |  FROM cells JOIN mn USING (gid, j) GROUP BY 1, 2),
         |bits AS MATERIALIZED (
         |  SELECT gid, string_agg(b, '' ORDER BY j) AS hb FROM fb GROUP BY 1),
         |${mediaClusterSql(32, 8, 16)}""".stripMargin,
    "qm19_video_dedup" ->
      s"""WITH RECURSIVE gids AS (
         |  SELECT DISTINCT doc_id % 100 AS gid FROM documents),
         |cells AS (
         |  SELECT gid, f.f, cy.cy, cx.cx,
         |    CASE WHEN gid >= 50 AND f.f = 0 AND cy.cy < 2 AND cx.cx < 2
         |      THEN least(((cx.cx // 2 + 4 * (cy.cy // 2) + 16 * f.f)
         |             * (7919 + 16 * (gid % 50)) + 3 * (gid % 50)) % 251 + 100, 250)
         |      ELSE ((cx.cx // 2 + 4 * (cy.cy // 2) + 16 * f.f)
         |             * (7919 + 16 * (gid % 50)) + 3 * (gid % 50)) % 251
         |    END AS v
         |  FROM gids
         |  CROSS JOIN generate_series(0, 3) f(f)
         |  CROSS JOIN generate_series(0, 7) cy(cy)
         |  CROSS JOIN generate_series(0, 7) cx(cx)),
         |mn AS (
         |  SELECT gid, f, CAST(sum(v) AS BIGINT) // 64 AS mean
         |  FROM cells GROUP BY 1, 2),
         |fb AS (
         |  SELECT cells.gid, cells.f,
         |    string_agg(CASE WHEN v > mean THEN '1' ELSE '0' END, ''
         |      ORDER BY cy, cx) AS b
         |  FROM cells JOIN mn USING (gid, f) GROUP BY 1, 2),
         |bits AS MATERIALIZED (
         |  SELECT gid, string_agg(b, '' ORDER BY f) AS hb FROM fb GROUP BY 1),
         |${mediaClusterSql(32, 8, 16)}""".stripMargin,
    // Audio near-dup replay: the synthetic PCM16 formula (first 64
    // samples of ids >= 50 boosted +8000, clipped), 16-window |v| energy
    // sums, bit = e*16 > total (strict, division-free), 4 bands of 4
    // chars, exact hamming <= 3, the qd6 component CTE.
    "qm18_audio_dedup" ->
      s"""WITH RECURSIVE gids AS (
         |  SELECT DISTINCT doc_id % 100 AS gid FROM documents),
         |amp AS (
         |  SELECT gid, i,
         |    CASE WHEN (((gid % 50) * 2654435761 % 65536)
         |        // CAST(pow(2, i // 64) AS BIGINT)) % 2 = 1
         |      THEN 32768 ELSE 256 END AS a
         |  FROM gids, unnest(generate_series(0, 1023)) t(i)),
         |smp AS (
         |  SELECT gid, i,
         |    CASE WHEN i < 64
         |      THEN least((i * 2731 + 5 * (gid % 50)) % (2 * a) - a
         |             + CASE WHEN gid >= 50 THEN 8000 ELSE 0 END, 32767)
         |      ELSE (i * 2731 + 5 * (gid % 50)) % (2 * a) - a
         |    END AS v
         |  FROM amp),
         |en AS (
         |  SELECT gid, i // 64 AS w, CAST(sum(abs(v)) AS BIGINT) AS e
         |  FROM smp GROUP BY 1, 2),
         |tot AS (SELECT gid, CAST(sum(e) AS BIGINT) AS total FROM en GROUP BY 1),
         |bits AS MATERIALIZED (
         |  SELECT en.gid,
         |    string_agg(CASE WHEN e * 16 > total THEN '1' ELSE '0' END, ''
         |      ORDER BY w) AS hb
         |  FROM en JOIN tot USING (gid) GROUP BY en.gid),
         |${mediaClusterSql(4, 4, 3)}""".stripMargin,
    // Image near-dup replay: the qm14 aHash recipe with the planted
    // retouch (first 16 pixels of ids >= 50 brightened by 40, clipped),
    // banded into 8 substrings, exact per-character hamming <= 10, then
    // the qd6 min-label component CTE; unmatched images cluster as
    // themselves.
    // Incremental media dedup replay: qm17's pixel/aHash CTEs, then
    // the two-stage screen — batch fingerprints banded against the
    // corpus's DISTINCT fingerprints (8 bands of 8 over 64 bits),
    // exact hamming <= 10 drops; survivors cluster within the batch
    // (the qm17 chain) and only min-label representatives remain.
    "qm22_incr_image_dedup" ->
      s"""$retouchedImageBitsCtes,
         |corp AS (SELECT DISTINCT hb FROM bits WHERE gid < 25),
         |bat AS MATERIALIZED (SELECT gid, hb FROM bits WHERE gid >= 50),
         |batfp AS (SELECT DISTINCT hb FROM bat),
         |bband AS (
         |  SELECT hb, b, substr(hb, b * 8 + 1, 8) AS bk
         |  FROM batfp, unnest(generate_series(0, 7)) s(b)),
         |cband AS (
         |  SELECT hb, b, substr(hb, b * 8 + 1, 8) AS bk
         |  FROM corp, unnest(generate_series(0, 7)) s(b)),
         |crossfp AS (
         |  SELECT DISTINCT bb.hb AS bh, cb.hb AS ch
         |  FROM bband bb JOIN cband cb ON cb.b = bb.b AND cb.bk = bb.bk),
         |dupf AS (
         |  SELECT DISTINCT bh FROM crossfp
         |  WHERE list_sum(list_transform(generate_series(1, 64), j ->
         |    CASE WHEN substr(bh, j, 1) = substr(ch, j, 1) THEN 0 ELSE 1 END)) <= 10),
         |surv AS MATERIALIZED (
         |  SELECT gid, hb FROM bat WHERE hb NOT IN (SELECT bh FROM dupf)),
         |sband AS (
         |  SELECT gid, b, substr(hb, b * 8 + 1, 8) AS bk
         |  FROM surv, unnest(generate_series(0, 7)) s(b)),
         |scand AS (
         |  SELECT DISTINCT a.gid AS ga, b.gid AS gb
         |  FROM sband a JOIN sband b ON a.b = b.b AND a.bk = b.bk AND a.gid > b.gid),
         |sham AS (
         |  SELECT c.ga, c.gb,
         |    ${hammingSql("ha.hb", "h2.hb", 64)} AS d
         |  FROM scand c JOIN surv ha ON ha.gid = c.ga JOIN surv h2 ON h2.gid = c.gb),
         |pairs AS (SELECT ga, gb FROM sham WHERE d <= 10),
         |$mediaComponentCtes
         |SELECT s.gid AS media_id, s.hb AS hash_bits
         |FROM surv s LEFT JOIN final f ON f.id = s.gid
         |WHERE coalesce(f.lb, s.gid) = s.gid""".stripMargin,
    "qm17_image_dedup" ->
      s"$retouchedImageBitsCtes,\n${mediaClusterSql(8, 8, 10)}",
    "qm14_perceptual_hash" ->
      """WITH cnt AS (
        |  SELECT doc_id % 100 AS gid, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1),
        |px AS (
        |  SELECT gid, i, (i * 7919 + gid) % 256 AS p
        |  FROM cnt, unnest(generate_series(0, 1023)) t(i)),
        |r2 AS (
        |  SELECT gid, (i // 32) // 4 AS ry, (i % 32) // 4 AS rx,
        |    CAST(sum(p) AS BIGINT) // 16 AS rp
        |  FROM px GROUP BY 1, 2, 3),
        |mn AS (SELECT gid, CAST(sum(rp) AS BIGINT) // 64 AS mean
        |       FROM r2 GROUP BY 1),
        |bits AS (
        |  SELECT r2.gid,
        |    string_agg(CASE WHEN rp > mean THEN '1' ELSE '0' END, ''
        |      ORDER BY ry, rx) AS hash_bits
        |  FROM r2 JOIN mn USING (gid) GROUP BY r2.gid)
        |SELECT hash_bits, CAST(sum(c) AS BIGINT) AS n_images
        |FROM bits JOIN cnt USING (gid) GROUP BY 1""".stripMargin,
    // grouped W1: the value at rank round(0.8·(n−1)) is a multiset
    // property — row_number tie order can't change it. 0.8·(n−1) has
    // fractional part in {0,.2,.4,.6,.8}, never .5, so rounding-mode
    // differences can't bite either.
    "q28_group_percentile" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS r,
        |    count(*) OVER (PARTITION BY l_returnflag) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |thr AS (
        |  SELECT l_returnflag, l_extendedprice AS t FROM ranked
        |  WHERE r = round(0.8 * (c - 1)))
        |SELECT b.l_returnflag, count(*) AS n_kept,
        |  round(sum(b.l_quantity), 2) AS sum_qty
        |FROM lineitem b JOIN thr USING (l_returnflag)
        |WHERE b.l_extendedprice >= thr.t
        |GROUP BY b.l_returnflag""".stripMargin,
    "q27_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS trailing_7d
        |FROM orders""".stripMargin,
    // frame sampling: nFrames = max(len // 100, 1), frames 0,2,4,…; the
    // last (floor) frame is always full 100 bytes unless the whole payload
    // is shorter than one frame
    "qm3_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS len
        |  FROM documents),
        |f AS (
        |  SELECT media_id, len,
        |    unnest(generate_series(0, greatest(len // 100, 1) - 1, 2)) AS frame_no
        |  FROM m)
        |SELECT media_id, CAST(frame_no AS INTEGER) AS frame_no,
        |  CAST(least(len, frame_no * 100 + 100) - frame_no * 100 AS INTEGER)
        |    AS frame_len
        |FROM f""".stripMargin,
    // bigram LM: c1 = w1's count as bigram HISTORY (sum over tb), V =
    // distinct unigrams over ALL positions — both conventions mirrored in
    // the engine; avg-of-logs rounded 6 dp (order divergence ~1e-15 rel)
    "qt12_lm_score" ->
      s"""WITH $lmScoreOracleCtes
         |SELECT doc_id, lm_score, n_bigrams FROM scored""".stripMargin,
    // qt12's scoring CTE + the q8 nearest-rank threshold replay: the
    // survivors are exactly the docs at/above the 30th-percentile score
    "qt23_ppl_filter" ->
      s"""WITH $lmScoreOracleCtes,
         |ranked AS (
         |  SELECT lm_score AS v, row_number() OVER (ORDER BY lm_score) - 1 AS r
         |  FROM scored),
         |n AS (SELECT count(*) AS c FROM scored),
         |thr AS (SELECT v FROM ranked, n WHERE r = round(0.3 * (c - 1)))
         |SELECT doc_id, lm_score, n_bigrams FROM scored
         |WHERE lm_score >= (SELECT v FROM thr)""".stripMargin,
    // integer sums are exact and avg divides the same exact operands in
    // both engines, so 4-dp rounding is deterministic
    "qe5_json_props" ->
      """SELECT event_type, count(k) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 4) AS avg_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "qe4_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ep
        |  FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ep AS cep FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ep AS pep, value FROM e
        |      WHERE event_type = 'purchase')
        |SELECT c.click_id, count(*) AS n_purch, round(sum(p.value), 6) AS purch_value
        |FROM c JOIN p USING (user_id)
        |WHERE p.pep >= c.cep AND p.pep <= c.cep + 600
        |GROUP BY c.click_id""".stripMargin,
    // decontamination: 5-gram build mirrors wordShingleSet (lower+trim,
    // \s+ split, <n tokens → one whole-text shingle, DISTINCT per doc)
    "qd8_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      CASE WHEN len(tk) < 5 THEN array_to_string(tk, ' ')
        |           ELSE tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] END AS g
        |    FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk) - 4, 1))) AS i FROM toks))
        |), train AS (SELECT DISTINCT g FROM sh WHERE doc_id % 2 = 0),
        |evalg AS (SELECT doc_id, g FROM sh WHERE doc_id % 2 = 1)
        |SELECT e.doc_id, count(*) AS n_hits
        |FROM evalg e JOIN train t USING (g)
        |GROUP BY e.doc_id""".stripMargin,
    // Substring dedup: the oracle uses the per-character COVERAGE
    // formulation (a char survives iff no duplicated 20-gram covers it),
    // the engine the merged-span splice — equal hashes prove equivalence.
    "qd11_substring_dedup" ->
      """WITH gp AS (
        |  SELECT doc_id, text, unnest(generate_series(0, length(text) - 20)) AS pos
        |  FROM documents WHERE length(text) >= 20
        |), g AS (
        |  SELECT doc_id, pos, substr(text, pos + 1, 20) AS gram FROM gp
        |), dup AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(*) > 1
        |), cov AS (
        |  SELECT DISTINCT g.doc_id, g.pos + c.j AS cpos
        |  FROM g JOIN dup USING (gram)
        |  CROSS JOIN generate_series(0, 19) c(j)
        |), chp AS (
        |  SELECT doc_id, text, unnest(generate_series(0, length(text) - 1)) AS cpos
        |  FROM documents WHERE length(text) >= 1
        |), ch AS (
        |  SELECT doc_id, cpos, substr(text, cpos + 1, 1) AS c FROM chp
        |), kept AS (
        |  SELECT ch.doc_id, string_agg(ch.c, '' ORDER BY ch.cpos) AS cleaned
        |  FROM ch LEFT JOIN cov ON ch.doc_id = cov.doc_id AND ch.cpos = cov.cpos
        |  WHERE cov.doc_id IS NULL
        |  GROUP BY ch.doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(k.cleaned, '') AS cleaned,
        |  CAST(length(d.text) - length(coalesce(k.cleaned, '')) AS INTEGER) AS removed_chars
        |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin,
    // IVF ANN: the 8 seeded hyperplanes AND the query's own cell are
    // generated/computed in the oracle builder with the same Random(42)
    // sequence and the same sequential double arithmetic as the engine's
    // hyperplaneSignature, then inlined as literals; candidate cells =
    // hamming <= 1 from the query cell, then qs1's exact-cosine oracle
    // shape over the candidates only.
    // ANN recall replay: the qs4 signature CTE (same seed-42 gaussian
    // planes as the engine's hyperplaneSignature) + the qs5 brute
    // cosine replay, intersected. Both top-10 cuts rank on the shared
    // (rounded sim DESC, vec_id) tie contract; self-matches are
    // excluded from BOTH sides so recall measures real neighbors.
    // Multi-probe replay: qs18's plane/sig/truth skeleton; the probe
    // set swaps the hamming ball for the exact integer mask ranking —
    // per query-bit µ-margin = floor(|dot|*1e6 + 0.5) (the one
    // engine-boundary rounding, same risk class as qs18's sign test),
    // mask score = Σ µ² over set bits (BIGINT, order-free), top 9 by
    // (score, mask), probe cells = xor(qsig, mask).
    "qs19_ann_multiprobe" ->
      s"""$annQueryCtes,
         |$annProbeCtes,
         |$annTruthCtes,
         |cand AS (
         |  SELECT q.qid, sv.vec_id FROM q
         |  JOIN sigs sq ON sq.vec_id = q.qid
         |  JOIN probes p ON p.qid = q.qid
         |  JOIN sigs sv ON sv.sig = xor(sq.sig, CAST(p.m AS BIGINT))
         |  WHERE sv.vec_id <> q.qid),
         |$annRecallSql""".stripMargin,
    // Multi-probe kNN-join replay: qs19's plane/sig/margin/probe CTEs,
    // tail swapped to the per-query top-10 rows themselves (self
    // included — the qs5 knnJoin contract), ranked by (6-dp sim DESC,
    // vec_id ASC).
    "qs21_mp_knn_join" ->
      s"""$annQueryCtes,
         |$annProbeCtes,
         |cand AS (
         |  SELECT q.qid, sv.vec_id FROM q
         |  JOIN sigs sq ON sq.vec_id = q.qid
         |  JOIN probes p ON p.qid = q.qid
         |  JOIN sigs sv ON sv.sig = xor(sq.sig, CAST(p.m AS BIGINT))),
         |s0 AS (
         |  SELECT c.qid, c.vec_id,
         |    sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dot,
         |    sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS na,
         |    sum(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS nb
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN q ON q.qid = c.qid
         |  CROSS JOIN generate_series(1, 64) AS t(i)
         |  GROUP BY c.qid, c.vec_id),
         |sims AS (
         |  SELECT qid, vec_id,
         |    round(CASE WHEN sqrt(na) * sqrt(nb) = 0 THEN 0
         |               ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
         |  FROM s0)
         |SELECT qid AS query_id, vec_id, sim FROM (
         |  SELECT qid, vec_id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
         |  FROM sims) WHERE r <= 10""".stripMargin,
    "qs18_ann_recall" ->
      s"""$annQueryCtes,
         |$annTruthCtes,
         |cand AS (
         |  SELECT q.qid, sv.vec_id FROM q
         |  JOIN sigs sq ON sq.vec_id = q.qid
         |  JOIN sigs sv ON bit_count(xor(sv.sig, sq.sig)) <= 1
         |  WHERE sv.vec_id <> q.qid),
         |$annRecallSql""".stripMargin,
    // Embedding-drift replay: micro-quantized per-(side, dim) integer
    // sums (order-free), one divide per mean, drift of 6-dp-rounded
    // means, (drift DESC, dim) top-16.
    "qp17_embedding_drift" ->
      """WITH ex AS (
        |  SELECT vec_id % 2 AS side, t.i - 1 AS dim,
        |    CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS mv
        |  FROM embeddings e CROSS JOIN generate_series(1, 64) t(i)),
        |ag AS (
        |  SELECT side, dim, CAST(sum(mv) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ex GROUP BY 1, 2),
        |j AS (
        |  SELECT a.dim,
        |    round(CAST(a.s AS DOUBLE) / (CAST(a.n AS DOUBLE) * 1000000.0), 6) AS mean_a,
        |    round(CAST(b.s AS DOUBLE) / (CAST(b.n AS DOUBLE) * 1000000.0), 6) AS mean_b
        |  FROM ag a JOIN ag b ON b.dim = a.dim AND a.side = 0 AND b.side = 1)
        |SELECT CAST(dim AS INT) AS dim, mean_a, mean_b,
        |  round(abs(mean_a - mean_b), 6) AS drift
        |FROM j ORDER BY drift DESC, dim LIMIT 16""".stripMargin,
    // Multi-probe IVF replay: the qs4 skeleton with the candidate set
    // swapped from the hamming ball to the margin-ranked probe cells.
    // The query is a LITERAL, so the probe cells are computed here in
    // the oracle builder (the qs4 qCell precedent — same planes, same
    // integer mask ranking as the engine) and land in the SQL as an IN
    // list; the corpus signatures still replay per-row in SQL.
    "qs20_ivf_multiprobe" -> {
      val cells = operators.Similarity.multiProbeMasks(ivfQueryMicro, 8, 9)
        .map(m => ivfQueryCell ^ m).mkString(", ")
      ivfSql(s"sig IN ($cells)")
    },
    "qs4_ivf" ->
      ivfSql(s"bit_count(xor(sig, $ivfQueryCell)) <= 1"),
    // WordPiece greedy longest-prefix-match replay: tokenize each DISTINCT
    // word once via a recursive CTE whose step advances by the LONGEST
    // vocab entry prefixing the remainder (LEFT JOIN + max(length), 1-char
    // fallback), then weight by per-doc word multiplicity. Each word walks
    // exactly one deterministic path, so the terminal row (pos > length)
    // is unique per word.
    // Learned-BPE replay: the per-iteration merge state is a wrapped-token
    // string '<t1><t2>...' (normalization to [a-z0-9] guarantees '<'/'>'
    // never occur inside a token), so the left-to-right non-overlapping
    // merge is EXACTLY SQL replace() of '<l><r>' with '<lr>'; pair counts
    // come from re-splitting the state and zipping it against its own
    // tail (every adjacent position, overlaps included — classic
    // get_stats); the winner is (count desc, l, r). 10 unrolled
    // iterations, chained CTEs.
    "qt13_bpe_train" -> {
      val union = (1 to 10)
        .map(i => s"  SELECT CAST($i AS BIGINT) AS merge_rank, l, r, l || r AS merged, cnt FROM b$i")
        .mkString(" UNION ALL\n")
      s"""WITH ${bpeTrainCteSql(10)}
         |SELECT * FROM (
         |$union) ORDER BY merge_rank""".stripMargin
    },
    // train replay (shared CTE) + encode: s10 is already the per-distinct-
    // word token string after all 10 merges — encoding is reading it back
    // and weighting by per-doc word counts
    "qt21_bpe_encode" ->
      s"""WITH ${bpeTrainCteSql(10)},
         |t11 AS (SELECT string_split(st[2:len(st)-1], '><') AS t, st FROM s10),
         |wordtok AS (
         |  SELECT replace(replace(st, '<', ''), '>', '') AS word, len(t) AS ntok FROM t11),
         |docwords AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', ' ', 'g'), '\\s+')) AS word
         |  FROM documents),
         |dwc AS (
         |  SELECT doc_id, word, count(*) AS cnt FROM docwords WHERE word <> ''
         |  GROUP BY doc_id, word),
         |perdoc AS (
         |  SELECT dwc.doc_id, sum(dwc.cnt * wt.ntok) AS n
         |  FROM dwc JOIN wordtok wt USING (word) GROUP BY dwc.doc_id)
         |SELECT d.doc_id, coalesce(p.n, 0)::BIGINT AS n_bpe_tokens
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    "qt11_wordpiece" -> {
      val vocabValues = functions.TextFunctions.wordpieceVocab.map(v => s"('$v')").mkString(",")
      s"""WITH RECURSIVE vocab(v) AS (SELECT * FROM (VALUES $vocabValues)),
         |words AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |wcount AS MATERIALIZED (
         |  SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w),
         |strs AS (SELECT DISTINCT w FROM wcount),
         |f(w, pos, cnt) AS (
         |  SELECT w, 1, 0 FROM strs
         |  UNION ALL
         |  SELECT f.w, f.pos + coalesce(max(length(v.v)), 1), f.cnt + 1
         |  FROM f LEFT JOIN vocab v ON substr(f.w, f.pos, length(v.v)) = v.v
         |  WHERE f.pos <= length(f.w)
         |  GROUP BY f.w, f.pos, f.cnt),
         |pieces AS (SELECT w, cnt AS n FROM f WHERE pos > length(w)),
         |perdoc AS (
         |  SELECT wc.doc_id, sum(wc.cnt * p.n) AS n_pieces
         |  FROM wcount wc JOIN pieces p USING (w) GROUP BY wc.doc_id)
         |SELECT d.doc_id, coalesce(s.n_pieces, 0)::BIGINT AS n_pieces
         |FROM documents d LEFT JOIN perdoc s USING (doc_id)""".stripMargin
    },
    // the distributed zipWithIndex permutation must equal the sequential
    // row_number() definition bit-for-bit
    "qt22_shuffle_shard" ->
      """WITH h AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 1000000007 AS sk FROM documents),
        |p AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) - 1 AS pos FROM h)
        |SELECT doc_id, pos AS shuffle_pos,
        |  CAST(pos % 8 AS INTEGER) AS shard,
        |  pos // 8 AS pos_in_shard
        |FROM p""".stripMargin,
    // identical construction + extraction chain replayed under RE2 (the
    // qt17 contract); chr(39) sidesteps quote escaping for &#39;
    "qt24_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Page</title><style type="text/css">p { color: red; }</style>' ||
        |    '<script>if (1 < 2) { var x = "</p>"; }</script></head><body><h1>Heading</h1><p>' ||
        |    replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
        |    '</p><!-- hidden comment --></body></html>' AS html
        |  FROM documents),
        |c1 AS (SELECT doc_id,
        |  regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS s FROM h),
        |c2 AS (SELECT doc_id,
        |  regexp_replace(s, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS s FROM c1),
        |c3 AS (SELECT doc_id,
        |  regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(s, '<[^>]*>', ' ', 'g') AS s FROM c3),
        |c5 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(s,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |    '&nbsp;', ' '), '&amp;', '&') AS s FROM c4),
        |clean AS (SELECT doc_id, trim(regexp_replace(s, '\s+', ' ', 'g')) AS cleaned FROM c5)
        |SELECT doc_id, cleaned, length(cleaned)::BIGINT AS n_chars FROM clean""".stripMargin,
    // the sketch is exact-output by the Misra–Gries guarantee, so the
    // oracle is the naive one-pass GROUP BY ... HAVING
    "qt14_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents
        |), tt AS (SELECT term FROM toks WHERE term <> ''),
        |n AS (SELECT count(*) AS total FROM tt)
        |SELECT term, count(*) AS cnt
        |FROM tt, n
        |GROUP BY term, total
        |HAVING count(*) >= ceil(CAST(total AS DOUBLE) * 0.0335)""".stripMargin,
    // per-doc Σ over ≤4 query terms: engines' FP sum orders agree to
    // ~1e-15 relative here, and the DECIMAL(28,12) two-step replays
    // Spark's shortest-repr round at 6 dp (the established contract)
    "qt15_bm25" ->
      s"""WITH $bm25Ctes)
         |SELECT doc_id, score FROM summed
         |QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 20""".stripMargin,
    "qd10_dup_report" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_distinct,
        |  round(1.0 - count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM documents GROUP BY source""".stripMargin,
    // same normalization, same lambda predicates (alpha regex, stop set),
    // same '#'/'...' symbol counting (replace-diff; '...' greedy
    // left-to-right in both engines), same thresholds
    "qt20_quality_rules" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, t, toks,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    list_sum(list_transform(toks, x -> length(x))) AS char_sum,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |    CAST(len(list_filter(toks,
        |      x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT)
        |      AS n_stopwords
        |  FROM base),
        |f AS (
        |  SELECT doc_id, n_words,
        |    round(CAST(char_sum AS DOUBLE) / n_words, 6) AS mean_word_len,
        |    round(CAST((length(t) - length(replace(t, '#', ''))) +
        |      (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3
        |      AS DOUBLE) / n_words, 6) AS symbol_ratio,
        |    round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_word_frac,
        |    n_stopwords
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
        |  n_stopwords,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
        |   AND n_stopwords >= 2) AS keep
        |FROM f""".stripMargin,
    // same normalization (lower+trim, single-space), same n-gram
    // synthesis, same tie rule (max count, then max coverage), same
    // overlap-counting dup-5-gram approximation
    "qt19_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |    CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS DOUBLE) AS n_chars
        |  FROM documents),
        |sized AS (
        |  SELECT doc_id, toks, n_chars, len(toks) AS n_words,
        |    len(list_distinct(toks)) AS n_distinct
        |  FROM base),
        |bg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |  FROM sized, unnest(generate_series(1, len(toks) - 1)) AS t(i)
        |  WHERE len(toks) >= 2),
        |bgc AS (SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |mc AS (SELECT doc_id, max(cnt) AS topc FROM bgc GROUP BY 1),
        |top2 AS (
        |  SELECT bgc.doc_id, max(cnt * length(g)) AS cov2
        |  FROM bgc JOIN mc ON bgc.doc_id = mc.doc_id AND bgc.cnt = mc.topc
        |  GROUP BY 1),
        |g5 AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |    toks[i+3] || ' ' || toks[i+4] AS g
        |  FROM sized, unnest(generate_series(1, len(toks) - 4)) AS t(i)
        |  WHERE len(toks) >= 5),
        |g5c AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2),
        |d5 AS (
        |  SELECT doc_id, coalesce(sum(cnt * length(g)) FILTER (WHERE cnt > 1), 0) AS dupcov
        |  FROM g5c GROUP BY 1)
        |SELECT s.doc_id, s.n_words,
        |  round(CAST(s.n_words - s.n_distinct AS DOUBLE) / s.n_words, 6) AS dup_word_frac,
        |  round(coalesce(t.cov2, 0) / s.n_chars, 6) AS top_bigram_char_frac,
        |  round(coalesce(d.dupcov, 0) / s.n_chars, 6) AS dup_5gram_char_frac
        |FROM sized s
        |LEFT JOIN top2 t ON s.doc_id = t.doc_id
        |LEFT JOIN d5 d ON s.doc_id = d.doc_id""".stripMargin,
    "qt18_len_hist" ->
      """WITH n AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |  FROM documents)
        |SELECT (nt // 32) * 32 AS bucket_lo, count(*) AS n_docs,
        |  min(nt) AS min_tokens, max(nt) AS max_tokens
        |FROM n GROUP BY 1""".stripMargin,
    // identical synthesis + normalization chain under RE2 ('g' flag =
    // Spark's replace-all default; '\1' = Spark's '$1')
    "qt17_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443/Path/' ||
        |    source || '/D' || CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '/?utm_source=x&utm_campaign=y&id=' || CAST(doc_id AS VARCHAR)
        |      ELSE '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS nofrag FROM u
        |), s2 AS (
        |  SELECT doc_id, nofrag,
        |    regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*') AS head
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(lower(head), ':(80|443)$', ''),
        |      '^(https?://)www\.', '\1') AS headc,
        |    substr(nofrag, length(head) + 1) AS rest
        |  FROM s2
        |), s4 AS (
        |  SELECT doc_id, headc,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(rest, '&(utm_[a-z0-9]+|fbclid|gclid)=[^&#]*', '', 'g'),
        |          '\?(utm_[a-z0-9]+|fbclid|gclid)=[^&#]*&', '?', 'g'),
        |        '\?(utm_[a-z0-9]+|fbclid|gclid)=[^&#]*$', '', 'g'),
        |      '/(\?|$)', '\1', 'g') AS restc
        |  FROM s3)
        |SELECT doc_id, headc || restc AS canon,
        |  regexp_replace(
        |    regexp_extract(lower(headc || restc), '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1),
        |    '^www\.', '') AS host
        |FROM s4""".stripMargin,
    // same residue-ring pseudo-order as the engine: (id mod 99991)·7919
    // mod 99991 — pure integer arithmetic, identical in any engine
    "qt16_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id % 99991) * 7919 % 99991, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |WHERE rn <= ceil(0.2 * cnt)""".stripMargin,
    "q25_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    // bloom is a pure pre-shuffle pruning layer on the engine side — the
    // exact semi join after it makes the output identical to this plain
    // semi join
    "q26_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,
    "qp2_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  count(*) - count($c) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  round(min($c), 6) AS minv, round(max($c), 6) AS maxv,
           |  round(avg($c), 4) AS avgv
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    // Incremental dedup: min-per-fingerprint over the WHOLE batch, then
    // drop fingerprints the corpus has seen — equivalent to the engine's
    // anti-join-then-dedup because whole fingerprint groups drop together.
    "qd12_incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS fp
        |  FROM documents WHERE doc_id % 3 = 0),
        |corpus AS (
        |  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS fp
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT b.doc_id, b.n_chars
        |FROM batch b
        |JOIN (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp) k
        |  ON b.doc_id = k.doc_id
        |WHERE b.fp NOT IN (SELECT fp FROM corpus)""".stripMargin,
    // Skew report: identical count/share/salt arithmetic (1.0* keeps the
    // division double in both engines), identical deterministic ordering.
    "qp3_skew" ->
      """SELECT CAST(l_partkey AS VARCHAR) AS key, count(*) AS n,
        |  round(count(*) * 1.0 / (SELECT count(*) FROM lineitem), 6) AS share,
        |  CAST(ceil(count(*) * 1.0 * (SELECT count(DISTINCT l_partkey) FROM lineitem)
        |            / (SELECT count(*) FROM lineitem)) AS BIGINT) AS salt_factor
        |FROM lineitem GROUP BY 1
        |ORDER BY n DESC, key LIMIT 12""".stripMargin
  )
}
