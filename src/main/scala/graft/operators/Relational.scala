package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators re-expressed Spark-first from the reference's
  * hand-wired JS dataflows (SURVEY.md §2.2–2.7).
  *
  * Everything here stays inside Catalyst: filters/projections push down to
  * the parquet scan, aggregations get map-side partial combine, and the
  * normalization "global max" patterns broadcast a 1-row subplan instead of
  * collecting to the driver.
  */
object Relational {

  /** A1 — scale-to-100 score (reference: `scripts/utils/utils.js:132-137`,
    * `indicator-from-prop.js:56-63`). `score = round(value / max * 100)`
    * where the max ignores NaN/null, matching the JS NaN-filtered max.
    *
    * Implemented as an aggregate-then-broadcast-join of the 1-row max —
    * no driver collect, no window over a single partition. At 100 TB the
    * max side is 1 row, so Catalyst plans a BroadcastNestedLoopJoin with a
    * trivial build side.
    */
  def scaleScore(df: DataFrame, valueCol: String, scoreCol: String = "score"): DataFrame = {
    val mx = df
      .filter(!isnan(col(valueCol)) && col(valueCol).isNotNull)
      .agg(max(col(valueCol)).as("__max"))
    df.crossJoin(broadcast(mx))
      .withColumn(scoreCol, round(col(valueCol) / col("__max") * 100))
      .drop("__max")
  }

  /** A1 exact reference form (`utils.js:132-137` addScaledScore):
    * `score = round(value / max · 100, 2)` — 2-decimal variant.
    */
  def scaleScore2(df: DataFrame, valueCol: String, scoreCol: String = "score"): DataFrame = {
    val mx = df
      .filter(!isnan(col(valueCol)) && col(valueCol).isNotNull)
      .agg(max(col(valueCol)).as("__max"))
    df.crossJoin(broadcast(mx))
      .withColumn(scoreCol, round(col(valueCol) / col("__max") * 100, 2))
      .drop("__max")
  }

  /** W1 — nearest-rank percentile threshold (reference:
    * `scripts/filter-percentile/filter-percentile.js:60-73`): sort ascending,
    * `ordinalRank = Math.round(p/100 * (n-1))`, threshold = value at that
    * rank, keep rows with `value >= threshold`. NOT linear interpolation —
    * the oracle depends on exact nearest-rank-on-(n-1) semantics.
    *
    * Scale path: a global sort + row_number would serialize on one
    * partition, so the k-th element is found by range-partitioned
    * selection: shuffle values into sorted ranges, count per range (tiny
    * collect of P longs), then sort only the one range holding rank k.
    * O(n/P) memory per task — survives 1000 executors reading 100 TB.
    */
  def kthSmallest(df: DataFrame, valueCol: String, k: Long, numRanges: Int = 32): Double =
    kthSmallestByRank(df, valueCol, _ => k, numRanges)

  /** [[kthSmallest]] with the rank given as a FUNCTION of n: the total
    * count falls out of the per-range count pass for free (n = Σ range
    * counts), so callers that need a rank derived from n (percentile
    * thresholds) don't pay a separate count() job over the input.
    */
  def kthSmallestByRank(df: DataFrame, valueCol: String, rankOf: Long => Long, numRanges: Int = 32): Double = {
    val vals = df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .repartitionByRange(numRanges, col("v"))
      .rdd
      .map(_.getDouble(0))
    // two jobs hit the ranged RDD (count pass + select pass): cache it so
    // the range shuffle runs once
    vals.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts: Array[(Int, Long)] = vals
        .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
        .collect()
        .sortBy(_._1)
      val n = counts.map(_._2).sum
      val k = rankOf(n)
      require(0 <= k && k < n,
        s"rank $k out of bounds for n=$n" +
          (if (n == 0) " (empty input — no non-null, non-NaN values)" else ""))
      var remaining = k
      var target = -1
      for ((idx, c) <- counts if target < 0) {
        if (remaining < c) target = idx else remaining -= c
      }
      require(target >= 0, s"rank $k out of bounds (n=${counts.map(_._2).sum})")
      val offset = remaining
      val tgt = target
      require(
        offset <= Int.MaxValue,
        s"range partition holds > 2^31 values ($offset); raise numRanges")
      // select pass scheduled on ONLY the target range partition (runJob
      // with an explicit partition list) — first()/take(1) would probe
      // empty partitions in escalating batches, costing extra jobs
      vals.sparkContext
        .runJob(
          vals,
          (it: Iterator[Double]) => {
            val arr = it.toArray
            java.util.Arrays.sort(arr)
            arr(offset.toInt)
          },
          Seq(tgt))
        .head
    } finally vals.unpersist(blocking = false)
  }

  /** [[kthSmallestByRank]] for SEVERAL ranks in one pass: one range
    * shuffle + one count pass + one select job over only the partitions
    * that hold a requested rank — quantile ladders (RFM's 4 thresholds
    * per metric) pay a single shuffle instead of one per rank. Ranks
    * are 0-based ascending indices, same contract as the single form.
    */
  def kthSmallestManyByRank(
      df: DataFrame,
      valueCol: String,
      ranksOf: Long => Seq[Long],
      numRanges: Int = 32): Seq[Double] = {
    val vals = df
      .select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .repartitionByRange(numRanges, col("v"))
      .rdd
      .map(_.getDouble(0))
    vals.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts: Array[(Int, Long)] = vals
        .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
        .collect()
        .sortBy(_._1)
      val n = counts.map(_._2).sum
      val ks = ranksOf(n)
      ks.foreach(k => require(0 <= k && k < n,
        s"rank $k out of bounds for n=$n" +
          (if (n == 0) " (empty input — no non-null, non-NaN values)" else "")))
      // rank → (range partition, offset within it)
      val located = ks.map { k =>
        var remaining = k
        var target = -1
        for ((idx, c) <- counts if target < 0) {
          if (remaining < c) target = idx else remaining -= c
        }
        require(target >= 0, s"rank $k out of bounds (n=$n)")
        require(remaining <= Int.MaxValue,
          s"range partition holds > 2^31 values ($remaining); raise numRanges")
        (k, target, remaining.toInt)
      }
      val byPart: Map[Int, Seq[Int]] =
        located.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
      val parts = byPart.keys.toSeq.sorted
      val picked: Array[Map[Int, Double]] = vals.sparkContext.runJob(
        vals,
        (ctx: org.apache.spark.TaskContext, it: Iterator[Double]) => {
          val offsets = byPart(ctx.partitionId())
          val arr = it.toArray
          java.util.Arrays.sort(arr)
          offsets.map(o => o -> arr(o)).toMap
        },
        parts)
      val byPartPicked: Map[Int, Map[Int, Double]] = parts.zip(picked).toMap
      located.map { case (_, p, o) => byPartPicked(p)(o) }
    } finally vals.unpersist(blocking = false)
  }

  /** W1 filter form: keep rows whose `valueCol >= percentile threshold`.
    * Two jobs total: the nearest-rank `round(p/100·(n−1))` needs n, which
    * rides along in [[kthSmallestByRank]]'s per-range count pass instead
    * of a third count() job over the input.
    */
  def percentileFilter(df: DataFrame, valueCol: String, percentile: Double): DataFrame = {
    val threshold = kthSmallestByRank(df, valueCol, n => math.round(percentile / 100.0 * (n - 1)))
    df.filter(col(valueCol) >= lit(threshold))
  }

  /** W1 generalized per group: nearest-rank percentile threshold computed
    * WITHIN each key, survivors = rows with `valueCol >=` their group's
    * threshold. Same reference semantics as `percentileFilter`
    * (round(p/100·(n−1)) on the ascending sort, NaN ignored for the
    * threshold), vectorized over groups.
    *
    * The value at a rank is a property of the group's value MULTISET, so
    * the row_number tie order among equal values cannot change the
    * threshold — deterministic without a tie-break key.
    *
    * Scale shape (rebuilt round 8): the former window form sorted every
    * group in ONE task per key — with 3 keys at sf1 that is three 2M-row
    * single-task sorts (the 7× super-linear scaler the sf1 sweep flagged),
    * and at 100 TB three 33 TB sorts, i.e. impossible. This form finds
    * each group's rank-k value by BUCKET COUNTING, the grouped twin of
    * [[kthSmallest]]'s range-partitioned selection: a hash-agg pass
    * counts each key's rows below a bisection midpoint (exact `<`
    * predicates on driver-computed doubles — no floor-bucket FP
    * ambiguity), the driver halves each key's value band toward the
    * band holding its rank, and one small exact pass sorts only the
    * final sub-cutoff bands. Every narrowing pass is a combiner-friendly
    * hash aggregation; groups already under the cutoff go straight to
    * the (cheap, bounded) sort. Output is bit-identical to the window
    * form (spec-pinned): the value at a rank is a property of the
    * group's value MULTISET, so tie order is irrelevant.
    */
  def groupedPercentileFilter(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percentile: Double,
      exactCutoff: Long = 262144,
      maxBisectGroups: Int = 10000): DataFrame = {
    val thr = groupedPercentileThresholds(
      df, keyCol, valueCol, percentile, exactCutoff, maxBisectGroups)
    df.join(broadcast(thr), Seq(keyCol))
      .filter(col(valueCol) >= col("__thr"))
      .drop("__thr")
  }

  /** The threshold kernel behind [[groupedPercentileFilter]] — returns
    * one row per key: (keyCol, __thr), where __thr is the group's
    * nearest-rank percentile value (round(p/100·(n−1)) on the ascending
    * sort, NaN/null ignored). Exposed so multi-threshold consumers
    * ([[winsorize]] needs BOTH tails) reuse the bisection machinery
    * without filtering twice. Same strategy guard as the filter: few
    * huge groups bisect; past `maxBisectGroups` keys the per-key window
    * form runs instead (many groups ⇒ small groups ⇒ parallel sorts).
    */
  def groupedPercentileThresholds(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percentile: Double,
      exactCutoff: Long = 262144,
      maxBisectGroups: Int = 10000): DataFrame =
    groupedPercentileThresholdsMulti(
      df, keyCol, valueCol, Seq(percentile), exactCutoff, maxBisectGroups)
      .select(col(keyCol), col("__thr"))

  /** MULTI-RANK threshold kernel — the [[groupedPercentileThresholds]]
    * bisection resolving SEVERAL percentiles of the same (key, value)
    * multiset in one orchestration: bands are keyed (key, percentile)
    * and every narrowing round's count pass / exact sort pass runs ONCE
    * over the shared cached projection for ALL still-live percentiles,
    * instead of once per percentile per round. [[robustSummary]]
    * (p25/p50/p75) and [[winsorize]] (both tails) drop from one full
    * kernel run per rank — each with its own cache fill, per-key
    * min/max/count aggregate and round jobs — to one.
    *
    * Output: one row per (key, percentile): (keyCol, __pq, __thr).
    * Values are BIT-IDENTICAL to running the single-rank kernel per
    * percentile: each (key, percentile) band bisects by its own
    * counts through the same midpoints (mid depends only on the band's
    * lo/hi), and the exact pass sorts the same band multiset — the
    * rank value is a property of the group's value multiset either way
    * (spec-pinned against the single-rank kernel).
    */
  def groupedPercentileThresholdsMulti(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percentiles: Seq[Double],
      exactCutoff: Long = 262144,
      maxBisectGroups: Int = 10000): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
    import org.apache.spark.sql.Row
    require(percentiles.nonEmpty, "percentiles must be non-empty")
    require(percentiles.distinct.length == percentiles.length,
      s"duplicate percentiles: $percentiles")
    val spark = df.sparkSession
    val vals = df
      .select(col(keyCol).as("__k"), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keyType = vals.schema("__k").dataType
      // band per (key, percentile): v in [lo, hi] (hi exclusive when
      // __hx) contains the rank-k value at ascending offset __off;
      // __n = rows in band
      val bandSchema = StructType(Seq(
        StructField("__k", keyType),
        StructField("__pq", DoubleType),
        StructField("__lo", DoubleType),
        StructField("__hi", DoubleType),
        StructField("__hx", BooleanType),
        StructField("__off", LongType),
        StructField("__n", LongType)))
      // STRATEGY GUARD (round 9): bisection holds one band row per key on
      // the driver and serializes a driver-orchestrated loop — the right
      // trade for FEW, HUGE groups (it exists because per-key window sorts
      // are single-task 2M-row sorts there). With MANY groups each group is
      // necessarily small, per-key window sorts parallelize across keys,
      // and the driver band table is the scale hazard instead — so cap the
      // driver collect at `maxBisectGroups + 1` rows and fall back to the
      // hash-partitioned window form past it. Output is bit-identical
      // either way (the rank value is a property of the group's multiset;
      // spec-pinned in both regimes).
      val bandsHead = vals
        .groupBy(col("__k"))
        .agg(count(lit(1)).as("n"), min(col("__v")).as("lo"), max(col("__v")).as("hi"))
        .limit(maxBisectGroups + 1)
        .collect()
      if (bandsHead.length > maxBisectGroups) {
        vals.unpersist(blocking = false)
        return groupedPercentileThresholdsWindowMulti(df, keyCol, valueCol, percentiles)
      }
      var pending: Seq[Row] = bandsHead
        .flatMap { r =>
          val n = r.getLong(1)
          percentiles.map { p =>
            Row(r.get(0), p, r.getDouble(2), r.getDouble(3), false,
              math.round(p / 100.0 * (n - 1)), n)
          }
        }
        .toSeq
      val resolved = scala.collection.mutable.ArrayBuffer[(Any, Double, Double)]()
      def bandMember: Column =
        col("__v") >= col("__lo") &&
          (when(col("__hx"), col("__v") < col("__hi")).otherwise(col("__v") <= col("__hi")))
      var guard = 0
      while (pending.nonEmpty && guard < 80) {
        guard += 1
        // a collapsed band names its value outright: [lo, lo], or the
        // half-open singleton [lo, nextUp(lo)) bisection can produce
        val (deg, live0) = pending.partition { r =>
          val (lo, hi, hx) = (r.getDouble(2), r.getDouble(3), r.getBoolean(4))
          !(lo < hi) || (hx && hi == Math.nextUp(lo))
        }
        deg.foreach(r => resolved += ((r.get(0), r.getDouble(1), r.getDouble(2))))
        // sub-cutoff bands: ONE bounded sort pass resolves them exactly
        val (small, live) = live0.partition(_.getLong(6) <= exactCutoff)
        if (small.nonEmpty) {
          val exactDf = spark.createDataFrame(
            spark.sparkContext.parallelize(small, 1), bandSchema)
          val wSort = Window.partitionBy(col("__k"), col("__pq")).orderBy(col("__v"))
          val rows = vals
            .join(broadcast(exactDf), Seq("__k"))
            .filter(bandMember)
            .withColumn("__rn", row_number().over(wSort) - 1)
            .filter(col("__rn") === col("__off"))
            .select(col("__k"), col("__pq"), col("__v"))
            .collect()
          rows.foreach(r => resolved += ((r.get(0), r.getDouble(1), r.getDouble(2))))
        }
        if (live.nonEmpty) {
          // bisect: count band rows strictly below the midpoint — the
          // `<` predicate on a driver double is exact, so the two halves
          // partition the band with no boundary ambiguity
          val mids: Map[(Any, Double), Double] = live.map { r =>
            val (lo, hi) = (r.getDouble(2), r.getDouble(3))
            val m0 = lo / 2 + hi / 2
            (r.get(0), r.getDouble(1)) -> (if (m0 > lo) m0 else Math.nextUp(lo))
          }.toMap
          val midSchema = StructType(bandSchema.fields :+ StructField("__mid", DoubleType))
          val bandsDf = spark.createDataFrame(
            spark.sparkContext.parallelize(
              live.map(r => Row.fromSeq(r.toSeq :+ mids((r.get(0), r.getDouble(1))))), 1),
            midSchema)
          // the same pass also reads each half's ACTUAL data range, so
          // the next band clamps to real values: a point-mass band
          // collapses to [v, v] immediately instead of halving its
          // midpoint toward the mass for up to ~1000 rounds (a band
          // whose lower edge is 0.0 halves through the denormals —
          // measured non-convergent inside the 80-round guard), and
          // every band's width is a data diameter, so total rounds are
          // bounded by the doubles' exponent walk, not the guard
          val counts: Map[(Any, Double), Row] = vals
            .join(broadcast(bandsDf), Seq("__k"))
            .filter(bandMember)
            .groupBy(col("__k"), col("__pq"))
            .agg(
              sum(when(col("__v") < col("__mid"), 1L).otherwise(0L)).as("below"),
              min(when(col("__v") < col("__mid"), col("__v"))).as("minLow"),
              max(when(col("__v") < col("__mid"), col("__v"))).as("maxLow"),
              min(when(col("__v") >= col("__mid"), col("__v"))).as("minHigh"),
              max(when(col("__v") >= col("__mid"), col("__v"))).as("maxHigh"))
            .collect()
            .map(r => (r.get(0), r.getDouble(1)) -> r)
            .toMap
          pending = live.map { r =>
            val (k, pq, off, n) =
              (r.get(0), r.getDouble(1), r.getLong(5), r.getLong(6))
            // every live band holds its target rank, so the aggregate
            // must have a row for it
            val c = counts.getOrElse((k, pq), throw new IllegalStateException(
              s"grouped percentile: band for key $k at percentile $pq " +
                "matched no rows, but a live band is never empty"))
            val below = c.getLong(2)
            // chosen half carries its exact data range as a CLOSED band
            // — same multiset, same rank offset, same resolved value
            if (off < below)
              Row(k, pq, c.getDouble(3), c.getDouble(4), false, off, below)
            else
              Row(k, pq, c.getDouble(5), c.getDouble(6), false,
                off - below, n - below)
          }
        } else pending = Nil
      }
      require(pending.isEmpty, s"grouped percentile failed to converge in $guard rounds")
      val thrSchema = StructType(Seq(
        StructField("__k", keyType), StructField("__pq", DoubleType),
        StructField("__thr", DoubleType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          resolved.toSeq.map { case (k, pq, v) => Row(k, pq, v) }, 1), thrSchema)
        .withColumnRenamed("__k", keyCol)
    } finally vals.unpersist(blocking = false)
  }

  /** The former window form of [[groupedPercentileFilter]] — kept as the
    * equivalence twin for specs (one window sort per group: fine for
    * small groups, single-task-per-key at scale).
    */
  def groupedPercentileFilterWindow(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percentile: Double): DataFrame = {
    val thr = groupedPercentileThresholdsWindow(df, keyCol, valueCol, percentile)
    df.join(broadcast(thr), Seq(keyCol))
      .filter(col(valueCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Window-form threshold kernel (one per-key sort; the many-small-
    * groups regime of the strategy guard). Returns (keyCol, __thr). */
  def groupedPercentileThresholdsWindow(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percentile: Double): DataFrame = {
    val wSort = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
    val wAll = Window.partitionBy(col(keyCol))
    df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
      .withColumn("__rn", row_number().over(wSort) - 1)
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rn") === round(lit(percentile / 100.0) * (col("__n") - 1)))
      .select(col(keyCol), col(valueCol).cast("double").as("__thr"))
  }

  /** Window-form multi-rank fallback: ONE per-key sort shared by every
    * percentile (each rank filter reads the same row_number), same
    * nearest-rank values as [[groupedPercentileThresholdsWindow]] per
    * percentile. Returns (keyCol, __pq, __thr). */
  def groupedPercentileThresholdsWindowMulti(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percentiles: Seq[Double]): DataFrame = {
    val wSort = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
    val wAll = Window.partitionBy(col(keyCol))
    df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
      .withColumn("__rn", row_number().over(wSort) - 1)
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__pq", explode(array(percentiles.map(lit): _*)))
      .filter(col("__rn") === round(col("__pq") / lit(100.0) * (col("__n") - 1)))
      .select(col(keyCol), col("__pq"), col(valueCol).cast("double").as("__thr"))
  }

  /** WINSORIZATION — per key, clamp `valueCol` into its group's
    * [pLo, pHi] nearest-rank percentile band: the outlier treatment
    * that PRESERVES row count (unlike a percentile filter, which drops)
    * — the standard pre-aggregation step for heavy-tailed metrics.
    * Thresholds are group-multiset properties (same nearest-rank
    * contract as [[groupedPercentileFilter]], both tails through the
    * scale-guarded bisection kernel), so the result is deterministic.
    * Adds `__w` (the clamped value, as double — thresholds are actual
    * data values, so quantized-integer inputs stay integral) and
    * `__clip` (−1 clipped low / 0 kept / +1 clipped high).
    *
    * Row preservation is LITERAL: null/NaN values pass through
    * unclamped (`__w` = the value, `__clip` = 0 — the thresholds were
    * computed EXCLUDING them, so clamping a NaN to p90 would fabricate
    * a data point), and keys with no computable threshold (all values
    * null/NaN) keep their rows via the LEFT join.
    *
    * Cost: two threshold passes over the grouped multiset + one
    * broadcast join — no per-row shuffle of the data itself.
    */
  def winsorize(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      pLo: Double,
      pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 100 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 100, got ($pLo, $pHi)")
    // BOTH tails through one multi-rank kernel run (shared cache fill,
    // shared per-round passes), pivoted to one threshold row per key
    val thr = groupedPercentileThresholdsMulti(df, keyCol, valueCol, Seq(pLo, pHi))
      .groupBy(col(keyCol))
      .agg(
        max(when(col("__pq") === pLo, col("__thr"))).as("__lo"),
        max(when(col("__pq") === pHi, col("__thr"))).as("__hi"))
    val v = col(valueCol).cast("double")
    val clampable = v.isNotNull && !isnan(v) &&
      col("__lo").isNotNull && col("__hi").isNotNull
    df.join(broadcast(thr), Seq(keyCol), "left")
      .withColumn("__w",
        when(clampable && v < col("__lo"), col("__lo"))
          .when(clampable && v > col("__hi"), col("__hi"))
          .otherwise(v))
      .withColumn("__clip",
        when(clampable && v < col("__lo"), -1L)
          .when(clampable && v > col("__hi"), 1L)
          .otherwise(0L))
      .drop("__lo", "__hi")
  }

  /** ROBUST SUMMARY — per key, the outlier-insensitive five-number
    * core: n, p25, median, p75, IQR, and MAD (median absolute
    * deviation) — the profiling readout that stays meaningful on
    * heavy-tailed value columns where mean/stddev are noise. All
    * quantiles are nearest-rank SELECTIONS through the scale-guarded
    * bisection kernel ([[groupedPercentileThresholds]]), so every
    * reported number is an actual data value (or an exact integer
    * difference of two) — no interpolation, no FP accumulation.
    *
    * Cost: two threshold kernel runs (ONE multi-rank pass resolving
    * p25/p50/p75 together + the MAD median over |x − median|, which
    * needs the median first) + one count aggregate, all
    * broadcast-joined.
    */
  def robustSummary(
      df: DataFrame,
      keyCol: String,
      valueCol: String): DataFrame = {
    val qs = groupedPercentileThresholdsMulti(
      df, keyCol, valueCol, Seq(25.0, 50.0, 75.0))
      .groupBy(col(keyCol))
      .agg(
        max(when(col("__pq") === 25.0, col("__thr"))).as("__p25"),
        max(when(col("__pq") === 50.0, col("__thr"))).as("__med"),
        max(when(col("__pq") === 75.0, col("__thr"))).as("__p75"))
    val withMed = df
      .join(broadcast(qs.select(col(keyCol), col("__med"))), Seq(keyCol))
      .withColumn("__absdev", abs(col(valueCol).cast("double") - col("__med")))
    val mad = groupedPercentileThresholds(withMed, keyCol, "__absdev", 50.0)
      .withColumnRenamed("__thr", "__mad")
    df.filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(qs), Seq(keyCol))
      .join(broadcast(mad), Seq(keyCol))
      .select(
        col(keyCol), col("n"),
        col("__p25").as("p25"), col("__med").as("median"),
        col("__p75").as("p75"),
        (col("__p75") - col("__p25")).as("iqr"),
        col("__mad").as("mad"))
  }

  /** P3 — conditional overwrite (reference `preparation.sh:142-146`, the
    * ogr2ogr `UPDATE … SET x='b' WHERE x='a'`). Pure projection — no shuffle.
    */
  def conditionalUpdate(df: DataFrame, colName: String, from: String, to: String): DataFrame =
    df.withColumn(colName, when(col(colName) === from, to).otherwise(col(colName)))

  /** F6 — categorical defaults (reference `scripts/utils/utils.js:140-162`):
    * lowercase, then out-of-vocabulary values collapse to a default.
    */
  def categoricalDefault(c: Column, vocab: Seq[String], default: String): Column = {
    val lowered = lower(c)
    when(lowered.isin(vocab: _*), lowered).otherwise(default)
  }

  /** F16 — severity bucketing (reference `vulnerability.js:213-218`):
    * depth < 0.2 → none; ≤ 0.5 → low; ≤ 1.5 → medium; else high.
    */
  def severityBucket(depth: Column): Column =
    when(depth < 0.2, "none")
      .when(depth <= 0.5, "low")
      .when(depth <= 1.5, "medium")
      .otherwise("high")

  /** A10 — trapezoidal integration (reference `vulnerability.js:140-146`,
    * `script-eaul/eaul.js:634-657`): `½·Σ (x_{i+1}−x_i)·(y_i + y_{i+1})`
    * over parallel arrays already sorted by x. Pure higher-order column
    * expression — codegen-friendly, no UDF, no shuffle.
    */
  def trapezoid(xs: Column, ys: Column): Column = {
    // slice both sides to exactly n-1 elements — zip_with null-pads the
    // shorter side, and one padded null would poison the whole sum
    val m = greatest(size(xs) - 1, lit(0))
    val dx = zip_with(slice(xs, lit(2), m), slice(xs, lit(1), m), (a, b) => a - b)
    val sy = zip_with(slice(ys, lit(2), m), slice(ys, lit(1), m), (a, b) => a + b)
    aggregate(zip_with(dx, sy, (a, b) => a * b), lit(0.0), (acc, v) => acc + v) * 0.5
  }

  /** J2 — indicator merge (reference `merge-indicators.js:94-121`): left
    * join indicator tables onto the base table by key; rows missing from an
    * indicator get null (the JS fills `null` explicitly — Spark's left join
    * does it natively). Dimension tables broadcast.
    */
  def mergeIndicators(base: DataFrame, baseKey: String, indicators: Seq[(String, DataFrame)]): DataFrame =
    indicators.foldLeft(base) { case (acc, (name, ind)) =>
      val renamed = ind.columns.foldLeft(ind) { (d, c) =>
        if (c == "way_id") d else d.withColumnRenamed(c, s"${name}_$c")
      }
      acc.join(
        broadcast(renamed),
        acc(baseKey) === renamed("way_id"),
        "left"
      ).drop(renamed("way_id"))
    }

  /** J2 unmatched report (reference `merge-indicators.js:123-126`): indicator
    * rows whose key has no base row — an anti-join.
    */
  def unmatchedIndicators(base: DataFrame, baseKey: String, ind: DataFrame, indKey: String): DataFrame =
    ind.join(base, ind(indKey) === base(baseKey), "left_anti")

  /** F24 + J10 — unpivot a wide matrix into long form (reference
    * `process-traffic.js:70-94`): wide OD columns → `(origin, destination,
    * count)` rows, then self-join reverse pairs keeping `origin <
    * destination` with a `reverseCount`.
    */
  def unpivotMatrix(df: DataFrame, idCol: String, valueCols: Seq[String], keyName: String, valueName: String): DataFrame = {
    val stackExpr = valueCols.map(c => s"'$c', `$c`").mkString(", ")
    df.selectExpr(idCol, s"stack(${valueCols.size}, $stackExpr) as (`$keyName`, `$valueName`)")
  }

  /** Binned range join (point-in-interval): Spark plans a raw
    * `v BETWEEN lo AND hi` join as BroadcastNestedLoop/cartesian — at
    * scale the answer is binning: each point lands in one bin, each
    * interval explodes over the bins it covers, the join becomes a plain
    * shuffle equi-join on bin id + residual predicate. No pair dedup
    * needed (a point meets an interval only in the point's own bin). Pick
    * `binSize` near the median interval width; skew → AQE.
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      valueCol: String,
      loCol: String,
      hiCol: String,
      binSize: Double): DataFrame = {
    val p = points.withColumn("__bin", floor(col(valueCol) / binSize).cast("long"))
    val iv = intervals.withColumn(
      "__bin",
      explode(sequence(floor(col(loCol) / binSize).cast("long"), floor(col(hiCol) / binSize).cast("long"))))
    p.join(iv, Seq("__bin"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol))
      .drop("__bin")
  }

  /** BINNED INTERVAL-OVERLAP JOIN — interval × interval sibling of
    * [[rangeJoin]]: all (left, right) pairs on the same key whose
    * half-open `[st, en)` spans intersect, with the overlap length.
    * Spark plans the raw `l.st < r.en AND r.st < l.en` predicate as a
    * nested loop; binning makes it a plain shuffle equi-join on
    * (key, bin) + residual predicate. Both sides explode over the bins
    * they cover (≤ span/binUs + 1 each), and each overlapping pair is
    * kept EXACTLY ONCE — in the bin containing the overlap's start
    * (`greatest(l.st, r.st)`), which by construction lies in both
    * sides' bin ranges. Bin ids use integer `div` (no double rounding
    * at epoch-micro magnitudes); empty intervals are dropped before
    * the explode (Spark's `sequence(a, b)` REVERSES when a > b — the
    * gapFill lesson). Pick `binUs` near the median span; skew → AQE.
    */
  def intervalOverlapJoin(
      left: DataFrame, right: DataFrame, keyCol: String, idCol: String,
      stCol: String, enCol: String, binUs: Long): DataFrame = {
    require(binUs > 0, s"binUs must be positive, got $binUs")
    def binned(df: DataFrame, side: String) = df
      .filter(col(enCol) > col(stCol))
      .select(col(keyCol), col(idCol).as(s"${side}_id"),
        col(stCol).as(s"${side}_st"), col(enCol).as(s"${side}_en"))
      .withColumn("__bin", explode(sequence(
        expr(s"${side}_st div $binUs"),
        expr(s"(${side}_en - 1) div $binUs"))))
    binned(left, "l")
      .join(binned(right, "r"), Seq(keyCol, "__bin"))
      .filter(col("l_st") < col("r_en") && col("r_st") < col("l_en"))
      .filter(expr(s"greatest(l_st, r_st) div $binUs") === col("__bin"))
      .select(col(keyCol), col("l_id"), col("r_id"),
        (least(col("l_en"), col("r_en"))
          - greatest(col("l_st"), col("r_st"))).as("overlap_us"))
  }

  /** Skew-salted join: when a handful of hot keys dominate a shuffle join
    * (the 100 TB failure mode AQE's skew handling doesn't always catch,
    * e.g. a null-like sentinel key), salt the skewed LEFT side into
    * `saltFactor` subkeys and explode the RIGHT side across all salts.
    * Right-side replication is `saltFactor`× — use for small-to-medium
    * right sides; for big-big skew prefer AQE's skew-join split.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, saltFactor: Int, joinType: String = "inner"): DataFrame = {
    val salted = left.withColumn("__salt", pmod(xxhash64(col(key), monotonically_increasing_id()), lit(saltFactor)))
    val replicated = right.withColumn("__salt", explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** BLOOM RUNTIME-FILTER JOIN — the selective-dimension pattern: when
    * the right side is a heavily-filtered dimension whose surviving
    * keys are a sliver of the fact table's domain, shuffling the whole
    * fact table to the join is the 100 TB waste. Build a bloom filter
    * over the right side's join keys ONCE (a KB–MB sketch, the only
    * thing the driver holds — `DataFrameStatFunctions.bloomFilter` runs
    * it as a distributed aggregate), pre-filter the LEFT side with
    * `might_contain` BEFORE its exchange, then run the real join. False
    * positives pass the pre-filter and die in the join, so output ≡
    * plain join (the qj14 oracle's contract); false negatives are
    * impossible by bloom construction. The sketch rides to executors as
    * a broadcast-task constant inside the predicate — the DIY form of
    * Spark's own `spark.sql.optimizer.runtime.bloomFilter` injection,
    * exposed as an operator so the pre-exchange cut is guaranteed, not
    * heuristic. Keys are hashed via `xxhash64`, matching the sketch's
    * `putLong` domain exactly.
    */
  def bloomFilterJoin(
      left: DataFrame, right: DataFrame, key: String,
      expectedKeys: Long, fpp: Double = 0.01,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_semi",
      s"bloom pre-filter only preserves inner/left_semi semantics, got $joinType")
    val keyed = right.withColumn("__k", xxhash64(col(key)))
    val bloom = keyed.stat.bloomFilter("__k", expectedKeys, fpp)
    val mc = udf((h: Long) => bloom.mightContainLong(h))
    left.filter(mc(xxhash64(col(key)))).join(keyed.drop("__k"), Seq(key), joinType)
  }

  /** Exact proportional stratified sample: ⌈frac·N_g⌉ rows per stratum,
    * selected by a deterministic keyed pseudo-random order — a
    * residue-ring multiplicative hash ((key mod P)·A mod P, P = 99991,
    * A = 7919; the product is ≤ 7.9e8, so Spark 4's ANSI overflow check
    * can never fire at any key magnitude) with the key as total-order
    * tie-break. Every engine and every run selects the SAME rows, which
    * is what makes a training-data sample auditable and the DuckDB gate
    * replayable. One window shuffle on the stratum key; per-stratum
    * counts ride the same window, no second scan.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      keyCol: String,
      frac: Double): DataFrame = {
    val pseudo = pmod(pmod(col(keyCol), lit(99991L)) * lit(7919L), lit(99991L))
    val w = Window.partitionBy(col(stratumCol)).orderBy(pseudo, col(keyCol))
    val wAll = Window.partitionBy(col(stratumCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wAll))
      .filter(col("__rn") <= ceil(lit(frac) * col("__cnt")))
      .drop("__rn", "__cnt")
  }

  /** J10 — merge reverse pairs: rows keyed (o, d); keep o < d, attach the
    * (d, o) value as `reverse_<valueName>`. One shuffle on the pair key.
    */
  def mergeReversePairs(df: DataFrame, oCol: String, dCol: String, valueName: String): DataFrame = {
    val a = df.as("a")
    val b = df.select(col(oCol).as("__ro"), col(dCol).as("__rd"), col(valueName).as(s"reverse_$valueName")).as("b")
    a.join(b, col(s"a.$oCol") === col("__rd") && col(s"a.$dCol") === col("__ro"), "left")
      .filter(col(s"a.$oCol") < col(s"a.$dCol"))
      .drop("__ro", "__rd")
  }
}
