package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Iterate

/** Temporal joins (beyond-reference: the events table makes event-time
  * capabilities part of the engine surface).
  *
  * As-of join — for each left row, the latest right row with
  * `right.time <= left.time` on the same key — implemented with the
  * union + carry-forward pattern: tag sides, sort-partition by (key,
  * time, side) once, and `last(_, ignoreNulls)` carries every right
  * payload forward to the left rows that follow it. ONE shuffle total
  * (the window), vs a range-join's candidate explosion; at 100 TB the
  * window is the same shuffle a sort-merge join would pay, minus the
  * O(matches) blowup.
  *
  * Equal timestamps: the right row sorts before the left row (side tag),
  * so `<=` semantics hold — matching DuckDB's `ASOF JOIN ... ON l.t >=
  * r.t`, which the qe2 oracle uses to cross-validate. Right rows must be
  * unique per (key, time) — pre-aggregate ties (the qe2 query keeps
  * `max_by` per instant).
  */
object Temporal {

  /** Per-key sorted series: one row per `key` whose `__s` array holds
    * the key's `(__t = ts, __i = tie, __v = value)` structs sorted by
    * (ts, tie) — the array every sequential fold and in-array scan below
    * reads. Per-key state is the key's own series (the bounded-series
    * contract every keyed time-series op here carries; at 100 TB, key
    * by (entity, window) to cap it). `dropNulls` is the caller's null
    * policy: true drops the rows whose `value` is null before grouping,
    * false carries them into the array.
    */
  private def series(
      df: DataFrame, key: String, ts: String, tie: String, value: Column,
      dropNulls: Boolean): DataFrame =
    (if (dropNulls) df.filter(value.isNotNull) else df)
      .groupBy(col(key))
      .agg(sort_array(collect_list(struct(
        col(ts).as("__t"), col(tie).as("__i"), value.as("__v")))).as("__s"))

  /** Fixed-point quantizer: `floor(c · scale)` as a Long (scale 100 =
    * centi units, 1e6 = micro units), so sums, comparisons and folds over
    * it are exact integer arithmetic. Floor, never a bare cast: Spark's
    * double→long cast truncates and DuckDB's rounds to nearest; every qe
    * oracle replays this floor.
    */
  private def fixed(c: Column, scale: Double): Column =
    floor(c.cast("double") * lit(scale)).cast("long")

  /** LET-BINDING: `f(x)` with `x` bound as the lambda variable of a
    * single-element transform, `element_at(transform(array(x), f), 1)`.
    * The optimizer cannot inline a lambda variable, so `x` evaluates
    * once per row however often `f` reads it. Bound as a withColumn
    * instead, CollapseProject inlined lttb's bucket arrays into its
    * 18-step fold and every step re-evaluated every bucket scan
    * (measured 412 s at sf0.01; ~2 s let-bound).
    */
  private def let(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), f), 1)

  /** Per-subject lifetime for the survival tests: `__dur` = whole days
    * from the subject's first observation to its first `death` event, or
    * to its last observation (right-censored) when it has none, and
    * `__evt` = 1 if it died. Each `extra` (alias → aggregate) rides the
    * same subject aggregate and is kept beside them. Days are integer
    * floor-division of epoch-µs, exact in every engine.
    */
  private def lifetimes(
      df: DataFrame, subject: String, ts: String, death: Column,
      extra: (String, Column)*): DataFrame = {
    val us = unix_micros(col(ts))
    df.groupBy(col(subject))
      .agg(min(us).as("__t0"), min(when(death, us)).as("__td") +:
        max(us).as("__tmax") +: extra.map { case (n, c) => c.as(n) }: _*)
      .select(expr("(coalesce(__td, __tmax) - __t0) div 86400000000").as("__dur") +:
        col("__td").isNotNull.cast("long").as("__evt") +: extra.map(e => col(e._1)): _*)
  }

  /** CROSS-ENGINE LITERAL CONTRACT of the smoothing folds: each constant
    * and its complement must be exactly representable doubles (dyadic
    * rationals k/1024 — 0.5, 0.25, 0.125…). With 0.3, Scala's `1 - 0.3`
    * and SQL's literal `0.7` can be DIFFERENT doubles, skewing every
    * step; this makes that a loud error instead of a 7th-decimal
    * heisen-mismatch.
    */
  private def requireDyadic(params: (String, Double)*): Unit =
    require(params.forall { case (_, x) => x * 1024.0 == math.rint(x * 1024.0) },
      s"${params.map(_._1).mkString("/")} must be dyadic (k/1024) so 1-x is the " +
        s"same double in every engine, got ${params.map(_._2).mkString("/")}")

  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val l = left.withColumn("__is_left", lit(1))
    val r = right.withColumn("__is_left", lit(0))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window
      .partitionBy(col(key))
      .orderBy(col(timeCol), col("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadCols.foldLeft(u) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    carried.filter(col("__is_left") === 1).drop("__is_left")
  }

  /** FORWARD as-of join — for each left row the EARLIEST right row with
    * `right.time >= left.time` on the same key: the "next event after"
    * lookup (next purchase after a click, next deploy after a commit,
    * time-to-event labeling) that [[asofJoin]]'s backward carry cannot
    * answer. Same one-shuffle union + carry architecture, mirrored:
    * the left row sorts BEFORE an equal-time right row (side tag 0 vs
    * 1) and each payload is `first(_, ignoreNulls)` over the
    * current-row-to-unbounded-FOLLOWING frame, so `>=` semantics hold
    * and rows with no later right payload report null.
    */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val l = left.withColumn("__side", lit(0))
    val r = right.withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window
      .partitionBy(col(key))
      .orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = payloadCols.foldLeft(u) { (df, p) =>
      df.withColumn(p, first(col(p), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 0).drop("__side")
  }
  /** Per-key EXPONENTIALLY-WEIGHTED MOVING AVERAGE over an
    * event-time-ordered series — the classic smoothing/feature-
    * engineering fold (`y_i = α·x_i + (1−α)·y_{i−1}`, seeded at the
    * first value). EWMA is sequential BY DEFINITION, so it computes as
    * an in-array ordered fold per key (sort_array over (ts, tie, value)
    * structs, then `aggregate`) rather than the closed-form
    * `Σ α(1−α)^{n−j}x_j`: pow is not correctly-rounded across libms,
    * while the fold executes the IDENTICAL IEEE op sequence in any
    * engine — the qe15 oracle replays it step-for-step as a recursive
    * CTE and matches bit-for-bit before the 6-dp output round.
    * A null value stays in the series: it counts in n_events and makes
    * the key's ewma null. Output: (key, n_events, ewma).
    */
  def ewma(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val keep = 1.0 - alpha
    series(df, keyCol, tsCol, tieCol, col(valCol).cast("double"), dropNulls = false)
      .select(
        col(keyCol),
        size(col("__s")).cast("long").as("n_events"),
        // the fold carries (seen, acc) rather than using NaN as the
        // "unseeded" sentinel: a legitimate NaN INPUT must propagate
        // (poisoning the series like any float aggregate would), not
        // silently re-seed the accumulator mid-stream
        round(
          aggregate(col("__s"),
            struct(lit(false).as("seen"), lit(0.0).as("acc")),
            (st, x) => struct(
              lit(true).as("seen"),
              when(not(st("seen")), x("__v"))
                .otherwise(st("acc") * lit(keep) + x("__v") * lit(alpha))
                .as("acc")),
            st => when(st("seen"), st("acc")).otherwise(lit(Double.NaN))),
          6).as("ewma"))
  }

  /** OHLC RESAMPLING — downsample a keyed event series into
    * fixed-width event-time bars: per (key, bucket), the first (open)
    * and last (close) values in (ts, tie) order plus high/low/count/sum
    * — the time-series feature-extraction staple (finance bars, sensor
    * rollups, activity summaries). Open/close pick by `row_number` over
    * the in-bucket order rather than min_by/max_by on a struct, so the
    * tie semantics are explicit and engine-replayable. One window
    * shuffle on (key, bucket) + one aggregate; buckets are
    * `floor(epoch/width)` so bar edges are engine-exact integers.
    */
  def resampleOhlc(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, bucketSec: Long): DataFrame = {
    require(bucketSec > 0, s"bucketSec must be positive, got $bucketSec")
    // integer division end to end — a double intermediate could land an
    // epoch a hair under the bar edge and truncate into the wrong bucket
    val bucket = expr(s"(unix_micros($tsCol) div 1000000) div $bucketSec")
      .as("bucket")
    val w = Window.partitionBy(col(keyCol), col("bucket"))
    val asc = w.orderBy(col(tsCol), col(tieCol))
    val desc = w.orderBy(col(tsCol).desc, col(tieCol).desc)
    df
      .select(col(keyCol), bucket, col(tsCol), col(tieCol),
        col(valCol).cast("double").as("__v"))
      .withColumn("__ra", row_number().over(asc))
      .withColumn("__rd", row_number().over(desc))
      .groupBy(col(keyCol), col("bucket"))
      .agg(
        max(when(col("__ra") === 1, col("__v"))).as("open"),
        round(max(col("__v")), 6).as("high"),
        round(min(col("__v")), 6).as("low"),
        max(when(col("__rd") === 1, col("__v"))).as("close"),
        count(lit(1)).as("n"),
        round(sum(col("__v")), 6).as("vol"))
      .withColumn("open", round(col("open"), 6))
      .withColumn("close", round(col("close"), 6))
  }

  /** ORDERED FUNNEL — per key, the first time each step of an ordered
    * step sequence is reached, where step i must occur STRICTLY AFTER
    * step i−1 (the product-analytics conversion question asked
    * properly: a purchase BEFORE the click doesn't convert that click).
    * Output: (key, t_<step>… as epoch-µs longs, null once the funnel
    * stalls, stage = number of steps completed).
    *
    * One shuffle: events group per key into a sorted (ts, type) array
    * (the bounded-series assumption every keyed time-series op here
    * carries — key by (entity, window) at 100 TB to cap it), then each
    * step's timestamp is an array `filter` + `array_min` over the
    * previous step's column — k steps = k codegen'd array scans, no
    * k-way self-join and no per-step shuffle.
    */
  def funnel(
      df: DataFrame, keyCol: String, tsCol: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(steps.distinct.size == steps.size, s"duplicate steps: $steps")
    val base = df
      .groupBy(col(keyCol))
      .agg(collect_list(struct(
        unix_micros(col(tsCol)).as("us"), col(typeCol).as("t"))).as("__ev"))
    val withSteps = steps.zipWithIndex.foldLeft(base) { case (acc, (s, i)) =>
      val after: Column =
        if (i == 0) lit(Long.MinValue) else col(s"t_${steps(i - 1)}")
      acc.withColumn(s"t_$s",
        array_min(transform(
          filter(col("__ev"), e => e("t") === s && e("us") > after),
          e => e("us"))))
    }
    withSteps.select(
      col(keyCol) +:
        steps.map(s => col(s"t_$s")) :+
        steps.map(s => when(col(s"t_$s").isNotNull, 1).otherwise(0))
          .reduce(_ + _).as("stage"): _*)
  }

  /** MARKOV TRANSITION MATRIX — per-key consecutive event-type pairs
    * counted and normalized into transition probabilities:
    * `(from_state, to_state, n, p)` with p = n / Σ n over from_state —
    * the session-flow model behind "what do users do after X".
    * Consecutive = adjacent in strict (ts, tie) order within the key;
    * one window shuffle for the `lead`, then two state-cardinality-
    * bounded aggregates (state spaces are small by nature — the shuffle
    * after the window never exceeds \|states\|²).
    */
  def transitionMatrix(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val counts = df
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_state"), col("__next").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_state")).agg(sum(col("n")).as("__tot"))
    counts.join(totals, "from_state")
      .select(
        col("from_state"), col("to_state"), col("n"),
        round(col("n") / col("__tot"), 6).as("p"))
  }

  /** COHORT RETENTION — users bucketed by the week of their FIRST event
    * (the cohort), counted as active in each later week they appear:
    * `(cohort_week, week_offset, n_active)` — the retention triangle
    * every growth dashboard draws. Weeks are integer
    * `floor(epoch_µs / week_µs)` buckets, so both engines bucket
    * identically with no timezone/date arithmetic. Two key-bounded
    * shuffles: first-event per key (one aggregate), then the distinct
    * (cohort, offset, key) count — never wider than the event key set.
    */
  def cohortRetention(
      df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    // explicit FLOOR, not a bare cast: Spark's double→long cast
    // truncates but DuckDB's CAST rounds-to-nearest — floor division is
    // the arithmetic both engines express identically (// in DuckDB)
    val wk = df.select(
      col(keyCol),
      floor(unix_micros(col(tsCol)) / lit(weekUs)).cast("long").as("__wk"))
    val first = wk.groupBy(col(keyCol)).agg(min(col("__wk")).as("__cohort"))
    wk.join(first, keyCol)
      .select(col(keyCol), col("__cohort"),
        (col("__wk") - col("__cohort")).as("__off"))
      .distinct()
      .groupBy(col("__cohort").as("cohort_week"), col("__off").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"))
  }

  /** TIME-WEIGHTED AVERAGE (TWAP) — per (key, bucket), the mean of a
    * piecewise-constant value series weighted by how LONG each value
    * held, not how often it was sampled: Σ vᵢ·Δtᵢ / Σ Δtᵢ, where Δtᵢ
    * runs from observation i to the next observation in the bucket (the
    * last observation holds to the bucket edge). The irregular-sampling
    * integral OHLC and plain AVG both get wrong — a price quoted once
    * and held an hour outweighs fifty ticks in a millisecond burst.
    * One window shuffle on (key, bucket) for the `lead`, one aggregate;
    * Δt is integer MICROSECONDS end to end (bucket edges are exact
    * integer multiples, so both engines weight identically — the
    * engine-replay reason to avoid fractional-second arithmetic).
    * Same-instant ties (Δt = 0 except the (ts, tie)-last) resolve by
    * the tie column. Output: (key, bucket, n_events, twap); Σ Δt ≥ 1 µs
    * always (the last observation never sits ON the exclusive edge),
    * so the division is total.
    */
  def twap(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, bucketSec: Long): DataFrame = {
    require(bucketSec > 0, s"bucketSec must be positive, got $bucketSec")
    val us = bucketSec * 1000000L
    val base = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol),
        expr(s"unix_micros($tsCol)").as("__tus"),
        col(tieCol),
        col(valCol).cast("double").as("__v"))
      .withColumn("bucket", expr(s"__tus div ${us}L"))
    val w = Window.partitionBy(col(keyCol), col("bucket"))
      .orderBy(col("__tus"), col(tieCol))
    base
      .withColumn("__dt",
        coalesce(lead(col("__tus"), 1).over(w),
          (col("bucket") + 1) * lit(us)) - col("__tus"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        round(
          sum(col("__v") * col("__dt").cast("double")) /
            sum(col("__dt")).cast("double"),
          6).as("twap"))
  }

  /** LTTB DOWNSAMPLING (Steinarsson 2013, "Largest Triangle Three
    * Buckets") — reduce each key's series to `k` visually-faithful
    * points: keep the first and last, split the middle into k−2
    * equal-index buckets, and from each bucket keep the point forming
    * the LARGEST TRIANGLE with the previously-selected point and the
    * next bucket's centroid — the dashboarding/telemetry downsample
    * that preserves spikes a plain bucket-average flattens. The
    * previous-selected dependency makes LTTB sequential BY DEFINITION,
    * so the bucket walk runs as an ordered in-array fold per key (the
    * qe15/qe26 idiom), replayed step-for-step by a recursive-CTE
    * oracle with GROUP BY in the recursive term (the qg1 Bellman-Ford
    * shape: each step's argmax is an aggregate over that bucket's
    * candidates).
    *
    * CROSS-ENGINE EXACTNESS BY INTEGERIZATION: y quantizes to
    * integer millionths up front (x is already integer µs), so every
    * SUM in the algorithm — the next-bucket centroid — is order-free
    * (integer addition), and every remaining float op (centroid
    * divide, the triangle cross product) is a correctly-rounded IEEE
    * op on bit-identical operands. Ties in triangle area break
    * first-point-wins (fold: strict `>`; SQL: max by (area, −rn)) —
    * equivalent total orders, so even exact ties pick the same point.
    * The 6-dp quantization is part of the contract (a visual
    * downsample is insensitive to sub-millionth wiggle); NaN values
    * are unsupported (ANSI cast faults loudly).
    *
    * Per-key state is the key's own series (the bounded-series
    * contract); the bucket scan is O(n·k) expression work per key —
    * the plot-sized k this exists for keeps that trivial. Series with
    * n ≤ k pass through whole. Output: (key, x epoch-µs, y) — the
    * selected points.
    */
  def lttb(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, k: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3 (first + last + one bucket), got $k")
    val m = k - 2
    val pts = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol),
        struct(
          expr(s"unix_micros($tsCol)").as("x"),
          col(tieCol).as("t"),
          expr(s"CAST(round(CAST($valCol AS DOUBLE) * 1000000) AS BIGINT)")
            .as("y")).as("__p"))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .withColumn("__n", size(col("__ps")))
    val small = pts
      .filter(col("__n") <= k)
      .select(col(keyCol), explode(col("__ps")).as("__s"))
      .select(col(keyCol), col("__s.x").as("x"), col("__s.y").as("__yq"))
    val big = pts.filter(col("__n") > k)
    // middle points with their 1-based rank and bucket id
    // b(rn) = (rn−2)·m div (n−2) + 1 — the floor map both engines share
    // (rn−2)·m div (n−2) + 1 via double divide + truncate: operands are
    // row counts (≪ 2⁵³), so the quotient is exact and the truncation
    // IS the floor both engines compute. EVERY expression below must be
    // TOTAL even on small-path groups: CollapseProject merges these
    // projections into the shared Aggregate BELOW the __n > k filter,
    // so an n ≤ k group still EVALUATES them (ANSI divide-by-zero was
    // the symptom) — hence the greatest(·, 1) and the empty-bucket
    // guard; guarded garbage rows are discarded by the filter anyway
    val mid = transform(col("__ps"),
      (p, idx) => struct(
        (idx + 1).as("rn"), p("x").as("x"), p("y").as("y"),
        ((((idx - 1) * m).cast("double") /
          greatest(col("__n") - 2, lit(1)).cast("double")).cast("long") + 1)
          .as("b")))
    // the precomputed arrays (mid, then per-bucket candidates/anchors)
    // are [[let]]-bound: each evaluates exactly once per row
    val midBound = filter(mid, e => e("rn") >= 2 && e("rn") <= col("__n") - 1)
    val selExpr = let(midBound) { md =>
      // per bucket i: its candidates and the NEXT anchor (bucket i+1's
      // integer-sum centroid, or the last point for the final bucket)
      val cands = transform(sequence(lit(1), lit(m)),
        i => filter(md, e => e("b") === i))
      val nexts = transform(sequence(lit(1), lit(m)), i => {
        val nb = filter(md, e => e("b") === i + 1)
        val last = element_at(col("__ps"), col("__n"))
        when(i < m && size(nb) > 0,
          struct(
            (aggregate(nb, lit(0L), (s, e) => s + e("x")).cast("double") /
              size(nb).cast("double")).as("nx"),
            (aggregate(nb, lit(0L), (s, e) => s + e("y")).cast("double") /
              size(nb).cast("double")).as("ny")))
          .otherwise(struct(
            last("x").cast("double").as("nx"),
            last("y").cast("double").as("ny")))
      })
      let(struct(cands.as("c"), nexts.as("a")))(ctx =>
        aggregate(sequence(lit(1), lit(m)),
          struct(
            element_at(col("__ps"), 1)("x").as("px"),
            element_at(col("__ps"), 1)("y").as("py"),
            array(struct(
              element_at(col("__ps"), 1)("x").as("x"),
              element_at(col("__ps"), 1)("y").as("y"))).as("sel")),
          (acc, i) => {
            val nxt = element_at(ctx("a"), i)
            val pxd = acc("px").cast("double")
            val pyd = acc("py").cast("double")
            val best = aggregate(element_at(ctx("c"), i),
              struct(lit(-1.0).as("area"), lit(0L).as("x"), lit(0L).as("y")),
              (b, p) => {
                val area = abs(
                  (pxd - nxt("nx")) * (p("y").cast("double") - pyd) -
                    (pxd - p("x").cast("double")) * (nxt("ny") - pyd))
                when(area > b("area"),
                  struct(area.as("area"), p("x").as("x"), p("y").as("y")))
                  .otherwise(b)
              })
            struct(
              best("x").as("px"), best("y").as("py"),
              concat(acc("sel"),
                array(struct(best("x").as("x"), best("y").as("y")))).as("sel"))
          },
          acc => concat(acc("sel"), array(struct(
            element_at(col("__ps"), col("__n"))("x").as("x"),
            element_at(col("__ps"), col("__n"))("y").as("y"))))))
    }
    val folded = big
      .select(col(keyCol), explode(selExpr).as("__s"))
      .select(col(keyCol), col("__s.x").as("x"), col("__s.y").as("__yq"))
    small.unionByName(folded)
      .select(col(keyCol), col("x"),
        (col("__yq").cast("double") / 1000000.0).as("y"))
  }

  /** HOLT DOUBLE-EXPONENTIAL SMOOTHING — [[ewma]]'s trend-aware big
    * sibling: per key, the coupled level/trend fold
    * {{{
    *   l_i = α·x_i + (1−α)·(l_{i−1} + b_{i−1})
    *   b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1}
    * }}}
    * seeded l₀ = x₀, b₀ = 0 — the forecasting/feature primitive for
    * trending series a single EWMA lags behind. Like qe15, the fold is
    * sequential BY DEFINITION and computes as an ordered in-array
    * `aggregate` over the key's [[series]]: the identical
    * IEEE op tree runs in every engine, replayed step-for-step by the
    * qe26 recursive-CTE oracle. The accumulator carries (seen, l, b) —
    * never a NaN sentinel (a NaN input must poison, not re-seed).
    * α and β must be dyadic ([[requireDyadic]]); null values are
    * dropped. Output: (key, n_events, level, trend, forecast = l+b).
    */
  def holt(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0, 1], got $beta")
    requireDyadic("alpha" -> alpha, "beta" -> beta)
    val ka = 1.0 - alpha
    val kb = 1.0 - beta
    series(df, keyCol, tsCol, tieCol, col(valCol).cast("double"), dropNulls = true)
      .select(
        col(keyCol),
        size(col("__s")).cast("long").as("n_events"),
        aggregate(col("__s"),
          struct(lit(false).as("seen"), lit(0.0).as("l"), lit(0.0).as("b")),
          (st, x) => {
            val lNew = x("__v") * lit(alpha) + (st("l") + st("b")) * lit(ka)
            struct(
              lit(true).as("seen"),
              when(not(st("seen")), x("__v")).otherwise(lNew).as("l"),
              when(not(st("seen")), lit(0.0))
                .otherwise((lNew - st("l")) * lit(beta) + st("b") * lit(kb))
                .as("b"))
          }).as("__f"))
      .select(
        col(keyCol), col("n_events"),
        round(col("__f.l"), 6).as("level"),
        round(col("__f.b"), 6).as("trend"),
        round(col("__f.l") + col("__f.b"), 6).as("forecast"))
  }

  /** GAP-FILL RESAMPLING — regularize a keyed, irregularly-sampled
    * series onto a fixed bucket grid and LINEARLY INTERPOLATE the
    * missing buckets: per key, each bucket's value is its last
    * observation in (ts, tie) order, and every empty bucket strictly
    * between two observed ones gets `v + (nv − v)·(g − b)/(nb − b)` —
    * the resample/align step every downstream window, z-score, or
    * as-of consumer assumes has already happened. Gaps longer than
    * `maxGapBuckets` are NOT filled (a 3-week sensor outage is a
    * series break, not 2000 invented points) — which is also the
    * bounded-output guard: emitted rows ≤ observed·(maxGap−1)+observed,
    * never span/width, so a sparse key cannot explode the output at
    * 100 TB.
    *
    * Scale shape: ONE exchange. Both windows partition by the key
    * alone — bucket-last picking reads `lead(bucket)` over (bucket,
    * ts, tie) order, and the neighbour lookup reads `lead` over the
    * bucket-last survivors — so the second Sort+Window reuses the
    * first's hash partitioning (the filter preserves
    * outputPartitioning; no second shuffle). The per-gap expansion is
    * a codegen `sequence`+`filter`+`transform` inside the row — no
    * join back, no explode-then-shuffle.
    *
    * Replay contract: buckets are integer floor-division of
    * epoch-micros; the interpolation is subtract → integer-ratio
    * divide → multiply → add, each a single IEEE op on inputs both
    * engines compute identically, so 6-dp rounding is safe. The
    * branch-free gap expansion (`sequence(b, fillEnd)` then filter to
    * the open interval) exists because Spark's `sequence(a, b)`
    * REVERSES when a > b rather than returning empty — a conditional
    * end bound plus an interior filter keeps the sequence ascending
    * and empty gaps genuinely empty.
    *
    * Output: (key, bucket_start epoch-seconds, value, filled 0/1).
    */
  def gapFill(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, bucketSec: Long, maxGapBuckets: Int): DataFrame = {
    require(bucketSec > 0, s"bucketSec must be positive, got $bucketSec")
    require(maxGapBuckets >= 2, s"maxGapBuckets must be >= 2, got $maxGapBuckets")
    val us = bucketSec * 1000000L
    val base = df
      .filter(col(valCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol),
        expr(s"unix_micros($tsCol)").as("__tus"),
        col(tieCol),
        col(valCol).cast("double").as("__v"))
      .withColumn("bucket", expr(s"__tus div ${us}L"))
    // bucket-last pick and neighbour lookup share ONE key-partitioned
    // exchange: both windows partition by the bare key, and the
    // rows-surviving filter preserves that partitioning
    val wAll = Window.partitionBy(col(keyCol))
      .orderBy(col("bucket"), col("__tus"), col(tieCol))
    val wBuckets = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val lasts = base
      .withColumn("__nxb", lead(col("bucket"), 1).over(wAll))
      .filter(col("__nxb").isNull || col("__nxb") =!= col("bucket"))
      .withColumn("__nb", lead(col("bucket"), 1).over(wBuckets))
      .withColumn("__nv", lead(col("__v"), 1).over(wBuckets))
    val fillEnd = when(
      col("__nb").isNotNull && (col("__nb") - col("bucket")) <= maxGapBuckets,
      col("__nb")).otherwise(col("bucket"))
    val fills = transform(
      filter(sequence(col("bucket"), fillEnd),
        g => g > col("bucket") && g < fillEnd),
      g => struct(
        g.as("b"),
        round(
          col("__v") + (col("__nv") - col("__v")) *
            ((g - col("bucket")).cast("double") /
              (col("__nb") - col("bucket")).cast("double")),
          6).as("v"),
        lit(1).as("f")))
    lasts
      .select(col(keyCol),
        explode(concat(
          array(struct(col("bucket").as("b"), round(col("__v"), 6).as("v"),
            lit(0).as("f"))),
          fills)).as("__g"))
      .select(col(keyCol),
        (col("__g.b") * bucketSec).as("bucket_start"),
        col("__g.v").as("value"),
        col("__g.f").as("filled"))
  }

  /** ROLLING Z-SCORE — per-key anomaly scoring of a value series
    * against its own trailing baseline: for each event (in strict
    * (ts, tie) order), mean/variance over the PRECEDING `lookback`
    * rows — the current row never contaminates its own baseline — and
    * z = (v − μ)/σ. The training-data-quality staple (drift spikes,
    * sensor faults, metric regressions) in its scalable form: one
    * window shuffle on the key, sliding-frame sums, no self-join.
    * Only rows with a FULL lookback window score (the first `lookback`
    * rows per key have no defensible baseline and are dropped);
    * zero-variance baselines yield null z and a false flag.
    *
    * Replay contract: variance is the explicit s2/n − (s1/n)² in that
    * exact operation order (NOT the builtin stddev — engines disagree
    * on the internal algorithm), null-value rows are excluded BEFORE
    * the window so both engines see identical frames, and z rounds at
    * 4 dp (windowed double sums may associate differently across
    * engines; the ulp-level slack needs coarser rounding than the
    * usual 6 dp). The flag compares the UNROUNDED |z| to the
    * threshold.
    */
  def rollingZscore(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, lookback: Int, threshold: Double): DataFrame = {
    require(lookback >= 2, s"lookback must be >= 2, got $lookback")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-lookback, -1)
    val n = lit(lookback.toDouble)
    val scored = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol),
        col(valCol).cast("double").as("__v"))
      .withColumn("__n", count(col("__v")).over(w))
      .withColumn("__s1", sum(col("__v")).over(w))
      .withColumn("__s2", sum(col("__v") * col("__v")).over(w))
      .filter(col("__n") === lookback)
    val mean = col("__s1") / n
    val varr = col("__s2") / n - mean * mean
    val z = when(varr > 0.0, (col("__v") - mean) / sqrt(varr))
    scored.select(
      col(keyCol), col(tieCol),
      round(col("__v"), 6).as("value"),
      round(z, 4).as("z"),
      when(abs(z) > threshold, lit(1)).otherwise(lit(0)).as("is_anomaly"))
  }

  /** HOLT-WINTERS ADDITIVE SMOOTHING — [[holt]]'s seasonal sibling:
    * per key, the coupled level/trend/seasonal fold
    * {{{
    *   l_i = (x_i − s_{i−m})·α + (l_{i−1} + b_{i−1})·(1−α)
    *   b_i = (l_i − l_{i−1})·β + b_{i−1}·(1−β)
    *   s_i = (x_i − l_i)·γ + s_{i−m}·(1−γ)
    * }}}
    * with period m POSITIONAL (the i-th element's season slot is
    * `(i−1) mod m` in arrival order — calendar-bucket periods are a
    * composition with [[gapFill]], which regularizes first). Seeding is
    * zero-seasonal: l₁ = x₁, b₁ = 0, and the seasonal ring starts all
    * zeros, so the first m updates blend against 0 — deterministic and
    * replayable, no first-season averaging heuristic.
    *
    * The fold carries (seen, i, l, b, ring[m]) and runs as an ordered
    * in-array `aggregate` (the qe15/qe26 shape): sequential BY
    * DEFINITION, identical IEEE op tree in every engine, replayed
    * step-for-step by the qe29 recursive-CTE oracle (the ring rides as
    * a LIST column in the recursive term). Same [[requireDyadic]]
    * contract as [[holt]] for α, β, γ; null values are dropped.
    *
    * Output: (key, n_events, level, trend, seasonal_next, forecast =
    * l + b + s_{next slot}).
    */
  def holtWinters(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, alpha: Double, beta: Double, gamma: Double,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0, 1], got $beta")
    require(gamma >= 0.0 && gamma <= 1.0, s"gamma must be in [0, 1], got $gamma")
    requireDyadic("alpha" -> alpha, "beta" -> beta, "gamma" -> gamma)
    val ka = 1.0 - alpha
    val kb = 1.0 - beta
    val kg = 1.0 - gamma
    val m = lit(period)
    series(df, keyCol, tsCol, tieCol, col(valCol).cast("double"), dropNulls = true)
      .select(
        col(keyCol),
        size(col("__s")).cast("long").as("n_events"),
        aggregate(col("__s"),
          struct(
            lit(false).as("seen"), lit(0).as("i"),
            lit(0.0).as("l"), lit(0.0).as("b"),
            array_repeat(lit(0.0), period).as("ring")),
          (st, x) => {
            // current element's 0-based index is st.i; season slot j
            val j = pmod(st("i"), m)
            val sOld = element_at(st("ring"), j + 1)
            val lNew = (x("__v") - sOld) * lit(alpha) + (st("l") + st("b")) * lit(ka)
            val lRes = when(not(st("seen")), x("__v")).otherwise(lNew)
            val bRes = when(not(st("seen")), lit(0.0))
              .otherwise((lNew - st("l")) * lit(beta) + st("b") * lit(kb))
            // first element: (x − l₁)·γ + 0·(1−γ) = 0 exactly, but keep
            // the override explicit so the seed never depends on FP
            val sRes = when(not(st("seen")), lit(0.0))
              .otherwise((x("__v") - lNew) * lit(gamma) + sOld * lit(kg))
            struct(
              lit(true).as("seen"), (st("i") + 1).as("i"),
              lRes.as("l"), bRes.as("b"),
              transform(st("ring"), (v, k) =>
                when(k === j, sRes).otherwise(v)).as("ring"))
          }).as("__f"))
      .select(
        col(keyCol), col("n_events"),
        round(col("__f.l"), 6).as("level"),
        round(col("__f.b"), 6).as("trend"),
        round(element_at(col("__f.ring"), pmod(col("__f.i"), m) + 1), 6)
          .as("seasonal_next"),
        round(col("__f.l") + col("__f.b")
          + element_at(col("__f.ring"), pmod(col("__f.i"), m) + 1), 6)
          .as("forecast"))
  }

  /** CUSUM CHANGE DETECTION — per key, the one-sided upper cumulative
    * sum against a FIXED target (Page 1954): `T_i = max(0, T_{i−1} +
    * (x_i − μ₀ − k))`, alarm when `T_i > h`. Monitors "has the series
    * drifted above target μ₀ by more than slack k, cumulatively past
    * h" — the drift/SLA/regression alarm a plain threshold filter
    * can't express (it integrates small persistent shifts).
    *
    * ALL-INTEGER contract: x quantizes to micro-units
    * (`floor(x·10⁶)` — floor, never round/cast, per the cross-engine
    * cast rule) and μ₀, k, h are micro-integer parameters, so the fold
    * is exact Long arithmetic — no FP anywhere, any engine replays it
    * bit-for-bit (the qe30 recursive-CTE oracle). ANSI overflow-safe:
    * |T| ≤ n·|x|ₘₐₓ ≈ 10¹⁵ for 10⁵-row keys at 10⁹ micro-units.
    *
    * Sequential by definition (same argument as [[ewma]]): ordered
    * in-array fold after one groupBy shuffle. Output per key:
    * (n_events, n_alarms, max_stat — micro-exact double, first_alarm_rn
    * — 1-based rank of the first alarm in (ts, tie) order, null if
    * none).
    */
  def cusum(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, targetMicro: Long, slackMicro: Long,
      thresholdMicro: Long): DataFrame = {
    require(thresholdMicro > 0, s"threshold must be positive, got $thresholdMicro")
    val shift = lit(targetMicro + slackMicro)
    series(df, keyCol, tsCol, tieCol, fixed(col(valCol), 1e6), dropNulls = true)
      .select(
        col(keyCol),
        size(col("__s")).cast("long").as("n_events"),
        aggregate(col("__s"),
          struct(
            lit(0L).as("t"), lit(0L).as("mx"), lit(0L).as("n"),
            lit(0L).as("rn"), lit(null).cast("long").as("first")),
          (st, x) => {
            val t = greatest(lit(0L), st("t") + (x("__v") - shift))
            val alarm = t > lit(thresholdMicro)
            struct(
              t.as("t"),
              greatest(st("mx"), t).as("mx"),
              (st("n") + when(alarm, 1L).otherwise(0L)).as("n"),
              (st("rn") + 1L).as("rn"),
              when(st("first").isNotNull, st("first"))
                .otherwise(when(alarm, st("rn") + 1L)).as("first"))
          }).as("__f"))
      .select(
        col(keyCol), col("n_events"),
        col("__f.n").as("n_alarms"),
        round(col("__f.mx").cast("double") / lit(1e6), 6).as("max_stat"),
        col("__f.first").as("first_alarm_rn"))
  }

  /** INTERVAL COVERAGE — per key, the total time covered by the UNION
    * of [start, start + dur) intervals, plus the count of disjoint
    * merged segments: the classic sweep-line union turned into one
    * window pass. Each interval's novel contribution is
    * `max(0, end − max(start, maxEndBefore))` where `maxEndBefore` is
    * the running max of `end` over all earlier intervals (start
    * order); a row opens a NEW segment iff its start exceeds that
    * running max. Utilization, sensor-uptime, and on-air/SLA coverage
    * all reduce to this — and the naive alternative (explode to
    * timestamps or self-join overlaps) is quadratic where this is one
    * sort.
    *
    * ALL-INTEGER: epoch-micros starts, `floor(dur·10⁶)` micro
    * durations — the window max, the clamps, and the sums are exact
    * Long arithmetic in every engine. Scale shape: ONE exchange — the
    * window partitions by key and the terminal groupBy reuses the same
    * hash partitioning.
    */
  def intervalCoverage(
      df: DataFrame, keyCol: String, startCol: String, tieCol: String,
      durCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__st"), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df
      .filter(col(durCol).isNotNull && col(durCol) > 0)
      .select(col(keyCol), col(tieCol),
        unix_micros(col(startCol)).as("__st"),
        (unix_micros(col(startCol)) + fixed(col(durCol), 1e6)).as("__en"))
      .withColumn("__pm", max(col("__en")).over(w))
      .select(col(keyCol),
        greatest(lit(0L),
          col("__en") - greatest(col("__st"), coalesce(col("__pm"), col("__st"))))
          .as("__cov"),
        when(col("__pm").isNull || col("__st") > col("__pm"), 1L).otherwise(0L)
          .as("__seg"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("__seg")).as("n_segments"),
        sum(col("__cov")).as("covered_us"),
        round(sum(col("__cov")).cast("double") / lit(1e6), 6).as("covered_sec"))
  }

  /** PEAK INTERVAL CONCURRENCY — per key, the maximum number of
    * simultaneously-active intervals and WHEN it is first reached: the
    * sweep-line max that answers "peak concurrent sessions / max
    * overlapping jobs", the counting sibling of [[intervalCoverage]]'s
    * union length. Intervals are half-open [start, start+dur) built
    * exactly like qr2's (µs floor quantization; dur ≤ 0 / null rows
    * never count; a SUB-µs duration in (0, 1e-6) floors to st == en —
    * it still counts toward `n_intervals` but its +1/−1 collapse to a
    * net-0 instant, so it never contributes concurrency), so an
    * interval ending at t does NOT overlap one starting at t — the ±1
    * deltas collapse per (key, instant) BEFORE the running sum, which
    * realizes ends-before-starts ordering with no tie column at all.
    *
    * Exactness: the sweep is integer deltas cumulated in instant order
    * (unique per key after the collapse — fully deterministic); the
    * peak instant ties break to the EARLIEST via one
    * max(struct(run, −t)) aggregate, no second window.
    *
    * Output: `(key, n_intervals, peak_concurrency, peak_at_us)`.
    * Shape: one groupBy (instant collapse) + one per-key window + one
    * final aggregate — a single key exchange end to end.
    */
  def peakConcurrency(
      df: DataFrame, keyCol: String, startCol: String,
      durCol: String): DataFrame = {
    val iv = df
      .filter(col(durCol).isNotNull && col(durCol) > 0)
      .select(col(keyCol),
        unix_micros(col(startCol)).as("__st"),
        (unix_micros(col(startCol)) + fixed(col(durCol), 1e6)).as("__en"))
    val pts = iv.select(col(keyCol), col("__st").as("__t"), lit(1L).as("__d"))
      .unionAll(iv.select(col(keyCol), col("__en").as("__t"), lit(-1L).as("__d")))
      .groupBy(col(keyCol), col("__t"))
      .agg(
        sum(col("__d")).as("__net"),
        sum(when(col("__d") === 1L, 1L).otherwise(0L)).as("__starts"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__t"))
    pts
      .withColumn("__run", sum(col("__net")).over(w))
      .groupBy(col(keyCol))
      .agg(
        sum(col("__starts")).as("n_intervals"),
        max(struct(col("__run"), (-col("__t")).as("__nt"))).as("__pk"))
      .select(col(keyCol),
        col("n_intervals"),
        col("__pk.__run").as("peak_concurrency"),
        (-col("__pk.__nt")).as("peak_at_us"))
  }

  /** MANN-KENDALL TREND TEST — per key, the rank-based monotone-trend
    * statistic (Mann 1945, Kendall 1975): `S = Σ_{i<j} sign(x_j − x_i)`
    * over the (ts, tie)-ordered series, with the tie-corrected variance
    * `Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18` and the
    * continuity-corrected z. Robust trend detection — no distribution
    * assumption, immune to outliers a least-squares slope chases.
    *
    * ALL-INTEGER CORE: x floor-quantizes to micro-units, so every sign
    * comparison, S, and the variance NUMERATOR are exact Long
    * arithmetic any engine replays identically (the qe31 oracle builds
    * S from a rn-ordered pair join); z is then two IEEE ops
    * (divide, sqrt) on identical operands — bit-identical before the
    * 6-dp round. ANSI-safe to n ≈ 10⁶ per key (n³ < 2⁶³).
    *
    * Shape: ONE groupBy shuffle; the Θ(n²/key) pair comparisons run as
    * an in-array scan (slice + filter per element) inside the bounded-
    * series contract every fold in this tier shares — no pair
    * materialization, no self-join. The tie term folds over a
    * value-sorted copy counting runs. The whole computation [[let]]-binds
    * the time-ordered value array, so it materializes once per key, not
    * once per use.
    *
    * Output: (key, n_events, s_stat, var_num — the integer 18·Var(S),
    * z_score, trend ∈ increasing/decreasing/no_trend at |z| > 1.959964).
    */
  def mannKendall(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String): DataFrame = {
    val zCrit = 1.959964
    series(df, keyCol, tsCol, tieCol, fixed(col(valCol), 1e6), dropNulls = true)
      .select(
        col(keyCol),
        let(transform(col("__s"), x => x("__v"))) { vs =>
          val n = size(vs).cast("long")
          // S: for each element, count strictly-smaller minus
          // strictly-larger among the elements BEFORE it (slice of the
          // first j — the 0-based lambda index — entries)
          val s = aggregate(
            transform(vs, (x, j) =>
              size(filter(slice(vs, lit(1), j), y => y < x)).cast("long")
                - size(filter(slice(vs, lit(1), j), y => y > x)).cast("long")),
            lit(0L), (a, d) => a + d)
          // tie term Σ t(t−1)(2t+5): run-length fold over the
          // value-sorted copy; contribution(0) = 0 makes the seed total
          val tie = aggregate(sort_array(vs),
            struct(
              lit(null).cast("long").as("prev"), lit(0L).as("run"),
              lit(0L).as("acc")),
            (st, x) => {
              val cont = x === st("prev")
              struct(
                x.as("prev"),
                when(cont, st("run") + 1L).otherwise(lit(1L)).as("run"),
                (st("acc") + when(cont, lit(0L)).otherwise(
                  st("run") * (st("run") - 1L) * (lit(2L) * st("run") + 5L)))
                  .as("acc"))
            },
            st => st("acc")
              + st("run") * (st("run") - 1L) * (lit(2L) * st("run") + 5L))
          struct(n.as("n"), s.as("s"),
            (n * (n - 1L) * (lit(2L) * n + 5L) - tie).as("vn"))
        }.as("__mk"))
      .select(
        col(keyCol),
        col("__mk.n").as("n_events"),
        col("__mk.s").as("s_stat"),
        col("__mk.vn").as("var_num"),
        when(col("__mk.vn") > 0L && col("__mk.s") =!= 0L,
          round((col("__mk.s") - signum(col("__mk.s")).cast("long"))
            .cast("double")
            / sqrt(col("__mk.vn").cast("double") / lit(18.0)), 6))
          .otherwise(lit(0.0)).as("z_score"))
      .withColumn("trend",
        when(col("z_score") > zCrit, lit("increasing"))
          .when(col("z_score") < -zCrit, lit("decreasing"))
          .otherwise(lit("no_trend")))
  }

  /** AUTOCORRELATION FUNCTION — per key, the sample ACF at lags
    * 1..maxLag over the (ts, tie)-ordered series:
    * `ρ_k = Σᵢ(xᵢ−x̄)(xᵢ₊ₖ−x̄) / Σᵢ(xᵢ−x̄)²` — the fundamental
    * time-series diagnostic (seasonality shows as spikes at the
    * period, white noise dies immediately).
    *
    * Cross-engine exact by POWER-SUM DECOMPOSITION: the data-dependent
    * parts reduce to exact integer sums over centi-quantized values —
    * Σq, Σq², and per lag Σqᵢqᵢ₊ₖ plus the head/tail slice sums — and
    * the mean-centred form expands to a FIXED IEEE tree over them
    * (numerator = Σqᵢqᵢ₊ₖ − x̄(head+tail) + (n−k)x̄²), so there is no
    * order-dependent float summation anywhere. Centi units keep
    * Σq² < 2⁵³ (exact as double) and < 2⁶³ (no ANSI overflow) to ~10⁹
    * rows/key. Lags with n ≤ k or a constant series (zero variance)
    * report null.
    *
    * Shape: ONE key shuffle; the lag products are in-array `zip_with`
    * slices over the [[let]]-bound series.
    */
  def acf(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 10, s"maxLag must be in [1,10], got $maxLag")
    val withSums = series(df, keyCol, tsCol, tieCol, fixed(col(valCol), 100.0),
        dropNulls = true)
      .select(
        col(keyCol),
        let(transform(col("__s"), x => x("__v"))) { q =>
          val n = size(q)
          val len = (k: Int) => greatest(lit(0), n - k)
          val lagSums = (1 to maxLag).map { k =>
            struct(
              aggregate(
                zip_with(slice(q, lit(1), len(k)), slice(q, lit(k + 1), len(k)),
                  (a, b) => a * b),
                lit(0L), (acc, x) => acc + x).as("sxy"),
              aggregate(slice(q, lit(1), len(k)), lit(0L),
                (acc, x) => acc + x).as("sh"),
              aggregate(slice(q, lit(k + 1), len(k)), lit(0L),
                (acc, x) => acc + x).as("st")).as(s"l$k")
          }
          struct(
            (n.cast("long").as("n") +:
              aggregate(q, lit(0L), (acc, x) => acc + x).as("sx") +:
              aggregate(q, lit(0L), (acc, x) => acc + x * x).as("sxx") +:
              lagSums): _*)
        }.as("__a"))
    val n = col("__a.n")
    val xbar = col("__a.sx").cast("double") / n.cast("double")
    val denom = col("__a.sxx").cast("double") -
      col("__a.sx").cast("double") * col("__a.sx").cast("double") /
        n.cast("double")
    val acfCols = (1 to maxLag).map { k =>
      val l = col(s"__a.l$k")
      val num = l("sxy").cast("double") -
        xbar * (l("sh") + l("st")).cast("double") +
        (n - k).cast("double") * xbar * xbar
      when(n > k && denom > 0.0, round(num / denom, 6)).as(s"acf$k")
    }
    withSums.select((col(keyCol) +: n.as("n_events") +: acfCols): _*)
  }

  /** KAPLAN-MEIER SURVIVAL CURVE — the nonparametric time-to-event
    * estimator (Kaplan & Meier 1958) behind every churn, conversion,
    * and reliability analysis: subjects enter at their first
    * observation, "die" at their first event matching `death`, and are
    * right-CENSORED at their last observation otherwise — censoring is
    * the whole point (dropping unconverted users biases the curve; KM
    * keeps them at risk exactly as long as they were observed). At
    * each day `d`: n_risk = #{duration ≥ d}, and
    * `S(d) = Π_{d' ≤ d} (1 − deaths(d')/n_risk(d'))`.
    *
    * Cross-engine exact: durations and the day table are ALL-INTEGER
    * (floor-div days, suffix-sum risks), and the survival product is an
    * ORDERED fold over per-day factors `1 − deaths/risk` — each factor
    * one IEEE divide on exact integers, the prefix product replayed
    * step-for-step by the qe34 recursive CTE (day-0 factor seeds as
    * 1.0·f₁ = f₁ exactly).
    *
    * Shape: one subject aggregate (the only data-sized pass), then the
    * day table — bounded by the observation span in days, NOT by
    * subjects — packs into one row for the fold and explodes back.
    */
  def kaplanMeier(
      df: DataFrame, subjectCol: String, tsCol: String,
      death: Column): DataFrame = {
    val days = lifetimes(df, subjectCol, tsCol, death)
      .groupBy(col("__dur"))
      .agg(count(lit(1)).as("__n"), sum(col("__evt")).as("__d"))
      .agg(sort_array(collect_list(struct(
        col("__dur"), col("__n"), col("__d")))).as("__t"))
    days
      .select(explode(transform(col("__t"), (row, i) => {
        val total = aggregate(col("__t"), lit(0L), (a, e) => a + e("__n"))
        val before = aggregate(slice(col("__t"), lit(1), i),
          lit(0L), (a, e) => a + e("__n"))
        val risk = total - before
        // ordered prefix product of factors 1 - d_j/r_j for j <= i
        val surv = aggregate(
          transform(slice(col("__t"), lit(1), i + 1), (e, j) => {
            val rj = aggregate(col("__t"), lit(0L), (a, x) => a + x("__n")) -
              aggregate(slice(col("__t"), lit(1), j), lit(0L),
                (a, x) => a + x("__n"))
            lit(1.0) - e("__d").cast("double") / rj.cast("double")
          }),
          lit(1.0), (a, f) => a * f)
        struct(
          row("__dur").as("dur_days"),
          risk.as("n_risk"),
          row("__d").as("n_death"),
          (row("__n") - row("__d")).as("n_censor"),
          round(surv, 6).as("survival"))
      })).as("__r"))
      .select(col("__r.dur_days"), col("__r.n_risk"), col("__r.n_death"),
        col("__r.n_censor"), col("__r.survival"))
  }

  /** CHANGEPOINT LOCALIZATION (binary-segmentation first split) — the
    * WHERE to [[cusum]]'s WHETHER: per key, the split position k that
    * maximizes the scaled mean-shift deviation
    * `D_k = |n·P_k − k·T|` (P_k = prefix sum, T = total) — equivalent
    * to argmax |k·(n−k)·(mean_left − mean_right)|, the first cut of
    * binary segmentation and the core of the Pettitt-style test.
    *
    * ALL-INTEGER argmax: centi-quantized values make P_k, T, and every
    * D_k exact Longs, so the argmax (tie → smallest k) is replayed
    * bit-free by any engine; the two segment means are single divides
    * after the cut. ANSI-safe to n·P < 2⁶³ (≈ 10⁹ rows/key at centi
    * scale). Keys with n < 2 have no interior split and are omitted.
    *
    * Shape: ONE key shuffle, prefix sums as in-array slice folds (the
    * qe31 bounded-series contract).
    */
  def changepoint(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String): DataFrame = {
    series(df, keyCol, tsCol, tieCol, fixed(col(valCol), 100.0), dropNulls = true)
      .filter(size(col("__s")) >= 2)
      .select(
        col(keyCol),
        let(transform(col("__s"), x => x("__v"))) { q =>
          val n = size(q).cast("long")
          val t = aggregate(q, lit(0L), (a, x) => a + x)
          // best = max over k in [1, n) of (D_k, -k, k, P_k)
          val best = array_max(filter(
            transform(q, (_, i) => {
              val k = (i + 1).cast("long")
              val p = aggregate(slice(q, lit(1), i + 1), lit(0L),
                (a, x) => a + x)
              struct(abs(n * p - k * t).as("d"), (-k).as("tb"),
                k.as("k"), p.as("p"))
            }),
            e => e("k") < n))
          struct(n.as("n"), t.as("t"), best("d").as("d"),
            best("k").as("k"), best("p").as("p"))
        }.as("__cp"))
      .select(
        col(keyCol),
        col("__cp.n").as("n_events"),
        col("__cp.k").as("split_rn"),
        col("__cp.d").as("deviation"),
        round(col("__cp.p").cast("double")
          / (lit(100.0) * col("__cp.k").cast("double")), 6)
          .as("mean_before"),
        round((col("__cp.t") - col("__cp.p")).cast("double")
          / (lit(100.0) * (col("__cp.n") - col("__cp.k")).cast("double")), 6)
          .as("mean_after"))
  }

  /** LOG-RANK TEST (Mantel 1966) — [[kaplanMeier]]'s two-sample
    * comparison: do two arms have the same time-to-event distribution?
    * At each day, the observed arm-1 deaths are compared with the
    * hypergeometric expectation given the pooled deaths and the arms'
    * at-risk counts; `z = (O − E)/√V` with
    * `E = Σ dₜ·r₁/rₜ`, `V = Σ dₜ·(r₁/rₜ)(r₀/rₜ)(rₜ−dₜ)/(rₜ−1)`.
    * The survival A/B readout (does the variant convert FASTER, not
    * just more — qp6 can't see timing).
    *
    * Cross-engine exact: the day table and at-risk suffix counts are
    * all-integer, O is an exact Long, and E/V accumulate in ASCENDING
    * DAY ORDER as an ordered fold of fixed IEEE terms (zero-death days
    * contribute exact 0.0; rₜ = 1 days skip the undefined variance
    * term) — the qe35 recursive CTE replays state-for-state.
    *
    * Shape: one subject aggregate, then a span-bounded day table packed
    * into one row. Output: one row (o1, e1, v1, chi_square, z_score,
    * significant).
    */
  def logRank(
      df: DataFrame, subjectCol: String, tsCol: String,
      death: Column, arm: Column): DataFrame = {
    val packed = lifetimes(df, subjectCol, tsCol, death,
        "__g" -> max(when(arm, 1L).otherwise(0L)))
      .groupBy(col("__dur"))
      .agg(
        sum(col("__g")).as("n1c"),
        sum(lit(1L) - col("__g")).as("n0c"),
        sum(col("__g") * col("__evt")).as("d1"),
        sum((lit(1L) - col("__g")) * col("__evt")).as("d0"))
      .agg(sort_array(collect_list(struct(
        col("__dur"), col("n1c"), col("n0c"), col("d1"), col("d0"))))
        .as("__t"))
    packed
      .select(explode(transform(array(col("__t")), t => {
        val n1 = aggregate(t, lit(0L), (a, x) => a + x("n1c"))
        val n0 = aggregate(t, lit(0L), (a, x) => a + x("n0c"))
        aggregate(t,
          struct(lit(0L).as("p1"), lit(0L).as("p0"), lit(0L).as("o"),
            lit(0.0).as("e"), lit(0.0).as("v")),
          (st, x) => {
            val r1 = n1 - st("p1")
            val r0 = n0 - st("p0")
            val rt = r1 + r0
            val dt = x("d1") + x("d0")
            val eterm = when(dt > 0L,
              dt.cast("double") * r1.cast("double") / rt.cast("double"))
              .otherwise(lit(0.0))
            val vterm = when(dt > 0L && rt > 1L,
              dt.cast("double") * (r1.cast("double") / rt.cast("double"))
                * (r0.cast("double") / rt.cast("double"))
                * ((rt - dt).cast("double") / (rt - 1L).cast("double")))
              .otherwise(lit(0.0))
            struct(
              (st("p1") + x("n1c")).as("p1"), (st("p0") + x("n0c")).as("p0"),
              (st("o") + x("d1")).as("o"),
              (st("e") + eterm).as("e"), (st("v") + vterm).as("v"))
          },
          st => {
            val diff = st("o").cast("double") - st("e")
            val z = when(st("v") > 0.0, round(diff / sqrt(st("v")), 6))
              .otherwise(lit(0.0))
            struct(
              st("o").as("o1"), round(st("e"), 6).as("e1"),
              round(st("v"), 6).as("v1"),
              when(st("v") > 0.0, round(diff * diff / st("v"), 6))
                .otherwise(lit(0.0)).as("chi_square"),
              z.as("z_score"),
              when(abs(z) > lit(1.959964), 1L).otherwise(0L)
                .as("significant"))
          })
      })).as("__r"))
      .select(col("__r.o1"), col("__r.e1"), col("__r.v1"),
        col("__r.chi_square"), col("__r.z_score"), col("__r.significant"))
  }

  /** CLASSICAL SEASONAL DECOMPOSITION (additive, period 4) — per key,
    * the seasonal indices of the (ts, tie)-ordered series by the
    * textbook moving-average method: centered 2×4 MA as trend,
    * detrend, average the detrended values by POSITIONAL slot
    * ((i−1) mod 4). The decomposition behind every seasonality plot.
    *
    * EXACT-INTEGER CONSTRUCTION: the 2×4 MA has dyadic weights
    * (1,2,2,2,1)/8, so 8·trendᵢ = qᵢ₋₂ + 2qᵢ₋₁ + 2qᵢ + 2qᵢ₊₁ + qᵢ₊₂
    * is an exact Long over the centi-quantized series, the detrended
    * NUMERATOR Dᵢ = 8qᵢ − 8·trendᵢ is exact, and the per-slot sum of
    * exact integers is order-free — the ONLY float op is the final
    * ΣD/(8·count) divide (then a 6-dp round). A naive avg(x − ma)
    * would be an unordered double sum no other engine replays.
    *
    * Rows need both margins (3 ≤ i ≤ n−2); series shorter than 5
    * contribute nothing. Output: (key, slot 0..3, n_terms, seasonal).
    * Shape: one key window (explicit lag/lead — a single frame pass) +
    * one (key, slot)-bounded aggregate.
    */
  def seasonalDecompose(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val base = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol), fixed(col(valCol), 100.0).as("__q"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .withColumn("__ma8",
        lag(col("__q"), 2).over(w) + lag(col("__q"), 1).over(w) * 2L
          + col("__q") * 2L + lead(col("__q"), 1).over(w) * 2L
          + lead(col("__q"), 2).over(w))
    base
      .filter(col("__rn") >= 3 && col("__rn") <= col("__n") - 2)
      .select(col(keyCol),
        pmod(col("__rn") - 1, lit(4)).cast("int").as("slot"),
        (col("__q") * 8L - col("__ma8")).as("__d8"))
      .groupBy(col(keyCol), col("slot"))
      .agg(
        count(lit(1)).as("n_terms"),
        // 800 = 8 (dyadic MA denominator) x 100 (centi -> value units)
        round(sum(col("__d8")).cast("double")
          / (lit(800.0) * count(lit(1)).cast("double")), 6).as("seasonal"))
  }

  /** SCD TYPE-2 HISTORY BUILD — turn a per-key change log into the
    * classic slowly-changing-dimension validity table: one row per
    * ATTRIBUTE RUN, `[valid_from, valid_to)` half-open, `valid_to`
    * null on the current row. The warehouse primitive behind
    * point-in-time joins (compose with [[asofJoin]] to enrich facts
    * against the version valid at event time).
    *
    * Change detection is null-safe AND first-row-exact: the lag rides
    * a non-null marker struct, so "no previous row" (always a change)
    * is distinguished from "previous attribute was null" (a change
    * only if the current attribute differs under null-safe equality).
    *
    * Shape: one key exchange total — the change filter preserves the
    * first window's partitioning AND sort, so the second window
    * (valid_to lead + version row_number) reuses both; timestamps
    * emit as epoch micros (exact integers in every engine).
    */
  def scd2History(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__ts"), col(tieCol))
    df
      .select(col(keyCol), col(tieCol),
        unix_micros(col(tsCol)).as("__ts"), col(attrCol).as("__a"))
      .withColumn("__prev",
        lag(struct(lit(1).as("m"), col("__a").as("a")), 1).over(w))
      .filter(col("__prev").isNull || !(col("__a") <=> col("__prev.a")))
      .select(
        col(keyCol), col("__a").as(attrCol),
        col("__ts").as("valid_from_us"),
        lead(col("__ts"), 1).over(w).as("valid_to_us"),
        row_number().over(w).cast("long").as("version"))
      .withColumn("is_current",
        when(col("valid_to_us").isNull, 1L).otherwise(0L))
  }

  /** LINEAR MULTI-TOUCH ATTRIBUTION — for every conversion event, the
    * touch events of the same key that landed STRICTLY BEFORE it and
    * within the lookback window, with equal credit split across them
    * (the marketing-attribution primitive; first/last-touch ride along
    * as argmin/argmax). A conversion with no qualifying touch reports
    * zero touches and null credit — unattributed, not dropped.
    *
    * Cross-engine exact: the join predicate and the first/last
    * selection are all-integer (µs timestamps, id tie-break via
    * min/max over (ts, id) structs), and credit = 1/n is ONE IEEE
    * divide. Strictly-before matters — a same-instant touch cannot
    * have caused the conversion (the [[funnel]] rule).
    *
    * Shape: one key-partitioned equi-join with the window as a
    * residual range predicate, then one conversion-keyed aggregate.
    * Per-key activity bounds the fan-out; corpora with pathological
    * single-key skew should pre-bin by time (the qr3 binned-interval
    * pattern) — not needed at the profiled key cardinalities.
    */
  def linearAttribution(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      typeCol: String, touchType: String, convType: String,
      windowUs: Long): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    val touches = df
      .filter(col(typeCol) === touchType)
      .select(col(keyCol).as("__u"), unix_micros(col(tsCol)).as("__tt"),
        col(idCol).as("__tid"))
    val convs = df
      .filter(col(typeCol) === convType)
      .select(col(keyCol).as("__u"), unix_micros(col(tsCol)).as("__ct"),
        col(idCol).as("__cid"))
    convs
      .join(touches,
        convs("__u") === touches("__u")
          && col("__tt") < col("__ct")
          && col("__tt") >= col("__ct") - lit(windowUs),
        "left")
      .groupBy(convs("__u").as("__k"), col("__ct"), col("__cid"))
      .agg(
        count(col("__tid")).as("n_touches"),
        min(when(col("__tid").isNotNull,
          struct(col("__tt"), col("__tid")))).as("__f"),
        max(when(col("__tid").isNotNull,
          struct(col("__tt"), col("__tid")))).as("__l"))
      .select(
        col("__k").as(keyCol),
        col("__cid").as("conversion_id"),
        col("n_touches"),
        col("__f.__tid").as("first_touch_id"),
        col("__l.__tid").as("last_touch_id"),
        when(col("n_touches") > 0L,
          round(lit(1.0) / col("n_touches").cast("double"), 6))
          .as("credit_per_touch"))
  }

  /** THEIL-SEN ROBUST SLOPE — per key, the median of all pairwise
    * slopes of (ts, value): the trend MAGNITUDE estimator next to
    * [[mannKendall]]'s trend TEST (same pairwise structure; Sen 1968
    * pairs them for a reason). Breakdown point ~29% — a handful of
    * outlier events can't move it, unlike OLS.
    *
    * Cross-engine exact because the median is a SELECTION, not a sum:
    * every pairwise slope is one IEEE divide of exact integers
    * (centi-quantized Δvalue × 36 000 000, an exact Long, over Δt in
    * integer µs — slope lands in value/hour), both engines sort the
    * identical doubles, and an even count averages two of them with
    * one add + one divide. Equal-timestamp pairs are excluded (no
    * slope exists); a key whose events all share one timestamp
    * reports a null slope. The value median rides the same recipe on
    * the raw centi values.
    *
    * Shape: ONE key shuffle; the O(n²) pair scan is in-array per key
    * (the qe31/qe36 bounded-series contract — per-key event counts,
    * not corpus size, bound the quadratic term). Unlike its siblings
    * the pair scan here MATERIALIZES all C(n,2) slopes for the median
    * sort, so the bounded-series contract is ENFORCED, not just
    * documented: a key with more than `maxEvents` events (default
    * 4096 → ≤ ~8.4M doubles ≈ 67 MB, fine; 10⁵ events would be
    * ~5·10⁹ doubles — an executor OOM) is emitted with its n_events
    * and NULL statistics instead of attempting the quadratic
    * materialization. The drop is visible in the output, not silent;
    * the oracle-replay contract assumes every key is under the cap.
    */
  def theilSen(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, maxEvents: Int = 4096): DataFrame = {
    require(maxEvents >= 2, s"maxEvents must be >= 2, got $maxEvents")
    series(df, keyCol, tsCol, tieCol, fixed(col(valCol), 100.0), dropNulls = true)
      .filter(size(col("__s")) >= 2)
      .select(
        col(keyCol),
        size(col("__s")).cast("long").as("__ne"),
        when(size(col("__s")) <= maxEvents, let(col("__s")) { s =>
          val n = size(s).cast("long")
          val us = (e: Column) => unix_micros(e("__t"))
          // pairwise slopes, earlier-element × current, equal-t skipped
          val slopes = sort_array(flatten(transform(s, (x, i) =>
            transform(
              filter(slice(s, lit(1), i), y => y("__t") =!= x("__t")),
              y => ((x("__v") - y("__v")) * lit(36000000L)).cast("double")
                / (us(x) - us(y)).cast("double")))))
          val m = size(slopes).cast("long")
          val slope = when(m > 0L,
            when(m % 2L === 1L,
              element_at(slopes, ((m + 1L) / 2L).cast("int")))
              .otherwise(
                (element_at(slopes, (m / 2L).cast("int"))
                  + element_at(slopes, (m / 2L + 1L).cast("int")))
                  / lit(2.0)))
          val qs = sort_array(transform(s, x => x("__v")))
          val vmed = when(n % 2L === 1L,
            element_at(qs, ((n + 1L) / 2L).cast("int")).cast("double"))
            .otherwise(
              (element_at(qs, (n / 2L).cast("int"))
                + element_at(qs, (n / 2L + 1L).cast("int"))).cast("double")
                / lit(2.0))
          struct(n.as("n"), m.as("m"), slope.as("slope"), vmed.as("vmed"))
        }).as("__ts2"))
      .select(
        col(keyCol),
        col("__ne").as("n_events"),
        col("__ts2.m").as("n_pairs"),
        round(col("__ts2.slope"), 6).as("slope_per_hour"),
        round(col("__ts2.vmed") / lit(100.0), 6).as("value_median"))
  }

  /** ROBUST OUTLIER SCREEN (Hampel identifier) — per key, the median /
    * MAD location-and-spread readout plus the count of observations
    * with `|x − median| > 3·MAD`: the outlier detector that survives
    * the outliers it hunts (mean/stddev z-scores get dragged by the
    * very points they should flag; median and MAD have 50% breakdown).
    *
    * ALL-INTEGER: values centi-quantize; both medians are SELECTIONS
    * over Longs carried at 2× scale (an even-count median is the sum
    * of the two middle elements — still a Long), the deviations
    * `|2q − m2|` are Longs, and the Hampel test `|x−med| > 3·MAD`
    * becomes `2·dev > 3·dm2` — no float appears before the final
    * display rounding, so the oracle replay is exact by construction.
    *
    * Shape: ONE key exchange; the per-key sort is in-array under the
    * bounded-series contract (qe31/qe36/qe38 family).
    */
  def robustOutliers(
      df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    df
      .filter(col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(fixed(col(valCol), 100.0))).as("__q"))
      .select(
        col(keyCol),
        size(col("__q")).cast("long").as("n_events"),
        let(col("__q")) { q =>
          val n = size(q).cast("long")
          def med2(a: Column, m: Column) = when(m % 2L === 1L,
            element_at(a, ((m + 1L) / 2L).cast("int")) * 2L)
            .otherwise(element_at(a, (m / 2L).cast("int"))
              + element_at(a, (m / 2L + 1L).cast("int")))
          val m2 = med2(q, n)
          val devs = sort_array(transform(q, x => abs(x * 2L - m2)))
          val dm2 = med2(devs, n)
          val outs = size(filter(devs, d => d * 2L > dm2 * 3L)).cast("long")
          struct(m2.as("m2"), dm2.as("dm2"), outs.as("outs"))
        }.as("__s"))
      .select(
        col(keyCol), col("n_events"),
        round(col("__s.m2").cast("double") / lit(200.0), 6).as("value_median"),
        round(col("__s.dm2").cast("double") / lit(400.0), 6).as("mad"),
        col("__s.outs").as("n_outliers"))
  }

  /** PER-KEY OLS TREND — slope, intercept and R² of value against
    * event time, the parametric companion to [[theilSen]]'s robust
    * slope (same readout, opposite breakdown/efficiency trade) and the
    * MAGNITUDE estimator next to [[mannKendall]]'s test.
    *
    * Cross-engine exact by the power-sum recipe: t = whole hours since
    * 2020-01-01 (integer floor-division of epoch-micros — hour
    * granularity is the series' native resolution and keeps Σt² far
    * from 2⁶³), q = centi-quantized value; the six power sums
    * (n, Σt, Σq, Σtq, Σt², Σq²) are exact Longs from one hash
    * aggregate, and slope/intercept/R² are a FIXED IEEE tree on their
    * exact-cast doubles: slope = (nΣtq − ΣtΣq)/(nΣt² − Σt²),
    * R² = slopeNum² / (denT · denQ). Degenerate keys report null
    * (one timestamp → no slope; zero value variance → no R²).
    *
    * Shape: one key-bounded hash aggregate with map-side partials —
    * never event-sized after the first combine, no window, no sort.
    */
  def olsTrend(
      df: DataFrame, keyCol: String, tsCol: String, valCol: String): DataFrame = {
    // integer floor-division (Column./ is DOUBLE division in Spark)
    val t = expr(s"unix_micros($tsCol) div 3600000000L") - lit(438288L) // hours since 2020-01-01T00Z
    val agg = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), t.as("__t"), fixed(col(valCol), 100.0).as("__q"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__t")).as("__st"),
        sum(col("__q")).as("__sq"),
        sum(col("__t") * col("__q")).as("__stq"),
        sum(col("__t") * col("__t")).as("__stt"),
        sum(col("__q") * col("__q")).as("__sqq"))
      .filter(col("__n") >= 2L)
    val num = col("__n") * col("__stq") - col("__st") * col("__sq")
    val denT = col("__n") * col("__stt") - col("__st") * col("__st")
    val denQ = col("__n") * col("__sqq") - col("__sq") * col("__sq")
    val slope = num.cast("double") / denT.cast("double")
    agg.select(
      col(keyCol),
      col("__n").as("n_events"),
      when(denT > 0L,
        round(slope / lit(100.0), 6)).as("slope_per_hour"),
      when(denT > 0L,
        round((col("__sq").cast("double") - slope * col("__st").cast("double"))
          / col("__n").cast("double") / lit(100.0), 6)).as("intercept"),
      when(denT > 0L && denQ > 0L,
        round(num.cast("double") * num.cast("double")
          / (denT.cast("double") * denQ.cast("double")), 6)).as("r_squared"))
  }

  /** BOLLINGER BANDS — per key, the rolling mean ± k·σ envelope over
    * the trailing `window` observations, plus the breakout flag: the
    * volatility-normalized band monitor ([[rollingZScore]]'s windowed
    * sibling that reports the ENVELOPE, not just the score). Only full
    * windows emit — a 3-row warm-up band is noise, not a signal.
    *
    * Exactness: centi-quantized Longs; the window sums (Σq, Σq²) are
    * exact, variance numerator `n·Σq² − (Σq)²` is an exact Long, and
    * mean/σ/bands are a fixed IEEE tree (σ = √varNum / n / 100). The
    * breakout compares the QUANTIZED value against the band — both
    * engines compare identical doubles.
    *
    * Shape: ONE key exchange (a single rows-frame window).
    */
  def bollinger(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, window: Int = 5, k: Double = 2.0): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val q = fixed(col(valCol), 100.0)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__tie"))
      .rowsBetween(-(window - 1), Window.currentRow)
    val base = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol).as("__tie"), q.as("__q"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sq", sum(col("__q")).over(w))
      .withColumn("__sqq", sum(col("__q") * col("__q")).over(w))
      .filter(col("__n") === window.toLong)
    val nD = col("__n").cast("double")
    val mean = col("__sq").cast("double") / nD / lit(100.0)
    val varNum = col("__n") * col("__sqq") - col("__sq") * col("__sq")
    val sd = sqrt(varNum.cast("double")) / nD / lit(100.0)
    base.select(
      col(keyCol),
      col("__tie").as(tieCol),
      round(mean, 6).as("band_mean"),
      round(sd, 6).as("band_sd"),
      round(mean + lit(k) * sd, 6).as("band_upper"),
      round(mean - lit(k) * sd, 6).as("band_lower"),
      when(col("__q").cast("double") / lit(100.0) > mean + lit(k) * sd, 1L)
        .when(col("__q").cast("double") / lit(100.0) < mean - lit(k) * sd, -1L)
        .otherwise(0L).as("breakout"))
  }

  /** RFM SEGMENTATION — per user, Recency (days since last event,
    * against the corpus max), Frequency (event count) and Monetary
    * (summed value), each scored into `buckets` quantile bands, plus
    * the combined segment code: the classical behavioral-cohort cut
    * ("511 = new big spender, 155 = churned whale").
    *
    * Scale-safe bucketing — NO global ntile window (a bare ntile sorts
    * every user in ONE task): the buckets−1 thresholds per metric come
    * from [[Relational.kthSmallest]]'s range-partitioned EXACT
    * selection at ranks ⌈i·N/buckets⌉, and a user's score is
    * `1 + #{thresholds strictly below the value}` — a codegen when-sum
    * against driver literals. Ties share a band by construction (equal
    * metric ⇒ equal score), which is what makes the scoring
    * deterministic AND SQL-replayable (ntile splits ties by arrival
    * order). Recency scores INVERT (`buckets+1 − band`) so higher is
    * better on all three axes, the textbook convention.
    *
    * All three metrics are exact integers (days via integer floor-div,
    * counts, centi-cents), so the threshold comparisons are exact on
    * both engines.
    */
  def rfmSegments(
      df: DataFrame, userCol: String, tsCol: String, valCol: String,
      buckets: Int = 5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // checkpointed once (read by 3·(buckets−1) threshold selections +
    // the scoring pass); the corpus max rides the checkpoint's own job
    val (perUser, obs) = Iterate.checkpointObserved(
      df.groupBy(col(userCol))
        .agg(
          max(unix_micros(col(tsCol))).as("__last"),
          count(lit(1)).as("n_events"),
          sum(fixed(coalesce(col(valCol), lit(0.0)), 100.0)).as("__cents")),
      max(col("__last")).as("__max_last"))
    val maxUs = obs("__max_last").asInstanceOf[Long]
    val metrics = perUser.select(
      col(userCol),
      // integer floor-division (Column./ is DOUBLE division in Spark)
      expr(s"(${maxUs}L - __last) div 86400000000L").as("recency_days"),
      col("n_events"),
      col("__cents"))
    // threshold i = the ⌈i·N/buckets⌉-th smallest (1-based), i.e. the
    // 0-based rank ⌈i·N/buckets⌉ − 1; all buckets−1 ranks resolve in
    // ONE ranged pass per metric (kthSmallestManyByRank)
    def thresholds(c: String): Seq[Double] =
      Relational.kthSmallestManyByRank(metrics, c,
        n => (1 until buckets).map(i => (i.toLong * n + buckets - 1) / buckets - 1))
    def score(c: Column, ts: Seq[Double], invert: Boolean): Column = {
      val asc = ts.foldLeft(lit(1)) { (acc, t) =>
        acc + when(c.cast("double") > lit(t), 1).otherwise(0)
      }
      (if (invert) lit(buckets + 1) - asc else asc).cast("long")
    }
    val tr = thresholds("recency_days")
    val tf = thresholds("n_events")
    val tm = thresholds("__cents")
    metrics.select(
      col(userCol),
      col("recency_days"),
      col("n_events"),
      round(col("__cents").cast("double") / lit(100.0), 2).as("monetary"),
      score(col("recency_days"), tr, invert = true).as("r_score"),
      score(col("n_events"), tf, invert = false).as("f_score"),
      score(col("__cents"), tm, invert = false).as("m_score"))
      .withColumn("segment",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
  }

  /** SPEARMAN RANK CORRELATION — per key, the rank correlation between
    * event ORDER and value: the monotone-trend strength measure that is
    * invariant to any monotone rescaling of the values (where
    * [[olsTrend]]'s R² measures LINEAR fit). Ties in value take
    * AVERAGE ranks (the textbook convention).
    *
    * ALL-INTEGER ranks: the time rank is `row_number` over (ts, tie)
    * and the value's doubled average rank is `2·rank() + count(peers)
    * − 1` (min-rank plus half the tie run, carried at 2× so it stays a
    * Long); Pearson over the two integer rank columns uses the exact
    * power-sum recipe with one final fixed IEEE tree. Scale factors
    * between the rank columns cancel in ρ.
    *
    * Shape: both windows and the aggregate partition by the bare key,
    * so the plan is ONE key exchange (the qe25 window-reuse shape) +
    * one value-partition window sharing the same hash partitioning.
    */
  def spearman(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String): DataFrame = {
    val q = fixed(col(valCol), 100.0)
    val base = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), unix_micros(col(tsCol)).as("__tus"),
        col(tieCol).as("__tie"), q.as("__q"))
    val wTime = Window.partitionBy(col(keyCol)).orderBy(col("__tus"), col("__tie"))
    val wVal = Window.partitionBy(col(keyCol)).orderBy(col("__q"))
    val wPeers = Window.partitionBy(col(keyCol), col("__q"))
    val ranked = base
      .withColumn("__x", row_number().over(wTime).cast("long"))
      .withColumn("__y",
        lit(2L) * rank().over(wVal).cast("long")
          + count(lit(1)).over(wPeers).cast("long") - 1L)
    val agg = ranked
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
      .filter(col("__n") >= 2L)
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val denX = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val denY = col("__n") * col("__syy") - col("__sy") * col("__sy")
    agg.select(
      col(keyCol),
      col("__n").as("n_events"),
      when(denX > 0L && denY > 0L,
        round(num.cast("double")
          / (sqrt(denX.cast("double")) * sqrt(denY.cast("double"))), 6))
        .as("rho"))
  }

  /** INTER-ARRIVAL BURSTINESS — per key, the gap-distribution summary
    * behind traffic-shape triage: mean gap, coefficient of variation,
    * and the Goh–Barabási burstiness B = (σ−μ)/(σ+μ) ∈ (−1, 1)
    * (−1 = periodic, 0 = Poisson, → 1 = bursty). The event-stream
    * twin of [[rfmSegments]]' recency axis.
    *
    * Exactness: gaps floor to whole SECONDS (integer µs div 10⁶ —
    * second-scale gaps keep the power sums inside Long: Σg² overflows
    * at µs scale), the variance numerator n·Σg² − (Σg)² is an exact
    * Long, and mean/σ/CV/B are one fixed IEEE tree. Keys need ≥ 2
    * gaps (a single gap has no dispersion).
    *
    * Shape: ONE key exchange (lag window + the key aggregate reuse
    * the partitioning).
    */
  def burstiness(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col("__tie"))
    val gaps = df
      .select(col(keyCol), col(tsCol), col(tieCol).as("__tie"))
      .withColumn("__t", expr(s"unix_micros($tsCol)"))
      .withColumn("__pt", lag(col("__t"), 1).over(w))
      .filter(col("__pt").isNotNull)
      .select(col(keyCol), expr("(__t - __pt) div 1000000L").as("__g"))
    val agg = gaps
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__g")).as("__sg"),
        sum(col("__g") * col("__g")).as("__sgg"))
      .filter(col("__n") >= 2L)
    val nD = col("__n").cast("double")
    val mean = col("__sg").cast("double") / nD
    val varNum = col("__n") * col("__sgg") - col("__sg") * col("__sg")
    val sd = sqrt(varNum.cast("double")) / nD
    agg.select(
      col(keyCol),
      col("__n").as("n_gaps"),
      round(mean, 6).as("mean_gap_s"),
      when(mean > 0.0, round(sd / mean, 6)).as("cv"),
      when(sd + mean > 0.0, round((sd - mean) / (sd + mean), 6)).as("burstiness"))
  }

  /** LOCAL PEAK DETECTION — per key, rows STRICTLY greater than both
    * event-time neighbors, kept when the rise over the higher neighbor
    * reaches `minDelta` (in value units): the spike screen behind
    * alert/anomaly triage. Plateaus are not peaks (strict > both
    * sides), series boundaries are excluded (no one-sided peaks — a
    * first/last row has no evidence of a summit).
    *
    * Exactness: centi-quantized Longs; the neighbor comparison and the
    * delta are pure integer arithmetic — the only double is the
    * display rescale. ONE key exchange (lag and lead share the window
    * spec).
    *
    * Output: (key, tie, value, delta) — delta = value − max(neighbors).
    */
  def peakDetect(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, minDelta: Double = 0.0): DataFrame = {
    val q = fixed(col(valCol), 100.0)
    val minQ = math.round(minDelta * 100.0)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col("__tie"))
    df.filter(col(valCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol).as("__tie"), q.as("__q"))
      .withColumn("__prev", lag(col("__q"), 1).over(w))
      .withColumn("__next", lead(col("__q"), 1).over(w))
      .filter(col("__prev").isNotNull && col("__next").isNotNull)
      .filter(col("__q") > col("__prev") && col("__q") > col("__next"))
      .withColumn("__delta", col("__q") - greatest(col("__prev"), col("__next")))
      .filter(col("__delta") >= minQ)
      .select(
        col(keyCol),
        col("__tie").as(tieCol),
        round(col("__q").cast("double") / lit(100.0), 6).as("value"),
        round(col("__delta").cast("double") / lit(100.0), 6).as("delta"))
  }

  /** NAIVE FORECAST BACKTEST (sMAPE) — per key, split the event-time-
    * ordered series at `trainFrac`, forecast every test point with the
    * LAST TRAIN VALUE (the naive no-change forecast — the baseline
    * every real forecaster must beat; its backtest error is the
    * standard "is this series forecastable at all" readout), and score
    * with symmetric MAPE: mean over test rows of 2|f−a| / (|f|+|a|).
    *
    * Exactness: centi-quantized Longs; the split index is
    * floor(trainFrac·n) on the (ts, tie) order (keys with an empty
    * train side are dropped); each test term is exact-integer
    * 2|f−a| and |f|+|a| with ONE divide, and the term sum folds over
    * the rn-sorted array (deterministic order — the qp12 dictionary
    * trick applied per key under the bounded-series contract). A
    * zero-denominator term (both values 0) contributes 0 by the sMAPE
    * convention.
    *
    * Output: (key, n_train, n_test, smape) — smape ∈ [0, 2].
    */
  def naiveBacktest(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, trainFrac: Double = 0.8): DataFrame = {
    require(trainFrac > 0.0 && trainFrac < 1.0,
      s"trainFrac must be in (0, 1), got $trainFrac")
    val q = fixed(col(valCol), 100.0)
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col("__tie"))
    val wAll = Window.partitionBy(col(keyCol))
    val base = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol).as("__tie"), q.as("__q"))
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__cut", floor(lit(trainFrac) * col("__n")).cast("long"))
      .filter(col("__cut") >= 1L)
    val fRow = base.filter(col("__rn") === col("__cut"))
      .select(col(keyCol), col("__q").as("__f"))
    val m = abs(col("__f") - col("__q"))
    val d = abs(col("__f")) + abs(col("__q"))
    val term = when(d === 0L, lit(0.0))
      .otherwise((lit(2L) * m).cast("double") / d.cast("double"))
    base.filter(col("__rn") > col("__cut"))
      .join(fRow, Seq(keyCol))
      .select(col(keyCol), col("__rn"), col("__cut"), term.as("__t"))
      .groupBy(col(keyCol))
      .agg(
        max(col("__cut")).as("n_train"),
        count(lit(1)).as("n_test"),
        sort_array(collect_list(struct(col("__rn"), col("__t")))).as("__terms"))
      .select(
        col(keyCol),
        col("n_train"),
        col("n_test"),
        round(
          aggregate(col("__terms"), lit(0.0), (acc, x) => acc + x("__t"))
            / col("n_test").cast("double"), 6).as("smape"))
  }

  /** ROLLING LAG-1 AUTOCORRELATION — per key, the Pearson correlation
    * between consecutive observations (x = previous value, y = current)
    * over the trailing `window` lag-pairs: the regime detector behind
    * momentum/mean-reversion monitoring ("is this series trending or
    * whipsawing RIGHT NOW?"). Only full windows emit.
    *
    * Exactness: centi-quantized Longs; the lag pairs carry (qₜ₋₁, qₜ)
    * and the window's six power sums (n, Σx, Σy, Σxy, Σx², Σy²) are
    * exact Longs, so the correlation is a fixed IEEE tree — the two
    * variance terms multiply as DOUBLES (their Long product overflows
    * at centi scale). Constant windows (either variance 0) emit NULL.
    *
    * Shape: ONE key exchange — the lag window and the rolling-sum
    * window share (partition, order), so Catalyst plans a single
    * exchange + sort.
    */
  def rollingAutocorr(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      valCol: String, window: Int = 8): DataFrame = {
    require(window >= 3, s"window must be >= 3, got $window")
    val q = fixed(col(valCol), 100.0)
    val wLag = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col("__tie"))
    val wRoll = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__tie"))
      .rowsBetween(-(window - 1), Window.currentRow)
    val pairs = df
      .filter(col(valCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol).as("__tie"), q.as("__y"))
      .withColumn("__x", lag(col("__y"), 1).over(wLag))
      .filter(col("__x").isNotNull)
    val sums = pairs
      .withColumn("__n", count(lit(1)).over(wRoll))
      .withColumn("__sx", sum(col("__x")).over(wRoll))
      .withColumn("__sy", sum(col("__y")).over(wRoll))
      .withColumn("__sxy", sum(col("__x") * col("__y")).over(wRoll))
      .withColumn("__sxx", sum(col("__x") * col("__x")).over(wRoll))
      .withColumn("__syy", sum(col("__y") * col("__y")).over(wRoll))
      .filter(col("__n") === window.toLong)
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val denX = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val denY = col("__n") * col("__syy") - col("__sy") * col("__sy")
    sums.select(
      col(keyCol),
      col("__tie").as(tieCol),
      when(denX > 0L && denY > 0L,
        round(num.cast("double")
          / sqrt(denX.cast("double") * denY.cast("double")), 6))
        .as("autocorr_l1"))
  }

  /** Pairwise DYNAMIC TIME WARPING distance between per-key series
    * (Sakoe & Chiba 1978's DP, unbanded): the alignment-tolerant series
    * similarity that Euclidean/correlation measures get wrong when two
    * keys trace the same shape at different speeds — the time-series
    * analogue of qd19's edit-distance join. Per key the first `maxLen`
    * observations in strict (ts, tie) order form the series; every
    * unordered key pair (a < b) gets
    * `dtw = min over monotone alignments of Σ |a_i − b_j|`.
    *
    * DETERMINISM: each DP cell is one fixed-order chain of IEEE adds
    * and exact mins, so the distance is bit-identical across engines
    * and partitionings given identical inputs — the oracle replays the
    * identical recurrence as an anti-diagonal recursive CTE and the
    * 6-dp round is belt-and-braces only.
    *
    * Scale shape: series build is one windowed rank + one grouped
    * collect (arrays bounded by `maxLen` — bounded row width, no 2 GB
    * hazard); the pair join is Θ(P) rows each carrying two bounded
    * arrays; each pair's O(maxLen²) DP runs INSIDE one task (local
    * arrays, no shuffle) — embarrassingly parallel over pairs. All-pairs
    * P = Θ(K²) is by construction: at corpus scale feed a CANDIDATE
    * subset (an LSH/feature blocking stage, the qd2 discipline), not
    * every key — the operator is the verify kernel, not the blocker.
    */
  def dtwDistances(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valCol: String,
      maxLen: Int = 40): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val ser = df
      .filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxLen)
      .groupBy(col(keyCol).as("__k"))
      .agg(collect_list(struct(col("__rn"), col(valCol).cast("double").as("__v")))
        .as("__rows"))
      .select(col("__k"),
        transform(array_sort(col("__rows")), r => r.getField("__v")).as("__vs"))
    val dtw = udf { (a: Seq[Double], b: Seq[Double]) =>
      val la = a.length
      val lb = b.length
      // two-row DP; borders +inf, dp(0,0) = 0 — cell (1,1) = |a1 − b1|
      var prev = Array.fill(lb + 1)(Double.PositiveInfinity)
      prev(0) = 0.0
      var cur = new Array[Double](lb + 1)
      var i = 1
      while (i <= la) {
        cur(0) = Double.PositiveInfinity
        var j = 1
        while (j <= lb) {
          val c = math.abs(a(i - 1) - b(j - 1))
          cur(j) = c + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(lb)
    }
    ser.as("l")
      .join(ser.as("r"), col("l.__k") < col("r.__k"))
      .select(
        col("l.__k").as("key_a"),
        col("r.__k").as("key_b"),
        size(col("l.__vs")).cast("long").as("len_a"),
        size(col("r.__vs")).cast("long").as("len_b"),
        round(dtw(col("l.__vs"), col("r.__vs")), 6).as("dtw"))
  }

  /** Cap on the zero-filled grid's bucket span per key: the grid
    * explodes keys × span rows, so a fine bucket over a multi-year span
    * (1-second buckets over a month is 2.6M per key) would blow up the
    * grid and every lag join after it instead of failing. A million
    * buckets is over a century of hourly buckets.
    */
  private val MaxGridBuckets = 1000000L

  /** LAGGED CROSS-CORRELATION between per-key activity series — the
    * lead/lag detector ("clicks follow views by an hour") beside qe44's
    * within-key autocorrelation: bucket counts per (key, bucket) on a
    * fixed grid, zero-fill the GLOBAL bucket span (absence is a real
    * observation of 0 — an inner join on present buckets would
    * correlate only the busy hours), then for every unordered key pair
    * and lag ∈ [0, maxLag] the Pearson r between x(t) = count_a(t) and
    * y(t) = count_b(t + lag), over the t where both (zero-filled)
    * series are defined.
    *
    * EXACTNESS: counts are integers, so all five moments accumulate
    * exactly (Σxy ≤ n·max², DECIMAL(38,0) against ANSI overflow at
    * hub-scale counts); r is one fixed tree of IEEE ops over exact
    * moments — bit-identical across engines, 6-dp round as
    * belt-and-braces. Constant series (zero variance) → null r.
    *
    * Plan shape: one count aggregate, a 1-row global span broadcast, a
    * per-key sequence explode (rows = keys × span — the grid, bounded
    * by the bucket span, not the event count, and the span by
    * [[MaxGridBuckets]]), one equi-join on the shifted bucket, one
    * aggregate per (pair, lag). Lags ride a
    * broadcast explode so the whole family shares one shuffle. Pair
    * volume is Θ(K²·span·lags) BY CONTRACT — K is a CATEGORY count
    * (event types, channels, experiment arms: dozens), never an
    * entity id; correlate entities through a feature/blocking stage
    * first, the [[dtwDistances]] discipline.
    */
  def laggedCrossCorrelation(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      bucketSeconds: Long,
      maxLag: Int = 3): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    // floor division on integer epoch seconds, never a double cast:
    // engines disagree on double->int rounding
    val cnt = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"),
        floor(unix_timestamp(col(tsCol)).cast("long")
          / lit(bucketSeconds)).cast("long").as("__b"))
      .groupBy(col("__k"), col("__b"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
    val span = cnt.agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
    // the span check is the sequence bound itself: it fails inside the
    // grid's own job, so it adds none
    val hi = when(col("__hi") - col("__lo") < lit(MaxGridBuckets), col("__hi"))
      .otherwise(raise_error(concat(
        lit("laggedCrossCorrelation: a span of "),
        (col("__hi") - col("__lo") + 1L).cast("string"),
        lit(s" buckets exceeds the grid cap of $MaxGridBuckets buckets " +
          s"(bucketSeconds = $bucketSeconds)"))))
    val grid = cnt.select(col("__k")).distinct()
      .crossJoin(broadcast(span))
      .select(col("__k"), explode(sequence(col("__lo"), hi)).as("__b"))
      .join(cnt, Seq("__k", "__b"), "left")
      .select(col("__k"), col("__b"),
        coalesce(col("__n"), lit(0L)).as("__n"))
      // EAGER: both sides of the lag self-join below scan the grid
      // inside one action — a lazy persist races the cache fill (the
      // Structure.neighborhoodJaccard event-log finding)
      .localCheckpoint(true)
    val lags = grid.sparkSession.range(maxLag + 1L)
      .select(col("id").as("lag"))
    val pairs = grid.select(col("__k").as("__ka"), col("__b"),
        col("__n").as("__x"))
      .crossJoin(broadcast(lags))
      .join(
        grid.select(col("__k").as("__kb"), col("__b").as("__bb"),
          col("__n").as("__y")),
        col("__bb") === col("__b") + col("lag") && col("__ka") < col("__kb"))
      .select(col("__ka"), col("__kb"), col("lag"),
        col("__x").cast("decimal(38,0)").as("__x"),
        col("__y").cast("decimal(38,0)").as("__y"))
    val out = pairs
      .groupBy(col("__ka").as("key_a"), col("__kb").as("key_b"), col("lag"))
      .agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n_buckets"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .select(col("key_a"), col("key_b"), col("lag"), col("n_buckets"),
        {
          val n = col("n_buckets").cast("double")
          // parens around each difference: an un-parenthesized trailing
          // "- b" line is its own statement under semicolon inference
          val num = (col("__sxy").cast("double") * n
            - col("__sx").cast("double") * col("__sy").cast("double"))
          val dx = (col("__sxx").cast("double") * n
            - col("__sx").cast("double") * col("__sx").cast("double"))
          val dy = (col("__syy").cast("double") * n
            - col("__sy").cast("double") * col("__sy").cast("double"))
          when(dx > 0.0 && dy > 0.0, round(num / sqrt(dx * dy), 6)).as("r")
        })
      .localCheckpoint(true)
    out
  }

}
