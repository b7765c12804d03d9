package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DETERMINISTIC SKETCHES — bounded-state approximate aggregates (KMV
  * distinct counting, count-min frequency) built on REPLAYABLE hashes:
  * every hash is the first 8 hex digits of an md5 (the qt29 split
  * trick), so an independent engine reproduces the sketch bit-for-bit
  * and the approximation error comes from the SKETCH, never from
  * engine-private RNG. That is what makes an approximate operator
  * ORACLE-ABLE: the gate hash-compares estimates, not tolerances.
  *
  * Why sketches at all: `COUNT(DISTINCT x)` at 100 TB shuffles every
  * distinct value; a KMV sketch (Bar-Yossef et al. 2002's k-minimum
  * values / the theta-sketch family) keeps the k SMALLEST distinct hash
  * values per group — state is k longs no matter how many distinct
  * values exist, partial-aggregates map-side like any Aggregator, and
  * the k-th smallest hash estimates the distinct count as
  * (k−1)/h_(k) with relative error ~1/√k. Count-min (Cormode &
  * Muthukrishnan 2005) bounds per-key frequency state to d·w counters
  * with one-sided (over-)estimates. Spark's own approx_count_distinct
  * is the same idea (HLL++) but its sketch is engine-private — these
  * are the cross-engine-replayable counterparts.
  *
  * Reference: no analog (the reference pipelines count exactly at
  * single-country scale); beyond-reference scale mandate.
  */
object Sketches {

  /** 32-bit replayable hash: first 8 md5 hex digits as a long in
    * [0, 2³²). Codegen-friendly builtins only (md5 → substring → conv);
    * the DuckDB replay is `CAST('0x' || substring(md5(x), 1, 8) AS
    * BIGINT)`.
    */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Normalized hash in (0, 1]: (h+1)/2³² — the +1 dodges the
    * 2⁻³²-probability zero divisor in the KMV estimate (both engines
    * apply it, so replay is unaffected).
    */
  private def frac(h: Column): Column =
    (h + lit(1L)).cast("double") / lit(4294967296.0)

  /** KMV DISTINCT-COUNT sketch per group: `(key, n_sketch, est_distinct)`
    * where n_sketch = min(k, true distinct) and est_distinct is EXACT
    * when the group holds fewer than k distinct values (the sketch
    * degrades gracefully to a distinct set) and (k−1)/h_(k) otherwise.
    * State is ≤ k longs per group at every stage — the Aggregator
    * partial-aggregates map-side, so the group shuffle carries k values
    * per (partition, key), never the distinct set.
    */
  def kmvDistinct(
      df: DataFrame, keyCol: String, valueCol: String, k: Int = 32): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val kmv = udaf(new KMinDistinct(k))
    df.select(col(keyCol), md5Hash32(col(valueCol)).as("__h"))
      .groupBy(col(keyCol))
      .agg(kmv(col("__h")).as("__kmv"))
      .select(
        col(keyCol),
        size(col("__kmv")).cast("long").as("n_sketch"),
        round(
          when(size(col("__kmv")) < k, size(col("__kmv")).cast("double"))
            .otherwise(lit((k - 1).toDouble) / frac(element_at(col("__kmv"), k))),
          6).as("est_distinct"))
  }

  /** KMV SET OPERATIONS between every pair of groups: union and
    * intersection distinct-count estimates from the per-group sketches
    * ALONE (no second pass over the data — the point of sketches: set
    * algebra on k-long summaries). The union sketch is exact KMV
    * algebra: k-min(A ∪ B) = k-min(k-min(A) ∪ k-min(B)); intersection
    * is inclusion–exclusion est(A)+est(B)−est(A∪B) (can dip negative on
    * tiny overlaps — reported raw, a smoothing policy is the caller's).
    * Output: (key_a, key_b, est_union, est_intersect), key_a < key_b.
    */
  def kmvSetOps(
      df: DataFrame, keyCol: String, valueCol: String, k: Int = 32): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val kmv = udaf(new KMinDistinct(k))
    def est(sketch: Column): Column =
      when(size(sketch) < k, size(sketch).cast("double"))
        .otherwise(lit((k - 1).toDouble) / frac(element_at(sketch, k)))
    val sk = df.select(col(keyCol), md5Hash32(col(valueCol)).as("__h"))
      .groupBy(col(keyCol))
      .agg(kmv(col("__h")).as("__kmv"))
    val a = sk.select(col(keyCol).as("key_a"), col("__kmv").as("__ka"))
    val b = sk.select(col(keyCol).as("key_b"), col("__kmv").as("__kb"))
    a.join(b, col("key_a") < col("key_b"))
      .withColumn("__ku",
        slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k))
      .select(
        col("key_a"), col("key_b"),
        round(est(col("__ku")), 6).as("est_union"),
        round((est(col("__ka")) + est(col("__kb"))) - est(col("__ku")), 6)
          .as("est_intersect"))
  }

  /** HYPERLOGLOG register rows per group: `(key, __b, __m)` — bucket
    * j ∈ [0, 2^p) from the hash's TOP p bits, register value
    * M[j] = max over the bucket's values of (leading zeros of the
    * remaining 32−p bits + 1). Registers are rows, not an array: the
    * whole sketch is two hash aggregates of builtins (groupBy max),
    * partial-aggregating map-side, with ≤ 2^p rows per (partition, key)
    * crossing the shuffle — no UDAF needed, and the rows replay in SQL
    * verbatim. The rank ρ uses `length(bin(rem))` (= ⌊log₂ rem⌋ + 1 for
    * rem > 0) — identical unpadded-binary semantics in Spark and DuckDB,
    * dodging the float-log₂-at-power-of-two hazard entirely.
    */
  private[graft] def hllRegisters(
      df: DataFrame, keyCol: String, valueCol: String, p: Int): DataFrame = {
    val sub = 1L << (32 - p)
    val h = md5Hash32(col(valueCol).cast("string"))
    df.filter(col(valueCol).isNotNull)
      .select(
        col(keyCol),
        floor(h / lit(sub.toDouble)).cast("long").as("__b"),
        pmod(h, lit(sub)).as("__rem"))
      .select(
        col(keyCol), col("__b"),
        when(col("__rem") === 0L, lit(32 - p + 1))
          .otherwise(lit(32 - p + 1) - length(bin(col("__rem")))).as("__r"))
      .groupBy(col(keyCol), col("__b"))
      .agg(max(col("__r")).as("__m"))
  }

  /** Flajolet's α_m bias constant. */
  private def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** The HLL estimate from grouped register rows: raw harmonic-mean
    * estimate α·m²/Σ2^(−M[j]) (empty registers contribute 2⁰ = 1), with
    * the standard small-range correction (linear counting m·ln(m/V)
    * when raw ≤ 2.5m and some register is empty). The harmonic sum is
    * FP-EXACT in any order — every term is a power of two ≥ 2^(−33) and
    * the total < 2^p + 1, so all partial sums fit a double's mantissa —
    * which is what lets two engines with different aggregation orders
    * produce bit-identical estimates. 2^(−M[j]) is an integer shift,
    * not libm pow.
    */
  private[graft] def hllEstimate(regs: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val alpha = hllAlpha(m)
    regs
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_registers"),
        sum(lit(1.0) / expr("shiftleft(cast(1 as bigint), __m)").cast("double"))
          .as("__s"))
      .select(groupCols.map(col) ++ Seq(
        col("n_registers"),
        {
          val s = col("__s") + (lit(m.toDouble) - col("n_registers").cast("double"))
          val v = lit(m.toLong) - col("n_registers")
          val raw = lit(alpha * m * m) / s
          when(raw <= lit(2.5 * m) && v > 0L,
            lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
            .otherwise(raw).as("__est")
        }): _*)
  }

  /** HYPERLOGLOG DISTINCT-COUNT per group (Flajolet et al. 2007):
    * `(key, n_registers, est_distinct)`. The 100 TB story is the state
    * bound: 2^p registers per group — independent of cardinality, fixed
    * at plan time — against KMV's k values; HLL is what every engine's
    * `approx_count_distinct` runs (Spark's is HLL++), but THIS sketch
    * is md5-replayable, so the oracle rebuilds registers and estimate
    * bit-for-bit and the gate hash-compares an approximate answer
    * exactly (the [[kmvDistinct]] contract, applied to the harmonic
    * estimator).
    */
  def hllDistinct(
      df: DataFrame, keyCol: String, valueCol: String, p: Int = 4): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    hllEstimate(hllRegisters(df, keyCol, valueCol, p), Seq(keyCol), p)
      .select(col(keyCol), col("n_registers"),
        round(col("__est"), 6).as("est_distinct"))
  }

  /** HLL SET ALGEBRA across group pairs: union/intersection distinct
    * estimates from the register rows alone (union sketch = elementwise
    * register max — the merge HLL is famous for: lossless, associative,
    * commutative; intersection is inclusion–exclusion over estimates,
    * reported raw like [[kmvSetOps]]). Output:
    * `(key_a, key_b, est_union, est_intersect)`, key_a < key_b.
    */
  def hllSetOps(
      df: DataFrame, keyCol: String, valueCol: String, p: Int = 4): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val regs = hllRegisters(df, keyCol, valueCol, p)
    val single = hllEstimate(regs, Seq(keyCol), p)
      .select(col(keyCol), col("__est"))
    val keys = regs.select(col(keyCol)).distinct()
    val pairs = keys.select(col(keyCol).as("key_a"))
      .join(keys.select(col(keyCol).as("key_b")), col("key_a") < col("key_b"))
    // union registers: both sides' rows under the pair key, max per bucket
    val ur = pairs.join(regs, col(keyCol) === col("key_a"))
      .select(col("key_a"), col("key_b"), col("__b"), col("__m"))
      .unionAll(
        pairs.join(regs, col(keyCol) === col("key_b"))
          .select(col("key_a"), col("key_b"), col("__b"), col("__m")))
      .groupBy(col("key_a"), col("key_b"), col("__b"))
      .agg(max(col("__m")).as("__m"))
    hllEstimate(ur, Seq("key_a", "key_b"), p)
      .join(single.select(col(keyCol).as("key_a"), col("__est").as("__ea")), "key_a")
      .join(single.select(col(keyCol).as("key_b"), col("__est").as("__eb")), "key_b")
      .select(
        col("key_a"), col("key_b"),
        round(col("__est"), 6).as("est_union"),
        round((col("__ea") + col("__eb")) - col("__est"), 6).as("est_intersect"))
  }

  /** HISTOGRAM QUANTILE sketch — approximate per-group quantiles from a
    * fixed equi-width binning of [lo, hi): one data-sized pass builds
    * per-(group, bin) counts (bounded state: ≤ `bins` rows per group —
    * the scalable quantile path next to the EXACT rank machinery in
    * `Relational.percentileFilter`, which must shuffle value ranges),
    * then the quantile bin is the first whose cumulative count reaches
    * q·n and the estimate interpolates linearly inside it. Error is
    * bounded by the bin width — the caller picks the lo/hi/bins trade.
    * Out-of-range values clamp into the edge bins (they still count;
    * their positions saturate — the documented contract).
    *
    * Every post-binning number is an integer-valued double (counts,
    * cumulative counts, bin indices), so the interpolation arithmetic
    * `lo + (bin + (q·n − cum_prev)/cnt)·width` is a chain of single
    * IEEE ops with NO order-dependent summation anywhere — bit-exact
    * across engines, unlike a mean or variance.
    * Output: (key, q, est) for each requested quantile q ∈ (0, 1].
    */
  def histogramQuantile(
      df: DataFrame, keyCol: String, valCol: String,
      lo: Double, hi: Double, bins: Int, qs: Seq[Double]): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val width = (hi - lo) / bins
    val bin = least(
      greatest(floor((col(valCol).cast("double") - lit(lo)) / lit(width))
        .cast("long"), lit(0L)),
      lit((bins - 1).toLong))
    val counts = df.filter(col(valCol).isNotNull)
      .select(col(keyCol), bin.as("__bin"))
      .groupBy(col(keyCol), col("__bin"))
      .agg(count(lit(1)).as("__cnt"))
    val wRun = Window.partitionBy(col(keyCol)).orderBy(col("__bin"))
    val wAll = Window.partitionBy(col(keyCol))
    val cum = counts
      .withColumn("__cum", sum(col("__cnt")).over(wRun))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .withColumn("q", explode(array(qs.map(lit): _*)))
    val target = col("q") * col("__n").cast("double")
    val pick = Window.partitionBy(col(keyCol), col("q")).orderBy(col("__bin"))
    cum
      .filter(col("__cum").cast("double") >= target)
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(
        col(keyCol), col("q"),
        round(
          lit(lo) + (col("__bin").cast("double") +
            (target - (col("__cum") - col("__cnt")).cast("double")) /
              col("__cnt").cast("double")) * lit(width),
          6).as("est"))
  }

  /** LEVEL-SAMPLING QUANTILE SKETCH internals: the per-key retained
    * sample rows `(key, __v, __id, __tz, __n, __lvl)`. Each row's level
    * is the trailing-zero count of its md5 id-hash (geometric, p = ½ —
    * Wegman/Flajolet adaptive sampling applied to ranks); the sketch
    * keeps rows with tz ≥ L where L is the SMALLEST level at which the
    * retained count fits `k`. L is a pure function of the key's row
    * SET: per-(key, tz) counts (≤ 33 rows per key), one suffix-sum
    * window over those 33, L = (largest tz whose suffix count exceeds
    * k) + 1 — so the whole build is one hash aggregate + a 33-row
    * window + one semi-join-shaped filter, no per-row window, no global
    * sort. L = 0 (n ≤ k) means the sketch IS the group — answers
    * degrade to exact, the [[kmvDistinct]] contract.
    *
    * L is CLAMPED to the key's maximum tz present: when more than `k`
    * rows tie at the maximum level (reachable at tiny `k` over enough
    * keys — P ≈ 2^−tz per row, billions of keys roll that dice), the
    * unclamped formula would select L = maxTz + 1 and retain NOTHING,
    * making downstream answers throw (element_at index 0). Clamped,
    * the sketch keeps the tied max-level rows (briefly > k — the same
    * "conservative, never empty" degradation KMV accepts at ties).
    *
    * The level table is one row per key and is broadcast, so the
    * corpus-sized `base` side never key-shuffles for this join.
    */
  private[operators] def levelSample(
      df: DataFrame, keyCol: String, valueCol: String, idCol: String,
      k: Int): DataFrame = {
    // tz-ONCE (r14-adjudicated): persist the projection so the level
    // aggregate and the sample join share ONE md5 pass — sketch scale
    // probe (git 3e96ab2): 3.15 s vs 4.21 s at 10⁷ rows, 23.3 s vs
    // 29.3 s at 10⁸ (single group, k = 4096), and that probe
    // REGENERATED its source in codegen, the cheapest possible rescan,
    // so a real scan tilts further toward reuse. The persisted
    // projection is freed by the ContextCleaner once the query's RDDs
    // drop out of scope.
    val base = tzBase(df, keyCol, valueCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    levelSampleFrom(base, k)
  }

  /** The (key, v, id, tz) projection both level-sample stages consume. */
  private def tzBase(
      df: DataFrame, keyCol: String, valueCol: String, idCol: String): DataFrame = {
    val h = md5Hash32(col(idCol).cast("string"))
    df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(keyCol).as("__key"), col(valueCol).as("__v"),
        col(idCol).cast("string").as("__id"),
        when(h === 0L, lit(32))
          .otherwise(length(bin(h.bitwiseAND(-h))) - lit(1)).as("__tz"))
  }

  private def levelSampleFrom(base: DataFrame, k: Int): DataFrame = {
    val lvl = base.groupBy(col("__key"), col("__tz"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__suf", sum(col("__c")).over(
        Window.partitionBy(col("__key")).orderBy(col("__tz").desc)))
      .groupBy(col("__key"))
      .agg(
        sum(col("__c")).as("__n"),
        least(
          coalesce(max(when(col("__suf") > k, col("__tz"))) + lit(1), lit(0)),
          max(col("__tz")))
          .cast("long").as("__lvl"))
    // lvl is ONE row per key — broadcast it so the corpus-sized base is
    // never shuffled for this join (the map-side filter then discards
    // all but ~k rows per key before anything wide happens)
    base.join(broadcast(lvl), Seq("__key"))
      .filter(col("__tz") >= col("__lvl"))
  }

  /** MERGEABLE QUANTILE SKETCH + nearest-rank answers:
    * `(key, q, n, level, n_sample, est)` per requested quantile — the
    * fixed-size quantile member of the HLL/KMV/CMS family. Retained
    * rows are a Bernoulli(2⁻ᴸ) sample of the key's rows (inclusion is
    * decided by each row's OWN hash), so the estimated rank of the i-th
    * smallest sample value is i·2ᴸ and the nearest-rank answer for q is
    * sample value #⌈target/2ᴸ⌉ (target = max(1, ⌈q·n⌉), clamped to the
    * sample; n is carried EXACTLY) — closed form, no scan. Rank error
    * is the sampling bound O(n/√k) — worse than KLL's O(n·log/k) but
    * ORDER-INDEPENDENT: KLL/t-digest compactions depend on merge order,
    * so two engines (or two partition schedules) can produce different
    * sketches from the same set; this sketch is a pure function of the
    * row set, which is what lets the qk7 oracle hash-compare an
    * approximate answer exactly ([[hllDistinct]]'s contract) and what
    * makes merge results schedule-independent at 1000 executors.
    * Answers are exact input values (no interpolation), so the gate
    * compare is FP-trivial; `est` is exact whenever level = 0.
    */
  def quantileSketch(
      df: DataFrame, keyCol: String, valueCol: String, idCol: String,
      k: Int = 256, qs: Seq[Double] = Seq(0.5)): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    quantileAnswers(levelSample(df, keyCol, valueCol, idCol, k), keyCol, qs)
  }

  /** Nearest-rank answers from level-sample rows — [[quantileSketch]]'s
    * tail. */
  private def quantileAnswers(
      sample: DataFrame, keyCol: String, qs: Seq[Double]): DataFrame = {
    val ranked = sample
      .withColumn("__i", row_number().over(
        Window.partitionBy(col("__key")).orderBy(col("__v"), col("__id"))))
      .withColumn("__ns", count(lit(1)).over(
        Window.partitionBy(col("__key"))))
    ranked
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("__target",
        greatest(lit(1L),
          ceil(col("__n").cast("double") * col("q")).cast("long")))
      // i* = ceil(target / 2^L) = ((target - 1) >> L) + 1, exact in
      // integers (target >= 1); clamped to the sample
      .withColumn("__istar",
        least(
          expr("shiftright(__target - 1L, CAST(__lvl AS INT)) + 1L"),
          col("__ns").cast("long")))
      .groupBy(col("__key"), col("q"))
      .agg(
        max(col("__n")).as("n"),
        max(col("__lvl")).as("level"),
        max(col("__ns")).cast("long").as("n_sample"),
        min(when(col("__i").cast("long") === col("__istar"), col("__v")))
          .as("est"))
      .select(col("__key").as(keyCol), col("q"), col("n"), col("level"),
        col("n_sample"), col("est"))
  }

  /** COUNT-MIN frequency estimates for `probes` over the corpus's
    * whitespace tokens: `(term, est)` with est ≥ true count always
    * (collisions only ADD) and est = min over `depth` hash rows of the
    * probed bucket. The sketch itself is the depth×width count table —
    * ONE aggregate of d·w cells regardless of corpus size; probing is a
    * broadcast-sized join. An absent bucket estimates 0 (left join, not
    * inner — a probe missing from every row must not vanish).
    */
  /** The count-min cell hash, shared verbatim by the batch estimate and
    * the streaming sketch so their cells are interchangeable:
    * row-salted md5 mod width.
    */
  private[graft] def cmsBucket(term: Column, r: Column, width: Int): Column =
    pmod(md5Hash32(concat(r.cast("string"), lit("|"), term)), lit(width.toLong))

  def countMinEstimate(
      df: DataFrame, textCol: String, probes: Seq[String],
      depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims d=$depth w=$width")
    require(probes.nonEmpty, "probes must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    def bucket(term: Column, r: Column): Column = cmsBucket(term, r, width)
    val cells = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .select(
        col("__tok"),
        explode(sequence(lit(0), lit(depth - 1))).as("__r"))
      .groupBy(col("__r"), bucket(col("__tok"), col("__r")).as("__bucket"))
      .agg(count(lit(1)).as("__cnt"))
    val probe = probes.toDF("term")
      .select(col("term"), explode(sequence(lit(0), lit(depth - 1))).as("__r"))
      .select(col("term"), col("__r"), bucket(col("term"), col("__r")).as("__bucket"))
    probe
      .join(cells, Seq("__r", "__bucket"), "left_outer")
      .groupBy(col("term"))
      .agg(min(coalesce(col("__cnt"), lit(0L))).as("est"))
  }

  /** AMS "tug-of-war" SECOND-MOMENT sketch (Alon, Matias & Szegedy
    * 1996): F₂ = Σ_t f_t² — the SELF-JOIN SIZE of the token column,
    * the cardinality primitive behind join-size planning and skew
    * screens — estimated WITHOUT the per-token group-by: k counters
    * Z_j = Σ occurrences f_t·s_j(t) with md5-salted ±1 signs; each
    * Z_j² is unbiased for F₂, the mean over k divides the variance.
    *
    * Everything is integer until one final divide: signs ±1, Z_j exact
    * sums, Z_j² exact DECIMAL(38,0) (Z can reach ±n — squaring in
    * BIGINT would ANSI-throw at ~10⁹⁺ occurrences), Σ Z² exact —
    * md5-replayable in SQL like qk2's count-min cells (DuckDB sums
    * into HUGEINT). Output one row: (k, f2_est, f2_exact, rel_err).
    *
    * Plan shape: one per-token count aggregate (map-side partial, the
    * shuffle carries Θ(distinct tokens per partition) count rows), then
    * the k-way sign explode over the VOCABULARY — k md5 calls per
    * distinct token, not per occurrence (Z_j = Σ_occ s_j(t) regroups
    * exactly as Σ_vocab f_t·s_j(t); measured 4.0 → 0.6 s at sf0.1
    * 5-run medians, confirmed 5.4 → 1.2 in an order-fair race).
    * At 100 TB the md5-per-occurrence form loses by the
    * occurrences/vocabulary ratio (~10⁴ on web text), which dwarfs the
    * count shuffle the old `includeExact = false` path avoided.
    * `includeExact = true` (the gate/report regime) adds the
    * ground-truth Σ f² fold over the same cached counts.
    */
  def amsF2(
      df: DataFrame, textCol: String,
      k: Int = 16, includeExact: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // AGGREGATE BEFORE THE SIGN EXPANSION (guide §2.3): the sketch's
    // counter Z_j = Σ_occurrences s(j, tok) regroups EXACTLY (all-integer
    // arithmetic) as Σ_distinct-tok c(tok)·s(j, tok), so the k-way
    // explode and the k md5 calls run once per VOCABULARY entry, not
    // once per token OCCURRENCE — on a natural corpus that is a
    // 50-100× cut in md5 work and in rows entering the __j exchange.
    // The exact-F₂ branch needs the same per-token counts anyway.
    // EAGER (localCheckpoint, not lazy persist): the sign-explode Z
    // branch and the exact-F₂ branch both read `counts` inside the ONE
    // final action — left lazy, the tokenize+count pass races the cache
    // fill and can execute twice (the PageRank/Hits lesson). The frame
    // is vocabulary-sized, so the checkpoint is small by contract.
    val counts = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col("__tok"))
      .agg(org.apache.spark.sql.functions.count(lit(1))
        .cast("decimal(38,0)").as("__c"))
      .localCheckpoint(true)
    val z = counts
      .select(col("__tok"), col("__c"), explode(sequence(lit(0), lit(k - 1))).as("__j"))
      .select(col("__j"),
        (col("__c") * (lit(1L) - lit(2L) * pmod(
          md5Hash32(concat(col("__j").cast("string"), lit("|"), col("__tok"))),
          lit(2L)))).as("__s"))
      .groupBy(col("__j"))
      .agg(sum(col("__s")).cast("decimal(38,0)").as("__z"))
    val est = z
      .agg(sum(col("__z") * col("__z")).as("__zz"))
      .select(
        lit(k.toLong).as("k"),
        (col("__zz").cast("double") / lit(k.toDouble)).as("f2_est"))
    val out =
      if (!includeExact)
        est.select(col("k"), col("f2_est"),
          lit(null).cast("long").as("f2_exact"),
          lit(null).cast("double").as("rel_err"))
      else {
        val exact = counts
          .agg(sum(col("__c") * col("__c")).as("__f2"))
        est.crossJoin(exact)
          .select(col("k"), col("f2_est"),
            col("__f2").cast("long").as("f2_exact"),
            when(col("__f2") > 0,
              round(abs(col("f2_est") - col("__f2").cast("double"))
                / col("__f2").cast("double"), 6)).as("rel_err"))
      }
    out.localCheckpoint(true)
  }
}

/** Bounded k-minimum-distinct-values buffer: an ascending ≤ k array of
  * distinct longs. Insert and merge stay O(k) per call (k is a sketch
  * parameter, 32–256); the buffer never exceeds k elements at ANY
  * stage, which is the whole scale contract.
  */
final class KMinDistinct(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Long, Seq[Long], Seq[Long]] {
  require(k >= 2, s"k must be >= 2, got $k")

  private def insert(buf: Seq[Long], h: Long): Seq[Long] = {
    if (buf.length >= k && h >= buf.last) buf // hot path: no alloc
    else {
      val i = buf.indexWhere(_ >= h)
      if (i >= 0 && buf(i) == h) buf // distinct: drop exact repeats
      else {
        val grown = if (i < 0) buf :+ h else (buf.take(i) :+ h) ++ buf.drop(i)
        if (grown.length > k) grown.take(k) else grown
      }
    }
  }

  override def zero: Seq[Long] = Vector.empty
  override def reduce(buf: Seq[Long], h: Long): Seq[Long] = insert(buf, h)
  override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = b.foldLeft(a)(insert)
  override def finish(r: Seq[Long]): Seq[Long] = r
  override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

/** COUNT-DRIVEN level sample as a typed Aggregator — the STREAMING
  * reformulation of [[Sketches.quantileSketch]]'s level sampling (the
  * batch form's level is a function of the per-(key, tz) histogram,
  * which a streaming aggregation cannot revisit): here the level is a
  * pure function of the EXACT running count, L(n) = the smallest L
  * with n ≤ k·2ᴸ, so the retained set after ANY reduce/merge schedule
  * is exactly {rows : tz ≥ L(N_total)} — L only rises with n, so a row
  * pruned (or never admitted) at a partial count stays outside at the
  * final count. That makes the state MERGEABLE across partitions and
  * micro-batches like the qe24 HLL registers: merge = add counts, pool
  * rows, refilter at L(n₁+n₂).
  *
  * State per group: the exact count + the retained rows — expected
  * n·2⁻ᴸ ∈ (k/2, k] rows, a Binomial tail above that (the price of the
  * count-driven level; the batch sketch's histogram-driven level is
  * ≤ k + max-tz ties, but is not a monotone per-row merge). A freak
  * all-rows-pruned sample (P ≈ e^(−k/2) per group) emits no answer
  * row — both engines agree, the batch replay prunes identically.
  * Counts are exact, so REDELIVERY IS NOT IDEMPOTENT (the CMS
  * sum-merge caveat, not the HLL max-merge guarantee) — the qe12
  * transaction-log sink is the dedup layer when sources can repeat.
  *
  * Input (tz, v, id); output (n, level, rows) for the nearest-rank
  * finalize: sample rank i estimates rank i·2ᴸ, answer index
  * ⌈target/2ᴸ⌉ — [[Sketches.quantileSketch]]'s closed form verbatim.
  */
final class LevelSampleAgg(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      (Int, Double, String),
      (Long, Seq[(Int, Double, String)]),
      (Long, Long, Seq[(Int, Double, String)])] {
  require(k >= 2, s"k must be >= 2, got $k")

  private def levelOf(n: Long): Int = {
    var l = 0
    while (n > (k.toLong << l)) l += 1
    l
  }

  override def zero: (Long, Seq[(Int, Double, String)]) = (0L, Vector.empty)

  override def reduce(
      b: (Long, Seq[(Int, Double, String)]),
      in: (Int, Double, String)): (Long, Seq[(Int, Double, String)]) = {
    val n2 = b._1 + 1
    val lvl = levelOf(n2)
    // prune only on a level step — the common case is a no-op append
    val kept = if (lvl != levelOf(b._1)) b._2.filter(_._1 >= lvl) else b._2
    (n2, if (in._1 >= lvl) kept :+ in else kept)
  }

  override def merge(
      a: (Long, Seq[(Int, Double, String)]),
      b: (Long, Seq[(Int, Double, String)])): (Long, Seq[(Int, Double, String)]) = {
    val n = a._1 + b._1
    val lvl = levelOf(n)
    (n, (a._2 ++ b._2).filter(_._1 >= lvl))
  }

  override def finish(
      r: (Long, Seq[(Int, Double, String)])): (Long, Long, Seq[(Int, Double, String)]) =
    (r._1, levelOf(r._1).toLong, r._2)

  override def bufferEncoder: org.apache.spark.sql.Encoder[(Long, Seq[(Int, Double, String)])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[(Long, Long, Seq[(Int, Double, String)])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

/** SPACE-SAVING heavy-hitter summary as a typed Aggregator (Metwally,
  * Agrawal & El Abbadi 2005; merge = the Misra–Gries counter merge of
  * Agarwal et al., "Mergeable Summaries", PODS 2012) — the bounded-state
  * streaming answer to per-window top-k, next to qe24's HLL (distinct),
  * qe27's count-min (point frequency) and qe51's level sample
  * (quantiles): state is ≤ m (token, count, err) entries however many
  * distinct tokens arrive.
  *
  * Invariants: `count` is an UPPER bound on the token's true arrivals,
  * `count − err` a LOWER bound, and any token with true frequency
  * > n/(m+1) is guaranteed present (the Misra–Gries pigeonhole). When m
  * is at least the true distinct count no eviction or merge-cut ever
  * fires, every err is 0 and counts are EXACT group-by counts under any
  * reduce/merge schedule — the regime the qe52 gate hash-compares;
  * under eviction the summary keeps its bounds but the exact entry SET
  * depends on arrival order (like any SpaceSaving), so approximate runs
  * are spec territory, not oracle territory.
  *
  * reduce: tracked token → count+1; room → admit (t, 1, 0); full →
  * evict the (count, token)-smallest entry, admit (t, minCount+1,
  * minCount). merge: sum counts and errs pointwise, then the proven
  * MG cut — sort by lower bound l = count − err, cut at the (m+1)-st
  * l, keep entries with l − cut > 0, folding the cut into err (upper
  * bounds are UNCHANGED by the cut: (l − cut) + (err + cut) = count).
  */
final class SpaceSavingAgg(m: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      String,
      Seq[(String, Long, Long)],
      Seq[(String, Long, Long)]] {
  require(m >= 1, s"m must be >= 1, got $m")

  override def zero: Seq[(String, Long, Long)] = Vector.empty

  override def reduce(
      buf: Seq[(String, Long, Long)], t: String): Seq[(String, Long, Long)] = {
    if (t == null) buf
    else {
      val i = buf.indexWhere(_._1 == t)
      if (i >= 0) buf.updated(i, (t, buf(i)._2 + 1, buf(i)._3))
      else if (buf.length < m) buf :+ ((t, 1L, 0L))
      else {
        // deterministic eviction: smallest count, tie -> smallest token
        val j = buf.indices.minBy(ix => (buf(ix)._2, buf(ix)._1))
        val minCount = buf(j)._2
        buf.updated(j, (t, minCount + 1, minCount))
      }
    }
  }

  override def merge(
      a: Seq[(String, Long, Long)],
      b: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] = {
    val sum = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    (a.iterator ++ b.iterator).foreach { case (t, c, e) =>
      val (c0, e0) = sum.getOrElse(t, (0L, 0L))
      sum(t) = (c0 + c, e0 + e)
    }
    if (sum.size <= m) sum.iterator.map { case (t, (c, e)) => (t, c, e) }.toVector
    else {
      val byLower = sum.iterator
        .map { case (t, (c, e)) => (t, c, e, c - e) }
        .toVector
        .sortBy { case (t, _, _, l) => (-l, t) }
      val cut = byLower(m)._4
      byLower.take(m).collect {
        case (t, c, e, l) if l - cut > 0 => (t, c, e + cut)
      }
    }
  }

  override def finish(r: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] =
    r.sortBy { case (t, c, e) => (-c, e, t) }

  override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
