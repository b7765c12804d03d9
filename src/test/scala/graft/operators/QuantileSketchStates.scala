package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Sketches.levelSample

/** The quantile sketch of [[Sketches.quantileSketch]] (the gated one-shot
  * path) as a portable per-key state that merges and answers: SketchesSpec
  * holds the one-shot answers equal to the state's, and pins the merge
  * laws. No gate or program runs it.
  */
object QuantileSketchStates {

  /** The sketch as ONE portable row per key — `(key, n, level, sample:
    * array<struct<tz, v, id>>)`, sample sorted by (v, id), ≤ k entries:
    * the merge/ship representation ([[mergeQuantileStates]] /
    * [[quantileFromState]]). Built from the same [[Sketches.levelSample]] rows
    * the one-shot [[Sketches.quantileSketch]] ranks, so both paths answer
    * identically.
    */
  def quantileSketchState(
      df: DataFrame, keyCol: String, valueCol: String, idCol: String,
      k: Int = 256): DataFrame =
    levelSample(df, keyCol, valueCol, idCol, k)
      .groupBy(col("__key"))
      .agg(
        max(col("__n")).as("n"),
        max(col("__lvl")).as("level"),
        sort_array(collect_list(struct(
          col("__v").as("v"), col("__id").as("id"), col("__tz").as("tz"))))
          .as("sample"))
      .select(col("__key").as("key"), col("n"), col("level"), col("sample"))

  /** Merge two sketch states built with the same `k`: n adds exactly,
    * the pooled sample refilters at L₀ = max(L₁, L₂), and if the pool
    * still exceeds k the level rises to (k+1-th largest tz) + 1 — the
    * closed form of "smallest L ≥ L₀ whose suffix count fits k" (the
    * suffix count at tz₍ₖ₊₁₎+1 is ≤ k, at tz₍ₖ₊₁₎ is ≥ k+1). Like KMV
    * min-k merging, the result is conservative only in that L below
    * max(L₁, L₂) is unreachable (those rows are gone); it is still a
    * deterministic function of the two states — merge order never
    * changes the result. Keys present on one side pass through.
    * The risen level carries [[Sketches.levelSample]]'s max-tz clamp: when more
    * than k pooled rows tie at the maximum tz the pool keeps those
    * tied rows (briefly > k) instead of going empty.
    */
  def mergeQuantileStates(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val pooled = a.unionByName(b)
      .groupBy(col("key"))
      .agg(
        sum(col("n")).as("n"),
        max(col("level")).as("__l0"),
        sort_array(flatten(collect_list(col("sample")))).as("__pool"))
      .withColumn("__p0",
        filter(col("__pool"), x => x("tz") >= col("__l0")))
    // tz of the (k+1)-th largest retained row, or -1 if the pool fits
    val tzk1 = {
      val tzsDesc = reverse(array_sort(transform(col("__p0"), x => x("tz"))))
      when(size(col("__p0")) <= k, lit(-1L))
        .otherwise(element_at(tzsDesc, k + 1).cast("long"))
    }
    pooled
      .withColumn("__lvl",
        greatest(
          col("__l0"),
          least(
            tzk1 + lit(1L),
            array_max(transform(col("__p0"), x => x("tz"))).cast("long"))))
      .select(col("key"), col("n"), col("__lvl").as("level"),
        filter(col("__p0"), x => x("tz") >= col("__lvl")).as("sample"))
  }

  /** Nearest-rank answers from a sketch state — same closed form as
    * [[Sketches.quantileSketch]]: sample index ⌈target/2ᴸ⌉ clamped to the
    * sample, target = max(1, ⌈q·n⌉). `element_at` over the (v, id)-
    * sorted sample array replaces the one-shot path's row_number.
    */
  def quantileFromState(state: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    state
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("__target",
        greatest(lit(1L), ceil(col("n").cast("double") * col("q")).cast("long")))
      .withColumn("__istar",
        least(
          expr("shiftright(__target - 1L, CAST(level AS INT)) + 1L"),
          size(col("sample")).cast("long")))
      .select(col("key"), col("q"), col("n"), col("level"),
        size(col("sample")).cast("long").as("n_sample"),
        element_at(col("sample"), col("__istar").cast("int"))("v").as("est"))
  }
}
