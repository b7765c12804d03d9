package graft.graph

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_if, greatest, least, lit}
import org.slf4j.LoggerFactory

/** The graph tier's shared fixpoint machinery: data-sized partition
  * counts, the canonical undirected adjacency every iterative operator
  * probes each round, and the round driver that checkpoints, counts
  * convergence and enforces the round bound.
  */
private[graph] object Iterate {
  private val log = LoggerFactory.getLogger(getClass)

  /** Partition count for a frame of `rows` rows: one partition per
    * 100k rows, capped at the default parallelism. Iterative operators
    * coalesce their probed tables to this so each round's stages stay
    * data-shaped instead of shuffle.partitions KB-block tasks.
    */
  def parts(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, rows / 100000L + 1L)).toInt

  /** Canonical undirected adjacency `(v, w)` — each edge in both
    * orientations, self-loops and duplicates dropped — plus its
    * [[parts]]. The canonical edges checkpoint once; the doubled list is
    * coalesced to the data size and checkpointed, so every round of the
    * caller's loop reads a few cached blocks and the input computes
    * exactly once. No cast: the endpoint type is the caller's.
    */
  def adjacency(edges: DataFrame, aCol: String, bCol: String): (DataFrame, Int) = {
    val e = edges
      .select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val n = parts(edges.sparkSession, 2L * e.count())
    val ed = e.select(col("a").as("v"), col("b").as("w"))
      .unionAll(e.select(col("b").as("v"), col("a").as("w")))
      .coalesce(n)
      .localCheckpoint(true)
    (ed, n)
  }

  /** Runs `step` from `init` to a fixpoint and returns the final state
    * without its `__imp` column. `step(state, round)` (round 1-based)
    * returns the next state with a boolean `__imp` column marking rows
    * that improved this round; each state is `localCheckpoint`ed so
    * rounds never stack plans. The improved-row count is observed inside
    * the checkpoint's own job — no separate count job per round — and
    * the loop stops on the first round that improves nothing.
    *
    * `maxRounds` bounds the step applications: a step that applies
    * `stepsPerRound` updates gets ⌈maxRounds / stepsPerRound⌉ rounds,
    * so the bound keeps its meaning whatever the batching. Still
    * improving past it throws, naming `what` and `maxRounds` — a silent
    * cutoff would return a wrong answer. One INFO line per round logs
    * rows, improved rows and wall time.
    */
  def untilStable(init: DataFrame, maxRounds: Int, what: String, stepsPerRound: Int = 1)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(stepsPerRound >= 1, s"stepsPerRound must be >= 1, got $stepsPerRound")
    val roundBound = (maxRounds - 1) / stepsPerRound + 1
    var state = init.localCheckpoint(true)
    var round = 0
    var improved = 1L
    while (improved > 0L) {
      if (round == roundBound)
        throw new IllegalStateException(
          s"$what still improving after maxRounds=$maxRounds; raise maxRounds")
      round += 1
      val t0 = System.nanoTime()
      val obs = new Observation()
      state = step(state, round)
        .observe(obs, count_if(col("__imp")).as("improved"), count(lit(1)).as("rows"))
        .localCheckpoint(true)
      val m = obs.get
      improved = m("improved").asInstanceOf[Long]
      log.info(s"$what round=$round rows=${m("rows")} improved=$improved " +
        s"ms=${(System.nanoTime() - t0) / 1000000L}")
    }
    state.drop("__imp")
  }
}
