package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_if, lit}
import org.slf4j.LoggerFactory

/** The engine's one round loop and materialize-and-count module:
  * data-sized partition counts, [[checkpointCounted]] (materialize a
  * frame and learn its size in the same job), [[sized]] (the
  * checkpointed, data-partitioned probe table an iterative operator
  * reads each round; the graph tier builds its edge tables in
  * `graph.Edges`), and the two round drivers — [[fixedRounds]] for a fixed round count, [[untilStable]]
  * for a fixpoint — that checkpoint each round, observe convergence and
  * enforce the round bound. The graph tier's fixpoints, TextRank and
  * the dedup tier's star contraction all run on these drivers; the few
  * round loops left outside say why in their scaladoc.
  */
private[graft] object Iterate {
  private val log = LoggerFactory.getLogger(getClass)

  /** Partition count for a frame of `rows` rows: one partition per
    * 100k rows, capped at the default parallelism. Iterative operators
    * coalesce their probed tables to this so each round's stages stay
    * data-shaped instead of shuffle.partitions KB-block tasks.
    */
  def parts(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, rows / 100000L + 1L)).toInt

  /** `df` `localCheckpoint`ed, plus its row count observed inside the
    * checkpoint's own job — sizing a table costs no separate count job.
    * The one materialize-and-count call: a `checkpoint; count()` pair
    * or a `cache(); count()` pair is two jobs where this is one.
    */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (cp, m) = checkpointObserved(df)
    (cp, m("rows").asInstanceOf[Long])
  }

  /** [[checkpointCounted]] with `observed` aggregates (each aliased)
    * riding the same observation: the returned map holds their values by
    * alias beside the row count under `rows`. An order-free aggregate
    * (`min`, `max`, an integer `sum`) reads the same as its own job
    * would; a double `sum` merges partials in task-completion order.
    */
  def checkpointObserved(df: DataFrame, observed: Column*): (DataFrame, Map[String, Any]) = {
    val obs = new Observation()
    val cp = df.observe(obs, count(lit(1)).as("rows"), observed: _*).localCheckpoint(true)
    (cp, obs.get)
  }

  /** `df` `localCheckpoint`ed once and coalesced to the [[parts]] of
    * its row count, plus that partition count and the
    * [[checkpointObserved]] values (the row count under `rows`, and any
    * `observed` aggregates): the probe table a loop reads every round
    * computes exactly once, each round's scan of it runs data-sized
    * tasks instead of shuffle.partitions KB blocks, and a caller that
    * branches on an empty table reads the count instead of probing it.
    */
  def sized(df: DataFrame, observed: Column*): (DataFrame, Int, Map[String, Any]) = {
    val (cp, m) = checkpointObserved(df, observed: _*)
    val n = parts(df.sparkSession, m("rows").asInstanceOf[Long])
    (cp.coalesce(n), n, m)
  }

  /** Applies `step(state, round)` (round 1-based) `rounds` times from
    * `init` and returns the last state; `rounds = 0` returns `init`.
    * `init` and every round's state are `localCheckpoint`ed, so rounds
    * never stack plans and each round is the one job its plan needs —
    * a fixed count observes nothing. One INFO line per round logs its
    * wall time.
    */
  def fixedRounds(init: DataFrame, rounds: Int, what: String)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var state = init.localCheckpoint(true)
    for (round <- 1 to rounds) {
      val t0 = System.nanoTime()
      state = step(state, round).localCheckpoint(true)
      log.info(s"$what round=$round ms=${(System.nanoTime() - t0) / 1000000L}")
    }
    state
  }

  /** Runs `step` from `init` to a fixpoint and returns the final state
    * without its `__imp` column. `step(state, round)` (round 1-based)
    * returns the next state with a boolean `__imp` column marking rows
    * that improved this round (`init` needs none); `init` and each
    * state are `localCheckpoint`ed so rounds never stack plans. The
    * improved-row and row counts are observed inside the checkpoint's
    * own job — no separate count job per round — and the loop stops on
    * the first round that flags no row and does not shrink the state.
    * A loop that adds or improves rows flags them; a peel that only
    * removes rows flags nothing and stops on the first round that
    * removes none. Growth alone does not count: [[graph.Bfs.minPlus]] adds
    * rows in the first of its two steps and is stable when the second
    * improves nothing.
    *
    * `maxRounds` bounds the step applications: a step that applies
    * `stepsPerRound` updates gets ⌈maxRounds / stepsPerRound⌉ rounds,
    * so the bound keeps its meaning whatever the batching. Still
    * changing past it throws, naming `what` and `maxRounds` — a silent
    * cutoff would return a wrong answer. One INFO line per round logs
    * rows, improved rows and wall time.
    */
  def untilStable(init: DataFrame, maxRounds: Int, what: String, stepsPerRound: Int = 1)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(stepsPerRound >= 1, s"stepsPerRound must be >= 1, got $stepsPerRound")
    val roundBound = (maxRounds - 1) / stepsPerRound + 1
    var (state, rows) = checkpointCounted(init)
    var round = 0
    var stable = false
    while (!stable) {
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
      val improved = m("improved").asInstanceOf[Long]
      val prevRows = rows
      rows = m("rows").asInstanceOf[Long]
      stable = improved == 0L && rows >= prevRows
      log.info(s"$what round=$round rows=$rows improved=$improved " +
        s"ms=${(System.nanoTime() - t0) / 1000000L}")
    }
    state.drop("__imp")
  }
}
