package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Structured-Streaming surface (SURVEY.md §2.10 — beyond-reference
  * capability; the reference has no event-time processing).
  *
  * The same transform functions serve batch DataFrames and streaming
  * readStream DataFrames — the Spark contract that makes a batch oracle
  * meaningful for the streaming path.
  *
  * The `run*Stream` runners take the stream (`ts` already a TIMESTAMP,
  * see [[graft.Tables.normalizeTs]]) and replay it to the end of its
  * bounded input through [[drain]], which owns the rest of a replay's
  * lifecycle: the sink's query name, `stop`, and dropping the sink's
  * temp view, on failure as on success. Source options such as
  * `maxFilesPerTrigger` and the session confs a query pins at start
  * belong to the caller.
  */
object EventStreams {

  /** Tumbling-window aggregation; watermark applies only on streams. */
  def windowedCounts(events: DataFrame, watermark: Boolean = false): DataFrame = {
    val src = if (watermark) events.withWatermark("ts", "10 minutes") else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("value_sum"))
  }

  /** Batch sessionization (gap > `gapSec` starts a new session): the
    * window-function form, oracle-checkable (qe1).
    */
  def sessionizeBatch(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("epoch", unix_timestamp(col("ts")))
      .withColumn("prev", lag(col("epoch"), 1).over(w))
      .withColumn("new_session", when(col("prev").isNull || col("epoch") - col("prev") > gapSec, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
  }


  /** Streaming dedup: exactly-once event ids within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — state expires with the watermark,
    * so unbounded streams don't accumulate unbounded dedup state).
    */
  def dedupStream(events: DataFrame, idCol: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join: clicks matched to purchases by the same
    * user within `windowSec` AFTER the click. Both sides watermarked so
    * join state expires; the time-range condition bounds the buffer — the
    * stream-stream join shape Structured Streaming requires for unbounded
    * inputs.
    *
    * `joinType` "inner" emits matches EAGERLY (the watermark only bounds
    * state). "left_outer" is the conversion-funnel question asked
    * properly — "which clicks did NOT convert?" — and its null-padded
    * rows can only emit when the watermark proves no matching purchase
    * can still arrive (click state expires at watermark >
    * click_ts + windowSec + delay); until then the click sits in state.
    * A bounded replay therefore needs watermark-advancing rows past the
    * data (the qe13 gate stages click+purchase sentinels so BOTH sides'
    * watermarks move — the global watermark is their MIN), after which
    * the drained table equals the batch left join exactly.
    *
    * `preWatermarked = true` means the caller's `events` already carries
    * a watermark on `ts` (e.g. it is the output of an upstream stateful
    * operator such as `dropDuplicatesWithinWatermark`). Spark disallows
    * REDEFINING a watermark downstream of one, but the existing
    * watermark's delay metadata propagates through the per-side
    * select/alias to `click_ts`/`purchase_ts`, so the join's state
    * eviction is governed by the upstream delay and no new
    * `withWatermark` call is made (or allowed) here.
    */
  def clickToPurchaseJoin(
      events: DataFrame,
      windowSec: Long = 3600,
      joinType: String = "inner",
      preWatermarked: Boolean = false): DataFrame = {
    require(
      joinType == "inner" || joinType == "left_outer" || joinType == "full_outer",
      s"stream-stream interval join supports inner/left_outer/full_outer, got $joinType")
    def mark(df: DataFrame, tsCol: String): DataFrame =
      if (preWatermarked) df else df.withWatermark(tsCol, "2 hours")
    val clicks = mark(
      events
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
      "click_ts")
    val purchases = mark(
      events
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value")),
      "purchase_ts")
    clicks.join(
      purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
      // full outer: a purchase-only row carries its user on the purchase
      // side; coalesce is the identity for inner/left rows
      .select(col("click_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("purchase_id"), col("value"))
  }

  /** STREAM-STATIC enrich join — the dimension-enrichment shape every
    * event pipeline runs: each micro-batch of the stream joins the static
    * dimension (explicitly broadcast — the static side is re-read per
    * batch, so at scale it must be the SMALL side). Stateless, so append
    * mode emits every matched row immediately; no watermark is needed
    * (nothing is buffered). The static side may be updated between
    * restarts — Structured Streaming re-plans it per run.
    */
  def enrichStream(
      stream: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey))

  /** EXACTLY-ONCE parquet sink via IDEMPOTENT `foreachBatch`: each
    * micro-batch lands whole under `outDir/batch_id=<id>` in Overwrite
    * mode. Structured Streaming replays a batch after recovery
    * (at-least-once delivery with the SAME deterministic batchId), so a
    * re-delivered batch REPLACES its own previous output instead of
    * appending a duplicate — at-least-once delivery + idempotent write =
    * exactly-once table contents, the standard recipe for sinks without
    * transactional commit. Readers get partition discovery on `batch_id`
    * for free (and a trainer resuming from batch N is a directory-pruned
    * filter, never a scan). [[writeIdempotentBatch]] is the per-batch
    * kernel, exposed so the redelivery contract is directly testable.
    */
  def writeIdempotentBatch(batch: Dataset[org.apache.spark.sql.Row], batchId: Long, outDir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  def idempotentParquetSink(
      stream: DataFrame,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeIdempotentBatch(batch, batchId, outDir)
      }
      .start()

  /** EXACTLY-ONCE streaming ingest into a [[graft.operators.TxLog]]
    * table: each micro-batch commits as version `batchId + 1` through
    * [[graft.operators.TxLog.appendStreamBatch]] — a redelivered batch
    * finds its version file already claimed and no-ops, so the table
    * holds every source row exactly once across recoveries, and readers
    * (snapshot/time-travel/range scans) only ever see whole committed
    * versions. The target table must exist (create it, empty is fine,
    * before starting the query); one streaming writer per table.
    */
  def txLogSink(
      stream: DataFrame,
      tableDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.TxLog.appendStreamBatch(
          batch.sparkSession, tableDir, batch.toDF(), batchId)
        ()
      }
      .start()

  /** Runs `q` until its bounded input is consumed, then stops it,
    * thrown or not. The one await for every sink, memory or
    * foreachBatch.
    */
  private[graft] def awaitAll(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Replays `plan` into a memory sink and returns the drained rows.
    * The sink's temp view gets a generated name and is dropped whether
    * or not the query fails, so repeated runs leak nothing into the
    * session catalog. `localCheckpoint` (eager) materializes the rows
    * first, so the result and every plan built over it no longer
    * reference the view; drained results are bounded by contract
    * (register / cell / retained-sample rows).
    */
  private[graft] def drain(plan: DataFrame, mode: OutputMode): DataFrame = {
    val spark = plan.sparkSession
    val name = s"graft_drain_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      awaitAll(plan.writeStream.outputMode(mode).format("memory").queryName(name).start())
      spark.table(name).localCheckpoint(true)
    } finally spark.catalog.dropTempView(name)
  }

  /** STREAMING HLL — per-hour distinct-user estimates where the
    * streaming STATE is the sketch: the stream aggregates
    * (window, bucket) → max rank ([[graft.operators.Sketches
    * .hllRegisters]]), so state per window is ≤ 2^p register rows no
    * matter how many distinct users arrive — the bounded-state answer
    * to streaming COUNT(DISTINCT), whose exact form must hold every
    * seen id. `max` is the sketch merge, so partial aggregation,
    * micro-batch incrementality, and late-arrival updates all compose
    * for free. One streaming aggregate only (the estimate needs a
    * second grouping, which streaming forbids in one query) — the
    * harmonic-mean finalize runs as a BATCH fold over the memory-sink
    * register table after the drain. Complete mode for the bounded
    * replay, as [[runWindowedStream]] (append would withhold the tail
    * windows past the final watermark).
    */
  def runHllStream(events: DataFrame, p: Int = 4): DataFrame = {
    val src = events.select(window(col("ts"), "1 hour").as("__w"), col("user_id"))
    val regs = graft.operators.Sketches.hllRegisters(src, "__w", "user_id", p)
    graft.operators.Sketches
      .hllEstimate(drain(regs, OutputMode.Complete), Seq("__w"), p)
      .select(
        col("__w.start").as("window_start"),
        col("n_registers"),
        round(col("__est"), 6).as("est_distinct"))
  }

  /** STREAMING COUNT-MIN — the sum-merge counterpart of
    * [[runHllStream]]'s max-merge: per tumbling hour the stream
    * aggregates (window, row, bucket) → count, and since ADDITION is
    * the count-min merge, micro-batch increments replay to exactly the
    * batch cells — state per window is ≤ depth·width rows however many
    * distinct tokens arrive (the bounded-state answer to streaming
    * per-key frequency). The probe estimates (min over the token's
    * depth cells, absent cells = 0) finalize as a batch join over the
    * drained cell table — the one-streaming-aggregate rule again.
    * Cells share [[graft.operators.Sketches.cmsBucket]] verbatim with
    * the batch qk2 estimate, so the DuckDB batch oracle hash-gates the
    * streaming sketch.
    */
  def runCmsStream(
      events: DataFrame,
      probes: Seq[String],
      tokenCol: String = "event_type",
      depth: Int = 4,
      width: Int = 64): DataFrame = {
    require(probes.nonEmpty, "probes must be non-empty")
    require(depth >= 1 && width >= 2, s"bad sketch dims d=$depth w=$width")
    val spark = events.sparkSession
    import spark.implicits._
    val cells = events
      .filter(col(tokenCol).isNotNull)
      .select(window(col("ts"), "1 hour").as("__w"), col(tokenCol).as("__tok"))
      .select(col("__w"), col("__tok"),
        explode(sequence(lit(0), lit(depth - 1))).as("__r"))
      .groupBy(col("__w"), col("__r"),
        graft.operators.Sketches.cmsBucket(col("__tok"), col("__r"), width)
          .as("__bucket"))
      .agg(count(lit(1)).as("__cnt"))
    // the drained table appears on BOTH sides of the finalize join
    // (distinct windows × probes, left-joined back to the cells);
    // re-wrapping one side gives it fresh attribute ids — both
    // branches otherwise carry identical exprIds and analysis fails
    // with conflicting references. The table is ≤ windows·depth·width
    // rows, so the non-codegen hop is free.
    val cellsTbl = drain(cells, OutputMode.Complete)
    val drained = spark.createDataFrame(cellsTbl.rdd, cellsTbl.schema)
    val probe = probes.toDF("term")
      .select(col("term"), explode(sequence(lit(0), lit(depth - 1))).as("__r"))
      .select(col("term"), col("__r"),
        graft.operators.Sketches.cmsBucket(col("term"), col("__r"), width)
          .as("__bucket"))
    cellsTbl.select(col("__w")).distinct()
      .crossJoin(broadcast(probe))
      .join(drained, Seq("__w", "__r", "__bucket"), "left_outer")
      .groupBy(col("__w"), col("term"))
      .agg(min(coalesce(col("__cnt"), lit(0L))).as("est"))
      .select(col("__w.start").as("window_start"), col("term"), col("est"))
  }

  /** STREAMING QUANTILE SKETCH — per-hour `value` quantiles where the
    * streaming STATE is [[graft.operators.LevelSampleAgg]]'s
    * (exact count, ≤ ~k retained rows): the count-driven level is a
    * monotone function of n alone, so partial aggregation, micro-batch
    * increments, and late arrivals all merge to exactly the batch
    * retained set {rows : tz ≥ L(N)} — the bounded-state answer to
    * streaming per-key quantiles, whose exact form must SORT every
    * value seen. One streaming aggregate (the nearest-rank finalize
    * needs a rank, which streaming forbids) — answers rank the drained
    * ≤ ~k rows per window as a BATCH fold after the drain, the qe24
    * recipe. Complete mode for the bounded replay. Exact counts mean
    * redelivery is NOT idempotent (the CMS caveat, not HLL's).
    */
  def runQuantileStream(
      events: DataFrame,
      k: Int = 64,
      qs: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val src = events
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .select(window(col("ts"), "1 hour").as("__w"),
        col("value").cast("double").as("__v"),
        col("event_id").cast("string").as("__id"))
    val h = graft.operators.Sketches.md5Hash32(col("__id"))
    val withTz = src.select(col("__w"), col("__v"), col("__id"),
      when(h === 0L, lit(32))
        .otherwise(length(bin(h.bitwiseAND(-h))) - lit(1))
        .cast("int").as("__tz"))
    val sk = udaf(new graft.operators.LevelSampleAgg(k))
    val states = withTz
      .groupBy(col("__w"))
      .agg(sk(col("__tz"), col("__v"), col("__id")).as("__st"))
    val w = org.apache.spark.sql.expressions.Window
    val sampled = drain(states, OutputMode.Complete)
      .select(col("__w"), col("__st._1").as("n"), col("__st._2").as("level"),
        explode(col("__st._3")).as("__r"))
      .select(col("__w"), col("n"), col("level"),
        col("__r._2").as("__v"), col("__r._3").as("__id"))
      .withColumn("__i", row_number().over(
        w.partitionBy(col("__w")).orderBy(col("__v"), col("__id"))))
      .withColumn("__ns", count(lit(1)).over(w.partitionBy(col("__w"))))
    sampled
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("__target",
        greatest(lit(1L),
          ceil(col("n").cast("double") * col("q")).cast("long")))
      .withColumn("__istar",
        least(
          expr("shiftright(__target - 1L, CAST(level AS INT)) + 1L"),
          col("__ns").cast("long")))
      .groupBy(col("__w"), col("q"))
      .agg(
        max(col("n")).as("n"),
        max(col("level")).as("level"),
        max(col("__ns")).cast("long").as("n_sample"),
        min(when(col("__i").cast("long") === col("__istar"), col("__v")))
          .as("est"))
      .select(col("__w.start").as("window_start"), col("q"), col("n"),
        col("level"), col("n_sample"), col("est"))
  }

  /** STREAMING TOP-K — per-hour heavy hitters where the streaming STATE
    * is [[graft.operators.SpaceSavingAgg]]'s ≤ m (token, count, err)
    * entries: the bounded-state answer to streaming `GROUP BY token
    * ORDER BY count DESC LIMIT k`, whose exact form must hold every
    * distinct token. SpaceSaving's merge is the proven Misra–Gries
    * counter merge, so partial aggregation, micro-batch increments and
    * late arrivals compose like the other sketch streams (qe24/qe27/
    * qe51). With m at least the window's true distinct count the
    * summary IS the exact count table (every err 0) — the regime the
    * qe52 oracle hash-compares; smaller m keeps the n/(m+1) guarantee
    * but makes the entry set order-dependent (spec territory). One
    * streaming aggregate; the rank-and-cut finalize runs as a batch
    * window over the drained ≤ m rows per hour. Complete mode for the
    * bounded replay; exact counts mean redelivery is NOT idempotent
    * (the CMS caveat).
    */
  def runTopKStream(
      events: DataFrame,
      m: Int = 64,
      k: Int = 5,
      tokenCol: String = "event_type"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val src = events
      .filter(col(tokenCol).isNotNull)
      .select(window(col("ts"), "1 hour").as("__w"),
        col(tokenCol).cast("string").as("__tok"))
    val ss = udaf(new graft.operators.SpaceSavingAgg(m))
    val summaries = src.groupBy(col("__w")).agg(ss(col("__tok")).as("__ss"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__w"))
      .orderBy(col("est").desc, col("term"))
    drain(summaries, OutputMode.Complete)
      .select(col("__w"), explode(col("__ss")).as("__e"))
      .select(col("__w"), col("__e._1").as("term"),
        col("__e._2").as("est"), col("__e._3").as("err"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__w.start").as("window_start"), col("rank"),
        col("term"), col("est"), col("err"))
  }

  /** The windowed aggregation as a real streaming query: the drained
    * table (qe8). Complete mode: append would withhold windows newer
    * than the final watermark, so a bounded replay would lose the tail
    * windows.
    */
  def runWindowedStream(events: DataFrame): DataFrame =
    drain(windowedCounts(events, watermark = true), OutputMode.Complete)
}
