package graft.streaming

import graft.graph.{CsrGraph, Eaul}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery

/** §2.10 stretch — streaming EAUL (the reference has no streaming
  * semantics; this is the BACKLOG "periodic-trigger recompute" design):
  * flood-stats REVISIONS stream in (new hazard-model drops, post-event
  * surveys), and every micro-batch folds them into the current stats and
  * re-runs the batch [[Eaul.sweep]] in full.
  *
  * Why periodic recompute and not `flatMapGroupsWithState`: EAUL is a
  * global leave-one-out optimization — one way's depth revision changes
  * route choices network-wide, so there is no per-key decomposition for
  * incremental state to exploit. The honest streaming form is "batch the
  * updates at the trigger, recompute with the EXACT batch operator":
  * result identity with batch mode is the correctness contract
  * (spec-asserted), staleness is bounded by the trigger interval, and the
  * expensive part (the fan-out inside `sweep`: one route matrix per
  * distinct impassable set for each of the 1 + 3·|ways| scenarios) stays
  * fully distributed. Only the tiny revision maps and the O(ways) result
  * rows touch the driver.
  */
object EaulStream {

  /** One flood-stats revision: (way, return period) gets a new depth (m)
    * and flooded-length share (%). `seq` totally orders revisions — the
    * highest `seq` per (way, rp) wins within a batch. An explicit field,
    * not "source order": a multi-partition micro-batch collects in
    * partition-major order, so arrival order is NOT event order and
    * relying on it would silently let stale revisions win.
    */
  case class DepthUpdate(way_id: String, rp: Int, depth: Double, length_pct: Double, seq: Long)

  /** Apply revisions in ascending `seq` order (pure — the spec replays it
    * to build the batch-mode reference).
    */
  def fold(stats: Eaul.FloodStats, revs: Seq[DepthUpdate]): Eaul.FloodStats =
    revs.sortBy(_.seq).foldLeft(stats) { (s, r) =>
      Eaul.FloodStats(
        s.depth.updated(r.way_id, s.depth.getOrElse(r.way_id, Map.empty).updated(r.rp, r.depth)),
        s.lengthPct
          .updated(r.way_id, s.lengthPct.getOrElse(r.way_id, Map.empty).updated(r.rp, r.length_pct)))
    }

  /** Start the recompute loop: each micro-batch folds its revisions into
    * the running stats (driver var — micro-batches are totally ordered,
    * the same guarantee foreachBatch offers any external sink) and hands
    * `collect` the fresh sweep result with its batch id.
    */
  def recompute(
      updates: Dataset[DepthUpdate],
      g: CsrGraph,
      stats0: Eaul.FloodStats,
      odNodes: Array[Int],
      yearlyTraffic: Array[Array[Double]],
      noTraffic: Set[(Int, Int)])(
      collect: (Long, DataFrame) => Unit): StreamingQuery = {
    val spark = updates.sparkSession
    var current = stats0
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[DepthUpdate], batchId: Long) =>
        val revs = batch.collect().toSeq // tiny by contract: revisions, not telemetry
        if (revs.nonEmpty) current = fold(current, revs)
        collect(batchId, Eaul.sweep(spark, g, current, odNodes, yearlyTraffic, noTraffic))
      }
      .start()
  }
}
