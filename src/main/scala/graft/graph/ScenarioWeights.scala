package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G4 — scenario edge-weight overrides as a DataFrame operation (reference
  * speed-profile CSVs, `scripts/utils/utils.js:177-229`: per way,
  * consecutive node pairs in both directions at a new speed; speed 0 =
  * way removed).
  *
  * The routing kernels consume overrides as a broadcast `wayFactor`
  * closure (zero per-scenario setup — the reference re-ran `osrm-contract`
  * per scenario); this DataFrame form is the declarative twin for pipelines
  * that keep scenarios as data: left join + coalesce, broadcast on the
  * (small) override side, matching the reference's append-mode profile
  * semantics where the LAST profile written for an edge wins.
  */
object ScenarioWeights {

  /** `edges`: (src, dst, way_id, weight); `overrides`: (way_id, speed) —
    * speed 0 ⇒ removed (weight = +∞), otherwise weight ⇒ base / speed.
    * Later override rows win per way (max priority column).
    */
  def applyOverrides(edges: DataFrame, overrides: DataFrame): DataFrame = {
    val lastWins = overrides
      .withColumn("__prio", monotonically_increasing_id())
      .groupBy(col("way_id"))
      .agg(max_by(col("speed"), col("__prio")).as("__speed"))
    edges
      .join(broadcast(lastWins), Seq("way_id"), "left")
      .withColumn(
        "weight",
        when(col("__speed").isNull, col("weight"))
          .when(col("__speed") === 0.0, lit(Double.PositiveInfinity))
          .otherwise(col("weight") / col("__speed")))
      .drop("__speed")
  }
}
