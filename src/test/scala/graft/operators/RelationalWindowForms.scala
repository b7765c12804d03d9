package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window forms of [[Relational.groupedPercentileFilter]] and its
  * threshold kernel: one sort per group. OperatorsSpec holds the gated
  * range-selection path equal to them. No gate or program runs them.
  */
object RelationalWindowForms {

  /** The former window form of [[Relational.groupedPercentileFilter]] — kept as the
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
}
