package graft.plans

import graft.graph.CsrGraph
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType}

/** G6 as a first-class Catalyst operator — the SURVEY §7.3 tier-(c) case:
  * a many-to-many shortest-path matrix has no composition of built-in
  * operators (it's an iterative graph traversal), so it enters the plan as
  * a custom `LogicalPlan` leaf + `Strategy` + `SparkPlan`, registered via
  * `spark.experimental.extraStrategies`.
  *
  * Payoff vs an RDD wrapper around the same Dijkstra: the operator is
  * *inside* Catalyst — downstream filters/projections/joins compose and
  * optimize against its output schema (e.g. `routable = false` predicates
  * prune before any shuffle), `.explain` shows `RouteMatrixExec` with row
  * statistics, and AQE sees real stats instead of an opaque RDD scan.
  *
  * The graph itself broadcasts (driver-small by construction, SURVEY
  * §2.8); the WORK — one Dijkstra per OD source — distributes over
  * [[graft.graph.Routing.sweepSlices]] contiguous slices of the sources.
  */
case class RouteMatrixRelation(
    @transient graph: CsrGraph,
    odNodes: Array[Int],
    // constructor-carried so plan-tree copies keep stable exprIds
    output: Seq[Attribute])
    extends LeafNode {

  override def computeStats(): Statistics = {
    val n = odNodes.length.toLong
    Statistics(sizeInBytes = n * (n - 1) / 2 * 24)
  }
}

object RouteMatrixRelation {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("o_idx", IntegerType, nullable = false)(),
    AttributeReference("d_idx", IntegerType, nullable = false)(),
    AttributeReference("routable", BooleanType, nullable = false)(),
    AttributeReference("ruc", DoubleType, nullable = true)())
}

case class RouteMatrixExec(relation: RouteMatrixRelation) extends LeafExecNode {

  override def output: Seq[Attribute] = relation.output

  override protected def doExecute(): RDD[InternalRow] = {
    val sc = sparkContext
    val bg = sc.broadcast(relation.graph)
    val odNodes = relation.odNodes
    val n = odNodes.length
    val outAttrs = output
    sc.parallelize(0 until n - 1, graft.graph.Routing.sweepSlices(sc, n - 1))
      .mapPartitions { sources =>
        val g = bg.value
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(outAttrs, outAttrs)
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(4)
        sources.flatMap { i =>
          val distI = g.dijkstra(odNodes(i))
          // reverse distances for max(ab, ba): one Dijkstra per target j>i
          // would be O(n²) — instead exploit that the stored graph is
          // undirected (both edge directions present), so dist(j,i) =
          // dist(i,j) and the symmetrization is exact by construction.
          (i + 1 until n).iterator.map { j =>
            val ab = distI(odNodes(j))
            row.update(0, i)
            row.update(1, j)
            if (ab.isInfinity) {
              row.update(2, false)
              row.setNullAt(3)
            } else {
              row.update(2, true)
              row.update(3, ab)
            }
            proj(row).copy()
          }
        }
      }
  }
}

object RouteMatrixStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: RouteMatrixRelation => RouteMatrixExec(r) :: Nil
    case _ => Nil
  }
}

object RouteMatrixPlan {
  /** DataFrame over the custom operator; idempotently registers the
    * strategy on the session.
    */
  def routeMatrix(spark: SparkSession, g: CsrGraph, odNodes: Array[Int]): DataFrame = {
    if (!spark.experimental.extraStrategies.contains(RouteMatrixStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ RouteMatrixStrategy
    }
    org.apache.spark.sql.graft.ColumnBridge.ofRows(
      spark,
      RouteMatrixRelation(g, odNodes, RouteMatrixRelation.freshOutput()))
  }
}
