package graft

/** Plan inspector: prints `explain("formatted")` for selected queries so
  * pushdown (`PushedFilters`/`ReadSchema`), join strategies, and
  * whole-stage-codegen spans can be audited per change.
  *
  * Usage: `sbt "runMain graft.Explain q1_agg q3_join_agg"` (no args = a
  * representative default set).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "explain")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq(
        "q1_agg", "q2_filter_project", "q3_join_agg", "q5_anti_join",
        "q18_shipping_priority", "q19_local_volume", "qsp2_nearest",
        "qd2_minhash_dedup", "qg1_route_matrix", "qt7_tfidf",
        "q21_rollup", "qs3_dot_topk")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
