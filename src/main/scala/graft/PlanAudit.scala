package graft

/** Dump formatted physical plans for the audit-worthy queries: verifies
  * PushedFilters reach the scans, ReadSchema is pruned, dims broadcast,
  * and WholeStageCodegen spans the hot path. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSet
      else Set("q01_avg_value_by_user", "q11_star_revenue", "q12_semi_join",
        "q15_window_running", "q25_knn_cosine", "q32_clean_filter_chain")
    // the session Bench times, so the audited plans are the benchmarked
    // ones; ad-hoc conf for before/after plan dumps goes through
    // GraftSession.envConf: GRAFT_PLAN_CONF="k=v;k2=v2"
    val spark = GraftSession.build(
      conf = GraftSession.envConf("GRAFT_PLAN_CONF"))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.contains(name)) {
        println(s"\n========== $name ==========")
        fn(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}
