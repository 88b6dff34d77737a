package graft

/** Plan-quality inspector: dumps formatted plans for the given query names
  * (default: a pushdown-sensitive subset) so scan pruning, PushedFilters,
  * broadcast joins, and WholeStageCodegen spans can be eyeballed/grepped. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q2_range_filter", "q3_join_topk",
        "q6_forecast_revenue", "q13_token_stats")
    // the Bench/Verify session, so the dumped plans show exactly what
    // they plan, incl. injected strategies
    val spark = SessionEnv.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
