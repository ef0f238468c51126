package graft

/** Dev-only: print formatted physical plans for headline queries to audit
  * pushdown / broadcast / codegen spans (run via dev/run.sh). */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("explain").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet else
      Set("q02_revenue_filter", "q03_orders_by_segment", "q07_top5_nations_monthly",
          "q18_neardup_pairs", "q20_cosine_topk", "q21_lsh_ann", "q23_events_hourly",
          "q29_ivf_ann", "q39_curated_corpus")
    SparkEntry.queries.filter(q => names.contains(q._1)).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      println(fn(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
