package graft

/** Plan-audit utility: prints explain("formatted") for the named queries
  * (or a default set of scale-critical ones) so shuffle counts, pushed
  * filters, scan schemas and broadcast choices can be reviewed at any SF.
  * Usage: runMain graft.Explain <sfDir> [queryKey ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keys = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q_agg_pricing_summary", "q_join_broadcast_dims", "q_join_asof",
      "q_dedup_near_minhash", "q_sim_cosine_topk", "q_topk", "q_window_sliding")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      println(s"\n========== $k ==========")
      SparkEntry.queries.get(k) match {
        case Some(fn) => println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"unknown query: $k")
      }
    }
    spark.stop()
  }
}
