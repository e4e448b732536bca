package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The custom rank-filter → top-k rewrite must be result-invisible and
  * actually planned (TopKPerGroupExec in the executed plan).
  */
class TopKPlanSpec extends AnyFunSuite with SparkFixture {

  /** The final (AQE) plan of `df` after a full run, node by node. */
  private def topKNodes(df: DataFrame): Seq[String] =
    PlanWalk.collectAll(PlanWalk.executed(df)).map(_.nodeName)
      .filter(_.contains("TopKPerGroup"))

  test("rewrite preserves results and plans TopKPerGroupExec") {
    // stock results from a plain sibling session: the operator functions,
    // called directly, install nothing, so its plans keep the window
    val stock = spark.newSession()
    val stockTopkDf = operators.Windows.winTopkPerGroup(stock, sfDir)
    assert(topKNodes(stockTopkDf).isEmpty)
    val stockTopk = stockTopkDf.collect().toSeq
    val stockDedup = operators.Windows.dedupKeepLatest(stock, sfDir).collect().toSeq

    val customDf = operators.Windows.winTopkPerGroup(spark, sfDir)
    val customTopk = customDf.collect().toSeq
    assert(customTopk === stockTopk)

    assert(topKNodes(customDf).nonEmpty,
      s"custom exec not planned:\n${customDf.queryExecution.executedPlan}")

    // k=1 equality form (dedup-keep-latest) rewrites too, same results
    val customDedupDf = operators.Windows.dedupKeepLatest(spark, sfDir)
    assert(customDedupDf.collect().toSeq === stockDedup)
    assert(topKNodes(customDedupDf).nonEmpty)
  }

  test("rewrite leaves rank-projecting (no filter) windows untouched") {
    val df = operators.Windows.winRank(spark, sfDir)
    assert(topKNodes(df).isEmpty)
    assert(df.count() > 0)
  }
}
