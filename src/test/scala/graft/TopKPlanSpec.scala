package graft

import org.scalatest.funsuite.AnyFunSuite

/** The custom rank-filter → top-k rewrite must be result-invisible and
  * actually planned (TopKPerGroupExec in the executed plan).
  */
class TopKPlanSpec extends AnyFunSuite with SparkFixture {

  test("rewrite preserves results and plans TopKPerGroupExec") {
    // stock results from a plain sibling session: the operator functions,
    // called directly, install nothing, so its plans keep the window
    val stock = spark.newSession()
    val stockTopkDf = operators.Windows.winTopkPerGroup(stock, sfDir)
    assert(!stockTopkDf.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    val stockTopk = stockTopkDf.collect().toSeq
    val stockDedup = operators.Windows.dedupKeepLatest(stock, sfDir).collect().toSeq

    val customDf = operators.Windows.winTopkPerGroup(spark, sfDir)
    val customTopk = customDf.collect().toSeq
    assert(customTopk === stockTopk)

    val planStr = customDf.queryExecution.executedPlan.toString
    assert(planStr.contains("TopKPerGroup"), s"custom exec not planned:\n$planStr")

    // k=1 equality form (dedup-keep-latest) rewrites too, same results
    val customDedupDf = operators.Windows.dedupKeepLatest(spark, sfDir)
    assert(customDedupDf.collect().toSeq === stockDedup)
    assert(customDedupDf.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
  }

  test("rewrite leaves rank-projecting (no filter) windows untouched") {
    val df = operators.Windows.winRank(spark, sfDir)
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    assert(df.count() > 0)
  }
}
