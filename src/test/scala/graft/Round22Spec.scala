package graft

import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-22 pins (second optimization round; the graft_inter_size_l and
  * graft_ngrams kernel pins live in KernelSpec): the hashed-tokset
  * producers feed graft_inter_size_l STRICTLY ascending arrays on the
  * real fixture (an intra-document xxhash64 collision would surface here
  * as the kernel's loud throw), and the plans of the r22 rewrites.
  */
class Round22Spec extends AnyFunSuite with SparkFixture {

  test("hashed-tokset producers stay strict on the fixture (no intra-doc collision)") {
    // the graded containment path itself: if any document's hashed
    // tokset were non-strict, the kernel would throw and this fails
    val out = operators.DedupOps.dedupContainment(spark, sfDir)
    assert(out.count() >= 0)
  }

  private def nodes(df: org.apache.spark.sql.DataFrame) =
    PlanWalk.collectAll(PlanWalk.executed(df))

  private def lineitemScans(ns: Seq[SparkPlan]): Int = ns.count {
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.exists(_.getName == "lineitem.parquet")
    case _ => false
  }

  private def callsKernel(ns: Seq[SparkPlan], kernel: String): Boolean =
    ns.exists(_.expressions.exists(_.exists(_.prettyName == kernel)))

  test("big_orders pays ONE lineitem aggregate (the r22 single-aggregate Q18)") {
    val ns = nodes(operators.SqlSuite.sqlBigOrders(spark, sfDir))
    val scans = lineitemScans(ns)
    assert(scans == 1,
      s"the decorrelated form scanned lineitem twice; must stay 1, got $scans:\n${ns.head}")
  }

  test("waiting_supplier stays the single-pass aggregate form (no semi/anti)") {
    val ns = nodes(operators.SqlSuite.sqlWaitingSupplier(spark, sfDir))
    val scans = lineitemScans(ns)
    assert(scans == 1,
      s"Q21 must scan lineitem once, got $scans:\n${ns.head}")
    val semiAnti = ns.collect {
      case j: BaseJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti => j
    }
    assert(semiAnti.isEmpty,
      s"Q21 must not regress to the decorrelated semi/anti joins:\n${ns.head}")
  }

  test("the kernel rewires actually reach the executed plans") {
    val cont = nodes(operators.DedupOps.dedupContainment(spark, sfDir))
    assert(callsKernel(cont, "graft_inter_size_l"),
      s"containment must intersect via the merge kernel:\n${cont.head}")
    val contam = nodes(operators.PipelineOps.contamination(spark, sfDir))
    assert(callsKernel(contam, "graft_ngrams"),
      s"contamination must build grams via the byte-scan kernel:\n${contam.head}")
    val span = nodes(operators.CorpusOps.dedupSpanExact(spark, sfDir))
    assert(callsKernel(span, "graft_ngrams"),
      s"span-exact must build spans via the byte-scan kernel:\n${span.head}")
  }

  test("fulfillment windows run over the (month, days) histogram, not fact rows") {
    // the old plan's rank window sorted (days, o_orderkey, l_linenumber)
    // over every joined fact row; the histogram form has no per-row
    // tie-break columns anywhere in a window sort
    import PlanWalk._
    val windows = collectAll(executed(operators.TimeWindows.tsFulfillment(spark, sfDir)))
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "fulfillment must keep its windows")
    windows.foreach { w =>
      val sortCols = w.orderSpec.map(_.child.toString).mkString(",")
      assert(!sortCols.contains("orderkey") && !sortCols.contains("linenumber"),
        s"window must not sort fact-row tie-breakers (histogram regressed): $sortCols")
      // every window input must sit above the (month, days) aggregate
      val aggBelow = collectAll(w).collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.exists(_.toString.contains("days")) => a
      }
      assert(aggBelow.nonEmpty,
        s"window input must be the (month, days) histogram aggregate:\n$w")
    }
  }
}
