package graft

import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-22 pins (second optimization round):
  *
  *  1. The graft_inter_size_l sorted-merge kernel (the blocked
  *     set-similarity hot loop that replaced per-pair array_intersect
  *     in containment/jaccard/near-minhash/struct-equiv) equals
  *     size(array_intersect(a, b)) on strictly-ascending distinct
  *     inputs — including a generator-random property — and keeps the
  *     loud-guard discipline: null elements and non-strictly-ascending
  *     visited prefixes throw instead of undercounting silently.
  *  2. The hashed-tokset producers feed the kernel STRICTLY ascending
  *     arrays on the real fixture (an intra-document xxhash64
  *     collision would surface here as the kernel's loud throw).
  */
class Round22Spec extends AnyFunSuite with SparkFixture {

  private def interOne(aArr: Seq[java.lang.Long], bArr: Seq[java.lang.Long]): Long = {
    import spark.implicits._
    Seq((aArr, bArr)).toDF("a", "b")
      .select(expr("graft_inter_size_l(a, b)").as("c"))
      .collect()(0).getLong(0)
  }

  test("graft_inter_size_l equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    val rows = (1 to 200).map { _ =>
      def set() = rnd.shuffle((-50 to 50).toList).take(rnd.nextInt(40))
        .map(_.toLong).distinct.sorted
      (set(), set())
    }
    val df = rows.toDF("a", "b")
      .select(expr("graft_inter_size_l(a, b)").as("kernel"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
    val bad = df.filter(col("kernel") =!= col("builtin")).count()
    assert(bad === 0, "merge kernel must equal array_intersect size exactly")
    // boundary shapes
    assert(interOne(Seq.empty, Seq.empty) === 0L)
    assert(interOne(Seq(1L), Seq.empty) === 0L)
    assert(interOne(Seq(Long.MinValue, 0L, Long.MaxValue),
      Seq(Long.MinValue, 1L, Long.MaxValue)) === 2L)
  }

  test("graft_inter_size_l loud guards: unsorted, duplicate, null element") {
    def root(t: Throwable): Throwable =
      Iterator.iterate(t)(_.getCause).dropWhile(x =>
        x.getCause != null && !x.isInstanceOf[IllegalArgumentException]).next()
    val unsorted = intercept[Exception] { interOne(Seq(2L, 1L, 3L), Seq(1L, 2L, 3L)) }
    assert(root(unsorted).getMessage.contains("strictly ascending"),
      s"unsorted left must throw loudly: ${root(unsorted).getMessage}")
    val dup = intercept[Exception] { interOne(Seq(1L, 2L), Seq(1L, 1L, 2L)) }
    assert(root(dup).getMessage.contains("strictly ascending"),
      s"duplicate (collision) must throw loudly: ${root(dup).getMessage}")
    val nul = intercept[Exception] { interOne(Seq(1L, null, 3L), Seq(1L, 2L)) }
    assert(root(nul).getMessage.contains("null element"),
      s"null element must throw loudly: ${root(nul).getMessage}")
  }

  test("graft_ngrams equals the zip_with gram chains byte-for-byte") {
    import spark.implicits._
    // adversarial shapes: empty string, single token, consecutive /
    // leading / trailing spaces (split keeps ALL empties at limit -1),
    // multibyte UTF-8, and exactly-n tokens
    val texts = Seq(
      "", "one", "a b", "a b c", "a b c d e",
      "a  b", " a b", "a b ", "  ", "é ü 漢字 b",
      "x y z w", "tok", "a a a a a a")
    val rnd = new scala.util.Random(22L)
    val vocab = Vector("aa", "b", "céd", "dd", "e", "")
    val fuzz = (1 to 100).map(_ =>
      (1 to rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val df = (texts ++ fuzz).toDF("text")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
    for (k <- Seq(2, 3)) {
      val chain = if (k == 2)
        operators.PipelineOps.biGrams(col("toks"), col("n"))
      else operators.PipelineOps.triGrams(col("toks"), col("n"))
      val bad = df.select(expr(s"graft_ngrams(text, $k)").as("kern"),
          chain.as("chain"))
        .filter(not(col("kern") <=> col("chain"))).count()
      assert(bad === 0, s"graft_ngrams(text, $k) must equal the zip_with chain")
    }
    // n = 1 is the token array itself
    val bad1 = df.select(expr("graft_ngrams(text, 1)").as("kern"),
        col("toks")).filter(not(col("kern") <=> col("toks"))).count()
    assert(bad1 === 0, "graft_ngrams(text, 1) must equal split(text, ' ')")
  }

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
