package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: pre-bucketing both sides on the join key
  * removes the shuffle entirely — the storage-layout lever for repeated
  * big-big joins at 100 TB.
  */
class BucketingSpec extends AnyFunSuite with SparkFixture {

  test("join of two tables bucketed on the key plans without a shuffle") {
    // warehouse dir is a static conf; the default ./spark-warehouse is
    // fine for the test JVM (gitignored). A fresh in-memory catalog does
    // not know tables written by a previous JVM, so DROP alone leaves the
    // location behind — remove the dirs too.
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    for (t <- Seq("b_orders", "b_lineitem")) {
      val loc = new java.io.File(s"spark-warehouse/$t")
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmr)
        f.delete(): Unit
      }
      if (loc.exists()) rmr(loc)
    }
    Tables.orders(spark, sfDir)
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sfDir)
      .withColumnRenamed("l_orderkey", "o_orderkey")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders").hint("merge"), Seq("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))

    import PlanWalk._
    val plan = executed(joined)
    // the join itself must not shuffle either side (only the final agg may)
    val smjs = collectAll(plan).collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"the merge hint must plan a sort-merge join:\n$plan")
    val keyShuffles = smjs.flatMap(collectAll).collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "o_orderkey"))
        case _ => false
      }) => e
    }
    assert(keyShuffles.isEmpty, s"bucketed join still shuffles on the key:\n$plan")

    // results equal the unbucketed join
    val expected = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val actual = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(actual === expected)
  }
}
