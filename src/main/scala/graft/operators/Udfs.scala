package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact-decimal weighted-average buffer: java BigDecimal sums are
  * associative, so the merge order of partial aggregates cannot change the
  * result — the UDAF analog of the Det policy. Top-level (not nested
  * private) so Janino-generated encoder projections can reach it.
  */
case class WBuf(num: BigDecimal, den: BigDecimal)

/** §2.10 user-defined function surface. UDFs are deliberately the LAST
  * resort in this engine (they break whole-stage codegen and predicate
  * pushdown across the call); these two queries exist to prove the
  * surface, and their scaladoc records the rule: prefer column
  * expressions, then catalyst expressions (graft.functions), then udf().
  */
object Udfs {

  /** #58 registered scalar Scala UDF: a string normalizer (the reference's
    * per-record field cleanup done imperatively). The oracle replicates the
    * same logic relationally — which is also the recommended rewrite.
    */
  def udfScalar(s: SparkSession, dir: String): DataFrame = {
    val normalize = udf((name: String) =>
      name.trim.toLowerCase.replaceAll("[^a-z0-9]+", "_"))
    s.udf.register("graft_normalize", normalize)
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"),
        normalize(col("c_name")).as("name_norm"))
      .orderBy("c_custkey")
  }

  private object WeightedAvg extends Aggregator[(Double, Double), WBuf, Double] {
    def zero: WBuf = WBuf(BigDecimal(0), BigDecimal(0))
    def reduce(b: WBuf, a: (Double, Double)): WBuf = {
      val x = BigDecimal(a._1).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val w = BigDecimal(a._2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      WBuf(b.num + x * w, b.den + w)
    }
    def merge(b1: WBuf, b2: WBuf): WBuf = WBuf(b1.num + b2.num, b1.den + b2.den)
    def finish(b: WBuf): Double =
      if (b.den == 0) 0.0 else b.num.toDouble / b.den.toDouble
    def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** #59 typed UDAF via Aggregator: discount-weighted average price per
    * return flag.
    */
  def udafWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(WeightedAvg)
    Tables.lineitem(s, dir)
      .filter(col("l_discount") > 0)
      .groupBy("l_returnflag")
      .agg(wavg(col("l_extendedprice"), col("l_discount")).as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_udf_scalar" -> (udfScalar _),
    "q_udaf_weighted_avg" -> (udafWeightedAvg _))

  val oracles: Map[String, String] = Map(
    "q_udf_scalar" ->
      """SELECT c_custkey, c_name,
        |  regexp_replace(lower(trim(c_name)), '[^a-z0-9]+', '_', 'g') AS name_norm
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_udaf_weighted_avg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS wavg_price,
        |  COUNT(*) AS n
        |FROM lineitem WHERE l_discount > 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
