package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one two-phase global prefix kernel: every global running count
  * (a rank) and every global running sum over a total order goes through
  * [[apply]].
  *
  * `Window.orderBy(order)` with no `partitionBy` moves the whole relation
  * through one task. The kernel never does; it runs two phases instead:
  *
  *  1. range-partition by the order, sort within each partition, tag each
  *     row with its partition id `pid`, and `localCheckpoint`, so the
  *     range boundaries are frozen and every later pass sees the same pids;
  *  2. collect one row per `pid` holding each weight's partition sum (the
  *     only driver materialization: #partitions rows), and add each
  *     partition's exclusive offset, a map literal keyed on `pid`, to a
  *     running sum over the partition's own window.
  *
  * The partition count is explicit: a bare `repartitionByRange(cols)` is an
  * AQE-coalescible exchange, and on a small input AQE folds it to one
  * partition at runtime, re-creating the single-task window invisibly to
  * any static plan assertion. A user-specified count is exempt from
  * coalescing, and reading `spark.sql.shuffle.partitions` keeps it
  * cluster-tuned.
  *
  * Under a total order the ROWS-frame running sum of the weight 1
  * ([[Rank]]) equals `row_number()`, and any weight's ROWS-frame sum equals
  * its default RANGE-frame sum, so every caller gets exactly the values of
  * the single-partition window it replaces.
  */
private[graft] object GlobalPrefix {

  /** `df` is the input plus `pid` and one inclusive running sum per weight,
    * named after the weight; `totals` holds each weight's total over the
    * whole input (0 on an empty input).
    */
  final case class Prefixed(df: DataFrame, totals: Map[String, Long])

  /** The 1-based global rank `r`: the running sum of the weight 1. */
  val Rank: (String, Column) = "r" -> lit(1L)

  /** `df` with the global inclusive running sum of each `weights` column
    * (a long expression) in `order`, which must be total.
    */
  def apply(df: DataFrame, order: Seq[Column], weights: (String, Column)*): Prefixed = {
    require(weights.nonEmpty, "a global prefix needs at least one weight")
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .repartitionByRange(nPart, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val sums = weights.map { case (name, w) => sum(w).as(name) }
    val hist = sorted.groupBy("pid").agg(sums.head, sums.tail: _*).collect()
      .map(r => r.getInt(0) -> weights.indices.map(i => r.getLong(i + 1))).sortBy(_._1)
    val frame = Window.partitionBy("pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixed = weights.zipWithIndex.foldLeft(sorted) { case (acc, ((name, w), i)) =>
      val offsets: Map[Int, Long] =
        hist.map(_._1).zip(hist.scanLeft(0L)(_ + _._2(i))).toMap
      acc.withColumn(name, element_at(typedLit(offsets), col("pid")) + sum(w).over(frame))
    }
    Prefixed(prefixed,
      weights.zipWithIndex.map { case ((name, _), i) => name -> hist.map(_._2(i)).sum }.toMap)
  }

  /** [[apply]] built once per session under `key` in [[SessionMemo]], for
    * a prefix several queries share; `graft.Prewarm.sessionTier` warms each
    * key through the builder that owns it. Keys are caller-authored and
    * embed the sf dir. A key reused with a different order or different
    * weights fails loudly instead of serving the wrong prefix.
    */
  def memoized(s: SparkSession, key: String, df: => DataFrame, order: Seq[Column],
      weights: (String, Column)*): Prefixed = {
    val sig = (order.map(_.toString) ++ weights.map { case (n, w) => s"$n=$w" }).mkString(",")
    val (builtSig, prefixed) = SessionMemo(s, key)(sig -> apply(df, order, weights: _*))
    require(builtSig == sig,
      s"global-prefix key '$key' reused with a different sort order or weights: " +
        s"cached [$builtSig] vs requested [$sig]")
    prefixed
  }
}
