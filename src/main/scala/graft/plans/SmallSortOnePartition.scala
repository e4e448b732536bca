package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, GlobalLimit, Join,
  LocalLimit, LogicalPlan, Offset, Project, Repartition, RepartitionByExpression, Sort, Tail, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** A global sort over a small input sorts in one partition.
  *
  * Spark plans a global `Sort` over a range exchange, and the range
  * partitioner first runs a sampling job to place its bounds. When the
  * sort's input is estimated at no more than
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (Spark's own
  * conf, 1 MiB), AQE coalesces the range exchange's output into one
  * partition anyway, so the sampling job buys nothing. This rule gives
  * such a sort a one-partition shuffle child (`Repartition(1)`, planned as
  * a `SinglePartition` exchange), which satisfies the sort's ordered
  * distribution without bounds.
  *
  * The rule leaves alone:
  *  - a sort under a limit or offset, which plans as `TakeOrderedAndProject`;
  *  - a child with at most one row;
  *  - a child that already yields one partition, so its sort plans no
  *    exchange at all: a window with no partition spec, a global aggregate,
  *    a global limit or a one-partition repartition, seen through
  *    projections, filters, generators, windows and aggregates over it and
  *    joins of such children. The repartition case also keeps the rule
  *    from wrapping its own output again as the optimizer batch runs to a
  *    fixed point;
  *  - streaming plans, and sessions without AQE partition coalescing.
  */
object SmallSortOnePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = SQLConf.get
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) return plan
    val limit = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    // identities: the rewrite below rebuilds no node above an unchanged one
    val limited = plan.collect {
      case l @ (_: GlobalLimit | _: LocalLimit | _: Offset | _: Tail) => l.children.collect {
        case s: Sort => s
        case Project(_, s: Sort) => s
      }
    }.flatten
    plan.transformDown {
      case s: Sort if s.global && !s.isStreaming && !limited.exists(_ eq s) &&
          !s.child.maxRows.exists(_ <= 1) && !onePartition(s.child) &&
          s.child.stats.sizeInBytes <= limit =>
        s.copy(child = Repartition(1, shuffle = true, s.child))
    }
  }

  /** Whether Spark plans `p` with a `SinglePartition` output, which
    * satisfies a global sort's distribution without an exchange. */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case w: Window => w.partitionSpec.isEmpty || onePartition(w.child)
    case a: Aggregate => a.groupingExpressions.isEmpty || onePartition(a.child)
    case _: GlobalLimit | _: Tail => true
    case r: Repartition => r.numPartitions == 1
    case r: RepartitionByExpression => r.numPartitions == 1
    case j: Join => j.children.forall(onePartition)
    case _: Project | _: Filter | _: Generate => onePartition(p.children.head)
    case _ => false
  }
}
