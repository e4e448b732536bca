package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Whole-operator Catalyst extension (SURVEY.md §4.3.3): top-k-per-group.
  *
  * The declarative pattern `row_number().over(partitionBy p orderBy o)
  * <= k` computes a rank for EVERY row — at 100 TB that is a full sort and
  * full materialization of each partition just to throw away all but k
  * rows. [[RankFilterToTopK]] recognizes the rank-filter shape in the
  * optimized logical plan and replaces Filter+Window with a dedicated
  * [[TopKPerGroupNode]]; [[TopKPerGroupStrategy]] plans it into
  * [[TopKPerGroupExec]], which streams each sorted group and stops
  * emitting after k rows — same sort requirement, no rank column
  * materialization for discarded rows, early-out per group.
  *
  * Installed per session by [[graft.GraftSession.install]] (experimental
  * extraOptimizations/extraStrategies — the public injection points that
  * work on an already-created session, including the plain sessions and
  * `newSession()`s a caller builds without the factory).
  */
case class TopKPerGroupNode(partitionSpec: Seq[Expression],
                            orderSpec: Seq[SortOrder],
                            k: Int,
                            rankAttr: Attribute,
                            child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

/** Rewrites Filter(rank cmp K) directly above Window[row_number] into
  * TopKPerGroupNode. Matches rn <= K, rn < K, rn = 1 (dedup-keep-latest).
  */
object RankFilterToTopK extends Rule[LogicalPlan] {

  private def rankLimit(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rank) => Some(k)
    // k > MinValue: k - 1 must not wrap to MaxValue (rn < MinValue is an
    // always-false filter that would otherwise rewrite into keep-everything)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rank) && k > Int.MinValue => Some(k - 1)
    case EqualTo(a: Attribute, Literal(1, IntegerType)) if a.semanticEquals(rank) => Some(1)
    case EqualTo(Literal(1, IntegerType), a: Attribute) if a.semanticEquals(rank) => Some(1)
    case _ => None
  }

  /** Float/double anywhere in a partition-key type ⇒ skip the rewrite:
    * TopKPerGroupExec detects group boundaries by raw UnsafeRow byte
    * equality, and NormalizeFloatingNumbers only targets built-in
    * Window/Aggregate/Join nodes — 0.0 vs -0.0 (or NaN bit patterns) in a
    * float key would split one group into two. Integer/string/date keys —
    * the overwhelmingly common case — keep the fast path.
    */
  private def hasFloatingPoint(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case FloatType | DoubleType => true
      case ArrayType(et, _) => hasFloatingPoint(et)
      case MapType(kt, vt, _) => hasFloatingPoint(kt) || hasFloatingPoint(vt)
      case StructType(fields) => fields.exists(f => hasFloatingPoint(f.dataType))
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window)
      if w.windowExpressions.size == 1 && w.orderSpec.nonEmpty =>
      w.windowExpressions.head match {
        case alias @ Alias(WindowExpression(_: RowNumber, WindowSpecDefinition(part, order, _)), _) =>
          rankLimit(cond, alias.toAttribute) match {
            case Some(k) if k >= 1 && !part.exists(p => hasFloatingPoint(p.dataType)) =>
              TopKPerGroupNode(part, order, k, alias.toAttribute, w.child)
            case _ => f
          }
        case _ => f
      }
  }
}

object TopKPerGroupStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(part, order, k, rankAttr, child) =>
      TopKPerGroupExec(part, order, k, rankAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Streaming per-group take-k over input clustered by the partition keys
  * and sorted by (partition, order) — Spark inserts the exchange + sort
  * from the required distribution/ordering, exactly as it would for
  * WindowExec, but execution is a single forward pass with early emission
  * cut-off per group.
  */
case class TopKPerGroupExec(partitionSpec: Seq[Expression],
                            orderSpec: Seq[SortOrder],
                            k: Int,
                            rankAttr: Attribute,
                            child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partitionSpec.map(SortOrder(_, Ascending)) ++ orderSpec)

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val partExprs = partitionSpec
    val limit = k
    child.execute().mapPartitions { iter =>
      val grouping = UnsafeProjection.create(partExprs, childOutput)
      val outProj = UnsafeProjection.create(output, childOutput :+ rankAttr)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      var currentKey: UnsafeRow = null
      var rank = 0
      iter.flatMap { row =>
        val key = grouping(row)
        if (currentKey == null || key != currentKey) {
          currentKey = key.copy()
          rank = 0
        }
        rank += 1
        if (rank <= limit) {
          rankRow.update(0, rank)
          Some(outProj(joined(row, rankRow)))
        } else None
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
