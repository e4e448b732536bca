package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Expression-level spatial predicates + the SURVEY §4.3.2 optimizer rule:
  * the reference prefilters point-in-polygon with an rtree/bbox pass;
  * here the same idea is a Catalyst rewrite — any Filter containing the
  * expensive exact PIP predicate gets the cheap bbox test conjoined in
  * front, so short-circuit evaluation rejects far-away points without
  * running ray casting, and the bbox conjunct is eligible for further
  * pushdown on its own.
  */
private[functions] trait GeoPredicate extends TernaryExpression with CodegenFallback {
  override def first: Expression
  override def second: Expression
  override def third: Expression

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = {
    val polyOk = third.dataType match {
      case ArrayType(s: StructType, _) =>
        s.fields.length == 2 && s.fields.forall(_.dataType == DoubleType)
      case _ => false
    }
    if (first.dataType == DoubleType && second.dataType == DoubleType && polyOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (double, double, array<struct<x:double,y:double>>)")
  }
}

/** Exact ray-casting point-in-polygon (expensive: O(vertices) trig-free
  * arithmetic per row).
  */
case class PointInPolygonExpr(first: Expression, second: Expression, third: Expression)
  extends GeoPredicate {
  override def prettyName: String = "graft_pip"

  override protected def nullSafeEval(px: Any, py: Any, poly: Any): Any = {
    val x = px.asInstanceOf[Double]
    val y = py.asInstanceOf[Double]
    val arr = poly.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var inside = false
    var i = 0
    while (i < n) {
      val a = arr.getStruct(i, 2)
      val b = arr.getStruct((i + 1) % n, 2)
      val (ax, ay) = (a.getDouble(0), a.getDouble(1))
      val (bx, by) = (b.getDouble(0), b.getDouble(1))
      if ((ay > y) != (by > y) && x < (bx - ax) * (y - ay) / (by - ay) + ax)
        inside = !inside
      i += 1
    }
    inside
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): PointInPolygonExpr =
    copy(first = f, second = s, third = t)
}

/** Cheap axis-aligned bbox containment (the prefilter). */
case class BBoxContainsExpr(first: Expression, second: Expression, third: Expression)
  extends GeoPredicate {
  override def prettyName: String = "graft_bbox_contains"

  override protected def nullSafeEval(px: Any, py: Any, poly: Any): Any = {
    val x = px.asInstanceOf[Double]
    val y = py.asInstanceOf[Double]
    val arr = poly.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var (minX, maxX, minY, maxY) = (Double.MaxValue, Double.MinValue, Double.MaxValue, Double.MinValue)
    var i = 0
    while (i < n) {
      val v = arr.getStruct(i, 2)
      val (vx, vy) = (v.getDouble(0), v.getDouble(1))
      if (vx < minX) minX = vx
      if (vx > maxX) maxX = vx
      if (vy < minY) minY = vy
      if (vy > maxY) maxY = vy
      i += 1
    }
    x >= minX && x <= maxX && y >= minY && y <= maxY
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): BBoxContainsExpr =
    copy(first = f, second = s, third = t)
}

/** Conjoins the bbox prefilter in front of every exact PIP predicate —
  * the reference's manual "bbox first, exact second" ordering as a
  * declarative rewrite. Matches BOTH Filter conditions and Join
  * conditions: PushPredicateThroughJoin moves a PIP filter over a
  * point×district cross join INTO the join condition before user-provided
  * rules run, so a Filter-only rewrite would silently miss the most
  * common spatial-join shape. Guarded on the absence of BBoxContainsExpr
  * so the fixed-point optimizer applies it exactly once per condition.
  */
object PipBBoxPrefilter extends Rule[LogicalPlan] {
  private def needs(cond: Expression): Boolean =
    cond.exists(_.isInstanceOf[PointInPolygonExpr]) &&
      !cond.exists(_.isInstanceOf[BBoxContainsExpr])

  private def conjoin(cond: Expression): Expression = cond.transformUp {
    case p: PointInPolygonExpr =>
      And(BBoxContainsExpr(p.first, p.second, p.third), p)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) if needs(cond) =>
      Filter(conjoin(cond), child)
    case j: org.apache.spark.sql.catalyst.plans.logical.Join
      if j.condition.exists(needs) =>
      j.copy(condition = j.condition.map(conjoin))
  }
}
