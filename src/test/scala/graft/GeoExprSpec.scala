package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native PIP expression + the bbox-prefilter optimizer rule. */
class GeoExprSpec extends AnyFunSuite with SparkFixture {

  private val squarePoly =
    "array(named_struct('x', 0.0D, 'y', 0.0D), named_struct('x', 4.0D, 'y', 0.0D), " +
      "named_struct('x', 4.0D, 'y', 4.0D), named_struct('x', 0.0D, 'y', 4.0D))"

  test("graft_pip agrees with the column-expression ray casting") {
    import spark.implicits._
    val pts = Seq((2.0, 2.0), (5.0, 2.0), (-1.0, -1.0), (3.9, 3.9), (0.5, 3.99))
      .toDF("px", "py").withColumn("poly", expr(squarePoly))
    val rows = pts
      .withColumn("native", expr("graft_pip(px, py, poly)"))
      .withColumn("columnar", graft.functions.Geo.pointInPolygon(col("px"), col("py"), col("poly")))
      .collect()
    rows.foreach(r => assert(r.getBoolean(3) === r.getBoolean(4), r.toString))
  }

  test("optimizer rule conjoins the bbox prefilter exactly once") {
    // parquet-backed points: a LocalRelation would be constant-folded away
    val pts = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        (col("c_custkey") % 8).cast("double").as("px"),
        (col("c_custkey") % 5).cast("double").as("py"))
      .withColumn("poly", expr(squarePoly))
    val df = pts.filter(expr("graft_pip(px, py, poly)"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_bbox_contains"), optimized)
    // exactly one bbox per pip (rule is fixed-point safe)
    assert(optimized.split("graft_bbox_contains").length - 1 ===
      optimized.split("graft_pip").length - 1, optimized)
    // semantics: inside the square iff px<4 (px in 0..7) — boundary points
    // on the top/right edge are outside for ray casting; py in 0..4
    val expected = pts.filter(
      graft.functions.Geo.pointInPolygon(col("px"), col("py"), col("poly")))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val actual = df.select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(actual === expected && actual.nonEmpty)
  }

  test("q_pip_exact plan puts the bbox conjunct AHEAD of the ray cast") {
    val df = operators.Joins.queries("q_pip_exact")(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan
    // find the condition carrying the PIP predicate (the optimizer pushes
    // the filter into the join condition) and assert the And ordering:
    // cheap bbox left (evaluated first), exact PIP right
    val conds = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      case j: org.apache.spark.sql.catalyst.plans.logical.Join if j.condition.nonEmpty =>
        j.condition.get
    }
    val pipAnds = conds.flatMap(_.collect {
      case a @ org.apache.spark.sql.catalyst.expressions.And(l, r)
        if l.isInstanceOf[graft.functions.BBoxContainsExpr]
          && r.isInstanceOf[graft.functions.PointInPolygonExpr] => a
    })
    assert(pipAnds.nonEmpty, optimized.toString)
    assert(df.count() > 0)
  }
}
