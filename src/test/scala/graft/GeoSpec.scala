package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Geo

/** Exact ray-casting point-in-polygon + bbox prefilter (§2 #20 v2). */
class GeoSpec extends AnyFunSuite with SparkFixture {

  private def withPoints(points: Seq[(Double, Double)]) = {
    import spark.implicits._
    points.toDF("px", "py")
      .withColumn("poly", expr(
        "array(named_struct('x', 0.0D, 'y', 0.0D), named_struct('x', 4.0D, 'y', 0.0D), " +
          "named_struct('x', 4.0D, 'y', 4.0D), named_struct('x', 0.0D, 'y', 4.0D))"))
  }

  test("unit-square membership: inside, outside, concave cases") {
    val df = withPoints(Seq((2.0, 2.0), (5.0, 2.0), (-1.0, -1.0), (3.9, 3.9), (4.5, 4.5)))
      .withColumn("in_poly", Geo.pointInPolygon(col("px"), col("py"), col("poly")))
      .withColumn("in_bbox", Geo.inBBox(col("px"), col("py"), col("poly")))
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(3), r.getBoolean(4)))
    assert(rows.toSeq === Seq(
      (2.0, 2.0, true, true),
      (5.0, 2.0, false, false),
      (-1.0, -1.0, false, false),
      (3.9, 3.9, true, true),
      (4.5, 4.5, false, false)))
  }

  test("L-shaped (concave) polygon: notch is outside, bbox says inside") {
    import spark.implicits._
    // L-shape: (0,0)-(4,0)-(4,2)-(2,2)-(2,4)-(0,4); the notch is x>2,y>2
    val df = Seq((1.0, 3.0), (3.0, 3.0), (3.0, 1.0)).toDF("px", "py")
      .withColumn("poly", expr(
        "array(named_struct('x', 0.0D, 'y', 0.0D), named_struct('x', 4.0D, 'y', 0.0D), " +
          "named_struct('x', 4.0D, 'y', 2.0D), named_struct('x', 2.0D, 'y', 2.0D), " +
          "named_struct('x', 2.0D, 'y', 4.0D), named_struct('x', 0.0D, 'y', 4.0D))"))
      .withColumn("in_poly", Geo.pointInPolygon(col("px"), col("py"), col("poly")))
      .withColumn("in_bbox", Geo.inBBox(col("px"), col("py"), col("poly")))
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(3), r.getBoolean(4)))
    assert(rows.toSeq === Seq(
      (1.0, 3.0, true, true),    // in the L arm
      (3.0, 3.0, false, true),   // in the notch: bbox yes, exact no
      (3.0, 1.0, true, true)))   // in the base
  }

  test("partitioned write produces per-key directories and reads back (#5)") {
    withTempFixture("graft_pw") { fixture =>
      val dir = s"$fixture/t"
      val events = Tables.events(spark, sfDir)
        .withColumn("d", to_date(col("ts")))
      events.write.partitionBy("d").mode("overwrite").parquet(dir)
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
      assert(dirs.nonEmpty && dirs.forall(_.startsWith("d=")))
      val back = spark.read.parquet(dir)
      assert(back.count() === events.count())
      // partition pruning: a d= filter scans only matching partitions
      val oneDay = back.filter(col("d") === "2024-01-03")
      val scan = oneDay.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scan.exists(_.metadata.get("PartitionFilters").exists(_.contains("d"))),
        scan.map(_.metadata).toString)
    }
  }
}
