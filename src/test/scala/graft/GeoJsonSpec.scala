package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GeoJson

/** GeoJSON FeatureCollection → polygon rows feeding the exact PIP
  * expression — the reference's district-boundary ingestion path.
  */
class GeoJsonSpec extends AnyFunSuite with SparkFixture {

  private val fc =
    """{"type": "FeatureCollection", "features": [
      |  {"type": "Feature",
      |   "properties": {"name": "downtown", "code": "D1"},
      |   "geometry": {"type": "Polygon",
      |     "coordinates": [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]]}},
      |  {"type": "Feature",
      |   "properties": {"name": "islands", "code": "D2"},
      |   "geometry": {"type": "MultiPolygon",
      |     "coordinates": [
      |       [[[20.0, 0.0], [30.0, 0.0], [25.0, 8.0], [20.0, 0.0]]],
      |       [[[40.0, 40.0], [50.0, 40.0], [50.0, 50.0], [40.0, 50.0], [40.0, 40.0]]]]}}
      |]}""".stripMargin

  test("mixed Polygon/MultiPolygon collection parses into typed polygon rows") {
    import spark.implicits._
    val rows = GeoJson.features(Seq(fc).toDF("value"), col("value"), "name")
      .orderBy("feature_idx", "poly_idx")
      .collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ===
      Seq((0, "downtown", 0), (1, "islands", 0), (1, "islands", 1)))
    // vertex typing: first polygon's first vertex is (0, 0)
    val poly0 = rows(0).getSeq[org.apache.spark.sql.Row](3)
    assert(poly0.head.getDouble(0) === 0.0 && poly0.head.getDouble(1) === 0.0)
    assert(poly0.length === 5)
  }

  test("whole-file read path parses a GeoJSON document from disk") {
    withTempFixture("graft_gj") { tmp =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/districts.geojson"), fc)
      val rows = GeoJson.read(spark, s"$tmp/districts.geojson").collect()
      assert(rows.length === 3)
      assert(rows.map(_.getString(1)).toSet === Set("downtown", "islands"))
      // r20: every row carries its source file (appended, so positions
      // 0-3 are unchanged) — without it a directory read's polygons were
      // unattributable (feature_idx restarts per document)
      assert(rows.forall(_.getString(4).endsWith("districts.geojson")),
        rows.map(_.getString(4)).mkString(";"))
    }
  }

  test("malformed documents yield zero rows instead of failing the job") {
    import spark.implicits._
    val bad = Seq("{not json at all", """{"type": "FeatureCollection"}""",
      """{"type": "FeatureCollection", "features": [{"type": "Feature",
        |"properties": {"name": "pointy"},
        |"geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}]}""".stripMargin,
      // short-coordinate vertex: must drop the polygon, not ANSI-error
      """{"type": "FeatureCollection", "features": [{"type": "Feature",
        |"properties": {"name": "broken"},
        |"geometry": {"type": "Polygon", "coordinates": [[[1.0], [2.0, 3.0]]]}}]}""".stripMargin,
      // empty coordinates array
      """{"type": "FeatureCollection", "features": [{"type": "Feature",
        |"properties": {"name": "empty"},
        |"geometry": {"type": "Polygon", "coordinates": []}}]}""".stripMargin)
    val out = GeoJson.features(bad.toDF("value"), col("value"), "name").collect()
    // the Point feature parses but contributes no polygon rows; garbage,
    // empty collections, and malformed rings contribute nothing
    assert(out.isEmpty, out.mkString(";"))
  }

  test("features missing the name property parse with name = null") {
    import spark.implicits._
    val noName =
      """{"type": "FeatureCollection", "features": [{"type": "Feature",
        |"properties": {"code": "D9"},
        |"geometry": {"type": "Polygon",
        |  "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]}}]}""".stripMargin
    val rows = GeoJson.features(Seq(noName).toDF("value"), col("value"), "name").collect()
    assert(rows.length === 1)
    assert(rows(0).isNullAt(1)) // name column null, row retained
  }

  test("parsed polygons drive the exact PIP expression") {
    import spark.implicits._
    val polys = GeoJson.features(Seq(fc).toDF("value"), col("value"), "name")
    val pts = Seq((5.0, 5.0, "in downtown"), (25.0, 2.0, "in islands #1"),
      (45.0, 45.0, "in islands #2"), (33.0, 33.0, "nowhere"))
      .toDF("px", "py", "label")
    val hits = pts.crossJoin(polys)
      .filter(expr("graft_pip(px, py, polygon)"))
      .select("label", "name", "poly_idx")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(hits === Set(
      ("in downtown", "downtown", 0),
      ("in islands #1", "islands", 0),
      ("in islands #2", "islands", 1)))
  }
}
