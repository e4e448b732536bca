package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft_*` scalar kernel gives the same rows through its generated
  * code (`doGenCode`) and through its interpreted `eval`, nulls included.
  * The inputs are read back from parquet, so no kernel call is
  * constant-folded or evaluated over a local relation by the optimizer:
  * each one runs in the projection of the mode under test.
  */
class KernelSpec extends AnyFunSuite with SparkFixture {

  /** The aggregates among the registered `graft_*` functions. */
  private val aggregates =
    Set("graft_minhash_sig", "graft_simhash", "graft_cms_agg", "graft_bloom_agg")

  /** One call per scalar kernel over the columns of [[inputs]]. */
  private def calls(bloomHex: String): Map[String, String] = Map(
    "graft_haversine" -> "graft_haversine(lat1, lon1, lat2, lon2)",
    "graft_rolling_hash" -> "graft_rolling_hash(s1)",
    "graft_dot" -> "graft_dot(fa, fb)",
    "graft_sql2" -> "graft_sql2(la, lb)",
    "graft_ldot" -> "graft_ldot(la, lb)",
    "graft_eqcount" -> "graft_eqcount(la, lb)",
    "graft_maxabsdiff" -> "graft_maxabsdiff(fa, fb)",
    "graft_inter_size_l" -> "graft_inter_size_l(la, lb)",
    "graft_ngrams" -> "graft_ngrams(s1, 2)",
    "graft_jaro_winkler" -> "graft_jaro_winkler(s1, s2)",
    "graft_damerau_levenshtein" -> "graft_damerau_levenshtein(s1, s2)",
    "graft_minhash_sig_arr" -> "graft_minhash_sig_arr(la, 16)",
    "graft_sign_lsh" -> "graft_sign_lsh(fa, 2, 8)",
    "graft_cms_estimate" -> "graft_cms_estimate(sk, h, 2, 16)",
    "graft_might_contain" -> s"graft_might_contain(X'$bloomHex', h)",
    "graft_pip" -> "graft_pip(px, py, poly)",
    "graft_bbox_contains" -> "graft_bbox_contains(px, py, poly)")

  /** Four rows: typical values, all NULL, some arguments NULL, and
    * degenerate values (zeros, empty strings and arrays, a point on a
    * polygon vertex).
    */
  private def writeInputs(dir: String): Unit = {
    val square = "array(named_struct('x', 0D, 'y', 0D), named_struct('x', 1D, 'y', 0D), " +
      "named_struct('x', 1D, 'y', 1D), named_struct('x', 0D, 'y', 1D))"
    spark.sql(s"""SELECT * FROM VALUES
      |(1L, 40.7D, -74.0D, 51.5D, -0.1D, 'the quick brown fox', 'the quikc brown fx',
      |  array(1.5D, -2.0D, 3.25D), array(0.5D, 4.0D, -1.0D),
      |  array(1L, 3L, 5L, 9L), array(2L, 3L, 9L, 11L),
      |  0.5D, 0.5D, $square, sequence(1L, 32L), 12345L),
      |(2L, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
      |  NULL, NULL, NULL, NULL, NULL),
      |(3L, NULL, 2.0D, 3.0D, 4.0D, 'abc', NULL, array(1.0D), NULL,
      |  NULL, array(7L), 0.5D, NULL, $square, sequence(32L, 1L, -1L), NULL),
      |(4L, 0D, 0D, 0D, 0D, '', '', CAST(array() AS array<double>),
      |  CAST(array() AS array<double>), CAST(array() AS array<bigint>),
      |  CAST(array() AS array<bigint>), 1D, 1D, $square,
      |  CAST(array_repeat(0L, 32) AS array<bigint>), -1L)
      |AS t(id, lat1, lon1, lat2, lon2, s1, s2, fa, fb, la, lb, px, py, poly, sk, h)
      |""".stripMargin).write.parquet(dir)
  }

  /** Collect `build()` with `conf` set, restoring the previous conf after;
    * also reports whether the plan ran whole-stage generated code.
    */
  private def under(conf: Map[String, String])(build: => DataFrame): (Seq[Row], Boolean) =
    withConf(conf) {
      val df = build
      val rows = df.collect().toSeq
      (rows, PlanWalk.collectAll(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[WholeStageCodegenExec]))
    }

  test("every graft_* scalar kernel evaluates the same generated and interpreted") {
    val fresh = spark.newSession()
    GraftSession.install(fresh)
    val scalar = fresh.catalog.listFunctions().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet -- aggregates
    val bloom = spark.range(0, 50).selectExpr("graft_bloom_agg(id, 50L, 1024L)")
      .head().getAs[Array[Byte]](0)
    val cases = calls(bloom.map("%02X".format(_)).mkString).toSeq.sortBy(_._1)
    assert(cases.map(_._1).toSet === scalar,
      "every registered scalar kernel needs a call here")
    withTempFixture("graft_kernels") { tmp =>
      val inputs = s"$tmp/inputs.parquet"
      writeInputs(inputs)
      def run = spark.read.parquet(inputs)
        .selectExpr("id" +: cases.map { case (n, c) => s"$c AS $n" }: _*).orderBy("id")
      val (generated, wholeStage) = under(GraftSession.Generated)(run)
      val (interpreted, wholeStageOff) = under(GraftSession.Interpreted)(run)
      assert(wholeStage, "the default mode must run generated code")
      assert(!wholeStageOff, "the interpreted mode must not run generated code")
      assert(generated.length === 4)
      for (((name, _), i) <- cases.zipWithIndex)
        assert(generated.map(_.get(i + 1)) === interpreted.map(_.get(i + 1)), name)
    }
  }
}
