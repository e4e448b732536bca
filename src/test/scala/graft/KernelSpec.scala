package graft

import java.nio.file.{Files, Path, Paths}

import scala.reflect.ClassTag

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `graft_*` scalar kernels (graft.functions.GraftKernel):
  *  - every kernel gives the same rows through its generated code and
  *    through its interpreted `eval`, nulls included. The inputs are read
  *    back from parquet, so no kernel call is constant-folded or evaluated
  *    over a local relation by the optimizer: each one runs in the
  *    projection of the mode under test;
  *  - analysis rejects a wrong-typed argument, a column where a literal
  *    parameter belongs and an out-of-range literal, naming the function;
  *  - only the shared kernel bases generate code;
  *  - the pairwise vector kernels stay bit-identical to the HOF folds they
  *    replaced on NaN, ±0.0, subnormal, empty and generator-random inputs,
  *    and throw on a length mismatch or a null element instead of
  *    truncating or reading null as 0 (the replaced folds returned NULL,
  *    a silent wrong answer). graft_maxabsdiff propagates NaN, so the
  *    consumer's nan-safe `<= θ` prunes a NaN pair like the replaced
  *    `exists(|x−y| > θ)` form did;
  *  - graft_minhash_sig_arr skips null hashes like its aggregate twin;
  *  - graft_inter_size_l equals size(array_intersect) on strictly
  *    ascending inputs and throws on an unsorted or duplicate visited
  *    prefix or a null element; graft_ngrams equals the zip_with gram
  *    chains it replaced.
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
      // no fallback: generated code that does not compile fails the test
      val (generated, wholeStage) = under(GraftSession.Generated ++ Map(
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"))(run)
      val (interpreted, wholeStageOff) = under(GraftSession.Interpreted)(run)
      assert(wholeStage, "the default mode must run generated code")
      assert(!wholeStageOff, "the interpreted mode must not run generated code")
      assert(generated.length === 4)
      for (((name, _), i) <- cases.zipWithIndex)
        assert(generated.map(_.get(i + 1)) === interpreted.map(_.get(i + 1)), name)
    }
  }

  /** Columns of one row that the analysis-error calls below can name. */
  private def oneRow: DataFrame = spark.range(1).selectExpr("id", "'a b c' AS s",
    "array(1L, 2L) AS la", "array(1.0D, 2.0D) AS fa", "array_repeat(0L, 32) AS sk")

  /** The message of the `E` that analysing `call` over [[oneRow]] throws. */
  private def rejection[E <: Exception: ClassTag](call: String): String =
    intercept[E](oneRow.selectExpr(call).queryExecution.assertAnalyzed()).getMessage

  test("every scalar kernel rejects a wrong-typed argument at analysis, naming itself") {
    val wrong = Seq(
      "graft_haversine" -> "graft_haversine(la, 1D, 2D, 3D)",
      "graft_rolling_hash" -> "graft_rolling_hash(id)",
      "graft_dot" -> "graft_dot(la, la)",
      "graft_sql2" -> "graft_sql2(fa, fa)",
      "graft_ldot" -> "graft_ldot(la, fa)",
      "graft_eqcount" -> "graft_eqcount(id, la)",
      "graft_maxabsdiff" -> "graft_maxabsdiff(la, la)",
      "graft_inter_size_l" -> "graft_inter_size_l(s, la)",
      "graft_ngrams" -> "graft_ngrams(id, 2)",
      "graft_jaro_winkler" -> "graft_jaro_winkler(id, s)",
      "graft_damerau_levenshtein" -> "graft_damerau_levenshtein(s, la)",
      "graft_minhash_sig_arr" -> "graft_minhash_sig_arr(fa, 16)",
      "graft_sign_lsh" -> "graft_sign_lsh(la, 2, 8)",
      "graft_cms_estimate" -> "graft_cms_estimate(sk, s, 2, 16)")
    assert(wrong.size === 14)
    for ((name, call) <- wrong) {
      val msg = rejection[AnalysisException](call)
      assert(msg.contains(name), s"$call: $msg")
    }
  }

  test("each literal parameter rejects a column argument") {
    for ((name, call) <- Seq(
        "graft_ngrams" -> "graft_ngrams(s, id)",
        "graft_minhash_sig_arr" -> "graft_minhash_sig_arr(la, id)",
        "graft_sign_lsh" -> "graft_sign_lsh(fa, id, 8)",
        "graft_sign_lsh" -> "graft_sign_lsh(fa, 2, id)",
        "graft_cms_estimate" -> "graft_cms_estimate(sk, id, id, 16)",
        "graft_cms_estimate" -> "graft_cms_estimate(sk, id, 2, id)")) {
      val msg = rejection[IllegalArgumentException](call)
      assert(msg.contains(name) && msg.contains("literal"), s"$call: $msg")
    }
  }

  test("each range check rejects an out-of-range literal") {
    for ((name, call) <- Seq(
        "graft_ngrams" -> "graft_ngrams(s, 0)",
        "graft_minhash_sig_arr" -> "graft_minhash_sig_arr(la, 0)",
        "graft_minhash_sig_arr" -> "graft_minhash_sig_arr(la, 257)",
        "graft_sign_lsh" -> "graft_sign_lsh(fa, 0, 8)",
        "graft_sign_lsh" -> "graft_sign_lsh(fa, 2, 0)",
        "graft_sign_lsh" -> "graft_sign_lsh(fa, 2, 65)",
        "graft_sign_lsh" -> "graft_sign_lsh(fa, 128, 64)")) {
      val msg = rejection[AnalysisException](call)
      assert(msg.contains(name), s"$call: $msg")
    }
    // the edges of each range are accepted
    oneRow.selectExpr("graft_ngrams(s, 1)", "graft_minhash_sig_arr(la, 256)",
      "graft_sign_lsh(fa, 64, 64)").queryExecution.assertAnalyzed()
  }

  test("under src/main only the shared kernel bases generate code") {
    val root = Paths.get("src/main/scala")
    val lines = Files.walk(root).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val rel = root.relativize(f).toString
        Files.readAllLines(f).toArray.toSeq.map(_.toString.trim)
          .filter(l => l.contains("doGenCode") || l.contains("defineCodeGen"))
          .map(rel -> _)
      }
    val base = "graft/functions/GraftExpressions.scala"
    assert(lines.map(_._1).toSet === Set(base),
      "a scalar kernel extends UnaryKernel, BinaryKernel or QuaternaryKernel")
    // one doGenCode per arity, each a defineCodeGen of the static call
    assert(lines.map(_._2) === Seq(
      "override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =",
      "defineCodeGen(ctx, ev, staticCall(_))",
      "override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =",
      "defineCodeGen(ctx, ev, staticCall(_, _))",
      "override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =",
      "defineCodeGen(ctx, ev, staticCall(_, _, _, _))"))
  }

  private def arithmeticCause(t: Throwable): Boolean = t != null &&
    (t.isInstanceOf[IllegalArgumentException] || arithmeticCause(t.getCause))

  test("pairwise kernels throw loudly on length mismatch and null elements") {
    import spark.implicits._
    val mism = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val nul = Seq((Seq[java.lang.Long](1L, null, 3L),
      Seq[java.lang.Long](1L, 2L, 3L))).toDF("a", "b")
    val kernels = Seq(
      "graft_sql2(a, b)", "graft_ldot(a, b)", "graft_eqcount(a, b)",
      "graft_maxabsdiff(cast(a as array<double>), cast(b as array<double>))",
      "graft_dot(cast(a as array<double>), cast(b as array<double>))")
    for (k <- kernels; df <- Seq(mism -> "length mismatch", nul -> "null element")) {
      val e = intercept[Throwable] { df._1.select(expr(k)).collect() }
      assert(arithmeticCause(e),
        s"$k must throw IllegalArgumentException on ${df._2}, got $e")
    }
    // a NULL ARRAY argument is still SQL-null-propagating (unchanged
    // BinaryExpression semantics — only malformed CONTENT is loud)
    val nullArr = Seq((Option.empty[Seq[Long]], Option(Seq(1L, 2L))))
      .toDF("a", "b")
    assert(nullArr.select(expr("graft_ldot(a, b)")).collect()(0).isNullAt(0))
    // loud-shape contract takes precedence over NaN propagation: a null
    // element sitting AFTER a NaN diff must still throw (the null scan
    // covers every position — no NaN early-return may skip it)
    val nanThenNull = Seq((Seq[java.lang.Double](Double.NaN, null),
      Seq[java.lang.Double](1.0, 1.0))).toDF("a", "b")
    val e2 = intercept[Throwable] {
      nanThenNull.select(expr("graft_maxabsdiff(a, b)")).collect()
    }
    assert(arithmeticCause(e2),
      s"null after NaN must still throw, got $e2")
  }

  test("double kernels match the HOF folds bitwise on NaN/±0.0/subnormal/empty") {
    import spark.implicits._
    val nan = Double.NaN
    val sub = java.lang.Double.MIN_VALUE // smallest subnormal
    val rows = Seq(
      (Seq(0.0, -0.0, 1.0), Seq(-0.0, 0.0, 1.0)), // signed zeros
      (Seq(sub, 2 * sub, -sub), Seq(-sub, sub, 4 * sub)), // subnormals
      (Seq(nan, 1.0), Seq(1.0, 1.0)), // NaN element
      (Seq(1.0, nan), Seq(nan, 2.0)), // NaN both sides
      (Seq.empty[Double], Seq.empty[Double])) // length 0
    val got = rows.toDF("a", "b").select(
      expr("graft_dot(a, b)").as("k_dot"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, " +
        "(acc, v) -> acc + v)").as("h_dot"),
      expr("graft_maxabsdiff(a, b)").as("k_mad"),
      // the REPLACED exists-form at θ = 0.5, nan-safe like Spark:
      expr("not exists(zip_with(a, b, (x, y) -> abs(x - y)), d -> d > 0.5D)")
        .as("h_keep"),
      expr("graft_maxabsdiff(a, b) <= 0.5D").as("k_keep")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"graft_dot != HOF fold on ${r}")
      assert(r.getBoolean(3) === r.getBoolean(4),
        s"maxabsdiff prune decision != exists-form on ${r}")
    }
    // NaN diff propagates: kernel reads NaN, and the nan-safe <= θ
    // prunes (matches exists-form: NaN > θ was TRUE ⇒ pruned)
    assert(got(2).getDouble(2).isNaN, "NaN diff must propagate to NaN")
    assert(!got(2).getBoolean(4), "NaN pair must be pruned by <= θ")
    // empty arrays: max over nothing = 0.0 ⇒ kept (θ > 0)
    assert(got(4).getDouble(2) === 0.0)
    assert(got(4).getBoolean(4))
  }

  test("long kernels match the HOF folds on boundary magnitudes and empty") {
    import spark.implicits._
    // magnitudes near the safe envelope (3·(1.5e9)² < 2⁶³ so the SUM
    // stays exact too), zeros, sign flips, and the empty vector
    val m = 1500000000L
    val rows = Seq(
      (Seq(m, -m, 0L), Seq(0L, 0L, m)),
      (Seq(-1L, 1L, -1L), Seq(1L, -1L, 1L)),
      (Seq.empty[Long], Seq.empty[Long]))
    val got = rows.toDF("a", "b").select(
      expr("graft_sql2(a, b)").as("k_sql2"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, " +
        "(acc, v) -> acc + v)").as("h_sql2"),
      expr("graft_ldot(a, b)").as("k_dot"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, " +
        "(acc, v) -> acc + v)").as("h_dot"),
      expr("graft_eqcount(a, b)").as("k_eq"),
      expr("aggregate(zip_with(a, b, (x, y) -> if(x = y, 1L, 0L)), 0L, " +
        "(acc, v) -> acc + v)").as("h_eq")).collect()
    got.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), s"sql2 != HOF on $r")
      assert(r.getLong(2) === r.getLong(3), s"ldot != HOF on $r")
      assert(r.getLong(4) === r.getLong(5), s"eqcount != HOF on $r")
    }
    assert(got(2).getLong(0) === 0L) // empty folds to the seed
  }

  test("kernels equal the HOF folds on generator-random vectors (property)") {
    import spark.implicits._
    // ScalaCheck-drawn vectors (fixed seeds — reproducible) generalize the
    // fixed adversarial tables: dims 1..96 incl. mismatched magnitudes,
    // dense zero runs, and negative-heavy draws. The long draws stay in
    // the micro-quantization envelope so the folds don't (legitimately)
    // overflow; doubles mix magnitudes across 12 decimal orders.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def draw[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val dimG = Gen.choose(1, 96)
    val longPair = for {
      n <- dimG
      a <- Gen.listOfN(n, Gen.frequency(
        3 -> Gen.choose(-2000000L, 2000000L), 1 -> Gen.const(0L)))
      b <- Gen.listOfN(n, Gen.choose(-2000000L, 2000000L))
    } yield (a, b)
    val dblPair = for {
      n <- dimG
      a <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-1e6, 1e6), Gen.choose(-1e-6, 1e-6)))
      b <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
    } yield (a, b)
    val longs = (0 until 64).map(i => draw(longPair, 2020L + i))
    val dbls = (0 until 64).map(i => draw(dblPair, 4040L + i))
    longs.toDF("a", "b").select(
      expr("graft_sql2(a, b)"), expr("aggregate(zip_with(a, b, " +
        "(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"),
      expr("graft_ldot(a, b)"), expr("aggregate(zip_with(a, b, " +
        "(x, y) -> x * y), 0L, (acc, v) -> acc + v)"),
      expr("graft_eqcount(a, b)"), expr("aggregate(zip_with(a, b, " +
        "(x, y) -> if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"))
      .collect().foreach { r =>
        assert(r.getLong(0) === r.getLong(1), s"sql2 property fail: $r")
        assert(r.getLong(2) === r.getLong(3), s"ldot property fail: $r")
        assert(r.getLong(4) === r.getLong(5), s"eqcount property fail: $r")
      }
    dbls.toDF("a", "b").select(
      expr("graft_dot(a, b)"), expr("aggregate(zip_with(a, b, " +
        "(x, y) -> x * y), 0D, (acc, v) -> acc + v)"),
      expr("graft_maxabsdiff(a, b)"), expr("aggregate(zip_with(a, b, " +
        "(x, y) -> abs(x - y)), 0D, (acc, v) -> greatest(acc, v))"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)),
          s"dot property fail: $r")
        assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(3)),
          s"maxabsdiff property fail: $r")
      }
  }

  test("minhash signature expr skips null hashes exactly like the aggregate") {
    import spark.implicits._
    // pre-r20 the scalar expr read a null slot as 0L, which wins min for
    // many permutations — a silent batch/stream signature divergence
    // (the aggregate twin skips nulls via its child.eval == null guard)
    val df = Seq((Seq[java.lang.Long](12345L, null, 67890L),
      Seq[java.lang.Long](12345L, 67890L))).toDF("with_null", "clean")
    val r = df.select(
      expr("graft_minhash_sig_arr(with_null, 16)").as("a"),
      expr("graft_minhash_sig_arr(clean, 16)").as("b")).collect()(0)
    assert(r.getSeq[Long](0) === r.getSeq[Long](1),
      "null hash elements must be skipped, not read as 0L")
  }

  private def interOne(aArr: Seq[java.lang.Long], bArr: Seq[java.lang.Long]): Long = {
    import spark.implicits._
    Seq((aArr, bArr)).toDF("a", "b")
      .select(expr("graft_inter_size_l(a, b)").as("c"))
      .collect()(0).getLong(0)
  }

  test("graft_inter_size_l equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    val rows = (1 to 200).map { _ =>
      def set() = rnd.shuffle((-50 to 50).toList).take(rnd.nextInt(40))
        .map(_.toLong).distinct.sorted
      (set(), set())
    }
    val df = rows.toDF("a", "b")
      .select(expr("graft_inter_size_l(a, b)").as("kernel"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
    val bad = df.filter(col("kernel") =!= col("builtin")).count()
    assert(bad === 0, "merge kernel must equal array_intersect size exactly")
    // boundary shapes
    assert(interOne(Seq.empty, Seq.empty) === 0L)
    assert(interOne(Seq(1L), Seq.empty) === 0L)
    assert(interOne(Seq(Long.MinValue, 0L, Long.MaxValue),
      Seq(Long.MinValue, 1L, Long.MaxValue)) === 2L)
  }

  test("graft_inter_size_l loud guards: unsorted, duplicate, null element") {
    def root(t: Throwable): Throwable =
      Iterator.iterate(t)(_.getCause).dropWhile(x =>
        x.getCause != null && !x.isInstanceOf[IllegalArgumentException]).next()
    val unsorted = intercept[Exception] { interOne(Seq(2L, 1L, 3L), Seq(1L, 2L, 3L)) }
    assert(root(unsorted).getMessage.contains("strictly ascending"),
      s"unsorted left must throw loudly: ${root(unsorted).getMessage}")
    val dup = intercept[Exception] { interOne(Seq(1L, 2L), Seq(1L, 1L, 2L)) }
    assert(root(dup).getMessage.contains("strictly ascending"),
      s"duplicate (collision) must throw loudly: ${root(dup).getMessage}")
    val nul = intercept[Exception] { interOne(Seq(1L, null, 3L), Seq(1L, 2L)) }
    assert(root(nul).getMessage.contains("null element"),
      s"null element must throw loudly: ${root(nul).getMessage}")
  }

  test("graft_ngrams equals the zip_with gram chains byte-for-byte") {
    import spark.implicits._
    // adversarial shapes: empty string, single token, consecutive /
    // leading / trailing spaces (split keeps ALL empties at limit -1),
    // multibyte UTF-8, and exactly-n tokens
    val texts = Seq(
      "", "one", "a b", "a b c", "a b c d e",
      "a  b", " a b", "a b ", "  ", "é ü 漢字 b",
      "x y z w", "tok", "a a a a a a")
    val rnd = new scala.util.Random(22L)
    val vocab = Vector("aa", "b", "céd", "dd", "e", "")
    val fuzz = (1 to 100).map(_ =>
      (1 to rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val df = (texts ++ fuzz).toDF("text")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
    for (k <- Seq(2, 3)) {
      val chain = if (k == 2)
        operators.PipelineOps.biGrams(col("toks"), col("n"))
      else operators.PipelineOps.triGrams(col("toks"), col("n"))
      val bad = df.select(expr(s"graft_ngrams(text, $k)").as("kern"),
          chain.as("chain"))
        .filter(not(col("kern") <=> col("chain"))).count()
      assert(bad === 0, s"graft_ngrams(text, $k) must equal the zip_with chain")
    }
    // n = 1 is the token array itself
    val bad1 = df.select(expr("graft_ngrams(text, 1)").as("kern"),
        col("toks")).filter(not(col("kern") <=> col("toks"))).count()
    assert(bad1 === 0, "graft_ngrams(text, 1) must equal split(text, ' ')")
  }
}
