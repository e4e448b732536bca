package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-20 pins:
  *
  *  1. Adversarial constant vectors for the five pairwise codegen
  *     kernels (the r19 verdict item): NaN / ±0.0 / subnormal /
  *     length-0 inputs must stay bit-identical to the interpreted HOF
  *     folds they replaced, so a future JIT or Spark upgrade that
  *     changes fold order or NaN handling fails loudly AT THE KERNEL,
  *     not two queries downstream.
  *  2. The r20 loud-shape contract (closes the r19 ADVICE low): a
  *     length-mismatched pair or a null element THROWS instead of
  *     silently truncating to min-length / reading null as 0 — the
  *     replaced folds returned NULL in both cases, and a plausible
  *     wrong number is the silent failure class the exactness
  *     discipline exists to prevent.
  *  3. graft_maxabsdiff's NaN propagation mirrors the replaced
  *     nan-safe SQL exists-form: Spark sorts NaN above every double,
  *     so `exists(|x−y| > θ)` PRUNED a NaN-diff pair; the kernel
  *     returns NaN and the consumer's nan-safe `<= θ` prunes the same
  *     pair (the r19 docstring claimed primitive-`>` semantics, which
  *     would have silently KEPT it).
  *  4. The shared basket-pair derived relation (r20 A/B adoption)
  *     is value-identical to a from-scratch compute of the same
  *     relation — the materialization is a pure corpus function.
  */
class Round20Spec extends AnyFunSuite with SparkFixture {

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

  test("benchcmp.py honors its 0/1/2 exit-code contract") {
    // the close adjudication rides this tool; a future edit that breaks
    // the exit contract would let a regression (or a malformed artifact)
    // pass a CI gate silently. Pure-stdlib python3, same interpreter the
    // parity harness already assumes.
    import scala.sys.process._
    withTempFixture("benchcmp-contract") { dir =>
      def write(name: String, qs: String): String = {
        val p = java.nio.file.Paths.get(dir, name)
        java.nio.file.Files.writeString(p, s"""{"queries":$qs}""")
        p.toString
      }
      val base = write("base.json", """{"q_a":1.0,"q_b":0.2}""")
      val same = write("same.json", """{"q_a":1.05,"q_b":0.21}""")
      val regr = write("regr.json", """{"q_a":2.5,"q_b":0.2}""")
      val fail = write("fail.json", """{"q_a":1.0,"q_b":-0.2}""")
      val disj = write("disj.json", """{"q_z":1.0}""")
      val bad = write("bad.json", """not json at all""")
      def run(b: String, h: String): Int =
        Seq("python3", "tools/benchcmp.py", "--base", b, "--head", h)
          .!(ProcessLogger(_ => (), _ => ()))
      assert(run(base, same) === 0, "clean comparison must exit 0")
      assert(run(base, regr) === 1, ">2x-past-0.7s regression must exit 1")
      assert(run(base, fail) === 1, "failed head sample must exit 1")
      assert(run(base, disj) === 2, "disjoint key sets must exit 2")
      assert(run(base, bad) === 2, "malformed artifact must exit 2")
    }
  }

  test("materialized basket pairs equal a from-scratch compute") {
    val fresh = operators.ExtraFuncs.basketPairCounts(spark, sfDir)
      .orderBy("part", "co_part").collect().toSeq
    val mat = operators.ExtraFuncs.materializedBasketPairs(spark, sfDir)
      .orderBy("part", "co_part").collect().toSeq
    assert(fresh.nonEmpty, "fixture must produce basket pairs")
    assert(fresh === mat,
      "derived basket_pairs file must be value-identical to a fresh build")
  }
}
