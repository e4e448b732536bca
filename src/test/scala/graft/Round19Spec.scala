package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-19 pins for this round's ADVICE closes:
  *
  *  1. textSimpson's single-token NULL CONTRACT — lambda_ppm (and its
  *     derived complements) must be NULL for an n_tokens = 1 source via
  *     the mirrored CASE guard, not via each engine's div-by-zero→NULL
  *     accident (the r18 ADVICE low);
  *  2. bowleySkew's mirror-symmetric quartile ranks — a value-symmetric
  *     odd-n sample reads bowley_milli = 0 EXACTLY; the r18 rank pick
  *     (3n+1) div 4 read −250 on this same fixture (one rank low for
  *     n ≡ 3 mod 4, a systematic negative bias on symmetric data);
  *  3. embedTriplets' fixed-64 md5-order anchor draw ENGAGES at
  *     sf0.001 — output cardinality equals the 64-row draw (minus
  *     anchors with no same-label positive), not the 1-in-25
  *     proportional slice the r18 form used;
  *  4. the derived tier's corpus-version REBUILD path end-to-end — a
  *     bumped content key over identical corpus content rebuilds the
  *     sigs → jaccard → components chain from scratch to value-identical
  *     labels, then reuses the published build (the r18 verdict's
  *     suggested depth test over the r16 content-hash keying argument).
  */
class Round19Spec extends AnyFunSuite with SparkFixture {

  private def tmpFixture(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("textSimpson reads NULL diversity for a single-token source") {
    import spark.implicits._
    val dir = tmpFixture("simpson-degenerate")
    Seq(("solo", "onlytoken"), ("multi", "a a b"))
      .toDF("source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = operators.CorpusOps.textSimpson(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val solo = rows("solo")
    assert(solo.getLong(1) === 1L)
    assert(solo.isNullAt(2), "lambda_ppm must be NULL by CONTRACT at n=1")
    assert(solo.isNullAt(3), "gini_simpson_ppm must propagate the NULL")
    assert(solo.isNullAt(4), "inv_simpson_milli must propagate the NULL")
    val multi = rows("multi")
    // f = {a: 2, b: 1} → rep = 2, n = 3: λ = 2·10⁶ div 6 = 333333
    assert(multi.getLong(1) === 3L)
    assert(multi.getLong(2) === 333333L)
    assert(multi.getLong(3) === 666667L)
    assert(multi.getLong(4) === 3000L)
  }

  test("bowleySkew reads exactly 0 on a value-symmetric odd-n sample") {
    import spark.implicits._
    val dir = tmpFixture("bowley-symmetric")
    // 7 one-event days, daily masses symmetric about 50: ranks r1=2,
    // r2=4, r3=n+1−r1=6 pick (30, 50, 70) → (70+30−100)·1000/40 = 0.
    // The r18 pick r3=(3n+1) div 4=5 picked 60 → −250 on this fixture.
    val days = Seq(10.0, 30.0, 40.0, 50.0, 60.0, 70.0, 90.0)
    days.zipWithIndex
      .map { case (v, i) =>
        ("sym", java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"), v)
      }
      .toDF("event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = operators.InferenceOps.bowleySkew(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(1) === 7L)
    assert((r(0).getLong(2), r(0).getLong(3), r(0).getLong(4)) ===
      ((30000000L, 50000000L, 70000000L)))
    assert(r(0).getLong(5) === 0L,
      "mirror-symmetric ranks must read 0 on symmetric data")
  }

  test("graft_sql2/graft_ldot are bit-identical to the HOF folds and loud on overflow") {
    import spark.implicits._
    // random long-array pairs in the micro-quantization envelope: the
    // codegen kernels must equal the interpreted aggregate(zip_with(...))
    // formulation element for element (same left-to-right op sequence)
    val rng = new scala.util.Random(1909L)
    val rows = Seq.fill(64)((
      Seq.fill(64)(rng.nextLong() % 2000000L),
      Seq.fill(64)(rng.nextLong() % 2000000L)))
    val got = rows.toDF("a", "b").select(
      expr("graft_sql2(a, b)").as("k_sql2"),
      expr("graft_ldot(a, b)").as("k_dot"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, " +
        "(acc, v) -> acc + v)").as("h_sql2"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, " +
        "(acc, v) -> acc + v)").as("h_dot"),
      expr("graft_eqcount(a, b)").as("k_eq"),
      expr("aggregate(zip_with(a, b, (x, y) -> if(x = y, 1L, 0L)), 0L, " +
        "(acc, v) -> acc + v)").as("h_eq"),
      expr("graft_maxabsdiff(cast(a as array<double>), " +
        "cast(b as array<double>))").as("k_mad"),
      expr("aggregate(zip_with(cast(a as array<double>), " +
        "cast(b as array<double>), (x, y) -> abs(x - y)), 0D, " +
        "(acc, v) -> greatest(acc, v))").as("h_mad")).collect()
    got.foreach { r =>
      assert(r.getLong(0) === r.getLong(2), "sql2 kernel != HOF fold")
      assert(r.getLong(1) === r.getLong(3), "dot kernel != HOF fold")
      assert(r.getLong(4) === r.getLong(5), "eqcount kernel != HOF fold")
      assert(r.getDouble(6) === r.getDouble(7), "maxabsdiff kernel != HOF fold")
    }
    // ANSI loud-overflow contract: Math.*Exact must THROW past int64,
    // never wrap silently (the interpreted path's behavior under ANSI)
    val big = Seq((Seq(3037000500L, 3037000500L), Seq(-1L, -2L))).toDF("a", "b")
    val e = intercept[Throwable] {
      big.select(expr("graft_sql2(a, b)")).collect()
    }
    def arithmetic(t: Throwable): Boolean = t != null &&
      (t.isInstanceOf[ArithmeticException] || arithmetic(t.getCause))
    assert(arithmetic(e), s"expected a loud ArithmeticException, got $e")
  }

  test("bowleySkew reads 0 on random symmetric samples across n mod 4") {
    import spark.implicits._
    // Randomized generalization of the single n=7 pin: for EVERY odd n
    // (both n ≡ 1 and n ≡ 3 mod 4, the class the r18 rank pick biased)
    // a value-symmetric sample must read exactly 0 under the mirror
    // ranks; for even n the single-element median is the upper-middle
    // (the stated convention), so symmetric data reads ≤ 0 and must
    // match the driver replay of the exact rank formulas.
    val rng = new scala.util.Random(19L)
    val dir = tmpFixture("bowley-property")
    val types = Seq(5, 7, 9, 11, 13, 15, 6, 8).map { n =>
      val c = 500L + rng.nextInt(100)
      val half = Array.fill(n / 2)(1L + rng.nextInt(400)).distinct.sorted
      val vals =
        half.map(c - _) ++ (if (n % 2 == 1) Seq(c) else Nil) ++
          half.map(c + _)
      (s"n$n", vals.map(_.toDouble))
    }
    types.flatMap { case (t, vs) =>
      rng.shuffle(vs.toSeq).zipWithIndex.map { case (v, i) =>
        (t, java.sql.Timestamp.valueOf(f"2024-02-${i + 1}%02d 03:00:00"), v)
      }
    }.toDF("event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.InferenceOps.bowleySkew(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    types.foreach { case (t, vs) =>
      val xs = vs.sorted.map(v => (v * 1e6).toLong)
      val n = xs.length
      val r1 = (n + 3) / 4
      val (q1, q2, q3) = (xs(r1 - 1), xs((n + 2) / 2 - 1), xs(n - r1))
      val expect = (q3 + q1 - 2 * q2) * 1000 / (q3 - q1)
      assert(got(t) === ((n.toLong, q1, q2, q3, expect)), t)
      if (n % 2 == 1)
        assert(expect === 0L, s"$t: odd-n symmetric sample must read 0")
      else assert(expect <= 0L, s"$t: even-n convention is upper-middle")
    }
  }

  test("corpus-version bump rebuilds the derived dedup chain identically") {
    // The derived tier (SCALE.md) keys every materialization on a
    // content hash of its source table (dir|length|mtime). This proves
    // the REBUILD path end-to-end: an identical corpus under a bumped
    // key (fresh dir ⇒ fresh cacheKey for documents) must (1) start
    // unbuilt, (2) rebuild the full sigs → jaccard → components chain
    // from scratch, (3) produce value-identical labels, and (4) reuse
    // the published build on the next read instead of rebuilding.
    val tmp = tmpFixture("corpus-bump")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      java.nio.file.Paths.get(s"$tmp/documents.parquet"))
    val (keyA, keyB) = (operators.DedupOps.cacheKey(sfDir, "documents"),
      operators.DedupOps.cacheKey(tmp, "documents"))
    assert(keyA !== keyB, "a corpus-version bump must change the key")
    val tmpRoot = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val bumped = new java.io.File(s"$tmpRoot/graft_io/components_v2_$keyB")
    assert(!bumped.exists(), "a fresh corpus version must start unbuilt")
    def labels(dir: String) =
      operators.DedupOps.componentLabels(spark, dir).collect()
        .map(_.toSeq).sortBy(_.toString)
    assert(labels(tmp) === labels(sfDir),
      "identical corpus content must rebuild to identical labels")
    assert(new java.io.File(bumped, "_SUCCESS").exists(),
      "the bumped build must publish complete")
    val published = bumped.lastModified()
    operators.DedupOps.componentLabels(spark, tmp).count()
    assert(bumped.lastModified() === published,
      "a second read must reuse the published build, not rebuild")
  }

  test("embedTriplets output cardinality matches the fixed-64 draw") {
    val n = Tables.embeddings(spark, sfDir).count()
    assert(n > 64, "draw must be a strict subset at sf0.001")
    val out = operators.ClusterOps.embedTriplets(spark, sfDir).count()
    // every anchor with ≥1 same-label positive emits exactly one row;
    // the draw is 64, so the output is ≤64 and, at sf0.001 label
    // balance, well above the old 1-in-25 slice's n/25 only if n < 1600
    // — the binding assertion is the ≤64 cap the proportional form
    // would blow past as the corpus grows (n/25 > 64 for n > 1600).
    assert(out <= 64L)
    assert(out > 32L, "sf0.001 label balance gives most anchors a positive")
  }
}
