package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-14 operator batch (#426–#437) beyond the
  * oracle hash: structural invariants (band geometry, count dominance,
  * conservation) plus exact recomputation of the staged statistics.
  */
class Wave14Spec extends AnyFunSuite with SparkFixture {

  test("Keltner: bands are symmetric around the basis, offset non-negative") {
    val rows = operators.IndicatorOps.winKeltner(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (basis, off, up, lo) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(off >= 0L)
      assert(up === basis + off && lo === basis - off)
    }
  }

  test("Ichimoku: senkou A sits between tenkan and kijun (±1 truncation)") {
    val rows = operators.IndicatorOps.winIchimoku(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tk, kj, sa, sb) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(sa >= math.min(tk, kj) - 1 && sa <= math.max(tk, kj) + 1,
        s"senkou A $sa outside [$tk, $kj]")
      assert(sb > 0L)
    }
  }

  test("CvM: t_nano recomputes exactly from (u, n, m); counts positive") {
    val r = operators.InferenceOps.cvmTwoSample(spark, sfDir).collect().head
    val (n, m, u, tNano) =
      (BigInt(r.getLong(0)), BigInt(r.getLong(1)), BigInt(r.getLong(2)),
        r.getLong(3))
    assert(n > 0 && m > 0)
    val expect = (6 * u - n * m * (4 * n * m - 1)) * 1000000000 /
      (6 * (n + m) * n * m)
    assert(tNano === expect.toLong)
    assert(r.getBoolean(4) === (tNano > 461000000L))
  }

  test("Page trend: L within its algebraic extremes, E[L] exact") {
    val r = operators.InferenceOps.pageTrend(spark, sfDir).collect().head
    val (n, k, l, eL) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(eL === n * k * (k + 1) * (k + 1) / 4)
    // min L: ranks anti-ordered (rank k+1-j for treatment j); max: aligned
    val lMin = n * (1L to k).map(j => j * (k + 1 - j)).sum
    val lMax = n * (1L to k).map(j => j * j).sum
    assert(l >= lMin && l <= lMax, s"L=$l outside [$lMin, $lMax]")
  }

  test("block bootstrap: CI ordered, deterministic across runs") {
    val a = operators.InferenceOps.blockBootstrap(spark, sfDir).collect()
    val b = operators.InferenceOps.blockBootstrap(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq, "hash-driven resample must be rerunnable")
    a.foreach { r =>
      assert(r.getLong(1) > 0L, "weeks")
      assert(r.getLong(3) <= r.getLong(4), "lo <= hi")
    }
  }

  test("SampEn: length-3 matches are a subset of length-2 matches") {
    val rows = operators.SeriesOps.tsSampen(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "A > B is impossible")
      if (!r.isNullAt(5)) assert(r.getLong(5) >= 0L, "SampEn = lnB - lnA >= 0")
    }
  }

  test("Gumbel: beta non-negative, mu below the mean by gamma*beta") {
    val rows = operators.SeriesOps.tsGumbel(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L, "beta")
      assert(r.getLong(4) <= r.getLong(2) * 1000L, "mu must not exceed mean")
    }
  }

  test("importance weights: mass conserved within truncation, ESS <= N") {
    val rows = operators.CurationOps.sampleImportance(spark, sfDir).collect()
    val total = Tables.documents(spark, sfDir).count()
    val massW = rows.map(r => r.getLong(1) * r.getLong(2)).sum
    assert(math.abs(massW - total * 1000000L) <= total,
      "sum of n*w must be N*1e6 up to per-doc truncation")
    val ess = rows.head.getLong(3)
    assert(rows.forall(_.getLong(3) === ess))
    assert(ess > 0L && ess <= total)
  }

  test("filter sweep: cumulative monotone and conserved") {
    val rows = operators.CurationOps.qualityFilterSweep(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L))
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.last.getLong(5) === total, "last cum_docs = corpus size")
    assert(rows.last.getLong(7) === 1000000L, "last token share = 100%")
    val cums = rows.map(_.getLong(6))
    assert(cums.zip(cums.tail).forall { case (x, y) => x <= y })
    // deciles ordered by score: each decile's hi <= next decile's lo
    rows.sliding(2).foreach { case Array(x, y) =>
      assert(x.getLong(4) <= y.getLong(3), "decile score ranges overlap")
    case _ => ()
    }
  }

  test("Burrows Delta: all source pairs present, non-negative, <=16 markers") {
    val rows = operators.CorpusOps.textBurrowsDelta(spark, sfDir).collect()
    val nSrc = Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(rows.length === (nSrc * (nSrc - 1) / 2).toInt)
    rows.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 16L)
      assert(r.getLong(3) >= 0L)
    }
  }

  test("schema drift: generations partition the corpus, old gen 100% null source") {
    val rows = operators.QualityOps.dqSchemaDrift(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val total = Tables.documents(spark, sfDir).count()
    val src = rows("source")
    assert(src.getLong(1) + src.getLong(4) === total, "rows_a + rows_b = N")
    assert(src.getLong(2) === src.getLong(1), "gen A source all-null")
    assert(src.getLong(3) === 0L, "gen A source distinct = 0")
    assert(src.getLong(5) === 0L, "gen B source has no nulls")
    assert(rows("lang").getLong(2) === 0L && rows("lang").getLong(5) === 0L)
  }

  test("Cliff's delta: antisymmetric pair counts, bounded in [-1e6, 1e6]") {
    val rows = operators.InferenceOps.cliffsDelta(spark, sfDir).collect()
    val nTypes = Tables.events(spark, sfDir)
      .select("event_type").distinct().count()
    assert(rows.length === (nTypes * (nTypes - 1) / 2).toInt)
    rows.foreach { r =>
      assert(math.abs(r.getLong(4)) <= 1000000L)
      assert(r.getBoolean(5) === (math.abs(r.getLong(4)) >= 474000L))
    }
  }

  test("Quade: F recomputes from (n, a4, sb2); scores sum to zero per block") {
    val r = operators.InferenceOps.quadeTest(spark, sfDir).collect().head
    val (n, a4, sb2) = (r.getLong(0), r.getLong(2), r.getLong(3))
    if (!r.isNullAt(4))
      assert(r.getLong(4) === (n - 1) * sb2 * 1000 / (n * a4 - sb2))
    // Cauchy-Schwarz: sb2 = (Σ_j S_j)² summed over j ≤ n·ΣS² = n·a4
    assert(sb2 <= n * a4)
  }

  test("Ansari-Bradley: statistic within its algebraic extremes") {
    val r = operators.InferenceOps.ansariBradley(spark, sfDir).collect().head
    val (n, m, ab) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val nn = n + m
    // scores are min(r, N+1-r) ∈ [1, (N+1)/2]; AB sums n of them
    assert(ab >= n && ab <= n * ((nn + 1) / 2 + (if (nn % 2 == 0) 1 else 0)))
    assert(r.getLong(3) > 0L)
  }

  test("pivot points: level ordering S2 <= S1 <= P <= R1 <= R2 (±1 truncation)") {
    val rows = operators.IndicatorOps.winPivotPoints(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, r1, s1, r2, s2) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // 2P−l ≥ P ≥ 2P−h up to the div-3 truncation; range bands bracket
      assert(s2 <= s1 + 1 && s1 <= p + 1 && p <= r1 + 1 && r1 <= r2 + 1,
        s"pivot ordering violated: $s2 $s1 $p $r1 $r2")
    }
  }

  test("turning points: count bounded by interior points; z recomputes") {
    val rows = operators.SeriesOps.tsTurningPoints(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, t) = (r.getLong(1), r.getLong(2))
      assert(t >= 0 && t <= n - 2, "turning points exceed interior count")
      val z = math.floor((3.0 * t - 2.0 * (n - 2)) * 1000 * math.sqrt(10.0) /
        math.sqrt(16.0 * n - 29.0)).toLong
      assert(r.getLong(4) === z, "z_milli driver recompute")
    }
  }

  test("Katz FD: diameter never exceeds curve length, FD >= 1e6") {
    val rows = operators.SeriesOps.tsFractalKatz(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "diam > curve length impossible")
      // d <= L ⇒ ln(d/L) <= 0 ⇒ FD >= 1 (waveform at least a line)
      assert(r.getLong(4) >= 1000000L, s"FD < 1: ${r.getLong(4)}")
    }
  }

  test("hapax profile: spectrum counts nest inside the vocabulary") {
    val rows = operators.TextOps.textHapax(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (toks, vocab, hapax, dis) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(hapax + dis <= vocab)
      assert(vocab <= toks)
      // mass identity: hapax contribute exactly 1 token, dis exactly 2
      assert(hapax * 1 + dis * 2 <= toks)
    }
  }

  test("bootstrap AUC: 32 replicas, ordered CI bracketing the point estimate") {
    val r = operators.EvalOps.evalBootstrapAuc(spark, sfDir).collect().head
    val (n, point, lo, hi) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n === 32L)
    assert(lo <= hi && lo >= 0L && hi <= 1000000L)
    assert(lo <= point && point <= hi,
      s"point AUC $point outside bootstrap CI [$lo, $hi]")
  }

  test("Markov absorption: exact BigInt replay of the 10-round recurrence") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(spark, sfDir)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull && col("from_type") =!= "purchase")
      .groupBy("from_type", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val froms = pairs.keys.map(_._1).toSeq.distinct.sorted
    val rt = froms.map(f => f -> pairs.collect {
      case ((ff, _), n) if ff == f => n }.sum).toMap
    var a = froms.map(_ -> BigInt(0)).toMap
    (1 to 10).foreach { _ =>
      a = froms.map { f =>
        val tsum = pairs.collect { case ((ff, t), n) if ff == f =>
          BigInt(n) * (if (t == "purchase") BigInt(1000000) else a.getOrElse(t, BigInt(0)))
        }.sum
        f -> tsum / rt(f)
      }.toMap
    }
    val got = operators.EventOps.markovAbsorbing(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === froms.toSet && !got.contains("purchase"))
    froms.foreach { f =>
      assert(BigInt(got(f)) === a(f), s"$f: ${got(f)} vs ${a(f)}")
      assert(got(f) >= 0L && got(f) <= 1000000L)
    }
  }

  test("ulcer index: bounded by the max drawdown, at least the single-dip floor") {
    val rows = operators.TimeWindows.winUlcer(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, maxDd, ui) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ui <= maxDd, "RMS of drawdowns cannot exceed the max")
      assert(ui >= math.floor(math.sqrt(maxDd.toDouble * maxDd / n)).toLong,
        "RMS at least the one-max-dip contribution")
      assert(maxDd <= 1000000L)
    }
  }

  test("range query plan: probes broadcast, corpus never sort-merge joined") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
    val plan = operators.SimilarityOps.simRangeQuery(spark, sfDir)
      .queryExecution.sparkPlan
    val all = PlanWalk.collectAll(plan)
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]),
      "corpus must stream against broadcast probes, not sort-merge")
    assert(all.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "expected the probe broadcast join")
  }

  test("ichimoku plan: all three frame windows share one type-partitioned shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = operators.IndicatorOps.winIchimoku(spark, sfDir)
      .queryExecution.sparkPlan
    val shuffles = PlanWalk.collectAll(plan).collect { case e: ShuffleExchangeExec => e }
    // one (event_type, day) shuffle shared by the close-pick window and
    // the bar aggregate, one (event_type) shuffle shared by the THREE
    // frame windows, one range exchange for the output sort — a plan
    // where each window re-shuffled would show five.
    assert(shuffles.length <= 3,
      s"expected <=3 shuffles (bars, windows, sort), got ${shuffles.length}:\n$plan")
  }

  test("range query is consistent with exact top-k above the radius") {
    val topk = operators.SimilarityOps.simCosineTopk(spark, sfDir)
      .filter(col("cosine") >= 0.25)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val range = operators.SimilarityOps.simRangeQuery(spark, sfDir)
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(topk.subsetOf(range),
      s"top-k pairs above the radius missing from range: ${topk -- range}")
    // per-probe n_in_range is the actual group size
    val byProbe = operators.SimilarityOps.simRangeQuery(spark, sfDir)
      .select("probe_id", "n_in_range").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    byProbe.groupBy(_._1).foreach { case (p, xs) =>
      assert(xs.forall(_._2 === xs.length.toLong), s"probe $p count mismatch")
    }
  }
}
