package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 pins:
  *
  *  1. the r17 derived-materialization tier is OUTPUT-INVARIANT: the
  *     struct-equiv confirmed pair set, the ktruss round-0 triangle
  *     support, and the full-grid power spectrum (the three r16-verdict
  *     amortizations) each equal their from-scratch kernels;
  *  2. the ktruss FIXPOINT CERTIFICATE (r16 ADVICE): the graded fixture
  *     must certify the fixpoint strictly inside the `TrussRounds`
  *     bound — a future corpus whose peel cascade outruns the bound
  *     fails here loudly instead of silently emitting a truncated
  *     truss — plus round-accounting pins on crafted graphs;
  *  3. the cumulative periodogram's degenerate-calendar contract (r16
  *     ADVICE): nd <= 2 yields an EMPTY frequency grid and a ZERO-row
  *     readout on both engines (Spark's sequence(1, 0) descends;
  *     the guard filter restores the empty contract);
  *  4. exact driver replays for the seven r17 graded additions
  *     (#460-#466): equiv-partner histogram identity, spectral
  *     flatness, Cox-Stuart, Parkinson, Rogers-Satchell, Amihud,
  *     Sortino — BigInt arithmetic with the same floored-nano libm
  *     staging Spark's codegen executes, so equality is exact.
  */
class Round17Spec extends AnyFunSuite with SparkFixture {

  // ---- 1. r17 derived-materialization output invariance ----------------

  test("materializedStructEquivPairs equals the from-scratch LSH+confirm kernel") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    val fresh = operators.GraphOps.structEquivPlan(spark, sfDir)
      .collect().map(key).sorted
    val memo = operators.GraphOps.materializedStructEquivPairs(spark, sfDir)
      .collect().map(key).sorted
    assert(memo.nonEmpty && memo.toSeq === fresh.toSeq)
  }

  test("materializedTriangleSupport equals the wedge kernel over a fresh orientation") {
    val e = operators.DedupOps.materializedEdges(spark, sfDir)
    val deg = operators.GraphOps.materializedDegrees(spark, sfDir)
    val fresh = operators.GraphOps
      .triangleSupportOf(operators.GraphOps.orientEdges(e, deg))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val memo = operators.GraphOps.materializedTriangleSupport(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(memo.nonEmpty && memo.toSeq === fresh.toSeq)
  }

  test("materializedPowerSpectrum equals the from-scratch Fourier-grid plan") {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
    val fresh = operators.SeriesOps.powerSpectrumPlanOf(daily)
      .collect().map(key).sortBy(_._1)
    val memo = operators.SeriesOps.materializedPowerSpectrum(spark, sfDir)
      .collect().map(key).sortBy(_._1)
    assert(memo.nonEmpty && memo.toSeq === fresh.toSeq)
  }

  // ---- 2. ktruss fixpoint certificate ----------------------------------

  test("ktruss certifies the fixpoint strictly inside TrussRounds on the fixture") {
    val trace = operators.GraphOps.ktrussTrace(
      operators.DedupOps.materializedEdges(spark, sfDir)
        .select("doc_a", "doc_b"),
      firstSupport =
        Some(operators.GraphOps.materializedTriangleSupport(spark, sfDir)))
    assert(trace.fixpoint,
      "the graded fixture must reach the 4-truss fixpoint; a false here " +
        "means q_graph_ktruss is emitting a bounded-round SUPERSET — bump " +
        "TrussRounds (the early-exit keeps extra rounds free at fixpoint)")
    assert(trace.roundsUsed < operators.GraphOps.TrussRounds,
      s"fixpoint used ${trace.roundsUsed} of ${operators.GraphOps.TrussRounds} " +
        "rounds — certification requires a no-drop round strictly inside the bound")
  }

  test("ktruss trace round accounting: K4 certifies in 0, a 3-strip cascades in 2") {
    import spark.implicits._
    def trace(pairs: Seq[(Long, Long)]) = operators.GraphOps.ktrussTrace(
      pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .toDF("doc_a", "doc_b"))
    // K4: round 0 drops nothing -> immediate certificate
    val k4 = trace(for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j))
    assert(k4.fixpoint && k4.roundsUsed === 0)
    assert(k4.result.count() === 6L)
    // strip of 3 edge-sharing triangles {1,2,3},{2,3,4},{3,4,5}: round 0
    // peels the support-1 boundary, round 1 peels the now-triangle-less
    // interior pair, round 2 certifies on the empty survivor set
    val strip = trace(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 3L), (2L, 4L), (3L, 5L)))
    assert(strip.fixpoint && strip.roundsUsed === 2)
    assert(strip.result.count() === 0L)
  }

  // ---- 3. degenerate-calendar contracts (r16 ADVICE) -------------------

  private def dailyFrameOf(vs: Seq[Long]) = {
    import spark.implicits._
    vs.zipWithIndex
      .map { case (v, i) => (java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), v) }
      .toDF("day", "v")
  }

  test("cumulative periodogram: nd <= 2 yields an empty grid and ZERO rows") {
    // sequence(1, (nd-1) div 2) would DESCEND to [1, 0] at nd = 2 (upper
    // bound 0) and emit a spurious j = 0 frequency without the guard;
    // DuckDB's range(1, 1) is empty, so the shared contract is zero rows
    assert(operators.SeriesOps.tsCumPeriodogramOf(dailyFrameOf(Seq(5L)))
      .collect().isEmpty)
    assert(operators.SeriesOps.tsCumPeriodogramOf(dailyFrameOf(Seq(5L, 7L)))
      .collect().isEmpty)
    // flatness over the same empty spectrum: zero rows (GROUP BY g contract)
    assert(operators.SeriesOps.tsSpectralFlatnessOf(
      operators.SeriesOps.powerSpectrumPlanOf(dailyFrameOf(Seq(5L, 7L))))
      .collect().isEmpty)
    // first non-degenerate calendar (nd = 3 -> exactly one frequency):
    // the guard must be a no-op, not an over-filter — and a series whose
    // every power floors to 0 after the e18 downscale must emit NULL ppm
    // (the zero-total guard) instead of an ANSI divide-by-zero
    val tiny = operators.SeriesOps.tsCumPeriodogramOf(
      dailyFrameOf(Seq(5L, 7L, 4L))).collect()
    assert(tiny.length === 1)
    assert(tiny(0).getLong(1) === 0L, "powers of a cent-scale 3-day series floor to 0")
    assert(tiny(0).isNullAt(3), "zero total -> NULL d_max_ppm on both engines")
    val real = operators.SeriesOps.tsCumPeriodogramOf(
      dailyFrameOf(Seq(5000000L, 7000000L, 4000000L))).collect()
    assert(real.length === 1 && !real(0).isNullAt(3))
  }

  // ---- 4. exact driver replays for #460-#466 ---------------------------

  test("equiv-partner histogram is the exact degree distribution of the pair set") {
    val pairs = operators.GraphOps.structEquiv(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty, "fixture must confirm struct-equiv pairs")
    val partners = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).map { case (_, xs) => xs.length.toLong }
    val expected = partners.groupBy(identity).map { case (np, xs) =>
      np -> (xs.size.toLong, np * xs.size) }
    val got = operators.GraphOps.equivPartners(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
  }

  /** Runs `body` on a one-type synthetic events dir (the Round16Spec
    * withEvents pattern) for degenerate-contract pins.
    */
  private def withDegenEvents[T](types: Seq[String])(body: String => T): T = {
    import spark.implicits._
    val rows = types.zipWithIndex.map { case (t, i) =>
      (i.toLong,
        java.sql.Timestamp.from(java.time.Instant.parse(
          f"2024-01-${1 + i}%02dT12:00:00Z")),
        1L, t, 2.0 + i, "")
    }
    withTempFixture("graft_r17_degen") { dir =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      body(dir)
    }
  }

  /** Day-sorted ISO day keys of the global daily revenue series —
    * index-aligned with [[dailyCents]].
    */
  private lazy val dailyDayKeys: Seq[String] = Tables.orders(spark, sfDir)
    .select(to_date(col("o_orderdate")).as("day")).collect()
    .map(_.getDate(0).toString).distinct.sorted.toSeq

  /** Day-sorted global daily revenue in exact integer cents — the shared
    * input of the #461/#466 replays (the Round16Spec periodogram replay's
    * staging: Det.money mirrored via shortest-string HALF_UP decimal).
    */
  private lazy val dailyCents: Seq[BigInt] = Tables.orders(spark, sfDir)
    .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
    .collect()
    .map { r =>
      val cents = new java.math.BigDecimal(
          java.lang.Double.toString(r.getAs[Number](1).doubleValue))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).toBigIntegerExact()
      (r.getDate(0).toString, BigInt(cents))
    }
    .groupBy(_._1).toSeq.sortBy(_._1)
    .map { case (_, xs) => xs.map(_._2).sum }

  test("spectral flatness matches an exact driver replay (shared libm)") {
    val nd = dailyCents.length
    val kmax = (nd - 1) / 2
    val ps: Seq[BigInt] = (1 to kmax).map { j =>
      var ck = BigInt(0); var sk = BigInt(0)
      dailyCents.zipWithIndex.foreach { case (v, t) =>
        val theta = 2 * math.Pi * j.toDouble * t.toDouble / nd.toDouble
        ck += v * BigInt(math.floor(math.cos(theta) * 1e9).toLong)
        sk += v * BigInt(math.floor(math.sin(theta) * 1e9).toLong)
      }
      val ce = ck / nd; val se = sk / nd
      (ce * ce + se * se) / BigInt("1000000000000000000")
    }
    val qs = ps.map(_ / BigInt(1000000000L)).filter(_ > 0)
    val nPos = BigInt(qs.length)
    val t = qs.sum
    val sumLn = qs.map(q =>
      BigInt(math.floor(math.log(q.toDouble) * 1e9).toLong)).sum
    val gm = sumLn / nPos
    val am = t / nPos
    val flatNano =
      gm - BigInt(math.floor(math.log(am.toDouble) * 1e9).toLong)
    val row = operators.SeriesOps.tsSpectralFlatness(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === kmax.toLong, "n_bins")
    assert(row(0).getLong(1) === nPos.toLong, "n_pos")
    assert(row(0).getLong(2) === gm.toLong, "gm_ln_nano")
    assert(row(0).getLong(3) === am.toLong, "am_e9")
    assert(row(0).getLong(4) === flatNano.toLong, "ln_flatness_nano")
    // BigInt / truncates toward zero exactly like Spark div (flatness <= 0)
    assert(row(0).getLong(5) === (flatNano / 1000000).toLong, "ln_flatness_milli")
  }

  test("Cox-Stuart matches an exact driver replay") {
    val nd = dailyCents.length
    val h = (nd + 1) / 2
    val pairs = (0 until (nd - h)).map(t => (dailyCents(t), dailyCents(t + h)))
    val sPlus = pairs.count { case (a, b) => b > a }.toLong
    val sMinus = pairs.count { case (a, b) => b < a }.toLong
    val n = sPlus + sMinus
    val z = math.floor((2 * sPlus - n).toDouble / math.sqrt(n.toDouble) * 1000)
      .toLong
    val row = operators.SeriesOps.tsCoxStuart(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_pairs")
    assert(row(0).getLong(1) === sPlus, "s_plus")
    assert(row(0).getLong(2) === sMinus, "s_minus")
    assert(row(0).getLong(3) === z, "z_milli")
    assert(row(0).getBoolean(4) === (math.abs(z) > 1960L), "trend_significant_05")
  }

  /** Per-(type, day) event aggregates in exact integer micro, ts ties
    * broken by event_id — the shared input of the #462-#465 replays (the
    * Round16Spec Garman-Klass replay's staging).
    */
  private lazy val eventDays
      : Seq[(String, String, Long, Long, Long, Long, Long, Long)] = {
    val utc = java.time.ZoneOffset.UTC
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant,
        r.getLong(2), math.floor(r.getDouble(3) * 1e6).toLong))
      .groupBy(e => (e._1, e._2.atZone(utc).toLocalDate))
      .toSeq
      .map { case ((t, d), es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        (t, d.toString, sorted.head._4, es.map(_._4).max, es.map(_._4).min,
          sorted.last._4, es.map(e => BigInt(e._4)).sum.toLong,
          es.length.toLong)
      }
      .sortBy(e => (e._1, e._2))
  }

  private def lnN(x: Long) = math.floor(math.log(x.toDouble) * 1e9).toLong

  test("Parkinson matches an exact driver replay (shared libm)") {
    val expected = eventDays
      .filter(_._5 > 0)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, days) =>
        val ts2 = days.map { case (_, _, _, h, l, _, _, _) =>
          val d1 = BigInt(lnN(h) - lnN(l)); d1 * d1 }.sum
        val n = days.length.toLong
        val varM = ts2 * 1000 / (BigInt(n) * 2772588722L)
        (t, n, varM.toLong, math.floor(math.sqrt(varM.toDouble)).toLong)
      }
    val got = operators.IndicatorOps.winParkinson(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty && got === expected)
  }

  test("Rogers-Satchell matches an exact driver replay (shared libm)") {
    val expected = eventDays
      .filter(_._5 > 0)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, days) =>
        val ts2 = days.map { case (_, _, o, h, l, c, _, _) =>
          BigInt(lnN(h) - lnN(c)) * (lnN(h) - lnN(o)) +
            BigInt(lnN(l) - lnN(c)) * (lnN(l) - lnN(o)) }.sum
        val n = days.length.toLong
        val varM = ts2 / (BigInt(n) * 1000000L)
        (t, n, varM.toLong, math.floor(math.sqrt(varM.toDouble)).toLong)
      }
    val got = operators.IndicatorOps.winRogersSatchell(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty && got === expected)
  }

  test("Amihud matches an exact driver replay (shared libm)") {
    val expected = eventDays
      .filter(_._7 > 0)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (t, days) =>
        val terms = days.sortBy(_._2).sliding(2).collect {
          case Seq(prev, curr) =>
            BigInt(math.abs(lnN(curr._7) - lnN(prev._7))) / curr._8
        }.toSeq
        if (terms.isEmpty) None
        else Some((t, terms.length.toLong, (terms.sum / terms.length).toLong))
      }
    val got = operators.IndicatorOps.winAmihud(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  // ---- 5. exact driver replays for #467-#473 (second r17 batch) --------

  test("triangle participation is the exact per-node histogram of the edge file") {
    val edges = operators.DedupOps.materializedEdges(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val triCount = scala.collection.mutable.Map[Long, Long]()
    edges.foreach { case (a, b) =>
      (nbrs(a) & nbrs(b)).filter(_ > math.max(a, b)).foreach { c =>
        Seq(a, b, c).foreach(v => triCount(v) = triCount.getOrElse(v, 0L) + 1) }
    }
    val expected = triCount.values.groupBy(identity).map { case (t, xs) =>
      t -> (xs.size.toLong, t * xs.size) }
    val got = operators.GraphOps.triParticipation(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty && got === expected)
  }

  /** Daily (click, purchase) masses keyed by ISO day — the #468 replay's
    * input (the eventDays staging restricted to the two types).
    */
  private lazy val pairedDays: (Map[String, Long], Map[String, Long]) = {
    val m = eventDays.filter(e => e._1 == "click" || e._1 == "purchase")
      .map(e => (e._1, e._2, e._7))
    (m.filter(_._1 == "click").map(e => e._2 -> e._3).toMap,
      m.filter(_._1 == "purchase").map(e => e._2 -> e._3).toMap)
  }

  test("Wilcoxon signed-rank matches an exact driver replay") {
    val (cx, py) = pairedDays
    val ds = cx.keySet.intersect(py.keySet).toSeq
      .map(d => py(d) - cx(d)).filter(_ != 0L)
    assume(ds.nonEmpty)
    val byAbs = ds.groupBy(math.abs)
    val sortedAbs = byAbs.keys.toSeq.sorted
    // 2*midrank via min-rank + tie count - 1 (exact integers)
    var seen = 0L
    val m2: Map[Long, Long] = sortedAbs.map { a =>
      val t = byAbs(a).length.toLong
      val v = 2 * (seen + 1) + t - 1; seen += t; a -> v
    }.toMap
    val n = ds.length.toLong
    val w2 = ds.filter(_ > 0).map(d => m2(math.abs(d))).sum
    val tie = byAbs.values.map(g => { val t = g.length.toLong; t * t * t - t }).sum
    val e2 = n * (n + 1) / 2
    val var48 = 2 * n * (n + 1) * (2 * n + 1) - tie
    val z = math.floor((w2 - e2).toDouble /
      math.sqrt(var48.toDouble / 12.0) * 1000).toLong
    val row = operators.NonparamOps.wilcoxonSigned(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_pairs")
    assert(row(0).getLong(1) === w2, "w2_plus")
    assert(row(0).getLong(2) === e2, "e_w2")
    assert(row(0).getLong(3) === tie, "tie_term")
    assert(row(0).getLong(4) === z, "z_milli")
    assert(row(0).getBoolean(5) === (math.abs(z) > 1960L))
  }

  test("Wilcoxon signed-rank emits ZERO rows when no nonzero-diff common day") {
    assert(withDegenEvents(Seq("click", "click"))(
      operators.NonparamOps.wilcoxonSigned(spark, _).collect()).isEmpty)
  }

  test("Pettitt matches an exact driver replay") {
    val vs = dailyCents.map(_.toLong)
    val n = vs.length.toLong
    // 2*midranks of v
    val byV = vs.groupBy(identity)
    var seen = 0L
    val m2: Map[Long, Long] = byV.keys.toSeq.sorted.map { v =>
      val t = byV(v).length.toLong
      val r = 2 * (seen + 1) + t - 1; seen += t; v -> r
    }.toMap
    var cum = 0L
    val us = vs.zipWithIndex.dropRight(1).map { case (v, i) =>
      cum += m2(v); (i, cum - (i + 1) * (n + 1))
    }
    val k = us.map(u => math.abs(u._2)).max
    val atIdx = us.filter(u => math.abs(u._2) == k).map(_._1).min
    val sig = BigInt(6) * k * k * 1000000000L >
      BigInt(3688879454L) * (n * n * n + n * n)
    val row = operators.NonparamOps.pettitt(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_days")
    assert(row(0).getLong(1) === k, "k_stat")
    assert(row(0).getString(2) === dailyDayKeys(atIdx), "break_day")
    assert(row(0).getLong(3) === us(atIdx)._2, "u_at_max")
    assert(row(0).getBoolean(4) === sig, "change_significant_05")
  }

  test("Kuiper matches an exact driver replay") {
    val utc = java.time.ZoneOffset.UTC
    val dows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant))
      .filter(e => e._1 == "click" || e._1 == "purchase")
      .map(e => (e._1, e._2.atZone(utc).toLocalDate.toEpochDay % 7))
    val na = dows.count(_._1 == "click").toLong
    val nb = dows.count(_._1 == "purchase").toLong
    var ca = 0L; var cb = 0L; var dp = Long.MinValue; var dm = Long.MinValue
    (0L to 6L).foreach { d =>
      ca += dows.count(e => e._1 == "click" && e._2 == d)
      cb += dows.count(e => e._1 == "purchase" && e._2 == d)
      dp = math.max(dp, ca * nb - cb * na)
      dm = math.max(dm, cb * na - ca * nb)
    }
    val vPpm = (dp + dm) * 1000000L / (na * nb)
    val row = operators.NonparamOps.kuiper(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === na, "n_a")
    assert(row(0).getLong(1) === nb, "n_b")
    assert(row(0).getLong(2) === dp, "d_plus_num")
    assert(row(0).getLong(3) === dm, "d_minus_num")
    assert(row(0).getLong(4) === vPpm, "v_ppm")
  }

  test("Breusch-Pagan matches an exact BigInt driver replay") {
    val ys = dailyCents
    val n = ys.length
    val ts = (0 until n).map(BigInt(_))
    val st = ts.sum; val stt = ts.map(t => t * t).sum
    val sy = ys.sum
    val sty = ts.zip(ys).map { case (t, y) => t * y }.sum
    val d = n * stt - st * st
    val bnum = n * sty - st * sy
    val anum = sy * stt - st * sty
    // BigInt / truncates toward zero, matching Spark div on the signed
    // residual numerator
    val ws = ts.zip(ys).map { case (t, y) => ((y * d - anum - bnum * t) / d) / 1000 }
    val sw2 = ws.map(w => w * w).sum
    val stw2 = ts.zip(ws).map { case (t, w) => t * w * w }.sum
    val sw4 = ws.map(w => w * w * w * w).sum
    val cov = n * stw2 - st * sw2
    val varW2 = n * sw4 - sw2 * sw2
    val bp = math.floor(cov.toDouble * cov.toDouble /
      (d.toDouble * varW2.toDouble) * n * 1000).toLong
    val row = operators.NonparamOps.breuschPagan(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n.toLong, "n_days")
    assert(row(0).getLong(1) === sw2.toLong, "s_w2")
    assert(row(0).getLong(2) === bp, "bp_milli")
    assert(row(0).getBoolean(3) === (bp > 3841L))
  }

  test("Cochran-Armitage matches an exact driver replay") {
    // o_orderdate / l_shipdate are TIMESTAMP_NTZ -> LocalDateTime rows
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[java.time.LocalDateTime](1),
        r.getString(2).substring(0, 1).toLong)).toMap
    val lines = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate")).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)))
    val cells = lines.map { case (ok, ship) =>
      val (odate, sg) = orders(ok)
      (sg, if (ship.isAfter(odate.plusDays(30))) 1L else 0L)
    }
    val n = cells.length.toLong
    val x = cells.map(_._2).sum
    val byG = cells.groupBy(_._1)
    val sns = byG.map { case (g, xs) => g * xs.length }.sum
    val snss = byG.map { case (g, xs) => g * g * xs.length }.sum
    val ssx = byG.map { case (g, xs) => g * xs.map(_._2).sum }.sum
    val tnum = n * ssx - x * sns
    val z = math.floor(tnum.toDouble / math.sqrt(
      x.toDouble * (n - x) * (n * snss - sns * sns) / n) * 1000).toLong
    val row = operators.NonparamOps.cochranArmitage(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_lines")
    assert(row(0).getLong(1) === x, "n_late")
    assert(row(0).getLong(2) === tnum, "t_num")
    assert(row(0).getLong(3) === z, "z_milli")
    assert(row(0).getBoolean(4) === (math.abs(z) > 1960L))
  }

  test("STTR matches an exact driver replay") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val segs = docs.flatMap { case (src, text) =>
      val toks = text.split(" ", -1)
      (0 until toks.length / 50).map(i =>
        (src, toks.slice(i * 50, i * 50 + 50).distinct.length.toLong))
    }
    val expected = segs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      (src, xs.length.toLong,
        xs.map(_._2).sum * 1000000L / (xs.length * 50L))
    }
    val got = operators.CorpusOps.textSttr(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  // ---- 6. exact driver replays for #474-#477 (third r17 batch) ---------

  test("clustering-by-degree matches an exact driver replay") {
    val edges = operators.DedupOps.materializedEdges(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val triCount = scala.collection.mutable.Map[Long, Long]()
    edges.foreach { case (a, b) =>
      (nbrs(a) & nbrs(b)).filter(_ > math.max(a, b)).foreach { c =>
        Seq(a, b, c).foreach(v => triCount(v) = triCount.getOrElse(v, 0L) + 1) }
    }
    // toSeq FIRST: collecting pairs straight off the Map would key by
    // degree and collapse same-degree nodes to one row
    val perNode = nbrs.toSeq.collect { case (v, ns) if ns.size >= 2 =>
      (ns.size.toLong,
        2 * triCount.getOrElse(v, 0L) * 1000000L /
          (ns.size.toLong * (ns.size - 1)))
    }
    val expected = perNode.groupBy(_._1).map { case (d, xs) =>
      d -> (xs.length.toLong, xs.map(_._2).sum / xs.length) }
    val got = operators.GraphOps.clusteringByDegree(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty && got === expected)
  }

  test("Jonckheere-Terpstra matches an exact BigInt driver replay") {
    val pri = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority")).collect()
      .map(r => r.getLong(0) -> r.getString(1).substring(0, 1).toLong).toMap
    val cells = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity")).collect()
      .map(r => (pri(r.getLong(0)), r.getAs[Number](1).longValue))
      .groupBy(identity).map { case ((g, q), xs) => (g, q, xs.length.toLong) }
      .toSeq
    val jt2 = (for {
      (g1, q1, c1) <- cells; (g2, q2, c2) <- cells if g1 < g2
    } yield c1 * c2 * (if (q1 < q2) 2L else if (q1 == q2) 1L else 0L)).sum
    val byG = cells.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._3).sum }
    val byQ = cells.groupBy(_._2).map { case (q, xs) => q -> xs.map(_._3).sum }
    val n = byG.values.sum
    val e2 = (n * n - byG.values.map(x => x * x).sum) / 2
    def f(xs: Iterable[Long], fn: Long => BigInt) = xs.map(fn).sum
    val va = BigInt(n) * (n - 1) * (2 * n + 5) -
      f(byG.values, x => BigInt(x) * (x - 1) * (2 * x + 5)) -
      f(byQ.values, x => BigInt(x) * (x - 1) * (2 * x + 5))
    val vb = f(byG.values, x => BigInt(x) * (x - 1) * (x - 2)) *
      f(byQ.values, x => BigInt(x) * (x - 1) * (x - 2))
    val vc = f(byG.values, x => BigInt(x) * (x - 1)) *
      f(byQ.values, x => BigInt(x) * (x - 1))
    val z = math.floor((jt2 - e2).toDouble / (2.0 * math.sqrt(
      va.toDouble / 72.0 +
        vb.toDouble / (36.0 * n * (n - 1) * (n - 2)) +
        vc.toDouble / (8.0 * n * (n - 1)))) * 1000).toLong
    val row = operators.NonparamOps.jonckheere(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_lines")
    assert(row(0).getLong(1) === jt2, "jt_x2")
    assert(row(0).getLong(2) === e2, "e_jt_x2")
    assert(row(0).getLong(3) === z, "z_milli")
    assert(row(0).getBoolean(4) === (math.abs(z) > 1960L))
  }

  test("Chow matches an exact driver replay") {
    val ys = dailyCents
    val n = ys.length
    def sse(seg: Seq[(Int, BigInt)]): Double = {
      val m = seg.length
      val st = seg.map(e => BigInt(e._1)).sum
      val stt = seg.map(e => BigInt(e._1) * e._1).sum
      val sy = seg.map(_._2).sum
      val syy = seg.map(e => e._2 * e._2).sum
      val sty = seg.map(e => e._1 * e._2).sum
      syy.toDouble - sy.toDouble * sy.toDouble / m -
        (sty.toDouble - st.toDouble * sy.toDouble / m) *
          (sty.toDouble - st.toDouble * sy.toDouble / m) /
          (stt.toDouble - st.toDouble * st.toDouble / m)
    }
    val idx = ys.zipWithIndex.map { case (y, t) => (t, y) }
    val h = n / 2
    val (s1, s2) = idx.partition(_._1 < h)
    val (sp, e1, e2) = (sse(idx), sse(s1), sse(s2))
    val fM = math.floor(((sp - e1 - e2) / 2.0) /
      ((e1 + e2) / (n - 4.0)) * 1000).toLong
    val row = operators.NonparamOps.chow(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n.toLong, "n_days")
    assert(row(0).getLong(1) === h.toLong, "n_seg1")
    assert(row(0).getLong(2) === fM, "f_milli")
    assert(row(0).getBoolean(3) === (fM > 2996L))
  }

  test("DRO mixture step matches an exact driver replay") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue))
    val bySrc = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val nD = xs.length.toLong
      val fail = xs.count(_._2 < 300).toLong
      val loss = fail * 1000000L / nD
      val en = math.floor(math.exp(loss.toDouble / 1e6) * 1e9).toLong
      (src, nD, loss, BigInt(nD) * en)
    }
    val nTot = bySrc.map(_._2).sum
    val denom = bySrc.map(_._4).sum
    val expected = bySrc.map { case (src, nD, loss, num) =>
      val w0 = nD * 1000000L / nTot
      val w = (num * 1000000 / denom).toLong
      (src, nD, loss, w0, w, w - w0)
    }
    val got = operators.CurationOps.mixDroStep(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  // ---- 7. exact driver replays for #478-#480 (fourth r17 batch) --------

  test("linear CKA matches an exact BigInt driver replay") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 1e6).toLong))
    val n = vecs.length
    val dim = vecs.head.length
    val sums = (0 until dim).map(d => BigInt(vecs.map(_(d)).sum))
    def gram(a: Int, b: Int): BigInt = {
      val sxy = vecs.map(v => BigInt(v(a)) * v(b)).sum
      (n * sxy - sums(a) * sums(b)) / 1000000
    }
    var fxy = BigInt(0); var fxx = BigInt(0); var fyy = BigInt(0)
    for (a <- 0 until dim; b <- 0 until dim) {
      val g2 = { val g = gram(a, b); g * g }
      if (a < 32 && b >= 32) fxy += g2
      if (a < 32 && b < 32) fxx += g2
      if (a >= 32 && b >= 32) fyy += g2
    }
    val cka = math.floor(fxy.toDouble /
      math.sqrt(fxx.toDouble * fyy.toDouble) * 1000000).toLong
    val row = operators.ClusterOps.embedCka(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === (dim.toLong * dim), "n_cells")
    assert(row(0).getLong(1) === cka, "cka_ppm")
  }

  private lazy val scoredDocs: Seq[(Long, String, Long, Long)] =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .collect()
      .map { r =>
        val tokens = r.getString(3).split(" ", -1).length.toLong
        (r.getLong(0), r.getString(1), tokens,
          r.getAs[Number](2).longValue * 1000000L / tokens)
      }.toSeq

  test("rank exposure matches an exact driver replay") {
    val ranked = scoredDocs.sortBy { case (id, _, _, score) => (-score, -id) }
    val n = ranked.length
    val perLang = ranked.zipWithIndex
      .map { case ((_, lang, _, _), i) =>
        (lang, math.floor(1e9 * math.log(2.0) /
          math.log((i + 2).toDouble)).toLong)
      }
      .groupBy(_._1)
    val nAll = n.toLong
    val wAll = BigInt(perLang.values.flatten.map(_._2).sum)
    val expected = perLang.toSeq.sortBy(_._1).map { case (lang, xs) =>
      val nd = xs.length.toLong
      val ws = BigInt(xs.map(_._2).sum)
      val dShare = nd * 1000000L / nAll
      val eShare = (ws * 1000000 / wAll).toLong
      (lang, nd, dShare, eShare, eShare - dShare)
    }
    val got = operators.SearchOps.rankExposure(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  test("RBO matches an exact driver replay") {
    val topA = scoredDocs.sortBy { case (id, _, _, score) => (-score, id) }
      .take(50).map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val topB = scoredDocs.sortBy { case (id, _, tok, _) => (-tok, id) }
      .take(50).map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val mds = (topA.keySet ++ topB.keySet).toSeq.map(id =>
      math.max(topA.getOrElse(id, 51L), topB.getOrElse(id, 51L)))
    var rbo = 0L; var o50 = 0L
    (1 to 50).foreach { d =>
      val o = mds.count(_ <= d).toLong
      if (d == 50) o50 = o
      rbo += o * math.floor(1e11 * math.pow(0.9, (d - 1).toDouble) / d).toLong
    }
    val row = operators.SearchOps.evalRbo(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === o50, "overlap_50")
    assert(row(0).getLong(1) === rbo / 1000000L, "rbo_ppm")
  }

  // ---- 8. exact driver replays for #481-#483 (fifth r17 batch) ---------

  test("language assortativity matches an exact driver replay") {
    val lang = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val edges = operators.DedupOps.materializedEdges(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (lang(r.getLong(0)), lang(r.getLong(1))))
    val e2 = 2L * edges.length
    val tr = 2L * edges.count { case (a, b) => a == b }
    val marg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).map { case (_, xs) => xs.length.toLong }
    val sa2 = marg.map(a => BigInt(a) * a).sum
    val expected =
      if (BigInt(e2) * e2 - sa2 > 0)
        Some(((BigInt(e2) * tr - sa2) * 1000000 /
          (BigInt(e2) * e2 - sa2)).toLong)
      else None
    val row = operators.GraphOps.langAssortativity(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === e2 / 2, "n_edges")
    assert(row(0).getLong(1) === tr / 2, "n_same_lang")
    assert((if (row(0).isNullAt(2)) None else Some(row(0).getLong(2)))
      === expected, "assortativity_ppm")
  }

  test("effective diameter matches a driver BFS replay") {
    val edges = operators.DedupOps.materializedEdges(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val seeds = nbrs.keys.toSeq.sorted.take(4)
    val expected = seeds.map { lm =>
      val hop = scala.collection.mutable.Map(lm -> 0L)
      var frontier = Set(lm); var h = 0L
      while (frontier.nonEmpty && h < 6) {
        h += 1
        frontier = frontier.flatMap(nbrs(_)).filterNot(hop.contains)
        frontier.foreach(v => hop(v) = h)
      }
      val reach = hop.size.toLong
      val sHop = hop.values.sum
      val byHop = hop.values.groupBy(identity)
        .map { case (k, xs) => k -> xs.size.toLong }
      var cum = 0L
      val eff = byHop.keys.toSeq.sorted.find { k =>
        cum += byHop(k); cum * 10 >= reach * 9 }.get
      (lm, reach, eff, sHop * 1000 / reach)
    }
    val got = operators.GraphOps.effDiameter(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty && got === expected)
  }

  // ---- 9. exact driver replays for #484-#486 (sixth r17 batch) ---------

  /** (sg, yr, late) per lineitem under the #114 30-day convention —
    * the shared input of the MH / Cohen's h replays.
    */
  private lazy val lateCells: Seq[(Long, Long, Long)] = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[java.time.LocalDateTime](1),
        r.getString(2).substring(0, 1).toLong)).toMap
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate")).collect()
      .map { r =>
        val (odate, sg) = orders(r.getLong(0))
        (sg, odate.getYear.toLong,
          if (r.getAs[java.time.LocalDateTime](1).isAfter(odate.plusDays(30)))
            1L else 0L)
      }.toSeq
  }

  test("Mantel-Haenszel matches an exact driver replay") {
    val strata = lateCells.groupBy(_._2).map { case (_, xs) =>
      val a = xs.count(e => e._1 <= 2 && e._3 == 1).toLong
      val b = xs.count(e => e._1 <= 2 && e._3 == 0).toLong
      val c = xs.count(e => e._1 > 2 && e._3 == 1).toLong
      val d = xs.count(e => e._1 > 2 && e._3 == 0).toLong
      (a, b, c, d)
    }.toSeq
    val r = strata.map { case (a, b, c, d) => a * d * 1000000L / (a + b + c + d) }.sum
    val sE = strata.map { case (a, b, c, d) => b * c * 1000000L / (a + b + c + d) }.sum
    val (sa, sb, sc, sd) = (strata.map(_._1).sum, strata.map(_._2).sum,
      strata.map(_._3).sum, strata.map(_._4).sum)
    val row = operators.NonparamOps.mantelHaenszel(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === strata.length.toLong, "n_strata")
    assert(row(0).getLong(1) === r * 1000 / sE, "or_mh_milli")
    assert(row(0).getLong(2) ===
      (BigInt(sa) * sd * 1000 / (BigInt(sb) * sc)).toLong, "or_pooled_milli")
  }

  test("Cohen's h matches an exact driver replay (shared libm)") {
    val n1 = lateCells.count(_._1 == 1).toLong
    val x1 = lateCells.filter(_._1 == 1).map(_._3).sum
    val n2 = lateCells.count(_._1 == 5).toLong
    val x2 = lateCells.filter(_._1 == 5).map(_._3).sum
    val h = math.floor((2 * math.asin(math.sqrt(x1.toDouble / n1)) -
      2 * math.asin(math.sqrt(x2.toDouble / n2))) * 1000).toLong
    val row = operators.NonparamOps.cohensH(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n1 && row(0).getLong(1) === x1)
    assert(row(0).getLong(2) === n2 && row(0).getLong(3) === x2)
    assert(row(0).getLong(4) === h, "h_milli")
    assert(row(0).getBoolean(5) === (math.abs(h) >= 200L))
  }

  test("lang-ID confusion is the exact histogram of the per-doc predictions") {
    val perDoc = operators.TextOps.textLangId(spark, sfDir)
      .select("actual_lang", "predicted_lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val totals = Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val classified = perDoc.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val expected = perDoc.groupBy(identity).toSeq
      .map { case ((al, pl), xs) =>
        val n = xs.length.toLong
        (al, pl, n, n * 1000000L / classified(al),
          classified(al) * 1000000L / totals(al))
      }.sortBy(e => (e._1, e._2))
    val got = operators.TextOps.evalLangidConfusion(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  // ---- 10. exact driver replays for #487-#489 (seventh r17 batch) ------

  test("Haar energy matches an exact BigInt driver replay") {
    val vs = dailyCents
    val expected = (1 to 5).flatMap { j =>
      val bs = 1 << j
      val blocks = vs.grouped(bs).filter(_.length == bs).toSeq
      if (blocks.isEmpty) None
      else {
        val coefs = blocks.map(b =>
          b.take(bs / 2).sum - b.drop(bs / 2).sum)
        Some((j.toLong, blocks.length.toLong, coefs.map(c => c * c).sum))
      }
    }
    val eAll = expected.map(_._3).sum
    val rows = expected.map { case (j, nb, e) =>
      (j, nb, (e / 1000000).toLong, (e * 1000000 / eAll).toLong) }
    val got = operators.SeriesOps.tsHaarEnergy(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty && got === rows)
  }

  test("source duplication profile is the exact per-source edge histogram") {
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrcDocs = src.values.groupBy(identity)
      .map { case (k, xs) => k -> xs.size.toLong }
    val pairSrc = operators.DedupOps.materializedEdges(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map { r =>
        // edges are (lang, source)-blocked: both ends must agree
        assert(src(r.getLong(0)) === src(r.getLong(1)))
        src(r.getLong(0))
      }
    val bySrcPairs = pairSrc.groupBy(identity)
      .map { case (k, xs) => k -> xs.length.toLong }
    val nAll = pairSrc.length.toLong
    val expected = bySrcDocs.toSeq.sortBy(_._1).map { case (s0, nd) =>
      val np = bySrcPairs.getOrElse(s0, 0L)
      (s0, nd, np, np * 1000L / nd, np * 1000000L / nAll)
    }
    val got = operators.DedupOps.dedupSourceProfile(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  test("log-rank matches an exact driver replay") {
    val utc = java.time.ZoneOffset.UTC
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).toInstant))
    def day(i: java.time.Instant) = i.atZone(utc).toLocalDate
    val horizon = evs.map(e => day(e._3)).max
    val s0 = evs.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val durs = s0.toSeq.map { case (u, t0) =>
      val te = evs.filter(e => e._1 == u && e._2 == "purchase" &&
        !e._3.isBefore(t0)).map(_._3).sorted.headOption
      (u % 2,
        te.map(t => java.time.temporal.ChronoUnit.DAYS.between(day(t0), day(t)))
          .getOrElse(java.time.temporal.ChronoUnit.DAYS.between(day(t0), horizon)),
        if (te.isDefined) 1L else 0L)
    }
    val daily = durs.groupBy(_._2).toSeq.sortBy(-_._1).map { case (dur, xs) =>
      (dur, xs.filter(_._1 == 1).map(_._3).sum, xs.map(_._3).sum,
        xs.count(_._1 == 1).toLong, xs.length.toLong)
    }
    var n = 0L; var n1 = 0L; var o1 = 0L; var e1 = 0L; var v = BigInt(0)
    var nTimes = 0L
    daily.foreach { case (_, d1, d, m1, m) =>
      n += m; n1 += m1
      if (d > 0 && n > 1) {
        nTimes += 1; o1 += d1
        e1 += d * n1 * 1000000L / n
        v += BigInt(d) * n1 * (n - n1) * (n - d) * 1000000 /
          (BigInt(n) * n * (n - 1))
      }
    }
    val z = math.floor((o1 * 1000000L - e1).toDouble /
      math.sqrt(v.toDouble * 1e6) * 1000).toLong
    val row = operators.EventOps.statsLogrank(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === nTimes, "n_times")
    assert(row(0).getLong(1) === o1, "o1")
    assert(row(0).getLong(2) === e1, "e1_e6")
    assert(row(0).getLong(3) === v.toLong, "v_e6")
    assert(row(0).getLong(4) === z, "z_milli")
    assert(row(0).getBoolean(5) === (math.abs(z) > 1960L))
  }

  // ---- 11. exact driver replays for #490-#492 (eighth r17 batch) -------

  test("median CI matches an exact driver replay") {
    val vs = dailyCents.map(_.toLong)
    val sorted = vs.zip(dailyDayKeys).sortBy { case (v, d) => (v, d) }.map(_._1)
    val n = sorted.length.toLong
    val l = math.max(1L,
      math.floor((n - 1.96 * math.sqrt(n.toDouble)) / 2).toLong)
    val u = n + 1 - l
    val medLo = sorted(((n + 1) / 2 - 1).toInt)
    val medHi = sorted(((n + 2) / 2 - 1).toInt)
    val row = operators.NonparamOps.medianCi(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_days")
    assert(row(0).getLong(1) === l, "l_rank")
    assert(row(0).getLong(2) === u, "u_rank")
    assert(row(0).getLong(3) === sorted((l - 1).toInt), "ci_lo")
    assert(row(0).getLong(4) === sorted((u - 1).toInt), "ci_hi")
    assert(row(0).getLong(5) === (medLo + medHi) / 2, "median_cents")
  }

  test("AR(1) half-life matches an exact driver replay") {
    val vs = dailyCents.map(_.toLong)
    val pairs = vs.sliding(2).map { case Seq(a, b) => (a, b - a) }.toSeq
    val m = pairs.length
    val sx = pairs.map(p => BigInt(p._1)).sum
    val sy = pairs.map(p => BigInt(p._2)).sum
    val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
    val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
    val b = math.floor((m.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (m.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) * 1000000).toLong
    val phi = b + 1000000L
    val hl: Option[Long] =
      if (phi > 0 && phi < 1000000)
        Some(math.floor(-math.log(2.0) / math.log(phi.toDouble / 1e6) * 1000)
          .toLong)
      else None
    val row = operators.NonparamOps.tsHalflife(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === m.toLong, "n_days")
    assert(row(0).getLong(1) === b, "b_ppm")
    assert(row(0).getLong(2) === phi, "phi_ppm")
    assert((if (row(0).isNullAt(3)) None else Some(row(0).getLong(3))) === hl,
      "halflife_milli")
  }

  test("length lognormality matches an exact driver replay (shared libm)") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue))
      .filter(_._2 > 0)
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val lns = xs.map(e => BigInt(
        math.floor(math.log(e._2.toDouble) * 1e6).toLong))
      val n = lns.length
      val s1 = lns.sum; val s2 = lns.map(x => x * x).sum
      val s3 = lns.map(x => x * x * x).sum
      val s4 = lns.map(x => x * x * x * x).sum
      val mu = s1.toDouble / n
      val m2 = s2.toDouble / n - mu * mu
      val m3 = s3.toDouble / n - 3.0 * mu * (s2.toDouble / n) +
        2.0 * mu * mu * mu
      val m4 = s4.toDouble / n - 4.0 * mu * (s3.toDouble / n) +
        6.0 * mu * mu * (s2.toDouble / n) - 3.0 * mu * mu * mu * mu
      val skew = m3 / (m2 * math.sqrt(m2))
      val kurt = m4 / (m2 * m2)
      val jb = math.floor(n / 6.0 *
        (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0) * 1000).toLong
      (src, n.toLong, math.floor(mu).toLong,
        math.floor(skew * 1e6).toLong, math.floor(kurt * 1e6).toLong, jb,
        jb > 5991L)
    }
    val got = operators.CorpusOps.textLengthLognormality(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  // ---- 12. exact driver replays for #493-#495 (ninth r17 batch) --------

  test("AD uniformity matches a per-row driver replay (validates the tie closed form)") {
    val ids = Tables.documents(spark, sfDir).select(col("doc_id")).collect()
      .map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val us = ids.map { id =>
      java.lang.Long.parseLong(md.digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8), 16)
    }.sorted
    val m = 4294967296L
    val n = us.length.toLong
    def lnN(x: Long) = math.floor(math.log(x.toDouble) * 1e9).toLong
    val ln2M = lnN(2 * m)
    // per-ROW coefficients (the operator uses the per-tie-run closed
    // form; equality here proves the collapse)
    var sS = BigInt(0)
    us.zipWithIndex.foreach { case (u, idx) =>
      val i = idx + 1L
      sS += BigInt(2 * i - 1) * (lnN(2 * u + 1) - ln2M) +
        BigInt(2 * (n - i) + 1) * (lnN(2 * (m - u) - 1) - ln2M)
    }
    val a2 = (BigInt(-n) * 1000000000 - sS / n).toLong
    val row = operators.PipelineOps.splitUniformityAd(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_docs")
    assert(row(0).getLong(1) === a2, "a2_nano")
    assert(row(0).getBoolean(2) === (a2 > 2492000000L))
    assert(!row(0).getBoolean(2),
      "the house splitter must pass the tail-weighted audit too")
  }

  test("phash bit balance is the exact per-bit popcount of the hashes") {
    val hashes = operators.Multimodal.multimodalPhash(spark, sfDir)
      .select("phash").collect().map(_.getLong(0))
    val nI = hashes.length.toLong
    val expected = (0L to 63L).map { b =>
      val ones = hashes.map(p => (p >>> b) & 1L).sum
      val ppm = ones * 1000000L / nI
      (b, nI, ones, ppm, math.abs(ppm - 500000L))
    }
    val got = operators.Multimodal.multimodalPhashBalance(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
  }

  test("Welch ANOVA matches an exact driver replay (written-order doubles)") {
    val cells = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue))
      .groupBy(_._1)
    def sums(f: String) = {
      val xs = cells(f).map(_._2)
      (xs.length.toLong, xs.map(BigInt(_)).sum, xs.map(x => BigInt(x) * x).sum)
    }
    val (naL, s1a, s2a) = sums("A"); val (nnL, s1n, s2n) = sums("N")
    val (nrL, s1r, s2r) = sums("R")
    def mv(n: Long, s1: BigInt, s2: BigInt) = {
      val mean = s1.toDouble / n
      val v = (n.toDouble * s2.toDouble - s1.toDouble * s1.toDouble) /
        (n.toDouble * (n - 1))
      (mean, v)
    }
    val (mA, vA) = mv(naL, s1a, s2a); val (mN, vN) = mv(nnL, s1n, s2n)
    val (mR, vR) = mv(nrL, s1r, s2r)
    val wA = naL / vA; val wN = nnL / vN; val wR = nrL / vR
    val wS = wA + wN + wR
    val xw = (wA * mA + wN * mN + wR * mR) / wS
    val aNum = (wA * (mA - xw) * (mA - xw) + wN * (mN - xw) * (mN - xw) +
      wR * (mR - xw) * (mR - xw)) / 2.0
    val lam = (1.0 - wA / wS) * (1.0 - wA / wS) / (naL - 1) +
      (1.0 - wN / wS) * (1.0 - wN / wS) / (nnL - 1) +
      (1.0 - wR / wS) * (1.0 - wR / wS) / (nrL - 1)
    val f = math.floor(aNum / (1.0 + 0.25 * lam) * 1000).toLong
    val df2 = math.floor(8.0 / (3.0 * lam) * 1000).toLong
    val row = operators.NonparamOps.welchAnova(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === naL && row(0).getLong(1) === nnL &&
      row(0).getLong(2) === nrL)
    assert(row(0).getLong(3) === f, "f_milli")
    assert(row(0).getLong(4) === df2, "df2_milli")
    assert(row(0).getBoolean(5) === (f > 2995L))
  }

  // ---- 13. exact driver replays for #496-#500 (tenth r17 batch) --------

  test("Rayleigh matches an exact driver replay (shared libm)") {
    val utc = java.time.ZoneOffset.UTC
    val dows = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("ts")).collect()
      .map(r => r.getTimestamp(0).toInstant.atZone(utc).toLocalDate.toEpochDay % 7)
    val n = dows.length.toLong
    val counts = dows.groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    var c = 0L; var sN = 0L
    counts.foreach { case (d, nd) =>
      c += nd * math.floor(math.cos(2 * math.Pi * d / 7) * 1e9).toLong
      sN += nd * math.floor(math.sin(2 * math.Pi * d / 7) * 1e9).toLong
    }
    val z = ((BigInt(c) * c + BigInt(sN) * sN) /
      (BigInt(n) * 1000000000000000L)).toLong
    val dir0 = math.floor(math.atan2(sN.toDouble, c.toDouble) * 1000).toLong
    val row = operators.NonparamOps.rayleigh(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_events")
    assert(row(0).getLong(1) === c, "c_nano")
    assert(row(0).getLong(2) === sN, "s_nano")
    assert(row(0).getLong(3) === z, "z_milli")
    assert(row(0).getLong(4) === dir0, "mean_dir_milli")
    assert(row(0).getBoolean(5) === (z > 2995L))
  }

  test("Zipf GOF matches an exact driver replay") {
    val freqs = Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val top = freqs.toSeq.sortBy { case (t, f) => (-f, t) }.take(100)
    // the harmonic total runs over the ACTUAL top size (a vocabulary
    // smaller than 100 truncates the grid on both engines)
    val hAll = (1 to top.length).map(k => 1000000000L / k).sum
    val fAll = top.map(_._2).sum
    var cumf = 0L; var hr = 0L
    var dmax = BigInt(-1); var atRank = 0L
    top.zipWithIndex.foreach { case ((_, f), i) =>
      cumf += f; hr += 1000000000L / (i + 1)
      val d = (BigInt(cumf) * hAll - BigInt(fAll) * hr).abs
      if (d > dmax) { dmax = d; atRank = i + 1L }
    }
    val dPpm = (dmax * 1000000 / (BigInt(fAll) * hAll)).toLong
    val row = operators.CorpusOps.textZipfGof(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === fAll, "top_mass")
    assert(row(0).getLong(1) === atRank, "at_rank")
    assert(row(0).getLong(2) === dPpm, "d_ppm")
  }

  test("user entropy histogram matches an exact driver replay") {
    val cells = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).map { case ((u, t), xs) => (u, t, xs.length.toLong) }
    def lnN(x: Long) = math.floor(math.log(x.toDouble) * 1e9).toLong
    // toSeq first: mapping the user Map to (bucket, n) pairs would
    // re-key by bucket and collapse same-bucket users
    val perUser = cells.groupBy(_._1).toSeq.map { case (_, xs) =>
      val nn = xs.map(_._3).sum
      val scl = xs.map(e => e._3 * lnN(e._3)).sum
      ((lnN(nn) - scl / nn) / 200000000L, nn)
    }
    val expected = perUser.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, xs) => (b, xs.size.toLong, xs.map(_._2).sum) }
    val got = operators.EventOps.eventUserEntropy(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  test("TSI matches an exact integer driver replay") {
    val daily = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"),
        col("o_totalprice")).collect()
      .map { r =>
        val cents = new java.math.BigDecimal(
            java.lang.Double.toString(r.getAs[Number](2).doubleValue))
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .movePointRight(2).toBigIntegerExact()
        (r.getString(0), r.getDate(1).toString, BigInt(cents))
      }
      .groupBy(e => (e._1, e._2)).map { case ((p, d), xs) =>
        (p, d, xs.map(_._3).sum.toLong) }
      .groupBy(_._1)
    def ema(xs: Seq[Long], lags: Int): Seq[Long] =
      xs.indices.map { t =>
        var num = BigInt(0); var den = 0L
        (0 until lags).foreach { j =>
          if (t - j >= 0) {
            val w = 1L << (lags - 1 - j)
            num += BigInt(xs(t - j)) * w; den += w
          }
        }
        (num / den).toLong
      }
    val expected = daily.toSeq.flatMap { case (pri, cells) =>
      val vs = cells.toSeq.sortBy(_._2)
      val days = vs.map(_._2).drop(1)
      val mom = vs.map(_._3).sliding(2).map { case Seq(a, b) => b - a }.toSeq
      // stage-1 EMA carries the exact rational via numerator*1e6 then ONE
      // floor (mirror the (mn*1e6) div md staging)
      def ema1(xs: Seq[Long]): Seq[Long] = xs.indices.map { t =>
        var num = BigInt(0); var den = 0L
        (0 until 8).foreach { j =>
          if (t - j >= 0) { val w = 1L << (7 - j); num += BigInt(xs(t - j)) * w; den += w }
        }
        (num * 1000000 / den).toLong
      }
      val m1 = ema1(mom); val a1 = ema1(mom.map(math.abs))
      val m2 = ema(m1, 4); val a2 = ema(a1, 4)
      days.indices.map { i =>
        (pri, days(i), m2(i), a2(i),
          if (a2(i) > 0) Some(m2(i) * 1000 / a2(i)) else None)
      }
    }.sortBy(e => (e._1, e._2))
    val got = operators.SeriesOps.winTsi(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got.nonEmpty && got === expected)
  }

  test("quantization sweep matches an exact BigInt driver replay") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray
        .map(x => math.floor(x.toDouble * 1e6).toLong))
      .filter(v => v.map(math.abs).max > 0)
    val expected = Seq((8L, 127L), (4L, 7L), (2L, 1L)).map { case (b, lv) =>
      var se2 = BigInt(0); var sx2 = BigInt(0)
      vecs.foreach { v =>
        val sc = v.map(math.abs).max
        v.foreach { x =>
          val e = x * lv - (x * lv / sc) * sc
          se2 += BigInt(e) * e; sx2 += BigInt(x) * x
        }
      }
      (b, (se2 * 1000000 / (BigInt(lv) * lv * sx2)).toLong)
    }
    val got = operators.ClusterOps.embedQuantSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  test("Sortino matches an exact driver replay (shared libm)") {
    val expected = eventDays
      .filter(_._7 > 0)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (t, days) =>
        val rs = days.sortBy(_._2).sliding(2).collect {
          case Seq(prev, curr) => BigInt(lnN(curr._7) - lnN(prev._7))
        }.toSeq
        if (rs.isEmpty) None
        else {
          val n = rs.length.toLong
          val mean = (rs.sum / n).toLong
          val sdd2 = rs.filter(_ < 0).map(r => r * r).sum
          val semi = math.floor(math.sqrt(
            (sdd2 / (BigInt(n) * 1000000L)).toDouble)).toLong
          val ratio: Option[Long] = if (semi > 0) Some(mean / semi) else None
          Some((t, n, mean, semi, ratio))
        }
      }
    val got = operators.IndicatorOps.winSortino(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got.nonEmpty && got === expected)
  }
}
