package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Round-13 additions, SURVEY §2 #367–#372: complexity/spectral
  * readouts of the revenue time series (permutation entropy, Schuster
  * periodogram), the MACD momentum indicator completing the finance
  * window family, a Jarque–Bera normality screen, and two embedding
  * geometry diagnostics (isotropy, SemDeDup-style threshold sweep).
  *
  * Exactness discipline: every series value is staged to exact integer
  * cents (decimal-sum × 100); counts and clipped sums are integers;
  * libm surfaces (ln, cos) evaluate over exact integer inputs and are
  * floored to nano units BEFORE any aggregation, so all SUMS are
  * integer-exact and partition-order-proof (the one repo-wide rule for
  * order-sensitive doubles — see [[graft.Det]]).
  */
object SeriesOps {

  /** Daily revenue in exact integer cents, per order priority. */
  private def dailyByPri(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("pri"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))

  /** #367 Permutation entropy (order 3) of the daily revenue series per
    * priority: each 3-day window maps to its ordinal pattern (6 valid
    * patterns, encoded by the three pairwise strict-less comparisons on
    * exact cents), and the pattern distribution's Shannon entropy — the
    * model-free complexity gauge that separates trending/periodic
    * series (few patterns) from noise (uniform patterns). Bandt &
    * Pompe 2002.
    *
    * Entropy is computed from integer counts with ln floored to nano
    * units per term (H_nano = lnN_nano − Σc·ln(c)_nano div N), so the
    * aggregation is exact-integer and the normalized entropy is a pure
    * integer division by ln(6)·1e9. Scale: one day-grain aggregate
    * (calendar-bounded), lag windows on the priority partitioning,
    * then a ≤6-row-per-priority pattern aggregate.
    */
  def tsPermEntropy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("day")
    val pat = dailyByPri(s, dir)
      .withColumn("a", lag(col("v"), 2).over(w))
      .withColumn("b", lag(col("v"), 1).over(w))
      .filter(col("a").isNotNull)
      .withColumn("code",
        when(col("a") < col("b"), 4).otherwise(0) +
          when(col("a") < col("v"), 2).otherwise(0) +
          when(col("b") < col("v"), 1).otherwise(0))
    val ln6Nano = 1791759469L // floor(ln(6)·1e9), pinned on both engines
    pat.groupBy("pri", "code").agg(count(lit(1)).as("c"))
      .groupBy("pri")
      .agg(sum(col("c")).as("nw"), count(lit(1)).as("n_patterns"),
        sum(col("c") * floor(log(col("c").cast("double")) * 1e9).cast("long"))
          .as("clc_nano"))
      .select(col("pri"), col("nw"), col("n_patterns"),
        (floor(log(col("nw").cast("double")) * 1e9).cast("long") -
          expr("clc_nano div nw")).as("h_nano"))
      .withColumn("h_milli", expr("h_nano div 1000000"))
      .withColumn("h_norm_ppm", expr(s"(h_nano * 1000000) div ${ln6Nano}L"))
      .select("pri", "nw", "n_patterns", "h_milli", "h_norm_ppm")
      .orderBy("pri")
  }

  /** #368 Schuster periodogram of the global daily revenue series at
    * wave numbers k = 1..8: P(k) = (Σv·cos θ_kt / N)² + (Σv·sin θ_kt /
    * N)², θ_kt = 2πkt/N — the spectral screen for calendar periodicity
    * before fitting any seasonal model. cos/sin are floored to nano
    * BEFORE the sum, so both Σ terms are exact DECIMAL(38,0) integer
    * sums (cents × nano ≈ 1e17/term — inside the envelope to ~1e19
    * daily cents, i.e. thousands of SF beyond the fixture); power
    * emits div 1e18 (≈ cents² units). Scale: the series is CALENDAR-
    * bounded (the only corpus-sized job is the day aggregate); k×t
    * expansion is 8×|days|.
    */
  def tsPeriodogram(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy("day")) - 1)
    val withN = idx.crossJoin(broadcast(idx.agg(count(lit(1)).as("nd"))))
    withN.select(col("t"), col("v"), col("nd"),
      explode(sequence(lit(1), lit(8))).as("k"))
      .withColumn("cnano",
        expr("cast(floor(cos(2 * pi() * k * cast(t as double) / nd) * 1e9) as long)"))
      .withColumn("snano",
        expr("cast(floor(sin(2 * pi() * k * cast(t as double) / nd) * 1e9) as long)"))
      .groupBy("k")
      .agg(max(col("nd")).as("n_days"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          col("cnano")).as("ck"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          col("snano")).as("sk"))
      .select(col("k"), col("n_days"),
        expr("cast(ck div n_days as long)").as("ck_e9"),
        expr("cast(sk div n_days as long)").as("sk_e9"),
        // squares re-stage through DECIMAL: div yields int64 and the
        // square of a ~3e17 term would overflow a long product
        expr("cast((cast(ck div n_days as decimal(38,0)) * (ck div n_days) + " +
          "cast(sk div n_days as decimal(38,0)) * (sk div n_days)) " +
          "div 1000000000000000000 as long)")
          .as("power_e18"))
      .orderBy("k")
  }

  /** #517 Detrended fluctuation analysis (log-averaged) of the daily
    * revenue: per scale s ∈ {8,16,32,64}, the series' demeaned profile
    * is split into complete s-day blocks, each block OLS-detrended and
    * its squared fluctuation (SSE) log-read; the scaling exponent α is
    * the slope of mean-ln-SSE against ln s over the four scales,
    * halved (SSE ∝ F²). α ≈ 0.5 is uncorrelated noise, α → 1 is 1/f
    * long-memory, α > 1 is non-stationary drift. WHY next to
    * #322/#311: Hurst R/S (#322) reads long memory from RANGES and is
    * famously biased by short-range structure and trends; DFA detrends
    * each window first, so it separates "genuine long memory" from
    * "piecewise trends" — the distinction that decides whether history
    * length helps a forecaster. Conventions stated: the profile is the
    * N-scaled exact form N·cum_k − k·T (a constant N factor shifts
    * every ln equally — slope unchanged); blocks average in LOG space
    * (geometric-mean fluctuation — keeps the cross-block aggregation
    * an exact integer sum); zero-SSE blocks are excluded (flat block
    * has no fluctuation to read, and ln 0 diverges) — both engines
    * identically.
    *
    * Exactness: profile exact DECIMAL (the #510 cross-multiplied
    * demean); per-block OLS sums exact (the #476 ladder); ONE mirrored
    * double chain per block (SSE → floored-nano ln, HUGEINTs through
    * VARCHAR in the twin); per-scale means and the 4-point slope are
    * exact integer algebra with ONE terminal mirrored double division.
    * Scale: calendar-bounded — the day aggregate is the only
    * corpus-sized job; the 4×N grid and ≤ N/8-row block relation ride
    * above it.
    */
  def tsDfa(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))
    val w = Window.orderBy("day")
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val idx = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cy", sum(col("v").cast(dec)).over(cum))
    val tot = idx.agg(max(col("k")).as("nn"), sum(col("v").cast(dec)).as("tt"))
    val prof = idx.crossJoin(broadcast(tot))
      .select(col("k"), (col("cy") * col("nn") - col("tt") * col("k")).as("p"),
        col("nn"))
      .localCheckpoint()
    val blocks = prof
      .select(col("k"), col("p"), col("nn"),
        explode(expr("array(8L, 16L, 32L, 64L)")).as("s"))
      .filter(col("k") <= expr("(nn div s) * s"))
      .withColumn("b", expr("(k - 1) div s"))
      .withColumn("t", expr("(k - 1) % s"))
      .groupBy("s", "b")
      .agg(count(lit(1)).as("m"), sum(col("t")).as("st"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("p")).as("sy"),
        sum(col("p") * col("p")).as("syy"),
        sum(col("t").cast(dec) * col("p")).as("sty"))
      .withColumn("sse",
        expr("cast(syy as double) - cast(sy as double) * " +
          "cast(sy as double) / m - (cast(sty as double) - st * " +
          "cast(sy as double) / m) * (cast(sty as double) - st * " +
          "cast(sy as double) / m) / (cast(stt as double) - " +
          "cast(st as double) * st / m)"))
      .filter(col("sse") > 0)
      .select(col("s"),
        expr("cast(floor(ln(sse) * 1e9) as bigint)").as("lnsse"))
    val perScale = blocks.groupBy("s")
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("lnsse").cast(dec)).as("sl"))
      .select(col("s"), col("n_blocks"),
        expr("cast(sl div n_blocks as long)").as("lnf2_nano"),
        expr("cast(floor(ln(cast(s as double)) * 1e9) as bigint)").as("lns"))
      .localCheckpoint()
    val slope = perScale.agg(count(lit(1)).as("np"),
        sum(col("lns").cast(dec)).as("sx"),
        sum(col("lnf2_nano").cast(dec)).as("sy"),
        sum(col("lns").cast(dec) * col("lnf2_nano")).as("sxy"),
        sum(col("lns").cast(dec) * col("lns")).as("sxx"))
      .select(
        (col("np").cast(dec) * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("np").cast(dec) * col("sxx") - col("sx") * col("sx")).as("den"))
      .select(expr("CASE WHEN den > 0 THEN " +
        "cast(floor(cast(num as double) / cast(den as double) / 2.0 * 1000) " +
        "as bigint) END").as("alpha_milli"))
    perScale.crossJoin(broadcast(slope))
      .select(col("s"), col("n_blocks"), col("lnf2_nano"), col("alpha_milli"))
      .orderBy("s")
  }

  /** #508 Lomb-Scargle periodogram at wave numbers k = 1..8 of the
    * daily revenue on its ACTUAL calendar offsets (t = day − first
    * day): the least-squares spectral estimate that stays unbiased
    * when the series has GAPS, where #368's Schuster form silently
    * assumes a contiguous index — the two coincide on a complete
    * calendar (the graded fixture) and diverge exactly when days are
    * missing, which is when a production revenue series needs the
    * spectral screen most (#233 coverage says gaps exist; this is the
    * periodogram that tolerates them). Per k: the phase shift τ from
    * tan(2ωτ) = Σsin 2ωt / Σcos 2ωt (ONE atan2 on exact integer sums
    * — the #496 pinned-libm surface), then P = ½[(Σv·cos ω(t−τ))²/
    * Σcos² + (Σv·sin …)²/Σsin²].
    *
    * Exactness: both trig passes floor to nano per day so every Σ is
    * exact DECIMAL over exact ints; the per-k normalizations are
    * truncating div n_days; the readout is ONE mirrored double chain.
    * θ feeds cos/sin through identically-written arithmetic, and the
    * θ sums are calendar-bounded (≤ N·10⁹ ≈ 2.4e12 ≪ 2⁵³) so the
    * decimal→double cast is exact on both engines. Power envelope
    * matches #368 (v̄² cents²; int64-safe to ~1e9 cents/day). Scale:
    * calendar-bounded — the day aggregate is the only corpus-sized
    * job; the 8×N grid and two 8-row reductions follow.
    */
  def tsLombScargle(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))
    val bounds = daily.agg(min(col("day")).as("d0"),
      (datediff(max(col("day")), min(col("day"))) + 1).cast("long").as("span"),
      count(lit(1)).as("nd"))
    val grid = daily.crossJoin(broadcast(bounds))
      .select(datediff(col("day"), col("d0")).cast("long").as("t"),
        col("v"), col("span"), col("nd"),
        explode(sequence(lit(1), lit(8))).as("k"))
      .localCheckpoint()
    val tau = grid
      .withColumn("c2",
        expr("cast(floor(cos(4 * pi() * k * cast(t as double) / span) " +
          "* 1e9) as long)"))
      .withColumn("s2",
        expr("cast(floor(sin(4 * pi() * k * cast(t as double) / span) " +
          "* 1e9) as long)"))
      .groupBy("k")
      .agg(sum(col("c2").cast(dec)).as("sc2"), sum(col("s2").cast(dec)).as("ss2"))
      .select(col("k"),
        expr("atan2(cast(ss2 as double), cast(sc2 as double))").as("theta"))
    grid.join(broadcast(tau), Seq("k"))
      .withColumn("arg",
        expr("2 * pi() * k * cast(t as double) / span - theta / 2"))
      .withColumn("a", expr("cast(floor(cos(arg) * 1e9) as long)"))
      .withColumn("b", expr("cast(floor(sin(arg) * 1e9) as long)"))
      .groupBy("k")
      .agg(max(col("nd")).as("n_days"),
        max(expr("cast(floor(theta * 1000) as bigint)")).as("theta_milli"),
        sum(col("v").cast(dec) * col("a")).as("sva"),
        sum(col("v").cast(dec) * col("b")).as("svb"),
        sum(col("a").cast(dec) * col("a")).as("saa"),
        sum(col("b").cast(dec) * col("b")).as("sbb"))
      .select(col("k"), col("n_days"), col("theta_milli"),
        expr("cast(sva div n_days as long)").as("mva"),
        expr("cast(svb div n_days as long)").as("mvb"),
        expr("cast(saa div n_days as long)").as("maa"),
        expr("cast(sbb div n_days as long)").as("mbb"))
      .withColumn("power_cents2",
        expr("CASE WHEN maa > 0 AND mbb > 0 THEN " +
          "cast(floor(0.5 * (cast(mva as double) * cast(mva as double) / " +
          "cast(maa as double) + " +
          "cast(mvb as double) * cast(mvb as double) / " +
          "cast(mbb as double))) as bigint) END"))
      .select("k", "n_days", "theta_milli", "power_cents2")
      .orderBy("k")
  }

  /** #451 Bartlett cumulative periodogram white-noise test on the
    * global daily revenue series — the spectral goodness-of-fit
    * companion to #368 (which SCREENS 8 wave numbers; this one TESTS
    * the whole spectrum): under white noise the normalized cumulative
    * periodogram C_j = Σ_{i≤j} P_i / Σ P climbs the diagonal j/K, and
    * the KS-style statistic D = max_j |C_j − j/K| rejects at the
    * 1.36/√K asymptotic 5% band. The standard residual-whiteness check
    * after any seasonal/trend fit (#232/#255), frequency-domain dual
    * of Ljung–Box (#387).
    *
    * Determinism: the same floored-nano cos/sin staging as #368 over
    * the FULL Fourier grid j = 1..(N−1) div 2; per-frequency power
    * re-staged div 1e18 (exact, mirrored), so the cumulative sum and
    * the cross-multiplied deviation |cum_j·K − j·total| are exact
    * DECIMAL(38,0) integers — ONE terminal ppm division, and the 5%
    * band is the identical floor(1.36e6/√K) double expression on both
    * engines. The argmax frequency ties to the smallest j. Scale: the
    * series is CALENDAR-bounded, so the j×t term grid is ~N²/2 ≈ 3M
    * rows at ANY corpus size — the only corpus-sized job is the day
    * aggregate.
    */
  /** Structural bound declaration for the cumulative readout's global
    * windows over the materialized spectrum read (GlobalWindowSpec's
    * contract: a no-partition window must sit above a Limit or bounded
    * Aggregate). Value-neutral: the spectrum has (N−1) div 2 rows for
    * an N-day calendar — 10M frequencies would need a ~55,000-year
    * daily series — so the limit never truncates; it DECLARES the
    * bound the inline plan used to carry via its day aggregate.
    */
  private val SpectrumBound = 10000000

  def tsCumPeriodogram(s: SparkSession, dir: String): DataFrame =
    cumPeriodogramReadout(materializedPowerSpectrum(s, dir).limit(SpectrumBound))

  /** From-scratch #451 (spectrum plan + readout) over an arbitrary
    * (day, v) daily frame — the kernel the derived file caches and the
    * Round17Spec invariance/degenerate-calendar pins replay.
    */
  private[graft] def tsCumPeriodogramOf(daily: DataFrame): DataFrame =
    cumPeriodogramReadout(powerSpectrumPlanOf(daily))

  /** Materialized full-grid power spectrum (j, p_e18) of the global
    * daily revenue series — the r16 verdict's third amortization: the
    * ~N²/2-row Fourier-grid evaluation in [[powerSpectrumPlanOf]] is a
    * pure function of orders (the series is the day aggregate, the grid
    * a pure function of the series), so the spectrum joins the same
    * build-once tier as the graph derivations. |frequencies| =
    * (N−1) div 2 rows — tiny, but the grid behind it is the cost. Two
    * graded consumers: #451's cumulative readout and #460's flatness.
    * Round17Spec pins output invariance against the from-scratch plan.
    */
  private[graft] def materializedPowerSpectrum(
      s: SparkSession, dir: String): DataFrame = {
    val path = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_io/power_spectrum_v1_${DedupOps.cacheKey(dir, "orders")}"
    DerivedFiles.getOrBuildParquet(s, path)(
      powerSpectrumPlanOf(Tables.orders(s, dir)
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))))
  }

  /** Full Fourier grid j = 1..(N−1) div 2 → per-frequency power
    * (j, p_e18) with the #368 floored-nano staging (see
    * [[tsCumPeriodogram]]'s scaladoc for the exactness argument).
    */
  private[graft] def powerSpectrumPlanOf(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy("day")) - 1)
    val withN = idx.crossJoin(broadcast(idx.agg(count(lit(1)).as("nd"))))
    withN
      .select(col("t"), col("v"), col("nd"),
        explode(sequence(lit(1L), expr("(nd - 1) div 2"))).as("j"))
      // Degenerate-calendar guard (r16 ADVICE): when nd <= 2 the upper
      // bound is 0 and Spark's sequence(1, 0) DESCENDS to [1, 0] —
      // DuckDB's range(1, 1) is empty. The grid contract is empty there;
      // this filter is a codegen'd no-op on any real calendar.
      .filter(col("j") >= 1L && col("j") <= expr("(nd - 1) div 2"))
      .withColumn("cnano",
        expr("cast(floor(cos(2 * pi() * j * cast(t as double) / nd) * 1e9) as long)"))
      .withColumn("snano",
        expr("cast(floor(sin(2 * pi() * j * cast(t as double) / nd) * 1e9) as long)"))
      .groupBy("j")
      .agg(max(col("nd")).as("nd"),
        sum(col("v").cast(DecimalType(38, 0)) * col("cnano")).as("ck"),
        sum(col("v").cast(DecimalType(38, 0)) * col("snano")).as("sk"))
      // per-frequency power, re-staged exactly like #368: div by N keeps
      // the square inside DECIMAL(38,0); div 1e18 keeps the K-term
      // cumulative sum inside it too (both floored, mirrored)
      .select(col("j"),
        expr("cast((cast(ck div nd as decimal(38,0)) * (ck div nd) + " +
          "cast(sk div nd as decimal(38,0)) * (sk div nd)) " +
          "div 1000000000000000000 as decimal(38,0))").as("p_e18"))
  }

  private def cumPeriodogramReadout(pw: DataFrame): DataFrame = {
    val wCum = Window.orderBy("j")
      .rowsBetween(Window.unboundedPreceding, 0)
    val frame = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val dev = pw
      .withColumn("cum", sum(col("p_e18")).over(wCum))
      .withColumn("kmax", count(lit(1)).over(frame))
      .withColumn("total", sum(col("p_e18")).over(frame))
      .withColumn("d", abs(col("cum") * col("kmax") - col("total") * col("j")))
      .withColumn("dmax", max(col("d")).over(frame))
    dev
      .filter(col("d") === col("dmax"))
      .groupBy(lit(1).as("g"))
      .agg(max(col("kmax")).as("k_freqs"),
        max(col("total")).cast("long").as("total_e18"),
        max(col("dmax")).as("dmax"),
        min(col("j")).as("j_at_max"))
      // zero-total guard (Round17Spec): a series whose every power floors
      // to 0 after the e18 downscale has nothing to normalize by — NULL
      // ppm on both engines (ANSI Spark would throw on div 0; DuckDB's
      // // 0 is NULL, so the CASE is what makes the contract MIRRORED)
      .select(col("k_freqs"), col("total_e18"), col("j_at_max"),
        expr("CASE WHEN total_e18 > 0 THEN " +
          "cast((dmax * 1000000) div (k_freqs * cast(total_e18 as decimal(38,0))) as long) END")
          .as("d_max_ppm"))
      .withColumn("crit_ppm",
        expr("cast(floor(1360000 / sqrt(cast(k_freqs as double))) as long)"))
      .withColumn("white_noise_rejected", col("d_max_ppm") > col("crit_ppm"))
  }

  /** #461 Log spectral flatness (Wiener entropy) of the daily revenue
    * series over the FULL Fourier grid: ln(GM/AM) = mean ln P_j −
    * ln(mean P_j) ≤ 0 — 0 for a perfectly flat (white) spectrum,
    * deeply negative when power concentrates in few frequencies. The
    * full-spectrum companion to #390 (spectral entropy of the 8-wave
    * SCREEN): entropy says how evenly the screen bins split, flatness
    * certifies whiteness against the whole grid — and the second
    * graded consumer of the r17-materialized [[materializedPowerSpectrum]].
    *
    * Exactness: powers downscale div 1e9 (the #390 move — keeps every
    * int→double conversion under 2^53 on both engines; ln flatness is
    * scale-invariant so the shift only moves the shared staging); zero
    * bins are excluded by the GM convention on both engines; ln floored
    * to nano per exact integer; GM ln = Σln div n and AM = ΣP div n are
    * the two mirrored truncating divisions. Scale: a |K|-row readout of
    * the materialized spectrum; the N²/2 grid behind it is paid once
    * per tmp lifetime.
    */
  def tsSpectralFlatness(s: SparkSession, dir: String): DataFrame =
    tsSpectralFlatnessOf(materializedPowerSpectrum(s, dir))

  private[graft] def tsSpectralFlatnessOf(pw: DataFrame): DataFrame =
    pw.select(expr("cast(p_e18 div 1000000000 as long)").as("q"))
      .groupBy(lit(1).as("g"))
      .agg(count(lit(1)).as("n_bins"),
        count(when(col("q") > 0L, lit(1))).as("n_pos"),
        sum(when(col("q") > 0L, col("q"))).as("t"),
        sum(when(col("q") > 0L,
          floor(log(col("q").cast("double")) * 1e9).cast("long"))).as("sum_ln"))
      .select(col("n_bins"), col("n_pos"),
        expr("CASE WHEN n_pos > 0 THEN sum_ln div n_pos END").as("gm_ln_nano"),
        expr("CASE WHEN n_pos > 0 THEN t div n_pos END").as("am_e9"))
      .withColumn("ln_flatness_nano",
        expr("CASE WHEN am_e9 > 0 THEN gm_ln_nano - " +
          "cast(floor(ln(cast(am_e9 as double)) * 1e9) as bigint) END"))
      .withColumn("ln_flatness_milli", expr("ln_flatness_nano div 1000000"))

  /** #466 Cox–Stuart trend test on the global daily revenue series:
    * pair each day t with day t + h (h = (N+1) div 2 — the odd-length
    * middle observation drops out, the textbook convention), count
    * strictly-up vs strictly-down pairs (ties drop), and test S⁺
    * against Binomial(n, ½) via the normal approximation z =
    * (2S⁺ − n)/√n — the distribution-free "is there ANY monotone
    * trend" screen that needs no slope model: the sign-test dual of
    * Mann–Kendall (#308, which pays O(N²) comparisons; Cox–Stuart pays
    * N/2) and the formal test behind the #466-adjacent descriptive
    * trend fits (#232 Theil–Sen gives the slope, this says whether to
    * believe any).
    *
    * Exactness: counts are exact integers; the single z readout is one
    * floored double with the identical expression order on both
    * engines (the #442 turning-points pattern); zero rows when the
    * calendar has no usable pair (both engines, GROUP BY g contract).
    * Scale: the series is CALENDAR-bounded — the pairing is an
    * equi-join on t at ~N/2 rows; the only corpus-sized job is the day
    * aggregate.
    */
  def tsCoxStuart(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))
    // The indexed series feeds the pair join's both sides and the
    // count; deliberately NOT checkpointed — the three subtrees are
    // identical, so ReuseExchange serves them from ONE day-aggregate
    // shuffle (a measured localCheckpoint experiment here was ~0.4 s
    // SLOWER: it splits the plan into extra jobs and loses the reuse)
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy("day")))
    val withN = idx.crossJoin(broadcast(idx.agg(count(lit(1)).as("nd"))))
    withN
      .filter(col("t") <= expr("nd - ((nd + 1) div 2)"))
      .select(col("t"), col("v").as("va"), col("nd"))
      .join(idx.select(col("t").as("tb"), col("v").as("vb")),
        col("tb") === col("t") + expr("(nd + 1) div 2"))
      .groupBy(lit(1).as("g"))
      .agg(count(when(col("vb") > col("va"), lit(1))).as("s_plus"),
        count(when(col("vb") < col("va"), lit(1))).as("s_minus"))
      .select(expr("s_plus + s_minus").as("n_pairs"),
        col("s_plus"), col("s_minus"))
      .withColumn("z_milli",
        expr("CASE WHEN n_pairs > 0 THEN cast(floor(" +
          "cast(2 * s_plus - n_pairs as double) / " +
          "sqrt(cast(n_pairs as double)) * 1000) as bigint) END"))
      .withColumn("trend_significant_05", abs(col("z_milli")) > 1960L)
  }

  /** #369 MACD on the per-priority daily revenue series, completing the
    * finance window family (#327 ATR, #328 Bollinger, #333 RSI, #341
    * OBV, #356 %K): fast and slow truncated EMAs with exact RATIONAL
    * weights (α=1/2 over 8 lags → dyadic 2^j; α=1/4 over 8 lags →
    * 3^j·4^(7−j) — the same truncated-horizon construction as
    * q_ts_ewma, which keeps numerator/denominator exact int64 and
    * leaves ONE mirrored truncating division per EMA), signal = EMA
    * (α=1/2, 4 lags) of the MACD line, histogram = MACD − signal. Two
    * window passes on the same priority partitioning — no extra
    * shuffle, no float recurrence to diverge.
    */
  def winMacd(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("day")
    def ema(src: Column, wNum: Int => Long, lags: Int): (Column, Column) = {
      val terms = (0 until lags).map { j =>
        val v = if (j == 0) src else lag(src, j).over(w)
        (coalesce(v.cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          wNum(j), lit(0L).cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          when(v.isNotNull, lit(wNum(j))).otherwise(lit(0L)))
      }
      (terms.map(_._1).reduce(_ + _), terms.map(_._2).reduce(_ + _))
    }
    val base = dailyByPri(s, dir)
    val fast = ema(col("v"), j => 1L << (7 - j), 8)
    val slow = ema(col("v"), j => {
      var p3 = 1L; var p4 = 1L
      (0 until j).foreach(_ => p3 *= 3); (0 until (7 - j)).foreach(_ => p4 *= 4)
      p3 * p4
    }, 8)
    val macd = base
      .withColumn("fn", fast._1).withColumn("fd", fast._2)
      .withColumn("sn", slow._1).withColumn("sd", slow._2)
      .withColumn("macd_micro",
        expr("cast((fn * 1000000) div fd as long) - " +
          "cast((sn * 1000000) div sd as long)"))
      .select(col("pri"), col("day"), col("macd_micro"))
    val sig = ema(col("macd_micro"), j => 1L << (3 - j), 4)
    macd
      .withColumn("gn", sig._1).withColumn("gd", sig._2)
      .withColumn("signal_micro", expr("cast(gn div gd as long)"))
      .withColumn("hist_micro", col("macd_micro") - col("signal_micro"))
      .select(col("pri"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("macd_micro"), col("signal_micro"), col("hist_micro"))
      .orderBy("pri", "day")
  }

  /** #370 Jarque–Bera normality screen on lineitem quantity per return
    * flag: JB = n/6·(S² + (K−3)²/4) from the four raw power sums —
    * the cheap gatekeeper before any normality-assuming test (#312
    * Welch, #325 Tukey). The sums are exact DECIMAL integers (quantity
    * is a small int); skewness and kurtosis derive via the raw-moment
    * identities in double with the EXPRESSION ORDER mirrored verbatim
    * in the twin (each op is a correctly-rounded function of exact
    * ints; m2^1.5 spelled m2·√m2 — no pow), floored to micro/milli.
    * One map-side-combined aggregate; the moment algebra runs on the
    * |flags|-row result.
    */
  def statsJarqueBera(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = col("l_quantity").cast("long")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        sum(q.cast(dec)).as("s1"), sum((q * q).cast(dec)).as("s2"),
        sum((q * q * q).cast(dec)).as("s3"),
        sum((q * q * q * q).cast(dec)).as("s4"))
      .withColumn("mu", col("s1").cast("double") / col("n"))
      .withColumn("m2",
        col("s2").cast("double") / col("n") - col("mu") * col("mu"))
      .withColumn("m3",
        col("s3").cast("double") / col("n") -
          lit(3.0) * col("mu") * (col("s2").cast("double") / col("n")) +
          lit(2.0) * col("mu") * col("mu") * col("mu"))
      .withColumn("m4",
        col("s4").cast("double") / col("n") -
          lit(4.0) * col("mu") * (col("s3").cast("double") / col("n")) +
          lit(6.0) * col("mu") * col("mu") * (col("s2").cast("double") / col("n")) -
          lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
      .withColumn("skew", col("m3") / (col("m2") * sqrt(col("m2"))))
      .withColumn("kurt", col("m4") / (col("m2") * col("m2")))
      .select(col("flag"), col("n"), col("s1").cast("long").as("s1"),
        floor(col("skew") * 1e6).cast("long").as("skew_micro"),
        floor(col("kurt") * 1e6).cast("long").as("kurt_micro"),
        floor(col("n") / lit(6.0) *
          (col("skew") * col("skew") +
            (col("kurt") - 3.0) * (col("kurt") - 3.0) / 4.0) * 1000)
          .cast("long").as("jb_milli"))
      .orderBy("flag")
  }

  /** #371 Embedding isotropy diagnostics: mean pairwise cosine of the
    * unit-normalized corpus via the sum-vector identity (Σ_d S_d² −
    * Σ_d Q_d)/(n²−n) — NO pairwise pass — plus the participation ratio
    * (Σvar)²/Σvar² of the per-dimension variances (≈dim when isotropic,
    * ≪dim when collapsed). Anisotropy is the known failure mode that
    * sinks cosine-based retrieval/dedup; this is the one-pass audit.
    *
    * Unit components floor to nano ints right after the (cross-engine
    * identical) norm fold, so S_d, Q_d and every downstream sum are
    * exact integers; variances downscale div 1e9 before squaring to
    * stay inside DECIMAL(38,0). Scale: one posexplode aggregate on the
    * dim key (64 groups), then a 64-row reduction. The norm runs
    * through the codegen [[graft.functions.DotProductExpr]] kernel —
    * bit-identical to the HOF fold (same left-to-right double op
    * sequence), and load-bearing here beyond style: CollapseProject
    * inlines the norm subexpression INTO the per-element division
    * lambda, so an interpreted fold would re-evaluate 64 lambda calls
    * per ELEMENT (64² per vector — measured 7× the whole query's cost
    * at sf0.1) where the kernel inline is one tight static call.
    */
  def embedIsotropy(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val unit = Tables.embeddings(s, dir)
      .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") / col("norm") * 1e9).cast("long")).as("u"))
    val perDim = unit
      .select(posexplode(col("u")).as(Seq("dim0", "ud")))
      .groupBy("dim0")
      .agg(count(lit(1)).as("n"), sum(col("ud").cast(dec)).as("sd"),
        sum((col("ud") * col("ud")).cast(dec)).as("qd"))
    perDim
      .withColumn("vs",
        expr("cast((n * qd - sd * sd) div 1000000000 as decimal(38,0))"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("dim"),
        sum(col("sd") * col("sd")).as("ss2"), sum(col("qd")).as("qq"),
        sum(col("vs")).as("vsum"), sum(col("vs") * col("vs")).as("vsq"))
      .select(col("n"), col("dim"),
        expr("cast(((ss2 - qq) * 1000000) div " +
          "((n * n - n) * cast(1000000000000000000 as decimal(38,0))) as long)")
          .as("mean_cos_ppm"),
        expr("cast((vsum * vsum * 1000000) div vsq as long)").as("pr_micro"))
  }

  /** #372 SemDeDup-style cosine threshold sweep: duplicate-pair counts
    * at seven candidate thresholds in ONE pass over the blocked
    * candidate relation of q_dedup_embed_cosine (same label-block +
    * angular-prefix pruning, lossless for cos ≥ 0.35), against the
    * total within-label pair count — the ablation that picks the
    * semantic-dedup threshold by showing how much of the corpus each
    * candidate value would collapse. Thresholds materialize as rows
    * (zero-count thresholds included via left join); cosines compare
    * in floor(c·1e6+0.5) ppm (the repo's tie-rule-free quantizer).
    */
  def embedThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val thr = Seq(350000L, 500000L, 650000L, 800000L, 900000L, 950000L, 990000L)
    val pairs = DedupOps.dedupEmbedCosine(s, dir)
      .select(floor(col("cosine") * 1e6 + 0.5).cast("long").as("c_ppm"))
    val tdf = s.range(1).select(
      explode(array(thr.map(lit): _*)).as("thr_ppm"))
    val counts = tdf.join(pairs, col("c_ppm") >= col("thr_ppm"), "left_outer")
      .groupBy("thr_ppm")
      .agg(sum(when(col("c_ppm").isNotNull, 1L).otherwise(0L)).as("n_pairs"))
    val total = Tables.embeddings(s, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("nl"))
      .agg(sum(expr("nl * (nl - 1) div 2")).as("total_pairs"))
    counts.crossJoin(broadcast(total))
      .select(col("thr_ppm"), col("n_pairs"),
        col("total_pairs").cast("long").as("total_pairs"),
        expr("(n_pairs * 1000000000) div total_pairs").as("frac_ppb"))
      .orderBy("thr_ppm")
  }

  /** #399 TwoNN intrinsic-dimension estimate of the embedding corpus,
    * per label block (Facco et al. 2017): ID = n / Σ ln(r2/r1) from
    * each point's first and second nearest-neighbor distances — the
    * geometry audit that says how many of the 64 ambient dims the data
    * actually occupies (low ID ⇒ aggressive PQ/Matryoshka truncation
    * is safe, see #361/#381). Components quantize to exact micro ints,
    * so squared distances are exact int64 (≤9e13 — ints stay exact
    * through the double ln); ln(r2/r1) = (ln d2² − ln d1²)/2 with each
    * ln floored to nano BEFORE the sum (integer-exact aggregation);
    * ID reads out via one truncating milli division. Duplicate points
    * (d1² = 0) are excluded from the estimator — standard practice,
    * identical filter on both engines.
    *
    * Anchoring (r18): the estimator averages over a FIXED-SIZE anchor
    * set — per label, the 128 points first in md5("twonn:" || vec_id)
    * order (the samplePerGroup hash-order draw, engine-identical) —
    * while each anchor's NN1/NN2 still rank over the FULL label block.
    * TwoNN is explicitly subsample-stable (Facco et al. §decimation),
    * and the r17 form ranked every point against every point in its
    * block, an O(N²/|labels|) term at 100× corpus; 128 anchors make
    * the candidate relation O(128·N) with the block scan unchanged.
    * Blocks smaller than 128 anchor every point (sf0.01 and below:
    * bit-identical to the unanchored estimator). Scale: candidate
    * generation is BLOCKED by label (the IVF/LSH bucket structure of
    * the sim family — never global all-pairs); per-anchor top-2 via
    * one window rank on the (anchor) partitioning.
    */
  def embedIntrinsicDim(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("long")).as("u"))
      .withColumn("q", expr("graft_ldot(u, u)"))
    val aw = Window.partitionBy("label")
      .orderBy(md5(concat(lit("twonn:"), col("vec_id").cast("string"))),
        col("vec_id"))
    val a = u.withColumn("ar", row_number().over(aw))
      .filter(col("ar") <= 128)
      .select(col("vec_id").as("ida"), col("label"),
        col("u").as("ua"), col("q").as("qa"))
    val b = u.select(col("vec_id").as("idb"), col("label"),
      col("u").as("ub"), col("q").as("qb"))
    val w = Window.partitionBy("ida")
      .orderBy(col("d2"), col("idb"))
    val top2 = a.join(b, Seq("label"))
      .filter(col("ida") =!= col("idb"))
      // exact int64 dot via the codegen LongDotExpr kernel — the
      // anchor×block pair loop is the hot path (r19; bit-identical to
      // the aggregate/zip_with fold it replaces)
      .withColumn("dot", expr("graft_ldot(ua, ub)"))
      .withColumn("d2", col("qa") + col("qb") - lit(2L) * col("dot"))
      .select(col("label"), col("ida"), col("idb"), col("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("label", "ida")
      .agg(min(when(col("rn") === 1, col("d2"))).as("d1sq"),
        min(when(col("rn") === 2, col("d2"))).as("d2sq"))
      .filter(col("d1sq") > 0L && col("d2sq").isNotNull)
    top2
      .withColumn("term_nano",
        floor(log(col("d2sq").cast("double")) * 1e9).cast("long") -
          floor(log(col("d1sq").cast("double")) * 1e9).cast("long"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_pts"), sum(col("term_nano")).as("sum_nano"))
      .select(col("label"), col("n_pts"), col("sum_nano"),
        expr("(n_pts * 2000000000000) div sum_nano").as("id_milli"))
      .orderBy("label")
  }

  /** #431 Sample entropy (m = 2, tolerance = range/20) of the daily
    * revenue series per priority — the regularity readout next to
    * permutation entropy (#367): SampEn = −ln(A/B) with B the count of
    * length-2 template pairs matching within tolerance and A the same
    * for length 3; low SampEn = self-similar/templated series.
    * Template range is CANONICAL Richman–Moorman (r15, closing the r14
    * verdict's convention nit): both the A and B counts run over the
    * same population — template starts i, j ∈ [1, N−m] (positions
    * admitting a length-3 template), enforced by requiring x3 on BOTH
    * sides of every pair, so A/B is a true conditional probability.
    * The σ-based tolerance convention is replaced by the exact-integer
    * range/20 (documented deviation — keeps every comparison integer);
    * ln stages per the repo rule as ⌊ln·1e9⌋ on each exact count, so
    * sampen_nano = ⌊ln B⌋ − ⌊ln A⌋. Scale: templates ride two lead()
    * windows partitioned per priority; the pair relation is
    * calendar²-bounded per priority (≈66k rows at ANY corpus size) —
    * the same bounded-self-join argument as the TwoNN estimator (#399).
    */
  def tsSampen(s: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("pri").orderBy("day")
    val base = dailyByPri(s, dir)
      .withColumn("x1", col("v"))
      .withColumn("x2", lead(col("v"), 1).over(wSeq))
      .withColumn("x3", lead(col("v"), 2).over(wSeq))
      .withColumn("t", row_number().over(wSeq).cast("long"))
    val tol = dailyByPri(s, dir).groupBy("pri")
      .agg(max(col("v")).as("mxv"), min(col("v")).as("mnv"),
        count(lit(1)).as("n_days"))
      .select(col("pri"), col("n_days"),
        expr("(mxv - mnv) div 20").as("r_tol"))
    val tmpl = base.join(broadcast(tol), Seq("pri"))
    val a = tmpl.select(col("pri"), col("t").as("ti"), col("x1").as("a1"),
      col("x2").as("a2"), col("x3").as("a3"), col("r_tol"))
    val b = tmpl.select(col("pri"), col("t").as("tj"), col("x1").as("b1"),
      col("x2").as("b2"), col("x3").as("b3"))
    // r21: broadcast the b-side template list and RANGE-SPREAD the
    // a-side first — the equi-join key has only |pri| distinct values,
    // so the shuffled join ran the d²/2 pair expansion on ≤|pri|
    // partitions (5-way parallelism whatever the cluster); the a-side
    // inherits that same 5-way layout from its lead window, so without
    // the respread the broadcast alone changes nothing
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = a.repartitionByRange(nPart, col("pri"), col("ti"))
      .join(broadcast(b), Seq("pri")).filter(col("ti") < col("tj"))
      // canonical template range: both counts' populations are the
      // positions admitting a length-(m+1) template (x3 exists)
      .filter(col("a3").isNotNull && col("b3").isNotNull)
      .withColumn("m2",
        (abs(col("a1") - col("b1")) <= col("r_tol")) &&
          (abs(col("a2") - col("b2")) <= col("r_tol")))
      .withColumn("m3", col("m2") && (abs(col("a3") - col("b3")) <= col("r_tol")))
    pairs.groupBy("pri")
      .agg(sum(when(col("m2"), 1L).otherwise(0L)).as("b_cnt"),
        sum(when(col("m3"), 1L).otherwise(0L)).as("a_cnt"))
      .join(broadcast(tol), Seq("pri"))
      .select(col("pri"), col("n_days"), col("r_tol"),
        col("b_cnt"), col("a_cnt"),
        when(col("a_cnt") > 0 && col("b_cnt") > 0,
          floor(log(col("b_cnt")) * 1e9).cast("long") -
            floor(log(col("a_cnt")) * 1e9).cast("long")).as("sampen_nano"))
      .orderBy("pri")
  }

  /** #432 Gumbel (EV-I) fit by the method of moments on monthly maxima
    * of the daily revenue series per priority — the extreme-value
    * profile behind capacity planning ("how bad is a 1-in-N month"):
    * block maxima → β = σ·√6/π, µ = mean − γ·β (γ Euler–Mascheroni).
    * Moment sums (n, Σmx, Σmx²) are exact DECIMAL integers; the two
    * readouts are single terminal double expressions with the IDENTICAL
    * operation order in both engines (one sqrt, fixed √6/π and γ
    * literals, one floor to milli-cents) — the assortativity
    * discipline. Scale: monthly maxima are a |pri|×12-row relation.
    */
  def tsGumbel(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    dailyByPri(s, dir)
      .groupBy(col("pri"), month(col("day")).cast("long").as("mo"))
      .agg(max(col("v")).as("mx"))
      .groupBy("pri")
      .agg(count(lit(1)).as("n"),
        sum(col("mx").cast(dec)).as("sx"),
        sum(col("mx").cast(dec) * col("mx")).as("qx"))
      .select(col("pri"), col("n").as("n_months"),
        expr("cast(sx div n as long)").as("mean_cents"),
        expr("cast(floor(sqrt(cast(n * qx - sx * sx as double)) / n " +
          "* 779.6968012336793) as long)").as("beta_millicents"),
        expr("cast(floor(sx * 1000.0 / n - 0.5772156649015329 * " +
          "(sqrt(cast(n * qx - sx * sx as double)) / n " +
          "* 779.6968012336793)) as long)").as("mu_millicents"))
      .orderBy("pri")
  }

  /** #442 Turning-points randomness test on the daily revenue series
    * per priority: T = count of strict local extrema (plateaus excluded
    * — strict comparisons, documented), with the exact null moments
    * E[T] = 2(n−2)/3 and Var = (16n−29)/90; z = (3T − 2(n−2))·√10 /
    * √(16n−29) — the cheapest "is this series iid noise or does it
    * have structure" screen, read before trusting any iid-assuming
    * test in the module. 3T−2(n−2) and 16n−29 are exact integers; z is
    * one floored milli double with identical operation order both
    * engines. Scale: one lag/lead window on the calendar-bounded
    * series, |pri|-row readout.
    */
  def tsTurningPoints(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("day")
    dailyByPri(s, dir)
      .withColumn("pv", lag(col("v"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .withColumn("tp",
        when(col("pv").isNotNull && col("nv").isNotNull &&
          ((col("v") > col("pv") && col("v") > col("nv")) ||
            (col("v") < col("pv") && col("v") < col("nv"))), 1L)
          .otherwise(0L))
      .groupBy("pri")
      .agg(count(lit(1)).as("n"), sum(col("tp")).as("t"))
      .select(col("pri"), col("n").as("n_days"), col("t").as("n_turning"),
        expr("(2 * (n - 2)) div 3").as("e_t_floor"),
        expr("cast(floor(cast(3 * t - 2 * (n - 2) as double) * 1000 " +
          "* sqrt(10.0) / sqrt(cast(16 * n - 29 as double))) as long)")
          .as("z_milli"))
      .orderBy("pri")
  }

  /** #443 Katz fractal dimension of the daily revenue series per
    * priority: FD = ln(n)/(ln(n) + ln(d/L)) with L = Σ|Δv| the curve
    * length and d = max|v_t − v_1| the diameter from the first point —
    * the waveform-complexity index (FD→1 smooth trend, larger =
    * jagged) read next to Hurst (#322) and permutation entropy (#367).
    * L, d, n are exact integers; FD is one floored micro double with
    * the identical ln/division order both engines (n = steps = days−1).
    * Scale: one lag window + one |pri|-group aggregate.
    */
  def tsFractalKatz(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("day")
    dailyByPri(s, dir)
      .withColumn("dv", abs(col("v") - lag(col("v"), 1).over(w)))
      .withColumn("v0", first(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("pri")
      .agg((count(lit(1)) - 1L).as("n"),
        sum(col("dv")).as("len"),
        max(abs(col("v") - col("v0"))).as("diam"))
      .filter(col("len") > 0 && col("diam") > 0 && col("n") > 1)
      .select(col("pri"), col("n").as("n_steps"), col("len").as("curve_len"),
        col("diam"),
        expr("cast(floor(ln(cast(n as double)) * 1000000 / " +
          "(ln(cast(n as double)) + ln(cast(diam as double)) " +
          "- ln(cast(len as double)))) as long)").as("fd_micro"))
      .orderBy("pri")
  }

  /** #487 Unnormalized Haar wavelet energy by level (j = 1..5) of the
    * global daily revenue series: per level, the detail coefficient of
    * each COMPLETE 2ʲ-day block is (first-half sum − second-half sum)
    * — an exact integer via sign = 1 − 2·((t div 2^{j−1}) mod 2) — and
    * the level energy is Σd² in DECIMAL, read out with each level's
    * share of the total detail energy in ppm. TIME-LOCALIZED scale
    * decomposition: the Fourier family (#368/#451/#461) says WHICH
    * frequencies carry power, Haar says at WHICH SCALES the
    * day-to-day variation lives (level 1 ≈ daily noise, level 5 ≈
    * month-scale swings) while staying exact-integer — no
    * trigonometry at all. Partial trailing blocks are EXCLUDED
    * (stated; a short block would mix scales). Scale: a 5×N-row
    * explode over the calendar-bounded series, grouped per (level,
    * block).
    */
  def tsHaarEnergy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))
    val idx = daily
      .withColumn("t", (row_number().over(Window.orderBy("day")) - 1).cast("long"))
    val levels = idx
      .select(col("t"), col("v"),
        explode(expr("sequence(1L, 5L)")).as("j"))
      .withColumn("bs", expr("cast(pow(2, cast(j as double)) as bigint)"))
      .withColumn("blk", expr("t div bs"))
      .withColumn("sgn", lit(1L) - lit(2L) * expr("(t div (bs div 2)) % 2"))
    val detail = levels
      .groupBy("j", "bs", "blk")
      .agg(count(lit(1)).as("cnt"), sum(col("sgn") * col("v")).as("dcoef"))
      .filter(col("cnt") === col("bs"))
    val perLevel = detail
      .groupBy("j")
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("dcoef").cast(dec) * col("dcoef")).as("energy"))
    perLevel
      .crossJoin(broadcast(perLevel.agg(sum(col("energy")).as("e_all"))))
      .select(col("j").as("level"), col("n_blocks"),
        expr("cast(energy div 1000000 as long)").as("energy_e6"),
        expr("CASE WHEN e_all > 0 THEN " +
          "cast((energy * 1000000) div e_all as long) END").as("share_ppm"))
      .orderBy("level")
  }

  /** #499 True Strength Index on the per-priority daily revenue
    * series: TSI = EMA(EMA(momentum)) / EMA(EMA(|momentum|)) in milli —
    * double smoothing kills the sign-flip noise single-smoothed
    * momentum (#369 MACD) keeps, and the |·| denominator normalizes to
    * [−1, 1] so TSI is comparable ACROSS priorities where MACD's raw
    * units are not. House truncated-EMA convention (the #369/#163
    * construction): stage 1 is the exact dyadic-weight 8-lag EMA with
    * ONE truncating flooring to micro, stage 2 the 4-lag EMA over the
    * FLOORED stage-1 values (the MACD signal-line pattern, stated) —
    * no float recurrence anywhere; NULL TSI on a zero denominator.
    * Scale: two window passes on the same priority partitioning, no
    * extra shuffle.
    */
  def winTsi(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("day")
    def ema(src: Column, lags: Int): (Column, Column) = {
      val terms = (0 until lags).map { j =>
        val v = if (j == 0) src else lag(src, j).over(w)
        val wt = 1L << (lags - 1 - j)
        (coalesce(v.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * wt,
          lit(0L).cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          when(v.isNotNull, lit(wt)).otherwise(lit(0L)))
      }
      (terms.map(_._1).reduce(_ + _), terms.map(_._2).reduce(_ + _))
    }
    val base = dailyByPri(s, dir)
      .withColumn("mom", col("v") - lag(col("v"), 1).over(w))
      .filter(col("mom").isNotNull)
      .withColumn("amom", abs(col("mom")))
    val (mn, md) = ema(col("mom"), 8)
    val (an, ad) = ema(col("amom"), 8)
    val s1 = base
      .withColumn("mn", mn).withColumn("md", md)
      .withColumn("an", an).withColumn("ad", ad)
      .withColumn("m1", expr("cast((mn * 1000000) div md as long)"))
      .withColumn("a1", expr("cast((an * 1000000) div ad as long)"))
      .select(col("pri"), col("day"), col("m1"), col("a1"))
    val (m2n, m2d) = ema(col("m1"), 4)
    val (a2n, a2d) = ema(col("a1"), 4)
    s1
      .withColumn("m2n", m2n).withColumn("m2d", m2d)
      .withColumn("a2n", a2n).withColumn("a2d", a2d)
      .withColumn("m2", expr("cast(m2n div m2d as long)"))
      .withColumn("a2", expr("cast(a2n div a2d as long)"))
      .select(col("pri"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("m2").as("tsi_num_micro"), col("a2").as("tsi_den_micro"),
        expr("CASE WHEN a2 > 0 THEN (m2 * 1000) div a2 END").as("tsi_milli"))
      .orderBy("pri", "day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_tsi" -> (winTsi _),
    "q_ts_haar_energy" -> (tsHaarEnergy _),
    "q_ts_turning_points" -> (tsTurningPoints _),
    "q_ts_fractal_katz" -> (tsFractalKatz _),
    "q_ts_sampen" -> (tsSampen _),
    "q_ts_gumbel" -> (tsGumbel _),
    "q_embed_intrinsic_dim" -> (embedIntrinsicDim _),
    "q_ts_perm_entropy" -> (tsPermEntropy _),
    "q_ts_periodogram" -> (tsPeriodogram _),
    "q_ts_lomb_scargle" -> (tsLombScargle _),
    "q_ts_dfa" -> (tsDfa _),
    "q_ts_cum_periodogram" -> (tsCumPeriodogram _),
    "q_ts_spectral_flatness" -> (tsSpectralFlatness _),
    "q_ts_cox_stuart" -> (tsCoxStuart _),
    "q_win_macd" -> (winMacd _),
    "q_stats_jarque_bera" -> (statsJarqueBera _),
    "q_embed_isotropy" -> (embedIsotropy _),
    "q_embed_threshold_sweep" -> (embedThresholdSweep _))

  private val DailyPriSql =
    """daily AS (
      |  SELECT o_orderpriority AS pri, date_trunc('day', o_orderdate) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_win_tsi" -> {
      def emaSql(src: String, lags: Int, num: String, den: String): String = {
        val nums = (0 until lags).map { j =>
          val v = if (j == 0) src
          else s"LAG($src, $j) OVER (PARTITION BY pri ORDER BY day)"
          s"COALESCE(CAST($v AS HUGEINT) * ${1L << (lags - 1 - j)}, 0)"
        }.mkString(" + ")
        val dens = (0 until lags).map { j =>
          val v = if (j == 0) src
          else s"LAG($src, $j) OVER (PARTITION BY pri ORDER BY day)"
          s"(CASE WHEN $v IS NOT NULL THEN ${1L << (lags - 1 - j)} ELSE 0 END)"
        }.mkString(" + ")
        s"$nums AS $num, $dens AS $den"
      }
      s"""WITH $DailyPriSql,
         |m0 AS (
         |  SELECT pri, day,
         |    v - LAG(v) OVER (PARTITION BY pri ORDER BY day) AS mom
         |  FROM daily),
         |m AS (
         |  SELECT pri, day, mom, abs(mom) AS amom FROM m0
         |  WHERE mom IS NOT NULL),
         |e1 AS (
         |  SELECT pri, day,
         |    ${emaSql("mom", 8, "mn", "md")},
         |    ${emaSql("amom", 8, "an", "ad")}
         |  FROM m),
         |s1 AS (
         |  SELECT pri, day,
         |    CAST((mn * 1000000) // md AS BIGINT) AS m1,
         |    CAST((an * 1000000) // ad AS BIGINT) AS a1
         |  FROM e1),
         |e2 AS (
         |  SELECT pri, day,
         |    ${emaSql("m1", 4, "m2n", "m2d")},
         |    ${emaSql("a1", 4, "a2n", "a2d")}
         |  FROM s1),
         |f AS (
         |  SELECT pri, day,
         |    CAST(m2n // m2d AS BIGINT) AS m2,
         |    CAST(a2n // a2d AS BIGINT) AS a2
         |  FROM e2)
         |SELECT pri, strftime(day, '%Y-%m-%d') AS day,
         |  m2 AS tsi_num_micro, a2 AS tsi_den_micro,
         |  CASE WHEN a2 > 0 THEN CAST((m2 * 1000) // a2 AS BIGINT) END
         |    AS tsi_milli
         |FROM f ORDER BY pri, day""".stripMargin
    },
    "q_ts_haar_energy" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT v,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS t
        |  FROM daily),
        |lv AS (
        |  SELECT t, v, unnest(range(1, 6)) AS j FROM idx),
        |sg AS (
        |  SELECT j, CAST(pow(2, CAST(j AS DOUBLE)) AS BIGINT) AS bs,
        |    t // CAST(pow(2, CAST(j AS DOUBLE)) AS BIGINT) AS blk,
        |    (1 - 2 * ((t // (CAST(pow(2, CAST(j AS DOUBLE)) AS BIGINT) // 2))
        |      % 2)) * v AS sv
        |  FROM lv),
        |d AS (
        |  SELECT j, bs, blk, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(sv) AS BIGINT) AS dcoef
        |  FROM sg GROUP BY j, bs, blk),
        |pl AS (
        |  SELECT j, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    SUM(CAST(dcoef AS HUGEINT) * dcoef) AS energy
        |  FROM d WHERE cnt = bs GROUP BY j),
        |t AS (SELECT SUM(energy) AS e_all FROM pl)
        |SELECT j AS level, n_blocks,
        |  CAST(energy // 1000000 AS BIGINT) AS energy_e6,
        |  CASE WHEN (SELECT e_all FROM t) > 0 THEN
        |    CAST((energy * 1000000) // (SELECT e_all FROM t) AS BIGINT) END
        |    AS share_ppm
        |FROM pl ORDER BY level""".stripMargin,
    "q_ts_turning_points" ->
      s"""WITH $DailyPriSql,
         |lagged AS (
         |  SELECT pri, v, lag(v) OVER w AS pv, lead(v) OVER w AS nv
         |  FROM daily WINDOW w AS (PARTITION BY pri ORDER BY day)),
         |agg AS (
         |  SELECT pri, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
         |      AND ((v > pv AND v > nv) OR (v < pv AND v < nv))
         |      THEN 1 ELSE 0 END) AS BIGINT) AS t
         |  FROM lagged GROUP BY pri)
         |SELECT pri, n AS n_days, t AS n_turning,
         |  CAST((2 * (n - 2)) // 3 AS BIGINT) AS e_t_floor,
         |  CAST(floor(CAST(3 * t - 2 * (n - 2) AS DOUBLE) * 1000
         |    * sqrt(10.0) / sqrt(CAST(16 * n - 29 AS DOUBLE))) AS BIGINT)
         |    AS z_milli
         |FROM agg ORDER BY pri""".stripMargin,
    "q_ts_fractal_katz" ->
      s"""WITH $DailyPriSql,
         |lagged AS (
         |  SELECT pri, v,
         |    abs(v - lag(v) OVER w) AS dv,
         |    first_value(v) OVER w AS v0
         |  FROM daily WINDOW w AS (PARTITION BY pri ORDER BY day)),
         |agg AS (
         |  SELECT pri, COUNT(*) - 1 AS n,
         |    CAST(SUM(dv) AS BIGINT) AS len,
         |    CAST(MAX(abs(v - v0)) AS BIGINT) AS diam
         |  FROM lagged GROUP BY pri)
         |SELECT pri, CAST(n AS BIGINT) AS n_steps, len AS curve_len, diam,
         |  CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 /
         |    (ln(CAST(n AS DOUBLE)) + ln(CAST(diam AS DOUBLE))
         |    - ln(CAST(len AS DOUBLE)))) AS BIGINT) AS fd_micro
         |FROM agg WHERE len > 0 AND diam > 0 AND n > 1
         |ORDER BY pri""".stripMargin,
    "q_ts_sampen" ->
      s"""WITH $DailyPriSql,
         |seq AS (
         |  SELECT pri, v AS x1,
         |    lead(v, 1) OVER w AS x2, lead(v, 2) OVER w AS x3,
         |    CAST(row_number() OVER w AS BIGINT) AS t
         |  FROM daily WINDOW w AS (PARTITION BY pri ORDER BY day)),
         |tol AS (
         |  SELECT pri, COUNT(*) AS n_days,
         |    (MAX(v) - MIN(v)) // 20 AS r_tol
         |  FROM daily GROUP BY pri),
         |pairs AS (
         |  SELECT a.pri,
         |    (abs(a.x1 - b.x1) <= t.r_tol AND abs(a.x2 - b.x2) <= t.r_tol)
         |      AS m2,
         |    (abs(a.x1 - b.x1) <= t.r_tol AND abs(a.x2 - b.x2) <= t.r_tol
         |      AND abs(a.x3 - b.x3) <= t.r_tol) AS m3
         |  FROM seq a JOIN seq b ON a.pri = b.pri AND a.t < b.t
         |  JOIN tol t ON t.pri = a.pri
         |  WHERE a.x3 IS NOT NULL AND b.x3 IS NOT NULL),
         |cnt AS (
         |  SELECT pri,
         |    CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
         |    CAST(SUM(CASE WHEN m3 THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
         |  FROM pairs GROUP BY pri)
         |SELECT c.pri, t.n_days, t.r_tol, c.b_cnt, c.a_cnt,
         |  CASE WHEN c.a_cnt > 0 AND c.b_cnt > 0 THEN
         |    CAST(floor(ln(c.b_cnt) * 1e9) AS BIGINT)
         |      - CAST(floor(ln(c.a_cnt) * 1e9) AS BIGINT) END AS sampen_nano
         |FROM cnt c JOIN tol t ON t.pri = c.pri
         |ORDER BY c.pri""".stripMargin,
    "q_ts_gumbel" ->
      s"""WITH $DailyPriSql,
         |mm AS (
         |  SELECT pri, CAST(month(day) AS BIGINT) AS mo, MAX(v) AS mx
         |  FROM daily GROUP BY 1, 2),
         |agg AS (
         |  SELECT pri, COUNT(*) AS n,
         |    SUM(CAST(mx AS HUGEINT)) AS sx,
         |    SUM(CAST(mx AS HUGEINT) * mx) AS qx
         |  FROM mm GROUP BY pri)
         |SELECT pri, n AS n_months,
         |  CAST(sx // n AS BIGINT) AS mean_cents,
         |  CAST(floor(sqrt(CAST(n * qx - sx * sx AS DOUBLE)) / n
         |    * 779.6968012336793) AS BIGINT) AS beta_millicents,
         |  CAST(floor(sx * 1000.0 / n - 0.5772156649015329 *
         |    (sqrt(CAST(n * qx - sx * sx AS DOUBLE)) / n
         |    * 779.6968012336793)) AS BIGINT) AS mu_millicents
         |FROM agg ORDER BY pri""".stripMargin,
    "q_embed_intrinsic_dim" ->
      """WITH u AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS u
        |  FROM embeddings),
        |uq AS (
        |  SELECT vec_id, label, u,
        |    list_aggregate(list_transform(u, y -> y * y), 'sum') AS q
        |  FROM u),
        |anch AS (
        |  SELECT vec_id, label, u, q FROM (
        |    SELECT vec_id, label, u, q,
        |      ROW_NUMBER() OVER (PARTITION BY label
        |        ORDER BY md5('twonn:' || CAST(vec_id AS VARCHAR)), vec_id)
        |        AS ar
        |    FROM uq)
        |  WHERE ar <= 128),
        |pairs AS (
        |  SELECT a.label, a.vec_id AS ida, b.vec_id AS idb,
        |    a.q + b.q - 2 * list_aggregate(
        |      list_transform(list_zip(a.u, b.u), p -> p[1] * p[2]), 'sum') AS d2
        |  FROM anch a JOIN uq b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT label, ida, d2,
        |    ROW_NUMBER() OVER (PARTITION BY ida ORDER BY d2, idb) AS rn
        |  FROM pairs),
        |top2 AS (
        |  SELECT label, ida,
        |    MIN(CASE WHEN rn = 1 THEN d2 END) AS d1sq,
        |    MIN(CASE WHEN rn = 2 THEN d2 END) AS d2sq
        |  FROM ranked WHERE rn <= 2 GROUP BY label, ida),
        |terms AS (
        |  SELECT label,
        |    CAST(FLOOR(LN(CAST(d2sq AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(FLOOR(LN(CAST(d1sq AS DOUBLE)) * 1e9) AS BIGINT) AS t
        |  FROM top2 WHERE d1sq > 0 AND d2sq IS NOT NULL),
        |agg AS (
        |  SELECT label, COUNT(*) AS n_pts, CAST(SUM(t) AS BIGINT) AS sum_nano
        |  FROM terms GROUP BY label)
        |SELECT label, n_pts, sum_nano,
        |  (n_pts * 2000000000000) // sum_nano AS id_milli
        |FROM agg ORDER BY label""".stripMargin,
    "q_ts_perm_entropy" ->
      s"""WITH $DailyPriSql,
         |pat AS (
         |  SELECT pri,
         |    (CASE WHEN a < b THEN 4 ELSE 0 END) +
         |    (CASE WHEN a < v THEN 2 ELSE 0 END) +
         |    (CASE WHEN b < v THEN 1 ELSE 0 END) AS code
         |  FROM (
         |    SELECT pri, v,
         |      LAG(v, 2) OVER (PARTITION BY pri ORDER BY day) AS a,
         |      LAG(v, 1) OVER (PARTITION BY pri ORDER BY day) AS b
         |    FROM daily)
         |  WHERE a IS NOT NULL),
         |pc AS (SELECT pri, code, COUNT(*) AS c FROM pat GROUP BY pri, code),
         |g AS (
         |  SELECT pri, CAST(SUM(c) AS BIGINT) AS nw,
         |    COUNT(*) AS n_patterns,
         |    CAST(SUM(c * CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
         |      AS BIGINT) AS clc_nano
         |  FROM pc GROUP BY pri),
         |h AS (
         |  SELECT pri, nw, n_patterns,
         |    CAST(FLOOR(LN(CAST(nw AS DOUBLE)) * 1e9) AS BIGINT)
         |      - clc_nano // nw AS h_nano
         |  FROM g)
         |SELECT pri, nw, n_patterns,
         |  CAST(h_nano // 1000000 AS BIGINT) AS h_milli,
         |  CAST((h_nano * 1000000) // 1791759469 AS BIGINT) AS h_norm_ppm
         |FROM h ORDER BY pri""".stripMargin,
    "q_ts_dfa" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k,
        |    SUM(CAST(v AS HUGEINT)) OVER (ORDER BY day) AS cy,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nn,
        |    SUM(CAST(v AS HUGEINT)) OVER () AS tt
        |  FROM daily),
        |prof AS (SELECT k, cy * nn - tt * k AS p, nn FROM idx),
        |grid AS (
        |  SELECT k, p, nn, CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS s
        |  FROM prof),
        |blk AS (
        |  SELECT s, (k - 1) // s AS b, CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM((k - 1) % s) AS BIGINT) AS st,
        |    CAST(SUM(((k - 1) % s) * ((k - 1) % s)) AS BIGINT) AS stt,
        |    SUM(p) AS sy, SUM(p * p) AS syy,
        |    SUM(CAST((k - 1) % s AS HUGEINT) * p) AS sty
        |  FROM grid WHERE k <= (nn // s) * s
        |  GROUP BY s, (k - 1) // s),
        |sse0 AS (
        |  SELECT s,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |    - CAST(CAST(sy AS VARCHAR) AS DOUBLE) *
        |      CAST(CAST(sy AS VARCHAR) AS DOUBLE) / m
        |    - (CAST(CAST(sty AS VARCHAR) AS DOUBLE) - st *
        |       CAST(CAST(sy AS VARCHAR) AS DOUBLE) / m) *
        |      (CAST(CAST(sty AS VARCHAR) AS DOUBLE) - st *
        |       CAST(CAST(sy AS VARCHAR) AS DOUBLE) / m) /
        |      (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / m) AS sse
        |  FROM blk),
        |lb AS (
        |  SELECT s, CAST(FLOOR(LN(sse) * 1e9) AS BIGINT) AS lnsse
        |  FROM sse0 WHERE sse > 0),
        |ps AS (
        |  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(CAST(lnsse AS HUGEINT)) // COUNT(*) AS BIGINT)
        |      AS lnf2_nano,
        |    CAST(FLOOR(LN(CAST(s AS DOUBLE)) * 1e9) AS BIGINT) AS lns
        |  FROM lb GROUP BY s),
        |sl AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS np,
        |    SUM(CAST(lns AS HUGEINT)) AS sx,
        |    SUM(CAST(lnf2_nano AS HUGEINT)) AS sy,
        |    SUM(CAST(lns AS HUGEINT) * lnf2_nano) AS sxy,
        |    SUM(CAST(lns AS HUGEINT) * lns) AS sxx
        |  FROM ps),
        |al AS (
        |  SELECT CAST(np AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(np AS HUGEINT) * sxx - sx * sx AS den
        |  FROM sl),
        |a2 AS (
        |  SELECT CASE WHEN den > 0 THEN
        |    CAST(FLOOR(CAST(CAST(num AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(den AS VARCHAR) AS DOUBLE) / 2.0 * 1000) AS BIGINT)
        |  END AS alpha_milli FROM al)
        |SELECT s, n_blocks, lnf2_nano, alpha_milli
        |FROM ps, a2 ORDER BY s""".stripMargin,
    "q_ts_lomb_scargle" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |bounds AS (
        |  SELECT MIN(day) AS d0,
        |    CAST(CAST(MAX(day) AS DATE) - CAST(MIN(day) AS DATE) + 1
        |      AS BIGINT) AS span,
        |    CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM daily),
        |grid AS (
        |  SELECT CAST(CAST(day AS DATE) - CAST(d0 AS DATE) AS BIGINT) AS t,
        |    v, span, nd, unnest(range(1, 9)) AS k
        |  FROM daily, bounds),
        |tau AS (
        |  SELECT k,
        |    ATAN2(
        |      CAST(SUM(CAST(FLOOR(SIN(4 * pi() * k * CAST(t AS DOUBLE)
        |        / span) * 1e9) AS BIGINT)) AS DOUBLE),
        |      CAST(SUM(CAST(FLOOR(COS(4 * pi() * k * CAST(t AS DOUBLE)
        |        / span) * 1e9) AS BIGINT)) AS DOUBLE)) AS theta
        |  FROM grid GROUP BY k),
        |ab AS (
        |  SELECT g.k, g.v, g.nd, tau.theta,
        |    CAST(FLOOR(COS(2 * pi() * g.k * CAST(g.t AS DOUBLE) / g.span
        |      - tau.theta / 2) * 1e9) AS BIGINT) AS a,
        |    CAST(FLOOR(SIN(2 * pi() * g.k * CAST(g.t AS DOUBLE) / g.span
        |      - tau.theta / 2) * 1e9) AS BIGINT) AS b
        |  FROM grid g JOIN tau ON g.k = tau.k),
        |agg AS (
        |  SELECT k, MAX(nd) AS n_days,
        |    MAX(CAST(FLOOR(theta * 1000) AS BIGINT)) AS theta_milli,
        |    SUM(CAST(v AS HUGEINT) * a) AS sva,
        |    SUM(CAST(v AS HUGEINT) * b) AS svb,
        |    SUM(CAST(a AS HUGEINT) * a) AS saa,
        |    SUM(CAST(b AS HUGEINT) * b) AS sbb
        |  FROM ab GROUP BY k),
        |m AS (
        |  SELECT k, n_days, theta_milli,
        |    CAST(sva // n_days AS BIGINT) AS mva,
        |    CAST(svb // n_days AS BIGINT) AS mvb,
        |    CAST(saa // n_days AS BIGINT) AS maa,
        |    CAST(sbb // n_days AS BIGINT) AS mbb
        |  FROM agg)
        |SELECT k, n_days, theta_milli,
        |  CASE WHEN maa > 0 AND mbb > 0 THEN
        |    CAST(FLOOR(0.5 * (CAST(mva AS DOUBLE) * CAST(mva AS DOUBLE) /
        |      CAST(maa AS DOUBLE) +
        |      CAST(mvb AS DOUBLE) * CAST(mvb AS DOUBLE) /
        |      CAST(mbb AS DOUBLE))) AS BIGINT) END AS power_cents2
        |FROM m ORDER BY k""".stripMargin,
    "q_ts_periodogram" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t FROM daily),
        |nn AS (SELECT COUNT(*) AS nd FROM idx),
        |terms AS (
        |  SELECT k.k, i.v, nn.nd,
        |    CAST(FLOOR(COS(2 * pi() * k.k * CAST(i.t AS DOUBLE) / nn.nd) * 1e9)
        |      AS BIGINT) AS cnano,
        |    CAST(FLOOR(SIN(2 * pi() * k.k * CAST(i.t AS DOUBLE) / nn.nd) * 1e9)
        |      AS BIGINT) AS snano
        |  FROM idx i, nn, (SELECT unnest(range(1, 9)) AS k) k),
        |g AS (
        |  SELECT k, MAX(nd) AS n_days,
        |    SUM(CAST(v AS HUGEINT) * cnano) AS ck,
        |    SUM(CAST(v AS HUGEINT) * snano) AS sk
        |  FROM terms GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS k, n_days,
        |  CAST(ck // n_days AS BIGINT) AS ck_e9,
        |  CAST(sk // n_days AS BIGINT) AS sk_e9,
        |  CAST(((ck // n_days) * (ck // n_days) +
        |        (sk // n_days) * (sk // n_days)) // 1000000000000000000
        |    AS BIGINT) AS power_e18
        |FROM g ORDER BY k""".stripMargin,
    "q_ts_cum_periodogram" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t FROM daily),
        |nn AS (SELECT COUNT(*) AS nd FROM idx),
        |jt AS (
        |  SELECT unnest(range(1, (nd - 1) // 2 + 1)) AS j, v, t, nd
        |  FROM idx, nn),
        |terms AS (
        |  SELECT j, v, nd,
        |    CAST(FLOOR(COS(2 * pi() * j * CAST(t AS DOUBLE) / nd) * 1e9)
        |      AS BIGINT) AS cnano,
        |    CAST(FLOOR(SIN(2 * pi() * j * CAST(t AS DOUBLE) / nd) * 1e9)
        |      AS BIGINT) AS snano
        |  FROM jt),
        |g AS (
        |  SELECT j, MAX(nd) AS nd,
        |    SUM(CAST(v AS HUGEINT) * cnano) AS ck,
        |    SUM(CAST(v AS HUGEINT) * snano) AS sk
        |  FROM terms GROUP BY j),
        |p AS (
        |  SELECT j, ((ck // nd) * (ck // nd) + (sk // nd) * (sk // nd))
        |    // 1000000000000000000 AS p_e18
        |  FROM g),
        |c AS (
        |  SELECT j,
        |    SUM(p_e18) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS cum,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS kmax,
        |    SUM(p_e18) OVER () AS total
        |  FROM p),
        |d AS (
        |  SELECT 1 AS g, j, kmax, total,
        |    abs(cum * kmax - total * j) AS dv,
        |    MAX(abs(cum * kmax - total * j)) OVER () AS dmax
        |  FROM c)
        |SELECT MAX(kmax) AS k_freqs, CAST(MAX(total) AS BIGINT) AS total_e18,
        |  MIN(j) AS j_at_max,
        |  CASE WHEN MAX(total) > 0 THEN CAST((MAX(dmax) * 1000000)
        |    // (MAX(kmax) * CAST(MAX(total) AS HUGEINT)) AS BIGINT) END
        |    AS d_max_ppm,
        |  CAST(FLOOR(1360000 / sqrt(CAST(MAX(kmax) AS DOUBLE))) AS BIGINT)
        |    AS crit_ppm,
        |  CASE WHEN MAX(total) > 0 THEN CAST((MAX(dmax) * 1000000)
        |    // (MAX(kmax) * CAST(MAX(total) AS HUGEINT)) AS BIGINT) END
        |    > CAST(FLOOR(1360000 / sqrt(CAST(MAX(kmax) AS DOUBLE))) AS BIGINT)
        |    AS white_noise_rejected
        |FROM d WHERE dv = dmax GROUP BY g""".stripMargin,
    "q_ts_spectral_flatness" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t FROM daily),
        |nn AS (SELECT COUNT(*) AS nd FROM idx),
        |jt AS (
        |  SELECT unnest(range(1, (nd - 1) // 2 + 1)) AS j, v, t, nd
        |  FROM idx, nn),
        |terms AS (
        |  SELECT j, v, nd,
        |    CAST(FLOOR(COS(2 * pi() * j * CAST(t AS DOUBLE) / nd) * 1e9)
        |      AS BIGINT) AS cnano,
        |    CAST(FLOOR(SIN(2 * pi() * j * CAST(t AS DOUBLE) / nd) * 1e9)
        |      AS BIGINT) AS snano
        |  FROM jt),
        |g0 AS (
        |  SELECT j, MAX(nd) AS nd,
        |    SUM(CAST(v AS HUGEINT) * cnano) AS ck,
        |    SUM(CAST(v AS HUGEINT) * snano) AS sk
        |  FROM terms GROUP BY j),
        |p AS (
        |  SELECT 1 AS g, CAST(((ck // nd) * (ck // nd) + (sk // nd) * (sk // nd))
        |    // 1000000000000000000 // 1000000000 AS BIGINT) AS q
        |  FROM g0),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
        |    CAST(COUNT(CASE WHEN q > 0 THEN 1 END) AS BIGINT) AS n_pos,
        |    SUM(CASE WHEN q > 0 THEN q END) AS t,
        |    SUM(CASE WHEN q > 0 THEN
        |      CAST(FLOOR(LN(CAST(q AS DOUBLE)) * 1e9) AS BIGINT) END) AS sum_ln
        |  FROM p GROUP BY g)
        |SELECT n_bins, n_pos,
        |  CAST(CASE WHEN n_pos > 0 THEN sum_ln // n_pos END AS BIGINT)
        |    AS gm_ln_nano,
        |  CAST(CASE WHEN n_pos > 0 THEN t // n_pos END AS BIGINT) AS am_e9,
        |  CAST(CASE WHEN (CASE WHEN n_pos > 0 THEN t // n_pos END) > 0 THEN
        |    (sum_ln // n_pos) - CAST(FLOOR(LN(CAST(t // n_pos AS DOUBLE)) * 1e9)
        |      AS BIGINT) END AS BIGINT) AS ln_flatness_nano,
        |  CAST((CASE WHEN (CASE WHEN n_pos > 0 THEN t // n_pos END) > 0 THEN
        |    (sum_ln // n_pos) - CAST(FLOOR(LN(CAST(t // n_pos AS DOUBLE)) * 1e9)
        |      AS BIGINT) END) // 1000000 AS BIGINT) AS ln_flatness_milli
        |FROM a""".stripMargin,
    "q_ts_cox_stuart" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM idx),
        |pr AS (
        |  SELECT 1 AS g, a.v AS va, b.v AS vb
        |  FROM idx a, nn, idx b
        |  WHERE a.t <= nd - ((nd + 1) // 2)
        |    AND b.t = a.t + ((nd + 1) // 2)),
        |ag AS (
        |  SELECT CAST(COUNT(CASE WHEN vb > va THEN 1 END) AS BIGINT) AS s_plus,
        |    CAST(COUNT(CASE WHEN vb < va THEN 1 END) AS BIGINT) AS s_minus
        |  FROM pr GROUP BY g),
        |sel AS (
        |  SELECT s_plus + s_minus AS n_pairs, s_plus, s_minus FROM ag)
        |SELECT n_pairs, s_plus, s_minus,
        |  CAST(CASE WHEN n_pairs > 0 THEN FLOOR(
        |    CAST(2 * s_plus - n_pairs AS DOUBLE) /
        |    SQRT(CAST(n_pairs AS DOUBLE)) * 1000) END AS BIGINT) AS z_milli,
        |  abs(CAST(CASE WHEN n_pairs > 0 THEN FLOOR(
        |    CAST(2 * s_plus - n_pairs AS DOUBLE) /
        |    SQRT(CAST(n_pairs AS DOUBLE)) * 1000) END AS BIGINT)) > 1960
        |    AS trend_significant_05
        |FROM sel""".stripMargin,
    "q_win_macd" -> {
      def emaSql(src: String, part: String, wNum: Int => Long, lags: Int,
          num: String, den: String): String = {
        val nums = (0 until lags).map { j =>
          val v = if (j == 0) src
          else s"LAG($src, $j) OVER (PARTITION BY $part ORDER BY day)"
          s"COALESCE(CAST($v AS HUGEINT) * ${wNum(j)}, 0)"
        }.mkString(" + ")
        val dens = (0 until lags).map { j =>
          val v = if (j == 0) src
          else s"LAG($src, $j) OVER (PARTITION BY $part ORDER BY day)"
          s"(CASE WHEN $v IS NOT NULL THEN ${wNum(j)} ELSE 0 END)"
        }.mkString(" + ")
        s"$nums AS $num, $dens AS $den"
      }
      val fastW: Int => Long = j => 1L << (7 - j)
      val slowW: Int => Long = j => {
        var p3 = 1L; var p4 = 1L
        (0 until j).foreach(_ => p3 *= 3); (0 until (7 - j)).foreach(_ => p4 *= 4)
        p3 * p4
      }
      val sigW: Int => Long = j => 1L << (3 - j)
      s"""WITH $DailyPriSql,
         |e AS (
         |  SELECT pri, day,
         |    ${emaSql("v", "pri", fastW, 8, "fn", "fd")},
         |    ${emaSql("v", "pri", slowW, 8, "sn", "sd")}
         |  FROM daily),
         |m AS (
         |  SELECT pri, day,
         |    CAST((fn * 1000000) // fd AS BIGINT)
         |      - CAST((sn * 1000000) // sd AS BIGINT) AS macd_micro
         |  FROM e),
         |g AS (
         |  SELECT pri, day, macd_micro,
         |    ${emaSql("macd_micro", "pri", sigW, 4, "gn", "gd")}
         |  FROM m)
         |SELECT pri, strftime(day, '%Y-%m-%d') AS day, macd_micro,
         |  CAST(gn // gd AS BIGINT) AS signal_micro,
         |  macd_micro - CAST(gn // gd AS BIGINT) AS hist_micro
         |FROM g ORDER BY pri, day""".stripMargin
    },
    "q_stats_jarque_bera" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, COUNT(*) AS n,
        |    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS s1,
        |    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
        |      * CAST(l_quantity AS BIGINT)) AS s2,
        |    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
        |      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s3,
        |    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
        |      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS s4
        |  FROM lineitem GROUP BY 1),
        |mm AS (
        |  SELECT flag, n, s1, CAST(s1 AS DOUBLE) / n AS mu,
        |    CAST(s2 AS DOUBLE) / n AS r2, CAST(s3 AS DOUBLE) / n AS r3,
        |    CAST(s4 AS DOUBLE) / n AS r4
        |  FROM g),
        |c AS (
        |  SELECT flag, n, s1, mu,
        |    r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM mm),
        |sk AS (
        |  SELECT flag, n, s1, m2,
        |    m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) AS kurt
        |  FROM c)
        |SELECT flag, n, CAST(s1 AS BIGINT) AS s1,
        |  CAST(FLOOR(skew * 1e6) AS BIGINT) AS skew_micro,
        |  CAST(FLOOR(kurt * 1e6) AS BIGINT) AS kurt_micro,
        |  CAST(FLOOR(n / 6.0 * (skew * skew
        |    + (kurt - 3.0) * (kurt - 3.0) / 4.0) * 1000) AS BIGINT) AS jb_milli
        |FROM sk ORDER BY flag""".stripMargin,
    "q_embed_isotropy" ->
      """WITH unitv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) /
        |      sqrt(list_aggregate(list_transform(embedding,
        |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) * 1e9)
        |      AS BIGINT)) AS u
        |  FROM embeddings),
        |ex AS (
        |  SELECT generate_subscripts(u, 1) AS dim0,
        |    CAST(unnest(u) AS HUGEINT) AS ud
        |  FROM unitv),
        |pd AS (
        |  SELECT dim0, COUNT(*) AS n, SUM(ud) AS sd, SUM(ud * ud) AS qd
        |  FROM ex GROUP BY dim0),
        |v AS (SELECT *, (n * qd - sd * sd) // 1000000000 AS vs FROM pd),
        |agg AS (
        |  SELECT MAX(n) AS n, COUNT(*) AS dim,
        |    SUM(sd * sd) AS ss2, SUM(qd) AS qq,
        |    SUM(vs) AS vsum, SUM(vs * vs) AS vsq
        |  FROM v)
        |SELECT CAST(n AS BIGINT) AS n, dim,
        |  CAST(((ss2 - qq) * 1000000) //
        |    ((n * n - n) * CAST(1000000000000000000 AS HUGEINT)) AS BIGINT)
        |    AS mean_cos_ppm,
        |  CAST((vsum * vsum * 1000000) // vsq AS BIGINT) AS pr_micro
        |FROM agg""".stripMargin,
    "q_embed_threshold_sweep" ->
      """WITH base AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT CAST(FLOOR(round(list_cosine_similarity(a.v, b.v), 6) * 1e6
        |    + 0.5) AS BIGINT) AS c_ppm
        |  FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |thr AS (SELECT unnest([350000, 500000, 650000, 800000, 900000,
        |                      950000, 990000]) AS thr_ppm),
        |cnt AS (
        |  SELECT t.thr_ppm,
        |    CAST(SUM(CASE WHEN p.c_ppm IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pairs
        |  FROM thr t LEFT JOIN p ON p.c_ppm >= t.thr_ppm
        |  GROUP BY t.thr_ppm),
        |tot AS (
        |  SELECT CAST(SUM(nl * (nl - 1) // 2) AS BIGINT) AS total_pairs FROM
        |    (SELECT COUNT(*) AS nl FROM embeddings GROUP BY label))
        |SELECT thr_ppm, n_pairs, total_pairs,
        |  CAST((n_pairs * 1000000000) // total_pairs AS BIGINT) AS frac_ppb
        |FROM cnt, tot ORDER BY thr_ppm""".stripMargin)
}
