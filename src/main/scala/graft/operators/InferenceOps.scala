package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Classical statistical inference over the fixture relations: Welch's
  * two-sample t-test, one-way ANOVA, Spearman rank correlation, and
  * lagged cross-correlation — the hypothesis-testing layer a data team
  * runs before trusting a corpus change or an A/B readout.
  *
  * Scale + determinism design shared by the module (same discipline as
  * [[EvalOps]]):
  *   - every statistic reduces to GROUPED integer sums (count / sum /
  *     sum-of-squares per group), so the only shuffled relations are
  *     group-cardinality (2 for the t-test, |lang| for ANOVA,
  *     |event_type|² day-joined for cross-correlation), never
  *     row-cardinality;
  *   - sums and products of counts run in DECIMAL(38,0) (HUGEINT in the
  *     DuckDB twins) BEFORE any multiply — a sumsq of micro-masses
  *     outgrows int64 at 10^10 rows;
  *   - doubles appear only in the terminal closed-form quotient, with
  *     the oracle mirroring the exact expression tree, and results
  *     rounded to 6dp (the repo-wide float-compare convention,
  *     [[graft.Det]]).
  *
  * Spearman is the one op that needs per-row ranks; it takes average
  * ranks from a cumulative window over the DISTINCT-VALUE relation
  * (domain-bounded, same argument as EvalOps.evalAuc's score scaffold)
  * and joins them back — never a global per-row row_number.
  */
object InferenceOps {

  /** Welch's unequal-variance t-test: does mean document length differ
    * between English and non-English docs? One 2-group aggregate of
    * exact integer (n, Σx, Σx²) in DECIMAL, then the closed-form
    * t = (m1−m2)/√(v1/n1+v2/n2) and Welch–Satterthwaite degrees of
    * freedom, evaluated once on the driver-side 1-row relation. Sample
    * (n−1) variances. Map-side combine does all the work; nothing
    * row-cardinality crosses the wire.
    */
  def welchT(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(when(col("lang") === "en", "en").otherwise("other").as("grp"),
        col("n_chars").cast(DecimalType(38, 0)).as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      // sample variance from exact sums: (n·Σx² − (Σx)²) / (n·(n−1))
      .withColumn("mean", col("sx").cast("double") / col("n"))
      .withColumn("v", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
        (col("n").cast("double") * (col("n") - 1)))
    g.agg(
        max(when(col("grp") === "en", col("n"))).as("n_en"),
        max(when(col("grp") === "en", col("mean"))).as("m1"),
        max(when(col("grp") === "en", col("v"))).as("v1"),
        max(when(col("grp") === "other", col("n"))).as("n_other"),
        max(when(col("grp") === "other", col("mean"))).as("m2"),
        max(when(col("grp") === "other", col("v"))).as("v2"))
      // degenerate fixture guard: if either group is absent, surface zero
      // rows (an explicit oracle row-count failure) instead of an all-NULL
      // row whose hash behavior would silently decide the comparison
      .filter(col("n_en").isNotNull && col("n_other").isNotNull)
      .withColumn("se1", col("v1") / col("n_en"))
      .withColumn("se2", col("v2") / col("n_other"))
      .select(col("n_en"), col("n_other"),
        round(col("m1") - col("m2"), 6).as("mean_diff"),
        round((col("m1") - col("m2")) / sqrt(col("se1") + col("se2")), 6).as("t_stat"),
        round((col("se1") + col("se2")) * (col("se1") + col("se2")) /
          (col("se1") * col("se1") / (col("n_en") - 1) +
           col("se2") * col("se2") / (col("n_other") - 1)), 6).as("df_welch"))
  }

  /** One-way ANOVA: does mean document length differ across languages?
    * Per-language exact (n, Σx, Σx²) in one aggregate (|lang| groups),
    * then the textbook decomposition on the tiny grouped relation:
    * SSB = Σ_g S_g²/n_g − S²/N, SSW = Σ_g (Σx²_g − S_g²/n_g),
    * F = (SSB/(k−1)) / (SSW/(N−k)). The S_g²/n_g quotient is the first
    * double (after a DECIMAL square), mirrored term-for-term in the
    * oracle. Output: one row with k, n, ssb, ssw, f_stat.
    */
  def anovaLang(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").cast(DecimalType(38, 0)).as("x"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      // ss_all stays an exact DECIMAL sum (cast to double once, after); the
      // b_all terms are inherently double quotients, so each term is pinned
      // at 6dp and accumulated in exact DECIMAL — no partial-aggregation
      // ordering can flip the sum on either engine.
      // Cross-engine envelope (cf. Det.money): the 6dp round is HALF_UP on
      // Spark's shortest-string vs exact-binary on DuckDB — divergence needs
      // the quotient sx²/n to land EXACTLY on a trailing 5 at the 7th
      // decimal of its shortest double representation, a measure-zero event
      // for char-count sums (verified identical on all fixtures). Overflow:
      // each term ≤ sx² ≤ (N·maxlen)² ≈ 1e28 at 100 TB (N≈1e10 docs,
      // maxlen≈1e4), and DECIMAL(38,6) holds 1e32, so the |lang|-term sum
      // has ≥4 orders of headroom; Spark's silent NULL-on-overflow (ANSI
      // off) vs DuckDB's error is unreachable inside that envelope.
      .agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
        sum(col("sx")).as("s_all"),
        sum(col("sxx")).cast("double").as("ss_all"),
        sum(round((col("sx") * col("sx")).cast("double") / col("n"), 6)
          .cast(DecimalType(38, 6))).cast("double").as("b_all"))
      .withColumn("ssb", col("b_all") - (col("s_all") * col("s_all")).cast("double") / col("n_total"))
      .withColumn("ssw", col("ss_all") - col("b_all"))
      .select(col("k"), col("n_total"),
        round(col("ssb"), 4).as("ssb"),
        round(col("ssw"), 4).as("ssw"),
        round((col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n_total") - col("k"))), 6)
          .as("f_stat"))

  /** Spearman rank correlation between per-user activity (event count)
    * and per-user spend mass (Σ value micros): are heavy clickers heavy
    * spenders, monotonically? Tie-aware average ranks, kept integer by
    * carrying 2·rank (2·avgrank = 2·|{x' < x}| + |{x'' = x}| + 1 is
    * always integral), derived from a cumulative window over the
    * DISTINCT-VALUE relation of each variable — bounded by the value
    * domain, not the user count — then joined back (hash join on the
    * value) and fed to an exact-decimal Pearson over users. ρ on 2r is
    * ρ on r (scale-invariant). No global per-row window anywhere.
    */
  def spearman(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("x"),
        sum(floor(col("value") * 1e6).cast("long")).as("y"))

    // 2·average-rank of each distinct value: 2·cum_below + count_eq + 1
    def rank2(df: DataFrame, c: String): DataFrame = {
      val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, -1)
      df.groupBy(c).agg(count(lit(1)).as("cnt"))
        .withColumn(s"r2_$c",
          (coalesce(sum(col("cnt")).over(w), lit(0L)) * 2 + col("cnt") + 1)
            .cast(DecimalType(38, 0)))
        .drop("cnt")
    }

    u.join(rank2(u, "x"), Seq("x"))
      .join(rank2(u, "y"), Seq("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("r2_x")).as("sx"), sum(col("r2_y")).as("sy"),
        sum(col("r2_x") * col("r2_y")).as("sxy"),
        sum(col("r2_x") * col("r2_x")).as("sxx"),
        sum(col("r2_y") * col("r2_y")).as("syy"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))).cast("double")), 6)
          .as("rho"))
  }

  /** Lag-1 cross-correlation between every ordered pair of event-type
    * daily mass series: does type A's volume today predict type B's
    * tomorrow? The joined relation is days × ordered type pairs —
    * calendar-bounded (≤366·|types|² rows/year), the same boundedness
    * as StatsOps.statsCorrPairs, which this extends with a day offset.
    * Exact int64 daily masses, DECIMAL cross-products, one terminal
    * double quotient at 6dp.
    */
  def crossCorrLag1(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val a = daily.select(col("event_type").as("type_a"), col("day"),
      col("x").cast(DecimalType(38, 0)).as("xa"))
    val b = daily.select(col("event_type").as("type_b"),
      (col("day") - expr("INTERVAL 1 DAY")).as("day"),
      col("x").cast(DecimalType(38, 0)).as("xb"))
    a.join(b, Seq("day")).filter(col("type_a") =!= col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n"), sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"), sum(col("xb") * col("xb")).as("syy"))
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("varx", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("vary", (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
      .filter(col("varx") > 0 && col("vary") > 0)
      .select(col("type_a"), col("type_b"), col("n"),
        round(col("num") / sqrt(col("varx") * col("vary")), 6).as("xcorr_lag1"))
      .orderBy("type_a", "type_b")
  }

  /** Shared per-order feature/target relation for the OLS fit and its
    * conformal wrapper: (okey, line count x1, total quantity x2, price
    * cents y).
    *
    * r22: per-(session, dir) memo of the CHECKPOINTED relation
    * (order-grain, bounded — the [[GlobalPrefix.memoized]] boundedness
    * class). Before, this fact-scale lineitem aggregate + orders join
    * was re-evaluated FIVE times per bench pass: twice inside
    * [[olsMulti]] (grand-total arm + centered-moment arm), once more by
    * [[conformalResidBuild]], and olsMulti's two arms again under the
    * conformal build's own olsMulti call.
    */
  private def olsPerOrder(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, s"ols_per_order:$dir")(olsPerOrderBuild(s, dir).localCheckpoint())

  private def olsPerOrderBuild(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(count(lit(1)).as("x1"), sum(col("l_quantity").cast("long")).as("x2"))
      .join(Tables.orders(s, dir).select(col("o_orderkey").as("okey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("y")), Seq("okey"))

  /** #252 Multivariate OLS (two predictors + intercept) fit entirely in
    * exact integer arithmetic: regress order price (cents) on the
    * order's line count and total quantity, solving the 2×2 normal
    * equations by Cramer's rule on pivot-centered moments.
    *
    * Determinism: single-variable regression (q_stats_regression) ends
    * in one double quotient; a 2-predictor fit multiplies moments
    * together, so EVERY term here stays integral — rows are centered at
    * the FLOORED means (an arbitrary pivot only shrinks magnitudes; OLS
    * slopes are shift-invariant), moments correct the pivot residue via
    * S_ab = (n·Σa·b − Σa·Σb) div n in DECIMAL(38,0)/HUGEINT, and the
    * slopes/intercept/R² are single truncating divisions of exact
    * integers (Spark `div` and DuckDB `//` both truncate toward zero
    * for any sign — the [[TimeWindows.tsSeasonal]] convention).
    *
    * Scale: one lineitem groupBy (map-side combined) + one orders join,
    * then two global 1-row aggregates (pivot pass + moment pass) — the
    * classic two-pass distributed regression; nothing row-cardinality
    * leaves the executors twice. Envelope: centered cents ≲ 1e8 and
    * moment·moment·1e6 ≲ 1e38 bounds exactness to n ≲ 1e10 orders;
    * beyond that drop slope precision to milli (documented, like the
    * ANOVA envelope above).
    */
  def olsMulti(s: SparkSession, dir: String): DataFrame = {
    val per = olsPerOrder(s, dir)
    val piv = per.agg(count(lit(1)).as("n0"),
        sum(col("x1")).as("t1"), sum(col("x2")).as("t2"),
        sum(col("y").cast(DecimalType(38, 0))).as("ty"))
      .select(col("n0"), col("t1"), col("t2"), col("ty"),
        expr("t1 div n0").as("p1"), expr("t2 div n0").as("p2"),
        expr("cast(ty div n0 as long)").as("py"))
    val m = per.crossJoin(broadcast(piv))
      .select(col("n0"), col("t1"), col("t2"), col("ty"),
        (col("x1") - col("p1")).as("c1"), (col("x2") - col("p2")).as("c2"),
        (col("y") - col("py")).as("cy"))
      .groupBy("n0", "t1", "t2", "ty")
      .agg(count(lit(1)).as("n"),
        sum(col("c1")).cast(DecimalType(38, 0)).as("s1"),
        sum(col("c2")).cast(DecimalType(38, 0)).as("s2"),
        sum(col("cy").cast(DecimalType(38, 0))).as("sy"),
        sum((col("c1") * col("c1")).cast(DecimalType(38, 0))).as("r11"),
        sum((col("c1") * col("c2")).cast(DecimalType(38, 0))).as("r12"),
        sum((col("c2") * col("c2")).cast(DecimalType(38, 0))).as("r22"),
        sum(col("c1").cast(DecimalType(38, 0)) * col("cy")).as("r1y"),
        sum(col("c2").cast(DecimalType(38, 0)) * col("cy")).as("r2y"),
        sum(col("cy").cast(DecimalType(38, 0)) * col("cy")).as("ryy"))
    // Spark `div` yields LONG whatever the inputs — and for decimal
    // operands it WRAPS SILENTLY modulo 2^64 when the true quotient
    // passes 2^63 (no ANSI overflow error; found by the sf0.1 parity
    // sweep: Syy ≈ 3.06e19 wrapped to −6.34e18 and flipped R²'s sign).
    // So: every moment quotient that provably fits int64 (S11..S2y —
    // bounded by n·feature-range²) is re-widened to DECIMAL(38,0) after
    // its div; Syy, the one moment that outgrows int64 at sf0.1, is
    // kept UNDIVIDED (SyyN = n·Syy, exact decimal) and the n folds into
    // the final R² division instead.
    m.withColumn("S11", expr("cast((n * r11 - s1 * s1) div n as decimal(38,0))"))
      .withColumn("S12", expr("cast((n * r12 - s1 * s2) div n as decimal(38,0))"))
      .withColumn("S22", expr("cast((n * r22 - s2 * s2) div n as decimal(38,0))"))
      .withColumn("S1y", expr("cast((n * r1y - s1 * sy) div n as decimal(38,0))"))
      .withColumn("S2y", expr("cast((n * r2y - s2 * sy) div n as decimal(38,0))"))
      .withColumn("SyyN", expr("n * ryy - sy * sy"))
      .withColumn("det", expr("S11 * S22 - S12 * S12"))
      .filter(col("det") =!= 0 && col("SyyN") =!= 0)
      .withColumn("beta1_micro",
        expr("((S1y * S22 - S2y * S12) * 1000000) div det"))
      .withColumn("beta2_micro",
        expr("((S2y * S11 - S1y * S12) * 1000000) div det"))
      .select(col("n").as("n_orders"),
        col("beta1_micro").cast("long").as("beta1_micro"),
        col("beta2_micro").cast("long").as("beta2_micro"),
        expr("cast((ty * 1000000 - cast(beta1_micro as decimal(38,0)) * t1" +
          " - cast(beta2_micro as decimal(38,0)) * t2) div n0 as long)")
          .as("intercept_micro"),
        expr("cast(((cast(beta1_micro as decimal(38,0)) * S1y" +
          " + cast(beta2_micro as decimal(38,0)) * S2y) * n) div SyyN as long)")
          .as("r2_ppm"))
  }

  /** #269 Kendall rank correlation (tau-a, with tie counts) between the
    * daily order count and daily revenue — the rank-concordance readout
    * that, unlike Spearman's rho, is defined directly from pair
    * orderings and so needs no midrank machinery.
    *
    * Scale: the concordance pair join runs over the DAILY aggregate,
    * which is calendar-bounded (|days| rows whatever the order count —
    * the [[TimeWindows]].tsSeasonal argument), so the d² pair relation
    * is ~365²/2 per year of data, independent of corpus size; the only
    * row-cardinality work is the one map-side-combined groupBy(day).
    * Determinism: concordant / discordant / tie classification is pure
    * integer sign arithmetic; tau_a_ppm is one truncating division
    * (Spark `div` = DuckDB `//`). Tau-b's √((n0−tx)(n0−ty)) denominator
    * would need a cross-engine floor-sqrt on a ~1e10 product — knife-
    * edge flooring for no extra information, so tau-a + explicit tie
    * counts is the contract (the caller can form tau-b externally).
    */
  def kendallDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("y"))
    val a = daily.select(col("day").as("da"), col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("day").as("db"), col("x").as("xb"), col("y").as("yb"))
    a.join(b, col("da") < col("db"))
      .select(
        (signum(col("xb") - col("xa")) * signum(col("yb") - col("ya")))
          .cast("long").as("sgn"),
        (col("xa") === col("xb")).cast("long").as("tx"),
        (col("ya") === col("yb")).cast("long").as("ty"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_concordant"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_discordant"),
        sum(col("tx")).as("n_ties_x"), sum(col("ty")).as("n_ties_y"))
      .select(col("n_pairs"), col("n_concordant"), col("n_discordant"),
        col("n_ties_x"), col("n_ties_y"),
        expr("((n_concordant - n_discordant) * 1000000) div n_pairs")
          .as("tau_a_ppm"))
  }

  /** #273 Two-proportion z-test: does the purchase share of events
    * differ weekend vs weekday? The A/B-readout companion to Welch's t
    * for binary outcomes. Reported as z² in milli (χ²(1) scale) so the
    * whole statistic is integer: proportions are floored to ppm FIRST
    * (both engines floor the same integer quotients — the documented
    * precision envelope: ±1 ppm flooring on p̂ moves z² by ≪ the 3.841
    * decision threshold at any n where the test is meaningful), then
    * z²_milli = d_ppm² · n1 · n2 · 1000 div (p_ppm · (1e6 − p_ppm) ·
    * (n1 + n2)) with every product in DECIMAL(38,0)/HUGEINT.
    * Scale: one 2-group map-side-combined aggregate; nothing
    * row-cardinality shuffles. Envelope: d_ppm² ≤ 1e12 and n1·n2·1e3 ≤
    * 1e27 keeps the numerator inside 1e38 past 1e12 events per arm.
    */
  def propZ(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        when(dayofweek(col("ts")).isin(1, 7), lit("weekend"))
          .otherwise(lit("weekday")).as("grp"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("hit"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("x"))
      .agg(
        max(when(col("grp") === "weekend", col("n"))).as("n_we"),
        max(when(col("grp") === "weekend", col("x"))).as("x_we"),
        max(when(col("grp") === "weekday", col("n"))).as("n_wd"),
        max(when(col("grp") === "weekday", col("x"))).as("x_wd"))
      .select(col("n_we"), col("x_we"), col("n_wd"), col("x_wd"),
        expr("(x_we * 1000000) div n_we").as("p_we_ppm"),
        expr("(x_wd * 1000000) div n_wd").as("p_wd_ppm"),
        expr("((x_we + x_wd) * 1000000) div (n_we + n_wd)").as("p_pool_ppm"))
      .withColumn("d_ppm", col("p_we_ppm") - col("p_wd_ppm"))
      .withColumn("z2_milli",
        expr("cast((cast(d_ppm as decimal(38,0)) * d_ppm * n_we * n_wd * 1000)" +
          " div (cast(p_pool_ppm as decimal(38,0)) * (1000000 - p_pool_ppm)" +
          " * (n_we + n_wd)) as long)"))
      .select(col("n_we"), col("x_we"), col("n_wd"), col("x_wd"),
        col("p_we_ppm"), col("p_wd_ppm"), col("z2_milli"),
        (col("z2_milli") > 3841L).as("significant_05"))

  /** Session memo for the conformal residual relation (r21): the bench
    * prewarm already builds it — `rank:conformal_resid` feeds it to
    * [[rankedConformal]] — and the graded consumer needs the SAME checkpointed
    * relation for its coverage count, so without a memo every
    * invocation re-ran the full two-pass OLS fit + materialization a
    * second time. The relation is orders-sized — exactly the class the
    * [[GlobalPrefix.memoized]] relations already hold checkpointed.
    */
  private[graft] def conformalResid(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, s"conformal_resid:$dir")(conformalResidBuild(s, dir))

  private def conformalResidBuild(s: SparkSession, dir: String): DataFrame =
    olsPerOrder(s, dir)
      .crossJoin(broadcast(olsMulti(s, dir)
        .select(col("beta1_micro"), col("beta2_micro"), col("intercept_micro"))))
      .select(col("okey"),
        (substring(md5(concat(lit("conf:"), col("okey").cast("string"))), 1, 2) < "40")
          .as("is_cal"),
        abs(col("y") * 1000000L - col("beta1_micro") * col("x1") -
          col("beta2_micro") * col("x2") - col("intercept_micro")).as("abs_r"))
      .localCheckpoint() // feeds rankedConformal AND the coverage count

  /** [[GlobalPrefix.memoized]] rank of the calibration residuals over
    * (abs_r, okey), shared with the bench prewarm. `resid` is by-name: on
    * a memo hit the calibration slice is never built. */
  private[graft] def rankedConformal(s: SparkSession, dir: String,
      resid: => DataFrame): GlobalPrefix.Prefixed =
    GlobalPrefix.memoized(s, s"conformal:$dir",
      resid.filter(col("is_cal")).select(col("okey"), col("abs_r")),
      Seq(asc("abs_r"), asc("okey")), GlobalPrefix.Rank)

  /** #294 Split-conformal prediction interval (Vovk et al.; Lei et al.
    * 2018) around the [[olsMulti]] price model: on a content-addressed
    * 25% calibration split (md5 of the order key — the
    * [[PipelineOps]] split discipline), take the ⌈(1−α)(n+1)⌉-th
    * smallest absolute residual as the half-width q̂ (α = 0.1), then
    * report the EMPIRICAL coverage of ±q̂ on the held-out 75% — the
    * distribution-free guarantee (≥ 90%) demonstrated, not assumed.
    *
    * Exactness: residuals use the oracle-identical floored integer-micro
    * betas, so every |r| is exact int64; the quantile is an ORDER
    * STATISTIC (no interpolation) selected by the [[GlobalPrefix]] rank
    * over (|r|, okey) with no SinglePartition window; coverage is
    * a count ratio in ppm. Scale: one per-order aggregate feeds fit,
    * calibration, and coverage; the kernel's range shuffle is the only
    * extra row-cardinality stage.
    */
  def conformalInterval(s: SparkSession, dir: String): DataFrame = {
    val alpha10 = 9L // (1-α)·10 with α = 0.1
    val resid = conformalResid(s, dir)
    val ranked = rankedConformal(s, dir, resid)
    val nCal = ranked.totals("r")
    val qIdx = (alpha10 * (nCal + 1) + 9) / 10 // ceil(0.9·(n+1))
    val qHat = ranked.df.filter(col("r") === qIdx)
      .select(col("abs_r").as("q_hat_micro"))
    resid.filter(!col("is_cal"))
      .crossJoin(broadcast(qHat))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("abs_r") <= col("q_hat_micro"), 1L).otherwise(0L))
          .as("n_covered"),
        max(col("q_hat_micro")).as("q_hat_micro"))
      .select(lit(nCal).as("n_cal"), col("q_hat_micro"), col("n_test"),
        col("n_covered"),
        expr("(n_covered * 1000000) div n_test").as("coverage_ppm"))
  }

  /** #299 CUPED variance-reduced A/B readout (Deng et al. 2013, WSDM):
    * adjust each user's outcome metric (purchase mass, micro) by a
    * pre-experiment covariate (view-event count) before differencing
    * the arms — Ŷ_adj = Ȳ − θ·(X̄ − μ_x), θ = S_xy/S_xx pooled.
    * Arms come from the content-addressed md5 split (the
    * [[PipelineOps]] split discipline, key `cuped:user_id`, 50/50).
    *
    * Output: pooled θ (micro), raw and CUPED-adjusted treatment-minus-
    * control differences (micro), and the theoretical variance-
    * reduction factor ρ² (ppm) = S_xy²/(S_xx·S_yy), reported as
    * (θ_micro·S_xy) div S_yy so no S_xy² term is ever materialized
    * (S_xy² would pass DECIMAL38 near 1e9 users; θ·S_xy stays ≤ ~1e33).
    *
    * Scale: ONE per-user aggregate (the only row-cardinality shuffle),
    * then a 1-row pooled-moment aggregate and a 2-row per-arm
    * aggregate, recombined via broadcast. All moments are exact
    * DECIMAL(38,0)/HUGEINT; θ and the means are truncating divisions
    * (Spark `div` = DuckDB `//` on these positive-denominator terms),
    * mirrored term-for-term in the twin. Envelope: Σy ≤ 1e18 micro at
    * 1e6 users ⇒ (Σy)² ≤ 1e36 < 1e38; past ~1e7 heavy users drop y to
    * milli (documented, the ANOVA-envelope convention).
    */
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 1e6).cast("long")).otherwise(0L)).as("y"))
      .select(col("x"), col("y"),
        (substring(md5(concat(lit("cuped:"), col("user_id").cast("string"))), 1, 1) < "8")
          .as("treat"))
    val mom = per.agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("y").cast(DecimalType(38, 0))).as("sy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"),
        sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"))
      .withColumn("Sxx", expr("n * sxx - sx * sx"))
      .withColumn("Sxy", expr("n * sxy - sx * sy"))
      .withColumn("Syy", expr("n * syy - sy * sy"))
      .filter(col("Sxx") =!= 0 && col("Syy") =!= 0)
      .withColumn("theta_micro", expr("cast((Sxy * 1000000) div Sxx as long)"))
    val arms = per.groupBy("treat")
      .agg(count(lit(1)).as("na"), sum(col("x")).as("ax"),
        sum(col("y").cast(DecimalType(38, 0))).as("ay"))
      .agg(
        max(when(col("treat"), col("na"))).as("n_t"),
        max(when(col("treat"), col("ax"))).as("x_t"),
        max(when(col("treat"), col("ay"))).as("y_t"),
        max(when(!col("treat"), col("na"))).as("n_c"),
        max(when(!col("treat"), col("ax"))).as("x_c"),
        max(when(!col("treat"), col("ay"))).as("y_c"))
      .filter(col("n_t").isNotNull && col("n_c").isNotNull)
    arms.crossJoin(broadcast(mom.select(col("n"), col("theta_micro"),
        col("Sxy"), col("Syy"))))
      .withColumn("my_t", expr("cast((y_t * 1000000) div n_t as long)"))
      .withColumn("my_c", expr("cast((y_c * 1000000) div n_c as long)"))
      .withColumn("mx_t", expr("(x_t * 1000000) div n_t"))
      .withColumn("mx_c", expr("(x_c * 1000000) div n_c"))
      .select(col("n").as("n_users"), col("n_t"), col("n_c"),
        col("theta_micro"),
        expr("cast((my_t - my_c) div 1000000 as long)").as("diff_raw_micro"),
        expr("cast((my_t - my_c - (cast(theta_micro as decimal(38,0))" +
          " * (mx_t - mx_c)) div 1000000) div 1000000 as long)")
          .as("diff_cuped_micro"),
        expr("cast((cast(theta_micro as decimal(38,0)) * Sxy) div Syy as long)")
          .as("var_reduction_ppm"))
  }

  /** #300 Difference-in-differences: the 2×2 (arm × period) panel
    * estimate DiD = (Ȳ_t,post − Ȳ_t,pre) − (Ȳ_c,post − Ȳ_c,pre) over
    * event value mass, with arm = md5 user split (`did:user_id`) and
    * period = first vs second half of the month (day ≤ 15 ⇒ pre) —
    * the causal-readout companion to [[cuped]] when assignment
    * correlates with time.
    *
    * Pure integer: one 4-group map-side-combined aggregate of exact
    * micro masses, cell means by truncating division, DiD as their
    * integer combination. Nothing row-cardinality shuffles; the output
    * is one row carrying all four cell means + counts so the parallel
    * trends inspection is in the same relation as the estimate.
    */
  def didEstimator(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        (substring(md5(concat(lit("did:"), col("user_id").cast("string"))), 1, 1) < "8")
          .as("treat"),
        (dayofmonth(col("ts")) <= 15).as("pre"),
        floor(col("value") * 1e6).cast("long").as("y"))
      .groupBy("treat", "pre")
      .agg(count(lit(1)).as("n"), sum(col("y").cast(DecimalType(38, 0))).as("sy"))
      .withColumn("mean_micro", expr("cast(sy div cast(n as decimal(38,0)) as long)"))
      .agg(
        max(when(col("treat") && col("pre"), col("n"))).as("n_t_pre"),
        max(when(col("treat") && col("pre"), col("mean_micro"))).as("m_t_pre"),
        max(when(col("treat") && !col("pre"), col("n"))).as("n_t_post"),
        max(when(col("treat") && !col("pre"), col("mean_micro"))).as("m_t_post"),
        max(when(!col("treat") && col("pre"), col("n"))).as("n_c_pre"),
        max(when(!col("treat") && col("pre"), col("mean_micro"))).as("m_c_pre"),
        max(when(!col("treat") && !col("pre"), col("n"))).as("n_c_post"),
        max(when(!col("treat") && !col("pre"), col("mean_micro"))).as("m_c_post"))
      .filter(col("n_t_pre").isNotNull && col("n_t_post").isNotNull &&
        col("n_c_pre").isNotNull && col("n_c_post").isNotNull)
      .withColumn("did_micro",
        (col("m_t_post") - col("m_t_pre")) - (col("m_c_post") - col("m_c_pre")))

  /** #301 Poisson overdispersion check: per event type, the index of
    * dispersion D = s²/x̄ of DAILY event counts (milli), plus the
    * (n−1)·D statistic that is χ²(n−1) under a homogeneous Poisson —
    * the standard first test of whether arrival counts are burstier
    * than independent arrivals (cf. the Fano readout in
    * [[TimeWindows]], which this complements with a calendar-day grain
    * and a per-type χ² decision column).
    *
    * Scale: groupBy(type, day) is map-side combined and its output is
    * calendar-bounded (|days|·|types| rows); the dispersion re-
    * aggregate is tiny. Exactness: D_milli = ((n·Σx²−S²)·1000) div
    * ((n−1)·S) — all integer, one truncating division; sample variance
    * uses the same n·Σx²−S² moment form as every other module.
    */
  def dispersion(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"))
      .filter(col("n_days") > 1 && col("sx") =!= 0)
      .select(col("event_type"), col("n_days"),
        col("sx").cast("long").as("n_events"),
        expr("cast((sx * 1000) div n_days as long)").as("mean_milli"),
        expr("cast(((n_days * sxx - sx * sx) * 1000)" +
          " div ((n_days - 1) * sx) as long)").as("dispersion_milli"))
      .withColumn("chi2_milli",
        expr("cast(cast(dispersion_milli as decimal(38,0)) * (n_days - 1) as long)"))
      .orderBy("event_type")

  /** #304 Wilson score interval (95%, z = 1.96) for a per-type binomial
    * proportion — the share of each event type's traffic falling on a
    * weekend: the CI that stays inside [0,1] and behaves at small n
    * where the Wald interval collapses, i.e. the right error bar for
    * every rate the event dashboards report.
    *
    * Determinism: p̂ = x/n is an exact small-integer quotient (both
    * engines produce the identical binary double), and the closed-form
    * center ± half expressions are mirrored node-for-node in the twin,
    * with the repo's 6dp terminal round (the [[welchT]] envelope
    * argument). Scale: one |event_type|-group map-side-combined
    * aggregate; nothing row-cardinality shuffles.
    */
  def wilsonCi(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L).as("hit"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("x"))
      .withColumn("p_hat", col("x").cast("double") / col("n"))
      .withColumn("denom", lit(1.0) + lit(3.8416) / col("n"))
      .withColumn("center", (col("p_hat") + lit(1.9208) / col("n")) / col("denom"))
      .withColumn("half",
        lit(1.96) * sqrt(col("p_hat") * (lit(1.0) - col("p_hat")) / col("n") +
          lit(0.9604) / (col("n") * col("n"))) / col("denom"))
      .select(col("event_type"), col("n"), col("x"),
        round(col("p_hat"), 6).as("p_hat"),
        round(col("center") - col("half"), 6).as("wilson_lo"),
        round(col("center") + col("half"), 6).as("wilson_hi"))
      .orderBy("event_type")

  /** #305 Log-log price elasticity of demand per brand: the OLS slope of
    * ln(quantity) on ln(unit price) over lineitems joined to their part
    * — the econometric readout (a 1% price increase moves demand by
    * slope %) every pricing team fits, here per p_brand.
    *
    * Exactness: unit price is floored to exact integer cents FIRST
    * ((100·extendedprice) div quantity), then both regressors take the
    * repo's floor-ln discipline (ln of an INTEGER argument, floored to
    * nano-nats — both engines evaluate ln on identical integers, cf.
    * [[EvalOps]]); moments are exact DECIMAL(38,0) sums and the slope /
    * R² are single truncating divisions, with R² as (slope·S_xy) div
    * S_yy so no S_xy² term is materialized (the [[cuped]] trick).
    * Scale: one part join (broadcast-able dim at any sf) + one
    * |brand|-group map-side-combined aggregate. Envelope: ln-nano ≤
    * 2.4e10 ⇒ n·Σxy ≤ 6e31 at 1e9 rows/brand; past that drop the
    * regressors to micro-nats (documented, the ANOVA convention).
    */
  def priceElasticity(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .filter(col("qty") > 0)
      .join(Tables.part(s, dir).select(col("p_partkey").as("l_partkey"),
        col("p_brand")), Seq("l_partkey"))
      .select(col("p_brand"),
        floor(log(expr("cents div qty").cast("double")) * 1e9).cast("long").as("x"),
        floor(log(col("qty").cast("double")) * 1e9).cast("long").as("y"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("y").cast(DecimalType(38, 0))).as("sy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"),
        sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"))
      .withColumn("Sxx", expr("n * sxx - sx * sx"))
      .withColumn("Sxy", expr("n * sxy - sx * sy"))
      .withColumn("Syy", expr("n * syy - sy * sy"))
      .filter(col("Sxx") =!= 0 && col("Syy") =!= 0)
      .select(col("p_brand"), col("n"),
        expr("cast((Sxy * 1000000) div Sxx as long)").as("elasticity_micro"),
        expr("cast((((Sxy * 1000000) div Sxx) * Sxy) div Syy as long)")
          .as("r2_ppm"))
      .orderBy("p_brand")

  /** #312 Wald-Wolfowitz runs test per event type on the daily mass
    * series: count maximal runs of days above/below the per-type MEAN
    * and test the run count against its randomness expectation — the
    * serial-independence check that catches regime clustering (all the
    * high days bunched together) that marginal tests like [[welchT]]
    * are blind to.
    *
    * Exactness: the above-mean flag compares n·x_t > Σx in
    * DECIMAL(38,0) — no mean is ever divided out, so the flag is an
    * exact integer predicate on both engines (ties go below,
    * deterministically). R, n1, n2 are integers from one
    * key-partitioned lag window; with m2 = 2·n1·n2 and
    * dev = n·R − n − m2, the closed form z² = dev²·(n−1) /
    * (m2·(m2 − n)) is a single truncating division to milli (μ =
    * m2/n + 1 and σ² = m2(m2−n)/(n²(n−1)) fold in exactly). 3.841
    * milli is the χ²₁ 5% bound, the [[tsMannKendall]] convention.
    *
    * Scale: |days|-bounded per type after the daily aggregate; the
    * global stats broadcast back (|types| rows), never a shuffle of
    * row-cardinality data.
    */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("above",
        (col("x").cast(DecimalType(38, 0)) * col("n") > col("sx"))
          .cast("long"))
      .withColumn("prev", lag(col("above"), 1).over(w))
      .withColumn("switch",
        when(col("prev").isNull || col("prev") =!= col("above"), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), sum(col("switch")).as("r"),
        sum(col("above")).as("n1"))
      .withColumn("n2", col("n") - col("n1"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("m2", expr("2 * n1 * n2"))
      .filter(expr("m2 - n > 0"))
      .withColumn("dev", expr("n * r - n - m2"))
      .withColumn("z2_milli",
        expr("cast((cast(dev as decimal(38,0)) * dev * (n - 1) * 1000)" +
          " div (cast(m2 as decimal(38,0)) * (m2 - n)) as long)"))
      .select(col("event_type"), col("n"), col("n1"), col("n2"), col("r"),
        col("z2_milli"), (col("z2_milli") > 3841L).as("nonrandom_05"))
      .orderBy("event_type")
  }

  /** #315 Kruskal-Wallis H test across event types on the daily mass
    * series: the rank-based one-way ANOVA — does ANY type's daily
    * distribution differ? — robust to the heavy tails that break
    * [[anovaLang]]'s normality premise. Ranks are tie-aware average
    * ranks kept in HALF-RANK integer units (r2 = 2·cnt_less + cnt_eq
    * + 1), so no .5 ever leaves the integers; H folds the /2 into the
    * closed form: H = 3·Σ(r2ᵢ²/nᵢ)/(N(N+1)) − 3(N+1), then the tie
    * correction H_c = H·(N³−N)/(N³−N−Σ(t³−t)) as one more staged
    * division. The per-group (r2ᵢ²·1000) div nᵢ stage truncates
    * identically on both engines; the χ² critical value is a CASE on
    * dof (the [[runsTest]] convention).
    *
    * Scale: ranks come from the VALUE-DOMAIN aggregate of the daily
    * relation (≤ |days|·|types| rows, calendar-bounded — the global
    * cum-count window over it is the documented tsDrawdown exception),
    * then join back to |type|×|value| groups; nothing row-cardinality
    * ever ranks.
    */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val byVal = daily.groupBy("x").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    val ranked = byVal
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("r2", lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1)
    val grp = daily.groupBy("event_type", "x").agg(count(lit(1)).as("m"))
      .join(ranked.select("x", "r2"), Seq("x"))
      .groupBy("event_type")
      .agg(sum(col("m")).as("ni"),
        sum(col("m").cast(DecimalType(38, 0)) * col("r2")).as("r2i"))
      .withColumn("ti_milli", expr("(r2i * r2i * 1000) div ni"))
    val ties = byVal.agg(
      sum(col("cnt")).as("n_total"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie3"))
    grp.agg(count(lit(1)).as("k"), sum(col("ti_milli")).as("s_milli"))
      .crossJoin(broadcast(ties))
      .withColumn("h_milli",
        expr("cast((3 * s_milli) div (n_total * (n_total + 1)) - " +
          "3000 * (n_total + 1) as long)"))
      .withColumn("denom_c",
        expr("n_total * n_total * n_total - n_total - tie3"))
      .filter(col("denom_c") > 0)
      .withColumn("h_c_milli",
        expr("cast((cast(h_milli as decimal(38,0)) * " +
          "(n_total * n_total * n_total - n_total)) div denom_c as long)"))
      .withColumn("dof", col("k") - 1)
      .withColumn("chi2_crit_milli",
        expr("case dof when 1 then 3841L when 2 then 5991L " +
          "when 3 then 7815L when 4 then 9488L when 5 then 11070L " +
          "when 6 then 12592L else null end"))
      .select(col("n_total"), col("k"), col("dof"), col("h_milli"),
        col("h_c_milli"), col("chi2_crit_milli"),
        (col("h_c_milli") > col("chi2_crit_milli")).as("significant_05"))
  }

  /** #316 Cohen's d (pooled-SD standardized mean difference) of event
    * value, weekend vs weekday, per event type: the EFFECT SIZE that
    * [[welchT]]'s p-value deliberately refuses to be — at corpus n
    * everything is "significant"; d says whether the difference is
    * worth acting on (|d| > 0.2 = small effect and up).
    *
    * Exactness: the sqrt never materializes — signed d² in milli as
    * ONE exact rational: d²_milli = num²(n−2)·1000 div (n₁n₂·pooled)
    * with num = S₁n₂ − S₂n₁ and pooled = ss₁n₂ + ss₂n₁, ssᵢ = nᵢqᵢ −
    * sᵢ² the exact centered sum-squares — deliberately NOT staged,
    * because IntegralDivide's LONG result type would wrap near 1e18
    * where the all-DECIMAL single quotient stays inside 38 digits
    * (envelope in the inline note). Scale: ONE
    * |event_type|-group map-side-combined aggregate over a projected
    * scan; nothing else.
    */
  def cohensD(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L).as("we"),
        floor(col("value") * 1e6).cast("long").cast(DecimalType(38, 0)).as("x"))
      .groupBy("event_type")
      .agg(
        sum(when(col("we") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("we") === 0, 1L).otherwise(0L)).as("n2"),
        sum(when(col("we") === 1, col("x"))).as("s1"),
        sum(when(col("we") === 0, col("x"))).as("s2"),
        sum(when(col("we") === 1, col("x") * col("x"))).as("q1"),
        sum(when(col("we") === 0, col("x") * col("x"))).as("q2"))
      .filter(col("n1") > 1 && col("n2") > 1)
      .withColumn("num", expr("s1 * n2 - s2 * n1"))
      .withColumn("pooled",
        expr("(n1 * q1 - s1 * s1) * n2 + (n2 * q2 - s2 * s2) * n1"))
      .filter(col("pooled") > 0)
      .select(col("event_type"), col("n1").as("n_we"), col("n2").as("n_wd"),
        expr("cast(num div (n1 * n2) as long)").as("diff_micro"),
        signum(col("num")).cast("long").as("d_sign"),
        // ONE division, both sides decimal: a staged `div` would emit an
        // intermediate LONG (IntegralDivide's type) that wraps near 1e18.
        // Envelope: num²(n−2)10³ ≈ 2e35 and n₁n₂·pooled ≈ 4e35 at sf0.1;
        // past ~1e8 events/type drop the micro units to milli (d is
        // scale-invariant, so only the flooring grain changes).
        expr("cast((num * num * (n1 + n2 - 2) * 1000) div " +
          "(pooled * n1 * n2) as long)").as("d2_milli"))
      .withColumn("effect_small_plus", col("d2_milli") > 40L)
      .orderBy("event_type")

  /** #321 Brown-Forsythe test (median-based Levene) for variance
    * homogeneity across event types on the daily mass series: one-way
    * ANOVA F on z = |x − median| — does any type's daily VOLATILITY
    * differ? The robust precondition check for [[anovaLang]]/[[welchT]]
    * style pooled-variance inference, and a dispersion-drift alarm in
    * its own right.
    *
    * Exactness: the median never divides — the per-type DOUBLED median
    * (x_lo + x_hi, or 2·x_mid for odd n) comes from two row_number
    * picks of the type-partitioned sort, so z2 = |2x − med2| div 1000
    * is an exact integer in doubled milli-units (the unit drop is the
    * inline envelope note); the F numerator/denominator
    * use the staged (sⱼ²) div nⱼ ladder with every sum in
    * DECIMAL(38,0) and the final F_milli one truncating division
    * (scale-invariance of F absorbs the doubled units). Scale: the
    * rank window partitions by event_type over the |days|-bounded
    * daily relation; the ANOVA is one |k|-group aggregate.
    */
  def leveneBF(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val cnt = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("x", "day")
    val med2 = daily.join(broadcast(cnt), Seq("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === expr("(n + 1) div 2") ||
        col("rn") === expr("n div 2 + 1"))
      .groupBy("event_type")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("c2"))
      .select(col("event_type"),
        expr("case when c2 = 1 then 2 * sx else sx end").as("med2"))
    // z drops to MILLI units (F is scale-invariant; only the flooring
    // grain changes): in micro, sⱼ² div nⱼ ≈ 3.6e22 wraps
    // IntegralDivide's LONG result type. Envelope: milli keeps the
    // quotient inside int64 to ~10³ days/type; at a longer calendar
    // drop another 10³.
    val z = daily.join(broadcast(med2), Seq("event_type"))
      .select(col("event_type"),
        expr("abs(2 * x - med2) div 1000").cast(DecimalType(38, 0)).as("z2"))
    val g = z.groupBy("event_type")
      .agg(count(lit(1)).as("nj"), sum(col("z2")).as("sj"),
        sum(col("z2") * col("z2")).as("qj"))
      .withColumn("sj2nj", expr("(sj * sj) div nj"))
    g.agg(count(lit(1)).as("k"), sum(col("nj")).as("n_total"),
        sum(col("sj")).as("st"), sum(col("qj")).as("qt"),
        sum(col("sj2nj")).as("sb_part"))
      .withColumn("ssb", expr("sb_part - (st * st) div n_total"))
      .withColumn("ssw", expr("qt - sb_part"))
      .filter(col("ssw") > 0 && col("k") > 1)
      .select(col("k"), col("n_total"),
        expr("cast((ssb * (n_total - k) * 1000) div (ssw * (k - 1)) as long)")
          .as("f_milli"))
  }

  /** #515 Bowley (quartile) skewness per event type on the daily mass
    * series: B = (Q₃ + Q₁ − 2·Q₂)/(Q₃ − Q₁) in milli, with the three
    * quartiles as SINGLE order statistics at ranks r₁ = (n+3) div 4,
    * (n+2) div 2, and r₃ = n + 1 − r₁ of the type-partitioned sort (a
    * stated lower-hinge convention — quartile conventions differ and
    * the mirrored rank picks keep both engines on the same element;
    * r₃ is the MIRROR of r₁ so a value-symmetric sample reads
    * q3 + q1 = 2·center and bowley_milli = 0 exactly at odd n — the
    * r18 pick (3n+1) div 4 sat one rank low for n ≡ 2,3 (mod 4),
    * biasing symmetric data negative; for EVEN n the single-element
    * median (n+2) div 2 is the upper-middle, a stated residual
    * asymmetry of the no-averaging convention; no averaging, no
    * division until the one readout). WHY next to
    * #370/#491: the moment skewness (JB family) is outlier-dominated —
    * one spike day swings x³ arbitrarily; Bowley reads asymmetry from
    * the QUARTILES only, so the pair (moment says skewed, Bowley says
    * symmetric) isolates "a few extreme days" from "a genuinely
    * asymmetric regime" — different fixes (clip vs re-model). NULL
    * when the IQR is 0 (mirrored CASE).
    *
    * Exactness: order statistics are exact row picks; B is ONE
    * truncating milli division. Scale: the rank window partitions by
    * event_type over the calendar-bounded daily relation.
    */
  def bowleySkew(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val cnt = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("x", "day")
    daily.join(broadcast(cnt), Seq("event_type"))
      .withColumn("rn", row_number().over(w))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_days"),
        max(when(col("rn") === expr("(n + 3) div 4"), col("x"))).as("q1"),
        max(when(col("rn") === expr("(n + 2) div 2"), col("x"))).as("q2"),
        max(when(col("rn") === expr("n + 1 - ((n + 3) div 4)"), col("x")))
          .as("q3"))
      .select(col("event_type"), col("n_days"),
        col("q1"), col("q2"), col("q3"),
        expr("CASE WHEN q3 > q1 THEN " +
          "((q3 + q1 - 2 * q2) * 1000) div (q3 - q1) END")
          .as("bowley_milli"))
      .orderBy("event_type")
  }

  /** #509 Cochran's C variance-dominance profile across event types on
    * the daily mass series: per type the sample variance (milli²
    * units) and its SHARE of the summed variances, with the argmax
    * flagged — C = max s²_j / Σ s²_j, the test statistic of Cochran's
    * classic homogeneity check, emitted as a profile (critical values
    * are n/k-tabulated, so the STATISTIC is the readout — stated).
    * WHY next to #321/#320: Levene/Bartlett answer "are the variances
    * EQUAL"; Cochran's C answers the operational follow-up — "is ONE
    * stream carrying the instability" — the triage readout that says
    * which event type to rate-limit or split out before the pooled
    * monitors (#312/#391) are trustworthy.
    *
    * Exactness: the [[leveneBF]] milli-unit staging (daily micro mass
    * div 1000 — the s²·10³ quotient wraps int64 in micro past ~10³
    * days; milli keeps headroom to ~10⁶); per-type n, Σx, Σx² exact;
    * s2_m2 = (n·Σx² − (Σx)²)·1000 div (n(n−1)) ONE truncating
    * division per type row; shares ONE ppm division over the
    * DECIMAL-staged milli values. Scale: one map-side-combined type
    * aggregate over the calendar-bounded daily relation; the share
    * algebra runs on |types| rows against a broadcast 1-row total.
    */
  def cochranC(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("xm"))
      .select(col("event_type"), expr("xm div 1000").as("x"))
    val g = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("qx"))
      .filter(col("n") > 1)
      .withColumn("s2_m2",
        expr("cast(((n * qx - sx * sx) * 1000) div (n * (n - 1)) as long)"))
    val tot = g.agg(
      sum(col("s2_m2").cast(DecimalType(38, 0))).as("s2_all"),
      max(col("s2_m2")).as("s2_max"))
    g.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n").as("n_days"), col("s2_m2"),
        expr("CASE WHEN s2_all > 0 THEN " +
          "cast((cast(s2_m2 as decimal(38,0)) * 1000000) div s2_all as long) " +
          "END").as("share_ppm"),
        (col("s2_m2") === col("s2_max")).as("is_max"))
      .orderBy("event_type")
  }

  /** #349 Kendall's W (coefficient of concordance) across event types
    * over the shared daily calendar: do the k types agree on WHICH
    * days are big? — the multi-judge rank-agreement statistic (types
    * are judges, common days are objects), with the χ² significance
    * transform k(n−1)W. High W says one market-wide driver moves all
    * streams; low W says the streams are idiosyncratic.
    *
    * Exactness: tie-aware average ranks in HALF-RANK integers from
    * ONE pass (2·rank() + tie_count − 1, the [[kruskalWallis]] unit
    * trick); Σ(R2_d − k(n+1))² folds the doubling into W = 3·S2/
    * (k²(n³−n) − k·ΣT); one truncating ppm division. Objects are the
    * days EVERY type reports (complete-block requirement). Scale:
    * rank windows partition by type; the day rollup is calendar-
    * bounded.
    */
  def kendallW(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val k1 = daily.agg(countDistinct(col("event_type")).as("k"))
    val common = daily.groupBy("day").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(k1)).filter(col("c") === col("k"))
      .select("day")
    val block = daily.join(common, Seq("day"))
    val wRank = Window.partitionBy("event_type").orderBy("x")
    val wTie = Window.partitionBy("event_type", "x")
    val ranked = block
      .withColumn("r2",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTie) - 1)
    val ties = block.groupBy("event_type", "x")
      .agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    val perDay = ranked.groupBy("day").agg(sum(col("r2")).as("r2d"))
    val n1 = perDay.agg(count(lit(1)).as("n"))
    perDay.crossJoin(broadcast(n1)).crossJoin(broadcast(k1))
      .withColumn("dev", col("r2d") - col("k") * (col("n") + 1))
      .agg(max(col("k")).as("k"), max(col("n")).as("n_days"),
        sum(col("dev") * col("dev")).as("s2"))
      .crossJoin(broadcast(ties))
      .withColumn("denom",
        expr("k * k * (n_days * n_days * n_days - n_days) - k * tsum"))
      .filter(col("denom") > 0)
      .select(col("k"), col("n_days"),
        expr("cast((3 * s2 * 1000000) div denom as long)").as("w_ppm"))
      .withColumn("chi2_milli",
        expr("cast((k * (n_days - 1) * w_ppm) div 1000 as long)"))
  }

  /** #346 Durbin-Watson statistic on the [[TimeWindows.tsAdf]] lag-1
    * regression residuals per event type: DW = Σ(e_t − e_{t−1})²/Σe_t²
    * — is the REGRESSION MISSPECIFIED (residuals still serially
    * correlated, DW far from 2) even after the unit-root slope is
    * fitted? The diagnostic that tells you whether to trust the ADF
    * read at all.
    *
    * Exactness: residuals are staged integers built from the SAME
    * truncated slope both engines computed — E_t = 10⁶·y_t −
    * slope_micro·z_t − ((10⁶·S_y − slope_micro·S_z) div n), then one
    * milli de-scale (the fully-scaled Σ(ΔE)²·1000 wrapped
    * DECIMAL(38,0) at sf0.1 — the inline note; DW is a ratio so the
    * grain cancels); DW_milli one truncating division. Scale: group moments
    * broadcast back; two type-partitioned windows; |days|-bounded.
    */
  def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pairs = daily
      .withColumn("xl", lag(col("x"), 1).over(w))
      .filter(col("xl").isNotNull)
      .select(col("event_type"), col("day"),
        col("xl").cast(DecimalType(38, 0)).as("z"),
        (col("x") - col("xl")).cast(DecimalType(38, 0)).as("y"))
    val g = pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sz"),
        sum(col("y")).as("sy"), sum(col("z") * col("y")).as("szy"),
        sum(col("z") * col("z")).as("szz"))
      .withColumn("Sxx", expr("n * szz - sz * sz"))
      .withColumn("Sxy", expr("n * szy - sz * sy"))
      .filter(col("Sxx") =!= 0)
      .withColumn("slope_micro", expr("cast((Sxy * 1000000) div Sxx as long)"))
      .select("event_type", "n", "sz", "sy", "slope_micro")
    pairs.join(broadcast(g), Seq("event_type"))
      // per-row residual WITHOUT the n·10⁶ common factor: the intercept
      // term divides by n once (staged, mirrored), then the residual
      // drops to milli — at sf0.1 the fully-scaled Σ(ΔE)²·1000 reached
      // 1.4e38 and wrapped DECIMAL(38,0); DW is a ratio, so the grain
      // change cancels
      .withColumn("ee",
        expr("1000000 * y - slope_micro * z - " +
          "cast((1000000 * sy - slope_micro * sz) div n as long)"))
      .withColumn("eem", expr("cast(ee div 1000 as long)").cast(DecimalType(38, 0)))
      .withColumn("el", lag(col("eem"), 1).over(w))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), max(col("slope_micro")).as("slope_micro"),
        sum(col("eem") * col("eem")).as("see"),
        sum(when(col("el").isNotNull,
          (col("eem") - col("el")) * (col("eem") - col("el")))).as("sdd"))
      .filter(col("see") > 0)
      .select(col("event_type"), col("n"), col("slope_micro"),
        expr("cast((sdd * 1000) div see as long)").as("dw_milli"))
      .orderBy("event_type")
  }

  /** #344 Mood's median test across event types: the 2×k contingency
    * of daily masses above/below the GLOBAL median and its χ² — the
    * location-shift companion to [[kruskalWallis]] that only asks
    * "which side of the overall median does each type live on",
    * maximally robust to outliers and unequal spreads.
    *
    * Exactness: the global median stays DOUBLED (the [[leveneBF]] two-
    * pick trick on the all-types daily sort), the above flag is an
    * exact integer predicate (ties-at-median go below), and the χ²
    * terms reuse the [[graft.operators.StatsOps.statsChisq]] exact-
    * integer-fed floor-nano discipline. Scale: one global rank window
    * over the calendar-bounded daily relation (the tsDrawdown
    * exception), then |k|-group counts.
    */
  def moodMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val n = daily.agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("x"), col("event_type"), col("day"))
    val med2 = daily.crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === expr("(n + 1) div 2") ||
        col("rn") === expr("n div 2 + 1"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("c2"))
      .select(expr("case when c2 = 1 then 2 * sx else sx end").as("med2"))
    val obs = daily.crossJoin(broadcast(med2))
      .withColumn("above", (col("x") * 2 > col("med2")).cast("long"))
      .groupBy("event_type")
      .agg(sum(col("above")).as("o_above"),
        sum(lit(1L) - col("above")).as("o_below"))
    val tot = obs.agg(sum(col("o_above")).as("ta"),
      sum(col("o_below")).as("tb"), count(lit(1)).as("k"))
    obs.crossJoin(broadcast(tot))
      .withColumn("e_above",
        ((col("o_above") + col("o_below")) * col("ta")).cast("double") /
          (col("ta") + col("tb")))
      .withColumn("e_below",
        ((col("o_above") + col("o_below")) * col("tb")).cast("double") /
          (col("ta") + col("tb")))
      .withColumn("term_nano",
        floor((col("o_above") - col("e_above")) *
          (col("o_above") - col("e_above")) / col("e_above") * 1e9)
          .cast("long") +
        floor((col("o_below") - col("e_below")) *
          (col("o_below") - col("e_below")) / col("e_below") * 1e9)
          .cast("long"))
      .agg(max(col("k")).as("k"), max(expr("ta + tb")).as("n_days"),
        max(col("k") - 1).as("dof"),
        round(sum(col("term_nano")) / 1e9, 6).as("chi2"))
  }

  /** #324 Grubbs' test statistic per event type: the squared
    * studentized extreme deviation G² = (max|x − x̄|)²(n−1) /
    * (n·(nQ − S²)) of the daily mass series, with the argmax day —
    * WHICH day is the most suspicious outlier and HOW extreme it is in
    * SD² units, the single-outlier companion to the IQR screen (#101).
    *
    * Exactness: the deviation never divides — dev = |n·x − S| is exact
    * integer cross-multiplication, the argmax row picked by (dev DESC,
    * day ASC) inside a type-partitioned window, and G²_milli one
    * truncating division of DECIMAL products. Scale: |days|-bounded
    * per type; group moments broadcast back.
    */
  def grubbs(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val g = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("qx"))
    val w = Window.partitionBy("event_type")
      .orderBy(desc("dev"), asc("day"))
    daily.join(broadcast(g), Seq("event_type"))
      .withColumn("dev", abs(col("n") * col("x").cast(DecimalType(38, 0))
        - col("sx")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(expr("n * qx - sx * sx") > 0 && col("n") > 2)
      .select(col("event_type"), col("n"), col("day").as("peak_day"),
        col("x").as("peak_x"),
        expr("cast((dev * dev * (n - 1) * 1000) div " +
          "(n * (n * qx - sx * sx)) as long)").as("g2_milli"))
      .orderBy("event_type")
  }

  /** #325 Tukey HSD post-hoc sweep after [[anovaLang]]-style one-way
    * ANOVA: every event-type pair's observed studentized-range q² in
    * milli against the k-dependent 5% critical value — WHICH pairs
    * differ once the omnibus F fires, with familywise error held.
    *
    * Exactness: q²_obs = 2(m_i−m_j)²(N−k) / (MSW·(1/n_i+1/n_j)) folds
    * into ONE all-DECIMAL quotient (diff² cross-multiplied, SSW from
    * the exact group moments, no MSW ever materialized); the critical
    * q² is a CASE table on k (df=∞ row — conservative at calendar n),
    * the [[kruskalWallis]] convention. Scale: |k|-group moments, a
    * |k|²/2 pair cross-join of a broadcast-size relation, nothing
    * row-cardinality.
    */
  def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    // means keep micro sums (sj) for the reported diff; the q² quotient
    // runs on MILLI moments (sm, qm) because the exact per-group SSW
    // stage (nⱼqⱼ − sⱼ²) div nⱼ must fit IntegralDivide's LONG result —
    // the leveneBF unit-envelope argument, and q² is scale-invariant
    val g = daily.groupBy("event_type")
      .agg(count(lit(1)).as("nj"),
        sum(col("x").cast(DecimalType(38, 0))).as("sj"),
        sum(expr("x div 1000").cast(DecimalType(38, 0))).as("sm"),
        sum(expr("cast(x div 1000 as decimal(38,0)) " +
          "* (x div 1000)")).as("qm"))
      .withColumn("ssw_j", expr("(nj * qm - sm * sm) div nj"))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("nj")).as("n_total"),
      sum(col("ssw_j")).as("ssw"))
    val a = g.select(col("event_type").as("type_a"), col("nj").as("na"),
      col("sj").as("sa"), col("sm").as("sma"))
    val b = g.select(col("event_type").as("type_b"), col("nj").as("nb"),
      col("sj").as("sb"), col("sm").as("smb"))
    a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .crossJoin(broadcast(tot))
      .filter(col("ssw") > 0)
      .withColumn("diff_micro",
        expr("cast((sa * nb - sb * na) div (na * nb) as long)"))
      .withColumn("q2_obs_milli",
        expr("cast(((sma * nb - smb * na) * (sma * nb - smb * na) * 2 " +
          "* (n_total - k) * 1000) div " +
          "(cast(ssw as decimal(38,0)) * (na + nb) * na * nb) as long)"))
      .withColumn("q2_crit_milli",
        expr("case k when 2 then 7673L when 3 then 10956L " +
          "when 4 then 13177L when 5 then 14900L when 6 then 16240L " +
          "else null end"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        col("diff_micro"), col("q2_obs_milli"), col("q2_crit_milli"),
        (col("q2_obs_milli") > col("q2_crit_milli")).as("significant_05"))
      .orderBy("type_a", "type_b")
  }

  /** Week-of-month value-mass per event type, zero-filled to the
    * complete (type, week) grid up to the GLOBAL max observed week —
    * the shared input of the two complete-block rank designs
    * ([[pageTrend]], [[quadeTest]]). A block missing a week gets an
    * explicit v = 0 cell (ranked lowest by the (v, wk) tie-break, in
    * both engines), so the tests' complete-design null moments hold
    * structurally instead of by fixture luck.
    */
  private[graft] def weeklyByTypeFilled(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("cast(least((dayofmonth(ts) - 1) div 7, 4) + 1 as long)")
          .as("wk"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
    val mx = weekly.agg(max(col("wk")).as("mk"))
    weekly.select("event_type").distinct()
      .crossJoin(broadcast(mx))
      .select(col("event_type"), explode(expr("sequence(1L, mk)")).as("wk"))
      .join(weekly, Seq("event_type", "wk"), "left")
      .select(col("event_type"), col("wk"),
        coalesce(col("v"), lit(0L)).as("v"))
  }

  /** #428 Two-sample Cramér–von Mises test between the click and
    * purchase daily value-mass distributions — the whole-distribution
    * sibling of the KS gate (#195): T integrates the squared ECDF gap
    * instead of taking its max, so diffuse shape differences that never
    * open a large single gap still register. Anderson's exact rank
    * form: U = n·Σ(r_i − i)² + m·Σ(s_j − j)² over combined ranks r/s
    * and within-sample indices i/j, T = U/(Nnm) − (4nm−1)/(6N) — every
    * term an exact integer over the common denominator 6Nnm, so
    * T_nano is ONE truncating DECIMAL division (U ~ N³ outgrows
    * nothing at calendar scale but ×1e9 passes int64 — staged).
    * Ranks are tie-broken by (v, day, type) — a deterministic total
    * order mirrored in the twin; the asymptotic 5% critical value for
    * T is 0.461. Scale: ranks ride ONE global window over the
    * calendar-bounded daily relation (above the day aggregate — the
    * GlobalWindowSpec-pinned bounded shape).
    */
  def cvmTwoSample(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
    val wAll = Window.orderBy("v", "day", "event_type")
    val wIn = Window.partitionBy("event_type").orderBy("v", "day", "event_type")
    val ss = daily
      .withColumn("r", row_number().over(wAll).cast("long"))
      .withColumn("i", row_number().over(wIn).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(((col("r") - col("i")) * (col("r") - col("i"))).cast(dec)).as("ssq"))
    val a = ss.filter(col("event_type") === "click")
      .select(col("cnt").as("n"), col("ssq").as("ssn"))
    val b = ss.filter(col("event_type") === "purchase")
      .select(col("cnt").as("m"), col("ssq").as("ssm"))
    a.crossJoin(b)
      .withColumn("u", expr("n * ssn + m * ssm"))
      .select(col("n"), col("m"), col("u").cast("long").as("u"),
        expr("cast(((6 * u - cast(n as decimal(38,0)) * m * (4 * n * m - 1)) " +
          "* 1000000000) div (cast(6 as decimal(38,0)) * (n + m) * n * m) " +
          "as long)").as("t_nano"))
      .withColumn("significant_05", col("t_nano") > 461000000L)
  }

  /** #429 Page's L trend test for an ordered weekly alternative:
    * within each event type (block), the month's weeks (day-of-month
    * sliced into 1–7, 8–14, 15–21, 22–28, 29+) rank by value mass, and
    * L = Σ week·rank pools the blocks — significant L means the mass
    * trends monotonically through the month, the ordered refinement a
    * Friedman test (#392) can't see. L, E[L] = n·k(k+1)²/4·(staged ×4
    * to stay integral) and 144·Var = n·k²(k+1)(k²−1) are exact
    * integers; z_milli = (L−E)·12√n / √(k²(k+1)(k²−1)) floors ONE
    * double division (both engines: integer→IEEE-double conversions
    * and one correctly-rounded sqrt). Ranks tie-break by (mass, week),
    * mirrored in the twin. Scale: one |type|×5-row window over the
    * week aggregate. r15 (ADVICE): the design is made COMPLETE before
    * ranking — the (type, week) grid is zero-filled up to the global
    * max week via [[weeklyByTypeFilled]], so E[L] and Var(L)'s
    * complete-block null moments are valid even if a block misses a
    * week (on the complete January fixture the fill is a no-op and the
    * output is unchanged).
    */
  def pageTrend(s: SparkSession, dir: String): DataFrame = {
    val weekly = weeklyByTypeFilled(s, dir)
    val wIn = Window.partitionBy("event_type").orderBy("v", "wk")
    weekly
      .withColumn("rk", row_number().over(wIn).cast("long"))
      .agg(countDistinct(col("event_type")).as("n"),
        max(col("wk")).as("k"),
        sum(col("wk") * col("rk")).as("l"))
      .withColumn("e_l4", expr("n * k * (k + 1) * (k + 1)"))
      .withColumn("var144", expr("n * k * k * (k + 1) * (k * k - 1)"))
      .select(col("n").as("n_blocks"), col("k").as("k_treatments"),
        col("l"), expr("e_l4 div 4").as("e_l"),
        expr("cast(floor(cast(4 * l - e_l4 as double) * 3000 " +
          "/ sqrt(cast(var144 as double))) as long)").as("z_milli"))
  }

  /** #430 Deterministic block bootstrap CI for the mean weekly value
    * mass per event type — the dependence-respecting sibling of the
    * iid bootstrap (#214): resampling whole ISO weeks preserves
    * within-week autocorrelation, which an iid resample of days would
    * destroy. B = 64 replicas; replica r's slot k picks week
    * 1 + md5('bb:'·type·r·k) mod W (the repo's content-addressed-hash
    * idiom — partition/order-independent, identical in both engines),
    * replica stat = Σ picked weekly masses div W; the CI reads the 4th
    * and 61st order statistics of the 64 replica stats (≈ 5%/95%).
    * Everything integer; no rand() anywhere. Scale: the corpus-sized
    * work is one week aggregate; the resample relation is
    * |types|·B·W ≈ 17k rows at ANY corpus size.
    */
  def blockBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 64
    val weekly = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("wk"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
      .withColumn("wk_idx", row_number()
        .over(Window.partitionBy("event_type").orderBy("wk")).cast("long"))
    val wCount = weekly.groupBy("event_type")
      .agg(count(lit(1)).as("w"), sum(col("v")).as("v_all"))
    val picks = wCount
      .select(col("event_type"), col("w"),
        explode(sequence(lit(1L), lit(B.toLong))).as("r"))
      .select(col("event_type"), col("w"), col("r"),
        explode(expr("sequence(1L, w)")).as("k"))
      .withColumn("wk_idx",
        pmod(conv(substring(md5(concat(lit("bb:"), col("event_type"),
          lit(":"), col("r").cast("string"), lit(":"),
          col("k").cast("string"))), 1, 8), 16, 10).cast("long"),
          col("w")) + 1L)
    val stats = picks
      .join(weekly.select(col("event_type"), col("wk_idx"), col("v")),
        Seq("event_type", "wk_idx"))
      .groupBy(col("event_type"), col("r"))
      .agg(max(col("w")).as("w"), sum(col("v")).as("rep_sum"))
      .withColumn("stat", expr("rep_sum div w"))
    val wOrd = Window.partitionBy("event_type").orderBy("stat", "r")
    stats
      .withColumn("pos", row_number().over(wOrd))
      .groupBy("event_type")
      .agg(max(col("w")).as("n_weeks"),
        max(when(col("pos") === 4, col("stat"))).as("lo_micro"),
        max(when(col("pos") === 61, col("stat"))).as("hi_micro"))
      .join(wCount.select(col("event_type"),
        expr("v_all div w").as("mean_micro")), Seq("event_type"))
      .select(col("event_type"), col("n_weeks"), col("mean_micro"),
        col("lo_micro"), col("hi_micro"))
      .orderBy("event_type")
  }

  /** #438 Cliff's delta effect size for every event-type pair over the
    * daily value-mass distributions: δ = (#(x>y) − #(x<y))/(n·m) — the
    * ordinal, distribution-free effect size that says HOW SEPARATED two
    * groups are where Mann-Whitney (#213) only says whether. Computed
    * by direct dominance counting over the calendar²-bounded pair
    * relation (≤366² per pair at any corpus size — the #399/#431
    * bounded-self-join argument), every count exact, one truncating
    * ppm division; |δ| ≥ 0.474 = "large" (Romano et al.) flagged.
    */
  def cliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
    val a = daily.select(col("event_type").as("type_a"), col("v").as("xa"))
    val b = daily.select(col("event_type").as("type_b"), col("v").as("xb"))
    a.join(b, col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("nm"),
        sum(when(col("xa") > col("xb"), 1L).otherwise(0L)).as("gt"),
        sum(when(col("xa") < col("xb"), 1L).otherwise(0L)).as("lt"))
      .select(col("type_a"), col("type_b"), col("gt"), col("lt"),
        expr("((gt - lt) * 1000000) div nm").as("delta_ppm"))
      .withColumn("large_effect", abs(col("delta_ppm")) >= 474000L)
      .orderBy("type_a", "type_b")
  }

  /** #439 Quade test — the weighted Friedman (#392): within-block
    * treatment ranks are weighted by the rank of each block's RANGE, so
    * blocks where the treatments actually differ dominate the
    * statistic. Blocks = event types, treatments = week-of-month (the
    * #429 design). Doubled-and-centered scores S2 = Q·(2r − (k+1)) keep
    * everything integer: F = (n−1)·ΣⱼSⱼ² / (n·ΣS² − ΣⱼSⱼ²) emits as one
    * truncating milli division (denominator ≥ 0 by Cauchy-Schwarz,
    * zero → NULL on both engines). Range-rank ties break by block name,
    * treatment-rank ties by (v, wk) — documented total orders mirrored
    * in the twin. Scale: |type|×5-row algebra over the week aggregate.
    * r15 (ADVICE): blocks are zero-filled to a complete design before
    * ranking ([[weeklyByTypeFilled]] — the pageTrend note), so every
    * block's k equals the global treatment count by construction.
    */
  def quadeTest(s: SparkSession, dir: String): DataFrame = {
    val weekly = weeklyByTypeFilled(s, dir)
    val wIn = Window.partitionBy("event_type").orderBy("v", "wk")
    val ranked = weekly
      .withColumn("rk", row_number().over(wIn).cast("long"))
    val blockQ = weekly.groupBy("event_type")
      .agg((max(col("v")) - min(col("v"))).as("rng"), count(lit(1)).as("k"))
      .withColumn("q",
        row_number().over(Window.orderBy("rng", "event_type")).cast("long"))
    val scores = ranked.join(broadcast(blockQ), Seq("event_type"))
      .withColumn("s2", col("q") * (lit(2L) * col("rk") - (col("k") + 1L)))
    val perTreat = scores.groupBy("wk")
      .agg(sum(col("s2")).as("s2j"), max(col("k")).as("k"))
    val tot = scores.agg(sum(col("s2") * col("s2")).as("a4"),
      countDistinct(col("event_type")).as("n"))
    perTreat.agg(sum(col("s2j") * col("s2j")).as("sb2"), max(col("k")).as("k"))
      .crossJoin(broadcast(tot))
      .select(col("n").as("n_blocks"), col("k").as("k_treatments"),
        col("a4"), col("sb2"),
        when(col("n") * col("a4") - col("sb2") > 0,
          expr("((n - 1) * sb2 * 1000) div (n * a4 - sb2)")).as("f_milli"))
  }

  /** #440 Ansari–Bradley scale test between the click and purchase
    * daily-mass distributions: combined sort, score = min(rank, N+1−rank)
    * (extremes score low, the middle high), statistic = Σ scores of the
    * first sample — small AB = sample 1 is MORE DISPERSED. The exact
    * null mean rides along staged ×4N to stay integral for both
    * parities: E·4N = n(N+2)N (N even) / n(N+1)² (N odd). Rank
    * tie-break (v, day, type), the #428 total order. Scale: one global
    * window above the day aggregate (GlobalWindowSpec-pinned class).
    */
  def ansariBradley(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
    val wAll = Window.orderBy("v", "day", "event_type")
    val scored = daily
      .withColumn("r", row_number().over(wAll).cast("long"))
      .withColumn("nn", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("score", least(col("r"), col("nn") + 1L - col("r")))
    scored.groupBy(lit(1).as("g"))
      .agg(max(col("nn")).as("nn"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("m"),
        sum(when(col("event_type") === "click", col("score"))
          .otherwise(0L)).as("ab_stat"))
      .select(col("n"), col("m"), col("ab_stat"),
        when(col("nn") % 2 === 0, col("n") * (col("nn") + 2) * col("nn"))
          .otherwise(col("n") * (col("nn") + 1) * (col("nn") + 1))
          .as("e_ab_4n"))
  }

  /** #449 Anderson–Darling two-sample test between the click and
    * purchase daily-mass distributions — the tail-sensitive member of
    * the rank-test family (#428 CvM weighs all quantiles equally, #440
    * Ansari targets scale; AD's 1/(j(N−j)) weight amplifies the tails,
    * which is where corpus drift usually shows first). Pettitt (1976)
    * rank form: with the pooled sample sorted under the #428 total
    * order (v, day, type) and M_j = #sample-1 obs among the first j,
    *   A² = (1/nm) · Σ_{j=1}^{N−1} (M_j·N − j·n)² / (j·(N−j)),
    * whose limiting null distribution equals the one-sample AD — 5%
    * point 2.492.
    *
    * Determinism: each term stages as one truncating nano division of
    * exact DECIMAL(38,0) integers ((M_j·N − j·n)²·10⁹ div j(N−j),
    * identical in DuckDB HUGEINT `//`), summed exactly; A²_nano = the
    * sum div nm — two truncating divisions total, mirrored verbatim.
    * Degenerate contract (the #428 class): ZERO rows when either
    * sample is absent (WHERE n>0 AND m>0 both engines; Round16Spec
    * pins it). Scale: one global window above the |types|×|days|-row
    * day aggregate — the GlobalWindowSpec-pinned bounded carrier
    * class, same as CvM/Ansari.
    */
  def adTwoSample(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
    val wAll = Window.orderBy("v", "day", "event_type")
    val frame = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val isClick = when(col("event_type") === "click", 1L).otherwise(0L)
    val scored = daily
      .withColumn("j", row_number().over(wAll).cast("long"))
      .withColumn("mj", sum(isClick).over(wAll))
      .withColumn("nn", count(lit(1)).over(frame))
      .withColumn("n", sum(isClick).over(frame))
    scored
      .filter(col("j") < col("nn"))
      .select(col("j"), col("mj"), col("nn"), col("n"),
        expr("cast((cast(mj as decimal(38,0)) * nn - cast(j as decimal(38,0)) * n) " +
          "* (cast(mj as decimal(38,0)) * nn - cast(j as decimal(38,0)) * n) " +
          "* 1000000000 div (cast(j as decimal(38,0)) * (nn - j)) as decimal(38,0))")
          .as("term_nano"))
      .groupBy(lit(1).as("g"))
      .agg(max(col("n")).as("n"),
        (max(col("nn")) - max(col("n"))).as("m"),
        sum(col("term_nano")).as("ts"))
      .filter(col("n") > 0 && col("m") > 0)
      .select(col("n"), col("m"),
        expr("cast(ts div (cast(n as decimal(38,0)) * m) as bigint)").as("a2_nano"))
      .withColumn("significant_05", col("a2_nano") > 2492000000L)
  }

  /** #456 Hodges–Lehmann two-sample shift estimator between the click
    * and purchase daily-mass distributions: the median of all n·m
    * pairwise differences (purchase − click) — the EFFECT-SIZE answer
    * the rank family's tests (#213 Mann–Whitney decides "shifted?",
    * #438 Cliff's delta grades the ordinal overlap) don't give: BY HOW
    * MUCH, in value units, robust to outliers that wreck the mean
    * difference.
    *
    * Exactness: differences are exact integer micro-mass; the median
    * is an ORDER-STATISTIC PICK under the total order (diff, day_a,
    * day_b) — rows (np+1) div 2 and (np+2) div 2 (equal when n·m is
    * odd), point estimate = their floored mean, all mirrored. Scale:
    * both inputs are the bounded |days|-row day aggregates, so the
    * cross join is calendar² rows at ANY corpus size — the one
    * corpus-sized job is the day aggregate; the global window sits
    * over that bounded product (GlobalWindowSpec carrier class). Zero
    * rows when either sample is absent (the #428/#449 contract).
    */
  def hodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
    val x = daily.filter(col("event_type") === "click")
      .select(col("day").as("day_a"), col("v").as("va"))
    val y = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("day_b"), col("v").as("vb"))
    val diffs = x.crossJoin(y)
      .select((col("vb") - col("va")).as("diff"), col("day_a"), col("day_b"))
    val w = Window.orderBy("diff", "day_a", "day_b")
    val frame = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    diffs
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("np", count(lit(1)).over(frame))
      .filter(col("r") === expr("(np + 1) div 2") ||
        col("r") === expr("(np + 2) div 2"))
      .groupBy(lit(1).as("g"))
      .agg(max(col("np")).as("n_pairs"),
        min(col("diff")).as("hl_lo"), max(col("diff")).as("hl_hi"))
      .select(col("n_pairs"), col("hl_lo"), col("hl_hi"),
        expr("(hl_lo + hl_hi) div 2").as("hl_point"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stats_cochran_c" -> (cochranC _),
    "q_stats_bowley" -> (bowleySkew _),
    "q_stats_hodges_lehmann" -> (hodgesLehmann _),
    "q_stats_ad_2sample" -> (adTwoSample _),
    "q_stats_cliffs_delta" -> (cliffsDelta _),
    "q_stats_quade" -> (quadeTest _),
    "q_stats_ansari_bradley" -> (ansariBradley _),
    "q_stats_cvm" -> (cvmTwoSample _),
    "q_stats_page_trend" -> (pageTrend _),
    "q_stats_block_bootstrap" -> (blockBootstrap _),
    "q_stats_grubbs" -> (grubbs _),
    "q_stats_tukey" -> (tukeyHsd _),
    "q_stats_mood" -> (moodMedian _),
    "q_stats_dw" -> (durbinWatson _),
    "q_stats_kendall_w" -> (kendallW _),
    "q_stats_levene" -> (leveneBF _),
    "q_stats_kruskal" -> (kruskalWallis _),
    "q_stats_cohens_d" -> (cohensD _),
    "q_stats_runs" -> (runsTest _),
    "q_price_elasticity" -> (priceElasticity _),
    "q_stats_wilson_ci" -> (wilsonCi _),
    "q_ab_cuped" -> (cuped _),
    "q_ab_did" -> (didEstimator _),
    "q_stats_dispersion" -> (dispersion _),
    "q_eval_conformal" -> (conformalInterval _),
    "q_stats_kendall" -> (kendallDaily _),
    "q_stats_prop_z" -> (propZ _),
    "q_stats_ols_multi" -> (olsMulti _),
    "q_stats_welch_t" -> (welchT _),
    "q_stats_anova" -> (anovaLang _),
    "q_stats_spearman" -> (spearman _),
    "q_ts_cross_corr" -> (crossCorrLag1 _))

  /** Conformal twin: the full OLS CTE chain (identical to the
    * q_stats_ols_multi twin) feeding residuals, an order-statistic
    * pick from a sorted list, and the held-out coverage count.
    */
  private def conformalOracleSql: String =
    """WITH per AS (
      |  SELECT l.l_orderkey AS okey, COUNT(*) AS x1,
      |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS x2,
      |    MAX(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS y
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  GROUP BY l.l_orderkey),
      |piv AS (
      |  SELECT COUNT(*) AS n0,
      |    SUM(x1) AS t1, SUM(x2) AS t2, CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS ty,
      |    SUM(x1) // COUNT(*) AS p1, SUM(x2) // COUNT(*) AS p2,
      |    CAST(SUM(CAST(y AS HUGEINT)) // COUNT(*) AS BIGINT) AS py
      |  FROM per),
      |m AS (
      |  SELECT n0, t1, t2, ty, COUNT(*) AS n,
      |    CAST(SUM(x1 - p1) AS HUGEINT) AS s1,
      |    CAST(SUM(x2 - p2) AS HUGEINT) AS s2,
      |    CAST(SUM(CAST(y - py AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(SUM((x1 - p1) * (x1 - p1)) AS HUGEINT) AS r11,
      |    CAST(SUM((x1 - p1) * (x2 - p2)) AS HUGEINT) AS r12,
      |    CAST(SUM((x2 - p2) * (x2 - p2)) AS HUGEINT) AS r22,
      |    CAST(SUM(CAST(x1 - p1 AS HUGEINT) * (y - py)) AS HUGEINT) AS r1y,
      |    CAST(SUM(CAST(x2 - p2 AS HUGEINT) * (y - py)) AS HUGEINT) AS r2y
      |  FROM per CROSS JOIN piv
      |  GROUP BY n0, t1, t2, ty),
      |mom AS (
      |  SELECT n0, t1, t2, ty, n,
      |    (n * r11 - s1 * s1) // n AS S11, (n * r12 - s1 * s2) // n AS S12,
      |    (n * r22 - s2 * s2) // n AS S22, (n * r1y - s1 * sy) // n AS S1y,
      |    (n * r2y - s2 * sy) // n AS S2y
      |  FROM m),
      |d AS (SELECT *, S11 * S22 - S12 * S12 AS det FROM mom
      |      WHERE S11 * S22 - S12 * S12 <> 0),
      |bb AS (
      |  SELECT ((S1y * S22 - S2y * S12) * 1000000) // det AS beta1_micro,
      |    ((S2y * S11 - S1y * S12) * 1000000) // det AS beta2_micro,
      |    (ty * 1000000 - ((S1y * S22 - S2y * S12) * 1000000) // det * t1
      |      - ((S2y * S11 - S1y * S12) * 1000000) // det * t2) // n0 AS intercept_micro
      |  FROM d),
      |conf AS (
      |  SELECT per.okey,
      |    substring(md5('conf:' || CAST(per.okey AS VARCHAR)), 1, 2) < '40' AS is_cal,
      |    abs(CAST(per.y AS HUGEINT) * 1000000 - bb.beta1_micro * per.x1
      |      - bb.beta2_micro * per.x2 - bb.intercept_micro) AS abs_r
      |  FROM per CROSS JOIN bb),
      |cal AS (SELECT okey, abs_r FROM conf WHERE is_cal),
      |nq AS (SELECT COUNT(*) AS n_cal,
      |         (9 * (COUNT(*) + 1) + 9) // 10 AS q_idx FROM cal),
      |ql AS (SELECT list(abs_r ORDER BY abs_r, okey) AS l FROM cal),
      |qh AS (SELECT nq.n_cal, ql.l[nq.q_idx] AS q_hat_micro
      |       FROM nq CROSS JOIN ql),
      |t AS (
      |  SELECT MAX(qh.n_cal) AS n_cal, MAX(qh.q_hat_micro) AS q_hat_micro,
      |    COUNT(*) AS n_test,
      |    CAST(SUM(CASE WHEN conf.abs_r <= qh.q_hat_micro THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_covered
      |  FROM conf CROSS JOIN qh WHERE NOT conf.is_cal)
      |SELECT CAST(n_cal AS BIGINT) AS n_cal,
      |  CAST(q_hat_micro AS BIGINT) AS q_hat_micro, n_test, n_covered,
      |  CAST((n_covered * 1000000) // n_test AS BIGINT) AS coverage_ppm
      |FROM t""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_stats_cliffs_delta" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(SUM(CASE WHEN a.v > b.v THEN 1 ELSE 0 END) AS BIGINT) AS gt,
        |  CAST(SUM(CASE WHEN a.v < b.v THEN 1 ELSE 0 END) AS BIGINT) AS lt,
        |  CAST(((SUM(CASE WHEN a.v > b.v THEN 1 ELSE 0 END)
        |    - SUM(CASE WHEN a.v < b.v THEN 1 ELSE 0 END)) * 1000000)
        |    // COUNT(*) AS BIGINT) AS delta_ppm,
        |  abs(CAST(((SUM(CASE WHEN a.v > b.v THEN 1 ELSE 0 END)
        |    - SUM(CASE WHEN a.v < b.v THEN 1 ELSE 0 END)) * 1000000)
        |    // COUNT(*) AS BIGINT)) >= 474000 AS large_effect
        |FROM daily a JOIN daily b ON a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stats_quade" ->
      """WITH weekly AS (
        |  SELECT event_type,
        |    CAST(least((day(ts) - 1) // 7, 4) + 1 AS BIGINT) AS wk,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, CAST(gs.wk AS BIGINT) AS wk
        |  FROM (SELECT DISTINCT event_type FROM weekly) t
        |  CROSS JOIN (SELECT unnest(generate_series(1,
        |    (SELECT MAX(wk) FROM weekly))) AS wk) gs),
        |filled AS (
        |  SELECT g.event_type, g.wk, CAST(COALESCE(w.v, 0) AS BIGINT) AS v
        |  FROM grid g LEFT JOIN weekly w
        |    ON w.event_type = g.event_type AND w.wk = g.wk),
        |rk AS (
        |  SELECT event_type, wk, v,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY v, wk)
        |      AS BIGINT) AS rk
        |  FROM filled),
        |bq AS (
        |  SELECT event_type, MAX(v) - MIN(v) AS rng,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM filled GROUP BY event_type),
        |bqr AS (
        |  SELECT event_type, k,
        |    CAST(row_number() OVER (ORDER BY rng, event_type) AS BIGINT) AS q
        |  FROM bq),
        |sc AS (
        |  SELECT rk.event_type, rk.wk, bqr.k,
        |    bqr.q * (2 * rk.rk - (bqr.k + 1)) AS s2
        |  FROM rk JOIN bqr ON bqr.event_type = rk.event_type),
        |pt AS (
        |  SELECT wk, CAST(SUM(s2) AS BIGINT) AS s2j, MAX(k) AS k
        |  FROM sc GROUP BY wk),
        |tot AS (
        |  SELECT CAST(SUM(s2 * s2) AS BIGINT) AS a4,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n
        |  FROM sc),
        |fin AS (
        |  SELECT CAST(SUM(s2j * s2j) AS BIGINT) AS sb2, MAX(k) AS k FROM pt)
        |SELECT tot.n AS n_blocks, fin.k AS k_treatments, tot.a4, fin.sb2,
        |  CASE WHEN tot.n * tot.a4 - fin.sb2 > 0 THEN
        |    CAST(((tot.n - 1) * fin.sb2 * 1000) // (tot.n * tot.a4 - fin.sb2)
        |      AS BIGINT) END AS f_milli
        |FROM fin, tot""".stripMargin,
    "q_stats_ansari_bradley" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (ORDER BY v, day, event_type) AS BIGINT)
        |      AS r,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nn
        |  FROM daily),
        |sc AS (SELECT 1 AS g, event_type, nn, least(r, nn + 1 - r) AS score
        |  FROM rk)
        |SELECT
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS m,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN score ELSE 0 END)
        |    AS BIGINT) AS ab_stat,
        |  CASE WHEN MAX(nn) % 2 = 0 THEN
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      * (MAX(nn) + 2) * MAX(nn) AS BIGINT)
        |  ELSE
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      * (MAX(nn) + 1) * (MAX(nn) + 1) AS BIGINT)
        |  END AS e_ab_4n
        |FROM sc GROUP BY g""".stripMargin,
    "q_stats_hodges_lehmann" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |x AS (SELECT day AS day_a, v AS va FROM daily
        |      WHERE event_type = 'click'),
        |y AS (SELECT day AS day_b, v AS vb FROM daily
        |      WHERE event_type = 'purchase'),
        |diffs AS (
        |  SELECT vb - va AS diff, day_a, day_b FROM x CROSS JOIN y),
        |rk AS (
        |  SELECT diff,
        |    CAST(row_number() OVER (ORDER BY diff, day_a, day_b) AS BIGINT)
        |      AS r,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS np
        |  FROM diffs),
        |mid AS (
        |  SELECT 1 AS g, MAX(np) AS n_pairs,
        |    MIN(diff) AS hl_lo, MAX(diff) AS hl_hi
        |  FROM rk
        |  WHERE r = (np + 1) // 2 OR r = (np + 2) // 2
        |  GROUP BY g)
        |SELECT n_pairs, hl_lo, hl_hi,
        |  CAST((hl_lo + hl_hi) // 2 AS BIGINT) AS hl_point
        |FROM mid""".stripMargin,
    "q_stats_ad_2sample" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER w AS BIGINT) AS j,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER w AS BIGINT) AS mj,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER () AS BIGINT) AS n
        |  FROM daily
        |  WINDOW w AS (ORDER BY v, day, event_type)),
        |terms AS (
        |  SELECT j, mj, nn, n,
        |    (CAST(mj AS HUGEINT) * nn - CAST(j AS HUGEINT) * n)
        |    * (CAST(mj AS HUGEINT) * nn - CAST(j AS HUGEINT) * n)
        |    * 1000000000 // (CAST(j AS HUGEINT) * (nn - j)) AS term_nano
        |  FROM rk WHERE j < nn),
        |agg AS (
        |  SELECT 1 AS g, MAX(n) AS n, MAX(nn) - MAX(n) AS m,
        |    SUM(term_nano) AS ts
        |  FROM terms GROUP BY g)
        |SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
        |  CAST(ts // (CAST(n AS HUGEINT) * m) AS BIGINT) AS a2_nano,
        |  CAST(ts // (CAST(n AS HUGEINT) * m) AS BIGINT) > 2492000000
        |    AS significant_05
        |FROM agg WHERE n > 0 AND m > 0""".stripMargin,
    "q_stats_cvm" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (ORDER BY v, day, event_type) AS BIGINT)
        |      AS r,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, day, event_type) AS BIGINT) AS i
        |  FROM daily),
        |ss AS (
        |  SELECT event_type, COUNT(*) AS cnt,
        |    SUM(CAST((r - i) * (r - i) AS HUGEINT)) AS ssq
        |  FROM rk GROUP BY event_type),
        |ab AS (
        |  SELECT a.cnt AS n, a.ssq AS ssn, b.cnt AS m, b.ssq AS ssm
        |  FROM ss a JOIN ss b
        |    ON a.event_type = 'click' AND b.event_type = 'purchase'),
        |u AS (SELECT n, m, n * ssn + m * ssm AS u FROM ab)
        |SELECT n, m, CAST(u AS BIGINT) AS u,
        |  CAST(((6 * u - CAST(n AS HUGEINT) * m * (4 * n * m - 1))
        |    * 1000000000) // (CAST(6 AS HUGEINT) * (n + m) * n * m)
        |    AS BIGINT) AS t_nano,
        |  CAST(((6 * u - CAST(n AS HUGEINT) * m * (4 * n * m - 1))
        |    * 1000000000) // (CAST(6 AS HUGEINT) * (n + m) * n * m)
        |    AS BIGINT) > 461000000 AS significant_05
        |FROM u""".stripMargin,
    "q_stats_page_trend" ->
      """WITH weekly AS (
        |  SELECT event_type,
        |    CAST(least((day(ts) - 1) // 7, 4) + 1 AS BIGINT) AS wk,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, CAST(gs.wk AS BIGINT) AS wk
        |  FROM (SELECT DISTINCT event_type FROM weekly) t
        |  CROSS JOIN (SELECT unnest(generate_series(1,
        |    (SELECT MAX(wk) FROM weekly))) AS wk) gs),
        |filled AS (
        |  SELECT g.event_type, g.wk, CAST(COALESCE(w.v, 0) AS BIGINT) AS v
        |  FROM grid g LEFT JOIN weekly w
        |    ON w.event_type = g.event_type AND w.wk = g.wk),
        |rk AS (
        |  SELECT event_type, wk, v,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY v, wk)
        |      AS BIGINT) AS rk
        |  FROM filled),
        |agg AS (
        |  SELECT COUNT(DISTINCT event_type) AS n, MAX(wk) AS k,
        |    CAST(SUM(wk * rk) AS BIGINT) AS l
        |  FROM rk),
        |e AS (
        |  SELECT n, k, l,
        |    n * k * (k + 1) * (k + 1) AS e_l4,
        |    n * k * k * (k + 1) * (k * k - 1) AS var144
        |  FROM agg)
        |SELECT n AS n_blocks, CAST(k AS BIGINT) AS k_treatments, l,
        |  CAST(e_l4 // 4 AS BIGINT) AS e_l,
        |  CAST(floor(CAST(4 * l - e_l4 AS DOUBLE) * 3000
        |    / sqrt(CAST(var144 AS DOUBLE))) AS BIGINT) AS z_milli
        |FROM e""".stripMargin,
    "q_stats_block_bootstrap" ->
      """WITH weekly AS (
        |  SELECT event_type, date_trunc('week', ts) AS wk,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |wi AS (
        |  SELECT event_type, v,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY wk)
        |      AS BIGINT) AS wk_idx
        |  FROM weekly),
        |wc AS (
        |  SELECT event_type, COUNT(*) AS w, CAST(SUM(v) AS BIGINT) AS v_all
        |  FROM wi GROUP BY event_type),
        |picks AS (
        |  SELECT event_type, w, r.r, k.k,
        |    (('0x' || substring(md5('bb:' || event_type || ':'
        |        || CAST(r.r AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)), 1, 8))
        |      ::BIGINT % w) + 1 AS wk_idx
        |  FROM wc,
        |    (SELECT unnest(range(1, 65)) AS r) r,
        |    LATERAL (SELECT unnest(range(1, CAST(w + 1 AS BIGINT)))
        |      AS k) k),
        |stats AS (
        |  SELECT p.event_type, p.r, MAX(p.w) AS w,
        |    CAST(SUM(wi.v) AS BIGINT) // MAX(p.w) AS stat
        |  FROM picks p JOIN wi ON wi.event_type = p.event_type
        |    AND wi.wk_idx = p.wk_idx
        |  GROUP BY p.event_type, p.r),
        |ord AS (
        |  SELECT event_type, w, stat,
        |    row_number() OVER (PARTITION BY event_type ORDER BY stat, r)
        |      AS pos
        |  FROM stats),
        |ci AS (
        |  SELECT event_type, MAX(w) AS n_weeks,
        |    MAX(CASE WHEN pos = 4 THEN stat END) AS lo_micro,
        |    MAX(CASE WHEN pos = 61 THEN stat END) AS hi_micro
        |  FROM ord GROUP BY event_type)
        |SELECT ci.event_type, ci.n_weeks,
        |  CAST(wc.v_all // wc.w AS BIGINT) AS mean_micro,
        |  ci.lo_micro, ci.hi_micro
        |FROM ci JOIN wc ON wc.event_type = ci.event_type
        |ORDER BY ci.event_type""".stripMargin,
    "q_stats_kendall_w" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |k1 AS (SELECT COUNT(DISTINCT event_type) AS k FROM daily),
        |common AS (
        |  SELECT day FROM daily GROUP BY day
        |  HAVING COUNT(*) = (SELECT k FROM k1)),
        |block AS (SELECT d.* FROM daily d JOIN common USING (day)),
        |rk AS (
        |  SELECT event_type, day,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2
        |  FROM block),
        |ties AS (
        |  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum FROM (
        |    SELECT COUNT(*) AS t FROM block GROUP BY event_type, x)),
        |pd AS (SELECT day, CAST(SUM(r2) AS BIGINT) AS r2d
        |       FROM rk GROUP BY day),
        |n1 AS (SELECT COUNT(*) AS n FROM pd),
        |s AS (
        |  SELECT (SELECT k FROM k1) AS k, (SELECT n FROM n1) AS n_days,
        |    CAST(SUM((r2d - (SELECT k FROM k1) * ((SELECT n FROM n1) + 1))
        |      * (r2d - (SELECT k FROM k1) * ((SELECT n FROM n1) + 1)))
        |      AS BIGINT) AS s2
        |  FROM pd),
        |f AS (
        |  SELECT k, n_days, s2,
        |    k * k * (n_days * n_days * n_days - n_days)
        |      - k * (SELECT tsum FROM ties) AS denom
        |  FROM s)
        |SELECT k, n_days,
        |  CAST((3 * s2 * 1000000) // denom AS BIGINT) AS w_ppm,
        |  CAST((k * (n_days - 1) * ((3 * s2 * 1000000) // denom)) // 1000
        |    AS BIGINT) AS chi2_milli
        |FROM f WHERE denom > 0""".stripMargin,
    "q_stats_dw" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, day,
        |    CAST(lag(x) OVER w AS HUGEINT) AS z,
        |    CAST(x - lag(x) OVER w AS HUGEINT) AS y
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |p2 AS (SELECT * FROM p WHERE z IS NOT NULL),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(z) AS sz, SUM(y) AS sy, SUM(z * y) AS szy,
        |    SUM(z * z) AS szz
        |  FROM p2 GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, sz, sy,
        |    CAST(((n * szy - sz * sy) * 1000000) // (n * szz - sz * sz)
        |      AS BIGINT) AS slope_micro
        |  FROM g WHERE n * szz - sz * sz <> 0),
        |e AS (
        |  SELECT p2.event_type, p2.day,
        |    (1000000 * p2.y - m.slope_micro * p2.z
        |      - CAST((1000000 * m.sy - m.slope_micro * m.sz) // m.n
        |        AS BIGINT)) // 1000 AS eem,
        |    m.n, m.slope_micro
        |  FROM p2 JOIN m USING (event_type)),
        |l AS (
        |  SELECT event_type, n, slope_micro, eem,
        |    lag(eem) OVER (PARTITION BY event_type ORDER BY day) AS el
        |  FROM e),
        |f AS (
        |  SELECT event_type, MAX(n) AS n,
        |    MAX(slope_micro) AS slope_micro,
        |    SUM(eem * eem) AS see,
        |    SUM(CASE WHEN el IS NOT NULL
        |      THEN (eem - el) * (eem - el) END) AS sdd
        |  FROM l GROUP BY event_type)
        |SELECT event_type, n, slope_micro,
        |  CAST((sdd * 1000) // see AS BIGINT) AS dw_milli
        |FROM f WHERE see > 0 ORDER BY event_type""".stripMargin,
    "q_stats_mood" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n FROM daily),
        |rk AS (
        |  SELECT x, row_number() OVER (ORDER BY x, event_type, day) AS rn,
        |    n.n
        |  FROM daily CROSS JOIN n),
        |med AS (
        |  SELECT CASE WHEN COUNT(*) = 1 THEN 2 * SUM(x) ELSE SUM(x) END
        |    AS med2
        |  FROM rk WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1),
        |obs AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN x * 2 > med2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS o_above,
        |    CAST(SUM(CASE WHEN x * 2 > med2 THEN 0 ELSE 1 END) AS BIGINT)
        |      AS o_below
        |  FROM daily CROSS JOIN med GROUP BY event_type),
        |tot AS (
        |  SELECT CAST(SUM(o_above) AS BIGINT) AS ta,
        |    CAST(SUM(o_below) AS BIGINT) AS tb, COUNT(*) AS k
        |  FROM obs),
        |t AS (
        |  SELECT k, ta + tb AS n_days, k - 1 AS dof,
        |    CAST(floor((o_above - CAST((o_above + o_below) * ta AS DOUBLE)
        |        / (ta + tb)) * (o_above - CAST((o_above + o_below) * ta
        |        AS DOUBLE) / (ta + tb))
        |        / (CAST((o_above + o_below) * ta AS DOUBLE) / (ta + tb))
        |        * 1e9) AS BIGINT)
        |      + CAST(floor((o_below - CAST((o_above + o_below) * tb
        |        AS DOUBLE) / (ta + tb)) * (o_below -
        |        CAST((o_above + o_below) * tb AS DOUBLE) / (ta + tb))
        |        / (CAST((o_above + o_below) * tb AS DOUBLE) / (ta + tb))
        |        * 1e9) AS BIGINT) AS term_nano
        |  FROM obs CROSS JOIN tot)
        |SELECT MAX(k) AS k, MAX(n_days) AS n_days, MAX(dof) AS dof,
        |  round(CAST(SUM(term_nano) AS BIGINT) / 1e9, 6) AS chi2
        |FROM t""".stripMargin,
    "q_stats_grubbs" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx
        |  FROM daily GROUP BY event_type),
        |d AS (
        |  SELECT d.event_type, d.day, d.x, g.n, g.sx, g.qx,
        |    abs(g.n * CAST(d.x AS HUGEINT) - g.sx) AS dev,
        |    row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY abs(g.n * CAST(d.x AS HUGEINT) - g.sx) DESC,
        |        d.day ASC) AS rn
        |  FROM daily d JOIN g USING (event_type))
        |SELECT event_type, n, CAST(day AS TIMESTAMP) AS peak_day,
        |  x AS peak_x,
        |  CAST((dev * dev * (n - 1) * 1000)
        |    // (n * (n * qx - sx * sx)) AS BIGINT) AS g2_milli
        |FROM d
        |WHERE rn = 1 AND n * qx - sx * sx > 0 AND n > 2
        |ORDER BY event_type""".stripMargin,
    "q_stats_tukey" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, COUNT(*) AS nj,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sj,
        |    CAST(SUM(CAST(x // 1000 AS HUGEINT)) AS HUGEINT) AS sm,
        |    CAST(SUM(CAST(x // 1000 AS HUGEINT) * (x // 1000)) AS HUGEINT)
        |      AS qm
        |  FROM daily GROUP BY event_type),
        |g2 AS (
        |  SELECT event_type, nj, sj, sm, qm,
        |    (nj * qm - sm * sm) // nj AS ssw_j
        |  FROM g),
        |tot AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(nj) AS BIGINT) AS n_total,
        |    SUM(ssw_j) AS ssw
        |  FROM g2),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.nj AS na, b.nj AS nb, a.sj AS sa, b.sj AS sb,
        |    a.sm AS sma, b.sm AS smb, t.k, t.n_total, t.ssw
        |  FROM g2 a CROSS JOIN g2 b CROSS JOIN tot t
        |  WHERE a.event_type < b.event_type AND t.ssw > 0),
        |r AS (
        |  SELECT type_a, type_b, na, nb,
        |    CAST((sa * nb - sb * na) // (na * nb) AS BIGINT) AS diff_micro,
        |    CAST(((sma * nb - smb * na) * (sma * nb - smb * na) * 2
        |      * (n_total - k) * 1000)
        |      // (ssw * (na + nb) * na * nb) AS BIGINT) AS q2_obs_milli,
        |    CASE k WHEN 2 THEN CAST(7673 AS BIGINT) WHEN 3 THEN 10956
        |      WHEN 4 THEN 13177 WHEN 5 THEN 14900 WHEN 6 THEN 16240
        |    END AS q2_crit_milli
        |  FROM p)
        |SELECT type_a, type_b, na, nb, diff_micro, q2_obs_milli,
        |  q2_crit_milli, q2_obs_milli > q2_crit_milli AS significant_05
        |FROM r ORDER BY type_a, type_b""".stripMargin,
    "q_stats_bowley" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |cnt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM daily GROUP BY 1),
        |rk AS (
        |  SELECT d.event_type, d.x, c.n,
        |    row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.x, d.day) AS rn
        |  FROM daily d JOIN cnt c USING (event_type)),
        |q AS (
        |  SELECT event_type, MAX(n) AS n_days,
        |    MAX(CASE WHEN rn = (n + 3) // 4 THEN x END) AS q1,
        |    MAX(CASE WHEN rn = (n + 2) // 2 THEN x END) AS q2,
        |    MAX(CASE WHEN rn = n + 1 - ((n + 3) // 4) THEN x END) AS q3
        |  FROM rk GROUP BY event_type)
        |SELECT event_type, n_days, q1, q2, q3,
        |  CASE WHEN q3 > q1 THEN
        |    ((q3 + q1 - 2 * q2) * 1000) // (q3 - q1) END AS bowley_milli
        |FROM q ORDER BY event_type""".stripMargin,
    "q_stats_cochran_c" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) // 1000
        |      AS x
        |  FROM events GROUP BY event_type, date_trunc('day', ts)),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS qx
        |  FROM daily GROUP BY event_type),
        |v AS (
        |  SELECT event_type, n,
        |    CAST(((n * qx - sx * sx) * 1000) // (n * (n - 1)) AS BIGINT)
        |      AS s2_m2
        |  FROM g WHERE n > 1),
        |t AS (
        |  SELECT SUM(CAST(s2_m2 AS HUGEINT)) AS s2_all,
        |    MAX(s2_m2) AS s2_max
        |  FROM v)
        |SELECT event_type, n AS n_days, s2_m2,
        |  CASE WHEN s2_all > 0 THEN
        |    CAST((CAST(s2_m2 AS HUGEINT) * 1000000) // s2_all AS BIGINT) END
        |    AS share_ppm,
        |  s2_m2 = s2_max AS is_max
        |FROM v, t ORDER BY event_type""".stripMargin,
    "q_stats_levene" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |cnt AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
        |rk AS (
        |  SELECT d.event_type, d.x, c.n,
        |    row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.x, d.day) AS rn
        |  FROM daily d JOIN cnt c USING (event_type)),
        |med AS (
        |  SELECT event_type,
        |    CASE WHEN COUNT(*) = 1 THEN 2 * SUM(x) ELSE SUM(x) END AS med2
        |  FROM rk WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |  GROUP BY event_type),
        |z AS (
        |  SELECT d.event_type,
        |    CAST(abs(2 * d.x - m.med2) // 1000 AS HUGEINT) AS z2
        |  FROM daily d JOIN med m USING (event_type)),
        |g AS (
        |  SELECT event_type, COUNT(*) AS nj,
        |    SUM(z2) AS sj, SUM(z2 * z2) AS qj
        |  FROM z GROUP BY event_type),
        |g2 AS (SELECT event_type, nj, sj, qj, (sj * sj) // nj AS sj2nj
        |       FROM g),
        |t AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(nj) AS BIGINT) AS n_total,
        |    SUM(sj) AS st, SUM(qj) AS qt, SUM(sj2nj) AS sb_part
        |  FROM g2),
        |f AS (
        |  SELECT k, n_total,
        |    sb_part - (st * st) // n_total AS ssb,
        |    qt - sb_part AS ssw
        |  FROM t WHERE qt - sb_part > 0 AND k > 1)
        |SELECT k, n_total,
        |  CAST((ssb * (n_total - k) * 1000) // (ssw * (k - 1)) AS BIGINT)
        |    AS f_milli
        |FROM f""".stripMargin,
    "q_stats_kruskal" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |bv AS (SELECT x, COUNT(*) AS cnt FROM daily GROUP BY x),
        |rk AS (
        |  SELECT x, cnt, SUM(cnt) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bv),
        |r2t AS (SELECT x, 2 * (cum - cnt) + cnt + 1 AS r2 FROM rk),
        |g AS (
        |  SELECT event_type, CAST(SUM(m) AS BIGINT) AS ni,
        |    CAST(SUM(CAST(m AS HUGEINT) * r2) AS HUGEINT) AS r2i
        |  FROM (SELECT event_type, x, COUNT(*) AS m
        |        FROM daily GROUP BY event_type, x) d
        |  JOIN r2t USING (x) GROUP BY event_type),
        |t AS (SELECT event_type, ni,
        |  (r2i * r2i * 1000) // ni AS ti_milli FROM g),
        |ties AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
        |  FROM bv),
        |ag AS (SELECT COUNT(*) AS k, SUM(ti_milli) AS s_milli FROM t),
        |h AS (
        |  SELECT n_total, k,
        |    CAST((3 * s_milli) // (n_total * (n_total + 1))
        |      - 3000 * (n_total + 1) AS BIGINT) AS h_milli,
        |    CAST(n_total AS HUGEINT) * n_total * n_total - n_total - tie3
        |      AS denom_c,
        |    CAST(n_total AS HUGEINT) * n_total * n_total - n_total AS n3n
        |  FROM ag CROSS JOIN ties
        |  WHERE CAST(n_total AS HUGEINT) * n_total * n_total - n_total - tie3
        |    > 0),
        |f AS (
        |  SELECT n_total, k, k - 1 AS dof, h_milli,
        |    CAST((CAST(h_milli AS HUGEINT) * n3n) // denom_c AS BIGINT)
        |      AS h_c_milli,
        |    CASE k - 1 WHEN 1 THEN CAST(3841 AS BIGINT)
        |      WHEN 2 THEN 5991 WHEN 3 THEN 7815 WHEN 4 THEN 9488
        |      WHEN 5 THEN 11070 WHEN 6 THEN 12592 END AS chi2_crit_milli
        |  FROM h)
        |SELECT n_total, k, dof, h_milli, h_c_milli, chi2_crit_milli,
        |  h_c_milli > chi2_crit_milli AS significant_05
        |FROM f""".stripMargin,
    "q_stats_cohens_d" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS we,
        |    CAST(CAST(floor(value * 1e6) AS BIGINT) AS HUGEINT) AS x
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    SUM(CASE WHEN we = 1 THEN x END) AS s1,
        |    SUM(CASE WHEN we = 0 THEN x END) AS s2,
        |    SUM(CASE WHEN we = 1 THEN x * x END) AS q1,
        |    SUM(CASE WHEN we = 0 THEN x * x END) AS q2
        |  FROM e GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n1, n2,
        |    s1 * n2 - s2 * n1 AS num,
        |    (n1 * q1 - s1 * s1) * n2 + (n2 * q2 - s2 * s2) * n1 AS pooled
        |  FROM g WHERE n1 > 1 AND n2 > 1),
        |f AS (
        |  SELECT event_type, n1 AS n_we, n2 AS n_wd,
        |    CAST(num // (n1 * n2) AS BIGINT) AS diff_micro,
        |    CAST(sign(num) AS BIGINT) AS d_sign,
        |    CAST((num * num * (n1 + n2 - 2) * 1000)
        |      // (pooled * n1 * n2) AS BIGINT) AS d2_milli
        |  FROM m WHERE pooled > 0)
        |SELECT event_type, n_we, n_wd, diff_micro, d_sign, d2_milli,
        |  d2_milli > 40 AS effect_small_plus
        |FROM f ORDER BY event_type""".stripMargin,
    "q_stats_runs" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx
        |  FROM daily GROUP BY event_type),
        |f AS (
        |  SELECT d.event_type, d.day, t.n,
        |    CASE WHEN CAST(d.x AS HUGEINT) * t.n > t.sx THEN 1 ELSE 0 END
        |      AS above
        |  FROM daily d JOIN tot t USING (event_type)),
        |sw AS (
        |  SELECT event_type, n, above,
        |    CASE WHEN lag(above) OVER (PARTITION BY event_type ORDER BY day)
        |      IS DISTINCT FROM above THEN 1 ELSE 0 END AS switch
        |  FROM f),
        |g AS (
        |  SELECT event_type, MAX(n) AS n,
        |    CAST(SUM(switch) AS BIGINT) AS r,
        |    CAST(SUM(above) AS BIGINT) AS n1
        |  FROM sw GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, n1, n - n1 AS n2, r, 2 * n1 * (n - n1) AS m2
        |  FROM g WHERE n1 > 0 AND n - n1 > 0 AND 2 * n1 * (n - n1) - n > 0),
        |z AS (
        |  SELECT event_type, n, n1, n2, r,
        |    CAST((CAST(n * r - n - m2 AS HUGEINT) * (n * r - n - m2)
        |      * (n - 1) * 1000) // (CAST(m2 AS HUGEINT) * (m2 - n))
        |      AS BIGINT) AS z2_milli
        |  FROM m)
        |SELECT event_type, n, n1, n2, r, z2_milli,
        |  z2_milli > 3841 AS nonrandom_05
        |FROM z ORDER BY event_type""".stripMargin,
    "q_price_elasticity" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem WHERE CAST(l_quantity AS BIGINT) > 0),
        |d AS (
        |  SELECT p.p_brand,
        |    CAST(floor(ln(CAST(li.cents // li.qty AS DOUBLE)) * 1e9) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(li.qty AS DOUBLE)) * 1e9) AS BIGINT) AS y
        |  FROM li JOIN part p ON p.p_partkey = li.l_partkey),
        |g AS (
        |  SELECT p_brand, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM d GROUP BY p_brand),
        |m AS (
        |  SELECT p_brand, n, n * sxx - sx * sx AS Sxx, n * sxy - sx * sy AS Sxy,
        |    n * syy - sy * sy AS Syy
        |  FROM g
        |  WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0)
        |SELECT p_brand, n,
        |  CAST((Sxy * 1000000) // Sxx AS BIGINT) AS elasticity_micro,
        |  CAST((((Sxy * 1000000) // Sxx) * Sxy) // Syy AS BIGINT) AS r2_ppm
        |FROM m ORDER BY p_brand""".stripMargin,
    "q_stats_wilson_ci" ->
      """WITH g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY event_type),
        |p AS (
        |  SELECT event_type, n, x,
        |    CAST(x AS DOUBLE) / n AS p_hat,
        |    1.0 + 3.8416 / n AS denom
        |  FROM g),
        |c AS (
        |  SELECT *, (p_hat + 1.9208 / n) / denom AS center,
        |    1.96 * sqrt(p_hat * (1.0 - p_hat) / n + 0.9604 / (n * n)) / denom
        |      AS half
        |  FROM p)
        |SELECT event_type, n, x, round(p_hat, 6) AS p_hat,
        |  round(center - half, 6) AS wilson_lo,
        |  round(center + half, 6) AS wilson_hi
        |FROM c ORDER BY event_type""".stripMargin,
    "q_ab_cuped" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |p2 AS (
        |  SELECT x, y,
        |    substring(md5('cuped:' || CAST(user_id AS VARCHAR)), 1, 1) < '8' AS treat
        |  FROM per),
        |mom AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM p2),
        |mm AS (
        |  SELECT n, n * sxx - sx * sx AS Sxx, n * sxy - sx * sy AS Sxy,
        |    n * syy - sy * sy AS Syy
        |  FROM mom WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0),
        |th AS (SELECT *, CAST((Sxy * 1000000) // Sxx AS BIGINT) AS theta_micro
        |       FROM mm),
        |arms AS (
        |  SELECT treat, COUNT(*) AS na, CAST(SUM(x) AS BIGINT) AS ax,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS ay
        |  FROM p2 GROUP BY treat),
        |a2 AS (
        |  SELECT
        |    MAX(CASE WHEN treat THEN na END) AS n_t,
        |    MAX(CASE WHEN treat THEN ax END) AS x_t,
        |    MAX(CASE WHEN treat THEN ay END) AS y_t,
        |    MAX(CASE WHEN NOT treat THEN na END) AS n_c,
        |    MAX(CASE WHEN NOT treat THEN ax END) AS x_c,
        |    MAX(CASE WHEN NOT treat THEN ay END) AS y_c
        |  FROM arms),
        |j AS (
        |  SELECT a2.*, th.n, th.theta_micro, th.Sxy, th.Syy,
        |    CAST((y_t * 1000000) // n_t AS BIGINT) AS my_t,
        |    CAST((y_c * 1000000) // n_c AS BIGINT) AS my_c,
        |    (x_t * 1000000) // n_t AS mx_t,
        |    (x_c * 1000000) // n_c AS mx_c
        |  FROM a2 CROSS JOIN th
        |  WHERE n_t IS NOT NULL AND n_c IS NOT NULL)
        |SELECT CAST(n AS BIGINT) AS n_users, n_t, n_c, theta_micro,
        |  CAST((my_t - my_c) // 1000000 AS BIGINT) AS diff_raw_micro,
        |  CAST((my_t - my_c
        |      - (CAST(theta_micro AS HUGEINT) * (mx_t - mx_c)) // 1000000)
        |    // 1000000 AS BIGINT) AS diff_cuped_micro,
        |  CAST((CAST(theta_micro AS HUGEINT) * Sxy) // Syy AS BIGINT)
        |    AS var_reduction_ppm
        |FROM j""".stripMargin,
    "q_ab_did" ->
      """WITH d AS (
        |  SELECT substring(md5('did:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      AS treat,
        |    day(ts) <= 15 AS pre,
        |    CAST(floor(value * 1e6) AS BIGINT) AS y
        |  FROM events),
        |g AS (
        |  SELECT treat, pre, COUNT(*) AS n,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy
        |  FROM d GROUP BY treat, pre),
        |m AS (SELECT treat, pre, n, CAST(sy // n AS BIGINT) AS mean_micro FROM g),
        |p AS (
        |  SELECT
        |    MAX(CASE WHEN treat AND pre THEN n END) AS n_t_pre,
        |    MAX(CASE WHEN treat AND pre THEN mean_micro END) AS m_t_pre,
        |    MAX(CASE WHEN treat AND NOT pre THEN n END) AS n_t_post,
        |    MAX(CASE WHEN treat AND NOT pre THEN mean_micro END) AS m_t_post,
        |    MAX(CASE WHEN NOT treat AND pre THEN n END) AS n_c_pre,
        |    MAX(CASE WHEN NOT treat AND pre THEN mean_micro END) AS m_c_pre,
        |    MAX(CASE WHEN NOT treat AND NOT pre THEN n END) AS n_c_post,
        |    MAX(CASE WHEN NOT treat AND NOT pre THEN mean_micro END) AS m_c_post
        |  FROM m)
        |SELECT *, (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_micro
        |FROM p
        |WHERE n_t_pre IS NOT NULL AND n_t_post IS NOT NULL
        |  AND n_c_pre IS NOT NULL AND n_c_post IS NOT NULL""".stripMargin,
    "q_stats_dispersion" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM daily GROUP BY event_type),
        |r AS (
        |  SELECT event_type, n_days, CAST(sx AS BIGINT) AS n_events,
        |    CAST((sx * 1000) // n_days AS BIGINT) AS mean_milli,
        |    CAST(((n_days * sxx - sx * sx) * 1000) // ((n_days - 1) * sx)
        |      AS BIGINT) AS dispersion_milli
        |  FROM g WHERE n_days > 1 AND sx <> 0)
        |SELECT *, CAST(CAST(dispersion_milli AS HUGEINT) * (n_days - 1) AS BIGINT)
        |    AS chi2_milli
        |FROM r ORDER BY event_type""".stripMargin,
    "q_eval_conformal" -> conformalOracleSql,
    "q_stats_kendall" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day, COUNT(*) AS x,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT CAST(sign(b.x - a.x) * sign(b.y - a.y) AS BIGINT) AS sgn,
        |    CAST(a.x = b.x AS BIGINT) AS tx, CAST(a.y = b.y AS BIGINT) AS ty
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |agg AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
        |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
        |    CAST(SUM(tx) AS BIGINT) AS n_ties_x, CAST(SUM(ty) AS BIGINT) AS n_ties_y
        |  FROM p)
        |SELECT n_pairs, n_concordant, n_discordant, n_ties_x, n_ties_y,
        |  CAST(((n_concordant - n_discordant) * 1000000) // n_pairs AS BIGINT)
        |    AS tau_a_ppm
        |FROM agg""".stripMargin,
    "q_stats_prop_z" ->
      """WITH g AS (
        |  SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend'
        |              ELSE 'weekday' END AS grp,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT
        |    MAX(CASE WHEN grp = 'weekend' THEN n END) AS n_we,
        |    MAX(CASE WHEN grp = 'weekend' THEN x END) AS x_we,
        |    MAX(CASE WHEN grp = 'weekday' THEN n END) AS n_wd,
        |    MAX(CASE WHEN grp = 'weekday' THEN x END) AS x_wd
        |  FROM g),
        |r AS (
        |  SELECT *, (x_we * 1000000) // n_we AS p_we_ppm,
        |    (x_wd * 1000000) // n_wd AS p_wd_ppm,
        |    ((x_we + x_wd) * 1000000) // (n_we + n_wd) AS p_pool_ppm
        |  FROM p),
        |z AS (
        |  SELECT *, p_we_ppm - p_wd_ppm AS d_ppm,
        |    CAST((CAST(p_we_ppm - p_wd_ppm AS HUGEINT) * (p_we_ppm - p_wd_ppm)
        |      * n_we * n_wd * 1000)
        |      // (CAST(p_pool_ppm AS HUGEINT) * (1000000 - p_pool_ppm)
        |      * (n_we + n_wd)) AS BIGINT) AS z2_milli
        |  FROM r)
        |SELECT n_we, x_we, n_wd, x_wd, p_we_ppm, p_wd_ppm, z2_milli,
        |  z2_milli > 3841 AS significant_05
        |FROM z""".stripMargin,
    "q_stats_ols_multi" ->
      """WITH per AS (
        |  SELECT l.l_orderkey AS okey, COUNT(*) AS x1,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS x2,
        |    MAX(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS y
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY l.l_orderkey),
        |piv AS (
        |  SELECT COUNT(*) AS n0,
        |    SUM(x1) AS t1, SUM(x2) AS t2, CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS ty,
        |    SUM(x1) // COUNT(*) AS p1, SUM(x2) // COUNT(*) AS p2,
        |    CAST(SUM(CAST(y AS HUGEINT)) // COUNT(*) AS BIGINT) AS py
        |  FROM per),
        |m AS (
        |  SELECT n0, t1, t2, ty, COUNT(*) AS n,
        |    CAST(SUM(x1 - p1) AS HUGEINT) AS s1,
        |    CAST(SUM(x2 - p2) AS HUGEINT) AS s2,
        |    CAST(SUM(CAST(y - py AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(SUM((x1 - p1) * (x1 - p1)) AS HUGEINT) AS r11,
        |    CAST(SUM((x1 - p1) * (x2 - p2)) AS HUGEINT) AS r12,
        |    CAST(SUM((x2 - p2) * (x2 - p2)) AS HUGEINT) AS r22,
        |    CAST(SUM(CAST(x1 - p1 AS HUGEINT) * (y - py)) AS HUGEINT) AS r1y,
        |    CAST(SUM(CAST(x2 - p2 AS HUGEINT) * (y - py)) AS HUGEINT) AS r2y,
        |    CAST(SUM(CAST(y - py AS HUGEINT) * (y - py)) AS HUGEINT) AS ryy
        |  FROM per CROSS JOIN piv
        |  GROUP BY n0, t1, t2, ty),
        |mom AS (
        |  SELECT n0, t1, t2, ty, n,
        |    (n * r11 - s1 * s1) // n AS S11, (n * r12 - s1 * s2) // n AS S12,
        |    (n * r22 - s2 * s2) // n AS S22, (n * r1y - s1 * sy) // n AS S1y,
        |    (n * r2y - s2 * sy) // n AS S2y, (n * ryy - sy * sy) AS SyyN
        |  FROM m),
        |d AS (SELECT *, S11 * S22 - S12 * S12 AS det FROM mom
        |      WHERE S11 * S22 - S12 * S12 <> 0 AND SyyN <> 0),
        |b AS (
        |  SELECT *, ((S1y * S22 - S2y * S12) * 1000000) // det AS beta1_micro,
        |    ((S2y * S11 - S1y * S12) * 1000000) // det AS beta2_micro
        |  FROM d)
        |SELECT CAST(n AS BIGINT) AS n_orders,
        |  CAST(beta1_micro AS BIGINT) AS beta1_micro,
        |  CAST(beta2_micro AS BIGINT) AS beta2_micro,
        |  CAST((ty * 1000000 - beta1_micro * t1 - beta2_micro * t2) // n0 AS BIGINT)
        |    AS intercept_micro,
        |  CAST(((beta1_micro * S1y + beta2_micro * S2y) * n) // SyyN AS BIGINT) AS r2_ppm
        |FROM b""".stripMargin,
    "q_stats_welch_t" ->
      """WITH g AS (
        |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS sxx
        |  FROM documents GROUP BY 1),
        |m AS (
        |  SELECT grp, n, CAST(sx AS DOUBLE) / n AS mean,
        |    CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) AS v
        |  FROM g),
        |p AS (
        |  SELECT
        |    MAX(CASE WHEN grp = 'en' THEN n END) AS n_en,
        |    MAX(CASE WHEN grp = 'en' THEN mean END) AS m1,
        |    MAX(CASE WHEN grp = 'en' THEN v END) AS v1,
        |    MAX(CASE WHEN grp = 'other' THEN n END) AS n_other,
        |    MAX(CASE WHEN grp = 'other' THEN mean END) AS m2,
        |    MAX(CASE WHEN grp = 'other' THEN v END) AS v2
        |  FROM m),
        |se AS (SELECT *, v1 / n_en AS se1, v2 / n_other AS se2 FROM p
        |       WHERE n_en IS NOT NULL AND n_other IS NOT NULL)
        |SELECT n_en, n_other,
        |  round(m1 - m2, 6) AS mean_diff,
        |  round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
        |  round((se1 + se2) * (se1 + se2) /
        |        (se1 * se1 / (n_en - 1) + se2 * se2 / (n_other - 1)), 6) AS df_welch
        |FROM se""".stripMargin,
    "q_stats_anova" ->
      """WITH g AS (
        |  SELECT lang, COUNT(*) AS n,
        |    CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS sxx
        |  FROM documents GROUP BY lang),
        |t AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(sx) AS HUGEINT) AS s_all,
        |    CAST(CAST(SUM(sxx) AS VARCHAR) AS DOUBLE) AS ss_all,
        |    CAST(CAST(SUM(CAST(round(CAST(sx * sx AS DOUBLE) / n, 6)
        |      AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS b_all
        |  FROM g),
        |d AS (
        |  SELECT k, n_total,
        |    b_all - CAST(s_all * s_all AS DOUBLE) / n_total AS ssb,
        |    ss_all - b_all AS ssw
        |  FROM t)
        |SELECT k, n_total, round(ssb, 4) AS ssb, round(ssw, 4) AS ssw,
        |  round((ssb / (k - 1)) / (ssw / (n_total - k)), 6) AS f_stat
        |FROM d""".stripMargin,
    "q_stats_spearman" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS x,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |rx AS (
        |  SELECT x, CAST(2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + cnt + 1 AS HUGEINT) AS r2_x
        |  FROM (SELECT x, COUNT(*) AS cnt FROM u GROUP BY x)),
        |ry AS (
        |  SELECT y, CAST(2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + cnt + 1 AS HUGEINT) AS r2_y
        |  FROM (SELECT y, COUNT(*) AS cnt FROM u GROUP BY y)),
        |j AS (
        |  SELECT u.user_id, rx.r2_x, ry.r2_y
        |  FROM u JOIN rx USING (x) JOIN ry USING (y)),
        |a AS (
        |  SELECT COUNT(*) AS n, SUM(r2_x) AS sx, SUM(r2_y) AS sy,
        |    SUM(r2_x * r2_y) AS sxy, SUM(r2_x * r2_x) AS sxx,
        |    SUM(r2_y * r2_y) AS syy
        |  FROM j)
        |SELECT n, round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |  sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)), 6) AS rho
        |FROM a""".stripMargin,
    "q_ts_cross_corr" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS HUGEINT) AS x
        |  FROM events GROUP BY event_type, day),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.x AS xa, b.x AS xb
        |  FROM daily a JOIN daily b
        |    ON b.day = a.day + INTERVAL 1 DAY AND a.event_type <> b.event_type),
        |agg AS (
        |  SELECT type_a, type_b, COUNT(*) AS n,
        |    SUM(xa) AS sx, SUM(xb) AS sy, SUM(xa * xb) AS sxy,
        |    SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
        |  FROM p GROUP BY type_a, type_b),
        |v AS (
        |  SELECT type_a, type_b, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS vary
        |  FROM agg)
        |SELECT type_a, type_b, n, round(num / sqrt(varx * vary), 6) AS xcorr_lag1
        |FROM v WHERE varx > 0 AND vary > 0
        |ORDER BY type_a, type_b""".stripMargin)
}
