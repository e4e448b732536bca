package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Round-13 additions, SURVEY §2 #400–#405: decision-layer composites —
  * readouts a pipeline operator acts on directly rather than inspects
  * (equivalence verdict, operating threshold, hedging beta, process
  * entropy, pruning schedule, hazard curve). Several compose earlier
  * operators — the stationary distribution (#296), the AUC score
  * relation (#209), the Kaplan–Meier risk sets (#222) — and their twins
  * compose the corresponding oracle SQL as subqueries, the
  * #384/#390 derived-twin pattern.
  *
  * Exactness: the repo-wide integer discipline throughout — event
  * values are exact integer cents in the fixtures, counts are native
  * ints, ln floors to nano before any sum, and every float step is a
  * mirrored double over exact sub-2^53 integers.
  */
object DecisionOps {

  private val dec = DecimalType(38, 0)

  /** #400 TOST equivalence test (two one-sided tests) on the
    * click-vs-view mean event value with a ±5%-of-click-mean margin:
    * the ONLY correct way to claim "the two arms are the same" (a
    * non-significant #225 Welch t is absence of evidence, not
    * equivalence). Event values are exact 2-dp ⇒ integer cents, so
    * n/Σ/Σ² are exact (Σcents² ≈ 1e14 at sf0.1 — exact-double to
    * ~40×, the documented envelope); Welch se and both shifted t
    * statistics are one mirrored double sequence, floored to milli;
    * the verdict compares floored milli against the one-sided 5%
    * normal critical value (1.644 — dfs are ~1e4+, the z
    * approximation is exact to the emitted resolution). Scale: one
    * map-side-combined two-group aggregate, algebra on a 2-row result.
    */
  def statsTost(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val g = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sv"),
        sum(cents * cents).as("q"))
    val pivot = g.groupBy()
      .agg(max(when(col("event_type") === "click", col("n"))).as("n1"),
        max(when(col("event_type") === "click", col("sv"))).as("s1"),
        max(when(col("event_type") === "click", col("q"))).as("q1"),
        max(when(col("event_type") === "view", col("n"))).as("n2"),
        max(when(col("event_type") === "view", col("sv"))).as("s2"),
        max(when(col("event_type") === "view", col("q"))).as("q2"))
    pivot
      .withColumn("m1", col("s1").cast("double") / col("n1"))
      .withColumn("m2", col("s2").cast("double") / col("n2"))
      .withColumn("v1",
        (col("q1").cast("double") - col("s1").cast("double") * col("s1") / col("n1")) /
          (col("n1") - 1))
      .withColumn("v2",
        (col("q2").cast("double") - col("s2").cast("double") * col("s2") / col("n2")) /
          (col("n2") - 1))
      .withColumn("se", sqrt(col("v1") / col("n1") + col("v2") / col("n2")))
      .withColumn("dbar", col("m1") - col("m2"))
      .withColumn("delta", col("m1") * lit(0.05))
      .withColumn("t_lo_milli",
        floor((col("dbar") + col("delta")) / col("se") * 1e3).cast("long"))
      .withColumn("t_up_milli",
        floor((col("delta") - col("dbar")) / col("se") * 1e3).cast("long"))
      .select(col("n1"), col("n2"),
        expr("(s1 * 1000) div n1").as("mean_click_millicent"),
        expr("(s2 * 1000) div n2").as("mean_view_millicent"),
        col("t_lo_milli"), col("t_up_milli"),
        (col("t_lo_milli") > 1644L && col("t_up_milli") > 1644L)
          .as("equivalent_5pct"))
  }

  /** #401 Youden's J operating point on the #209 AUC score relation
    * (score = n_chars, label = lang='en'): sweep every distinct score
    * as a "predict positive if score ≥ t" threshold, J = TPR − FPR in
    * ppm, report the maximizer (ties → the smallest threshold, a total
    * deterministic order on both engines) — the standard way to turn a
    * ranking metric into a deployable cutoff. Cumulative ≥-threshold
    * counts come from the same domain-bounded distinct-score window as
    * #209 (never a per-row global sort); each rate is one truncating
    * ppm division. Scale: |distinct scores| rows end-to-end.
    */
  def evalYouden(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("score")
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val tot = g.agg(sum(col("np")).as("tp_all"), sum(col("nn")).as("tn_all"))
    val wLt = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.crossJoin(broadcast(tot))
      .withColumn("p_ge", col("tp_all") - coalesce(sum(col("np")).over(wLt), lit(0L)))
      .withColumn("n_ge", col("tn_all") - coalesce(sum(col("nn")).over(wLt), lit(0L)))
      .withColumn("tpr_ppm", expr("(p_ge * 1000000) div tp_all"))
      .withColumn("fpr_ppm", expr("(n_ge * 1000000) div tn_all"))
      .withColumn("j_ppm", col("tpr_ppm") - col("fpr_ppm"))
      .orderBy(desc("j_ppm"), asc("score"))
      .limit(1)
      .select(col("score").as("threshold"), col("tp_all").as("n_pos"),
        col("tn_all").as("n_neg"), col("tpr_ppm"), col("fpr_ppm"), col("j_ppm"))
  }

  /** #402 Rolling 8-OBSERVATION OLS beta of each event type's daily
    * value mass against the GLOBAL daily mass (the type's own mass
    * included — the index-includes-the-stock market-beta convention).
    * The frame is rowsBetween(-7, 0) over the type's OBSERVED days:
    * for a type with calendar gaps the window spans more than 8
    * calendar days — the trading-days convention (finance betas roll
    * over sessions, not wall-clock days), chosen deliberately over a
    * rangeBetween epoch-day frame, which would shrink sparse types'
    * samples to the point of constant-x NULLs. beta =
    * (mΣxy − ΣxΣy)/(mΣx² − (Σx)²) over the frame, every sum an exact
    * DECIMAL integer (row products ~1e22 at sf0.1 — int64 dies 10³×
    * earlier), one truncating ppm division; constant-x frames emit
    * NULL. The drift monitor that says which event class is
    * amplifying vs damping aggregate swings. Scale: the global mass
    * is a window sum over the day partitioning of the SAME
    * calendar-bounded daily relation — no second scan, no join.
    */
  def winBeta(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("y"))
      .withColumn("x", sum(col("y")).over(Window.partitionBy("day")))
    val fr = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, 0)
    daily
      .withColumn("m", count(lit(1)).over(fr))
      .withColumn("sx", sum(col("x").cast(dec)).over(fr))
      .withColumn("sy", sum(col("y").cast(dec)).over(fr))
      .withColumn("sxy", sum(col("x").cast(dec) * col("y")).over(fr))
      .withColumn("sxx", sum(col("x").cast(dec) * col("x")).over(fr))
      .withColumn("den", expr("m * sxx - sx * sx"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("m"),
        when(col("den") > 0,
          expr("cast(((m * sxy - sx * sy) * 1000000) div den as long)"))
          .as("beta_ppm"))
      .orderBy("event_type", "day")
  }

  /** #403 Markov entropy rate of the user event process: H =
    * −Σ_i π_i Σ_j P_ij ln P_ij, composing the #296 stationary
    * distribution (reused verbatim — the twin embeds the #296
    * 10-round power-iteration twin as a subquery) with the #220
    * transition counts. The single number that bounds how compressible
    * / predictable user behavior is (upper-bounds any next-event
    * model's achievable log-loss). Per-row terms are exact:
    * n_ij·(⌊ln rt⌋ − ⌊ln n_ij⌋) in nano, the per-state inner sum is an
    * integer, π_i·inner stages DECIMAL, ONE truncating div per state
    * (by rt_i), one terminal downscale. Scale: one user-keyed lag
    * window (the #220 shuffle), then |types|²-row algebra.
    */
  def markovEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(s, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("rt"))
    val inner = pairs.join(broadcast(totals), Seq("from_type"))
      .withColumn("term_nano",
        col("n") * (floor(log(col("rt").cast("double")) * 1e9).cast("long") -
          floor(log(col("n").cast("double")) * 1e9).cast("long")))
      .groupBy("from_type")
      .agg(max(col("rt")).as("rt"), sum(col("term_nano")).as("inner_nano"))
    val pi = EventOps.markovStationary(s, dir)
      .select(col("event_type").as("from_type"), col("pi_micro"))
    inner.join(broadcast(pi), Seq("from_type"))
      .withColumn("h_state",
        expr("(cast(pi_micro as decimal(38,0)) * inner_nano) div rt"))
      .groupBy()
      .agg(count(lit(1)).as("n_states"), sum(col("h_state")).as("hsum"))
      .select(col("n_states"),
        expr("cast(hsum div 1000000 as long)").as("h_nano"),
        expr("cast(hsum div 1000000000000 as long)").as("h_milli"))
  }

  /** [[GlobalPrefix.memoized]] rank over (h_milli, doc_id), shared with
    * the bench prewarm. */
  private[graft] def rankedPruneH(s: SparkSession, dir: String): GlobalPrefix.Prefixed = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .filter(col("nt") > 0L)
      .withColumn("h_milli", expr("(n_chars * 1000) div nt"))
    GlobalPrefix.memoized(s, s"$dir#documents:prune_h",
      docs.select(col("doc_id"), col("n_chars"), col("h_milli")),
      Seq(col("h_milli"), col("doc_id")), GlobalPrefix.Rank)
  }

  /** #404 Perplexity-proxy pruning curve: rank the corpus by a
    * hardness proxy (mean token length in milli — short-token docs
    * prune first), cut into exact global deciles, and report per
    * decile the doc/char mass plus what survives if everything at or
    * below that decile is dropped — the schedule a data-pruning run
    * commits to before spending compute. The global decile uses the
    * [[GlobalPrefix]] rank (NEVER a partitionless window); decile id is
    * exact rank arithmetic (r−1)·10 div n, identical to the twin's
    * ROW_NUMBER formulation because the (h, doc_id) order is total.
    * Scale: one corpus pass for the proxy, the kernel's bounded
    * histogram collect, then 10-row algebra.
    */
  def pruneCurve(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedPruneH(s, dir)
    val n = ranked.totals("r")
    val byDecile = ranked.df
      .withColumn("decile", expr(s"((r - 1) * 10) div ${math.max(n, 1L)}"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        min(col("h_milli")).as("h_min_milli"),
        max(col("h_milli")).as("h_max_milli"))
    val wAbove = Window.orderBy(desc("decile"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byDecile
      .withColumn("kept_docs", coalesce(sum(col("n_docs")).over(wAbove), lit(0L)))
      .withColumn("kept_chars", coalesce(sum(col("chars")).over(wAbove), lit(0L)))
      .select(col("decile"), col("n_docs"), col("chars"),
        col("h_min_milli"), col("h_max_milli"),
        col("kept_docs"), col("kept_chars"))
      .orderBy("decile")
  }

  /** #405 Discrete hazard + Nelson–Aalen cumulative hazard over the
    * #222 Kaplan–Meier risk sets (signup → first purchase, censored at
    * the horizon): hazard_k = d_k/n_k in ppm per duration day and the
    * running Σ of those (truncated per day, then exactly summed — the
    * deterministic cumulative convention). The actionable complement
    * of #222's log-survival curve: hazard is what a retention
    * intervention targets day-by-day. Scale: identical to #222 — one
    * per-user reduction, then all windows on the calendar-bounded
    * duration relation.
    */
  def eventHazard(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val horizon = ev.agg(max(to_date(col("ts"))).as("h"))
    val s0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("tp"))
      .join(s0, Seq("user_id"))
      .filter(col("tp") >= col("t0"))
      .groupBy("user_id").agg(min(col("tp")).as("te"))
    val durs = s0.join(conv, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(horizon))
      .select(
        when(col("te").isNotNull, datediff(to_date(col("te")), to_date(col("t0"))))
          .otherwise(datediff(col("h"), to_date(col("t0")))).cast("long").as("dur"),
        when(col("te").isNotNull, 1L).otherwise(0L).as("ev"))
    val daily = durs.groupBy("dur")
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val wDesc = Window.orderBy(desc("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_risk", sum(col("d") + col("c")).over(wDesc))
      .withColumn("hazard_ppm", expr("(d * 1000000) div n_risk"))
      .withColumn("na_cum_ppm", sum(col("hazard_ppm")).over(wAsc))
      .select(col("dur").as("duration_days"), col("n_risk"),
        col("d").as("n_events"), col("hazard_ppm"), col("na_cum_ppm"))
      .orderBy("duration_days")
  }

  /** #419 Funnel conversion-window sweep: view→click conversion at
    * attribution windows of 1h / 6h / 1d / 3d, each chained to a
    * 7-day click→purchase leg — the tuning curve behind #348's single
    * fixed window (how much conversion does each extra attribution
    * hour actually credit?). Attribution is FIXED (first click after
    * the first view, first purchase after that click — documented
    * difference from #348, whose click must fall INSIDE the window to
    * count as "the" click), so the whole sweep is ONE per-user
    * (dt_click, dt_purchase) relation and the four points are
    * cumulative conditional counts — no per-window recomputation.
    * Scale: three user-keyed min-aggregates chained by user-
    * co-partitioned joins (the #348 shape), then a 4-row readout.
    */
  def funnelWindowSweep(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts").cast("long").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("t")).as("tv"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("t") > col("tv"))
      .groupBy("user_id").agg(min(col("t")).as("tc"), max(col("tv")).as("tv2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("t") > col("tc"))
      .groupBy("user_id").agg(min(col("t")).as("tp"), max(col("tc")).as("tc2"),
        max(col("tv2")).as("tv3"))
    val per = c.select(col("user_id"), (col("tc") - col("tv2")).as("dtc"))
      .join(p.select(col("user_id"), (col("tp") - col("tc2")).as("dtp")),
        Seq("user_id"), "left_outer")
    val nv = v.agg(count(lit(1)).as("n_view"))
    per.crossJoin(broadcast(s.range(1).select(explode(array(
        lit(3600L), lit(21600L), lit(86400L), lit(259200L))).as("w_sec"))))
      .groupBy("w_sec")
      .agg(sum(when(col("dtc") <= col("w_sec"), 1L).otherwise(0L))
          .as("n_click_w"),
        sum(when(col("dtc") <= col("w_sec") &&
          col("dtp").isNotNull && col("dtp") <= 604800L, 1L).otherwise(0L))
          .as("n_full_w"))
      .crossJoin(broadcast(nv))
      .select(col("w_sec"), col("n_view"), col("n_click_w"), col("n_full_w"),
        expr("(n_click_w * 1000000) div n_view").as("click_conv_ppm"),
        expr("(n_full_w * 1000000) div n_view").as("full_conv_ppm"))
      .orderBy("w_sec")
  }

  /** #420 Trace unicity (de Montjoye et al. 2013 applied to event
    * logs): the fraction of users uniquely re-identifiable from just
    * their first k event types (k = 1, 2, 3) — the privacy-risk
    * readout the #272/#277/#280 k-anonymity/l-diversity/t-closeness
    * family doesn't cover (those audit a RELEASED aggregate; unicity
    * audits the raw trace). A trace element is type@hour-of-day — the
    * spatiotemporal-style point of the original study (type alone has
    * a 5-symbol alphabet, structurally never unique at any user count;
    * the 120-symbol type×hour alphabet is where re-identification
    * risk actually lives). Users with fewer than k events are
    * excluded at level k (a shorter trace is a different, weaker
    * quasi-identifier). One user-keyed window pass pivots the first
    * three elements; each level is a trace-grain count-of-counts.
    * Scale: the trace relation is user-cardinality; the
    * count-of-counts aggregates are trace-domain-bounded (≤120^k).
    */
  def privacyUnicity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val el = concat_ws("@", col("event_type"),
      hour(col("ts")).cast("string"))
    val first3 = Tables.events(s, dir)
      .withColumn("e", el)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1, col("e"))).as("t1"),
        max(when(col("rn") === 2, col("e"))).as("t2"),
        max(when(col("rn") === 3, col("e"))).as("t3"))
    def level(k: Int, trace: org.apache.spark.sql.Column,
        ok: org.apache.spark.sql.Column): DataFrame =
      first3.filter(ok).select(trace.as("trace"))
        .groupBy("trace").agg(count(lit(1)).as("c"))
        .agg(lit(k.toLong).as("k"), sum(col("c")).as("n_users"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_unique"))
    level(1, col("t1"), col("t1").isNotNull)
      .unionAll(level(2, concat_ws(">", col("t1"), col("t2")),
        col("t2").isNotNull))
      .unionAll(level(3, concat_ws(">", col("t1"), col("t2"), col("t3")),
        col("t3").isNotNull))
      .withColumn("unicity_ppm", expr("(n_unique * 1000000) div n_users"))
      .orderBy("k")
  }

  /** #424 Group-sequential A/B monitor (O'Brien–Fleming, K = 5 looks):
    * the click-vs-view mean-value z statistic recomputed at five
    * equally-spaced calendar looks against the classic OBF two-sided
    * 5% boundaries (4.562, 3.226, 2.634, 2.281, 2.040 — Pocock 1982's
    * table, pinned as milli literals) — the peeking-safe monitoring
    * rule an experimentation platform runs instead of one fixed-horizon
    * #225 test. Look cutoffs derive from the observed time range by
    * integer arithmetic (no fixture-date literals); each look's
    * n/Σ/Σ² are exact integer cents via ONE explode-to-look pass
    * (the #414 sweep shape — a look's data is a prefix, so conditional
    * sums per look need no recomputation); z is the mirrored double
    * sequence floored to milli; the stop decision is pure integer
    * comparison plus a running any-rejection window over 5 rows.
    */
  def abSequential(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), cents.as("x"), col("ts").cast("long").as("t"))
    val range = ev.agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
    val looks = s.range(1).select(
      explode(array((1 to 5).map(lit): _*)).as("k"))
    val boundaries = Map(1 -> 4562L, 2 -> 3226L, 3 -> 2634L, 4 -> 2281L,
      5 -> 2040L)
    val bCol = (1 to 5).foldLeft(lit(0L)) { (acc, k) =>
      when(col("k") === k, lit(boundaries(k))).otherwise(acc)
    }
    val perLook = ev.crossJoin(broadcast(range))
      .crossJoin(broadcast(looks))
      .filter(col("t") <= col("t0") + expr("((t1 - t0 + 1) * k) div 5"))
      .groupBy("k")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("event_type") === "click", col("x")).otherwise(0L)).as("s1"),
        sum(when(col("event_type") === "click", col("x") * col("x"))
          .otherwise(0L)).as("q1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n2"),
        sum(when(col("event_type") === "view", col("x")).otherwise(0L)).as("s2"),
        sum(when(col("event_type") === "view", col("x") * col("x"))
          .otherwise(0L)).as("q2"))
      .withColumn("m1", col("s1").cast("double") / col("n1"))
      .withColumn("m2", col("s2").cast("double") / col("n2"))
      .withColumn("v1",
        (col("q1").cast("double") - col("s1").cast("double") * col("s1") / col("n1")) /
          (col("n1") - 1))
      .withColumn("v2",
        (col("q2").cast("double") - col("s2").cast("double") * col("s2") / col("n2")) /
          (col("n2") - 1))
      .withColumn("z_milli",
        floor(abs(col("m1") - col("m2")) /
          sqrt(col("v1") / col("n1") + col("v2") / col("n2")) * 1e3)
          .cast("long"))
      .withColumn("boundary_milli", bCol)
      .withColumn("reject", col("z_milli") > col("boundary_milli"))
    perLook
      .withColumn("stopped_by_now",
        max(col("reject").cast("int")).over(
          Window.orderBy("k")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) === 1)
      .select(col("k").cast("long").as("look"), col("n1"), col("n2"),
        col("z_milli"), col("boundary_milli"), col("reject"),
        col("stopped_by_now"))
      .orderBy("look")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ab_sequential" -> (abSequential _),
    "q_funnel_window_sweep" -> (funnelWindowSweep _),
    "q_privacy_unicity" -> (privacyUnicity _),
    "q_stats_tost" -> (statsTost _),
    "q_eval_youden" -> (evalYouden _),
    "q_win_beta" -> (winBeta _),
    "q_markov_entropy_rate" -> (markovEntropyRate _),
    "q_prune_curve" -> (pruneCurve _),
    "q_event_hazard" -> (eventHazard _))

  val oracles: Map[String, String] = Map(
    "q_ab_sequential" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(FLOOR("value" * 100 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
        |  FROM events WHERE event_type IN ('click', 'view')),
        |rg AS (SELECT MIN(t) AS t0, MAX(t) AS t1 FROM ev),
        |looks AS (SELECT unnest([1, 2, 3, 4, 5]) AS k),
        |g AS (
        |  SELECT looks.k,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN x ELSE 0 END)
        |      AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN x * x ELSE 0 END)
        |      AS BIGINT) AS q1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN x ELSE 0 END)
        |      AS BIGINT) AS s2,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN x * x ELSE 0 END)
        |      AS BIGINT) AS q2
        |  FROM ev, rg, looks
        |  WHERE ev.t <= rg.t0 + ((rg.t1 - rg.t0 + 1) * looks.k) // 5
        |  GROUP BY looks.k),
        |z AS (
        |  SELECT k, n1, n2,
        |    CAST(FLOOR(abs(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |      / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
        |          / (n1 - 1)) / n1
        |        + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
        |          / (n2 - 1)) / n2) * 1e3) AS BIGINT) AS z_milli,
        |    CASE k WHEN 1 THEN 4562 WHEN 2 THEN 3226 WHEN 3 THEN 2634
        |      WHEN 4 THEN 2281 ELSE 2040 END AS boundary_milli
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS look, n1, n2, z_milli,
        |  CAST(boundary_milli AS BIGINT) AS boundary_milli,
        |  z_milli > boundary_milli AS reject,
        |  MAX(CASE WHEN z_milli > boundary_milli THEN 1 ELSE 0 END)
        |    OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    = 1 AS stopped_by_now
        |FROM z ORDER BY look""".stripMargin,
    "q_funnel_window_sweep" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
        |  FROM events),
        |v AS (
        |  SELECT user_id, MIN(t) AS tv FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.t) AS tc, MAX(v.tv) AS tv2
        |  FROM ev e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.t > v.tv
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.t) AS tp, MAX(c.tc) AS tc2
        |  FROM ev e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.t > c.tc
        |  GROUP BY e.user_id),
        |per AS (
        |  SELECT c.user_id, c.tc - c.tv2 AS dtc, p.tp - p.tc2 AS dtp
        |  FROM c LEFT JOIN p ON p.user_id = c.user_id),
        |nv AS (SELECT COUNT(*) AS n_view FROM v),
        |ws AS (SELECT unnest([3600, 21600, 86400, 259200]) AS w_sec),
        |agg AS (
        |  SELECT ws.w_sec,
        |    CAST(SUM(CASE WHEN per.dtc <= ws.w_sec THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_click_w,
        |    CAST(SUM(CASE WHEN per.dtc <= ws.w_sec AND per.dtp IS NOT NULL
        |      AND per.dtp <= 604800 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_w
        |  FROM per CROSS JOIN ws GROUP BY ws.w_sec)
        |SELECT CAST(w_sec AS BIGINT) AS w_sec, nv.n_view, n_click_w, n_full_w,
        |  (n_click_w * 1000000) // nv.n_view AS click_conv_ppm,
        |  (n_full_w * 1000000) // nv.n_view AS full_conv_ppm
        |FROM agg, nv ORDER BY w_sec""".stripMargin,
    "q_privacy_unicity" -> {
      def level(k: Int, trace: String, ok: String): String =
        s"""SELECT $k AS k, CAST(SUM(c) AS BIGINT) AS n_users,
           |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_unique
           |FROM (SELECT $trace AS trace, COUNT(*) AS c
           |      FROM first3 WHERE $ok GROUP BY 1)""".stripMargin
      s"""WITH seq AS (
         |  SELECT user_id,
         |    event_type || '@' ||
         |      CAST(CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS VARCHAR)
         |      AS e,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM events),
         |first3 AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN rn = 1 THEN e END) AS t1,
         |    MAX(CASE WHEN rn = 2 THEN e END) AS t2,
         |    MAX(CASE WHEN rn = 3 THEN e END) AS t3
         |  FROM seq WHERE rn <= 3 GROUP BY user_id),
         |u AS (
         |  ${level(1, "t1", "t1 IS NOT NULL")}
         |  UNION ALL
         |  ${level(2, "t1 || '>' || t2", "t2 IS NOT NULL")}
         |  UNION ALL
         |  ${level(3, "t1 || '>' || t2 || '>' || t3", "t3 IS NOT NULL")})
         |SELECT k, n_users, n_unique,
         |  (n_unique * 1000000) // n_users AS unicity_ppm
         |FROM u ORDER BY k""".stripMargin
    },
    "q_stats_tost" ->
      """WITH g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(FLOOR("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
        |    CAST(SUM(CAST(FLOOR("value" * 100 + 0.5) AS BIGINT)
        |      * CAST(FLOOR("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS q
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY event_type),
        |p AS (
        |  SELECT
        |    MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
        |    MAX(CASE WHEN event_type = 'click' THEN sv END) AS s1,
        |    MAX(CASE WHEN event_type = 'click' THEN q END) AS q1,
        |    MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
        |    MAX(CASE WHEN event_type = 'view' THEN sv END) AS s2,
        |    MAX(CASE WHEN event_type = 'view' THEN q END) AS q2
        |  FROM g),
        |c AS (
        |  SELECT n1, n2, s1, s2,
        |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
        |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2
        |  FROM p),
        |t AS (
        |  SELECT n1, n2, s1, s2, m1, m2,
        |    sqrt(v1 / n1 + v2 / n2) AS se,
        |    m1 - m2 AS dbar, m1 * 0.05 AS delta
        |  FROM c),
        |f AS (
        |  SELECT n1, n2, s1, s2,
        |    CAST(FLOOR((dbar + delta) / se * 1e3) AS BIGINT) AS t_lo_milli,
        |    CAST(FLOOR((delta - dbar) / se * 1e3) AS BIGINT) AS t_up_milli
        |  FROM t)
        |SELECT n1, n2,
        |  (s1 * 1000) // n1 AS mean_click_millicent,
        |  (s2 * 1000) // n2 AS mean_view_millicent,
        |  t_lo_milli, t_up_milli,
        |  (t_lo_milli > 1644 AND t_up_milli > 1644) AS equivalent_5pct
        |FROM f""".stripMargin,
    "q_eval_youden" ->
      """WITH g AS (
        |  SELECT n_chars AS score,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM documents GROUP BY n_chars),
        |tot AS (
        |  SELECT CAST(SUM(np) AS BIGINT) AS tp_all,
        |    CAST(SUM(nn) AS BIGINT) AS tn_all
        |  FROM g),
        |cum AS (
        |  SELECT score,
        |    tot.tp_all - COALESCE(SUM(np) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_ge,
        |    tot.tn_all - COALESCE(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_ge,
        |    tot.tp_all, tot.tn_all
        |  FROM g, tot),
        |j AS (
        |  SELECT score, tp_all, tn_all,
        |    CAST((p_ge * 1000000) // tp_all AS BIGINT) AS tpr_ppm,
        |    CAST((n_ge * 1000000) // tn_all AS BIGINT) AS fpr_ppm
        |  FROM cum)
        |SELECT score AS threshold, tp_all AS n_pos, tn_all AS n_neg,
        |  tpr_ppm, fpr_ppm, tpr_ppm - fpr_ppm AS j_ppm
        |FROM j ORDER BY tpr_ppm - fpr_ppm DESC, score ASC LIMIT 1""".stripMargin,
    "q_win_beta" ->
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(FLOOR("value" * 1e6) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, day, y,
        |    CAST(SUM(y) OVER (PARTITION BY day) AS BIGINT) AS x
        |  FROM d),
        |s AS (
        |  SELECT event_type, day,
        |    COUNT(*) OVER fr AS m,
        |    SUM(CAST(x AS HUGEINT)) OVER fr AS sx,
        |    SUM(CAST(y AS HUGEINT)) OVER fr AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) OVER fr AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) OVER fr AS sxx
        |  FROM x WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, m,
        |  CASE WHEN m * sxx - sx * sx > 0 THEN
        |    CAST(((m * sxy - sx * sy) * 1000000) // (m * sxx - sx * sx)
        |      AS BIGINT) END AS beta_ppm
        |FROM s ORDER BY event_type, day""".stripMargin,
    "q_markov_entropy_rate" ->
      s"""WITH pi AS (
         |  SELECT event_type AS from_type, pi_micro
         |  FROM (${EventOps.oracles("q_markov_stationary")})),
         |seq AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS from_type
         |  FROM events),
         |pairs AS (
         |  SELECT from_type, event_type AS to_type, COUNT(*) AS n
         |  FROM seq WHERE from_type IS NOT NULL GROUP BY from_type, event_type),
         |totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS rt
         |           FROM pairs GROUP BY from_type),
         |inner_t AS (
         |  SELECT p.from_type, MAX(t.rt) AS rt,
         |    CAST(SUM(p.n * (CAST(FLOOR(LN(CAST(t.rt AS DOUBLE)) * 1e9) AS BIGINT)
         |      - CAST(FLOOR(LN(CAST(p.n AS DOUBLE)) * 1e9) AS BIGINT)))
         |      AS BIGINT) AS inner_nano
         |  FROM pairs p JOIN totals t USING (from_type)
         |  GROUP BY p.from_type),
         |h AS (
         |  SELECT i.from_type,
         |    (CAST(pi.pi_micro AS HUGEINT) * i.inner_nano) // i.rt AS h_state
         |  FROM inner_t i JOIN pi USING (from_type))
         |SELECT COUNT(*) AS n_states,
         |  CAST(SUM(h_state) // 1000000 AS BIGINT) AS h_nano,
         |  CAST(SUM(h_state) // 1000000000000 AS BIGINT) AS h_milli
         |FROM h""".stripMargin,
    "q_prune_curve" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    (n_chars * 1000) // len(string_split(text, ' ')) AS h_milli
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |r AS (
        |  SELECT doc_id, n_chars, h_milli,
        |    ROW_NUMBER() OVER (ORDER BY h_milli, doc_id) AS r,
        |    COUNT(*) OVER () AS n
        |  FROM t),
        |d AS (
        |  SELECT ((r - 1) * 10) // n AS decile, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars,
        |    MIN(h_milli) AS h_min_milli, MAX(h_milli) AS h_max_milli
        |  FROM r GROUP BY 1)
        |SELECT CAST(decile AS BIGINT) AS decile, n_docs, chars,
        |  h_min_milli, h_max_milli,
        |  CAST(COALESCE(SUM(n_docs) OVER (ORDER BY decile DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS kept_docs,
        |  CAST(COALESCE(SUM(chars) OVER (ORDER BY decile DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS kept_chars
        |FROM d ORDER BY decile""".stripMargin,
    "q_event_hazard" ->
      """WITH h AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
        |s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, min(e.ts) AS te
        |  FROM events e JOIN s0 ON s0.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s0.t0
        |  GROUP BY e.user_id),
        |durs AS (
        |  SELECT CASE WHEN conv.te IS NOT NULL
        |      THEN datediff('day', CAST(s0.t0 AS DATE), CAST(conv.te AS DATE))
        |      ELSE datediff('day', CAST(s0.t0 AS DATE), h.h) END AS dur,
        |    CASE WHEN conv.te IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM s0 LEFT JOIN conv USING (user_id) CROSS JOIN h),
        |daily AS (
        |  SELECT CAST(dur AS BIGINT) AS dur, CAST(SUM(ev) AS BIGINT) AS d,
        |    CAST(SUM(1 - ev) AS BIGINT) AS c
        |  FROM durs GROUP BY dur),
        |r AS (
        |  SELECT dur, d,
        |    CAST(SUM(d + c) OVER (ORDER BY dur DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_risk
        |  FROM daily),
        |z AS (
        |  SELECT dur, n_risk, d, (d * 1000000) // n_risk AS hazard_ppm
        |  FROM r)
        |SELECT dur AS duration_days, n_risk, d AS n_events, hazard_ppm,
        |  CAST(SUM(hazard_ppm) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS na_cum_ppm
        |FROM z ORDER BY duration_days""".stripMargin)
}
