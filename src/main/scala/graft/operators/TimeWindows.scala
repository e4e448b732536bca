package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Det, Tables}

/** §2.9 batch forms of the streaming time windows — tumbling, sliding and
  * session windows over the event stream. The same expressions run
  * unchanged under readStream + watermark (see graft.streaming); batch
  * versions are the oracle-checkable surface. Grouped sums follow the Det
  * decimal policy.
  */
object TimeWindows {

  /** #51 1-hour tumbling window per event type. */
  def windowTumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("bucket_start", "event_type")

  /** #52 1-hour window sliding every 15 minutes (4× row expansion via
    * Expand — the standard Spark sliding-window plan).
    */
  def windowSliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket_start"), col("event_type"), col("n_events"))
      .orderBy("bucket_start", "event_type")

  /** #53 session windows: 30-minute inactivity gap per user. Sessions are
    * half-open [first, last+gap) — an event exactly 30 minutes after the
    * previous one starts a NEW session, mirrored in the oracle's
    * gaps-and-islands formulation with a >= comparison.
    */
  def windowSession(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** Zero-filled calendar scaffold + linear interpolation — the published
    * time-series extract shape: every hour between the corpus min and max
    * appears exactly once; hours with no `purchase` events carry
    * n_events = 0 and a value linearly interpolated between the nearest
    * observed hours (edges clamp to the nearest observation). The
    * scaffold bounds come from one 1-row aggregate cross-joined
    * (broadcast) into the sequence explode, so the shape is scan + 1
    * aggregate + 1 window pass at any scale.
    *
    * The interpolation window is GLOBAL (unpartitioned) by necessity —
    * gap edges must see across any partition boundary — and is SAFE by
    * construction: it runs over the hourly SCAFFOLD, whose cardinality
    * is hours-in-range (720 at sf0.1, ~10⁵ for a decade), independent of
    * event count. The 100 TB of raw events are reduced by the hour
    * aggregate BEFORE the window; the single-partition stage never sees
    * more than ~10⁵ rows. (Contrast the [[GlobalPrefix]] kernel, needed
    * when the windowed relation itself scales with the data.)
    */
  def tsGapfill(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
    val bounds = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
    val scaffold = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("hour")
    val filled = scaffold.join(hourly, Seq("hour"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      // epoch hours for the interpolation weights
      .withColumn("h", (unix_timestamp(col("hour")) / 3600).cast("long"))
      .withColumn("prev_v", last(col("sum_value"), ignoreNulls = true)
        .over(w.rowsBetween(Long.MinValue, 0)))
      .withColumn("prev_h", last(when(col("sum_value").isNotNull, col("h")), ignoreNulls = true)
        .over(w.rowsBetween(Long.MinValue, 0)))
      .withColumn("next_v", first(col("sum_value"), ignoreNulls = true)
        .over(w.rowsBetween(0, Long.MaxValue)))
      .withColumn("next_h", first(when(col("sum_value").isNotNull, col("h")), ignoreNulls = true)
        .over(w.rowsBetween(0, Long.MaxValue)))
    filled.select(col("hour"), col("n_events"),
      round(
        when(col("sum_value").isNotNull, col("sum_value"))
          .when(col("prev_v").isNull, col("next_v"))
          .when(col("next_v").isNull, col("prev_v"))
          .otherwise(col("prev_v") + (col("next_v") - col("prev_v"))
            * (col("h") - col("prev_h")) / (col("next_h") - col("prev_h"))), 6)
        .as("value_filled"))
      .orderBy("hour")
  }

  /** Histogram: fixed-width binning of order totals by explicit floor
    * arithmetic (engine-portable, unlike width_bucket dialects), with
    * empty bins zero-filled from a bin scaffold.
    */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    val width = 50000
    val nBins = 12
    val binned = Tables.orders(s, dir)
      .withColumn("bin", least(floor(col("o_totalprice") / width).cast("int"), lit(nBins - 1)))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val scaffold = s.range(nBins).select(col("id").cast("int").as("bin"))
    scaffold.join(binned, Seq("bin"), "left")
      .select(col("bin"),
        (col("bin") * width).cast("double").as("lo"),
        ((col("bin") + 1) * width).cast("double").as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bin")
  }

  /** OHLC downsampling: per (event_type, hour), the opening value
    * (first by (ts, event_id)), high, low, closing value (last), and
    * the event count — the classic time-series resample. Open/close
    * are picked by two row_number windows over the SAME
    * (event_type, hour) partitioning (one extra sort, no extra
    * shuffle — the tiebreak on event_id makes both picks total-order
    * deterministic), then folded into the high/low aggregate with
    * max(when(rn=1)). Everything is key-partitioned; no global step.
    */
  def tsOhlc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hour = date_trunc("hour", col("ts"))
    val base = Tables.events(s, dir)
      .select(col("event_type"), hour.as("hour"), col("ts"), col("event_id"), col("value"))
    val wAsc = Window.partitionBy("event_type", "hour").orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("event_type", "hour").orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "hour")
      .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n"))
      .orderBy("event_type", "hour")
  }

  /** Time-weighted average value (TWAP) per user: each event's value
    * holds until the next event, so the average weights by holding
    * duration, not event count — the standard correction when event
    * arrival is bursty. Weights are exact integer (micro-value ×
    * duration-seconds) products summed in int64, with ONE double
    * division at the end; users whose observation span is zero are
    * excluded (no 0-division path on either engine). One lead window
    * + one group aggregate, both on the user_id partitioning.
    */
  def tsTwap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("sec", col("ts").cast("long"))
      .withColumn("dur", lead(col("sec"), 1).over(w) - col("sec"))
      .filter(col("dur").isNotNull)
      .withColumn("vmicro", floor(col("value") * 1e6).cast("long"))
      .groupBy("user_id")
      .agg((count(lit(1)) + 1).as("n_events"),
        sum(col("dur")).as("span_sec"),
        sum(col("vmicro") * col("dur")).as("svd"))
      .filter(col("span_sec") > 0)
      .select(col("user_id"), col("n_events"), col("span_sec"),
        round(col("svd").cast("double") / col("span_sec") / 1e6, 6).as("twap"))
      .orderBy("user_id")
  }

  /** Truncated exponential moving average per user: the current value
    * weighted 128, each of the 7 preceding values at half the previous
    * weight (… 64, 32, …, 1) — α = 1/2 with an 8-row horizon. Because
    * the weights are powers of two and values are int64 micros, the
    * weighted numerator and the present-weight denominator are EXACT
    * integers on both engines (no float recurrence to diverge); the
    * single division happens at the end. One window pass: the 8 lag()
    * calls share the user_id partitioning, and the frame never leaves
    * the key partition — no global step at any scale.
    */
  def tsEwma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 1e6).cast("long").as("vmicro"))
    val lags = (0 to 7).map { k =>
      val wt = 1L << (7 - k)
      val v = if (k == 0) col("vmicro") else lag(col("vmicro"), k).over(w)
      (v * wt, when(v.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    base
      .withColumn("num", lags.map(p => coalesce(p._1, lit(0L))).reduce(_ + _))
      .withColumn("den", lags.map(_._2).reduce(_ + _))
      .select(col("user_id"), col("event_id"),
        round(col("num").cast("double") / col("den") / 1e6, 6).as("ewma"))
      .orderBy("user_id", "event_id")
  }

  /** #386 Exponentially-weighted mean AND variance per user — the risk/
    * volatility monitor next to [[tsEwma]]'s mean-only smoother: same
    * dyadic truncated-horizon weights (α = 1/2, 8 lags, weights 2^(7−k)
    * — exact integers), with the variance in the EXACT integer identity
    * var = (W·Σwv² − (Σwv)²)/W², so there is no float recurrence and no
    * mean-subtraction rounding anywhere; one truncating division per
    * output, mirrored in the twin. Emitted in milli² units (div 1e6):
    * the micro² variance tops out near 1e18 for |value| ≤ $1000 — inside
    * int64 but close enough that the readout downscales (the
    * q_ts_alpha_select wrap lesson). One window pass on the user_id
    * partitioning.
    */
  def tsEwvar(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 1e6).cast("long").as("vmicro"))
    val lags = (0 to 7).map { k =>
      val wt = 1L << (7 - k)
      val v = if (k == 0) col("vmicro") else lag(col("vmicro"), k).over(w)
      (coalesce(v.cast(dec) * wt, lit(0L).cast(dec)),
        coalesce(v.cast(dec) * v * wt, lit(0L).cast(dec)),
        when(v.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    base
      .withColumn("swv", lags.map(_._1).reduce(_ + _))
      .withColumn("swv2", lags.map(_._2).reduce(_ + _))
      .withColumn("den", lags.map(_._3).reduce(_ + _))
      .select(col("user_id"), col("event_id"),
        expr("cast(swv div den as long)").as("ewm_micro"),
        expr("cast(((den * swv2 - swv * swv) div (den * den)) " +
          "div 1000000 as long)").as("ewvar_milli2"))
      .orderBy("user_id", "event_id")
  }

  /** Union-of-intervals coverage per user: each event opens a 30-minute
    * activity interval; overlapping/touching intervals merge and the
    * total covered seconds + merged-island count are reported. The
    * sweep is the classic closed-form: an interval starts a new island
    * iff its start exceeds the running max of all earlier ends, and the
    * island id is the running sum of those flags — two window passes
    * over the SAME user_id partitioning (zero extra shuffles), then one
    * (user, island) aggregate. All arithmetic is integer seconds.
    */
  def tsCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
      .withColumn("fin", col("sec") + 1800L)
      .withColumn("prev_max_fin", max(col("fin")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_fin").isNull || col("sec") > col("prev_max_fin"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy("user_id", "island")
      .agg(min(col("sec")).as("lo"), max(col("fin")).as("hi"))
      .groupBy("user_id")
      .agg(sum(col("hi") - col("lo")).as("covered_sec"),
        count(lit(1)).as("n_islands"))
      .orderBy("user_id")
  }

  /** One-sided CUSUM change-point scan over daily value mass per event
    * type. The recursive definition S_d = max(0, S_{d-1} + (x_d − c))
    * is rewritten in its closed form S_d = P_d − min_{j≤d} P_j (P =
    * prefix sum of deviations), which needs only a cumulative sum and a
    * cumulative min — both plain window functions on the event_type
    * partitioning, no driver-side recursion. Deviations are exact
    * int64 micros against the per-type integer mean (floor), and the
    * alarm fires when S exceeds one mean day's mass. The windowed
    * relation is days×types — bounded by calendar time, not event
    * count, so the window stage stays small at any corpus size.
    */
  def tsCusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val stats = daily.groupBy("event_type")
      .agg(expr("sum(x) div count(1)").as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("p", sum(col("x") - col("c")).over(w))
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
      .select(col("event_type"), col("day"), col("s").as("cusum_micro"),
        (col("s") > col("c")).as("alarm"))
      .orderBy("event_type", "day")
  }

  /** Lag-k autocorrelation (k = 1, 2, 3) of the hourly event-count
    * series per event type — the seasonality probe run before picking
    * a forecast window. Counts are exact integers, so all five
    * correlation sums are int64 and the Pearson quotient is one double
    * expression at the end (identical on both engines). One hourly
    * aggregate, one window pass for the three lags (shared
    * partitioning), one (type, k) aggregate over the stacked lags.
    */
  def tsAcf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("hour")
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("x"))
    hourly
      .withColumn("l1", lag(col("x"), 1).over(w))
      .withColumn("l2", lag(col("x"), 2).over(w))
      .withColumn("l3", lag(col("x"), 3).over(w))
      .select(col("event_type"),
        expr("stack(3, 1, l1, 2, l2, 3, l3) AS (k, y)"), col("x"))
      .filter(col("y").isNotNull)
      // DECIMAL(38,0) sums (DuckDB twin: HUGEINT): hourly counts grow
      // linearly with the corpus, so the x² terms outgrow int64 long
      // before the series length does — decimal keeps every sum exact,
      // and the only doubles are the two variance factors cast at the
      // very end (identical IEEE ops on both engines).
      .withColumn("xd", col("x").cast(DecimalType(38, 0)))
      .withColumn("yd", col("y").cast(DecimalType(38, 0)))
      .groupBy("event_type", "k")
      .agg(count(lit(1)).as("n"), sum(col("xd")).as("sx"), sum(col("yd")).as("sy"),
        sum(col("xd") * col("yd")).as("sxy"),
        sum(col("xd") * col("xd")).as("sxx"), sum(col("yd") * col("yd")).as("syy"))
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("varx", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("vary", (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
      .filter(col("varx") > 0 && col("vary") > 0)
      .select(col("event_type"), col("k"), col("n"),
        round(col("num") / sqrt(col("varx") * col("vary")), 6).as("acf"))
      .orderBy("event_type", "k")
  }

  /** Week-over-week percent change of daily value mass per event type —
    * the period-over-period comparison that respects weekly seasonality
    * (lag 7 on the daily series compares Monday to Monday). Daily
    * masses are exact int64 micros; the change ratio is the single
    * terminal double, 6dp, with zero-baseline days structurally
    * excluded on both engines. One key-partitioned lag window over the
    * calendar-bounded daily relation.
    */
  def tsPctChange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .withColumn("prev", lag(col("x"), 7).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= 0L)
      .select(col("event_type"), col("day"), col("x").as("mass_micro"),
        round((col("x") - col("prev")).cast("double") / col("prev"), 6).as("wow_change"))
      .orderBy("event_type", "day")
  }

  /** Additive seasonal decomposition of the daily event mass:
    * trend = centered 7-day moving average (only days with a full
    * window), seasonal = per-day-of-week mean of (mass − trend) over
    * trend-valid days, remainder = mass − trend − seasonal. The
    * classic STL-lite read before alerting on "weekly dip or real
    * drop?".
    *
    * The 7-day window runs over the DAILY relation — calendar-bounded
    * (≤366 rows/year regardless of corpus size; same argument as
    * [[tsGapfill]]'s hourly scaffold), with the 100 TB of raw events
    * reduced by the day aggregate before the window. Trend stays in
    * exact integer micros via `sum7 div 7` — Spark's `div` truncates
    * toward zero, exactly matching DuckDB's integer `//` (also
    * truncating: -10 // 7 = -1) for ANY sign of the daily mass, so
    * Spark and the oracle agree bit-for-bit without a floor/trunc
    * mismatch; the seasonal
    * mean is the single
    * terminal double (4dp), mirrored in the oracle; the 7-row seasonal
    * table broadcasts back. Edge days (first/last 3) keep their mass
    * with NULL trend/remainder — honest boundary, not zero-fill.
    */
  def tsSeasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("mass_micro"))
    val w7 = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(-3, 3)
    val t = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("sum7", sum(col("mass_micro")).over(w7))
      .withColumn("trend_micro",
        when(col("n7") === 7, expr("sum7 div 7")))
      .withColumn("dow", dayofweek(col("day")) - 1) // 0 = Sunday, both engines
    val seas = t.filter(col("trend_micro").isNotNull)
      .groupBy("dow")
      .agg(sum(col("mass_micro") - col("trend_micro")).as("detr_sum"),
        count(lit(1)).as("n_valid"))
    t.join(broadcast(seas), Seq("dow"), "left")
      .select(col("day"), col("mass_micro"), col("trend_micro"),
        round(col("detr_sum").cast("double") / col("n_valid"), 4).as("seasonal"),
        round((col("mass_micro") - col("trend_micro")).cast("double") -
          col("detr_sum").cast("double") / col("n_valid"), 4).as("remainder"))
      .orderBy("day")
  }

  /** Theil–Sen robust trend: the median of pairwise slopes between all
    * day pairs of the daily mass series — the outlier-proof answer to
    * "is volume trending up?", unmoved by a single spiky day that drags
    * least-squares. The pair join runs over the DAILY relation —
    * calendar-bounded (≤366 rows/year ⇒ ≤67k pairs/year regardless of
    * corpus size, the same argument as [[tsSeasonal]]) — so the
    * quadratic is in calendar days, never in events. Slopes are exact
    * dy_micro/dx_day doubles; the median uses percentile() — exact
    * element at the odd pair counts a contiguous day range produces
    * (n·(n−1)/2 is odd for n ≡ 2, 3 (mod 4)) — and rounds to 4dp, which
    * also absorbs any interpolation-formula ulp at even counts.
    */
  def tsTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("m"))
      .withColumn("d", datediff(col("day"), lit("2024-01-01").cast("date")))
    val a = daily.select(col("d").as("da"), col("m").as("ma"))
    val b = daily.select(col("d").as("db"), col("m").as("mb"))
    a.join(b, col("da") < col("db"))
      .select(((col("mb") - col("ma")).cast("double") /
        (col("db") - col("da")).cast("double")).as("slope"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 4).as("slope_micro_per_day"))
  }

  /** #255 Holt double exponential smoothing (level + trend) of the
    * daily event mass per type, α = β = 1/2 so every step is one
    * integer halving: l' = (y + l + b) div 2, b' = (l' − l + b) div 2,
    * init (l₁, b₁) = (y₁, y₂ − y₁), plus the 3-day-ahead forecast
    * l + 3b. Genuinely recursive (no closed form once both level and
    * trend smooth), so the fold runs as `aggregate()` over the
    * per-key COLLECTED daily series — safe because the daily relation
    * is calendar-bounded (≤366 values/key/year; [[tsSeasonal]]'s
    * boundedness argument), with the 100 TB of raw events reduced by
    * the day aggregate BEFORE anything is collected. Trends go
    * negative in the fixture, which is exactly where the
    * Spark-`div` = DuckDB-`//` truncate-toward-zero agreement (the
    * [[tsSeasonal]] convention) is load-bearing; the twin runs the
    * identical recurrence as a recursive CTE.
    */
  def tsHolt(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("sd"))
      .filter(size(col("sd")) >= 2)
      .withColumn("s", expr("transform(sd, p -> p.x)"))
      .withColumn("st", expr(
        """aggregate(slice(s, 2, size(s) - 1),
          |  named_struct('l', s[0], 'b', s[1] - s[0]),
          |  (acc, e) -> named_struct(
          |    'l', (e + acc.l + acc.b) div 2,
          |    'b', (((e + acc.l + acc.b) div 2) - acc.l + acc.b) div 2))"""
          .stripMargin))
      .select(col("event_type"), size(col("sd")).cast("long").as("n_days"),
        col("st.l").as("level_micro"), col("st.b").as("trend_micro"),
        (col("st.l") + lit(3L) * col("st.b")).as("forecast3_micro"))
      .orderBy("event_type")

  /** #265 Robust daily anomaly flags: a day is anomalous for its event
    * type when |mass − median| > 3·MAD — the outlier rule that survives
    * the outliers themselves (mean/stddev would be dragged by the very
    * spikes it hunts; cf. the per-value IQR variant in
    * [[QualityOps]]). Median and MAD are EXACT low-median-pair
    * integers ((l[(n+1)/2] + l[(n+2)/2]) div 2 over the sorted list),
    * computed per key on the COLLECTED daily series — the same
    * calendar-bounded collect the Holt fold justifies: ≤366 values per
    * key per year, reduced from the raw events by the day aggregate
    * first. Everything stays int64 micro; both engines index the same
    * sorted lists.
    */
  def tsAnomaly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(col("x"))).as("xs"))
      .withColumn("med", expr(
        "(element_at(xs, cast((size(xs) + 1) div 2 as int)) + element_at(xs, cast((size(xs) + 2) div 2 as int))) div 2"))
      .withColumn("devs", expr("array_sort(transform(xs, v -> abs(v - med)))"))
      .withColumn("mad", expr(
        "(element_at(devs, cast((size(devs) + 1) div 2 as int)) + element_at(devs, cast((size(devs) + 2) div 2 as int))) div 2"))
      .select(col("event_type"), size(col("xs")).cast("long").as("n_days"),
        col("med").as("median_micro"), col("mad").as("mad_micro"),
        expr("cast(size(filter(xs, v -> abs(v - med) > 3 * mad)) as long)")
          .as("n_anomalies"))
      .orderBy("event_type")

  /** #279 Burstiness of each event type's daily arrival process via the
    * Fano factor F = Var/Mean of daily counts (population variance) —
    * F ≈ 1 is Poisson-like, F ≫ 1 is bursty: the dispersion readout
    * that tells a capacity planner whether tsAnomaly's spikes are rare
    * shocks or the process's normal texture.
    *
    * All-integer: daily counts → one |type|-group aggregate of
    * (n, Σc, Σc²) in DECIMAL(38,0), then milli-scaled truncating
    * divisions — var·n² and mean·n cleared so F_milli =
    * (n·Σc² − S²)·1000 div (n·S) is a single exact quotient. Scale: the
    * daily reduction is the only row-cardinality work (map-side
    * combined); everything after is |event_type| rows.
    */
  def tsBurstiness(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("c").cast(DecimalType(38, 0))).as("sc"),
        sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("scc"))
      .select(col("event_type"), col("n_days"),
        expr("cast((sc * 1000) div n_days as long)").as("mean_milli"),
        expr("cast(((n_days * scc - sc * sc) * 1000) div (cast(n_days as decimal(38,0)) * n_days) as long)")
          .as("var_milli"),
        expr("cast(((n_days * scc - sc * sc) * 1000) div (cast(n_days as decimal(38,0)) * sc) as long)")
          .as("fano_milli"))
      .orderBy("event_type")

  /** #293 Single-changepoint detection per event type (binary
    * segmentation step): the split of the daily value-mass series that
    * maximizes the between-segment SSE reduction — [[tsCusum]] says a
    * shift HAPPENED, this says WHERE, with the pre/post levels; the
    * one-step kernel PELT-style detectors iterate.
    *
    * Exactness: with prefix sums (k, cs_k) and totals (n, S), the
    * candidate score is gain(k) = ⌊(cs_k²·(n−k) + (S−cs_k)²·k) /
    * (k·(n−k))⌋ — the raw rational comparison has no common
    * denominator, so floor-then-argmax IS the contract (micro²-unit
    * granularity; both engines floor identical integers), tie-broken to
    * the earliest split. The quotient itself reaches ~10²⁹ at sf0.1, so
    * it must NEVER pass through Spark's long-producing `div` (the
    * silent-wrap lesson of the OLS post-mortem, PARITY.md): the floor
    * division runs wholly in DECIMAL as (num − num % den) / den — the
    * subtraction makes the division exact, so the decimal divide's
    * rounding is the identity.
    *
    * Scale: one (type, day) map-side-combined aggregate; every window
    * is type-PARTITIONED over the calendar-bounded daily relation.
    */
  def tsChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("m"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wAll = Window.partitionBy("event_type")
    daily
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("cs", sum(col("m").cast(dec)).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("st", sum(col("m").cast(dec)).over(wAll))
      .filter(col("k") < col("n"))
      .withColumn("num",
        expr("cs * cs * (n - k) + (st - cs) * (st - cs) * k"))
      .withColumn("den", expr("cast(k as decimal(38,0)) * (n - k)"))
      .withColumn("gain",
        expr("cast((num - pmod(num, den)) / den as decimal(38,0))"))
      .withColumn("pick", row_number().over(
        Window.partitionBy("event_type").orderBy(desc("gain"), asc("k"))))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("day").as("split_after_day"),
        col("k").as("n_left"), (col("n") - col("k")).as("n_right"),
        expr("cast((cs * 1000) div k as long)").as("mean_left_nano"),
        expr("cast(((st - cs) * 1000) div (n - k) as long)").as("mean_right_nano"))
      .orderBy("event_type")
  }

  /** #295 STL-style decomposition strength (Hyndman's F_trend /
    * F_seasonal): how much of the daily series' variance the
    * [[tsSeasonal]] trend and day-of-week components actually explain —
    * F_T = 1 − Var(R)/Var(mass − S), F_S = 1 − Var(R)/Var(mass − T),
    * clamped at 0, in ppm. The one-number quality readout of the
    * decomposition (near 0 ⇒ the component is noise; near 1e6 ⇒ it
    * carries the series).
    *
    * Integer discipline: the seasonal component here is the FLOORED
    * per-dow mean (detr_sum div n_valid) so remainder and both
    * contrasts are exact int64 micros; population-variance numerators
    * n·Σx² − (Σx)² run in DECIMAL(38,0), and each strength is one
    * floored quotient (≤ 10⁶ — no wrap). Same centered-7-day-window
    * trend and same valid-row set as tsSeasonal (the two queries cannot
    * disagree about the decomposition). Scale: identical to tsSeasonal
    * — the one daily reduction is the only row-cardinality stage.
    */
  def tsStlStrength(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("mass_micro"))
    val w7 = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(-3, 3)
    val t = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("sum7", sum(col("mass_micro")).over(w7))
      .withColumn("trend_micro", when(col("n7") === 7, expr("sum7 div 7")))
      .withColumn("dow", dayofweek(col("day")) - 1)
      .filter(col("trend_micro").isNotNull)
    val seas = t.groupBy("dow")
      .agg(expr("sum(mass_micro - trend_micro) div count(1)").as("s_micro"))
    // square AFTER the decimal cast: r² ≈ 10²² overflows a long product
    def varNum(c: String) = (count(lit(1)).cast(dec) *
      sum(col(c).cast(dec) * col(c)) - sum(col(c).cast(dec)) * sum(col(c).cast(dec)))
    t.join(broadcast(seas), Seq("dow"))
      .withColumn("r", col("mass_micro") - col("trend_micro") - col("s_micro"))
      .withColumn("detr", col("mass_micro") - col("trend_micro"))
      .withColumn("deseas", col("mass_micro") - col("s_micro"))
      .agg(count(lit(1)).as("n_valid_days"),
        varNum("r").as("vr"), varNum("detr").as("vdetr"),
        varNum("deseas").as("vdeseas"))
      .select(col("n_valid_days"),
        greatest(lit(0L),
          expr("1000000 - cast((vr * 1000000) div vdetr as long)"))
          .as("f_seasonal_ppm"),
        greatest(lit(0L),
          expr("1000000 - cast((vr * 1000000) div vdeseas as long)"))
          .as("f_trend_ppm"))
  }

  /** #307 Running-peak drawdown of the daily revenue series: per day,
    * revenue (exact cents), the running maximum so far, the drawdown
    * peak − today, and drawdown as ppm of the peak — the
    * risk/regression readout (how far below the best day are we, and
    * what was the deepest trough) applied to any cumulative KPI.
    *
    * Scale: the window runs over the DAILY aggregate, calendar-bounded
    * (|days| rows whatever the order count — the [[tsSeasonal]]
    * boundedness argument), so the single-partition running-max window
    * is over ≤366 rows/year regardless of corpus size; the only
    * row-cardinality stage is the map-side-combined groupBy(day).
    * Exact integer cents throughout; dd_ppm one truncating division.
    */
  def tsDrawdown(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev_cents"))
      .withColumn("peak_cents", max(col("rev_cents")).over(w))
      .withColumn("dd_cents", col("peak_cents") - col("rev_cents"))
      .withColumn("dd_ppm",
        expr("(cast(dd_cents as decimal(38,0)) * 1000000) div peak_cents")
          .cast("long"))
      .orderBy("day")
  }

  /** #446 Martin's ulcer index of the daily revenue series per order
    * priority: UI = √(mean(dd%²)) over the running-peak drawdown
    * profile — the depth-AND-duration risk summary the max-drawdown
    * readout (#307) can't give (a series that lingers 20% down scores
    * far worse than one that dipped once). dd_ppm are exact integers
    * from the running-max window; Σdd² ≤ |days|·10¹² stays in int64;
    * UI is ONE floored double sqrt, identical expression both engines.
    * Also emits the max drawdown for the #307 cross-read. Scale:
    * priority-partitioned running-max over the calendar-bounded daily
    * aggregate, then a |pri|-row readout.
    */
  def winUlcer(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pri").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("pri"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev"))
      .withColumn("peak", max(col("rev")).over(w))
      .withColumn("dd_ppm",
        expr("(cast(peak - rev as decimal(38,0)) * 1000000) div peak")
          .cast("long"))
      .groupBy("pri")
      .agg(count(lit(1)).as("n_days"),
        max(col("dd_ppm")).as("max_dd_ppm"),
        sum(col("dd_ppm") * col("dd_ppm")).as("sdd2"))
      .select(col("pri"), col("n_days"), col("max_dd_ppm"),
        expr("cast(floor(sqrt(cast(sdd2 as double) / n_days)) as long)")
          .as("ulcer_ppm"))
      .orderBy("pri")
  }

  /** #351 Granger-causality F (lag-1, restricted-vs-unrestricted) on
    * the two largest event streams: does B's yesterday improve
    * predicting A's today beyond A's own yesterday? — the standard
    * lead/lag screen, one step past [[InferenceOps.crossCorrLag1]]'s
    * symmetric correlation: Granger asks about INCREMENTAL predictive
    * content.
    *
    * Exactness: the 2-regressor normal equations solve by Cramer's
    * rule entirely in integers — RSS_r·S11 and RSS_u·D are exact
    * cofactor forms, each then de-scaled by its own denominator
    * (staged truncation, ≤1 unit on ~1e10, mirrored); the
    * cross-multiplied joint form would need ~43 digits. Daily masses
    * drop by 10⁷ (the documented aggressive envelope: Syy·S11 and
    * Syy·D must fit 38 digits; an F statistic is scale-invariant so
    * only flooring grain is lost). Scale: one lag window on the
    * calendar-bounded pair series + a 1-row moment aggregate.
    */
  def tsGranger(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("xm"))
      .withColumn("x", expr("xm div 10000000"))
    val tot = daily.groupBy("event_type")
      .agg(sum(col("xm").cast(DecimalType(38, 0))).as("tot"))
    val ta = tot.orderBy(desc("tot"), asc("event_type")).limit(1)
      .select(col("event_type").as("type_a"))
    val tb = tot.orderBy(desc("tot"), asc("event_type")).limit(2)
      .orderBy(asc("tot"), desc("event_type")).limit(1)
      .select(col("event_type").as("type_b"))
    val wd = Window.orderBy("day")
    val pair = daily.join(broadcast(ta), col("event_type") === col("type_a"))
      .select(col("day"), col("x").as("a"))
      .join(daily.join(broadcast(tb), col("event_type") === col("type_b"))
        .select(col("day"), col("x").as("b")), Seq("day"))
      .withColumn("al", lag(col("a"), 1).over(wd))
      .withColumn("bl", lag(col("b"), 1).over(wd))
      .filter(col("al").isNotNull)
      .select(col("a").cast(DecimalType(38, 0)).as("y"),
        col("al").cast(DecimalType(38, 0)).as("x1"),
        col("bl").cast(DecimalType(38, 0)).as("x2"))
    pair.agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("x1")).as("s1"),
        sum(col("x2")).as("s2"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("x2")).as("s12"))
      .withColumn("Syy", expr("n * syy - sy * sy"))
      .withColumn("S1y", expr("n * s1y - s1 * sy"))
      .withColumn("S2y", expr("n * s2y - s2 * sy"))
      .withColumn("S11", expr("n * s11 - s1 * s1"))
      .withColumn("S22", expr("n * s22 - s2 * s2"))
      .withColumn("S12", expr("n * s12 - s1 * s2"))
      .withColumn("D", expr("S11 * S22 - S12 * S12"))
      .filter(col("S11") > 0 && col("D") > 0)
      // restricted RSS·S11 and unrestricted RSS·D (Cramer cofactors)
      .withColumn("rssr_s11", expr("Syy * S11 - S1y * S1y"))
      .withColumn("rssu_d",
        expr("Syy * D - S1y * (S1y * S22 - S2y * S12) " +
          "- S2y * (S2y * S11 - S1y * S12)"))
      .filter(col("rssu_d") > 0)
      // de-scale each RSS by its own cofactor denominator (staged,
      // mirrored): the cross-multiplied exact form A·D − B·S11 would
      // need ~43 digits; the staged quotients lose ≤1 unit on ~1e10
      // values, identical on both engines
      .withColumn("rss_r", expr("cast(rssr_s11 div S11 as long)"))
      .withColumn("rss_u", expr("cast(rssu_d div D as long)"))
      .filter(col("rss_u") > 0)
      .withColumn("f_milli",
        expr("cast(((rss_r - rss_u) * (n - 3) * 1000) div rss_u as long)"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("type_a"), col("type_b"), col("n"), col("f_milli"),
        (col("f_milli") > 3960L).as("b_granger_causes_a_05"))
  }

  /** #350 Engle-Granger cointegration step on the two largest event
    * streams: regress stream A's daily mass on stream B's, then run
    * the [[tsAdf]] unit-root test ON THE RESIDUALS — correlated
    * trending series are everywhere; cointegration asks the stronger
    * question of whether a LINEAR COMBINATION is stationary (a real
    * long-run equilibrium, the pairs-trading / shared-driver read).
    * Residual-based DF uses the stricter ~−3.34 critical value, i.e.
    * t² > 11156 milli.
    *
    * Exactness: the pair picks deterministically ((total DESC, name)
    * twice); the cointegrating slope is the staged micro ladder; the
    * residuals stage exactly as [[InferenceOps.durbinWatson]] (per-n
    * intercept, milli de-scale); the residual DF t² is the tsAdf
    * ladder again. Scale: the joined pair series is calendar-bounded,
    * so its two global windows are the documented drawdown exception;
    * the 1-row moment relations broadcast.
    */
  def tsEngleGranger(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val tot = daily.groupBy("event_type")
      .agg(sum(col("x").cast(DecimalType(38, 0))).as("tot"))
    val ta = tot.orderBy(desc("tot"), asc("event_type")).limit(1)
      .select(col("event_type").as("type_a"))
    val tb = tot.orderBy(desc("tot"), asc("event_type")).limit(2)
      .orderBy(asc("tot"), desc("event_type")).limit(1)
      .select(col("event_type").as("type_b"))
    val pair = daily.join(broadcast(ta), col("event_type") === col("type_a"))
      .select(col("day"), col("x").as("ya"))
      .join(daily.join(broadcast(tb), col("event_type") === col("type_b"))
        .select(col("day"), col("x").as("yb")), Seq("day"))
    val m = pair.agg(count(lit(1)).as("n"),
        sum(col("ya").cast(DecimalType(38, 0))).as("sy"),
        sum(col("yb").cast(DecimalType(38, 0))).as("sz"),
        sum(col("yb").cast(DecimalType(38, 0)) * col("ya")).as("szy"),
        sum(col("yb").cast(DecimalType(38, 0)) * col("yb")).as("szz"))
      .withColumn("Sxx", expr("n * szz - sz * sz"))
      .withColumn("Sxy", expr("n * szy - sz * sy"))
      .filter(col("Sxx") =!= 0)
      .withColumn("slope_micro",
        expr("cast((Sxy * 1000000) div Sxx as long)"))
      .select("n", "sy", "sz", "slope_micro")
    val wd = Window.orderBy("day")
    val resid = pair.crossJoin(broadcast(m))
      .withColumn("eem",
        expr("cast((1000000 * ya - slope_micro * yb - " +
          "cast((1000000 * sy - slope_micro * sz) div n as long)) " +
          "div 1000 as long)"))
      .withColumn("el", lag(col("eem"), 1).over(wd))
      .filter(col("el").isNotNull)
      .select(col("slope_micro"),
        col("el").cast(DecimalType(38, 0)).as("z"),
        (col("eem") - col("el")).cast(DecimalType(38, 0)).as("y"))
    resid.groupBy("slope_micro")
      .agg(count(lit(1)).as("n"),
        sum(col("z")).as("sz"), sum(col("y")).as("sy"),
        sum(col("z") * col("y")).as("szy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("y") * col("y")).as("sy2"))
      .withColumn("Sxx", expr("n * szz - sz * sz"))
      .withColumn("Sxy", expr("n * szy - sz * sy"))
      .withColumn("Syy", expr("n * sy2 - sy * sy"))
      .filter(col("Sxx") =!= 0 && col("Syy") =!= 0 && col("n") > 2)
      .withColumn("adf_slope_micro",
        expr("cast((Sxy * 1000000) div Sxx as long)"))
      .withColumn("r2_ppm",
        expr("cast((((Sxy * 1000000) div Sxx) * Sxy) div Syy as long)"))
      .filter(col("r2_ppm") < 1000000)
      .withColumn("adf_t2_milli",
        expr("cast(((n - 2) * r2_ppm * 1000) div (1000000 - r2_ppm) " +
          "as long)"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("type_a"), col("type_b"), col("n").as("n_diffs"),
        col("slope_micro"), col("adf_slope_micro"), col("adf_t2_milli"),
        (col("adf_slope_micro") < 0 && col("adf_t2_milli") > 11156L)
          .as("cointegrated_05"))
  }

  /** #347 Page-Hinkley drift statistic per event type on the daily
    * mass series: PH_t = Σ(x_i − μ_i) against its running minimum —
    * the classic sequential change detector (Page 1954) whose batch
    * twin this is; where [[tsCusum]] tracks deviation from a FIXED
    * reference, Page-Hinkley self-references the RUNNING mean, so it
    * fires on drift the fixed-reference chart normalizes away.
    *
    * Exactness: the running mean stages as C_t div t (truncating,
    * mirrored); deviations, cumulative PH, running min, and the max
    * gap are exact integer window folds; the drift flag compares the
    * max gap to one average day's mass — a data-free relative
    * threshold. Scale: three type-partitioned cumulative windows over
    * the |days|-bounded daily relation.
    */
  def tsPageHinkley(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .withColumn("t", count(lit(1)).over(wCum))
      .withColumn("c", sum(col("x")).over(wCum))
      .withColumn("dev", expr("x - c div t"))
      .withColumn("ph", sum(col("dev")).over(wCum))
      .withColumn("ph_min", min(col("ph")).over(wCum))
      .groupBy("event_type")
      .agg(max(col("t")).as("n_days"),
        max(col("ph") - col("ph_min")).as("ph_max"),
        max(struct(col("t"), expr("c div t").as("m"))).getField("m")
          .as("mean_daily"))
      .select(col("event_type"), col("n_days"), col("ph_max"),
        col("mean_daily"),
        (col("ph_max") > col("mean_daily")).as("drift_flag"))
      .orderBy("event_type")
  }

  /** #343 Monthly fulfillment-latency profile: per order month
    * the lineitem count, mean days order→ship in milli, and the EXACT
    * p50/p90 order statistics — the operations SLA readout (is
    * fulfillment drifting? is the tail getting worse faster than the
    * median?).
    *
    * Exactness: latency is an integer datediff; the percentiles are
    * true order statistics picked by row_number at ranks (n+1) div 2
    * and (9n+9) div 10 under the (latency, orderkey, linenumber)
    * total order — no interpolation, no quantile-algorithm dialect
    * deltas; the mean is one truncating milli division. Scale: the
    * rank window partitions by month; counts broadcast back; the
    * order join carries NO hint — size-based planning/AQE broadcasts
    * it at fixture sf and degrades to an orderkey-partitioned
    * shuffle join at TB (same plan as q_join_inner), which a forced
    * broadcast() would instead OOM on.
    */
  def tsFulfillment(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r22 (guide §2.3 "aggregate before you shuffle"): days is
    // DOMAIN-bounded (a ship-minus-order datediff, ~0–122 distinct
    // values), so the exact p50/p90 order statistics come from a
    // (month, days) COUNT histogram instead of a row_number sort of
    // every fact row — the value at global rank r under the
    // (days, orderkey, linenumber) total order is the smallest days
    // whose cumulative count reaches r (the tie-break keys only order
    // rows WITHIN one days value and the readout is the days value
    // itself, so they cannot change it). The former month-partitioned
    // rank window shuffled + sorted the full lineitem⋈orders relation;
    // now the only fact-sized work is one map-side-combined aggregate
    // and the windows run over the ≤ |months|·|days| histogram.
    val hist = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate")), Seq("o_orderkey"))
      .select(date_trunc("month", col("o_orderdate")).as("month"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("days"))
      .groupBy("month", "days")
      .agg(count(lit(1)).as("cnt"))
    val wm = Window.partitionBy("month")
    val wc = Window.partitionBy("month").orderBy("days")
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("n", sum(col("cnt")).over(wm))
      .withColumn("sd", sum(col("days") * col("cnt")).over(wm))
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("r50", expr("(n + 1) div 2"))
      .withColumn("r90", expr("(9 * n + 9) div 10"))
      .filter((col("cum") >= col("r50") &&
          col("cum") - col("cnt") < col("r50")) ||
        (col("cum") >= col("r90") && col("cum") - col("cnt") < col("r90")))
      .groupBy("month")
      .agg(max(col("n")).as("n"),
        expr("cast(max(sd * 1000 div n) as long)").as("mean_days_milli"),
        max(when(col("cum") >= col("r50") &&
          col("cum") - col("cnt") < col("r50"), col("days"))).as("p50_days"),
        max(when(col("cum") >= col("r90") &&
          col("cum") - col("cnt") < col("r90"), col("days"))).as("p90_days"))
      .orderBy("month")
  }

  /** #340 Open-order item backlog curve: per day, lineitems placed
    * (o_orderdate) minus shipped (l_shipdate) cumulatively — the WIP
    * inventory curve every operations dashboard opens with, and the
    * event-sourcing +1/−1 ledger pattern (a fact row becomes two
    * signed deltas, the [[graft.operators.EventOps]] islands idiom
    * generalized to two event kinds).
    *
    * Exactness: pure integer deltas and one cumulative window ordered
    * by the DATE-DOMAIN-bounded day relation (SinglePartition over
    * ≤|calendar| rows — the tsDrawdown exception). Scale: the union
    * projects only (day, delta); the daily aggregate map-side
    * combines; nothing row-cardinality sorts.
    */
  def tsBacklog(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
    // no broadcast hint: orders scales with the fact side — the
    // planner broadcasts it at fixture sf from parquet size stats and
    // shuffle-joins on orderkey at TB (a forced hint would OOM there)
    val placed = li.select(col("l_orderkey").as("o_orderkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate")), Seq("o_orderkey"))
      .select(date_trunc("day", col("o_orderdate")).as("day"),
        lit(1L).as("delta"))
    val shipped = li.select(date_trunc("day", col("l_shipdate")).as("day"),
      lit(-1L).as("delta"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    placed.unionByName(shipped)
      .groupBy("day").agg(sum(col("delta")).as("net"))
      .withColumn("backlog", sum(col("net")).over(w))
      .orderBy("day")
  }

  /** #341 On-balance volume per event type: OBV_t = Σ sign(ΔC)·V — does
    * activity volume flow with or against the daily value direction?
    * The volume-confirmation companion to [[winRsi]] momentum: price
    * up on heavy volume (OBV rising) reads differently from price up
    * on thin volume.
    *
    * Exactness: the close is the last event by (ts, event_id) (the
    * [[tsAtr]] pick), volume the exact event count, sign an integer,
    * and the rollup min/max/final of the exact cumulative sum. Scale:
    * (type, day) close window + type-partitioned cumulative window,
    * |days|-bounded.
    */
  def winObv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        col("ts"), col("event_id"),
        floor(col("value") * 1e6).cast("long").as("v"))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(max(when(col("rn_d") === 1, col("v"))).as("c"),
        count(lit(1)).as("vol"))
    val wLag = Window.partitionBy("event_type").orderBy("day")
    val wCum = wLag.rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("dc", col("c") - lag(col("c"), 1).over(wLag))
      .withColumn("flow",
        when(col("dc").isNull, 0L)
          .otherwise(signum(col("dc")).cast("long") * col("vol")))
      .withColumn("obv", sum(col("flow")).over(wCum))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), max(col("obv")).as("obv_max"),
        min(col("obv")).as("obv_min"),
        max(struct(col("day"), col("obv"))).getField("obv")
          .as("obv_final"))
      .orderBy("event_type")
  }

  /** #358 Seasonal index of order revenue by month-of-year: each
    * calendar month's revenue against the average month, in ppm — the
    * classical retail seasonality profile (is December 1.4× an
    * average month?) that feeds deseasonalized comparisons and
    * inventory planning; the INDEX view of what [[tsSeasonal]]
    * decomposes additively.
    *
    * Exactness: exact integer cents, index_ppm = rev·n_months·10⁶ div
    * total — one truncating division per month against the
    * multi-year-pooled calendar. Scale: one MONTH-OF-YEAR-bounded
    * (≤12 rows) map-side-combined aggregate; the total broadcasts.
    */
  def tsSeasonalIndex(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy(month(col("o_orderdate")).as("month_of_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_cents"))
    val tot = monthly.agg(
      sum(col("rev_cents").cast(DecimalType(38, 0))).as("tot"),
      count(lit(1)).as("n_months"))
    monthly.crossJoin(broadcast(tot))
      .filter(col("tot") > 0)
      .select(col("month_of_year"), col("n_orders"), col("rev_cents"),
        expr("cast((cast(rev_cents as decimal(38,0)) * n_months * 1000000)" +
          " div tot as long)").as("index_ppm"))
      .orderBy("month_of_year")
  }

  /** #356 Stochastic oscillator %K (14-day) per event type: where
    * today's mass sits inside its own trailing 14-day range, in ppm —
    * the range-position momentum readout that completes the
    * [[winRsi]]/[[winBollinger]]/[[tsAtr]] technical family (RSI
    * measures gain/loss balance, %K measures range position; they
    * disagree exactly when a move is drifting vs. breaking out).
    *
    * Exactness: rolling min/max are exact integers and %K is ONE
    * truncating ppm division ((C − L)·1e6 div (H − L)), flat windows
    * (H = L) structurally excluded on both engines; full 14-day
    * windows only. Scale: one type-partitioned rolling window over
    * the |days|-bounded daily relation.
    */
  def winStochastic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-13, 0)
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("l14", min(col("x")).over(w))
      .withColumn("h14", max(col("x")).over(w))
      .filter(col("cnt") === 14 && col("h14") > col("l14"))
      .select(col("event_type"), col("day"),
        expr("cast(((x - l14) * 1000000) div (h14 - l14) as long)")
          .as("k_ppm"))
      .withColumn("overbought", col("k_ppm") > 800000L)
      .withColumn("oversold", col("k_ppm") < 200000L)
      .orderBy("event_type", "day")
  }

  /** #333 RSI-14 (simple-mean Cutler form) per event type on the daily
    * mass series: gains vs losses over the trailing 14 deltas,
    * RSI_milli = 100000·G/(G+L) — the bounded momentum oscillator
    * (overbought > 70, oversold < 30) read next to [[tsAtr]]'s
    * volatility and [[winBollinger]]'s bands.
    *
    * Exactness: deltas, gain/loss splits, and rolling sums are exact
    * integers; RSI is ONE truncating division per day (G + L > 0
    * guarded — an all-flat window emits no row); full 14-delta windows
    * only. Scale: two type-partitioned windows (lag + rolling) over
    * the |days|-bounded daily relation.
    */
  def winRsi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLag = Window.partitionBy("event_type").orderBy("day")
    val wRoll = wLag.rowsBetween(-13, 0)
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .withColumn("d", col("x") - lag(col("x"), 1).over(wLag))
      .filter(col("d").isNotNull)
      .withColumn("gain", greatest(col("d"), lit(0L)))
      .withColumn("loss", greatest(-col("d"), lit(0L)))
      .withColumn("cnt", count(lit(1)).over(wRoll))
      .withColumn("g", sum(col("gain")).over(wRoll))
      .withColumn("l", sum(col("loss")).over(wRoll))
      .filter(col("cnt") === 14 && col("g") + col("l") > 0)
      .select(col("event_type"), col("day"),
        expr("cast((g * 100000) div (g + l) as long)").as("rsi_milli"))
      .withColumn("overbought", col("rsi_milli") > 70000L)
      .withColumn("oversold", col("rsi_milli") < 30000L)
      .orderBy("event_type", "day")
  }

  /** #334 ACF(1), ACF(2) and the lag-2 partial autocorrelation per
    * event type in ppm, via the CLASSICAL autocovariance-ratio form
    * ρk = γk/γ0 — deliberately not per-lag Pearson ([[tsAcf]]): the
    * covariance RATIO needs no sqrt, so the whole chain stays in exact
    * integers, and Durbin-Levinson closes PACF(2) = (ρ2 − ρ1²)/(1 −
    * ρ1²) as one more integer quotient — the AR-order diagnostic (is
    * the lag-2 dependence real or just propagated lag-1?).
    *
    * Exactness: centered terms n·x − S are exact cross-multiplied
    * integers; γk sums in DECIMAL; ρk_ppm and pacf2_ppm are staged
    * truncating divisions with sign handled by shared toward-zero
    * semantics. Scale: |days|-bounded; lag windows partition by type;
    * global moments broadcast back.
    */
  def tsPacf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val mom = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"))
    val c = daily.join(broadcast(mom), Seq("event_type"))
      .withColumn("ct", expr("n * cast(x as decimal(38,0)) - sx"))
      .withColumn("c1", lag(col("ct"), 1).over(w))
      .withColumn("c2", lag(col("ct"), 2).over(w))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_days"),
        sum(expr("ct * ct")).as("g0"),
        sum(expr("ct * c1")).as("g1"),
        sum(expr("ct * c2")).as("g2"))
      .filter(col("g0") > 0)
      .withColumn("rho1_ppm", expr("cast((g1 * 1000000) div g0 as long)"))
      .withColumn("rho2_ppm", expr("cast((g2 * 1000000) div g0 as long)"))
    c.select(col("event_type"), col("n_days"), col("rho1_ppm"),
        col("rho2_ppm"),
        expr("case when 1000000000000 - rho1_ppm * rho1_ppm > 0 then " +
          "cast(((rho2_ppm * 1000000 - rho1_ppm * rho1_ppm) * 1000000) div " +
          "(1000000000000 - rho1_ppm * rho1_ppm) as long) end")
          .as("pacf2_ppm"))
      .orderBy("event_type")
  }

  /** #335 Naive-forecast error profile (lag-1 persistence baseline) per
    * event type: MAE, MSE and MAPE of x̂_t = x_{t-1} on the daily mass
    * series — the baseline every forecasting claim ([[tsHolt]],
    * [[tsEwma]]) must beat, and the yardstick that prices how
    * forecastable each stream even is.
    *
    * Exactness: errors are exact integer deltas; MAE one truncating
    * division of micro sums; MSE in MILLI² units (the unit-envelope
    * convention — micro squared sums pass DECIMAL but the mean must
    * fit the LONG output); per-day APE ppm staged then averaged, both
    * truncating toward zero. Scale: one lag window + one group
    * aggregate, |days|-bounded.
    */
  def evalForecastErr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .withColumn("xp", lag(col("x"), 1).over(w))
      .filter(col("xp").isNotNull && col("xp") > 0)
      .withColumn("err", col("x") - col("xp"))
      .withColumn("errm", expr("abs(err) div 1000"))
      .withColumn("ape_ppm", expr("(abs(err) * 1000000) div xp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(abs(col("err")).cast(DecimalType(38, 0))).as("sae"),
        sum(expr("cast(errm as decimal(38,0)) * errm")).as("sse_m"),
        sum(col("ape_ppm").cast(DecimalType(38, 0))).as("sape"))
      .select(col("event_type"), col("n"),
        expr("cast(sae div n as long)").as("mae_micro"),
        expr("cast(sse_m div n as long)").as("mse_milli2"),
        expr("cast(sape div n as long)").as("mape_ppm"))
      .orderBy("event_type")
  }

  /** #327 Average True Range (Wilder's ATR-14, simple-mean form) per
    * event type on the daily value OHLC: true range = max(H−L, |H−C₋₁|,
    * |L−C₋₁|) bridges overnight gaps the plain H−L range misses; the
    * 14-day mean is THE classic volatility unit stop-losses and
    * anomaly bands are quoted in.
    *
    * Exactness: the daily close picks the last event by (ts, event_id)
    * row_number (the [[tsOhlc]] tie discipline) on integer micro
    * values; TR is exact integer min/max arithmetic and ATR one
    * truncating div of the 14-row rolling sum (only FULL windows
    * emit). Scale: the close window partitions by (type, day), the
    * rolling window by type over the |days|-bounded daily relation.
    */
  def tsAtr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(s, dir).select(col("event_type"),
      date_trunc("day", col("ts")).as("day"), col("ts"), col("event_id"),
      floor(col("value") * 1e6).cast("long").as("v"))
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = base.withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(max(col("v")).as("h"), min(col("v")).as("l"),
        max(when(col("rn_d") === 1, col("v"))).as("c"))
    val wLag = Window.partitionBy("event_type").orderBy("day")
    val wRoll = wLag.rowsBetween(-13, 0)
    daily.withColumn("cp", lag(col("c"), 1).over(wLag))
      .withColumn("tr", when(col("cp").isNull, col("h") - col("l"))
        .otherwise(greatest(col("h") - col("l"),
          abs(col("h") - col("cp")), abs(col("l") - col("cp")))))
      .withColumn("cnt", count(lit(1)).over(wRoll))
      .withColumn("trs", sum(col("tr")).over(wRoll))
      .filter(col("cnt") === 14)
      .select(col("event_type"), col("day"), col("tr").as("tr_micro"),
        expr("trs div 14").as("atr_micro"))
      .orderBy("event_type", "day")
  }

  /** #328 Bollinger-band breakout profile (20→14-day window, ±2σ) per
    * event type: how often the daily mass escapes its own rolling
    * two-sigma envelope, and the worst squared z — the
    * mean-reversion-vs-trend profile read next to [[tsHurst]].
    *
    * Exactness: sqrt-free — with c = 14, dev = c·x − Σ and the band
    * test dev² > 4·(cQ − S²) compares exact integers (z² > 4
    * cross-multiplied); the reported max z²_milli is one truncating
    * division. x drops to milli so dev² stays inside DECIMAL headroom
    * at any calendar length. Scale: one type-partitioned rolling
    * window over the |days|-bounded daily relation, then a |k|-row
    * rollup.
    */
  def winBollinger(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
      .withColumn("xm", expr("x div 1000"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-13, 0)
    daily
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("sw", sum(col("xm").cast(DecimalType(38, 0))).over(w))
      .withColumn("qw",
        sum(expr("cast(xm as decimal(38,0)) * xm")).over(w))
      .filter(col("c") === 14)
      .withColumn("dev", expr("cast(14 * xm as decimal(38,0)) - sw"))
      .withColumn("varn", expr("14 * qw - sw * sw"))
      .filter(col("varn") > 0)
      .withColumn("up",
        col("dev") > 0 && expr("dev * dev") > expr("4 * varn"))
      .withColumn("dn",
        col("dev") < 0 && expr("dev * dev") > expr("4 * varn"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("up"), 1L).otherwise(0L)).as("n_upper"),
        sum(when(col("dn"), 1L).otherwise(0L)).as("n_lower"),
        max(expr("cast((dev * dev * 1000) div varn as long)"))
          .as("max_z2_milli"))
      .orderBy("event_type")
  }

  /** #322 Hurst exponent (rescaled-range slope over window sizes 8/16/
    * 32) per event type on the daily mass series: H ≈ 0.5 means the
    * series forgets (random walk increments), H > 0.5 long-range
    * persistence, H < 0.5 mean reversion — the memory diagnostic that
    * decides whether [[tsEwma]]-style momentum features carry signal.
    *
    * Exactness: the sqrt-free trick — per full chunk of length w, the
    * w-SCALED cumulative deviation w·cum_k = w·prefix_k − k·S is an
    * exact integer, so R²/S² = R2w²/(w·Q − S²) is an exact integer
    * ratio (R2w = max − min of the scaled deviations, Q = Σx²); its
    * floor-nano ln halves into the regression y, and H_micro =
    * (Sxy·1e6) div (2·Sxx) folds the ½ into the final truncating
    * division. Per-(type,w) chunk means truncate identically on both
    * engines. Scale: |days|-bounded per type; every window partitions
    * by (event_type[, w, chunk]).
    */
  def tsHurst(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val wIdx = Window.partitionBy("event_type").orderBy("day")
    val chunked = daily.withColumn("i", row_number().over(wIdx) - 1)
      .withColumn("w", explode(typedLit(Seq(8, 16, 32))))
      .withColumn("chunk", expr("i div w"))
    val wOrd = Window.partitionBy("event_type", "w", "chunk").orderBy("i")
    val base = chunked
      .withColumn("k", row_number().over(wOrd))
      .withColumn("pref",
        sum(col("x")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = base.groupBy("event_type", "w", "chunk")
      .agg(count(lit(1)).as("nr"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("qx"))
      .filter(col("nr") === col("w"))
    val ratio = base.join(tot, Seq("event_type", "w", "chunk"))
      .select(col("event_type"), col("w"), col("chunk"), col("sx"), col("qx"),
        (col("w").cast(DecimalType(38, 0)) * col("pref") -
          col("k") * col("sx")).as("dev"))
      .groupBy("event_type", "w", "chunk")
      .agg((max(col("dev")) - min(col("dev"))).as("r2w"),
        (max(col("w").cast(DecimalType(38, 0)) * col("qx") -
          col("sx") * col("sx"))).as("s2"))
      .filter(col("r2w") > 0 && col("s2") > 0)
      .withColumn("ratio_ppm",
        expr("cast((r2w * r2w * 1000000) div s2 as long)"))
      .withColumn("ln_ratio",
        floor(log(col("ratio_ppm").cast("double")) * 1e9).cast("long") -
          floor(log(lit(1000000.0)) * 1e9).cast("long"))
    val perW = ratio.groupBy("event_type", "w")
      .agg(count(lit(1)).as("n_chunks"),
        expr("cast(sum(ln_ratio) div count(1) as long)").as("y"))
      .withColumn("lx", floor(log(col("w").cast("double")) * 1e9).cast("long"))
    perW.groupBy("event_type")
      .agg(sum(col("n_chunks")).as("n_chunks"), count(lit(1)).as("np"),
        sum(col("lx").cast(DecimalType(38, 0))).as("sxl"),
        sum(col("y").cast(DecimalType(38, 0))).as("syl"),
        sum(col("lx").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
        sum(col("lx").cast(DecimalType(38, 0)) * col("lx")).as("sxx"))
      .filter(col("np") > 1)
      .withColumn("Sxx", expr("np * sxx - sxl * sxl"))
      .withColumn("Sxy", expr("np * sxy - sxl * syl"))
      .filter(col("Sxx") =!= 0)
      .select(col("event_type"), col("n_chunks"),
        expr("cast((Sxy * 1000000) div (2 * Sxx) as long)").as("hurst_micro"))
      .orderBy("event_type")
  }

  /** #319 SAX symbolization (PAA-7 + empirical quartile alphabet) of
    * the daily mass series per event type: average each 7-day segment
    * (PAA), assign each segment one of 4 symbols a-d by its
    * EQUI-DEPTH rank among the type's own segments (ntile — the
    * empirical-breakpoint SAX variant: no Gaussian assumption, no
    * z-normalization sqrt), and emit the symbol string — the
    * dimensionality-reduced time-series representation motif/anomaly
    * mining indexes on (Lin et al. 2003).
    *
    * Exactness: PAA as (Σx·1000) div len — the unequal final segment
    * divides exactly the same way on both engines; ntile(4) over the
    * total order (paa_milli, seg) is deterministic because seg is
    * unique; the string assembles via sort_array over (seg, sym)
    * structs, the [[ExtraFuncs.stringAgg]] order-free idiom. Scale:
    * |days|-bounded per type after the daily aggregate; the ntile
    * window partitions by event_type.
    */
  def tsSax(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val minDay = daily.groupBy("event_type").agg(min(col("day")).as("d0"))
    val seg = daily.join(broadcast(minDay), Seq("event_type"))
      .withColumn("seg", expr("datediff(day, d0) div 7"))
      .groupBy("event_type", "seg")
      .agg(count(lit(1)).as("len"), sum(col("x")).as("sx"))
      .withColumn("paa_milli",
        expr("(cast(sx as decimal(38,0)) * 1000) div len"))
    seg.withColumn("sym", expr("char(96 + ntile(4) over " +
        "(partition by event_type order by paa_milli, seg))"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_segments"),
        array_join(transform(
          sort_array(collect_list(struct(col("seg"), col("sym")))),
          x => x.getField("sym")), "").as("sax"))
      .orderBy("event_type")
  }

  /** #311 Dickey-Fuller unit-root test (lag-0 form) per event type on
    * the daily value-mass series: regress Δx_t on x_{t-1} (intercept
    * absorbed by centering) and report the slope plus its squared
    * t-statistic — the stationarity gate a forecasting/ACF readout
    * (#166, #232) must pass before its output is trusted. A
    * significantly NEGATIVE slope rejects the unit root (stationary);
    * slope ≈ 0 means shocks persist and trend-following models apply.
    *
    * Exactness: daily mass in integer micro, the (z = x_{t-1}, y = Δx)
    * pairs from one key-partitioned lag window, centered second moments
    * in DECIMAL(38,0), and the t² via the staged-division ladder of
    * [[InferenceOps.priceElasticity]]: slope_micro = (Sxy·1e6) div Sxx
    * (intermediate ≤ Sxy·1e6 ≈ 1e28), r2_ppm = (slope_micro·Sxy) div
    * Syy (≤ 1e6 by Cauchy-Schwarz), t²_milli = ((n−2)·r2_ppm·1000) div
    * (1e6 − r2_ppm) — every div truncates toward zero identically on
    * both engines and no Sxy² is ever materialized. The 5% DF critical
    * value for the constant model is −2.86, i.e. t² > 8180 milli with
    * slope < 0.
    *
    * Scale: |days|-bounded per type after the daily aggregate (the
    * [[tsSeasonal]] calendar argument); the lag window partitions by
    * event_type so no SinglePartition ever appears.
    */
  def tsAdf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    daily
      .withColumn("xl", lag(col("x"), 1).over(w))
      .filter(col("xl").isNotNull)
      .select(col("event_type"),
        col("xl").cast(DecimalType(38, 0)).as("z"),
        (col("x") - col("xl")).cast(DecimalType(38, 0)).as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("z")).as("sz"), sum(col("y")).as("sy"),
        sum(col("z") * col("y")).as("szy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("y") * col("y")).as("sy2"))
      .withColumn("Sxx", expr("n * szz - sz * sz"))
      .withColumn("Sxy", expr("n * szy - sz * sy"))
      .withColumn("Syy", expr("n * sy2 - sy * sy"))
      .filter(col("Sxx") =!= 0 && col("Syy") =!= 0 && col("n") > 2)
      .withColumn("slope_micro", expr("cast((Sxy * 1000000) div Sxx as long)"))
      .withColumn("r2_ppm",
        expr("cast((((Sxy * 1000000) div Sxx) * Sxy) div Syy as long)"))
      .filter(col("r2_ppm") < 1000000)
      .select(col("event_type"), col("n"), col("slope_micro"), col("r2_ppm"),
        expr("cast(((n - 2) * r2_ppm * 1000) div (1000000 - r2_ppm) as long)")
          .as("t2_milli"))
      .withColumn("stationary_05",
        col("slope_micro") < 0 && col("t2_milli") > 8180L)
      .orderBy("event_type")
  }

  /** #308 Mann-Kendall trend test per event type on the daily mass
    * series: S = Σ_{i<j} sign(x_j − x_i), the tie-corrected variance
    * (kept as the INTEGER 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    * so no division leaves the integers), and the continuity-corrected
    * z² in milli — the non-parametric significance companion to the
    * Theil-Sen slope (#237): sen gives the trend's size, M-K whether
    * it is real.
    *
    * Scale: the pair join runs over the DAILY aggregate (calendar-
    * bounded — the [[tsSeasonal]] argument), so pairs are |days|²/2
    * per type regardless of corpus size; tie groups come from one
    * value-domain-bounded aggregate. Exactness: S is an integer sign
    * sum; z²_milli = ((|S|−1)²·18000) div var18 with the product in
    * DECIMAL (n⁴ passes int64 near a century of days), zero when
    * S = 0 on both engines.
    */
  def tsMannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val a = daily.select(col("event_type"), col("day").as("da"), col("x").as("xa"))
    val b = daily.select(col("event_type"), col("day").as("db"), col("x").as("xb"))
    val sStat = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
      .groupBy("event_type")
      .agg(sum(signum(col("xb") - col("xa")).cast("long")).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
    sStat.join(ties, Seq("event_type"))
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
      .filter(col("var18") > 0)
      .withColumn("z2_milli",
        expr("case when s_stat = 0 then 0L else " +
          "cast(((abs(cast(s_stat as decimal(38,0))) - 1) * (abs(s_stat) - 1)" +
          " * 18000) div var18 as long) end"))
      .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
        col("z2_milli"), (col("z2_milli") > 3841L).as("significant_05"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ts_ewvar" -> (tsEwvar _),
    "q_ts_adf" -> (tsAdf _),
    "q_ts_backlog" -> (tsBacklog _),
    "q_ts_fulfillment" -> (tsFulfillment _),
    "q_ts_page_hinkley" -> (tsPageHinkley _),
    "q_ts_engle_granger" -> (tsEngleGranger _),
    "q_ts_granger" -> (tsGranger _),
    "q_win_obv" -> (winObv _),
    "q_win_rsi" -> (winRsi _),
    "q_win_stochastic" -> (winStochastic _),
    "q_ts_seasonal_index" -> (tsSeasonalIndex _),
    "q_ts_pacf" -> (tsPacf _),
    "q_eval_forecast_err" -> (evalForecastErr _),
    "q_ts_atr" -> (tsAtr _),
    "q_win_bollinger" -> (winBollinger _),
    "q_ts_hurst" -> (tsHurst _),
    "q_ts_sax" -> (tsSax _),
    "q_ts_mann_kendall" -> (tsMannKendall _),
    "q_win_drawdown" -> (tsDrawdown _),
    "q_win_ulcer" -> (winUlcer _),
    "q_ts_stl_strength" -> (tsStlStrength _),
    "q_ts_changepoint" -> (tsChangepoint _),
    "q_ts_burstiness" -> (tsBurstiness _),
    "q_ts_anomaly" -> (tsAnomaly _),
    "q_ts_holt" -> (tsHolt _),
    "q_ts_theilsen" -> (tsTheilSen _),
    "q_ts_seasonal" -> (tsSeasonal _),
    "q_ts_pct_change" -> (tsPctChange _),
    "q_ts_ewma" -> (tsEwma _),
    "q_ts_coverage" -> (tsCoverage _),
    "q_ts_cusum" -> (tsCusum _),
    "q_ts_acf" -> (tsAcf _),
    "q_ts_twap" -> (tsTwap _),
    "q_ts_ohlc" -> (tsOhlc _),
    "q_ts_gapfill" -> (tsGapfill _),
    "q_histogram" -> (histogram _),
    "q_window_tumbling" -> (windowTumbling _),
    "q_window_sliding" -> (windowSliding _),
    "q_window_session" -> (windowSession _))

  val oracles: Map[String, String] = Map(
    "q_ts_granger" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS xm
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, xm // 10000000 AS x FROM daily),
        |tot AS (SELECT event_type, SUM(CAST(xm AS HUGEINT)) AS tot
        |        FROM daily GROUP BY 1),
        |ta AS (SELECT event_type AS type_a FROM tot
        |       ORDER BY tot DESC, event_type ASC LIMIT 1),
        |tb AS (SELECT event_type AS type_b FROM (
        |    SELECT * FROM tot ORDER BY tot DESC, event_type ASC LIMIT 2) t
        |  ORDER BY tot ASC, event_type DESC LIMIT 1),
        |pair AS (
        |  SELECT a.day, a.x AS a, b.x AS b
        |  FROM d2 a JOIN d2 b USING (day)
        |  WHERE a.event_type = (SELECT type_a FROM ta)
        |    AND b.event_type = (SELECT type_b FROM tb)),
        |lg AS (
        |  SELECT CAST(a AS HUGEINT) AS y,
        |    CAST(lag(a) OVER w AS HUGEINT) AS x1,
        |    CAST(lag(b) OVER w AS HUGEINT) AS x2
        |  FROM pair WINDOW w AS (ORDER BY day)),
        |p2 AS (SELECT * FROM lg WHERE x1 IS NOT NULL),
        |g AS (
        |  SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(x1) AS s1,
        |    SUM(x2) AS s2, SUM(y * y) AS syy, SUM(x1 * y) AS s1y,
        |    SUM(x2 * y) AS s2y, SUM(x1 * x1) AS s11,
        |    SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12
        |  FROM p2),
        |c AS (
        |  SELECT n,
        |    n * syy - sy * sy AS Syy, n * s1y - s1 * sy AS S1y,
        |    n * s2y - s2 * sy AS S2y, n * s11 - s1 * s1 AS S11,
        |    n * s22 - s2 * s2 AS S22, n * s12 - s1 * s2 AS S12
        |  FROM g),
        |k AS (
        |  SELECT n, S11, S11 * S22 - S12 * S12 AS D,
        |    Syy * S11 - S1y * S1y AS rssr_s11,
        |    Syy * (S11 * S22 - S12 * S12)
        |      - S1y * (S1y * S22 - S2y * S12)
        |      - S2y * (S2y * S11 - S1y * S12) AS rssu_d
        |  FROM c WHERE S11 > 0 AND S11 * S22 - S12 * S12 > 0),
        |f AS (
        |  SELECT n,
        |    CAST(rssr_s11 // S11 AS BIGINT) AS rss_r,
        |    CAST(rssu_d // D AS BIGINT) AS rss_u
        |  FROM k WHERE rssu_d > 0)
        |SELECT (SELECT type_a FROM ta) AS type_a,
        |  (SELECT type_b FROM tb) AS type_b, n,
        |  CAST(((rss_r - rss_u) * (n - 3) * 1000) // rss_u AS BIGINT)
        |    AS f_milli,
        |  ((rss_r - rss_u) * (n - 3) * 1000) // rss_u > 3960
        |    AS b_granger_causes_a_05
        |FROM f WHERE rss_u > 0""".stripMargin,
    "q_ts_engle_granger" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(CAST(x AS HUGEINT)) AS tot
        |        FROM daily GROUP BY 1),
        |ta AS (SELECT event_type AS type_a FROM tot
        |       ORDER BY tot DESC, event_type ASC LIMIT 1),
        |tb AS (SELECT event_type AS type_b FROM (
        |    SELECT * FROM tot ORDER BY tot DESC, event_type ASC LIMIT 2) t
        |  ORDER BY tot ASC, event_type DESC LIMIT 1),
        |pair AS (
        |  SELECT a.day, a.x AS ya, b.x AS yb
        |  FROM daily a JOIN daily b USING (day)
        |  WHERE a.event_type = (SELECT type_a FROM ta)
        |    AND b.event_type = (SELECT type_b FROM tb)),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(ya AS HUGEINT)) AS sy, SUM(CAST(yb AS HUGEINT)) AS sz,
        |    SUM(CAST(yb AS HUGEINT) * ya) AS szy,
        |    SUM(CAST(yb AS HUGEINT) * yb) AS szz
        |  FROM pair),
        |m2 AS (
        |  SELECT n, sy, sz,
        |    CAST(((n * szy - sz * sy) * 1000000)
        |      // (n * szz - sz * sz) AS BIGINT) AS slope_micro
        |  FROM m WHERE n * szz - sz * sz <> 0),
        |r AS (
        |  SELECT p.day,
        |    CAST((1000000 * p.ya - m2.slope_micro * p.yb
        |      - CAST((1000000 * m2.sy - m2.slope_micro * m2.sz) // m2.n
        |        AS BIGINT)) // 1000 AS BIGINT) AS eem,
        |    m2.slope_micro
        |  FROM pair p CROSS JOIN m2),
        |l AS (
        |  SELECT slope_micro, eem, lag(eem) OVER (ORDER BY day) AS el
        |  FROM r),
        |g AS (
        |  SELECT slope_micro, COUNT(*) AS n,
        |    SUM(CAST(el AS HUGEINT)) AS sz,
        |    SUM(CAST(eem - el AS HUGEINT)) AS sy,
        |    SUM(CAST(el AS HUGEINT) * (eem - el)) AS szy,
        |    SUM(CAST(el AS HUGEINT) * el) AS szz,
        |    SUM(CAST(eem - el AS HUGEINT) * (eem - el)) AS sy2
        |  FROM l WHERE el IS NOT NULL GROUP BY slope_micro),
        |f AS (
        |  SELECT slope_micro, n,
        |    n * szz - sz * sz AS Sxx, n * szy - sz * sy AS Sxy,
        |    n * sy2 - sy * sy AS Syy
        |  FROM g WHERE n > 2 AND n * szz - sz * sz <> 0
        |    AND n * sy2 - sy * sy <> 0),
        |f2 AS (
        |  SELECT slope_micro, n,
        |    CAST((Sxy * 1000000) // Sxx AS BIGINT) AS adf_slope_micro,
        |    CAST((((Sxy * 1000000) // Sxx) * Sxy) // Syy AS BIGINT)
        |      AS r2_ppm
        |  FROM f)
        |SELECT (SELECT type_a FROM ta) AS type_a,
        |  (SELECT type_b FROM tb) AS type_b,
        |  n AS n_diffs, slope_micro, adf_slope_micro,
        |  CAST(((n - 2) * r2_ppm * 1000) // (1000000 - r2_ppm) AS BIGINT)
        |    AS adf_t2_milli,
        |  (adf_slope_micro < 0 AND
        |   ((n - 2) * r2_ppm * 1000) // (1000000 - r2_ppm) > 11156)
        |    AS cointegrated_05
        |FROM f2 WHERE r2_ppm < 1000000""".stripMargin,
    "q_ts_page_hinkley" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, day, x,
        |    COUNT(*) OVER r AS t, CAST(SUM(x) OVER r AS BIGINT) AS c
        |  FROM daily
        |  WINDOW r AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT event_type, day, t, c, x - c // t AS dev FROM c),
        |p AS (
        |  SELECT event_type, day, t, c,
        |    CAST(SUM(dev) OVER r AS BIGINT) AS ph
        |  FROM d
        |  WINDOW r AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT event_type, t, c, ph,
        |    MIN(ph) OVER r AS ph_min
        |  FROM p
        |  WINDOW r AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT event_type, MAX(t) AS n_days,
        |    CAST(MAX(ph - ph_min) AS BIGINT) AS ph_max,
        |    CAST(arg_max(c // t, t) AS BIGINT) AS mean_daily
        |  FROM m GROUP BY event_type)
        |SELECT event_type, n_days, ph_max, mean_daily,
        |  ph_max > mean_daily AS drift_flag
        |FROM g ORDER BY event_type""".stripMargin,
    "q_ts_fulfillment" ->
      """WITH lat AS (
        |  SELECT date_trunc('month', o.o_orderdate) AS month,
        |    l.l_orderkey, l.l_linenumber,
        |    CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
        |      AS days
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |cnt AS (
        |  SELECT month, COUNT(*) AS n, CAST(SUM(days) AS BIGINT) AS sd
        |  FROM lat GROUP BY month),
        |rk AS (
        |  SELECT l.month, l.days, c.n, c.sd,
        |    row_number() OVER (PARTITION BY l.month
        |      ORDER BY l.days, l.l_orderkey, l.l_linenumber) AS rn
        |  FROM lat l JOIN cnt c USING (month))
        |SELECT CAST(month AS TIMESTAMP) AS month, MAX(n) AS n,
        |  CAST(MAX(sd * 1000 // n) AS BIGINT) AS mean_days_milli,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN days END) AS p50_days,
        |  MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN days END) AS p90_days
        |FROM rk
        |WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY month ORDER BY month""".stripMargin,
    "q_ts_backlog" ->
      """WITH placed AS (
        |  SELECT date_trunc('day', o.o_orderdate) AS day,
        |    CAST(1 AS BIGINT) AS delta
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |shipped AS (
        |  SELECT date_trunc('day', l_shipdate) AS day,
        |    CAST(-1 AS BIGINT) AS delta
        |  FROM lineitem),
        |u AS (SELECT * FROM placed UNION ALL SELECT * FROM shipped),
        |g AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS net
        |      FROM u GROUP BY day)
        |SELECT CAST(day AS TIMESTAMP) AS day, net,
        |  CAST(SUM(net) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS backlog
        |FROM g ORDER BY day""".stripMargin,
    "q_win_obv" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
        |    CAST(floor(value * 1e6) AS BIGINT) AS v
        |  FROM events),
        |rk AS (
        |  SELECT event_type, day, v,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM base),
        |daily AS (
        |  SELECT event_type, day, MAX(CASE WHEN rn_d = 1 THEN v END) AS c,
        |    COUNT(*) AS vol
        |  FROM rk GROUP BY event_type, day),
        |f AS (
        |  SELECT event_type, day, vol,
        |    c - lag(c) OVER (PARTITION BY event_type ORDER BY day) AS dc
        |  FROM daily),
        |fl AS (
        |  SELECT event_type, day,
        |    CASE WHEN dc IS NULL THEN 0
        |      ELSE CAST(sign(dc) AS BIGINT) * vol END AS flow
        |  FROM f),
        |o AS (
        |  SELECT event_type, day,
        |    CAST(SUM(flow) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS obv
        |  FROM fl)
        |SELECT event_type, COUNT(*) AS n_days, MAX(obv) AS obv_max,
        |  MIN(obv) AS obv_min, arg_max(obv, day) AS obv_final
        |FROM o GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ts_seasonal_index" ->
      """WITH monthly AS (
        |  SELECT CAST(month(o_orderdate) AS INTEGER) AS month_of_year,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(CAST(rev_cents AS HUGEINT)) AS HUGEINT) AS tot,
        |    COUNT(*) AS n_months
        |  FROM monthly)
        |SELECT month_of_year, n_orders, rev_cents,
        |  CAST((CAST(rev_cents AS HUGEINT) * n_months * 1000000) // tot
        |    AS BIGINT) AS index_ppm
        |FROM monthly CROSS JOIN tot
        |WHERE tot > 0 ORDER BY month_of_year""".stripMargin,
    "q_win_stochastic" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |roll AS (
        |  SELECT event_type, day, x,
        |    COUNT(*) OVER r AS cnt,
        |    MIN(x) OVER r AS l14, MAX(x) OVER r AS h14
        |  FROM daily
        |  WINDOW r AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(day AS TIMESTAMP) AS day,
        |  CAST(((x - l14) * 1000000) // (h14 - l14) AS BIGINT) AS k_ppm,
        |  ((x - l14) * 1000000) // (h14 - l14) > 800000 AS overbought,
        |  ((x - l14) * 1000000) // (h14 - l14) < 200000 AS oversold
        |FROM roll WHERE cnt = 14 AND h14 > l14
        |ORDER BY event_type, day""".stripMargin,
    "q_win_rsi" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, day,
        |    x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS d
        |  FROM daily),
        |gl AS (
        |  SELECT event_type, day,
        |    greatest(d, 0) AS gain, greatest(-d, 0) AS loss
        |  FROM d WHERE d IS NOT NULL),
        |roll AS (
        |  SELECT event_type, day,
        |    COUNT(*) OVER r AS cnt,
        |    CAST(SUM(gain) OVER r AS BIGINT) AS g,
        |    CAST(SUM(loss) OVER r AS BIGINT) AS l
        |  FROM gl
        |  WINDOW r AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(day AS TIMESTAMP) AS day,
        |  CAST((g * 100000) // (g + l) AS BIGINT) AS rsi_milli,
        |  (g * 100000) // (g + l) > 70000 AS overbought,
        |  (g * 100000) // (g + l) < 30000 AS oversold
        |FROM roll WHERE cnt = 14 AND g + l > 0
        |ORDER BY event_type, day""".stripMargin,
    "q_ts_pacf" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |mom AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx
        |  FROM daily GROUP BY event_type),
        |ct AS (
        |  SELECT d.event_type, d.day,
        |    m.n * CAST(d.x AS HUGEINT) - m.sx AS ct
        |  FROM daily d JOIN mom m USING (event_type)),
        |lg AS (
        |  SELECT event_type, ct,
        |    lag(ct, 1) OVER w AS c1, lag(ct, 2) OVER w AS c2
        |  FROM ct WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    SUM(ct * ct) AS g0, SUM(ct * c1) AS g1, SUM(ct * c2) AS g2
        |  FROM lg GROUP BY event_type),
        |r AS (
        |  SELECT event_type, n_days,
        |    CAST((g1 * 1000000) // g0 AS BIGINT) AS rho1_ppm,
        |    CAST((g2 * 1000000) // g0 AS BIGINT) AS rho2_ppm
        |  FROM g WHERE g0 > 0)
        |SELECT event_type, n_days, rho1_ppm, rho2_ppm,
        |  CASE WHEN 1000000000000 - rho1_ppm * rho1_ppm > 0 THEN
        |    CAST(((rho2_ppm * 1000000 - rho1_ppm * rho1_ppm) * 1000000)
        |      // (1000000000000 - rho1_ppm * rho1_ppm) AS BIGINT)
        |  END AS pacf2_ppm
        |FROM r ORDER BY event_type""".stripMargin,
    "q_eval_forecast_err" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, x,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY day) AS xp
        |  FROM daily),
        |e AS (
        |  SELECT event_type, x - xp AS err, abs(x - xp) // 1000 AS errm,
        |    (abs(x - xp) * 1000000) // xp AS ape_ppm
        |  FROM p WHERE xp IS NOT NULL AND xp > 0)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(abs(err) AS HUGEINT)) AS HUGEINT)
        |    // COUNT(*) AS BIGINT) AS mae_micro,
        |  CAST(SUM(CAST(errm AS HUGEINT) * errm) // COUNT(*) AS BIGINT)
        |    AS mse_milli2,
        |  CAST(SUM(CAST(ape_ppm AS HUGEINT)) // COUNT(*) AS BIGINT)
        |    AS mape_ppm
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ts_atr" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
        |    CAST(floor(value * 1e6) AS BIGINT) AS v
        |  FROM events),
        |rk AS (
        |  SELECT event_type, day, v,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM base),
        |daily AS (
        |  SELECT event_type, day, MAX(v) AS h, MIN(v) AS l,
        |    MAX(CASE WHEN rn_d = 1 THEN v END) AS c
        |  FROM rk GROUP BY event_type, day),
        |tr AS (
        |  SELECT event_type, day,
        |    CASE WHEN lag(c) OVER w IS NULL THEN h - l
        |      ELSE greatest(h - l, abs(h - lag(c) OVER w),
        |        abs(l - lag(c) OVER w)) END AS tr
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |roll AS (
        |  SELECT event_type, day, tr,
        |    COUNT(*) OVER r AS cnt, SUM(tr) OVER r AS trs
        |  FROM tr
        |  WINDOW r AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(day AS TIMESTAMP) AS day,
        |  tr AS tr_micro, CAST(trs // 14 AS BIGINT) AS atr_micro
        |FROM roll WHERE cnt = 14
        |ORDER BY event_type, day""".stripMargin,
    "q_win_bollinger" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) // 1000
        |      AS xm
        |  FROM events GROUP BY 1, 2),
        |roll AS (
        |  SELECT event_type, day, xm,
        |    COUNT(*) OVER r AS c,
        |    CAST(SUM(CAST(xm AS HUGEINT)) OVER r AS HUGEINT) AS sw,
        |    CAST(SUM(CAST(xm AS HUGEINT) * xm) OVER r AS HUGEINT) AS qw
        |  FROM daily
        |  WINDOW r AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT event_type, CAST(14 * xm AS HUGEINT) - sw AS dev,
        |    14 * qw - sw * sw AS varn
        |  FROM roll WHERE c = 14 AND 14 * qw - sw * sw > 0)
        |SELECT event_type, COUNT(*) AS n_windows,
        |  CAST(SUM(CASE WHEN dev > 0 AND dev * dev > 4 * varn
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
        |  CAST(SUM(CASE WHEN dev < 0 AND dev * dev > 4 * varn
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_lower,
        |  CAST(MAX((dev * dev * 1000) // varn) AS BIGINT) AS max_z2_milli
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ts_hurst" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, day, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
        |  FROM daily),
        |ch AS (
        |  SELECT event_type, i, x, w, i // w AS chunk
        |  FROM idx CROSS JOIN (SELECT unnest([8, 16, 32]) AS w) ws),
        |b AS (
        |  SELECT event_type, w, chunk, x,
        |    row_number() OVER (PARTITION BY event_type, w, chunk
        |      ORDER BY i) AS k,
        |    SUM(x) OVER (PARTITION BY event_type, w, chunk ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
        |  FROM ch),
        |t AS (
        |  SELECT event_type, w, chunk, COUNT(*) AS nr,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx
        |  FROM ch GROUP BY 1, 2, 3),
        |d AS (
        |  SELECT b.event_type, b.w, b.chunk,
        |    CAST(b.w AS HUGEINT) * b.pref - b.k * t.sx AS dev, t.sx, t.qx
        |  FROM b JOIN t ON b.event_type = t.event_type AND b.w = t.w
        |    AND b.chunk = t.chunk AND t.nr = b.w),
        |r AS (
        |  SELECT event_type, w, chunk,
        |    MAX(dev) - MIN(dev) AS r2w,
        |    MAX(CAST(w AS HUGEINT) * qx - sx * sx) AS s2
        |  FROM d GROUP BY 1, 2, 3),
        |lr AS (
        |  SELECT event_type, w,
        |    CAST(floor(ln(CAST(CAST((r2w * r2w * 1000000) // s2 AS BIGINT)
        |      AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(floor(ln(1000000.0) * 1e9) AS BIGINT) AS ln_ratio
        |  FROM r WHERE r2w > 0 AND s2 > 0),
        |pw AS (
        |  SELECT event_type, w, COUNT(*) AS n_chunks,
        |    CAST(SUM(ln_ratio) // COUNT(*) AS BIGINT) AS y,
        |    CAST(floor(ln(CAST(w AS DOUBLE)) * 1e9) AS BIGINT) AS lx
        |  FROM lr GROUP BY event_type, w),
        |g AS (
        |  SELECT event_type, CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
        |    COUNT(*) AS np,
        |    CAST(SUM(CAST(lx AS HUGEINT)) AS HUGEINT) AS sxl,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS syl,
        |    CAST(SUM(CAST(lx AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx
        |  FROM pw GROUP BY event_type),
        |f AS (
        |  SELECT event_type, n_chunks,
        |    np * sxy - sxl * syl AS Sxy, np * sxx - sxl * sxl AS Sxx
        |  FROM g WHERE np > 1)
        |SELECT event_type, n_chunks,
        |  CAST((Sxy * 1000000) // (2 * Sxx) AS BIGINT) AS hurst_micro
        |FROM f WHERE Sxx <> 0 ORDER BY event_type""".stripMargin,
    "q_ts_sax" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m0 AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY 1),
        |sg AS (
        |  SELECT d.event_type, date_diff('day', m.d0, d.day) // 7 AS seg,
        |    COUNT(*) AS len, CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx
        |  FROM daily d JOIN m0 m USING (event_type)
        |  GROUP BY 1, 2),
        |p AS (SELECT event_type, seg, (sx * 1000) // len AS paa_milli
        |      FROM sg),
        |q AS (
        |  SELECT event_type, seg,
        |    ntile(4) OVER (PARTITION BY event_type
        |      ORDER BY paa_milli, seg) AS qt
        |  FROM p)
        |SELECT event_type, COUNT(*) AS n_segments,
        |  string_agg(chr(CAST(96 + qt AS INTEGER)), '' ORDER BY seg) AS sax
        |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ts_adf" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type,
        |    CAST(lag(x) OVER (PARTITION BY event_type ORDER BY day) AS HUGEINT) AS z,
        |    CAST(x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS HUGEINT) AS y
        |  FROM daily),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(z) AS sz, SUM(y) AS sy, SUM(z * y) AS szy,
        |    SUM(z * z) AS szz, SUM(y * y) AS sy2
        |  FROM p WHERE z IS NOT NULL GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, n * szz - sz * sz AS Sxx,
        |    n * szy - sz * sy AS Sxy, n * sy2 - sy * sy AS Syy
        |  FROM g
        |  WHERE n * szz - sz * sz <> 0 AND n * sy2 - sy * sy <> 0 AND n > 2),
        |r AS (
        |  SELECT event_type, n,
        |    CAST((Sxy * 1000000) // Sxx AS BIGINT) AS slope_micro,
        |    CAST((((Sxy * 1000000) // Sxx) * Sxy) // Syy AS BIGINT) AS r2_ppm
        |  FROM m)
        |SELECT event_type, n, slope_micro, r2_ppm,
        |  CAST(((n - 2) * r2_ppm * 1000) // (1000000 - r2_ppm) AS BIGINT)
        |    AS t2_milli,
        |  (slope_micro < 0 AND
        |   ((n - 2) * r2_ppm * 1000) // (1000000 - r2_ppm) > 8180)
        |    AS stationary_05
        |FROM r WHERE r2_ppm < 1000000 ORDER BY event_type""".stripMargin,
    "q_ts_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |sp AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY a.event_type),
        |tg AS (
        |  SELECT event_type, COUNT(*) AS t
        |  FROM daily GROUP BY event_type, x),
        |ties AS (
        |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_days,
        |    CAST(SUM(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tie_term
        |  FROM tg GROUP BY event_type),
        |j AS (
        |  SELECT sp.event_type, ties.n_days, sp.s_stat,
        |    ties.n_days * (ties.n_days - 1) * (2 * ties.n_days + 5)
        |      - ties.tie_term AS var18
        |  FROM sp JOIN ties USING (event_type)
        |  WHERE ties.n_days * (ties.n_days - 1) * (2 * ties.n_days + 5)
        |      - ties.tie_term > 0),
        |z AS (
        |  SELECT *, CASE WHEN s_stat = 0 THEN 0
        |    ELSE CAST(((abs(CAST(s_stat AS HUGEINT)) - 1) * (abs(s_stat) - 1)
        |      * 18000) // var18 AS BIGINT) END AS z2_milli
        |  FROM j)
        |SELECT event_type, n_days, s_stat, var18, z2_milli,
        |  z2_milli > 3841 AS significant_05
        |FROM z ORDER BY event_type""".stripMargin,
    "q_win_drawdown" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT day, rev_cents,
        |    MAX(rev_cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_cents
        |  FROM daily)
        |SELECT day, rev_cents, peak_cents,
        |  peak_cents - rev_cents AS dd_cents,
        |  CAST((CAST(peak_cents - rev_cents AS HUGEINT) * 1000000) // peak_cents
        |    AS BIGINT) AS dd_ppm
        |FROM r ORDER BY day""".stripMargin,
    "q_win_ulcer" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT pri, rev,
        |    MAX(rev) OVER (PARTITION BY pri ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily),
        |dd AS (
        |  SELECT pri,
        |    CAST((CAST(peak - rev AS HUGEINT) * 1000000) // peak AS BIGINT)
        |      AS dd_ppm
        |  FROM r)
        |SELECT pri, COUNT(*) AS n_days,
        |  CAST(MAX(dd_ppm) AS BIGINT) AS max_dd_ppm,
        |  CAST(floor(sqrt(CAST(SUM(dd_ppm * dd_ppm) AS DOUBLE) / COUNT(*)))
        |    AS BIGINT) AS ulcer_ppm
        |FROM dd GROUP BY pri ORDER BY pri""".stripMargin,
    "q_ts_stl_strength" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS m
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, m,
        |    COUNT(*) OVER w7 AS n7, CAST(SUM(m) OVER w7 AS BIGINT) AS sum7,
        |    CAST(dayofweek(day) AS BIGINT) AS dow
        |  FROM daily
        |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |v AS (
        |  SELECT day, m, dow, sum7 // 7 AS trend FROM t WHERE n7 = 7),
        |seas AS (
        |  SELECT dow, CAST(SUM(m - trend) AS BIGINT) // COUNT(*) AS s_micro
        |  FROM v GROUP BY dow),
        |j AS (
        |  SELECT v.m - v.trend - seas.s_micro AS r,
        |    v.m - v.trend AS detr, v.m - seas.s_micro AS deseas
        |  FROM v JOIN seas ON seas.dow = v.dow),
        |a AS (
        |  SELECT COUNT(*) AS n_valid_days,
        |    COUNT(*) * SUM(CAST(r AS HUGEINT) * r)
        |      - SUM(CAST(r AS HUGEINT)) * SUM(CAST(r AS HUGEINT)) AS vr,
        |    COUNT(*) * SUM(CAST(detr AS HUGEINT) * detr)
        |      - SUM(CAST(detr AS HUGEINT)) * SUM(CAST(detr AS HUGEINT)) AS vdetr,
        |    COUNT(*) * SUM(CAST(deseas AS HUGEINT) * deseas)
        |      - SUM(CAST(deseas AS HUGEINT)) * SUM(CAST(deseas AS HUGEINT)) AS vdeseas
        |  FROM j)
        |SELECT n_valid_days,
        |  greatest(0, 1000000 - CAST((vr * 1000000) // vdetr AS BIGINT))
        |    AS f_seasonal_ppm,
        |  greatest(0, 1000000 - CAST((vr * 1000000) // vdeseas AS BIGINT))
        |    AS f_trend_ppm
        |FROM a""".stripMargin,
    "q_ts_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS HUGEINT) AS m
        |  FROM events GROUP BY event_type, day),
        |p AS (
        |  SELECT event_type, day,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS k,
        |    CAST(SUM(m) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cs,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(SUM(m) OVER (PARTITION BY event_type) AS HUGEINT) AS st
        |  FROM daily),
        |g AS (
        |  SELECT *, (cs * cs * (n - k) + (st - cs) * (st - cs) * k)
        |      // (CAST(k AS HUGEINT) * (n - k)) AS gain
        |  FROM p WHERE k < n),
        |b AS (
        |  SELECT * FROM g
        |  QUALIFY row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain DESC, k) = 1)
        |SELECT event_type, CAST(day AS TIMESTAMP) AS split_after_day,
        |  k AS n_left, n - k AS n_right,
        |  CAST((cs * 1000) // k AS BIGINT) AS mean_left_nano,
        |  CAST(((st - cs) * 1000) // (n - k) AS BIGINT) AS mean_right_nano
        |FROM b ORDER BY event_type""".stripMargin,
    "q_ts_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
        |  FROM events GROUP BY event_type, day),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS sc,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS scc
        |  FROM daily GROUP BY event_type)
        |SELECT event_type, n_days,
        |  CAST((sc * 1000) // n_days AS BIGINT) AS mean_milli,
        |  CAST(((n_days * scc - sc * sc) * 1000)
        |    // (CAST(n_days AS HUGEINT) * n_days) AS BIGINT) AS var_milli,
        |  CAST(((n_days * scc - sc * sc) * 1000)
        |    // (CAST(n_days AS HUGEINT) * sc) AS BIGINT) AS fano_milli
        |FROM m ORDER BY event_type""".stripMargin,
    "q_ts_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, day),
        |l AS (
        |  SELECT event_type, list(x ORDER BY x) AS xs, COUNT(*) AS n
        |  FROM daily GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, xs,
        |    (xs[CAST((n + 1) // 2 AS INT)] + xs[CAST((n + 2) // 2 AS INT)]) // 2 AS med
        |  FROM l),
        |d AS (
        |  SELECT event_type, n, xs, med,
        |    list_sort([abs(v - med) FOR v IN xs]) AS devs
        |  FROM m),
        |f AS (
        |  SELECT event_type, n, med,
        |    (devs[CAST((n + 1) // 2 AS INT)] + devs[CAST((n + 2) // 2 AS INT)]) // 2 AS mad,
        |    xs
        |  FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(med AS BIGINT) AS median_micro, CAST(mad AS BIGINT) AS mad_micro,
        |  CAST(len([v FOR v IN xs IF abs(v - med) > 3 * mad]) AS BIGINT) AS n_anomalies
        |FROM f ORDER BY event_type""".stripMargin,
    "q_ts_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, day),
        |idx AS (
        |  SELECT event_type, row_number() OVER (PARTITION BY event_type ORDER BY day) AS i, x
        |  FROM daily),
        |n AS (SELECT event_type, MAX(i) AS n FROM idx GROUP BY event_type),
        |holt(event_type, i, l, b) AS (
        |  SELECT i1.event_type, CAST(1 AS BIGINT), i1.x, i2.x - i1.x
        |  FROM idx i1 JOIN idx i2 ON i1.event_type = i2.event_type AND i1.i = 1 AND i2.i = 2
        |  UNION ALL
        |  SELECT h.event_type, h.i + 1,
        |    (ix.x + h.l + h.b) // 2,
        |    ((ix.x + h.l + h.b) // 2 - h.l + h.b) // 2
        |  FROM holt h JOIN idx ix ON ix.event_type = h.event_type AND ix.i = h.i + 1)
        |SELECT h.event_type, n.n AS n_days, h.l AS level_micro, h.b AS trend_micro,
        |  h.l + 3 * h.b AS forecast3_micro
        |FROM holt h JOIN n USING (event_type) WHERE h.i = n.n
        |ORDER BY h.event_type""".stripMargin,
    "q_ts_theilsen" ->
      """WITH d AS (
        |  SELECT date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS m
        |  FROM events GROUP BY day),
        |dd AS (
        |  SELECT datediff('day', DATE '2024-01-01', CAST(day AS DATE)) AS d, m
        |  FROM d),
        |p AS (
        |  SELECT CAST(b.m - a.m AS DOUBLE) / (b.d - a.d) AS slope
        |  FROM dd a JOIN dd b ON a.d < b.d)
        |SELECT COUNT(*) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 4) AS slope_micro_per_day
        |FROM p""".stripMargin,
    "q_ts_seasonal" ->
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS mass_micro
        |  FROM events GROUP BY day),
        |t AS (
        |  SELECT day, mass_micro,
        |    COUNT(*) OVER w AS n7,
        |    CAST(SUM(mass_micro) OVER w AS BIGINT) AS sum7,
        |    dayofweek(day) AS dow
        |  FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT day, mass_micro, dow,
        |    CASE WHEN n7 = 7 THEN sum7 // 7 END AS trend_micro
        |  FROM t),
        |seas AS (
        |  SELECT dow, CAST(SUM(mass_micro - trend_micro) AS BIGINT) AS detr_sum,
        |    COUNT(*) AS n_valid
        |  FROM t2 WHERE trend_micro IS NOT NULL GROUP BY dow)
        |SELECT day, mass_micro, trend_micro,
        |  round(CAST(detr_sum AS DOUBLE) / n_valid, 4) AS seasonal,
        |  round(CAST(mass_micro - trend_micro AS DOUBLE)
        |        - CAST(detr_sum AS DOUBLE) / n_valid, 4) AS remainder
        |FROM t2 LEFT JOIN seas USING (dow) ORDER BY day""".stripMargin,
    "q_ts_pct_change" ->
      """WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, day),
        |l AS (
        |  SELECT event_type, day, x,
        |    lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM d)
        |SELECT event_type, day, x AS mass_micro,
        |  round(CAST(x - prev AS DOUBLE) / prev, 6) AS wow_change
        |FROM l WHERE prev IS NOT NULL AND prev <> 0
        |ORDER BY event_type, day""".stripMargin,
    "q_ts_ewvar" -> {
      val num = (0 to 7).map { k =>
        val wt = 1L << (7 - k)
        val v = if (k == 0) "vmicro" else s"v$k"
        s"COALESCE(CAST($v AS HUGEINT) * $wt, 0)"
      }.mkString(" + ")
      val num2 = (0 to 7).map { k =>
        val wt = 1L << (7 - k)
        val v = if (k == 0) "vmicro" else s"v$k"
        s"COALESCE(CAST($v AS HUGEINT) * $v * $wt, 0)"
      }.mkString(" + ")
      val den = (0 to 7).map { k =>
        val wt = 1L << (7 - k)
        val v = if (k == 0) "vmicro" else s"v$k"
        s"(CASE WHEN $v IS NULL THEN 0 ELSE $wt END)"
      }.mkString(" + ")
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts,
         |    CAST(floor(value * 1e6) AS BIGINT) AS vmicro
         |  FROM events),
         |l AS (
         |  SELECT user_id, event_id, vmicro,
         |    lag(vmicro, 1) OVER w AS v1, lag(vmicro, 2) OVER w AS v2,
         |    lag(vmicro, 3) OVER w AS v3, lag(vmicro, 4) OVER w AS v4,
         |    lag(vmicro, 5) OVER w AS v5, lag(vmicro, 6) OVER w AS v6,
         |    lag(vmicro, 7) OVER w AS v7
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |g AS (
         |  SELECT user_id, event_id,
         |    ($num) AS swv, ($num2) AS swv2, ($den) AS den
         |  FROM l)
         |SELECT user_id, event_id,
         |  CAST(swv // den AS BIGINT) AS ewm_micro,
         |  CAST(((den * swv2 - swv * swv) // (den * den)) // 1000000
         |    AS BIGINT) AS ewvar_milli2
         |FROM g ORDER BY user_id, event_id""".stripMargin
    },
    "q_ts_ewma" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(value * 1e6) AS BIGINT) AS vmicro
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, vmicro,
        |    lag(vmicro, 1) OVER w AS v1, lag(vmicro, 2) OVER w AS v2,
        |    lag(vmicro, 3) OVER w AS v3, lag(vmicro, 4) OVER w AS v4,
        |    lag(vmicro, 5) OVER w AS v5, lag(vmicro, 6) OVER w AS v6,
        |    lag(vmicro, 7) OVER w AS v7
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |  round(CAST(vmicro * 128
        |      + COALESCE(v1, 0) * 64 + COALESCE(v2, 0) * 32
        |      + COALESCE(v3, 0) * 16 + COALESCE(v4, 0) * 8
        |      + COALESCE(v5, 0) * 4 + COALESCE(v6, 0) * 2
        |      + COALESCE(v7, 0) AS DOUBLE)
        |    / (128 + CASE WHEN v1 IS NULL THEN 0 ELSE 64 END
        |      + CASE WHEN v2 IS NULL THEN 0 ELSE 32 END
        |      + CASE WHEN v3 IS NULL THEN 0 ELSE 16 END
        |      + CASE WHEN v4 IS NULL THEN 0 ELSE 8 END
        |      + CASE WHEN v5 IS NULL THEN 0 ELSE 4 END
        |      + CASE WHEN v6 IS NULL THEN 0 ELSE 2 END
        |      + CASE WHEN v7 IS NULL THEN 0 ELSE 1 END) / 1e6, 6) AS ewma
        |FROM l ORDER BY user_id, event_id""".stripMargin,
    "q_ts_coverage" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS fin
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, sec, fin,
        |    max(fin) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmf
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN pmf IS NULL OR sec > pmf THEN 1 ELSE 0 END AS ni
        |  FROM m),
        |i AS (
        |  SELECT user_id, sec, fin,
        |    SUM(ni) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS island
        |  FROM f),
        |g AS (
        |  SELECT user_id, island, min(sec) AS lo, max(fin) AS hi
        |  FROM i GROUP BY user_id, island)
        |SELECT user_id, CAST(SUM(hi - lo) AS BIGINT) AS covered_sec,
        |  COUNT(*) AS n_islands
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_ts_cusum" ->
      """WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, day),
        |st AS (
        |  SELECT event_type, CAST(SUM(x) AS BIGINT) // COUNT(*) AS c
        |  FROM d GROUP BY event_type),
        |p AS (
        |  SELECT d.event_type, day, x, c,
        |    CAST(SUM(x - c) OVER (PARTITION BY d.event_type ORDER BY day) AS BIGINT) AS p
        |  FROM d JOIN st USING (event_type)),
        |s AS (
        |  SELECT event_type, day, c,
        |    p - least(min(p) OVER (PARTITION BY event_type ORDER BY day), 0) AS s
        |  FROM p)
        |SELECT event_type, day, CAST(s AS BIGINT) AS cusum_micro, s > c AS alarm
        |FROM s ORDER BY event_type, day""".stripMargin,
    "q_ts_acf" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS x
        |  FROM events GROUP BY event_type, hour),
        |l AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2, lag(x, 3) OVER w AS l3
        |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
        |st AS (
        |  SELECT event_type, 1 AS k, x, l1 AS y FROM l WHERE l1 IS NOT NULL
        |  UNION ALL SELECT event_type, 2, x, l2 FROM l WHERE l2 IS NOT NULL
        |  UNION ALL SELECT event_type, 3, x, l3 FROM l WHERE l3 IS NOT NULL),
        |a AS (
        |  SELECT event_type, k, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM st GROUP BY event_type, k),
        |v AS (
        |  SELECT event_type, k, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS vary
        |  FROM a)
        |SELECT event_type, k, n, round(num / sqrt(varx * vary), 6) AS acf
        |FROM v WHERE varx > 0 AND vary > 0
        |ORDER BY event_type, k""".stripMargin,
    "q_ts_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(value * 1e6) AS BIGINT) AS vmicro,
        |    lead(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |iv AS (SELECT user_id, vmicro, nxt - sec AS dur FROM e WHERE nxt IS NOT NULL),
        |agg AS (
        |  SELECT user_id, COUNT(*) + 1 AS n_events,
        |    CAST(SUM(dur) AS BIGINT) AS span_sec,
        |    CAST(SUM(vmicro * dur) AS BIGINT) AS svd
        |  FROM iv GROUP BY user_id)
        |SELECT user_id, n_events, span_sec,
        |  round(CAST(svd AS DOUBLE) / span_sec / 1e6, 6) AS twap
        |FROM agg WHERE span_sec > 0 ORDER BY user_id""".stripMargin,
    "q_ts_ohlc" ->
      """WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts ASC, event_id ASC) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, hour,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n
        |FROM b GROUP BY event_type, hour
        |ORDER BY event_type, hour""".stripMargin,
    "q_ts_gapfill" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |scaffold AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(hour) FROM hourly),
        |    (SELECT max(hour) FROM hourly), INTERVAL 1 HOUR)) AS hour),
        |filled AS (
        |  SELECT s.hour, coalesce(h.n_events, 0) AS n_events, h.sum_value,
        |    CAST(floor(epoch(s.hour)) AS BIGINT) // 3600 AS hh,
        |    last_value(h.sum_value IGNORE NULLS) OVER
        |      (ORDER BY s.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        |    last_value(CASE WHEN h.sum_value IS NOT NULL
        |      THEN CAST(floor(epoch(s.hour)) AS BIGINT) // 3600 END IGNORE NULLS) OVER
        |      (ORDER BY s.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
        |    first_value(h.sum_value IGNORE NULLS) OVER
        |      (ORDER BY s.hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        |    first_value(CASE WHEN h.sum_value IS NOT NULL
        |      THEN CAST(floor(epoch(s.hour)) AS BIGINT) // 3600 END IGNORE NULLS) OVER
        |      (ORDER BY s.hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
        |  FROM scaffold s LEFT JOIN hourly h ON s.hour = h.hour)
        |SELECT hour, n_events,
        |  round(CASE WHEN sum_value IS NOT NULL THEN sum_value
        |             WHEN prev_v IS NULL THEN next_v
        |             WHEN next_v IS NULL THEN prev_v
        |             ELSE prev_v + (next_v - prev_v) * (hh - prev_h) / (next_h - prev_h)
        |        END, 6) AS value_filled
        |FROM filled ORDER BY hour""".stripMargin,
    "q_histogram" ->
      """WITH binned AS (
        |  SELECT least(CAST(floor(o_totalprice / 50000) AS INTEGER), 11) AS bin, COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |scaffold AS (SELECT unnest(range(0, 12)) AS bin)
        |SELECT CAST(s.bin AS INTEGER) AS bin,
        |  CAST(s.bin * 50000 AS DOUBLE) AS lo,
        |  CAST((s.bin + 1) * 50000 AS DOUBLE) AS hi,
        |  coalesce(b.n, 0) AS n
        |FROM scaffold s LEFT JOIN binned b ON s.bin = b.bin
        |ORDER BY bin""".stripMargin,
    "q_window_tumbling" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin,
    "q_window_sliding" ->
      """SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS bucket_start,
        |  event_type, COUNT(*) AS n_events
        |FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) offs(k)
        |GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin,
    "q_window_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |islands AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM islands
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)
}
