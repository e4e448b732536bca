package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Det, Tables}

/** Round-13 additions, SURVEY §2 #394–#397: the four missing members
  * of the rolling-indicator family (#327 ATR, #328 Bollinger, #333 RSI,
  * #341 OBV, #356 %K, #369 MACD): volume-weighted average price,
  * Donchian channel, Aroon up/down, and the commodity channel index
  * (whose mean-absolute-deviation-around-a-rolling-mean is the one
  * shape a plain window aggregate cannot express — solved with a
  * frame-collected list folded through an order-insensitive integer
  * sum, NOT a float recurrence).
  *
  * Exactness discipline: prices stage to exact integer cents,
  * quantities are native integers; every rolling statistic is an
  * integer window sum / min / max; each readout is one truncating
  * division (Spark `div` ≡ DuckDB `//`, both toward zero).
  */
object IndicatorOps {

  /** Daily revenue in exact integer cents per order priority — the
    * CALENDAR-bounded series (≤ |days|·|priorities| rows at any corpus
    * size); the only corpus-scaled job is the day aggregate, which
    * map-side combines.
    */
  private def dailyByPri(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("pri"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(Det.money(col("o_totalprice"))) * 100).cast("long").as("v"))

  private val dec = DecimalType(38, 0)

  /** #394 Cumulative VWAP per return flag over ship days: running
    * Σ(notional cents) / Σ(quantity), emitted in exact micro-dollars
    * via one truncating division per row — the canonical
    * execution-quality benchmark price. Cumulative notional stages to
    * DECIMAL(38,0) (corpus-proportional: ~2e12 cents at sf0.1, int64
    * would die at ~4000×; decimal never). Scale: one map-side-combined
    * day aggregate, then cumulative windows on the |flags|-partitioned
    * calendar-bounded series.
    */
  def winVwap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("flag").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"),
        date_trunc("day", col("l_shipdate")).as("day"))
      .agg((sum(Det.money(col("l_extendedprice"))) * 100).cast("long")
          .as("notional"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .withColumn("cum_notional", sum(col("notional").cast(dec)).over(w))
      .withColumn("cum_qty", sum(col("qty")).over(w))
      .select(col("flag"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cum_qty"),
        expr("cast((cum_notional * 10000) div cum_qty as long)")
          .as("vwap_microusd"))
      .orderBy("flag", "day")
  }

  /** #395 Donchian channel (8-day) on the per-priority daily revenue
    * series: rolling high/low, channel width, and the position of
    * today's value inside the channel in ppm (zero-width windows emit
    * NULL position on both engines rather than an arbitrary midpoint).
    * Pure integer min/max/width; one ppm division. Scale: one frame
    * window on the calendar-bounded series.
    */
  def winDonchian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("day").rowsBetween(-7, 0)
    dailyByPri(s, dir)
      .withColumn("hi", max(col("v")).over(w))
      .withColumn("lo", min(col("v")).over(w))
      .select(col("pri"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("v"), col("hi"), col("lo"), (col("hi") - col("lo")).as("width"),
        when(col("hi") =!= col("lo"),
          expr("((v - lo) * 1000000) div (hi - lo)")).as("pos_ppm"))
      .orderBy("pri", "day")
  }

  /** #396 Aroon up/down (period 8) on the per-priority daily revenue
    * series: bars since the rolling high/low, read out as
    * (8 − bars)/8 in ppm. "Bars since extreme" is recovered WITHOUT a
    * nested window: each row encodes value·1e5 + index (ties → the
    * larger index, i.e. the most recent extreme, the standard Aroon
    * convention; for the low the index rides complemented so min()
    * also prefers recent), and one max/min over the frame decodes to
    * the extreme's index. Envelope: v·1e5 ≤ 9e13 at sf0.1, int64-safe
    * to ~100× daily cents (documented). Scale: row_number + one frame
    * window, all on the calendar-bounded series.
    */
  def winAroon(s: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("pri").orderBy("day")
    val w = wSeq.rowsBetween(-8, 0)
    dailyByPri(s, dir)
      .withColumn("t", (row_number().over(wSeq) - 1).cast("long"))
      .withColumn("enc_hi", col("v") * 100000L + col("t"))
      .withColumn("enc_lo", col("v") * 100000L + (lit(99999L) - col("t")))
      .withColumn("ds_hi", col("t") - (max(col("enc_hi")).over(w) % 100000L))
      .withColumn("ds_lo",
        col("t") - (lit(99999L) - (min(col("enc_lo")).over(w) % 100000L)))
      .select(col("pri"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("v"), col("ds_hi"), col("ds_lo"),
        ((lit(8L) - col("ds_hi")) * 125000L).as("aroon_up_ppm"),
        ((lit(8L) - col("ds_lo")) * 125000L).as("aroon_down_ppm"))
      .orderBy("pri", "day")
  }

  /** #397 Commodity channel index (8-day) on the per-priority daily
    * revenue series: (v − SMA)/(0.015·meanDev). The mean absolute
    * deviation around the ROLLING mean is the nested-window shape
    * plain aggregates can't express — the frame's values collect into
    * a list and fold through |v_i·m − s| (an order-insensitive exact
    * integer sum, so the list's collection order is irrelevant and
    * both engines agree bit-for-bit). cci = (v·m−s)·m·1e6 div
    * (15·mdNum) in milli, staged DECIMAL (numerator ~7e16 at sf0.1 —
    * int64 would die at ~100×); flat windows emit NULL. Scale: the
    * list is ≤8 elements per row of a calendar-bounded series — never
    * corpus-sized.
    */
  def winCci(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("pri").orderBy("day").rowsBetween(-7, 0)
    dailyByPri(s, dir)
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("l", collect_list(col("v")).over(w))
      .withColumn("md_num",
        aggregate(col("l"), lit(0L), (acc, x) => acc + abs(x * col("m") - col("s"))))
      .select(col("pri"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("v"), expr("(s * 1000) div m").as("sma_milli"),
        expr("md_num div m").as("md_raw"),
        when(col("md_num") > 0L,
          expr("cast(((v * m - s) * cast(m as decimal(38,0)) * 1000000) " +
            "div (15 * md_num) as long)")).as("cci_milli"))
      .orderBy("pri", "day")
  }

  /** Daily OHLC-ish bars of the event value stream per type: high, low,
    * and close (last by (ts, event_id)) in exact micro — the shared
    * input of [[winKeltner]] and [[winIchimoku]], the same bar
    * construction as TimeWindows.tsAtr (#327). Calendar-bounded.
    */
  private def dailyBars(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir).select(col("event_type"),
      date_trunc("day", col("ts")).as("day"), col("ts"), col("event_id"),
      floor(col("value") * 1e6).cast("long").as("v"))
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    base.withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(max(col("v")).as("h"), min(col("v")).as("l"),
        max(when(col("rn_d") === 1, col("v"))).as("c"))
  }

  /** #426 Keltner channel (original 8-day SMA form) on the per-type
    * daily bars: basis = SMA of the typical price (h+l+c)/3, band
    * offset = SMA of the daily range (h−l), upper/lower = basis ±
    * offset — the volatility envelope whose band width tracks realized
    * range instead of Bollinger's σ (#328), read together with ATR
    * (#327). Exactness: the typical price rides as the UN-divided sum
    * tp3 = h+l+c so the basis is one truncating division by 3·cnt;
    * offset is an integer window mean; full-window rows only (cnt = 8),
    * like ATR. Scale: two frame sums over the calendar-bounded bar
    * relation — the corpus-sized work is the one day aggregate.
    */
  def winKeltner(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, 0)
    dailyBars(s, dir)
      .withColumn("tp3", col("h") + col("l") + col("c"))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("tp3s", sum(col("tp3")).over(w))
      .withColumn("rs", sum(col("h") - col("l")).over(w))
      .filter(col("cnt") === 8)
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        expr("tp3s div (3 * cnt)").as("basis_micro"),
        expr("rs div cnt").as("offset_micro"),
        (expr("tp3s div (3 * cnt)") + expr("rs div cnt")).as("upper_micro"),
        (expr("tp3s div (3 * cnt)") - expr("rs div cnt")).as("lower_micro"))
      .orderBy("event_type", "day")
  }

  /** #427 Ichimoku baseline set (9/26/52 observed-day periods) on the
    * per-type daily bars: tenkan = 9-day (maxH+minL)/2, kijun = 26-day,
    * senkou B = 52-day, senkou A = (tenkan+kijun)/2 — each a rolling
    * max + min + one truncating halving, no recurrence anywhere (the
    * one indicator family that is pure order statistics). The cloud
    * displacement (+26) is deliberately NOT applied — the emitted row
    * is the value computed AT each day, the form a feature pipeline
    * joins on; periods count observed rows (trading-days convention,
    * same note as DecisionOps.winBeta). Scale: three frame windows on
    * the calendar-bounded bar relation.
    */
  def winIchimoku(s: SparkSession, dir: String): DataFrame = {
    val base = Window.partitionBy("event_type").orderBy("day")
    val w9 = base.rowsBetween(-8, 0)
    val w26 = base.rowsBetween(-25, 0)
    val w52 = base.rowsBetween(-51, 0)
    dailyBars(s, dir)
      .withColumn("tenkan2", max(col("h")).over(w9) + min(col("l")).over(w9))
      .withColumn("kijun2", max(col("h")).over(w26) + min(col("l")).over(w26))
      .withColumn("senb2", max(col("h")).over(w52) + min(col("l")).over(w52))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        expr("tenkan2 div 2").as("tenkan_micro"),
        expr("kijun2 div 2").as("kijun_micro"),
        expr("(tenkan2 + kijun2) div 4").as("senkou_a_micro"),
        expr("senb2 div 2").as("senkou_b_micro"))
      .orderBy("event_type", "day")
  }

  /** #441 Classic floor-trader pivot points from the PREVIOUS day's
    * bar: P = (h+l+c)/3, R1 = 2P−l, S1 = 2P−h, R2 = P+(h−l),
    * S2 = P−(h−l) — the intraday support/resistance levels every
    * trading desk pre-computes at the open; here the next-day feature
    * row a forecasting pipeline joins on. Exactness: levels derive
    * from the UN-divided tp3 = h+l+c with ONE truncating div by 3
    * (r1 = 2·(tp3 div 3) − l, documented staging), all integer micro.
    * Scale: one lag window over the calendar-bounded bar relation.
    */
  def winPivotPoints(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    dailyBars(s, dir)
      .withColumn("ph", lag(col("h"), 1).over(w))
      .withColumn("pl", lag(col("l"), 1).over(w))
      .withColumn("pc", lag(col("c"), 1).over(w))
      .filter(col("ph").isNotNull)
      .withColumn("p", expr("(ph + pl + pc) div 3"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("p").as("pivot_micro"),
        (lit(2L) * col("p") - col("pl")).as("r1_micro"),
        (lit(2L) * col("p") - col("ph")).as("s1_micro"),
        (col("p") + (col("ph") - col("pl"))).as("r2_micro"),
        (col("p") - (col("ph") - col("pl"))).as("s2_micro"))
      .orderBy("event_type", "day")
  }

  /** #459 Garman–Klass volatility per event type over daily OHLC of the
    * event-value series: σ²_GK = mean over days of ½·ln²(H/L) −
    * (2ln2−1)·ln²(C/O) — the range-based estimator that is ~7× more
    * efficient than close-to-close variance, completing the volatility
    * corner of the indicator family (#327 ATR measures the range, GK
    * turns it into a variance estimate).
    *
    * Exactness: values stage to integer micro; ln(H/L) = Det.lnNano(H) −
    * Det.lnNano(L) (the scale cancels, so both terms are the house
    * floored-nano ln of exact integers, and the DIFFERENCE is exact);
    * the per-day term d1²·5e8 − d2²·(2ln2−1 floored to nano) is pure
    * DECIMAL(38,0) multiplication — ZERO divisions until the final
    * mirrored readouts (variance in micro², vol = floor(√) micro).
    * Days with L ≤ 0 are excluded on both engines (ln undefined).
    * Scale: the OHLC grid is |types|×|days| rows; one corpus-sized
    * window+agg pass, everything after is calendar-bounded.
    */
  def winGarmanKlass(s: SparkSession, dir: String): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val base = Tables.events(s, dir)
      .select(col("event_type"), day.as("day"), col("ts"), col("event_id"),
        floor(col("value") * 1e6).cast("long").as("m"))
    val wAsc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(max(when(col("rn_a") === 1, col("m"))).as("o"),
        max(col("m")).as("h"), min(col("m")).as("l"),
        max(when(col("rn_d") === 1, col("m"))).as("c"))
      .filter(col("l") > 0)
      .select(col("event_type"),
        (Det.lnNano(col("h")) - Det.lnNano(col("l"))).cast(dec).as("d1"),
        (Det.lnNano(col("c")) - Det.lnNano(col("o"))).cast(dec).as("d2"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("d1") * col("d1") * 500000000L -
          col("d2") * col("d2") * 386294361L).as("ts2"))
      .select(col("event_type"), col("n_days"),
        expr("cast(ts2 div (n_days * 1000000000000000) as long)")
          .as("gk_var_micro2"))
      // GK can go negative on pathological days (known estimator quirk);
      // NULL the vol readout rather than sqrt(<0) — mirrored CASE
      .withColumn("gk_vol_micro",
        when(col("gk_var_micro2") >= 0,
          expr("cast(floor(sqrt(cast(gk_var_micro2 as double))) as long)")))
      .orderBy("event_type")
  }

  /** #520 Directional movement (+DI/−DI/DX, Wilder) per event type
    * over daily OHLC: +DM = (H−H₋₁) when it exceeds both (L₋₁−L) and
    * 0, −DM symmetric (the mutual-exclusion convention — at most one
    * side moves per day); true range per #327 ATR; all three smoothed
    * by the house 8-lag dyadic EMA, whose shared denominator CANCELS,
    * so +DI = EMA(+DM)/EMA(TR) reads directly off the integer
    * numerators — and DX = |+DI−−DI|/(+DI+−DI) needs only the two DM
    * numerators. WHY next to #327/#395: ATR says HOW MUCH range the
    * series has and Aroon (#395) times the last extreme; DX says how
    * much of the range is DIRECTIONAL — trending vs churning — the
    * gate a trend-following rule (#369 MACD crossings) should require
    * before trusting its signal.
    *
    * Exactness: H/L/C exact micro ints; DMs and TR exact integers;
    * EMA numerators DECIMAL-staged with exact availability-summed
    * dyadic weights; each DI/DX readout ONE truncating ppm division,
    * NULL-guarded (zero TR mass / zero directional mass / no lag
    * yet). Scale: one |types|×|days| window+agg pass on the type
    * partitioning.
    */
  def winAdx(s: SparkSession, dir: String): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val base = Tables.events(s, dir)
      .select(col("event_type"), day.as("day"), col("ts"), col("event_id"),
        floor(col("value") * 1e6).cast("long").as("m"))
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val daily = base
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(max(col("m")).as("h"), min(col("m")).as("l"),
        max(when(col("rn_d") === 1, col("m"))).as("c"))
      .withColumn("hp", lag(col("h"), 1).over(wSeq))
      .withColumn("lp", lag(col("l"), 1).over(wSeq))
      .withColumn("cp", lag(col("c"), 1).over(wSeq))
      .filter(col("hp").isNotNull)
      .withColumn("up", col("h") - col("hp"))
      .withColumn("dn", col("lp") - col("l"))
      .withColumn("pdm",
        when(col("up") > col("dn") && col("up") > 0, col("up")).otherwise(0L))
      .withColumn("ndm",
        when(col("dn") > col("up") && col("dn") > 0, col("dn")).otherwise(0L))
      .withColumn("tr", greatest(col("h") - col("l"),
        abs(col("h") - col("cp")), abs(col("l") - col("cp"))))
    def ema(src: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until 8).map { j =>
      val v = if (j == 0) src else lag(src, j).over(wSeq)
      coalesce(v.cast(DecimalType(38, 0)) * (1L << (7 - j)),
        lit(0L).cast(DecimalType(38, 0)))
    }.reduce(_ + _)
    daily
      .withColumn("epn", ema(col("pdm")))
      .withColumn("enn", ema(col("ndm")))
      .withColumn("etn", ema(col("tr")))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        expr("CASE WHEN etn > 0 THEN " +
          "cast((epn * 1000000) div etn as long) END").as("plus_di_ppm"),
        expr("CASE WHEN etn > 0 THEN " +
          "cast((enn * 1000000) div etn as long) END").as("minus_di_ppm"),
        expr("CASE WHEN epn + enn > 0 THEN " +
          "cast((abs(epn - enn) * 1000000) div (epn + enn) as long) END")
          .as("dx_ppm"))
      .orderBy("event_type", "day")
  }

  /** #512 Money Flow Index (14-day) per event type over daily OHLC ×
    * event volume: typical price tp = (H+L+C) div 3, raw money flow
    * mf = tp·n_events, direction by tp vs yesterday's tp (flat days
    * contribute NOTHING — the standard convention, stated), MFI =
    * positive-flow share of the trailing 14-day window in ppm, NULL
    * until 14 direction days exist or when the window's flow is zero.
    * WHY next to #341/#333: OBV (#341) signs raw VOLUME by close
    * direction and RSI (#333) averages price CHANGE — MFI is the
    * volume-WEIGHTED RSI, the overbought/oversold read that catches
    * price moves carried by thin volume (RSI fires, MFI doesn't ⇒ the
    * move has no mass behind it).
    *
    * Exactness: H/L/C exact micro ints from the #459 OHLC pass;
    * volume = exact event count; tp ONE truncating div 3 (mirrored);
    * mf products DECIMAL-staged; the windowed pos/neg sums are exact
    * integer window aggregates; MFI is ONE ppm division. Scale: one
    * |types|×|days| window+agg pass, every window on the same
    * event_type partitioning.
    */
  def winMfi(s: SparkSession, dir: String): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val base = Tables.events(s, dir)
      .select(col("event_type"), day.as("day"), col("ts"), col("event_id"),
        floor(col("value") * 1e6).cast("long").as("m"))
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val w14 = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-13, Window.currentRow)
    base
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(max(col("m")).as("h"), min(col("m")).as("l"),
        max(when(col("rn_d") === 1, col("m"))).as("c"),
        count(lit(1)).as("vol"))
      .withColumn("tp", expr("(h + l + c) div 3"))
      .withColumn("ptp", lag(col("tp"), 1).over(wSeq))
      .withColumn("mf",
        expr("cast(tp as decimal(38,0)) * vol"))
      .withColumn("pos",
        when(col("ptp").isNotNull && col("tp") > col("ptp"), col("mf"))
          .otherwise(lit(0L).cast(DecimalType(38, 0))))
      .withColumn("neg",
        when(col("ptp").isNotNull && col("tp") < col("ptp"), col("mf"))
          .otherwise(lit(0L).cast(DecimalType(38, 0))))
      .withColumn("dirn",
        when(col("ptp").isNotNull, 1L).otherwise(0L))
      .withColumn("sp", sum(col("pos")).over(w14))
      .withColumn("sn", sum(col("neg")).over(w14))
      .withColumn("nd", sum(col("dirn")).over(w14))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("tp").as("typical_micro"), col("vol").as("n_events"),
        expr("CASE WHEN nd >= 14 AND sp + sn > 0 THEN " +
          "cast((sp * 1000000) div (sp + sn) as long) END").as("mfi_ppm"))
      .orderBy("event_type", "day")
  }

  /** #507 Chaikin volatility per event type: the 8-day dyadic EMA of
    * the daily high−low range, and its 7-day rate of change in ppm —
    * volatility ACCELERATION, where the #459/#462/#463 family reports
    * volatility LEVEL: Chaikin spiking while GK/Parkinson are still
    * mid-band is the early-warning shape (range expanding fast off a
    * low base) that a static threshold misses, and the classic
    * divergence read against OBV (#341) closes the volume/volatility
    * indicator pair. WHY an EMA of the RAW range (not ln): the ROC
    * readout is scale-free, so the exact integer range needs no log
    * staging at all — the whole pipeline is integer arithmetic.
    *
    * Exactness: daily H/L are exact micro ints from the #459 OHLC
    * pass; the EMA is the house truncated dyadic 8-lag form (#369's
    * construction — weights 2⁷..2⁰ over available lags, exact rational
    * floored ONCE via div); the ROC is ONE ppm division, NULL until
    * the 7-day lag exists and when the lagged EMA is 0 (mirrored
    * CASE). Scale: one |types|×|days| window+agg pass; both windows
    * ride the same event_type partitioning, no extra shuffle.
    */
  def winChaikin(s: SparkSession, dir: String): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val base = Tables.events(s, dir)
      .select(col("event_type"), day.as("day"),
        floor(col("value") * 1e6).cast("long").as("m"))
      .groupBy("event_type", "day")
      .agg((max(col("m")) - min(col("m"))).as("r"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val terms = (0 until 8).map { j =>
      val v = if (j == 0) col("r") else lag(col("r"), j).over(w)
      val wt = 1L << (7 - j)
      (coalesce(v.cast(DecimalType(38, 0)) * wt,
        lit(0L).cast(DecimalType(38, 0))),
        when(v.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    base
      .withColumn("en", terms.map(_._1).reduce(_ + _))
      .withColumn("ed", terms.map(_._2).reduce(_ + _))
      .withColumn("ema_r", expr("cast(en div ed as long)"))
      .withColumn("e7", lag(col("ema_r"), 7).over(w))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("r").as("range_micro"), col("ema_r").as("ema_range_micro"),
        expr("CASE WHEN e7 > 0 THEN " +
          "cast(((ema_r - e7) * 1000000) div e7 as long) END")
          .as("chaikin_ppm"))
      .orderBy("event_type", "day")
  }

  /** #462 Parkinson range-based volatility per event type over the
    * daily high/low of the event-value series: σ²_P = mean ln²(H/L) /
    * (4·ln 2) — the oldest and simplest of the range estimators
    * (Parkinson 1980), ~5× more efficient than close-to-close and the
    * natural cross-read against #459 Garman–Klass (GK adds the
    * open/close drift term; P-vs-GK disagreement flags days where the
    * close jumped the range).
    *
    * Exactness: the #459 staging verbatim — ln(H/L) = Det.lnNano(H) −
    * Det.lnNano(L) (exact difference of house floored-nano lns), per-day
    * squares pure DECIMAL(38,0); the constant 4·ln 2 is floored to nano
    * (2772588722, pinned on both engines) and the readout is ONE
    * truncating division (Σd1²·1000) div (n·4ln2_nano) = variance in
    * micro². Parkinson is a sum of squares, so ≥ 0 always — the vol
    * sqrt needs no sign guard. L ≤ 0 days excluded both engines.
    * Scale: one |types|×|days| window+agg pass; readout |types| rows.
    */
  def winParkinson(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        floor(col("value") * 1e6).cast("long").as("m"))
    base
      .groupBy("event_type", "day")
      .agg(max(col("m")).as("h"), min(col("m")).as("l"))
      .filter(col("l") > 0)
      .select(col("event_type"), (Det.lnNano(col("h")) - Det.lnNano(col("l"))).cast(dec).as("d1"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("d1") * col("d1")).as("ts2"))
      .select(col("event_type"), col("n_days"),
        expr("cast((ts2 * 1000) div (n_days * 2772588722) as long)")
          .as("pk_var_micro2"))
      .withColumn("pk_vol_micro",
        expr("cast(floor(sqrt(cast(pk_var_micro2 as double))) as long)"))
      .orderBy("event_type")
  }

  /** #463 Rogers–Satchell volatility per event type over daily OHLC:
    * σ²_RS = mean[ln(H/C)·ln(H/O) + ln(L/C)·ln(L/O)] — the
    * drift-INDEPENDENT member of the range family (Rogers & Satchell
    * 1991): #462 Parkinson and #459 GK are biased when the series
    * trends within the day; RS is exact under nonzero drift, so
    * P ≫ RS flags drift-dominated days. Both per-day products are ≥ 0
    * by construction (H ≥ O,C ≥ L and floored-nano ln is monotone), so
    * the estimate is ≥ 0 and the vol sqrt needs no sign guard.
    *
    * Exactness: four exact lnNano differences per day, term u1·u2 +
    * v1·v2 pure DECIMAL(38,0); ONE truncating division Σterm div
    * (n·10⁶) = variance in micro². L ≤ 0 days excluded both engines.
    * Scale: the same |types|×|days| OHLC pass as #459.
    */
  def winRogersSatchell(s: SparkSession, dir: String): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val base = Tables.events(s, dir)
      .select(col("event_type"), day.as("day"), col("ts"), col("event_id"),
        floor(col("value") * 1e6).cast("long").as("m"))
    val wAsc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(max(when(col("rn_a") === 1, col("m"))).as("o"),
        max(col("m")).as("h"), min(col("m")).as("l"),
        max(when(col("rn_d") === 1, col("m"))).as("c"))
      .filter(col("l") > 0)
      .select(col("event_type"),
        (Det.lnNano(col("h")) - Det.lnNano(col("c"))).cast(dec).as("u1"),
        (Det.lnNano(col("h")) - Det.lnNano(col("o"))).cast(dec).as("u2"),
        (Det.lnNano(col("l")) - Det.lnNano(col("c"))).cast(dec).as("v1"),
        (Det.lnNano(col("l")) - Det.lnNano(col("o"))).cast(dec).as("v2"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("u1") * col("u2") + col("v1") * col("v2")).as("ts2"))
      .select(col("event_type"), col("n_days"),
        expr("cast(ts2 div (n_days * 1000000) as long)").as("rs_var_micro2"))
      .withColumn("rs_vol_micro",
        expr("cast(floor(sqrt(cast(rs_var_micro2 as double))) as long)"))
      .orderBy("event_type")
  }

  /** #464 Amihud illiquidity per event type: mean over days of
    * |daily ln-return| / daily event count — Amihud (2002)'s
    * price-impact-per-unit-volume ratio, here "how much does the
    * day-over-day value level move per event": a HIGH ratio means thin
    * activity moves the aggregate a lot (fragile/spiky stream), a low
    * one means the level is liquid against its own volume. Completes
    * the volume corner of the indicator family (#341 OBV: direction ×
    * volume; Amihud: magnitude ÷ volume).
    *
    * Exactness: daily value mass is an exact integer micro sum; the
    * ln-return is the exact difference of floored-nano lns; each day's
    * term is ONE truncating division by the integer event count
    * (nano-return per event), the readout mean ONE more by n_days —
    * both mirrored. Days with v ≤ 0 are excluded BEFORE the lag on
    * both engines (the return spans the surviving calendar, the
    * standard gap convention of the return family). Scale: one
    * |types|×|days| aggregate, then a lag window on the
    * calendar-bounded relation.
    */
  def winAmihud(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables.events(s, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        floor(col("value") * 1e6).cast("long").as("m"))
      .groupBy("event_type", "day")
      .agg(sum(col("m")).as("v"), count(lit(1)).as("n_ev"))
      .filter(col("v") > 0)
      .withColumn("pv", lag(col("v"), 1).over(w))
      .filter(col("pv").isNotNull)
      .select(col("event_type"),
        expr("abs(cast(floor(ln(cast(v as double)) * 1e9) as bigint) - " +
          "cast(floor(ln(cast(pv as double)) * 1e9) as bigint)) div n_ev")
          .as("term"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("term").cast(dec)).as("ts"))
      .select(col("event_type"), col("n_days"),
        expr("cast(ts div n_days as long)").as("amihud_nano"))
      .orderBy("event_type")
  }

  /** #465 Sortino ratio per event type on the daily ln-return series of
    * the value mass: mean return over DOWNSIDE semideviation (target
    * 0) — the risk-adjusted read the symmetric family can't give
    * (penalizing only losses is the right loss for pipeline-health
    * series where upside spikes are fine and drops are incidents).
    * Completes #446 ulcer (drawdown depth×duration) and #459/#462/#463
    * (two-sided vol) with the one-sided ratio.
    *
    * Exactness: returns are exact lnNano differences; mean = Σr div n;
    * downside variance = Σ(r<0: r²) div (n·10⁶) in pure DECIMAL with
    * ONE truncating division — the ·10⁶ downscale keeps the int→double
    * input of the terminal sqrt under 2^53 on both engines (the #390
    * caveat: nano² per-day squares are ~1e16), so semidev lands in
    * exact micro units; ratio = mean_nano div semidev_micro ( = ratio
    * in milli), NULL when no down day (both engines). Scale: one
    * |types|×|days| aggregate + lag window, |types|-row readout.
    */
  def winSortino(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables.events(s, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        floor(col("value") * 1e6).cast("long").as("m"))
      .groupBy("event_type", "day")
      .agg(sum(col("m")).as("v"))
      .filter(col("v") > 0)
      .withColumn("pv", lag(col("v"), 1).over(w))
      .filter(col("pv").isNotNull)
      .select(col("event_type"),
        (floor(log(col("v").cast("double")) * 1e9).cast("long") -
          floor(log(col("pv").cast("double")) * 1e9).cast("long")).as("r"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("r").cast(dec)).as("sr"),
        sum(when(col("r") < 0, col("r").cast(dec) * col("r")).otherwise(
          lit(0L).cast(dec))).as("sdd2"))
      .select(col("event_type"), col("n_days"),
        expr("cast(sr div n_days as long)").as("mean_r_nano"),
        expr("cast(floor(sqrt(cast(sdd2 div (n_days * 1000000) as double))) " +
          "as long)").as("semidev_micro"))
      .withColumn("sortino_milli",
        expr("CASE WHEN semidev_micro > 0 THEN " +
          "mean_r_nano div semidev_micro END"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_chaikin" -> (winChaikin _),
    "q_win_mfi" -> (winMfi _),
    "q_win_adx" -> (winAdx _),
    "q_win_parkinson" -> (winParkinson _),
    "q_win_rogers_satchell" -> (winRogersSatchell _),
    "q_win_amihud" -> (winAmihud _),
    "q_win_sortino" -> (winSortino _),
    "q_win_garman_klass" -> (winGarmanKlass _),
    "q_win_vwap" -> (winVwap _),
    "q_win_donchian" -> (winDonchian _),
    "q_win_aroon" -> (winAroon _),
    "q_win_cci" -> (winCci _),
    "q_win_keltner" -> (winKeltner _),
    "q_win_ichimoku" -> (winIchimoku _),
    "q_win_pivot_points" -> (winPivotPoints _))

  private val DailyPriSql =
    """daily AS (
      |  SELECT o_orderpriority AS pri, date_trunc('day', o_orderdate) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2)""".stripMargin

  /** The shared daily-bar CTE (same construction as the q_ts_atr twin). */
  private val DailyBarsSql =
    """base AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
      |    CAST(floor(value * 1e6) AS BIGINT) AS v
      |  FROM events),
      |rk AS (
      |  SELECT event_type, day, v,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM base),
      |bars AS (
      |  SELECT event_type, day, MAX(v) AS h, MIN(v) AS l,
      |    MAX(CASE WHEN rn_d = 1 THEN v END) AS c
      |  FROM rk GROUP BY event_type, day)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_win_parkinson" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(floor(value * 1e6) AS BIGINT) AS m
        |  FROM events),
        |hl AS (
        |  SELECT event_type, day, MAX(m) AS h, MIN(m) AS l
        |  FROM base GROUP BY event_type, day),
        |d AS (
        |  SELECT event_type,
        |    CAST(CAST(FLOOR(LN(CAST(h AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(LN(CAST(l AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS HUGEINT) AS d1
        |  FROM hl WHERE l > 0),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(d1 * d1) AS ts2
        |  FROM d GROUP BY event_type)
        |SELECT event_type, n_days,
        |  CAST((ts2 * 1000) // (n_days * 2772588722) AS BIGINT)
        |    AS pk_var_micro2,
        |  CAST(FLOOR(SQRT(CAST((ts2 * 1000) // (n_days * 2772588722)
        |    AS DOUBLE))) AS BIGINT) AS pk_vol_micro
        |FROM g ORDER BY event_type""".stripMargin,
    "q_win_rogers_satchell" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
        |    CAST(floor(value * 1e6) AS BIGINT) AS m
        |  FROM events),
        |rk AS (
        |  SELECT event_type, day, m,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts ASC, event_id ASC) AS ra,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM base),
        |ohlc AS (
        |  SELECT event_type, day,
        |    MAX(CASE WHEN ra = 1 THEN m END) AS o,
        |    MAX(m) AS h, MIN(m) AS l,
        |    MAX(CASE WHEN rd = 1 THEN m END) AS c
        |  FROM rk GROUP BY event_type, day),
        |d AS (
        |  SELECT event_type,
        |    CAST(CAST(FLOOR(LN(CAST(h AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS HUGEINT) AS u1,
        |    CAST(CAST(FLOOR(LN(CAST(h AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(LN(CAST(o AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS HUGEINT) AS u2,
        |    CAST(CAST(FLOOR(LN(CAST(l AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS HUGEINT) AS v1,
        |    CAST(CAST(FLOOR(LN(CAST(l AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(LN(CAST(o AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS HUGEINT) AS v2
        |  FROM ohlc WHERE l > 0),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(u1 * u2 + v1 * v2) AS ts2
        |  FROM d GROUP BY event_type)
        |SELECT event_type, n_days,
        |  CAST(ts2 // (n_days * 1000000) AS BIGINT) AS rs_var_micro2,
        |  CAST(FLOOR(SQRT(CAST(ts2 // (n_days * 1000000) AS DOUBLE)))
        |    AS BIGINT) AS rs_vol_micro
        |FROM g ORDER BY event_type""".stripMargin,
    "q_win_amihud" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(floor(value * 1e6) AS BIGINT) AS m
        |  FROM events),
        |dv AS (
        |  SELECT event_type, day, SUM(m) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS n_ev
        |  FROM base GROUP BY event_type, day),
        |lg AS (
        |  SELECT event_type, n_ev, v,
        |    LAG(v) OVER (PARTITION BY event_type ORDER BY day) AS pv
        |  FROM dv WHERE v > 0),
        |t AS (
        |  SELECT event_type,
        |    abs(CAST(FLOOR(LN(CAST(v AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(FLOOR(LN(CAST(pv AS DOUBLE)) * 1e9) AS BIGINT))
        |      // n_ev AS term
        |  FROM lg WHERE pv IS NOT NULL)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(CAST(term AS HUGEINT)) // COUNT(*) AS BIGINT)
        |    AS amihud_nano
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_win_sortino" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(floor(value * 1e6) AS BIGINT) AS m
        |  FROM events),
        |dv AS (
        |  SELECT event_type, day, SUM(m) AS v
        |  FROM base GROUP BY event_type, day),
        |lg AS (
        |  SELECT event_type, v,
        |    LAG(v) OVER (PARTITION BY event_type ORDER BY day) AS pv
        |  FROM dv WHERE v > 0),
        |r AS (
        |  SELECT event_type,
        |    CAST(FLOOR(LN(CAST(v AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(FLOOR(LN(CAST(pv AS DOUBLE)) * 1e9) AS BIGINT) AS r
        |  FROM lg WHERE pv IS NOT NULL),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(CAST(r AS HUGEINT)) AS sr,
        |    SUM(CASE WHEN r < 0 THEN CAST(r AS HUGEINT) * r ELSE 0 END)
        |      AS sdd2
        |  FROM r GROUP BY event_type),
        |sel AS (
        |  SELECT event_type, n_days,
        |    CAST(sr // n_days AS BIGINT) AS mean_r_nano,
        |    CAST(FLOOR(SQRT(CAST(sdd2 // (n_days * 1000000) AS DOUBLE)))
        |      AS BIGINT) AS semidev_micro
        |  FROM g)
        |SELECT event_type, n_days, mean_r_nano, semidev_micro,
        |  CAST(CASE WHEN semidev_micro > 0 THEN
        |    mean_r_nano // semidev_micro END AS BIGINT) AS sortino_milli
        |FROM sel ORDER BY event_type""".stripMargin,
    "q_win_adx" -> {
      def ema8(src: String): String =
        (0 until 8).map { j =>
          val v = if (j == 0) src
          else s"LAG($src, $j) OVER (PARTITION BY event_type ORDER BY day)"
          s"COALESCE(CAST($v AS HUGEINT) * ${1L << (7 - j)}, 0)"
        }.mkString(" + ")
      s"""WITH base AS (
         |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
         |    CAST(floor(value * 1e6) AS BIGINT) AS m
         |  FROM events),
         |rk AS (
         |  SELECT event_type, day, m,
         |    row_number() OVER (PARTITION BY event_type, day
         |      ORDER BY ts DESC, event_id DESC) AS rd
         |  FROM base),
         |ohlc AS (
         |  SELECT event_type, day,
         |    MAX(m) AS h, MIN(m) AS l,
         |    MAX(CASE WHEN rd = 1 THEN m END) AS c
         |  FROM rk GROUP BY event_type, day),
         |lagd AS (
         |  SELECT event_type, day, h, l, c,
         |    LAG(h) OVER (PARTITION BY event_type ORDER BY day) AS hp,
         |    LAG(l) OVER (PARTITION BY event_type ORDER BY day) AS lp,
         |    LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS cp
         |  FROM ohlc),
         |dm AS (
         |  SELECT event_type, day,
         |    CASE WHEN h - hp > lp - l AND h - hp > 0
         |      THEN h - hp ELSE 0 END AS pdm,
         |    CASE WHEN lp - l > h - hp AND lp - l > 0
         |      THEN lp - l ELSE 0 END AS ndm,
         |    GREATEST(h - l, abs(h - cp), abs(l - cp)) AS tr
         |  FROM lagd WHERE hp IS NOT NULL),
         |e AS (
         |  SELECT event_type, day,
         |    ${ema8("pdm")} AS epn,
         |    ${ema8("ndm")} AS enn,
         |    ${ema8("tr")} AS etn
         |  FROM dm)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
         |  CASE WHEN etn > 0 THEN
         |    CAST((epn * 1000000) // etn AS BIGINT) END AS plus_di_ppm,
         |  CASE WHEN etn > 0 THEN
         |    CAST((enn * 1000000) // etn AS BIGINT) END AS minus_di_ppm,
         |  CASE WHEN epn + enn > 0 THEN
         |    CAST((abs(epn - enn) * 1000000) // (epn + enn) AS BIGINT) END
         |    AS dx_ppm
         |FROM e ORDER BY event_type, day""".stripMargin
    },
    "q_win_mfi" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
        |    CAST(floor(value * 1e6) AS BIGINT) AS m
        |  FROM events),
        |rk AS (
        |  SELECT event_type, day, m,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM base),
        |ohlc AS (
        |  SELECT event_type, day,
        |    MAX(m) AS h, MIN(m) AS l,
        |    MAX(CASE WHEN rd = 1 THEN m END) AS c,
        |    CAST(COUNT(*) AS BIGINT) AS vol
        |  FROM rk GROUP BY event_type, day),
        |tp AS (
        |  SELECT event_type, day, vol, (h + l + c) // 3 AS tp
        |  FROM ohlc),
        |d AS (
        |  SELECT event_type, day, vol, tp,
        |    LAG(tp) OVER (PARTITION BY event_type ORDER BY day) AS ptp
        |  FROM tp),
        |f AS (
        |  SELECT event_type, day, tp, vol,
        |    CASE WHEN ptp IS NOT NULL AND tp > ptp
        |      THEN CAST(tp AS HUGEINT) * vol ELSE 0 END AS pos,
        |    CASE WHEN ptp IS NOT NULL AND tp < ptp
        |      THEN CAST(tp AS HUGEINT) * vol ELSE 0 END AS neg,
        |    CASE WHEN ptp IS NOT NULL THEN 1 ELSE 0 END AS dirn
        |  FROM d),
        |win AS (
        |  SELECT event_type, day, tp, vol,
        |    SUM(pos) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sp,
        |    SUM(neg) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sn,
        |    SUM(dirn) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS nd
        |  FROM f)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  tp AS typical_micro, vol AS n_events,
        |  CASE WHEN nd >= 14 AND sp + sn > 0 THEN
        |    CAST((sp * 1000000) // (sp + sn) AS BIGINT) END AS mfi_ppm
        |FROM win ORDER BY event_type, day""".stripMargin,
    "q_win_chaikin" -> {
      def ema8(src: String): String = {
        val over = "OVER (PARTITION BY event_type ORDER BY day)"
        val nums = (0 until 8).map { j =>
          val v = if (j == 0) src else s"LAG($src, $j) $over"
          s"COALESCE(CAST($v AS HUGEINT) * ${1L << (7 - j)}, 0)"
        }.mkString(" + ")
        val dens = (0 until 8).map { j =>
          val v = if (j == 0) src else s"LAG($src, $j) $over"
          s"(CASE WHEN $v IS NOT NULL THEN ${1L << (7 - j)} ELSE 0 END)"
        }.mkString(" + ")
        s"$nums AS en, $dens AS ed"
      }
      s"""WITH base AS (
         |  SELECT event_type, date_trunc('day', ts) AS day,
         |    CAST(floor(value * 1e6) AS BIGINT) AS m
         |  FROM events),
         |rng AS (
         |  SELECT event_type, day, CAST(MAX(m) - MIN(m) AS BIGINT) AS r
         |  FROM base GROUP BY event_type, day),
         |e AS (
         |  SELECT event_type, day, r, ${ema8("r")}
         |  FROM rng),
         |s AS (
         |  SELECT event_type, day, r,
         |    CAST(en // ed AS BIGINT) AS ema_r
         |  FROM e),
         |f AS (
         |  SELECT event_type, day, r, ema_r,
         |    LAG(ema_r, 7) OVER (PARTITION BY event_type ORDER BY day) AS e7
         |  FROM s)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
         |  r AS range_micro, ema_r AS ema_range_micro,
         |  CASE WHEN e7 > 0 THEN
         |    CAST(((ema_r - e7) * 1000000) // e7 AS BIGINT) END AS chaikin_ppm
         |FROM f ORDER BY event_type, day""".stripMargin
    },
    "q_win_garman_klass" ->
      """WITH base AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
        |    CAST(floor(value * 1e6) AS BIGINT) AS m
        |  FROM events),
        |rk AS (
        |  SELECT event_type, day, m,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts ASC, event_id ASC) AS ra,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM base),
        |ohlc AS (
        |  SELECT event_type, day,
        |    MAX(CASE WHEN ra = 1 THEN m END) AS o,
        |    MAX(m) AS h, MIN(m) AS l,
        |    MAX(CASE WHEN rd = 1 THEN m END) AS c
        |  FROM rk GROUP BY event_type, day),
        |d AS (
        |  SELECT event_type,
        |    CAST(CAST(FLOOR(LN(CAST(h AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(LN(CAST(l AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS HUGEINT) AS d1,
        |    CAST(CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(LN(CAST(o AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS HUGEINT) AS d2
        |  FROM ohlc WHERE l > 0),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(d1 * d1 * 500000000 - d2 * d2 * 386294361) AS ts2
        |  FROM d GROUP BY event_type),
        |v AS (
        |  SELECT event_type, n_days,
        |    CAST(ts2 // (CAST(n_days AS HUGEINT) * 1000000000000000)
        |      AS BIGINT) AS gk_var_micro2
        |  FROM g)
        |SELECT event_type, n_days, gk_var_micro2,
        |  CASE WHEN gk_var_micro2 >= 0 THEN
        |    CAST(FLOOR(SQRT(CAST(gk_var_micro2 AS DOUBLE))) AS BIGINT)
        |  ELSE NULL END AS gk_vol_micro
        |FROM v ORDER BY event_type""".stripMargin,
    "q_win_vwap" ->
      """WITH d AS (
        |  SELECT l_returnflag AS flag, date_trunc('day', l_shipdate) AS day,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
        |      AS notional,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT flag, day,
        |    SUM(CAST(notional AS HUGEINT)) OVER w AS cum_notional,
        |    CAST(SUM(qty) OVER w AS BIGINT) AS cum_qty
        |  FROM d WINDOW w AS (PARTITION BY flag ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT flag, strftime(day, '%Y-%m-%d') AS day, cum_qty,
        |  CAST((cum_notional * 10000) // cum_qty AS BIGINT) AS vwap_microusd
        |FROM c ORDER BY flag, day""".stripMargin,
    "q_win_donchian" ->
      s"""WITH $DailyPriSql,
         |w AS (
         |  SELECT pri, day, v,
         |    MAX(v) OVER fr AS hi, MIN(v) OVER fr AS lo
         |  FROM daily WINDOW fr AS (PARTITION BY pri ORDER BY day
         |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT pri, strftime(day, '%Y-%m-%d') AS day, v, hi, lo,
         |  hi - lo AS width,
         |  CASE WHEN hi <> lo THEN ((v - lo) * 1000000) // (hi - lo) END
         |    AS pos_ppm
         |FROM w ORDER BY pri, day""".stripMargin,
    "q_win_aroon" ->
      s"""WITH $DailyPriSql,
         |idx AS (
         |  SELECT pri, day, v,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY pri ORDER BY day) - 1
         |      AS BIGINT) AS t
         |  FROM daily),
         |e AS (
         |  SELECT pri, day, v, t,
         |    t - ((MAX(v * 100000 + t) OVER fr) % 100000) AS ds_hi,
         |    t - (99999 - ((MIN(v * 100000 + (99999 - t)) OVER fr) % 100000))
         |      AS ds_lo
         |  FROM idx WINDOW fr AS (PARTITION BY pri ORDER BY day
         |    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
         |SELECT pri, strftime(day, '%Y-%m-%d') AS day, v, ds_hi, ds_lo,
         |  (8 - ds_hi) * 125000 AS aroon_up_ppm,
         |  (8 - ds_lo) * 125000 AS aroon_down_ppm
         |FROM e ORDER BY pri, day""".stripMargin,
    "q_win_cci" ->
      s"""WITH $DailyPriSql,
         |w AS (
         |  SELECT pri, day, v,
         |    SUM(v) OVER fr AS s, COUNT(*) OVER fr AS m,
         |    list(v) OVER fr AS l
         |  FROM daily WINDOW fr AS (PARTITION BY pri ORDER BY day
         |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
         |md AS (
         |  SELECT pri, day, v, s, m,
         |    list_aggregate(list_transform(l, x -> abs(x * m - s)), 'sum')
         |      AS md_num
         |  FROM w)
         |SELECT pri, strftime(day, '%Y-%m-%d') AS day, v,
         |  CAST((s * 1000) // m AS BIGINT) AS sma_milli,
         |  CAST(md_num // m AS BIGINT) AS md_raw,
         |  CASE WHEN md_num > 0 THEN
         |    CAST(((v * m - s) * CAST(m AS HUGEINT) * 1000000) // (15 * md_num)
         |      AS BIGINT) END AS cci_milli
         |FROM md ORDER BY pri, day""".stripMargin,
    "q_win_keltner" ->
      s"""WITH $DailyBarsSql,
         |w AS (
         |  SELECT event_type, day,
         |    COUNT(*) OVER fr AS cnt,
         |    SUM(h + l + c) OVER fr AS tp3s,
         |    SUM(h - l) OVER fr AS rs
         |  FROM bars WINDOW fr AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
         |  CAST(tp3s // (3 * cnt) AS BIGINT) AS basis_micro,
         |  CAST(rs // cnt AS BIGINT) AS offset_micro,
         |  CAST(tp3s // (3 * cnt) + rs // cnt AS BIGINT) AS upper_micro,
         |  CAST(tp3s // (3 * cnt) - rs // cnt AS BIGINT) AS lower_micro
         |FROM w WHERE cnt = 8 ORDER BY event_type, day""".stripMargin,
    "q_win_ichimoku" ->
      s"""WITH $DailyBarsSql,
         |w AS (
         |  SELECT event_type, day,
         |    MAX(h) OVER w9 + MIN(l) OVER w9 AS tenkan2,
         |    MAX(h) OVER w26 + MIN(l) OVER w26 AS kijun2,
         |    MAX(h) OVER w52 + MIN(l) OVER w52 AS senb2
         |  FROM bars WINDOW
         |    w9 AS (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         |    w26 AS (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         |    w52 AS (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
         |  CAST(tenkan2 // 2 AS BIGINT) AS tenkan_micro,
         |  CAST(kijun2 // 2 AS BIGINT) AS kijun_micro,
         |  CAST((tenkan2 + kijun2) // 4 AS BIGINT) AS senkou_a_micro,
         |  CAST(senb2 // 2 AS BIGINT) AS senkou_b_micro
         |FROM w ORDER BY event_type, day""".stripMargin,
    "q_win_pivot_points" ->
      s"""WITH $DailyBarsSql,
         |lagged AS (
         |  SELECT event_type, day,
         |    lag(h) OVER w AS ph, lag(l) OVER w AS pl, lag(c) OVER w AS pc
         |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |pp AS (
         |  SELECT event_type, day, ph, pl,
         |    (ph + pl + pc) // 3 AS p
         |  FROM lagged WHERE ph IS NOT NULL)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
         |  CAST(p AS BIGINT) AS pivot_micro,
         |  CAST(2 * p - pl AS BIGINT) AS r1_micro,
         |  CAST(2 * p - ph AS BIGINT) AS s1_micro,
         |  CAST(p + (ph - pl) AS BIGINT) AS r2_micro,
         |  CAST(p - (ph - pl) AS BIGINT) AS s2_micro
         |FROM pp ORDER BY event_type, day""".stripMargin)
}
