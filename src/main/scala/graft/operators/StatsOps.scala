package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Dataset statistics & layout operators a 100 TB curation pipeline runs
  * before/while training-data selection: column profiling, percentile
  * winsorization, quantile bucketing (ntile), Z-order clustering keys
  * for co-locating multi-dimension range predicates, and token-entropy
  * document scoring.
  */
object StatsOps {

  /** One profile row (count / nulls / ndv / min / max) per column. Each
    * source table is scanned ONCE for all its profiled columns (one agg
    * emitting a struct per column, then a stack) — at 100 TB profiling
    * cost is #tables scans, not #columns. min/max/count are map-side
    * combined; ndv is the only shuffle-heavy term and swaps to
    * approx_count_distinct at corpus scale (exact here for the oracle).
    */
  def profileColumns(s: SparkSession, dir: String): DataFrame = {
    def prof(df: DataFrame, cols: Seq[String]): DataFrame = {
      val aggs = cols.flatMap { c =>
        Seq(count(lit(1)).as(s"${c}__n"),
          (count(lit(1)) - count(col(c))).as(s"${c}__n_null"),
          countDistinct(col(c)).as(s"${c}__ndv"),
          min(col(c)).cast("double").as(s"${c}__min_v"),
          max(col(c)).cast("double").as(s"${c}__max_v"))
      }
      // one agg row per table, exploded into one row per column — the
      // single-table-scan claim is structural, not an optimizer favor
      df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map { c =>
          struct(lit(c).as("col_name"), col(s"${c}__n").as("n"),
            col(s"${c}__n_null").as("n_null"), col(s"${c}__ndv").as("ndv"),
            col(s"${c}__min_v").as("min_v"), col(s"${c}__max_v").as("max_v"))
        }: _*)).as("p"))
        .select(col("p.*"))
    }
    prof(Tables.orders(s, dir), Seq("o_totalprice", "o_custkey"))
      .unionAll(prof(Tables.lineitem(s, dir), Seq("l_quantity", "l_discount")))
      .unionAll(prof(Tables.customer(s, dir), Seq("c_acctbal")))
      .orderBy("col_name")
  }

  /** Winsorize account balances at the per-segment p05/p95. The
    * percentile table is group-cardinality-sized (broadcast anywhere);
    * the clip itself is a comparison. Cross-engine interpolation of the
    * same sorted doubles can differ at the last ulp, so — same
    * convention as q_agg_percentile — both engines round the bounds to
    * 4 dp before comparing/clipping (the interpolated value of 2-dp
    * inputs at a 2-dp fraction is an exact 4-dp number, so the rounding
    * is tie-free).
    */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val q = cust.groupBy(col("c_mktsegment").as("seg")).agg(
      round(expr("percentile(c_acctbal, 0.05)"), 4).as("p05"),
      round(expr("percentile(c_acctbal, 0.95)"), 4).as("p95"))
    cust.join(broadcast(q), col("c_mktsegment") === col("seg"))
      .select(col("c_custkey"), col("c_acctbal"),
        least(greatest(col("c_acctbal"), col("p05")), col("p95")).as("w_acctbal"),
        when(col("c_acctbal") < col("p05"), "low")
          .when(col("c_acctbal") > col("p95"), "high")
          .otherwise("in").as("clip"))
      .orderBy("c_custkey")
  }

  /** Quantile bucketing over a total order (ntile) without a
    * single-partition window: the global rank comes from the
    * [[GlobalPrefix]] kernel, and the bucket id from exact integer ntile
    * arithmetic: the first n%k buckets hold n/k+1 rows, the rest n/k —
    * identical output to ntile(k) because the (price, orderkey) order is
    * total.
    */
  def ntileBuckets(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val ranked = rankedOrdersPrice(s, dir)
    val n = ranked.totals("r")
    val q = n / k
    val rem = n % k
    ranked.df
      .withColumn("bucket",
        when(lit(rem) =!= 0 && col("r") <= lit(rem * (q + 1)),
          expr(s"(r - 1) div ${q + 1} + 1"))
          .otherwise(expr(s"$rem + (r - 1 - ${rem * (q + 1)}) div ${math.max(q, 1L)} + 1"))
          .cast("long"))
      .select(col("o_orderkey"), col("bucket"))
      .orderBy("o_orderkey")
  }

  /** Named builders for the shared [[GlobalPrefix.memoized]] relations
    * this file owns, one per (input relation, total order, weights, key):
    * the graded consumers and [[graft.Prewarm.sessionTier]] call the SAME
    * functions, so warming the memo never executes a graded
    * `SparkEntry.queries` entry, and what prewarm builds cannot drift
    * from what the query uses.
    */
  private[graft] def rankedOrdersPrice(s: SparkSession, dir: String): GlobalPrefix.Prefixed =
    GlobalPrefix.memoized(s, s"$dir#orders:totalprice",
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_totalprice"), col("o_orderkey")), GlobalPrefix.Rank)

  private[graft] def rankedCustCents(s: SparkSession, dir: String): GlobalPrefix.Prefixed = {
    val perCust = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    GlobalPrefix.memoized(s, s"$dir#orders:cust-cents", perCust,
      Seq(col("cents"), col("o_custkey")), GlobalPrefix.Rank)
  }

  /** Parts by revenue descending, with the running revenue `cum_rev`. */
  private[graft] def rankedPartRevenue(s: SparkSession, dir: String): GlobalPrefix.Prefixed = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
        .cast("long")).as("rev"))
    GlobalPrefix.memoized(s, s"abc:$dir", rev, Seq(desc("rev"), asc("partkey")),
      "cum_rev" -> col("rev"))
  }

  /** Equi-DEPTH histogram (the optimizer-statistics sibling of the
    * zero-filled equi-width q_histogram): k buckets with equal ROW
    * counts, each reporting its [lo, hi] value bounds and count — the
    * boundary list a cost-based planner stores for selectivity
    * estimates on skewed columns. Bucket assignment rides the
    * [[GlobalPrefix]] rank (no single-partition window); the per-bucket
    * reduction is an 8-group map-side-combined aggregate. Bounds are
    * exact 2-dp money values, so the cross-engine hash is tolerance-free.
    */
  def histogramEquidepth(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val ranked = rankedOrdersPrice(s, dir)
    val n = ranked.totals("r")
    val q = n / k
    val rem = n % k
    ranked.df
      .withColumn("bucket",
        when(lit(rem) =!= 0 && col("r") <= lit(rem * (q + 1)),
          expr(s"(r - 1) div ${q + 1} + 1"))
          .otherwise(expr(s"$rem + (r - 1 - ${rem * (q + 1)}) div ${math.max(q, 1L)} + 1"))
          .cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("bucket")
  }

  /** Z-order (Morton) clustering key: interleave the low 8 bits of
    * partkey/suppkey so rows close in BOTH dimensions land in the same
    * zbucket — the layout trick behind multi-dimensional data skipping
    * (write sorted by zkey → min/max row-group stats prune 2-D range
    * predicates). Pure bit arithmetic, codegen'd, shuffle-free until the
    * final layout sort.
    */
  def zorderKey(s: SparkSession, dir: String): DataFrame = {
    val zkey: Column = (0 until 8).map { i =>
      shiftleft(shiftright(col("l_partkey"), i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(col("l_suppkey"), i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), zkey.as("zkey"))
      .groupBy(shiftright(col("zkey"), 10).as("zbucket"))
      .agg(count(lit(1)).as("n"), min(col("zkey")).as("min_z"), max(col("zkey")).as("max_z"))
      .orderBy("zbucket")
  }

  /** Join-key skew diagnostics — the report you run BEFORE deciding to
    * salt or skew-hint a 100 TB join: per-key cardinality stats (max,
    * floor-micro mean, max/mean skew ratio) plus the top-5 hottest keys.
    * One map-side-combined count per key, a 1-row global reduction, and
    * the hot list via orderBy+limit (TakeOrderedAndProject — never a
    * global sort). All integer arithmetic.
    */
  def skewReport(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_rows_key"))
    val stats = counts.agg(count(lit(1)).as("n_keys"), sum(col("n_rows_key")).as("n_rows"),
      max(col("n_rows_key")).as("max_rows"))
    val top = counts.orderBy(col("n_rows_key").desc, col("o_custkey").asc).limit(5)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_rows_key").desc, col("o_custkey").asc)))
    top.crossJoin(broadcast(stats))
      .select(col("rank"), col("o_custkey"), col("n_rows_key"),
        col("n_keys"), col("max_rows"),
        expr("(1000000 * n_rows) div n_keys").as("mean_rows_micro"),
        expr("(1000000 * max_rows * n_keys) div n_rows").as("skew_ratio_micro"))
      .orderBy("rank")
  }

  /** Gini coefficient of customer revenue concentration, exact: with
    * per-customer cents x_i ranked ascending (the [[GlobalPrefix]] rank —
    * never a single-partition window), G =
    * (2·Σ r_i·x_i − (n+1)·Σ x_i) / (n·Σ x_i). Every product is int64,
    * the sums accumulate in DECIMAL(38,0) (DuckDB HUGEINT twin), and the
    * one double division at the end routes the DuckDB side through
    * VARCHAR per Det's decimal→double caveat. The ranked relation is the
    * per-customer aggregate, already reduced before ranking.
    */
  def giniRevenue(s: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val ranked = rankedCustCents(s, dir)
    val n = ranked.totals("r")
    ranked.df
      .agg(sum(col("cents").cast(big)).as("sx"),
        sum((col("r") * col("cents")).cast(big)).as("srx"))
      .select(lit(n).as("n_customers"),
        round(
          (lit(2).cast(big) * col("srx") - lit(n + 1).cast(big) * col("sx")).cast("double")
            / (lit(n).cast(big) * col("sx")).cast("double"), 6).as("gini"))
  }

  /** #417 Theil T index of customer revenue with the exact
    * within/between market-segment decomposition — the property that
    * makes Theil the actionable inequality measure next to #198 Gini
    * (which cannot say whether concentration lives INSIDE segments or
    * BETWEEN them): T_total = Σ_g w_g·T_g + T_between with
    * w_g = X_g/X, every identity spec-checked. Per-row terms stage as
    * x·⌊ln x⌋_nano in DECIMAL (x·ln x ≈ 3e18 at sf0.1 — int64 dies
    * in-row); group means are rationals whose ln is one mirrored
    * double over sub-2^53 exact ints; each readout is a truncating
    * nano division. Scale: one customer aggregate (map-side combined),
    * a |segments|-row join, algebra on ≤|segments| rows.
    */
  def statsTheil(s: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val perCust = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("x"))
      .filter(col("x") > 0L)
    val grp = perCust
      .groupBy("seg")
      .agg(count(lit(1)).as("ng"), sum(col("x").cast(big)).as("xg"),
        sum(col("x").cast(big) *
          floor(log(col("x").cast("double")) * 1e9).cast("long")).as("xlx"))
      .withColumn("ln_mu_g",
        floor(log(col("xg").cast("double") / col("ng")) * 1e9).cast("long"))
      .withColumn("t_within_nano",
        expr("cast((xlx - xg * ln_mu_g) div xg as long)"))
    val tot = grp.agg(sum(col("ng")).as("n"), sum(col("xg")).as("x"))
    val withTot = grp.crossJoin(broadcast(tot))
      .withColumn("ln_mu",
        floor(log(col("x").cast("double") / col("n")) * 1e9).cast("long"))
      .withColumn("w_ppm", expr("cast((xg * 1000000) div x as long)"))
      .withColumn("btw_term",
        expr("xg * (ln_mu_g - ln_mu)").cast(big))
    val summary = withTot.groupBy()
      .agg(max(col("x")).as("x2"),
        sum(col("btw_term")).as("btw_sum"),
        sum(col("w_ppm").cast(big) * col("t_within_nano")).as("win_sum"))
      .select(
        expr("cast(btw_sum div x2 as long)").as("t_between_nano"),
        expr("cast(win_sum div 1000000 as long)").as("t_within_total_nano"))
    withTot.crossJoin(broadcast(summary))
      .select(col("seg"), col("ng").as("n_customers"),
        col("xg").cast("long").as("rev_cents"), col("w_ppm"),
        col("t_within_nano"), col("t_between_nano"),
        (col("t_within_total_nano") + col("t_between_nano"))
          .as("t_total_nano"))
      .orderBy("seg")
  }

  /** Lorenz-curve deciles: the revenue share held by each tenth of
    * customers, poorest to richest — the distribution table behind the
    * Gini scalar. Decile assignment is the exact ntile arithmetic on the
    * kernel's global rank; shares are integer ppm (floor), and the
    * cumulative share is a running window over the 10-row decile
    * relation (bounded by construction). All integer until ppm.
    */
  def lorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val big = DecimalType(38, 0)
    val ranked = rankedCustCents(s, dir)
    val n = ranked.totals("r")
    val q = n / k
    val rem = n % k
    val deciles = ranked.df
      .withColumn("decile",
        when(lit(rem) =!= 0 && col("r") <= lit(rem * (q + 1)),
          expr(s"(r - 1) div ${q + 1} + 1"))
          .otherwise(expr(s"$rem + (r - 1 - ${rem * (q + 1)}) div ${math.max(q, 1L)} + 1"))
          .cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("cents").cast(big)).as("decile_cents"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles
      // total + cumulative run over the 10-row decile relation — bounded
      .withColumn("total_cents", sum(col("decile_cents")).over(Window.partitionBy()))
      .withColumn("cum_cents", sum(col("decile_cents")).over(w))
      .select(col("decile"), col("n_customers"),
        col("decile_cents").cast("long").as("decile_cents"),
        // integral div on the exact decimals (no scale-rounding before the
        // floor, unlike decimal '/'), matching DuckDB's // exactly
        expr("(CAST(1000000 AS DECIMAL(38,0)) * decile_cents) div total_cents")
          .as("share_ppm"),
        expr("(CAST(1000000 AS DECIMAL(38,0)) * cum_cents) div total_cents")
          .as("cum_share_ppm"))
      .orderBy("decile")
  }

  /** Herfindahl–Hirschman concentration of revenue across nations —
    * Σ share² in the standard 0–10000 points scale, exact: integer
    * cents, per-nation sums in DECIMAL(38,0), and HHI computed from the
    * exact decimal ratio before one final rounding. One nation-cardinality
    * aggregate after a broadcast dim join.
    */
  def hhiConcentration(s: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val byNation = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).cast(big).as("cents"))
    byNation
      .withColumn("total", sum(col("cents")).over(Window.partitionBy())) // |nations| rows
      .withColumn("share_ppm",
        expr("(CAST(1000000 AS DECIMAL(38,0)) * cents) div total"))
      .agg(count(lit(1)).as("n_nations"),
        // Σ (share_ppm)² / 1e8 → the 0–10000 HHI points scale, integer-floored
        expr("sum(share_ppm * share_ppm) div 100000000").as("hhi_points"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the price
    * distributions of two order-priority slices — the distribution-drift
    * gate a training pipeline runs between snapshots. Everything is
    * integer: prices become cents, ties collapse via one groupBy, and
    * the KS statistic is computed as max |ca·Nb − cb·Na| over the merged
    * support (an integer, divided into ppm only at the end), so the
    * cross-engine hash is tolerance-free. The cumulative counts of both
    * samples are [[GlobalPrefix]] running sums over the distinct support
    * — never a single-partition window; the argmax location is
    * tie-broken to the smallest cents in one aggregate.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val grouped = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("a"),
        when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L).as("b"))
      .groupBy("cents").agg(sum(col("a")).as("a_n"), sum(col("b")).as("b_n"))
    val cum = GlobalPrefix(grouped, Seq(col("cents")), "ca" -> col("a_n"), "cb" -> col("b_n"))
    val (na, nb) = (cum.totals("ca"), cum.totals("cb"))
    // r21: the (max D, smallest-cents tie-break) readout is ONE
    // aggregate — max(struct(dnum, -cents)) — instead of a max
    // aggregate + broadcast-equality join back over a second
    // evaluation of the cumulative relation
    cum.df.withColumn("dnum", abs(col("ca") * nb - col("cb") * na))
      .agg(max(struct(col("dnum").as("d"), (-col("cents")).as("negc"))).as("p"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("p.d").as("d_num"),
        expr(s"(1000000 * p.d) div ${na * nb}").as("d_ppm"),
        (-col("p.negc")).as("at_cents"))
  }

  /** Population Stability Index between two customer segments' balance
    * distributions — the standard ML-monitoring drift score
    * Σ (pa−pb)·ln(pa/pb) over fixed bins, with Laplace smoothing so
    * empty bins are defined. Discipline: bins are zero-filled (the
    * smoothed shares must see every bin), each log-ratio is of a ratio
    * of exact int64 products and floored to integer nanos ONCE (the
    * perplexity/tfidf ln pattern), each term is the exact integer
    * diff_num·lr_nano summed in DECIMAL(38,0), and the single float
    * division happens once at the end. The DuckDB twin casts its HUGEINT
    * sum through VARCHAR (Det's decimal→double caveat). One 10-bin
    * aggregate over a filtered scan — linear, broadcast-only joins.
    */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val nBins = 10
    val binned = Tables.customer(s, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(
        least(greatest(floor((col("c_acctbal") + 1000.0) / 1100.0), lit(0.0)), lit(9.0))
          .cast("long").as("bin"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("a"),
        when(col("c_mktsegment") === "MACHINERY", 1L).otherwise(0L).as("b"))
      .groupBy("bin").agg(sum(col("a")).as("a_n"), sum(col("b")).as("b_n"))
    val g = s.range(nBins).toDF("bin")
      .join(binned, Seq("bin"), "left").na.fill(0L, Seq("a_n", "b_n"))
    val tot = g.agg(sum(col("a_n")).as("na"), sum(col("b_n")).as("nb"))
    g.crossJoin(broadcast(tot))
      .withColumn("naB", col("na") + nBins)
      .withColumn("nbB", col("nb") + nBins)
      .withColumn("lr_nano",
        floor(log(((col("a_n") + 1) * col("nbB")).cast("double")
          / ((col("b_n") + 1) * col("naB")).cast("double")) * 1e9).cast("long"))
      .withColumn("diff_num", (col("a_n") + 1) * col("nbB") - (col("b_n") + 1) * col("naB"))
      .withColumn("term",
        (col("diff_num") * col("lr_nano")).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(sum(col("term")).cast("double")
          / (max(col("naB")) * max(col("nbB"))).cast("double") / 1e9, 6).as("psi"))
  }

  /** Geohash cell encoding (precision 6) — the string-keyed sibling of
    * the Morton z-order key: quantize lat/lon to 15 bits each (floor of
    * the scaled coordinate ≡ 15 bisections of the standard algorithm),
    * interleave lon-first into a 30-bit cell id, and emit six base32
    * chars. Pure integer/bit arithmetic after one exact double scale, so
    * the same formula runs verbatim in the oracle; codegen'd,
    * shuffle-free, the prefix-truncatable spatial bucketing key
    * (substr(geohash, 1, k) = coarser cell) used for geo data layout.
    * Coordinates are the synthetic per-customer points shared with
    * q_haversine_native.
    */
  def geohashCell(s: SparkSession, dir: String): DataFrame = {
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    val latq = least(floor((col("lat") + 90.0) / 180.0 * 32768.0), lit(32767.0)).cast("long")
    val lonq = least(floor((col("lon") + 180.0) / 360.0 * 32768.0), lit(32767.0)).cast("long")
    val z: Column = (0 until 15).map { i =>
      shiftleft(shiftright(col("lonq"), i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(col("latq"), i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    val chars = (0 until 6).map { j =>
      lit(alphabet).substr(
        (shiftright(col("z"), 25 - 5 * j).bitwiseAND(lit(31L)) + 1).cast("int"), lit(1))
    }
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        (((col("c_custkey") * 7919) % 12000).cast("double") / 100 - 60).as("lat"),
        (((col("c_custkey") * 104729) % 36000).cast("double") / 100 - 180).as("lon"))
      .withColumn("latq", latq).withColumn("lonq", lonq)
      .withColumn("z", z)
      .withColumn("geohash6", concat(chars: _*))
      .select(col("c_custkey"), col("lat"), col("lon"), col("geohash6"))
      .orderBy("c_custkey")
  }

  /** Token-entropy document scoring (low entropy = repetitive/boilerplate
    * → filter candidate). Shannon entropy via H = ln(N) − (Σ c·ln c)/N:
    * the order-sensitive Σ c·ln c is floored to integer micro-units per
    * (doc, token) group first (same integer-nano discipline as
    * q_text_perplexity), so the cross-partition sum is exact-integer and
    * partitioning-independent; only the final closed-form returns to
    * double.
    */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    cnt.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_distinct"),
        sum(floor(col("c") * log(col("c")) * 1e6).cast("long")).as("s_micro"))
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        floor((log(col("n_tok")) - col("s_micro") / 1e6 / col("n_tok"))
          / log(lit(2.0)) * 1e6).cast("long").as("entropy_micro"))
      .orderBy("doc_id")
  }

  /** Deterministic per-group mode: the most frequent event_type per user
    * with an explicit (count DESC, value ASC) tiebreak — both engines'
    * built-in mode() leave ties implementation-defined, so the portable
    * formulation is count + row_number over the count order. Two
    * aggregations sharing the user_id hash partitioning plus one
    * #users-sized window — the standard scalable mode shape (never a
    * per-group collect).
    */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"), col("n"))
      .orderBy("user_id")
  }

  /** Robust dispersion per market segment: median, MAD (median absolute
    * deviation) and the count of |x − median| > 3·MAD outliers. Same
    * ulp discipline as winsorize: both engines round each interpolated
    * median to 4 dp before any downstream arithmetic (2-dp inputs
    * interpolated at 0.5 are exact 3-dp numbers, so 4-dp rounding is
    * tie-free), making the 3·MAD comparison exact. Two group-key
    * aggregates over a segment-cardinality table — the percentile state
    * is the only non-map-side term and swaps to approx_percentile at
    * corpus scale.
    */
  def statsMad(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val med = cust.groupBy(col("c_mktsegment").as("seg"))
      .agg(round(expr("percentile(c_acctbal, 0.5)"), 4).as("med"))
    val dev = cust.join(broadcast(med), col("c_mktsegment") === col("seg"))
      .withColumn("adev", abs(col("c_acctbal") - col("med")))
    val mad = dev.groupBy("seg", "med")
      .agg(round(expr("percentile(adev, 0.5)"), 4).as("mad"))
    dev.drop("med").join(broadcast(mad), Seq("seg"))
      .groupBy("seg", "med", "mad")
      .agg(count(lit(1)).as("n"),
        sum(when(col("adev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("seg")
  }

  /** Per-segment simple linear regression of order value on the
    * customer's account balance, from closed-form exact sums: slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept = (Σy − slope·Σx)/n,
    * r² = num² / (denx·deny). The 2-dp money inputs become exact
    * integer CENTS up front (round(x·100) — both engines land on the
    * same integer), every Σ is an exact DECIMAL(38,0) [DuckDB twin:
    * HUGEINT] with map-side combine, and floats appear only in the
    * final identically-ordered correctly-rounded double ops. One
    * aggregate pass — the textbook mean-centered formula would need
    * two — and no window anywhere.
    */
  def statsRegression(s: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    val j = Tables.orders(s, dir).join(Tables.customer(s, dir),
      col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100, 0).cast("long").as("xc"),
        round(col("o_totalprice") * 100, 0).cast("long").as("yc"))
    // per-row products stay in int64 (cents² ≤ ~5e13 here); the sums do not
    val sums = j.groupBy("seg").agg(
      count(lit(1)).as("n"),
      sum(col("xc").cast(big)).as("sx"),
      sum(col("yc").cast(big)).as("sy"),
      sum((col("xc") * col("yc")).cast(big)).as("sxy"),
      sum((col("xc") * col("xc")).cast(big)).as("sxx"),
      sum((col("yc") * col("yc")).cast(big)).as("syy"))
    sums
      .withColumn("num", (col("n").cast(big) * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("denx", (col("n").cast(big) * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("deny", (col("n").cast(big) * col("syy") - col("sy") * col("sy")).cast("double"))
      .withColumn("slope_raw", col("num") / col("denx"))
      .select(col("seg"), col("n"),
        round(col("slope_raw"), 6).as("slope"),
        round((col("sy").cast("double") - col("slope_raw") * col("sx").cast("double"))
          / col("n") / 100.0, 4).as("intercept"),
        round(col("num") * col("num") / (col("denx") * col("deny")), 6).as("r2"))
      .orderBy("seg")
  }

  /** χ² test of independence for the (lang × source) contingency table:
    * is corpus source correlated with language? Observed counts are one
    * group-key aggregate; margins and the total are cells-cardinality
    * re-aggregates (broadcast); expected counts rt·ct/n use one exact
    * int64 product and one double division, and each cell's
    * (o−e)²/e term is nano-floored BEFORE the global sum, so the
    * statistic is partition-order-free. Everything after the first
    * aggregate operates on |lang|·|source| rows — trivially small at
    * any corpus size.
    */
  def statsChisq(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir).groupBy("lang", "source")
      .agg(count(lit(1)).as("o"))
    val rowT = obs.groupBy("lang").agg(sum(col("o")).as("rt"))
    val colT = obs.groupBy("source").agg(sum(col("o")).as("ct"))
    val tot = obs.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nl"), countDistinct(col("source")).as("ns"))
    obs.join(broadcast(rowT), Seq("lang")).join(broadcast(colT), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n"))
      .withColumn("d", col("o").cast("double") - col("e"))
      .withColumn("term_nano", floor(col("d") * col("d") / col("e") * 1e9).cast("long"))
      .agg(count(lit(1)).as("n_cells"),
        max((col("nl") - 1) * (col("ns") - 1)).as("dof"),
        round(sum(col("term_nano")) / 1e9, 6).as("chi2"))
  }

  /** #314 Cramér's V effect size for the (lang, source) association:
    * V² = χ²/(n·(min(r,c)−1)), the [0,1]-normalized companion to
    * [[statsChisq]] — χ² says WHETHER lang and source are associated
    * (it grows with n even for trivial dependence); V says HOW MUCH,
    * comparably across tables of different size and shape.
    *
    * Exactness: identical per-cell term_nano floor discipline as the
    * χ² twin (exact-integer-fed doubles, floored once per cell), then
    * v2_nano = Σterm_nano div (n·mindim) — one truncating integer
    * division, positive numerator. The sqrt never materializes (the
    * [[InferenceOps.runsTest]] squared-statistic convention). Scale:
    * the same |L|×|S| cell relation; marginals broadcast back.
    */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir).groupBy("lang", "source")
      .agg(count(lit(1)).as("o"))
    val rowT = obs.groupBy("lang").agg(sum(col("o")).as("rt"))
    val colT = obs.groupBy("source").agg(sum(col("o")).as("ct"))
    val tot = obs.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nl"), countDistinct(col("source")).as("ns"))
    obs.join(broadcast(rowT), Seq("lang")).join(broadcast(colT), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n"))
      .withColumn("d", col("o").cast("double") - col("e"))
      .withColumn("term_nano", floor(col("d") * col("d") / col("e") * 1e9).cast("long"))
      .agg(max(col("n")).as("n"),
        max(expr("(nl - 1) * (ns - 1)")).as("dof"),
        max(expr("least(nl, ns) - 1")).as("mindim"),
        sum(col("term_nano")).as("chi2_nano"))
      .select(col("n"), col("dof"), col("mindim"), col("chi2_nano"),
        expr("chi2_nano div (n * mindim)").as("v2_nano"))
  }

  /** Pairwise Pearson correlation between event types over their
    * hourly value-mass series — the metric-dependency matrix read
    * before alert tuning or feature pruning. Series align on common
    * hours via one self-join of the hourly aggregate (hour-keyed; the
    * joined relation is hours × type-pairs, calendar-bounded, not
    * event-bounded). All five correlation sums run in DECIMAL(38,0)
    * [DuckDB twin: HUGEINT] because the micro-mass products outgrow
    * int64 with corpus size; the two variance factors are cast to
    * double only at the final quotient, so the result is bit-stable
    * across engines and partitionings. Output is |types|²/2 rows.
    */
  def statsCorrPairs(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val a = hourly.select(col("event_type").as("type_a"), col("hour"),
      col("x").cast(DecimalType(38, 0)).as("xa"))
    val b = hourly.select(col("event_type").as("type_b"), col("hour"),
      col("x").cast(DecimalType(38, 0)).as("xb"))
    a.join(b, Seq("hour")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n"), sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"), sum(col("xb") * col("xb")).as("syy"))
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("varx", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("vary", (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
      .filter(col("varx") > 0 && col("vary") > 0)
      .select(col("type_a"), col("type_b"), col("n"),
        round(col("num") / sqrt(col("varx") * col("vary")), 6).as("corr"))
      .orderBy("type_a", "type_b")
  }

  /** Mass-weighted median document length per language: the smallest
    * n_chars v such that documents with length ≤ v hold at least half
    * the language's character MASS (2·cumsum ≥ total on the
    * (n_chars, doc_id)-ordered prefix — integer-exact, no float
    * averaging of middles). Answers "half the corpus bytes live in
    * docs shorter than X", which the count-median misrepresents under
    * long tails. One key-partitioned cumulative window + one aggregate;
    * the whole-partition total rides the same window spec
    * (unbounded frame), so there is a single shuffle on lang.
    */
  def statsWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    val wAll = Window.partitionBy("lang")
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(wOrd))
      .withColumn("total", sum(col("n_chars")).over(wAll))
      .filter(col("cum") * 2 >= col("total"))
      .groupBy("lang")
      .agg(min(col("n_chars")).as("median_chars"), min(col("total")).as("total_chars"))
      .orderBy("lang")
  }

  /** Daily z-score anomaly flags per event type: each day's value mass
    * against its type's own mean/population-σ, computed from EXACT
    * int64 micro sums in one aggregate and broadcast back onto the
    * calendar-bounded daily relation; the z quotient is the single
    * terminal double (6dp), flagged at |z| > 2. The z-test complement
    * to the CUSUM scan — point outliers vs sustained drift.
    */
  def statsZscoreDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("x"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x").cast(DecimalType(38, 0))).as("sxx"))
      .withColumn("mean", col("sx").cast("double") / col("n"))
      .withColumn("sd", sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) / col("n"))
      .select(col("event_type"), col("mean"), col("sd"))
    daily.join(broadcast(stats), Seq("event_type"))
      .filter(col("sd") > 0)
      .select(col("event_type"), col("day"), col("x").as("mass_micro"),
        round((col("x") - col("mean")) / col("sd"), 6).as("z"))
      .withColumn("anomaly", abs(col("z")) > 2.0)
      .orderBy("event_type", "day")
  }

  /** #270 Pareto skyline (maximize both dimensions) of the daily order
    * stream: the (day, peak-price) points not dominated by any
    * strictly-later-or-equal day with an equal-or-higher peak — the
    * multi-objective "best tradeoff" frontier query of analytics
    * engines (Börzsönyi et al., ICDE 2001 "The Skyline Operator").
    *
    * Distributed shape: the classic skyline reduction — a point can
    * only be dominated via its dimension-wise maxima, so FIRST collapse
    * to the per-day max price (one map-side-combined groupBy; within a
    * day, only the max-price order can survive dominance), THEN run the
    * sort-scan on the per-day relation: sweeping days descending, a day
    * is on the frontier iff its peak strictly exceeds the running max
    * of every later day (an equal later peak dominates — later day,
    * equal price, strict on day). The scan window runs over the
    * CALENDAR-BOUNDED daily relation (~365 rows/year whatever the
    * order count — the [[TimeWindows]].tsSeasonal argument), so the
    * single-partition window is never row-cardinality; at 100 TB the
    * only scaling work is the first groupBy.
    */
  def skylineDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(max(round(col("o_totalprice") * 100, 0).cast("long")).as("peak_cents"))
    val later = Window.orderBy(desc("day")).rowsBetween(Window.unboundedPreceding, -1)
    daily
      .withColumn("later_max", coalesce(max(col("peak_cents")).over(later), lit(Long.MinValue)))
      .filter(col("peak_cents") > col("later_max"))
      .select(col("day"), col("peak_cents"))
      .orderBy("day")
  }

  /** #278 Q-Q (quantile-quantile) table of purchase vs click value
    * distributions: at each decile d, the smallest cent value whose
    * cumulative count reaches ⌈d·N/10⌉ in each group, plus the gap —
    * the full distribution-shape comparison behind KS's single max-gap
    * number (ksDrift says IF they differ; this says WHERE).
    *
    * Scale + determinism: same grouped-by-value scaffold as
    * [[EvalOps]].mannWhitney — one map-side-combined groupBy(cents),
    * cumulative windows over the DISTINCT-VALUE relation (cent domain,
    * not event count), ceil thresholds as integer (d·N + 9) div 10, and
    * a min() per decile; every number is an exact integer.
    */
  def statsQq(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type").as("grp"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy("grp", "cents").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("grp").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("grp")
    val cum = g.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val deciles = cum
      .crossJoin(broadcast(s.range(1, 10).select(col("id").as("decile"))))
      .filter(col("cum") >= expr("(decile * n + 9) div 10"))
      .groupBy("grp", "decile").agg(min(col("cents")).as("q_cents"))
    deciles.filter(col("grp") === "purchase")
      .select(col("decile"), col("q_cents").as("q_purchase_cents"))
      .join(deciles.filter(col("grp") === "click")
        .select(col("decile"), col("q_cents").as("q_click_cents")), Seq("decile"))
      .select(col("decile"), col("q_purchase_cents"), col("q_click_cents"),
        (col("q_purchase_cents") - col("q_click_cents")).as("gap_cents"))
      .orderBy("decile")
  }

  /** #283 ABC inventory classification: parts sorted by revenue
    * descending, class A = parts whose EXCLUSIVE cumulative revenue is
    * under 80% of total (so the top part is always A), B under 95%, C
    * the tail — the Pareto segmentation every inventory/catalog
    * pipeline runs (lorenzDeciles profiles the same curve by population
    * decile; ABC cuts it by revenue thresholds).
    *
    * Scale: part revenue is one map-side-combined groupBy; the exclusive
    * revenue prefix is the memoized [[GlobalPrefix]] running revenue
    * minus the part's own — never a SinglePartition window. Products run
    * in DECIMAL(38,0) (total cents ×100 outgrows int64 at ~10^16 cents).
    * Output: 3 class rows.
    */
  def partAbc(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedPartRevenue(s, dir)
    val total = ranked.totals("cum_rev")
    ranked.df
      .withColumn("cum_excl", (col("cum_rev") - col("rev")).cast(DecimalType(38, 0)))
      .withColumn("cls",
        when(col("cum_excl") * 100 < lit(total).cast(DecimalType(38, 0)) * 80, "A")
          .when(col("cum_excl") * 100 < lit(total).cast(DecimalType(38, 0)) * 95, "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"))
      .select(col("cls"), col("n_parts"), col("revenue_cents"),
        expr(s"cast((cast(revenue_cents as decimal(38,0)) * 1000000) div ${total}L as long)")
          .as("share_ppm"))
      .orderBy("cls")
  }

  /** #418 Atkinson index (aversion ε = 0.5) of customer revenue per
    * segment — the inequality member with an explicit welfare knob,
    * completing the family (#198 Gini: rank-based; #417 Theil:
    * decomposable; #200 HHI: share-squared): A = 1 − (Σ√x/n)²/μ,
    * i.e. one minus the ratio of the ε=0.5 generalized mean to the
    * arithmetic mean. √x floors to milli per row (mirrored libm over
    * exact ints), so Σ√x is an exact integer, its square stages
    * DECIMAL, and A reads out as ONE truncating ppm division —
    * (Σ√x_milli)²/(n·X) is already ppm-scaled by the milli² factor.
    * Scale: one customer aggregate, |segments|-row algebra.
    */
  def statsAtkinson(s: SparkSession, dir: String): DataFrame = {
    val big = DecimalType(38, 0)
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("x"))
      .filter(col("x") > 0L)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("x").cast(big)).as("xg"),
        sum(floor(sqrt(col("x").cast("double")) * 1e3).cast("long")).as("sx"))
      .select(col("seg"), col("n"), col("xg").cast("long").as("rev_cents"),
        expr("cast(xg div n as long)").as("mean_cents"),
        (lit(1000000L) -
          expr("cast((cast(sx as decimal(38,0)) * sx) div (n * xg) as long)"))
          .as("atkinson_ppm"))
      .orderBy("seg")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stats_atkinson" -> (statsAtkinson _),
    "q_part_abc" -> (partAbc _),
    "q_stats_qq" -> (statsQq _),
    "q_skyline" -> (skylineDaily _),
    "q_stats_zscore_daily" -> (statsZscoreDaily _),
    "q_stats_weighted_median" -> (statsWeightedMedian _),
    "q_stats_corr_pairs" -> (statsCorrPairs _),
    "q_stats_chisq" -> (statsChisq _),
    "q_stats_cramers_v" -> (cramersV _),
    "q_stats_mad" -> (statsMad _),
    "q_stats_regression" -> (statsRegression _),
    "q_profile_columns" -> (profileColumns _),
    "q_winsorize" -> (winsorize _),
    "q_ntile" -> (ntileBuckets _),
    "q_histogram_equidepth" -> (histogramEquidepth _),
    "q_geohash" -> (geohashCell _),
    "q_ks_drift" -> (ksDrift _),
    "q_psi_drift" -> (psiDrift _),
    "q_gini" -> (giniRevenue _),
    "q_stats_theil" -> (statsTheil _),
    "q_skew_report" -> (skewReport _),
    "q_lorenz_deciles" -> (lorenzDeciles _),
    "q_hhi" -> (hhiConcentration _),
    "q_zorder_key" -> (zorderKey _),
    "q_agg_mode" -> (aggMode _),
    "q_text_entropy" -> (textEntropy _))

  val oracles: Map[String, String] = Map(
    "q_part_abc" ->
      """WITH rev AS (
        |  SELECT l_partkey AS partkey,
        |    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT CAST(SUM(rev) AS HUGEINT) AS total FROM rev),
        |c AS (
        |  SELECT rev,
        |    CAST(COALESCE(SUM(rev) OVER (ORDER BY rev DESC, partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT)
        |      AS cum_excl,
        |    t.total
        |  FROM rev CROSS JOIN t),
        |k AS (
        |  SELECT CASE WHEN cum_excl * 100 < total * 80 THEN 'A'
        |              WHEN cum_excl * 100 < total * 95 THEN 'B'
        |              ELSE 'C' END AS cls, rev, total
        |  FROM c)
        |SELECT cls, COUNT(*) AS n_parts,
        |  CAST(SUM(rev) AS BIGINT) AS revenue_cents,
        |  CAST((CAST(SUM(rev) AS HUGEINT) * 1000000) // MAX(total) AS BIGINT)
        |    AS share_ppm
        |FROM k GROUP BY cls ORDER BY cls""".stripMargin,
    "q_stats_qq" ->
      """WITH g AS (
        |  SELECT event_type AS grp, CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |    COUNT(*) AS cnt
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY grp, cents),
        |c AS (
        |  SELECT grp, cents,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY grp) AS n
        |  FROM g),
        |q AS (
        |  SELECT grp, d.decile, MIN(cents) AS q_cents
        |  FROM c CROSS JOIN (SELECT unnest(range(1, 10)) AS decile) d
        |  WHERE cum >= (d.decile * n + 9) // 10
        |  GROUP BY grp, d.decile)
        |SELECT a.decile, a.q_cents AS q_purchase_cents, b.q_cents AS q_click_cents,
        |  a.q_cents - b.q_cents AS gap_cents
        |FROM q a JOIN q b ON a.decile = b.decile
        |WHERE a.grp = 'purchase' AND b.grp = 'click'
        |ORDER BY a.decile""".stripMargin,
    "q_skyline" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |    CAST(MAX(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS peak_cents
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT day, peak_cents,
        |    COALESCE(MAX(peak_cents) OVER (ORDER BY day DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) AS later_max
        |  FROM daily)
        |SELECT day, peak_cents FROM s WHERE peak_cents > later_max
        |ORDER BY day""".stripMargin,
    "q_stats_zscore_daily" ->
      """WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, day),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM d GROUP BY event_type),
        |m AS (
        |  SELECT event_type, CAST(sx AS DOUBLE) / n AS mean,
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n AS sd
        |  FROM st),
        |z AS (
        |  SELECT d.event_type, day, x AS mass_micro,
        |    round((x - mean) / sd, 6) AS z
        |  FROM d JOIN m USING (event_type) WHERE sd > 0)
        |SELECT event_type, day, mass_micro, z, abs(z) > 2.0 AS anomaly
        |FROM z ORDER BY event_type, day""".stripMargin,
    "q_stats_weighted_median" ->
      """WITH o AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS total
        |  FROM documents)
        |SELECT lang, MIN(n_chars) AS median_chars, MIN(total) AS total_chars
        |FROM o WHERE 2 * cum >= total
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_stats_corr_pairs" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS HUGEINT) AS x
        |  FROM events GROUP BY event_type, hour),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.x AS xa, b.x AS xb
        |  FROM h a JOIN h b ON a.hour = b.hour AND a.event_type < b.event_type),
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
        |SELECT type_a, type_b, n, round(num / sqrt(varx * vary), 6) AS corr
        |FROM v WHERE varx > 0 AND vary > 0
        |ORDER BY type_a, type_b""".stripMargin,
    "q_stats_cramers_v" ->
      """WITH obs AS (
        |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY lang),
        |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY source),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |  COUNT(DISTINCT lang) AS nl, COUNT(DISTINCT source) AS ns FROM obs),
        |cells AS (
        |  SELECT o, CAST(rt * ct AS DOUBLE) / n AS e, n, nl, ns
        |  FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot),
        |t AS (
        |  SELECT CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e * 1e9) AS BIGINT)
        |    AS term_nano, n, nl, ns
        |  FROM cells),
        |g AS (
        |  SELECT MAX(n) AS n, MAX((nl - 1) * (ns - 1)) AS dof,
        |    MAX(least(nl, ns) - 1) AS mindim,
        |    CAST(SUM(term_nano) AS BIGINT) AS chi2_nano
        |  FROM t)
        |SELECT n, dof, mindim, chi2_nano,
        |  CAST(chi2_nano // (n * mindim) AS BIGINT) AS v2_nano
        |FROM g""".stripMargin,
    "q_stats_chisq" ->
      """WITH obs AS (
        |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
        |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY lang),
        |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY source),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |  COUNT(DISTINCT lang) AS nl, COUNT(DISTINCT source) AS ns FROM obs),
        |cells AS (
        |  SELECT o, CAST(rt * ct AS DOUBLE) / n AS e, nl, ns
        |  FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot),
        |t AS (
        |  SELECT CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e * 1e9) AS BIGINT)
        |    AS term_nano, nl, ns
        |  FROM cells)
        |SELECT COUNT(*) AS n_cells, MAX((nl - 1) * (ns - 1)) AS dof,
        |  round(CAST(SUM(term_nano) AS BIGINT) / 1e9, 6) AS chi2
        |FROM t""".stripMargin,
    "q_stats_mad" ->
      """WITH med AS (
        |  SELECT c_mktsegment AS seg, round(quantile_cont(c_acctbal, 0.5), 4) AS med
        |  FROM customer GROUP BY c_mktsegment),
        |dev AS (
        |  SELECT seg, med, abs(c_acctbal - med) AS adev
        |  FROM customer JOIN med ON c_mktsegment = seg),
        |mad AS (
        |  SELECT seg, med, round(quantile_cont(adev, 0.5), 4) AS mad
        |  FROM dev GROUP BY seg, med)
        |SELECT d.seg, m.med, m.mad, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN d.adev > m.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (seg)
        |GROUP BY d.seg, m.med, m.mad ORDER BY d.seg""".stripMargin,
    "q_stats_regression" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100) AS HUGEINT) AS xc,
        |    CAST(round(o_totalprice * 100) AS HUGEINT) AS yc
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |sums AS (
        |  SELECT seg, COUNT(*) AS n,
        |    SUM(xc) AS sx, SUM(yc) AS sy,
        |    SUM(xc*yc) AS sxy, SUM(xc*xc) AS sxx, SUM(yc*yc) AS syy
        |  FROM j GROUP BY seg),
        |t AS (
        |  SELECT seg, n,
        |    CAST(n*sxy - sx*sy AS DOUBLE) AS num,
        |    CAST(n*sxx - sx*sx AS DOUBLE) AS denx,
        |    CAST(n*syy - sy*sy AS DOUBLE) AS deny,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM sums)
        |SELECT seg, n, round(num/denx, 6) AS slope,
        |  round((syd - (num/denx)*sxd)/n/100.0, 4) AS intercept,
        |  round(num*num/(denx*deny), 6) AS r2
        |FROM t ORDER BY seg""".stripMargin,
    "q_agg_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id, event_type AS mode_event, n FROM c
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) = 1
        |ORDER BY user_id""".stripMargin,
    "q_profile_columns" ->
      """SELECT * FROM (
        |  SELECT 'o_totalprice' AS col_name, COUNT(*) AS n,
        |    COUNT(*) - COUNT(o_totalprice) AS n_null, COUNT(DISTINCT o_totalprice) AS ndv,
        |    CAST(MIN(o_totalprice) AS DOUBLE) AS min_v, CAST(MAX(o_totalprice) AS DOUBLE) AS max_v
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE) FROM orders
        |  UNION ALL
        |  SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity), COUNT(DISTINCT l_quantity),
        |    CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount), COUNT(DISTINCT l_discount),
        |    CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'c_acctbal', COUNT(*), COUNT(*) - COUNT(c_acctbal), COUNT(DISTINCT c_acctbal),
        |    CAST(MIN(c_acctbal) AS DOUBLE), CAST(MAX(c_acctbal) AS DOUBLE) FROM customer
        |) ORDER BY col_name""".stripMargin,
    "q_winsorize" ->
      """WITH q AS (
        |  SELECT c_mktsegment AS seg,
        |    round(quantile_cont(c_acctbal, 0.05), 4) AS p05,
        |    round(quantile_cont(c_acctbal, 0.95), 4) AS p95
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_custkey, c_acctbal,
        |  least(greatest(c_acctbal, p05), p95) AS w_acctbal,
        |  CASE WHEN c_acctbal < p05 THEN 'low'
        |       WHEN c_acctbal > p95 THEN 'high' ELSE 'in' END AS clip
        |FROM customer JOIN q ON c_mktsegment = seg
        |ORDER BY c_custkey""".stripMargin,
    "q_ntile" ->
      """SELECT o_orderkey,
        |  CAST(ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_skew_report" ->
      """WITH c AS (
        |  SELECT o_custkey, COUNT(*) AS n_rows_key FROM orders GROUP BY o_custkey),
        |s AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(n_rows_key) AS BIGINT) AS n_rows,
        |    MAX(n_rows_key) AS max_rows FROM c),
        |t AS (
        |  SELECT o_custkey, n_rows_key,
        |    row_number() OVER (ORDER BY n_rows_key DESC, o_custkey ASC) AS rank
        |  FROM c ORDER BY n_rows_key DESC, o_custkey ASC LIMIT 5)
        |SELECT CAST(rank AS INTEGER) AS rank, o_custkey, n_rows_key,
        |  n_keys, max_rows,
        |  (1000000 * n_rows) // n_keys AS mean_rows_micro,
        |  (1000000 * max_rows * n_keys) // n_rows AS skew_ratio_micro
        |FROM t CROSS JOIN s ORDER BY rank""".stripMargin,
    "q_gini" ->
      """WITH pc AS (
        |  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS r FROM pc),
        |t AS (
        |  SELECT COUNT(*) AS n, SUM(cents) AS sx, SUM(r * cents) AS srx FROM r)
        |SELECT n AS n_customers,
        |  round(CAST(CAST(2 * srx - (n + 1) * sx AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(n * sx AS VARCHAR) AS DOUBLE), 6) AS gini
        |FROM t""".stripMargin,
    "q_stats_atkinson" ->
      """WITH pc AS (
        |  SELECT c.c_mktsegment AS seg, o.o_custkey,
        |    CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_mktsegment, o.o_custkey
        |  HAVING SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) > 0),
        |g AS (
        |  SELECT seg, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS xg,
        |    CAST(SUM(CAST(FLOOR(sqrt(CAST(x AS DOUBLE)) * 1e3) AS BIGINT))
        |      AS HUGEINT) AS sx
        |  FROM pc GROUP BY seg)
        |SELECT seg, n, CAST(xg AS BIGINT) AS rev_cents,
        |  CAST(xg // n AS BIGINT) AS mean_cents,
        |  1000000 - CAST((sx * sx) // (n * xg) AS BIGINT) AS atkinson_ppm
        |FROM g ORDER BY seg""".stripMargin,
    "q_stats_theil" ->
      """WITH pc AS (
        |  SELECT c.c_mktsegment AS seg, o.o_custkey,
        |    CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_mktsegment, o.o_custkey
        |  HAVING SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) > 0),
        |grp AS (
        |  SELECT seg, COUNT(*) AS ng, SUM(CAST(x AS HUGEINT)) AS xg,
        |    SUM(CAST(x AS HUGEINT) *
        |      CAST(FLOOR(LN(CAST(x AS DOUBLE)) * 1e9) AS BIGINT)) AS xlx
        |  FROM pc GROUP BY seg),
        |g2 AS (
        |  SELECT seg, ng, xg, xlx,
        |    CAST(FLOOR(LN(CAST(xg AS DOUBLE) / ng) * 1e9) AS BIGINT) AS ln_mu_g,
        |    CAST((xlx - xg * CAST(FLOOR(LN(CAST(xg AS DOUBLE) / ng) * 1e9)
        |      AS BIGINT)) // xg AS BIGINT) AS t_within_nano
        |  FROM grp),
        |tot AS (
        |  SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(xg) AS x FROM g2),
        |wt AS (
        |  SELECT g2.*, tot.n, tot.x,
        |    CAST(FLOOR(LN(CAST(tot.x AS DOUBLE) / tot.n) * 1e9) AS BIGINT)
        |      AS ln_mu,
        |    CAST((g2.xg * 1000000) // tot.x AS BIGINT) AS w_ppm
        |  FROM g2, tot),
        |summary AS (
        |  SELECT MAX(x) AS x2,
        |    SUM(xg * (ln_mu_g - ln_mu)) AS btw_sum,
        |    SUM(CAST(w_ppm AS HUGEINT) * t_within_nano) AS win_sum
        |  FROM wt)
        |SELECT wt.seg, wt.ng AS n_customers, CAST(wt.xg AS BIGINT) AS rev_cents,
        |  wt.w_ppm, wt.t_within_nano,
        |  CAST(summary.btw_sum // summary.x2 AS BIGINT) AS t_between_nano,
        |  CAST(summary.win_sum // 1000000 AS BIGINT)
        |    + CAST(summary.btw_sum // summary.x2 AS BIGINT) AS t_total_nano
        |FROM wt, summary ORDER BY wt.seg""".stripMargin,
    "q_lorenz_deciles" ->
      """WITH pc AS (
        |  SELECT o_custkey, SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT cents,
        |    CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS decile
        |  FROM pc),
        |d AS (
        |  SELECT decile, COUNT(*) AS n_customers, SUM(cents) AS decile_cents
        |  FROM r GROUP BY decile)
        |SELECT decile, n_customers,
        |  CAST(decile_cents AS BIGINT) AS decile_cents,
        |  CAST((1000000 * decile_cents) // SUM(decile_cents) OVER () AS BIGINT)
        |    AS share_ppm,
        |  CAST((1000000 * SUM(decile_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    // SUM(decile_cents) OVER () AS BIGINT) AS cum_share_ppm
        |FROM d ORDER BY decile""".stripMargin,
    "q_hhi" ->
      """WITH bn AS (
        |  SELECT n_name,
        |    SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |sh AS (
        |  SELECT CAST((1000000 * cents) // SUM(cents) OVER () AS BIGINT) AS share_ppm
        |  FROM bn)
        |SELECT COUNT(*) AS n_nations,
        |  CAST(SUM(share_ppm * share_ppm) // 100000000 AS BIGINT) AS hhi_points
        |FROM sh""".stripMargin,
    "q_psi_drift" ->
      """WITH m AS (
        |  SELECT CAST(least(greatest(floor((c_acctbal + 1000.0) / 1100.0), 0.0), 9.0)
        |      AS BIGINT) AS bin,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS b
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |raw AS (SELECT bin, SUM(a) AS a_n, SUM(b) AS b_n FROM m GROUP BY bin),
        |g AS (
        |  SELECT gs.bin, coalesce(a_n, 0) AS a_n, coalesce(b_n, 0) AS b_n
        |  FROM generate_series(0, 9) AS gs(bin) LEFT JOIN raw ON raw.bin = gs.bin),
        |t AS (SELECT SUM(a_n) AS na, SUM(b_n) AS nb FROM g),
        |terms AS (
        |  SELECT
        |    CAST(floor(ln(CAST((a_n + 1) * (nb + 10) AS DOUBLE)
        |      / CAST((b_n + 1) * (na + 10) AS DOUBLE)) * 1e9) AS BIGINT)
        |      * ((a_n + 1) * (nb + 10) - (b_n + 1) * (na + 10)) AS term,
        |    na, nb
        |  FROM g CROSS JOIN t)
        |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
        |  round(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE)
        |    / CAST(MAX(na + 10) * MAX(nb + 10) AS DOUBLE) / 1e9, 6) AS psi
        |FROM terms""".stripMargin,
    "q_ks_drift" ->
      """WITH m AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |g AS (SELECT cents, SUM(a) AS a_n, SUM(b) AS b_n FROM m GROUP BY 1),
        |t AS (SELECT SUM(a_n) AS na, SUM(b_n) AS nb FROM g),
        |c AS (
        |  SELECT cents,
        |    SUM(a_n) OVER (ORDER BY cents) AS ca,
        |    SUM(b_n) OVER (ORDER BY cents) AS cb
        |  FROM g),
        |d AS (
        |  SELECT cents, abs(ca * (SELECT nb FROM t) - cb * (SELECT na FROM t)) AS dnum
        |  FROM c),
        |mx AS (SELECT MAX(dnum) AS d_num FROM d)
        |SELECT CAST((SELECT na FROM t) AS BIGINT) AS n_a,
        |  CAST((SELECT nb FROM t) AS BIGINT) AS n_b,
        |  CAST((SELECT d_num FROM mx) AS BIGINT) AS d_num,
        |  CAST((1000000 * (SELECT d_num FROM mx))
        |    // ((SELECT na FROM t) * (SELECT nb FROM t)) AS BIGINT) AS d_ppm,
        |  (SELECT MIN(cents) FROM d WHERE dnum = (SELECT d_num FROM mx)) AS at_cents""".stripMargin,
    "q_geohash" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey * 7919) % 12000 AS DOUBLE) / 100 - 60 AS lat,
        |    CAST((c_custkey * 104729) % 36000 AS DOUBLE) / 100 - 180 AS lon
        |  FROM customer),
        |q AS (
        |  SELECT c_custkey, lat, lon,
        |    CAST(least(floor((lat + 90.0) / 180.0 * 32768.0), 32767.0) AS BIGINT) AS latq,
        |    CAST(least(floor((lon + 180.0) / 360.0 * 32768.0), 32767.0) AS BIGINT) AS lonq
        |  FROM pts),
        |z AS (
        |  SELECT c_custkey, lat, lon,
        |    list_sum(list_transform(range(0, 15), i ->
        |      (((lonq >> i) & 1) << (2 * i + 1)) | (((latq >> i) & 1) << (2 * i)))) AS z
        |  FROM q)
        |SELECT c_custkey, lat, lon,
        |  list_aggregate(list_transform(range(0, 6), j ->
        |    substring('0123456789bcdefghjkmnpqrstuvwxyz',
        |      CAST(((z >> (25 - 5 * j)) & 31) + 1 AS INTEGER), 1)),
        |    'string_agg', '') AS geohash6
        |FROM z ORDER BY c_custkey""".stripMargin,
    "q_histogram_equidepth" ->
      """WITH b AS (
        |  SELECT o_totalprice,
        |    CAST(ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
        |  FROM orders)
        |SELECT bucket, COUNT(*) AS n_rows,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_zorder_key" ->
      """WITH z AS (
        |  SELECT l_orderkey, l_linenumber,
        |    ((l_partkey & 1) << 1) | (l_suppkey & 1)
        |    | (((l_partkey >> 1) & 1) << 3)  | (((l_suppkey >> 1) & 1) << 2)
        |    | (((l_partkey >> 2) & 1) << 5)  | (((l_suppkey >> 2) & 1) << 4)
        |    | (((l_partkey >> 3) & 1) << 7)  | (((l_suppkey >> 3) & 1) << 6)
        |    | (((l_partkey >> 4) & 1) << 9)  | (((l_suppkey >> 4) & 1) << 8)
        |    | (((l_partkey >> 5) & 1) << 11) | (((l_suppkey >> 5) & 1) << 10)
        |    | (((l_partkey >> 6) & 1) << 13) | (((l_suppkey >> 6) & 1) << 12)
        |    | (((l_partkey >> 7) & 1) << 15) | (((l_suppkey >> 7) & 1) << 14) AS zkey
        |  FROM lineitem)
        |SELECT zkey >> 10 AS zbucket, COUNT(*) AS n, MIN(zkey) AS min_z, MAX(zkey) AS max_z
        |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin,
    "q_text_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |cnt AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token),
        |terms AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, COUNT(*) AS n_distinct,
        |    CAST(SUM(CAST(floor(c * ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS s_micro
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_tok, n_distinct,
        |  CAST(floor((ln(n_tok) - (s_micro / 1e6) / n_tok) / ln(2) * 1e6) AS BIGINT) AS entropy_micro
        |FROM terms ORDER BY doc_id""".stripMargin)
}
