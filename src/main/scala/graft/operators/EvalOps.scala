package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Det, Tables}

/** Model/dataset evaluation metrics a training pipeline runs on every
  * candidate corpus or classifier head: exact ROC-AUC, calibration
  * (reliability) bins, thresholded confusion matrices, mutual
  * information between categorical columns, the Mann-Whitney U rank
  * test, and a deterministic Poisson-bootstrap confidence interval.
  *
  * Scale + determinism design shared by the whole module:
  *   - every statistic is computed from GROUPED counts (by score value,
  *     bin, or category), never from per-row ranks, so the shuffled
  *     relations are bounded by the score/category DOMAIN, not the row
  *     count;
  *   - all arithmetic stays in integers (counts, ppm, nano-nats) until
  *     at most one final division, under the repo's floor-ln discipline
  *     (ln floored to integer nanos once per distinct argument — both
  *     engines evaluate ln() on the same integer inputs);
  *   - products of two counts are cast to DECIMAL(38,0) BEFORE the
  *     multiply (HUGEINT in the DuckDB twins) — at 10^12 rows a
  *     count*count term overflows int64.
  */
object EvalOps {


  /** Exact ROC-AUC of a "long documents are English" classifier
    * (score = n_chars, label = lang='en') from the tie-aware pair
    * formula: AUC = (2*C + T) / (2*np*nn) where C counts concordant
    * (pos above neg) pairs and T ties.
    *
    * Shape: one groupBy(score) aggregate (map-side combined), then a
    * cumulative window over the DISTINCT-SCORE relation — bounded by
    * the n_chars domain (hundreds here, at most ~10^5 for document
    * lengths), independent of corpus row count, the same boundedness
    * argument as TimeWindows.tsGapfill's hourly scaffold. The pair
    * counts C and T are derived from counts, never materialized as
    * pairs: exact AUC at 100 TB without an O(N^2) pair join or a
    * global per-row sort.
    */
  def evalAuc(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("score")
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    // negatives strictly below this score; window relation = distinct scores
    val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum_nn", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np").cast(DecimalType(38, 0)) * col("cum_nn")).as("c_dec"),
        sum(col("np").cast(DecimalType(38, 0)) * col("nn")).as("t_dec"))
      .select(col("n_pos"), col("n_neg"),
        col("c_dec").cast("long").as("n_concordant"),
        col("t_dec").cast("long").as("n_tied"),
        round((col("c_dec") * 2 + col("t_dec")).cast("double") /
          (col("n_pos").cast(DecimalType(38, 0)) * col("n_neg") * 2).cast("double"), 6)
          .as("auc"))
  }

  /** Reliability diagram: predicted probability = min(1, n_chars/600)
    * in ppm, 10 equal-width bins, per-bin mean prediction vs empirical
    * positive rate. Pure integer arithmetic; one aggregate over 10
    * groups — map-side combined, trivially scale-free.
    */
  private def calibBins(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        expr("least(1000000L, (n_chars * 1000000L) div 600)").as("score_ppm"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("bin", expr("least(9L, score_ppm div 100000)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("score_ppm").cast(DecimalType(38, 0))).as("s_sum"),
        sum(col("pos")).as("n_pos"))

  def evalCalibration(s: SparkSession, dir: String): DataFrame =
    calibBins(s, dir)
      .select(col("bin"), col("n"),
        expr("s_sum div cast(n as decimal(38,0))").as("mean_score_ppm"),
        col("n_pos"), expr("(n_pos * 1000000) div n").as("pos_rate_ppm"))
      .orderBy("bin")

  /** #263 Expected / maximum calibration error — the single-number
    * summary of [[evalCalibration]]'s reliability bins: ECE = Σ_b
    * (n_b/N)·|conf_b − acc_b|, MCE = max_b |conf_b − acc_b|, where
    * conf/acc are the SAME floored integer-ppm bin statistics the
    * calibration query grades (so the two queries can never disagree
    * about a bin). The n_b·gap products run in DECIMAL(38,0) (n·1e6
    * passes int64 at ~1e13 rows); one 10-row re-aggregate after the
    * shared bin aggregate — map-side combined, scale-free.
    */
  def evalEce(s: SparkSession, dir: String): DataFrame =
    calibBins(s, dir)
      .select(col("n"),
        expr("s_sum div cast(n as decimal(38,0))").as("conf"),
        expr("(n_pos * 1000000) div n").as("acc"))
      .withColumn("gap", abs(col("conf") - col("acc")))
      .agg(sum(col("n")).as("n_docs"),
        sum(col("n").cast(DecimalType(38, 0)) * col("gap")).as("wgap"),
        max(col("gap")).as("mce_ppm"))
      .select(col("n_docs"),
        expr("cast(wgap div cast(n_docs as decimal(38,0)) as long)").as("ece_ppm"),
        col("mce_ppm"))

  /** Confusion matrix + precision/recall/F1 (ppm) at three score
    * thresholds. The 3x explode happens before a map-side-combined
    * aggregate, so the shuffle carries 3 rows per partition whatever
    * the corpus size; ratios are NULL (both engines) when a threshold
    * degenerates to an empty predicted-positive set.
    */
  def evalConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("thr", explode(typedLit(Seq(200L, 300L, 450L))))
      .groupBy("thr")
      .agg(
        sum(when(col("score") >= col("thr"), col("pos")).otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("thr"), lit(1L) - col("pos")).otherwise(0L)).as("fp"),
        sum(when(col("score") < col("thr"), col("pos")).otherwise(0L)).as("fn"),
        sum(when(col("score") < col("thr"), lit(1L) - col("pos")).otherwise(0L)).as("tn"))
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") > 0, expr("(tp * 1000000) div (tp + fp)")))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") > 0, expr("(tp * 1000000) div (tp + fn)")))
      .withColumn("f1_ppm",
        when(coalesce(col("precision_ppm"), lit(0L)) + coalesce(col("recall_ppm"), lit(0L)) > 0,
          expr("(2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm)")))
      .orderBy("thr")

  /** Mutual information (and marginal entropies) of the (lang, source)
    * contingency table, in integer nano-nats:
    * MI = sum over cells of n_ls*(ln n_ls + ln N - ln n_l - ln n_s) / N.
    *
    * One groupBy(lang, source) shuffle; marginals and the total are
    * re-aggregates of the |L|x|S| cell relation and joined back
    * broadcast. Every ln is floored once per distinct integer count, so
    * both engines sum identical integer terms; term sums are
    * DECIMAL(38,0) because count*ln_nano reaches ~10^22 at corpus
    * scale. All final divisions have positive numerators (entropy >= 0,
    * and empirical MI's positive bias ~(L-1)(S-1)/2N nats dominates the
    * <=4e-9 per-term floor error), so truncating integer division
    * agrees across engines.
    */
  def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val joint = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_ls"))
    val margL = joint.groupBy("lang").agg(sum(col("n_ls")).as("n_l"))
    val margS = joint.groupBy("source").agg(sum(col("n_ls")).as("n_s"))
    val tot = joint.agg(sum(col("n_ls")).as("n"))
    val mi = joint.join(broadcast(margL), "lang").join(broadcast(margS), "source")
      .crossJoin(broadcast(tot))
      .select((col("n_ls").cast(DecimalType(38, 0)) *
        (Det.lnNano(col("n_ls")) + Det.lnNano(col("n")) -
          Det.lnNano(col("n_l")) - Det.lnNano(col("n_s")))).as("term"))
      .agg(sum(col("term")).as("mi_num"))
    val hl = margL.agg(sum(col("n_l").cast(DecimalType(38, 0)) * Det.lnNano(col("n_l"))).as("sl"))
    val hs = margS.agg(sum(col("n_s").cast(DecimalType(38, 0)) * Det.lnNano(col("n_s"))).as("ss"))
    tot.crossJoin(broadcast(mi)).crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .select(col("n").as("n_docs"),
        expr("(cast(n as decimal(38,0)) * cast(floor(ln(cast(n as double)) * 1e9) as long) - sl)" +
          " div cast(n as decimal(38,0))").as("h_lang_nano"),
        expr("(cast(n as decimal(38,0)) * cast(floor(ln(cast(n as double)) * 1e9) as long) - ss)" +
          " div cast(n as decimal(38,0))").as("h_source_nano"),
        expr("mi_num div cast(n as decimal(38,0))").as("mi_nano"))
      .withColumn("nmi_ppm",
        when(least(col("h_lang_nano"), col("h_source_nano")) > 0,
          expr("(mi_nano * 1000000) div least(h_lang_nano, h_source_nano)")))
  }

  /** Exact Mann-Whitney U (tie-aware, midranks) comparing purchase vs
    * click event values. Same grouped-cents shape as StatsOps.ksDrift:
    * group rows by integer cents (relation bounded by the value domain)
    * and take both samples' cumulative counts as [[GlobalPrefix]]
    * running sums — never a single-partition window over per-row ranks.
    * midrank2 = 2*(combined rank average) stays integer; U2 = 2*U and
    * the rank-biserial effect (= P(a > b) + P(a = b)/2, in ppm) are
    * exact integer expressions of it.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val grouped = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(round(col("value") * 100, 0).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("a"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("b"))
      .groupBy("cents").agg(sum(col("a")).as("a_n"), sum(col("b")).as("b_n"))
    val cum = GlobalPrefix(grouped, Seq(col("cents")), "ca" -> col("a_n"), "cb" -> col("b_n"))
    val (na, nb) = (cum.totals("ca"), cum.totals("cb"))
    cum.df
      .withColumn("midrank2",
        lit(2) * (col("ca") - col("a_n") + col("cb") - col("b_n")) +
          col("a_n") + col("b_n") + 1)
      .agg(sum(col("a_n").cast(DecimalType(38, 0)) * col("midrank2")).as("r2a"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        (col("r2a") - lit(na).cast(DecimalType(38, 0)) * (lit(na) + lit(1L)))
          .as("u2dec"))
      .select(col("n_a"), col("n_b"), col("u2dec").cast("long").as("u2"),
        expr("(u2dec * 1000000) div (2 * cast(n_a as decimal(38,0)) * n_b)")
          .as("effect_ppm"))
  }

  /** 95% CI of the mean order value via the Poisson bootstrap — THE
    * resampling scheme that works on a cluster: each of B=64 replicates
    * weights every row by an iid Poisson(1) count, so a replicate's
    * statistic is one weighted aggregate, no per-replicate materialized
    * resample. Counts are deterministic (md5 of replicate x orderkey
    * against fixed Poisson-cdf ppm thresholds — no rand(), rerunnable),
    * the explode-by-64 feeds a map-side-combined aggregate (shuffle =
    * 64 rows per partition), and the replicate-mean relation is B rows,
    * so the final sorted-array percentile pick is bounded. Integer
    * micro-cents end to end.
    */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val u = conv(substring(md5(concat(lit("boot:"), col("b").cast("string"),
      lit(":"), col("o_orderkey").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000000
    // Poisson(1) cdf in ppm: P(<=k) for k = 0..4, else 5
    val k = when(u < 367879, 0L).when(u < 735758, 1L).when(u < 919698, 2L)
      .when(u < 981011, 3L).when(u < 996340, 4L).otherwise(5L)
    val means = o.withColumn("b", explode(expr("sequence(0, 63)")))
      .withColumn("k", k)
      .groupBy("b")
      .agg(sum(col("k")).as("n_k"),
        sum((col("k") * col("cents")).cast(DecimalType(38, 0))).as("kc"))
      .select(expr("(1000000 * kc) div cast(n_k as decimal(38,0))").as("mean_micro_b"))
      .agg(sort_array(collect_list(col("mean_micro_b"))).as("ms"))
    val point = o.agg(count(lit(1)).as("n_orders"),
      sum(col("cents").cast(DecimalType(38, 0))).as("sc"))
    point.crossJoin(broadcast(means))
      .select(col("n_orders"),
        expr("(1000000 * sc) div cast(n_orders as decimal(38,0))").as("mean_micro"),
        element_at(col("ms"), 2).as("ci_lo_micro"),
        element_at(col("ms"), 63).as("ci_hi_micro"))
  }

  /** #250 NDCG@10 — the standard graded-relevance ranking metric for
    * retrieval evaluation: per query term, documents rank by term
    * frequency (tf DESC, doc_id ASC), the graded editorial label is
    * doc_id % 4, gain = 2^rel − 1, and the position discount 1/log2(i+1)
    * is a 10-entry INTEGER nano table embedded as literals in both
    * engines (computing log2 independently per engine would floor on a
    * knife edge; a shared constant table cannot). DCG and ideal-DCG are
    * exact int64 sums; NDCG is the single final division, rounded 6dp.
    *
    * Scale: per-query windows partition by the query term (never
    * global), the candidate pool is the postings of the term, and both
    * rankings ride ONE (term, doc) tf aggregate.
    */
  private val NdcgDisc: Seq[Long] = Seq(1000000000L, 630929753L, 500000000L,
    430676558L, 386852807L, 356207187L, 333333333L, 315464876L, 301029995L,
    289064826L)

  def evalNdcg(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "scan")
    val discLit = array(NdcgDisc.map(lit): _*)
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("gain", expr("shiftleft(1L, cast(doc_id % 4 AS int)) - 1L"))
    val sys = Window.partitionBy("token").orderBy(desc("tf"), asc("doc_id"))
    val ideal = Window.partitionBy("token").orderBy(desc("gain"), asc("doc_id"))
    val ranked = tf
      .withColumn("rk", row_number().over(sys))
      .withColumn("irk", row_number().over(ideal))
    val dcg = ranked.filter(col("rk") <= 10)
      .groupBy("token")
      .agg(sum(col("gain") * element_at(discLit, col("rk"))).as("dcg_nano"))
    val idcg = ranked.filter(col("irk") <= 10)
      .groupBy("token")
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("gain") * element_at(discLit, col("irk"))).as("idcg_nano"))
    idcg.join(dcg, Seq("token"))
      .select(col("token"), col("n_ranked"), col("dcg_nano"), col("idcg_nano"),
        round(col("dcg_nano").cast("double") / col("idcg_nano"), 6).as("ndcg"))
      .orderBy("token")
  }

  /** The ERR@10 numerator expression over the pivoted per-rank gains
    * g1..g10 (0 = absent) — shared VERBATIM by the Spark plan and the
    * DuckDB twin so the integer arithmetic is identical by
    * construction. Scaled by D = 8¹⁰·2520 (2520 = lcm 1..10), every
    * term is an exact int64: term_r = g_r·(2520/r)·8^(10−r)·
    * Π_{i<r}(8−g_i) ≤ 7·2520·8⁹ ≈ 2.4e12.
    */
  private[graft] object ErrExprs {
    val D: Long = 2520L * (1L << 30) // 8^10 · lcm(1..10)
    private def term(r: Int): String = {
      val prod =
        if (r == 1) "1" else (1 until r).map(i => s"(8 - g$i)").mkString(" * ")
      s"(g$r * ${2520 / r} * ${1L << (3 * (10 - r))} * $prod)"
    }
    val numSum: String = (1 to 10).map(term).mkString(" + ")
  }

  /** #514 Expected Reciprocal Rank @10 (Chapelle 2009) per query term
    * on the #250 retrieval carrier (tf ranking, graded editorial gains
    * 2^(doc_id%4) − 1): ERR = Σ_r (1/r)·R_r·Π_{i<r}(1 − R_i) with
    * R = gain/8 — the CASCADE ranking metric. WHY next to #250/#251:
    * NDCG's discount is position-only (a great doc at rank 3 scores
    * the same whether ranks 1–2 were junk or gold); ERR models the
    * user who STOPS at the first satisfying result, so a strong early
    * document correctly suppresses the credit below it — the metric
    * that separates "top-heavy and satisfying" from "uniformly decent"
    * rankings, which is what an RAG retriever actually optimizes.
    *
    * Exactness: gains pivot to per-rank columns (absent ranks 0);
    * scaled by D = 8¹⁰·lcm(1..10) every term is an exact int64 and the
    * ten-term sum is ONE shared expression ([[ErrExprs]], the
    * WelchExprs precedent); the readout is ONE truncating ppm division
    * with the numerator DECIMAL-staged. Scale: the #250 shape — one
    * (term, doc) tf aggregate, term-partitioned window, |terms|-row
    * pivot + readout.
    */
  def evalErr(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "scan")
    val sys = Window.partitionBy("token").orderBy(desc("tf"), asc("doc_id"))
    val ranked = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("gain", expr("shiftleft(1L, cast(doc_id % 4 AS int)) - 1L"))
      .withColumn("rk", row_number().over(sys))
      .filter(col("rk") <= 10)
    val pivotCols = (1 to 10).map(i =>
      coalesce(max(when(col("rk") === i, col("gain"))), lit(0L)).as(s"g$i"))
    ranked.groupBy("token")
      .agg(count(lit(1)).as("n_ranked"), pivotCols: _*)
      .withColumn("err_num", expr(ErrExprs.numSum))
      .select(col("token"), col("n_ranked"),
        expr("cast((cast(err_num as decimal(38,0)) * 1000000) div " +
          s"${ErrExprs.D}L as long)").as("err_ppm"))
      .orderBy("token")
  }

  /** #251 MAP@10 + MRR — the binary-relevance ranking metrics next to
    * [[evalNdcg]]'s graded one: per query term, documents rank by term
    * frequency (tf DESC, doc_id ASC) exactly as NDCG, relevance is the
    * binary cut of the same editorial label (doc_id % 4 ≥ 2), average
    * precision truncates each precision@i to integer ppm BEFORE the sum
    * (so both engines add identical integers — summing rationals and
    * flooring once would knife-edge), AP divides by min(R, 10), and the
    * reciprocal rank is 1e6 div first-relevant rank over the full pool.
    *
    * Scale: identical shape to NDCG — one (term, doc) tf aggregate
    * (map-side combined), term-partitioned windows (never global), and
    * a per-term final aggregate whose output is |terms| rows. Zero-
    * relevant terms report 0 on both engines (a `div 0` is NULL in
    * Spark but an ERROR in DuckDB, so the guard is structural).
    */
  def evalMapMrr(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "scan")
    val wsys = Window.partitionBy("token").orderBy(desc("tf"), asc("doc_id"))
    val ranked = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("rel", when(col("doc_id") % 4 >= 2, 1L).otherwise(0L))
      .withColumn("rk", row_number().over(wsys))
      .withColumn("relcum", sum(col("rel")).over(
        wsys.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.groupBy("token")
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("rel")).as("n_rel"),
        sum(when(col("rk") <= 10 && col("rel") === 1L,
          expr("(1000000 * relcum) div rk")).otherwise(0L)).as("ap_num"),
        min(when(col("rel") === 1L, col("rk"))).as("first_rel"))
      .select(col("token"), col("n_candidates"), col("n_rel"),
        when(col("n_rel") > 0, expr("ap_num div least(n_rel, 10)"))
          .otherwise(0L).as("ap_ppm"),
        when(col("first_rel").isNotNull, expr("1000000 div first_rel"))
          .otherwise(0L).as("rr_ppm"))
      .orderBy("token")
  }

  /** #257 Cohen's kappa — chance-corrected agreement between the cheap
    * "long document" classifier (n_chars ≥ 300) and the English label,
    * the standard inter-annotator/classifier agreement statistic a
    * labeling pipeline reports before trusting weak supervision. Fully
    * exact: kappa = (N·(n11+n00) − (r1·c1 + r0·c0)) / (N² − (r1·c1 +
    * r0·c0)) clears every denominator, so observed/expected agreement
    * and kappa are single truncating divisions of DECIMAL(38,0)
    * integers (N² outgrows int64 at ~3e9 rows). One 4-cell aggregate —
    * map-side combined, nothing row-cardinality shuffles.
    */
  def evalKappa(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(when(col("n_chars") >= 300, 1L).otherwise(0L).as("pred"),
        when(col("lang") === "en", 1L).otherwise(0L).as("truth"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("pred") * col("truth")).cast(DecimalType(38, 0)).as("n11"),
        sum(col("pred") * (lit(1L) - col("truth"))).cast(DecimalType(38, 0)).as("n10"),
        sum((lit(1L) - col("pred")) * col("truth")).cast(DecimalType(38, 0)).as("n01"),
        sum((lit(1L) - col("pred")) * (lit(1L) - col("truth"))).cast(DecimalType(38, 0)).as("n00"))
      .withColumn("chance", expr(
        "(n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)"))
      .select(col("n").cast("long").as("n_docs"),
        col("n11").cast("long").as("n11"), col("n10").cast("long").as("n10"),
        col("n01").cast("long").as("n01"), col("n00").cast("long").as("n00"),
        expr("cast(((n11 + n00) * 1000000) div n as long)").as("po_ppm"),
        expr("cast((chance * 1000000) div (n * n) as long)").as("pe_ppm"),
        expr("cast(((n * (n11 + n00) - chance) * 1000000) div (n * n - chance) as long)")
          .as("kappa_ppm"))

  /** #452 Linearly-weighted Cohen's kappa between two ORDINAL 3-level
    * document gradings — character-length terciles (pred) vs
    * token-count terciles (truth): unlike #257 (binary kappa) and #288
    * (Fleiss), the weighted variant charges a 2-level disagreement
    * twice a 1-level one, which is the right loss for ordinal quality
    * rubrics (the standard inter-rater metric when labels are
    * graded, not categorical). κ_w = 1 − N·D_o / D_e with linear
    * weights |i−j|: D_o = Σ|p−t| (observed disagreement mass), D_e =
    * Σ_{i,j}|i−j|·r_i·c_j (the N²-scaled chance mass from the
    * margins). All counts exact DECIMAL(38,0); ONE truncating ppm
    * division; NULL when D_e = 0 (both gradings constant) on both
    * engines. Scale: one map-side-combined aggregate over the corpus;
    * the 3×3 algebra is a 1-row readout.
    */
  def evalKappaWeighted(s: SparkSession, dir: String): DataFrame = {
    val toks = size(split(col("text"), " ")).cast("long")
    val graded = Tables.documents(s, dir).select(
      when(col("n_chars") < 300, 0L).when(col("n_chars") < 600, 1L)
        .otherwise(2L).as("p"),
      when(toks < 50L, 0L).when(toks < 100L, 1L).otherwise(2L).as("t"))
    def m(c: String, v: Long) =
      sum(when(col(c) === v, 1L).otherwise(0L)).cast(DecimalType(38, 0))
    graded
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(abs(col("p") - col("t"))).cast(DecimalType(38, 0)).as("dobs"),
        m("p", 0).as("r0"), m("p", 1).as("r1"), m("p", 2).as("r2"),
        m("t", 0).as("c0"), m("t", 1).as("c1"), m("t", 2).as("c2"))
      .withColumn("dexp", expr(
        "r0 * c1 + r1 * c0 + r1 * c2 + r2 * c1 + 2 * (r0 * c2 + r2 * c0)"))
      .select(col("n").cast("long").as("n_docs"),
        col("dobs").cast("long").as("d_obs"),
        col("dexp").cast("long").as("d_exp"),
        when(col("dexp") > 0,
          expr("cast(((dexp - n * dobs) * 1000000) div dexp as long)"))
          .as("kappa_w_ppm"))
  }

  /** Shared threshold relation for the PR family: per DISTINCT score
    * (descending), cumulative predicted-positive counts tp/fp — the
    * same score-domain-bounded scaffold as [[evalAuc]], so the window
    * relation never grows with corpus row count.
    */
  private def prThresholds(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("score")
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val w = Window.orderBy(desc("score")).rowsBetween(Window.unboundedPreceding, 0)
    g.withColumn("tp", sum(col("np")).over(w))
      .withColumn("fp", sum(col("nn")).over(w))
      .crossJoin(broadcast(g.agg(sum(col("np")).as("pos_total"))))
  }

  /** #268 Precision-recall curve of the "long documents are English"
    * classifier: one row per distinct score threshold (predict positive
    * iff score ≥ threshold) with exact integer tp/fp and floored-ppm
    * precision/recall. The retrieval-side companion to [[evalAuc]]'s
    * ROC — on the skewed label distributions corpus filters actually
    * face, PR is the curve that moves.
    *
    * Scale: identical boundedness argument to evalAuc — one
    * map-side-combined groupBy(score), then windows over the
    * DISTINCT-SCORE relation (score domain ≲ 10^5 for document
    * lengths), never row-cardinality. Determinism: counts + truncating
    * ppm divisions only.
    */
  def evalPrCurve(s: SparkSession, dir: String): DataFrame =
    prThresholds(s, dir)
      .select(col("score"), col("tp"), col("fp"),
        expr("(tp * 1000000) div (tp + fp)").as("precision_ppm"),
        expr("(tp * 1000000) div pos_total").as("recall_ppm"))
      .orderBy(desc("score"))

  /** #268 Average precision (area under the PR curve by the step rule
    * AP = Σ_i (R_i − R_{i−1})·P_i over descending-score thresholds) —
    * the single-number PR summary, exact from the same integer-ppm
    * curve points as [[evalPrCurve]] (the two can never disagree), with
    * the Δrecall·precision products in DECIMAL(38,0).
    */
  def evalPrAuc(s: SparkSession, dir: String): DataFrame = {
    val wlag = Window.orderBy(desc("score"))
    prThresholds(s, dir)
      .select(col("score"), col("pos_total"),
        expr("(tp * 1000000) div (tp + fp)").as("precision_ppm"),
        expr("(tp * 1000000) div pos_total").as("recall_ppm"))
      .withColumn("r_prev", lag(col("recall_ppm"), 1, 0L).over(wlag))
      .agg(count(lit(1)).as("n_thresholds"),
        max(col("pos_total")).as("n_pos"),
        sum((col("recall_ppm") - col("r_prev")).cast(DecimalType(38, 0)) *
          col("precision_ppm")).as("ap_num"))
      .select(col("n_thresholds"), col("n_pos"),
        expr("cast(ap_num div 1000000 as long)").as("ap_ppm"))
  }

  /** #281 Lift / gains table of the length→English classifier: docs
    * bucketed into score deciles (highest scores = decile 1) via the
    * distinct-score cumulative scaffold, reporting per decile the
    * positive rate's lift over base (ppm) and the cumulative captured
    * share of all positives — the targeting readout (top-k% capture)
    * that AUC/PR summarize away.
    *
    * Tie discipline: all docs sharing one score land in the decile of
    * that score's cumulative END position (d = (cum−1)·10 div N), so
    * bucket membership is engine-independent — no within-score row
    * splitting. Same domain-bounded window argument as [[evalAuc]];
    * everything is counts and floored-ppm quotients.
    */
  def evalLiftDeciles(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("np"))
    val w = Window.orderBy(desc("score")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(g.agg(sum(col("cnt")).as("n_total"),
        sum(col("np")).as("pos_total"))))
      .withColumn("decile", expr("((cum - 1) * 10) div n_total + 1"))
    val wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum.groupBy("decile")
      .agg(sum(col("cnt")).as("n_docs"), sum(col("np")).as("n_pos"),
        max(col("n_total")).as("n_total"), max(col("pos_total")).as("pos_total"))
      .withColumn("cum_pos", sum(col("n_pos")).over(wd))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        expr("(n_pos * 1000000) div n_docs").as("rate_ppm"),
        // lift = (n_pos/n_docs) / (pos_total/n_total), cleared to one
        // exact integer quotient in DECIMAL
        expr("cast((cast(n_pos as decimal(38,0)) * n_total * 1000000) div " +
          "(cast(n_docs as decimal(38,0)) * pos_total) as long)").as("lift_ppm"),
        expr("(cum_pos * 1000000) div pos_total").as("capture_ppm"))
      .orderBy("decile")
  }

  /** #288 Fleiss' kappa across THREE deterministic heuristic raters
    * (length ≥ 300 chars, ≥ 45 whitespace tokens, mean word length ≥ 5)
    * voting "high-quality document" — the multi-rater chance-corrected
    * agreement that generalizes [[evalKappa]]'s two-rater Cohen form:
    * before trusting an ensemble of cheap labelers, measure whether
    * they agree beyond chance.
    *
    * All-integer: with N=3 raters and v = positive votes per item,
    * item agreement P_i = [v(v−1) + (3−v)(2−v)]/6, so S2 = Σ numerators
    * and S1 = Σ v are plain integer sums; P̄, p, P_e and κ are floored
    * ppm quotients of DECIMAL products. One map-side-combined global
    * aggregate; nothing row-cardinality shuffles.
    */
  def evalFleiss(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        ((col("n_chars") >= 300).cast("long") +
          (size(split(col("text"), " ")) >= 45).cast("long") +
          (col("n_chars") >= size(split(col("text"), " ")) * 5).cast("long"))
          .as("v"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * (col("v") - 1) +
          (lit(3) - col("v")) * (lit(2) - col("v"))).as("s2"))
      .select(col("n"),
        expr("(s1 * 1000000) div (3 * n)").as("p_pos_ppm"),
        expr("(s2 * 1000000) div (6 * n)").as("p_bar_ppm"))
      .withColumn("p_e_ppm",
        expr("cast((cast(p_pos_ppm as decimal(38,0)) * p_pos_ppm + " +
          "cast(1000000 - p_pos_ppm as decimal(38,0)) * (1000000 - p_pos_ppm))" +
          " div 1000000 as long)"))
      .withColumn("kappa_ppm",
        expr("cast((cast(p_bar_ppm - p_e_ppm as decimal(38,0)) * 1000000)" +
          " div (1000000 - p_e_ppm) as long)"))

  /** #291 Feature-leakage AUC sweep: the exact tie-aware AUC of EACH
    * candidate feature (n_chars, whitespace token count, mean word
    * length ×100) against the English label, in ONE pass — the audit
    * that catches a feature "predicting too well" (target leakage)
    * before it enters a model, and ranks cheap heuristics by
    * discriminative power ([[evalAuc]] grades one fixed scorer; this
    * sweeps the candidate set).
    *
    * Shape: a 3-way per-row explode to (feature, score, label), then
    * the evalAuc machinery PARTITIONED BY feature — grouped counts per
    * (feature, score), cumulative windows over each feature's
    * score-domain-bounded relation, concordant/tied pair counts from
    * counts in DECIMAL(38,0). The explode multiplies the map-side rows
    * by |features| but everything past the first aggregate is
    * domain-bounded per feature.
    */
  def evalFeatureAuc(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .select(col("pos"), explode(expr(
        "array(named_struct('feature', 'n_chars', 'score', n_chars)," +
          " named_struct('feature', 'n_tokens', 'score', n_tokens)," +
          " named_struct('feature', 'mean_wordlen_x100', 'score'," +
          "   (n_chars * 100) div n_tokens))")).as("f"))
      .select(col("f.feature").as("feature"), col("f.score").as("score"), col("pos"))
      .groupBy("feature", "score")
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val w = Window.partitionBy("feature").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum_nn", coalesce(sum(col("nn")).over(w), lit(0L)))
      .groupBy("feature")
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np").cast(DecimalType(38, 0)) * col("cum_nn")).as("c_dec"),
        sum(col("np").cast(DecimalType(38, 0)) * col("nn")).as("t_dec"))
      .select(col("feature"), col("n_pos"), col("n_neg"),
        round((col("c_dec") * 2 + col("t_dec")).cast("double") /
          (col("n_pos").cast(DecimalType(38, 0)) * col("n_neg") * 2).cast("double"), 6)
          .as("auc"))
      .orderBy("feature")
  }

  /** #298 Brier score + Murphy decomposition of the [[evalCalibration]]
    * classifier: BS = (1/N)·Σ(p−y)² alongside reliability
    * REL = (1/N)·Σ_b n_b·(conf_b−acc_b)², resolution
    * RES = (1/N)·Σ_b n_b·(acc_b−ȳ)², and uncertainty UNC = ȳ·(1−ȳ) —
    * the standard readout that splits a probability model's error into
    * "miscalibrated" vs "undiscriminating" vs "irreducible".
    *
    * Exactness: p and y live in ppm, so every squared term is an exact
    * integer ≤ 1e12 and all four statistics are integer sums with ONE
    * truncating division by N each (units 1e-12, hence the `_e12`
    * suffix; conf/acc/ȳ are the SAME floored bin integers the
    * calibration and ECE queries grade). RES expands to
    * Σn·acc² − 2ȳΣn·acc + Nȳ² so the global base rate never has to be
    * joined back per bin. Scale: the one row-cardinality stage is the
    * shared 10-bin aggregate (map-side combined); the decomposition is
    * a 10-row re-aggregate. Envelope: Σ(p−y)² ≤ N·1e12 holds DECIMAL38
    * headroom past 1e24 rows.
    */
  def evalBrier(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        expr("least(1000000L, (n_chars * 1000000L) div 600)").as("score_ppm"),
        when(col("lang") === "en", 1000000L).otherwise(0L).as("y_ppm"))
      .withColumn("bin", expr("least(9L, score_ppm div 100000)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("score_ppm").cast(DecimalType(38, 0))).as("s_sum"),
        sum(expr("y_ppm div 1000000")).as("n_pos"),
        sum(((col("score_ppm") - col("y_ppm")) *
          (col("score_ppm") - col("y_ppm"))).cast(DecimalType(38, 0))).as("sq"))
      .select(col("n"), col("n_pos"), col("sq"),
        expr("s_sum div cast(n as decimal(38,0))").as("conf"),
        expr("(n_pos * 1000000) div n").as("acc"))
      .agg(sum(col("n")).as("n_docs"), sum(col("n_pos")).as("s_pos"),
        sum(col("sq")).as("sq_all"),
        sum(col("n").cast(DecimalType(38, 0)) *
          (col("conf") - col("acc")) * (col("conf") - col("acc"))).as("rel_num"),
        sum(col("n").cast(DecimalType(38, 0)) * col("acc") * col("acc")).as("acc2"),
        sum(col("n").cast(DecimalType(38, 0)) * col("acc")).as("acc1"))
      .withColumn("ybar_ppm", expr("(s_pos * 1000000) div n_docs"))
      .select(col("n_docs"), col("ybar_ppm").cast("long").as("base_rate_ppm"),
        expr("cast(sq_all div cast(n_docs as decimal(38,0)) as long)").as("brier_e12"),
        expr("cast(rel_num div cast(n_docs as decimal(38,0)) as long)").as("rel_e12"),
        expr("cast((acc2 - 2 * ybar_ppm * acc1 + cast(n_docs as decimal(38,0))" +
          " * ybar_ppm * ybar_ppm) div cast(n_docs as decimal(38,0)) as long)")
          .as("res_e12"),
        expr("cast(ybar_ppm * (1000000 - ybar_ppm) as long)").as("unc_e12"))

  /** #339 Gini decision stump on n_chars for the en label: the best
    * single-threshold split by impurity reduction — the one-node
    * decision tree that is both the simplest trainable model and the
    * feature-importance primitive (CART's split criterion) a data
    * team runs to ask "does this feature cut the label at all, and
    * where?"
    *
    * Exactness: for fixed totals, maximizing the reduction equals
    * maximizing g(s) = (l_p²+l_n²)·1e6 div n_l + (r_p²+r_n²)·1e6 div
    * n_r — staged truncating divisions MIRRORED in the twin, so both
    * engines pick the identical argmax row by (g DESC, thr ASC); the
    * reported parent/child/gain ppm re-derive from the same staged
    * pieces. Envelope: ONLY the count² products run in DECIMAL(38,0)
    * (HUGEINT in the twin); each g term's quotient ≈ count·1e6 fits
    * int64 to ~9·10¹² rows per class (the repo's n·1e6 convention),
    * so it is cast back to long right after its division and the
    * argmax sort, child-gini subtraction, and gain all stay in int64
    * (r13: the r12 version kept g itself DECIMAL, which dragged the
    * sort and every downstream arithmetic op through non-codegen
    * decimal paths). Overflow past the envelope fails loudly — as a
    * DECIMAL-overflow error on the product, or a CAST_OVERFLOW on the
    * long narrowing — NOT a silent wrap; note this loud-failure
    * guarantee assumes ANSI mode (spark.sql.ansi.enabled=true, the
    * Spark 4 default, pinned in Bench/Verify): with ANSI off the
    * overflowed rows would go NULL and silently drop from the argmax.
    * Scale: the SCORE-DOMAIN cumulative relation of [[evalKsScore]];
    * totals broadcast; argmax via one ordered limit.
    */
  def mlStump(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val byScore = d.groupBy("score")
      .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("q"))
    val tot = byScore.agg(sum(col("p")).as("np"), sum(col("q")).as("nq"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byScore
      .withColumn("cp", sum(col("p")).over(w))
      .withColumn("cq", sum(col("q")).over(w))
      .crossJoin(broadcast(tot))
      // split: left = score < thr  (cum counts EXCLUDE the row itself)
      .withColumn("lp", col("cp") - col("p"))
      .withColumn("ln", col("cq") - col("q"))
      .withColumn("rp", col("np") - col("lp"))
      .withColumn("rn", col("nq") - col("ln"))
      .filter(col("lp") + col("ln") > 0 && col("rp") + col("rn") > 0)
      .withColumn("g",
        expr("cast(((cast(lp as decimal(38,0)) * lp + cast(ln as decimal(38,0))" +
          " * ln) * 1000000) div (lp + ln) as long) + " +
          "cast(((cast(rp as decimal(38,0)) * rp + cast(rn as decimal(38,0))" +
          " * rn) * 1000000) div (rp + rn) as long)"))
      .orderBy(desc("g"), asc("score"))
      .limit(1)
      .select(col("score").as("best_thr"), col("lp"), col("ln"),
        col("rp"), col("rn"),
        expr("1000000 - cast(((cast(np as decimal(38,0)) * np + " +
          "cast(nq as decimal(38,0)) * nq) * 1000000) div " +
          "(cast(np + nq as decimal(38,0)) * (np + nq)) as long)")
          .as("parent_gini_ppm"),
        expr("1000000 - g div (np + nq)").as("child_gini_ppm"))
      .withColumn("gain_ppm",
        col("parent_gini_ppm") - col("child_gini_ppm"))
  }

  /** #336 McNemar's test between the 300- and 450-char en-classifiers:
    * do the two models disagree ASYMMETRICALLY on the same documents?
    * — the paired comparison that a marginal-accuracy diff (or an
    * unpaired [[welchT]]-style test) gets wrong because it ignores
    * that both models score the SAME items.
    *
    * Exactness: b (A right, B wrong) and c (A wrong, B right) are one
    * conditional aggregate; the continuity-corrected χ²_milli =
    * (|b−c|−1)²·1000 div (b+c) is a single truncating division
    * (3.841 the χ²₁ bound, the [[InferenceOps.runsTest]] convention).
    * Scale: pure projection + one global aggregate.
    */
  def statsMcnemar(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        (when(col("n_chars") >= 300, 1L).otherwise(0L) ===
          when(col("lang") === "en", 1L).otherwise(0L)).as("a_ok"),
        (when(col("n_chars") >= 450, 1L).otherwise(0L) ===
          when(col("lang") === "en", 1L).otherwise(0L)).as("b_ok"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("c"))
      .filter(col("b") + col("c") > 0)
      .select(col("n_docs"), col("b"), col("c"),
        expr("case when abs(b - c) > 1 then " +
          "((abs(b - c) - 1) * (abs(b - c) - 1) * 1000) div (b + c) " +
          "else 0L end").as("chi2_milli"))
      .withColumn("significant_05", col("chi2_milli") > 3841L)

  /** #337 Cochran's Q across the three [[evalConfusion]] thresholds:
    * does ANY of the k=3 paired classifiers differ in accuracy? — the
    * k-sample generalization of [[statsMcnemar]] and the omnibus gate
    * before pairwise post-hocs, exactly as [[InferenceOps.anovaLang]]
    * gates [[InferenceOps.tukeyHsd]].
    *
    * Exactness: Q = (k−1)(k·ΣCⱼ² − (ΣCⱼ)²) / (k·ΣRᵢ − ΣRᵢ²) is
    * integer-exact by construction (Cⱼ column-correct sums, Rᵢ ∈
    * [0,3] row sums); one truncating milli division; χ²₂ bound 5.991.
    * Scale: the row sums are a projection (no per-doc shuffle — Rᵢ
    * and Rᵢ² aggregate directly); Cⱼ are three conditional sums in
    * the same pass.
    */
  def statsCochranQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        col("n_chars"))
      .select(
        (when(col("n_chars") >= 200, 1L).otherwise(0L) === col("y"))
          .cast("long").as("x1"),
        (when(col("n_chars") >= 300, 1L).otherwise(0L) === col("y"))
          .cast("long").as("x2"),
        (when(col("n_chars") >= 450, 1L).otherwise(0L) === col("y"))
          .cast("long").as("x3"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
        sum(col("x3")).as("c3"),
        sum(col("x1") + col("x2") + col("x3")).as("sr"),
        sum((col("x1") + col("x2") + col("x3")) *
          (col("x1") + col("x2") + col("x3"))).as("sr2"))
      .filter(expr("3 * sr - sr2") > 0)
      .select(col("n_docs"), col("c1"), col("c2"), col("c3"),
        expr("cast((2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - " +
          "(c1 + c2 + c3) * (c1 + c2 + c3)) * 1000) div " +
          "(3 * sr - sr2) as long)").as("q_milli"))
      .withColumn("significant_05", col("q_milli") > 5991L)

  /** #329 Cost-sensitive operating points: for false-positive cost
    * ratios c ∈ {1, 2, 5}, the threshold minimizing c·FP + FN over the
    * full score domain — what [[evalConfusion]]'s three fixed
    * thresholds become once someone prices the two error types; the
    * cost-curve readout deployment reviews actually decide on.
    *
    * Exactness: FP/FN at "predict positive iff score ≥ s" come from
    * the same cumulative integer counts as [[evalKsScore]] (FP = n_neg
    * − cq + q_s, FN = cp − p_s); the per-ratio argmin row is picked by
    * the (cost ASC, thr ASC) total order — all integers, no division
    * at all. Scale: SCORE-DOMAIN-bounded relation × 3 exploded ratios;
    * totals broadcast.
    */
  def evalCostCurve(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val byScore = d.groupBy("score")
      .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("q"))
    val tot = byScore.agg(sum(col("p")).as("np"), sum(col("q")).as("nq"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val rk = org.apache.spark.sql.expressions.Window.partitionBy("cost_ratio")
      .orderBy(asc("cost"), asc("score"))
    byScore
      .withColumn("cp", sum(col("p")).over(w))
      .withColumn("cq", sum(col("q")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("fp", col("nq") - col("cq") + col("q"))
      .withColumn("fn", col("cp") - col("p"))
      .withColumn("cost_ratio", explode(typedLit(Seq(1L, 2L, 5L))))
      .withColumn("cost", col("cost_ratio") * col("fp") + col("fn"))
      .withColumn("rn", row_number().over(rk))
      .filter(col("rn") === 1)
      .select(col("cost_ratio"), col("score").as("best_thr"),
        col("fp"), col("fn"), col("cost"))
      .orderBy("cost_ratio")
  }

  /** #323 Kolmogorov-Smirnov score separation: max |CDF_pos − CDF_neg|
    * of the n_chars score between en and non-en documents — the
    * threshold-free discrimination readout credit-scoring teams quote
    * next to AUC, with the ARGMAX score emitted as the natural
    * operating threshold.
    *
    * Exactness: the CDF difference never divides per-row — dev =
    * |cum_pos·n_neg − cum_neg·n_pos| is exact integer cross-
    * multiplication, the max row picked by (dev DESC, score ASC)
    * total order, and ks_ppm one terminal truncating division. Scale:
    * one SCORE-DOMAIN-bounded aggregate (|distinct n_chars| rows —
    * the [[evalAuc]] argument) carries the global cum window; totals
    * broadcast. Contrast with [[StatsOps.ksDrift]], which compares
    * one metric across time — this compares labels across one score.
    */
  def evalKsScore(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val byScore = d.groupBy("score")
      .agg(sum(col("pos")).as("p"), sum(lit(1L) - col("pos")).as("q"))
    val tot = byScore.agg(sum(col("p")).as("np"), sum(col("q")).as("nq"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byScore
      .withColumn("cp", sum(col("p")).over(w))
      .withColumn("cq", sum(col("q")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("dev", abs(col("cp") * col("nq") - col("cq") * col("np")))
      .orderBy(desc("dev"), asc("score"))
      .limit(1)
      .select(col("np").as("n_pos"), col("nq").as("n_neg"),
        col("score").as("ks_thr"),
        expr("cast((dev * 1000000) div (np * nq) as long)").as("ks_ppm"))
  }

  /** #320 Cross-entropy (log-loss) of the length-derived en-probability
    * against the lang='en' label — the proper scoring rule that
    * punishes CONFIDENT wrong predictions where [[evalBrier]] only
    * squares them; the standard training/eval objective readout.
    *
    * Exactness: p_ppm = clamp(n_chars·1e6 div 600, [1, 999999]) (the
    * Brier score derivation with an open-interval clamp so both log
    * branches stay finite), each ln as the repo's floor-nano on an
    * INTEGER ppm argument — both engines floor identical doubles of
    * identical integers — and the mean as one truncating division of
    * the DECIMAL term sum. Scale: pure projection + one global
    * aggregate; nothing shuffles but partial sums.
    */
  def evalLogloss(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        least(lit(999999L), greatest(lit(1L),
          expr("(n_chars * 1000000) div 600"))).as("p_ppm"))
      .select(col("y"),
        (Det.lnNano(col("p_ppm")) - Det.lnNano(lit(1000000L))).as("lnp"),
        (Det.lnNano(lit(1000000L) - col("p_ppm")) - Det.lnNano(lit(1000000L))).as("lnq"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum((col("y") * col("lnp") + (lit(1L) - col("y")) * col("lnq"))
          .cast(DecimalType(38, 0))).as("ll"))
      .select(col("n_docs"), col("n_pos"),
        expr("cast((-ll) div (n_docs * 1000) as long)").as("logloss_micro"))

  /** #313 Matthews correlation coefficient over the same length-based
    * en-classifier sweep as [[evalConfusion]]: the single-number
    * confusion summary that stays honest under class imbalance, where
    * accuracy and even F1 (which ignores TN) mislead — the standard
    * model-selection readout when the positive class is rare.
    *
    * Exactness: MCC's sqrt never materializes — the signed SQUARE is
    * exact: mcc2_ppm = (num²·1e6) div denom with num = tp·tn − fp·fn
    * (int64-safe: counts ≤ corpus) and denom = (tp+fp)(tp+fn)(tn+fp)
    * (tn+fn) in DECIMAL(38,0) (≤ n⁴, inside 38 digits to 10^9 docs);
    * the sign rides separately so the truncating division always sees
    * a positive numerator. Scale: one 3-threshold explode + one
    * map-side-combined groupBy, identical to the confusion plan.
    */
  def evalMcc(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("thr", explode(typedLit(Seq(200L, 300L, 450L))))
      .groupBy("thr")
      .agg(
        sum(when(col("score") >= col("thr"), col("pos")).otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("thr"), lit(1L) - col("pos")).otherwise(0L)).as("fp"),
        sum(when(col("score") < col("thr"), col("pos")).otherwise(0L)).as("fn"),
        sum(when(col("score") < col("thr"), lit(1L) - col("pos")).otherwise(0L)).as("tn"))
      .withColumn("num", expr("tp * tn - fp * fn"))
      .withColumn("denom",
        expr("cast(tp + fp as decimal(38,0)) * (tp + fn) * (tn + fp) * (tn + fn)"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        signum(col("num")).cast("long").as("mcc_sign"),
        when(col("denom") > 0,
          expr("cast((cast(num as decimal(38,0)) * num * 1000000) div denom as long)"))
          .as("mcc2_ppm"))
      .orderBy("thr")

  /** Poisson(1) inverse-CDF cut points over the 24-bit uniform from an
    * md5 prefix — ONE source of truth: the Spark CASE and the DuckDB
    * twin both interpolate these exact longs, so the bootstrap weights
    * cannot desynchronize (the lshPlaneValues discipline). Mass above
    * w = 4 collapses into w = 5 (P ≈ 0.37%, documented truncation).
    */
  private val PoissonCut: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val pdf = Seq(1.0, 1.0, 0.5, 1.0 / 6, 1.0 / 24).map(_ * e1)
    pdf.scanLeft(0.0)(_ + _).tail.map(c => math.floor(c * 16777216.0).toLong)
  }

  private def poissonCase(h: String): String =
    s"CASE WHEN $h < ${PoissonCut(0)}L THEN 0L" +
      (1 to 4).map(k => s" WHEN $h < ${PoissonCut(k)}L THEN ${k}L")
        .mkString + " ELSE 5L END"

  /** #447 Deterministic Poisson-bootstrap CI for the AUC (#209): each
    * of 32 replicas reweights every document by a Poisson(1) draw from
    * the content-addressed md5 uniform (the large-scale "Poisson
    * bootstrap" — weights are independent per (replica, doc), no
    * resampling shuffle, rerunnable byte-for-byte), recomputes the
    * grouped-score-count AUC with weighted counts, and the CI reads
    * the 2nd/31st order statistics (≈ 5%/95%). The error bar that
    * turns the point AUC into a shippable claim. Per-replica AUC emits
    * as an exact ppm integer so the order statistics have no float
    * ties. Scale: the explode is B× the corpus but map-only until the
    * (replica, score) aggregate — the shuffle carries B×|score-domain|
    * states, never B× rows; the CI window is a ≤B-row bounded readout.
    */
  def evalBootstrapAuc(s: SparkSession, dir: String): DataFrame = {
    val B = 32
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val point = docs
      .groupBy("score")
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(
        Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .agg(sum(col("np").cast(DecimalType(38, 0)) * col("cum_nn")).as("c"),
        sum(col("np").cast(DecimalType(38, 0)) * col("nn")).as("t"),
        sum(col("np")).as("npos"), sum(col("nn")).as("nneg"))
      .select(expr("cast(((c * 2 + t) * 1000000) div " +
        "(cast(npos as decimal(38,0)) * nneg * 2) as long)")
        .as("auc_point_ppm"))
    val reps = docs
      .withColumn("r", explode(sequence(lit(1L), lit(B.toLong))))
      .withColumn("h", conv(substring(md5(concat(lit("bauc:"),
        col("r").cast("string"), lit(":"), col("doc_id").cast("string"))),
        1, 6), 16, 10).cast("long"))
      .withColumn("wgt", expr(poissonCase("h")))
    val aucs = reps.groupBy("r", "score")
      .agg(sum(col("wgt") * col("pos")).as("np"),
        sum(col("wgt") * (lit(1L) - col("pos"))).as("nn"))
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(
        Window.partitionBy("r").orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy("r")
      .agg(sum(col("np").cast(DecimalType(38, 0)) * col("cum_nn")).as("c"),
        sum(col("np").cast(DecimalType(38, 0)) * col("nn")).as("t"),
        sum(col("np")).as("npos"), sum(col("nn")).as("nneg"))
      .filter(col("npos") > 0 && col("nneg") > 0)
      .select(col("r"), expr("cast(((c * 2 + t) * 1000000) div " +
        "(cast(npos as decimal(38,0)) * nneg * 2) as long)").as("auc_ppm"))
    val wOrd = Window.orderBy("auc_ppm", "r")
    aucs.withColumn("posn", row_number().over(wOrd))
      .agg(count(lit(1)).as("n_replicas"),
        max(when(col("posn") === 2, col("auc_ppm"))).as("lo_ppm"),
        max(when(col("posn") === 31, col("auc_ppm"))).as("hi_ppm"))
      .crossJoin(broadcast(point))
      .select(col("n_replicas"), col("auc_point_ppm"),
        col("lo_ppm"), col("hi_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eval_bootstrap_auc" -> (evalBootstrapAuc _),
    "q_eval_logloss" -> (evalLogloss _),
    "q_eval_ks_score" -> (evalKsScore _),
    "q_eval_cost_curve" -> (evalCostCurve _),
    "q_stats_mcnemar" -> (statsMcnemar _),
    "q_stats_cochran_q" -> (statsCochranQ _),
    "q_ml_stump" -> (mlStump _),
    "q_eval_mcc" -> (evalMcc _),
    "q_eval_brier" -> (evalBrier _),
    "q_eval_feature_auc" -> (evalFeatureAuc _),
    "q_eval_fleiss" -> (evalFleiss _),
    "q_eval_lift" -> (evalLiftDeciles _),
    "q_eval_pr_curve" -> (evalPrCurve _),
    "q_eval_pr_auc" -> (evalPrAuc _),
    "q_eval_ece" -> (evalEce _),
    "q_eval_kappa" -> (evalKappa _),
    "q_eval_kappa_weighted" -> (evalKappaWeighted _),
    "q_eval_map_mrr" -> (evalMapMrr _),
    "q_eval_ndcg" -> (evalNdcg _),
    "q_eval_err" -> (evalErr _),
    "q_eval_auc" -> (evalAuc _),
    "q_eval_calibration" -> (evalCalibration _),
    "q_eval_confusion" -> (evalConfusion _),
    "q_mutual_info" -> (mutualInfo _),
    "q_mann_whitney" -> (mannWhitney _),
    "q_bootstrap_ci" -> (bootstrapCi _))

  private def bootstrapAucOracleSql: String = {
    val wCase = s"CASE WHEN h < ${PoissonCut(0)} THEN 0" +
      (1 to 4).map(k => s" WHEN h < ${PoissonCut(k)} THEN $k").mkString +
      " ELSE 5 END"
    s"""WITH docs AS (
       |  SELECT doc_id, n_chars AS score,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM documents),
       |pg AS (
       |  SELECT score, CAST(SUM(pos) AS BIGINT) AS np,
       |    CAST(SUM(1 - pos) AS BIGINT) AS nn
       |  FROM docs GROUP BY score),
       |pc AS (
       |  SELECT np, nn, COALESCE(SUM(nn) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
       |  FROM pg),
       |point AS (
       |  SELECT CAST(((SUM(CAST(np AS HUGEINT) * cum_nn) * 2
       |      + SUM(CAST(np AS HUGEINT) * nn)) * 1000000)
       |    // (CAST(SUM(np) AS HUGEINT) * SUM(nn) * 2) AS BIGINT)
       |    AS auc_point_ppm
       |  FROM pc),
       |reps AS (
       |  SELECT d.score, d.pos, r.r,
       |    ('0x' || substring(md5('bauc:' || CAST(r.r AS VARCHAR) || ':'
       |      || CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT AS h
       |  FROM docs d, (SELECT unnest(range(1, 33)) AS r) r),
       |wr AS (SELECT score, pos, r, $wCase AS wgt FROM reps),
       |g AS (
       |  SELECT r, score, CAST(SUM(wgt * pos) AS BIGINT) AS np,
       |    CAST(SUM(wgt * (1 - pos)) AS BIGINT) AS nn
       |  FROM wr GROUP BY r, score),
       |cw AS (
       |  SELECT r, np, nn, COALESCE(SUM(nn) OVER (PARTITION BY r
       |    ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS cum_nn
       |  FROM g),
       |aucs AS (
       |  SELECT r,
       |    CAST(((SUM(CAST(np AS HUGEINT) * cum_nn) * 2
       |        + SUM(CAST(np AS HUGEINT) * nn)) * 1000000)
       |      // (CAST(SUM(np) AS HUGEINT) * SUM(nn) * 2) AS BIGINT)
       |      AS auc_ppm
       |  FROM cw GROUP BY r
       |  HAVING SUM(np) > 0 AND SUM(nn) > 0),
       |ord AS (
       |  SELECT auc_ppm, row_number() OVER (ORDER BY auc_ppm, r) AS posn
       |  FROM aucs),
       |ci AS (
       |  SELECT COUNT(*) AS n_replicas,
       |    MAX(CASE WHEN posn = 2 THEN auc_ppm END) AS lo_ppm,
       |    MAX(CASE WHEN posn = 31 THEN auc_ppm END) AS hi_ppm
       |  FROM ord)
       |SELECT ci.n_replicas, point.auc_point_ppm, ci.lo_ppm, ci.hi_ppm
       |FROM ci, point""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_eval_bootstrap_auc" -> bootstrapAucOracleSql,
    "q_ml_stump" ->
      """WITH d AS (
        |  SELECT n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bs AS (
        |  SELECT score, CAST(SUM(pos) AS BIGINT) AS p,
        |    CAST(SUM(1 - pos) AS BIGINT) AS q
        |  FROM d GROUP BY score),
        |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS np,
        |  CAST(SUM(q) AS BIGINT) AS nq FROM bs),
        |c AS (
        |  SELECT score, p, q,
        |    SUM(p) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |    SUM(q) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
        |  FROM bs),
        |sp AS (
        |  SELECT score, cp - p AS lp, cq - q AS ln,
        |    np - (cp - p) AS rp, nq - (cq - q) AS rn, np, nq
        |  FROM c CROSS JOIN tot
        |  WHERE cp - p + cq - q > 0
        |    AND np - (cp - p) + nq - (cq - q) > 0),
        |g AS (
        |  SELECT score, lp, ln, rp, rn, np, nq,
        |    CAST(((CAST(lp AS HUGEINT) * lp + CAST(ln AS HUGEINT) * ln)
        |      * 1000000) // (lp + ln) AS BIGINT)
        |      + CAST(((CAST(rp AS HUGEINT) * rp + CAST(rn AS HUGEINT) * rn)
        |      * 1000000) // (rp + rn) AS BIGINT) AS g
        |  FROM sp),
        |k AS (
        |  SELECT score AS best_thr, lp, ln, rp, rn,
        |    1000000 - CAST(((CAST(np AS HUGEINT) * np
        |      + CAST(nq AS HUGEINT) * nq) * 1000000)
        |      // (CAST(np + nq AS HUGEINT) * (np + nq)) AS BIGINT)
        |      AS parent_gini_ppm,
        |    1000000 - g // (np + nq) AS child_gini_ppm,
        |    row_number() OVER (ORDER BY g DESC, score ASC) AS rk
        |  FROM g)
        |SELECT best_thr, CAST(lp AS BIGINT) AS lp, CAST(ln AS BIGINT) AS ln,
        |  CAST(rp AS BIGINT) AS rp, CAST(rn AS BIGINT) AS rn,
        |  CAST(parent_gini_ppm AS BIGINT) AS parent_gini_ppm,
        |  CAST(child_gini_ppm AS BIGINT) AS child_gini_ppm,
        |  CAST(parent_gini_ppm - child_gini_ppm AS BIGINT) AS gain_ppm
        |FROM k WHERE rk = 1""".stripMargin,
    "q_stats_mcnemar" ->
      """WITH d AS (
        |  SELECT
        |    (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) =
        |      (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a_ok,
        |    (CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END) =
        |      (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS b_ok
        |  FROM documents),
        |m AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM d),
        |r AS (
        |  SELECT n_docs, b, c,
        |    CASE WHEN abs(b - c) > 1 THEN
        |      ((abs(b - c) - 1) * (abs(b - c) - 1) * 1000) // (b + c)
        |    ELSE 0 END AS chi2_milli
        |  FROM m WHERE b + c > 0)
        |SELECT n_docs, b, c, CAST(chi2_milli AS BIGINT) AS chi2_milli,
        |  chi2_milli > 3841 AS significant_05
        |FROM r""".stripMargin,
    "q_stats_cochran_q" ->
      """WITH d AS (
        |  SELECT
        |    CAST((CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) =
        |      (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST((CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) =
        |      (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS x2,
        |    CAST((CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END) =
        |      (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS x3
        |  FROM documents),
        |m AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(x1) AS BIGINT) AS c1, CAST(SUM(x2) AS BIGINT) AS c2,
        |    CAST(SUM(x3) AS BIGINT) AS c3,
        |    CAST(SUM(x1 + x2 + x3) AS BIGINT) AS sr,
        |    CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sr2
        |  FROM d),
        |r AS (
        |  SELECT n_docs, c1, c2, c3,
        |    CAST((2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
        |      - (c1 + c2 + c3) * (c1 + c2 + c3)) * 1000)
        |      // (3 * sr - sr2) AS BIGINT) AS q_milli
        |  FROM m WHERE 3 * sr - sr2 > 0)
        |SELECT n_docs, c1, c2, c3, q_milli,
        |  q_milli > 5991 AS significant_05
        |FROM r""".stripMargin,
    "q_eval_cost_curve" ->
      """WITH d AS (
        |  SELECT n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bs AS (
        |  SELECT score, CAST(SUM(pos) AS BIGINT) AS p,
        |    CAST(SUM(1 - pos) AS BIGINT) AS q
        |  FROM d GROUP BY score),
        |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS np,
        |  CAST(SUM(q) AS BIGINT) AS nq FROM bs),
        |c AS (
        |  SELECT score, p, q,
        |    SUM(p) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |    SUM(q) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
        |  FROM bs),
        |e AS (
        |  SELECT score, nq - cq + q AS fp, cp - p AS fn, cr AS cost_ratio
        |  FROM c CROSS JOIN tot
        |  CROSS JOIN (SELECT CAST(unnest([1, 2, 5]) AS BIGINT) AS cr) r),
        |k AS (
        |  SELECT cost_ratio, score, fp, fn,
        |    cost_ratio * fp + fn AS cost,
        |    row_number() OVER (PARTITION BY cost_ratio
        |      ORDER BY cost_ratio * fp + fn ASC, score ASC) AS rn
        |  FROM e)
        |SELECT cost_ratio, score AS best_thr, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn, CAST(cost AS BIGINT) AS cost
        |FROM k WHERE rn = 1 ORDER BY cost_ratio""".stripMargin,
    "q_eval_ks_score" ->
      """WITH d AS (
        |  SELECT n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bs AS (
        |  SELECT score, CAST(SUM(pos) AS BIGINT) AS p,
        |    CAST(SUM(1 - pos) AS BIGINT) AS q
        |  FROM d GROUP BY score),
        |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS np,
        |  CAST(SUM(q) AS BIGINT) AS nq FROM bs),
        |c AS (
        |  SELECT score,
        |    SUM(p) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |    SUM(q) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
        |  FROM bs),
        |dev AS (
        |  SELECT score, np, nq, abs(cp * nq - cq * np) AS dev
        |  FROM c CROSS JOIN tot)
        |SELECT np AS n_pos, nq AS n_neg, score AS ks_thr,
        |  CAST((dev * 1000000) // (np * nq) AS BIGINT) AS ks_ppm
        |FROM dev ORDER BY dev DESC, score ASC LIMIT 1""".stripMargin,
    "q_eval_logloss" ->
      """WITH d AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    least(999999, greatest(1, (n_chars * 1000000) // 600)) AS p_ppm
        |  FROM documents),
        |t AS (
        |  SELECT y,
        |    CAST(floor(ln(CAST(p_ppm AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(floor(ln(CAST(1000000 AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS lnp,
        |    CAST(floor(ln(CAST(1000000 - p_ppm AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(floor(ln(CAST(1000000 AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS lnq
        |  FROM d),
        |g AS (
        |  SELECT COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(CAST(y * lnp + (1 - y) * lnq AS HUGEINT)) AS HUGEINT)
        |      AS ll
        |  FROM t)
        |SELECT n_docs, n_pos,
        |  CAST((-ll) // (n_docs * 1000) AS BIGINT) AS logloss_micro
        |FROM g""".stripMargin,
    "q_eval_mcc" ->
      """WITH d AS (
        |  SELECT n_chars AS score, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |t AS (SELECT CAST(unnest([200, 300, 450]) AS BIGINT) AS thr),
        |m AS (
        |  SELECT thr,
        |    CAST(SUM(CASE WHEN score >= thr THEN pos ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN score >= thr THEN 1 - pos ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN score < thr THEN pos ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN score < thr THEN 1 - pos ELSE 0 END) AS BIGINT) AS tn
        |  FROM d CROSS JOIN t GROUP BY thr),
        |r AS (
        |  SELECT thr, tp, fp, fn, tn,
        |    tp * tn - fp * fn AS num,
        |    CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn) AS denom
        |  FROM m)
        |SELECT thr, tp, fp, fn, tn,
        |  CAST(sign(num) AS BIGINT) AS mcc_sign,
        |  CASE WHEN denom > 0 THEN
        |    CAST((CAST(num AS HUGEINT) * num * 1000000) // denom AS BIGINT)
        |  END AS mcc2_ppm
        |FROM r ORDER BY thr""".stripMargin,
    "q_eval_brier" ->
      """WITH d AS (
        |  SELECT least(1000000, (n_chars * 1000000) // 600) AS score_ppm,
        |    CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y_ppm
        |  FROM documents),
        |b AS (SELECT least(9, score_ppm // 100000) AS bin, score_ppm, y_ppm FROM d),
        |g AS (
        |  SELECT bin, COUNT(*) AS n,
        |    CAST(SUM(y_ppm // 1000000) AS BIGINT) AS n_pos,
        |    CAST(SUM(CAST(score_ppm - y_ppm AS HUGEINT)
        |      * (score_ppm - y_ppm)) AS HUGEINT) AS sq,
        |    CAST(SUM(score_ppm) // COUNT(*) AS HUGEINT) AS conf,
        |    CAST((SUM(y_ppm // 1000000) * 1000000) // COUNT(*) AS HUGEINT) AS acc
        |  FROM b GROUP BY bin),
        |t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_pos) AS HUGEINT) AS s_pos,
        |    SUM(sq) AS sq_all,
        |    SUM(CAST(n AS HUGEINT) * (conf - acc) * (conf - acc)) AS rel_num,
        |    SUM(CAST(n AS HUGEINT) * acc * acc) AS acc2,
        |    SUM(CAST(n AS HUGEINT) * acc) AS acc1
        |  FROM g),
        |y AS (SELECT *, (s_pos * 1000000) // n_docs AS ybar_ppm FROM t)
        |SELECT n_docs, CAST(ybar_ppm AS BIGINT) AS base_rate_ppm,
        |  CAST(sq_all // n_docs AS BIGINT) AS brier_e12,
        |  CAST(rel_num // n_docs AS BIGINT) AS rel_e12,
        |  CAST((acc2 - 2 * ybar_ppm * acc1 + CAST(n_docs AS HUGEINT)
        |    * ybar_ppm * ybar_ppm) // n_docs AS BIGINT) AS res_e12,
        |  CAST(ybar_ppm * (1000000 - ybar_ppm) AS BIGINT) AS unc_e12
        |FROM y""".stripMargin,
    "q_eval_feature_auc" ->
      """WITH d AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
        |  FROM documents),
        |f AS (
        |  SELECT 'n_chars' AS feature, n_chars AS score, pos FROM d
        |  UNION ALL SELECT 'n_tokens', n_tokens, pos FROM d
        |  UNION ALL SELECT 'mean_wordlen_x100', (n_chars * 100) // n_tokens, pos FROM d),
        |g AS (
        |  SELECT feature, score, CAST(SUM(pos) AS BIGINT) AS np,
        |    CAST(SUM(1 - pos) AS BIGINT) AS nn
        |  FROM f GROUP BY feature, score),
        |c AS (
        |  SELECT feature, np, nn,
        |    CAST(COALESCE(SUM(nn) OVER (PARTITION BY feature ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_nn
        |  FROM g)
        |SELECT feature, CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  round(CAST(SUM(CAST(np AS HUGEINT) * cum_nn) * 2
        |      + SUM(CAST(np AS HUGEINT) * nn) AS DOUBLE) /
        |    CAST(CAST(SUM(np) AS HUGEINT) * SUM(nn) * 2 AS DOUBLE), 6) AS auc
        |FROM c GROUP BY feature ORDER BY feature""".stripMargin,
    "q_eval_fleiss" ->
      """WITH v AS (
        |  SELECT CAST(n_chars >= 300 AS BIGINT)
        |    + CAST(len(string_split(text, ' ')) >= 45 AS BIGINT)
        |    + CAST(n_chars >= len(string_split(text, ' ')) * 5 AS BIGINT) AS v
        |  FROM documents),
        |a AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s1,
        |    CAST(SUM(v * (v - 1) + (3 - v) * (2 - v)) AS BIGINT) AS s2
        |  FROM v),
        |p AS (
        |  SELECT n, (s1 * 1000000) // (3 * n) AS p_pos_ppm,
        |    (s2 * 1000000) // (6 * n) AS p_bar_ppm
        |  FROM a),
        |e AS (
        |  SELECT *, CAST((CAST(p_pos_ppm AS HUGEINT) * p_pos_ppm
        |    + CAST(1000000 - p_pos_ppm AS HUGEINT) * (1000000 - p_pos_ppm))
        |    // 1000000 AS BIGINT) AS p_e_ppm
        |  FROM p)
        |SELECT n, p_pos_ppm, p_bar_ppm, p_e_ppm,
        |  CAST((CAST(p_bar_ppm - p_e_ppm AS HUGEINT) * 1000000)
        |    // (1000000 - p_e_ppm) AS BIGINT) AS kappa_ppm
        |FROM e""".stripMargin,
    "q_eval_lift" ->
      """WITH g AS (
        |  SELECT n_chars AS score, COUNT(*) AS cnt,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM documents GROUP BY n_chars),
        |c AS (
        |  SELECT score, cnt, np,
        |    CAST(SUM(cnt) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST((SELECT SUM(cnt) FROM g) AS BIGINT) AS n_total,
        |    CAST((SELECT SUM(np) FROM g) AS BIGINT) AS pos_total
        |  FROM g),
        |d AS (
        |  SELECT ((cum - 1) * 10) // n_total + 1 AS decile, cnt, np,
        |    n_total, pos_total
        |  FROM c),
        |a AS (
        |  SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_docs,
        |    CAST(SUM(np) AS BIGINT) AS n_pos,
        |    MAX(n_total) AS n_total, MAX(pos_total) AS pos_total
        |  FROM d GROUP BY decile),
        |f AS (
        |  SELECT *, CAST(SUM(n_pos) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
        |  FROM a)
        |SELECT decile, n_docs, n_pos,
        |  CAST((n_pos * 1000000) // n_docs AS BIGINT) AS rate_ppm,
        |  CAST((CAST(n_pos AS HUGEINT) * n_total * 1000000)
        |    // (CAST(n_docs AS HUGEINT) * pos_total) AS BIGINT) AS lift_ppm,
        |  CAST((cum_pos * 1000000) // pos_total AS BIGINT) AS capture_ppm
        |FROM f ORDER BY decile""".stripMargin,
    "q_eval_pr_curve" ->
      """WITH g AS (
        |  SELECT n_chars AS score,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM documents GROUP BY n_chars),
        |c AS (
        |  SELECT score,
        |    CAST(SUM(np) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(SUM(nn) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
        |    CAST((SELECT SUM(np) FROM g) AS BIGINT) AS pos_total
        |  FROM g)
        |SELECT score, tp, fp,
        |  CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
        |  CAST((tp * 1000000) // pos_total AS BIGINT) AS recall_ppm
        |FROM c ORDER BY score DESC""".stripMargin,
    "q_eval_pr_auc" ->
      """WITH g AS (
        |  SELECT n_chars AS score,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM documents GROUP BY n_chars),
        |c AS (
        |  SELECT score,
        |    CAST(SUM(np) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(SUM(nn) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
        |    CAST((SELECT SUM(np) FROM g) AS BIGINT) AS pos_total
        |  FROM g),
        |p AS (
        |  SELECT pos_total,
        |    CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
        |    CAST((tp * 1000000) // pos_total AS BIGINT) AS recall_ppm,
        |    CAST(COALESCE(lag((tp * 1000000) // pos_total)
        |      OVER (ORDER BY score DESC), 0) AS BIGINT) AS r_prev
        |  FROM c)
        |SELECT COUNT(*) AS n_thresholds,
        |  CAST(MAX(pos_total) AS BIGINT) AS n_pos,
        |  CAST(SUM(CAST(recall_ppm - r_prev AS HUGEINT) * precision_ppm)
        |    // 1000000 AS BIGINT) AS ap_ppm
        |FROM p""".stripMargin,
    "q_eval_ece" ->
      """WITH d AS (
        |  SELECT least(1000000, (n_chars * 1000000) // 600) AS score_ppm,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |b AS (SELECT least(9, score_ppm // 100000) AS bin, score_ppm, pos FROM d),
        |g AS (
        |  SELECT bin, COUNT(*) AS n,
        |    CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS conf,
        |    CAST((SUM(pos) * 1000000) // COUNT(*) AS BIGINT) AS acc
        |  FROM b GROUP BY bin)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(n AS HUGEINT) * abs(conf - acc)) // SUM(n) AS BIGINT) AS ece_ppm,
        |  CAST(MAX(abs(conf - acc)) AS BIGINT) AS mce_ppm
        |FROM g""".stripMargin,
    "q_eval_kappa_weighted" ->
      """WITH d AS (
        |  SELECT
        |    CASE WHEN n_chars < 300 THEN 0 WHEN n_chars < 600 THEN 1
        |      ELSE 2 END AS p,
        |    CASE WHEN len(string_split(text, ' ')) < 50 THEN 0
        |      WHEN len(string_split(text, ' ')) < 100 THEN 1
        |      ELSE 2 END AS t
        |  FROM documents),
        |a AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(abs(p - t)) AS HUGEINT) AS dobs,
        |    CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS r0,
        |    CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS r1,
        |    CAST(SUM(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS r2,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c0,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c1,
        |    CAST(SUM(CASE WHEN t = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS c2
        |  FROM d),
        |e AS (
        |  SELECT n, dobs,
        |    r0 * c1 + r1 * c0 + r1 * c2 + r2 * c1
        |      + 2 * (r0 * c2 + r2 * c0) AS dexp
        |  FROM a)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(dobs AS BIGINT) AS d_obs,
        |  CAST(dexp AS BIGINT) AS d_exp,
        |  CASE WHEN dexp > 0 THEN
        |    CAST(((dexp - n * dobs) * 1000000) // dexp AS BIGINT)
        |  ELSE NULL END AS kappa_w_ppm
        |FROM e""".stripMargin,
    "q_eval_kappa" ->
      """WITH d AS (
        |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS pred,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth
        |  FROM documents),
        |c AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(pred * truth) AS HUGEINT) AS n11,
        |    CAST(SUM(pred * (1 - truth)) AS HUGEINT) AS n10,
        |    CAST(SUM((1 - pred) * truth) AS HUGEINT) AS n01,
        |    CAST(SUM((1 - pred) * (1 - truth)) AS HUGEINT) AS n00
        |  FROM d),
        |e AS (
        |  SELECT *, (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS chance
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
        |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
        |  CAST(((n11 + n00) * 1000000) // n AS BIGINT) AS po_ppm,
        |  CAST((chance * 1000000) // (n * n) AS BIGINT) AS pe_ppm,
        |  CAST(((n * (n11 + n00) - chance) * 1000000) // (n * n - chance) AS BIGINT)
        |    AS kappa_ppm
        |FROM e""".stripMargin,
    "q_eval_map_mrr" ->
      """WITH tf AS (
        |  SELECT token, doc_id, COUNT(*) AS tf,
        |    CASE WHEN doc_id % 4 >= 2 THEN 1 ELSE 0 END AS rel
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE token IN ('join', 'vector', 'scan')
        |  GROUP BY token, doc_id),
        |ranked AS (
        |  SELECT token, doc_id, rel,
        |    row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id ASC) AS rk,
        |    SUM(rel) OVER (PARTITION BY token ORDER BY tf DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS relcum
        |  FROM tf),
        |agg AS (
        |  SELECT token, COUNT(*) AS n_candidates,
        |    CAST(SUM(rel) AS BIGINT) AS n_rel,
        |    SUM(CASE WHEN rk <= 10 AND rel = 1
        |      THEN (1000000 * relcum) // rk ELSE 0 END) AS ap_num,
        |    MIN(CASE WHEN rel = 1 THEN rk END) AS first_rel
        |  FROM ranked GROUP BY token)
        |SELECT token, n_candidates, n_rel,
        |  CASE WHEN n_rel > 0 THEN CAST(ap_num // least(n_rel, 10) AS BIGINT)
        |       ELSE 0 END AS ap_ppm,
        |  CASE WHEN first_rel IS NOT NULL THEN CAST(1000000 // first_rel AS BIGINT)
        |       ELSE 0 END AS rr_ppm
        |FROM agg ORDER BY token""".stripMargin,
    "q_eval_err" ->
      s"""WITH tf AS (
         |  SELECT token, doc_id, COUNT(*) AS tf,
         |    (1 << CAST(doc_id % 4 AS INTEGER)) - 1 AS gain
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |        FROM documents)
         |  WHERE token IN ('join', 'vector', 'scan')
         |  GROUP BY token, doc_id),
         |ranked AS (
         |  SELECT token, gain,
         |    row_number() OVER (PARTITION BY token
         |      ORDER BY tf DESC, doc_id ASC) AS rk
         |  FROM tf),
         |piv AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_ranked,
         |    ${(1 to 10).map(i =>
              s"CAST(COALESCE(MAX(CASE WHEN rk = $i THEN gain END), 0) " +
              s"AS BIGINT) AS g$i").mkString(",\n         |    ")}
         |  FROM ranked WHERE rk <= 10 GROUP BY token),
         |n AS (
         |  SELECT token, n_ranked,
         |    ${ErrExprs.numSum} AS err_num
         |  FROM piv)
         |SELECT token, n_ranked,
         |  CAST((CAST(err_num AS HUGEINT) * 1000000) // ${ErrExprs.D}
         |    AS BIGINT) AS err_ppm
         |FROM n ORDER BY token""".stripMargin,
    "q_eval_ndcg" ->
      s"""WITH disc AS (
         |  SELECT * FROM (VALUES ${NdcgDisc.zipWithIndex
            .map { case (d, i) => s"(${i + 1}, ${d})" }.mkString(", ")}) AS t(i, d)),
         |tf AS (
         |  SELECT token, doc_id, COUNT(*) AS tf,
         |    (1 << CAST(doc_id % 4 AS INTEGER)) - 1 AS gain
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |        FROM documents)
         |  WHERE token IN ('join', 'vector', 'scan')
         |  GROUP BY token, doc_id),
         |ranked AS (
         |  SELECT token, doc_id, tf, gain,
         |    row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id ASC) AS rk,
         |    row_number() OVER (PARTITION BY token ORDER BY gain DESC, doc_id ASC) AS irk
         |  FROM tf),
         |dcg AS (
         |  SELECT token, CAST(SUM(CAST(gain AS BIGINT) * d) AS BIGINT) AS dcg_nano
         |  FROM ranked JOIN disc ON rk = i WHERE rk <= 10 GROUP BY token),
         |idcg AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_ranked,
         |    CAST(SUM(CAST(gain AS BIGINT) * d) AS BIGINT) AS idcg_nano
         |  FROM ranked JOIN disc ON irk = i WHERE irk <= 10 GROUP BY token)
         |SELECT idcg.token AS token, n_ranked, dcg_nano, idcg_nano,
         |  round(CAST(dcg_nano AS DOUBLE) / idcg_nano, 6) AS ndcg
         |FROM idcg JOIN dcg ON idcg.token = dcg.token
         |ORDER BY idcg.token""".stripMargin,
    "q_eval_auc" ->
      """WITH g AS (
        |  SELECT n_chars AS score,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
        |  FROM documents GROUP BY score),
        |c AS (
        |  SELECT np, nn, COALESCE(SUM(nn) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
        |  FROM g)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(CAST(np AS HUGEINT) * cum_nn) AS BIGINT) AS n_concordant,
        |  CAST(SUM(CAST(np AS HUGEINT) * nn) AS BIGINT) AS n_tied,
        |  round(CAST(2 * SUM(CAST(np AS HUGEINT) * cum_nn) + SUM(CAST(np AS HUGEINT) * nn) AS DOUBLE)
        |    / CAST(2 * SUM(np) * SUM(nn) AS DOUBLE), 6) AS auc
        |FROM c""".stripMargin,
    "q_eval_calibration" ->
      """WITH d AS (
        |  SELECT least(1000000, (n_chars * 1000000) // 600) AS score_ppm,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |b AS (SELECT least(9, score_ppm // 100000) AS bin, score_ppm, pos FROM d)
        |SELECT bin, COUNT(*) AS n,
        |  CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
        |  CAST(SUM(pos) AS BIGINT) AS n_pos,
        |  CAST((SUM(pos) * 1000000) // COUNT(*) AS BIGINT) AS pos_rate_ppm
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q_eval_confusion" ->
      """WITH d AS (
        |  SELECT n_chars AS score, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |t AS (SELECT CAST(unnest([200, 300, 450]) AS BIGINT) AS thr),
        |m AS (
        |  SELECT thr,
        |    SUM(CASE WHEN score >= thr THEN pos ELSE 0 END) AS tp,
        |    SUM(CASE WHEN score >= thr THEN 1 - pos ELSE 0 END) AS fp,
        |    SUM(CASE WHEN score < thr THEN pos ELSE 0 END) AS fn,
        |    SUM(CASE WHEN score < thr THEN 1 - pos ELSE 0 END) AS tn
        |  FROM d CROSS JOIN t GROUP BY thr),
        |r AS (
        |  SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |    CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |    CASE WHEN tp + fp > 0 THEN CAST((tp * 1000000) // (tp + fp) AS BIGINT) END AS precision_ppm,
        |    CASE WHEN tp + fn > 0 THEN CAST((tp * 1000000) // (tp + fn) AS BIGINT) END AS recall_ppm
        |  FROM m)
        |SELECT thr, tp, fp, fn, tn, precision_ppm, recall_ppm,
        |  CASE WHEN COALESCE(precision_ppm, 0) + COALESCE(recall_ppm, 0) > 0
        |    THEN CAST((2 * precision_ppm * recall_ppm) // (precision_ppm + recall_ppm) AS BIGINT)
        |  END AS f1_ppm
        |FROM r ORDER BY thr""".stripMargin,
    "q_mutual_info" ->
      """WITH j AS (
        |  SELECT lang, source, COUNT(*) AS n_ls FROM documents GROUP BY lang, source),
        |ml AS (SELECT lang, SUM(n_ls) AS n_l FROM j GROUP BY lang),
        |ms AS (SELECT source, SUM(n_ls) AS n_s FROM j GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_ls) AS BIGINT) AS n FROM j),
        |mi AS (
        |  SELECT SUM(CAST(n_ls AS HUGEINT) *
        |    (CAST(floor(ln(CAST(n_ls AS DOUBLE)) * 1e9) AS BIGINT)
        |     + CAST(floor(ln(CAST(n AS DOUBLE)) * 1e9) AS BIGINT)
        |     - CAST(floor(ln(CAST(n_l AS DOUBLE)) * 1e9) AS BIGINT)
        |     - CAST(floor(ln(CAST(n_s AS DOUBLE)) * 1e9) AS BIGINT))) AS mi_num
        |  FROM j JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot),
        |hl AS (SELECT SUM(CAST(n_l AS HUGEINT) *
        |  CAST(floor(ln(CAST(n_l AS DOUBLE)) * 1e9) AS BIGINT)) AS sl FROM ml),
        |hs AS (SELECT SUM(CAST(n_s AS HUGEINT) *
        |  CAST(floor(ln(CAST(n_s AS DOUBLE)) * 1e9) AS BIGINT)) AS ss FROM ms),
        |f AS (
        |  SELECT n AS n_docs,
        |    CAST((CAST(n AS HUGEINT) * CAST(floor(ln(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) - sl) // n AS BIGINT) AS h_lang_nano,
        |    CAST((CAST(n AS HUGEINT) * CAST(floor(ln(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) - ss) // n AS BIGINT) AS h_source_nano,
        |    CAST(mi_num // n AS BIGINT) AS mi_nano
        |  FROM tot CROSS JOIN mi CROSS JOIN hl CROSS JOIN hs)
        |SELECT n_docs, h_lang_nano, h_source_nano, mi_nano,
        |  CASE WHEN least(h_lang_nano, h_source_nano) > 0
        |    THEN CAST((mi_nano * 1000000) // least(h_lang_nano, h_source_nano) AS BIGINT)
        |  END AS nmi_ppm
        |FROM f""".stripMargin,
    "q_mann_whitney" ->
      """WITH g AS (
        |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS a_n,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b_n
        |  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY cents),
        |c AS (
        |  SELECT a_n, b_n,
        |    2 * COALESCE(SUM(a_n + b_n) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + a_n + b_n + 1 AS midrank2
        |  FROM g),
        |agg AS (
        |  SELECT CAST((SELECT SUM(a_n) FROM g) AS BIGINT) AS n_a,
        |    CAST((SELECT SUM(b_n) FROM g) AS BIGINT) AS n_b,
        |    SUM(CAST(a_n AS HUGEINT) * midrank2) AS r2a
        |  FROM c)
        |SELECT n_a, n_b, CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2,
        |  CAST(((r2a - n_a * (n_a + 1)) * 1000000) // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS effect_ppm
        |FROM agg""".stripMargin,
    "q_bootstrap_ci" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |k AS (
        |  SELECT b, cents,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1 WHEN u < 919698 THEN 2
        |         WHEN u < 981011 THEN 3 WHEN u < 996340 THEN 4 ELSE 5 END AS k
        |  FROM (
        |    SELECT b.b AS b, o.cents AS cents,
        |      ('0x' || substring(md5('boot:' || CAST(b.b AS VARCHAR) || ':'
        |        || CAST(o.o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS u
        |    FROM o CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b)),
        |m AS (
        |  SELECT b, CAST((1000000 * SUM(CAST(k AS HUGEINT) * cents)) // SUM(k) AS BIGINT) AS mean_micro_b
        |  FROM k GROUP BY b),
        |ms AS (SELECT list(mean_micro_b ORDER BY mean_micro_b) AS l FROM m),
        |p AS (SELECT COUNT(*) AS n_orders,
        |  CAST((1000000 * SUM(CAST(cents AS HUGEINT))) // COUNT(*) AS BIGINT) AS mean_micro
        |  FROM o)
        |SELECT p.n_orders, p.mean_micro, ms.l[2] AS ci_lo_micro, ms.l[63] AS ci_hi_micro
        |FROM p CROSS JOIN ms""".stripMargin)
}
