package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Det, Tables}

/** Round-13 additions, SURVEY §2 #406–#409: corpus-curation operators —
  * routing code-like documents, measuring how fast new data stops being
  * new (the saturation curve behind every "do we need more data"
  * decision), deduplicating an incoming batch against the standing
  * corpus (the operational incremental path #43's full-corpus pass
  * doesn't model), and the trimmed mean (drop-the-tails sibling of #106
  * winsorize, which clamps them).
  *
  * Exactness: symbol/gram counts are exact integers from identical
  * tokenization and regex classes on both engines; ratios are one
  * truncating ppm division; the trimmed mean reuses the #106
  * percentile↔quantile_cont 4-dp parity and the [[graft.Det]] decimal
  * mean.
  */
object CurationOps {

  private val dec = DecimalType(38, 0)

  /** #406 Code-likeness router per (lang, source): documents whose
    * code-symbol density ({};=<>() as a fraction of characters)
    * crosses 2% route to the code pipeline — the cheap structural
    * screen an LLM-data mixer runs before language-specific
    * processing. Counts derive from length(text) −
    * length(regexp_replace(text, class, '')) with the SAME character
    * class on both engines; per-group means are integer ppm of summed
    * counts (never averaged averages). Scale: one stateless projection
    * + one map-side-combined aggregate.
    */
  def textCodeDetect(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("long")
    val nSym = (len - length(regexp_replace(col("text"), "[{};=<>()]", ""))
      .cast("long")).as("n_sym")
    val nDig = (len - length(regexp_replace(col("text"), "[0-9]", ""))
      .cast("long")).as("n_dig")
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("lang"), col("source"), len.as("len"), nSym, nDig)
      .withColumn("sym_ppm", expr("(n_sym * 1000000) div len"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sym_ppm") > 20000L, 1L).otherwise(0L)).as("n_codelike"),
        sum(col("n_sym")).as("sym"), sum(col("n_dig")).as("dig"),
        sum(col("len")).as("chars"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_codelike"),
        expr("(sym * 1000000) div chars").as("sym_ppm"),
        expr("(dig * 1000000) div chars").as("dig_ppm"))
      .orderBy("lang", "source")
  }

  /** #407 Corpus saturation curve: per source, walk the documents in
    * doc_id order, call a bigram "novel" when this document is its
    * first occurrence within the source, and report gram/novel mass
    * per position decile — the marginal-novelty readout that says
    * whether the next 10% of data still buys new text (the
    * scaling-curve question) where #241 dup-ngrams only gives the
    * corpus-total duplication. Novelty attribution via min(doc_id)
    * per (source, gram) joined back to per-doc gram counts — exact
    * integers end to end. Scale: the gram explode is the standard
    * text-op shape (#134 TF-IDF); both aggregates key on (source,
    * gram) — embarrassingly parallel, no broadcast of anything
    * corpus-sized; the position decile uses a row_number over the
    * SOURCE partitioning (bounded per partition, never global).
    */
  def textNoveltyCurve(s: SparkSession, dir: String): DataFrame = {
    // r22: grams via the codegen'd graft_ngrams byte-scan (see
    // NgramsExpr) instead of the CodegenFallback zip_with chain
    val grams = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        explode(expr("graft_ngrams(text, 2)")).as("g"))
    val perDocGram = grams.groupBy("source", "doc_id", "g")
      .agg(count(lit(1)).as("cnt"))
    // r21: the first-seen doc rides a (source, g)-keyed window min over
    // the SAME relation — the former separate aggregate + join back
    // re-evaluated the gram explosion + count for each arm
    val perDoc = perDocGram
      .withColumn("first_doc", min(col("doc_id")).over(
        Window.partitionBy("source", "g")))
      .groupBy("source", "doc_id")
      .agg(sum(col("cnt")).as("grams"),
        sum(when(col("first_doc") === col("doc_id"), col("cnt"))
          .otherwise(0L)).as("novel"))
    val wSrc = Window.partitionBy("source").orderBy("doc_id")
    perDoc
      .withColumn("rn", row_number().over(wSrc).cast("long"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("decile", expr("((rn - 1) * 10) div nd"))
      .groupBy("source", "decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("grams")).as("grams"),
        sum(col("novel")).as("novel"))
      .withColumn("novelty_ppm", expr("(novel * 1000000) div grams"))
      .orderBy("source", "decile")
  }

  /** #408 Incremental dedup of an arriving batch against the standing
    * corpus: the newest tenth of the id space (cut = 9·max_id div 10)
    * is "the batch"; each batch document is a duplicate-of-corpus if
    * its exact key (the #43 first-5-token key, reused verbatim)
    * already exists below the cut, else a within-batch duplicate if an
    * earlier batch doc holds the key — the operational path a daily
    * ingest runs, which #43's full-corpus pass doesn't model (at
    * 100 TB the standing corpus is a bucketed key table; the batch
    * probes it, never the reverse). One key aggregate carrying BOTH
    * sides' min-ids as conditional mins (no self-join), one summary
    * row.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .withColumn("key", array_join(slice(split(col("text"), " "), 1, 5), " "))
    val cut = keyed.agg(((max(col("doc_id")) * 9L).cast("long"))
      .as("m")).select(expr("m div 10").as("cut"))
    val marked = keyed.crossJoin(broadcast(cut))
      .withColumn("is_new", col("doc_id") >= col("cut"))
    val grp = marked.groupBy("key")
      .agg(min(when(!col("is_new"), col("doc_id"))).as("old_min"),
        min(when(col("is_new"), col("doc_id"))).as("new_min"))
    marked.filter(col("is_new"))
      .join(grp, Seq("key"))
      .select(col("cut"),
        when(col("old_min").isNotNull, 1L).otherwise(0L).as("dup_old"),
        when(col("old_min").isNull && col("new_min") < col("doc_id"), 1L)
          .otherwise(0L).as("dup_new"))
      .groupBy("cut")
      .agg(count(lit(1)).as("n_batch"), sum(col("dup_old")).as("n_dup_vs_corpus"),
        sum(col("dup_new")).as("n_dup_within_batch"))
      .select(col("cut").as("cut_doc_id"), col("n_batch"),
        col("n_dup_vs_corpus"), col("n_dup_within_batch"),
        (col("n_batch") - col("n_dup_vs_corpus") - col("n_dup_within_batch"))
          .as("n_unique"))
  }

  /** #409 10% two-sided trimmed mean of order value per priority —
    * the drop-the-tails robust location estimate (#106 winsorize
    * CLAMPS the tails; trimming excludes them, a different estimator
    * with a different breakdown point). Reuses the #106 dialect
    * bridge: percentile() ↔ quantile_cont rounded to 4 dp on both
    * engines, then a [[graft.Det]] exact-decimal mean over the kept
    * rows. Scale: one percentile aggregate (5 groups) broadcast back
    * over the scan — no sort, no window.
    */
  def statsTrimmedMean(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(round(expr("percentile(o_totalprice, 0.1)"), 4).as("p10"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
    Tables.orders(s, dir)
      .join(broadcast(q), col("o_orderpriority") === col("pri"))
      .filter(col("o_totalprice") >= col("p10") &&
        col("o_totalprice") <= col("p90"))
      .groupBy("pri")
      .agg(count(lit(1)).as("n_kept"),
        round(Det.davg(col("o_totalprice")), 4).as("trimmed_mean"))
      .orderBy("pri")
  }

  /** #415 Quality-filter length-bias audit: per-language Spearman rank
    * correlation between the type-token-ratio quality proxy (integer
    * ppm) and document length — "is the quality score just a length
    * filter in disguise?", the honesty check run before trusting any
    * quality-based pruning (#404) or Gopher gate (#366). Reuses the
    * #227 midrank machinery verbatim: tie-aware 2·average-ranks from
    * cumulative windows over each variable's DISTINCT-VALUE relation
    * (domain-bounded, LANGUAGE-partitioned — never a per-row global
    * window), joined back and fed to an exact-decimal Pearson; rho is
    * the single terminal double at 6 dp. TTR is known to shrink with
    * length, so a strongly negative rho is the expected signature —
    * the audit quantifies it per language.
    */
  def qualityLengthBias(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) > 0)
      .select(col("lang"),
        expr("(size(array_distinct(toks)) * 1000000) div size(toks)")
          .as("x"),
        col("n_chars").as("y"))
    def rank2(c: String): DataFrame = {
      val w = Window.partitionBy("lang").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, -1)
      d.groupBy("lang", c).agg(count(lit(1)).as("cnt"))
        .withColumn(s"r2_$c",
          (coalesce(sum(col("cnt")).over(w), lit(0L)) * 2 + col("cnt") + 1)
            .cast(dec))
        .drop("cnt")
    }
    d.join(rank2("x"), Seq("lang", "x"))
      .join(rank2("y"), Seq("lang", "y"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("r2_x")).as("sx"), sum(col("r2_y")).as("sy"),
        sum(col("r2_x") * col("r2_y")).as("sxy"),
        sum(col("r2_x") * col("r2_x")).as("sxx"),
        sum(col("r2_y") * col("r2_y")).as("syy"))
      .select(col("lang"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))).cast("double")), 6)
          .as("rho"))
      .orderBy("lang")
  }

  /** #416 Epoch-capped temperature mixture (water-filling): allocate a
    * token budget B = 2·|corpus| across sources by τ=0.5 temperature
    * weights (small sources up-weighted, the #376 idiom) subject to a
    * 4-epoch repeat cap per source — the allocation rule an LLM data
    * mix actually trains under (unbounded up-weighting would repeat a
    * tiny source dozens of times). Water-fill unrolls THREE synchronous
    * rounds (≥ enough for |sources| this size — the final round's
    * clamp set is spec-checked stable): clamp any source whose
    * proportional share exceeds its cap, re-distribute the residual
    * budget over unclamped weights, repeat. All state is integer
    * (weights in floored nano via exp(τ·ln·) — identical libm both
    * engines; shares via DECIMAL-staged truncating division); every
    * round is arithmetic on the |sources|-row relation against 1-row
    * broadcast totals — nothing corpus-sized after the first
    * aggregate.
    */
  def mixEpochCap(s: SparkSession, dir: String): DataFrame =
    waterFill(Tables.documents(s, dir)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens")))

  /** The water-fill itself over any (source, tokens) relation — split
    * out so the clamp branch (inert on the size-uniform fixture) is
    * provable on a skewed input in the spec. */
  private[graft] def waterFill(base0: DataFrame): DataFrame = {
    val tot = base0.agg(sum(col("tokens")).as("tt"))
    var st = base0.crossJoin(broadcast(tot))
      .withColumn("w_nano",
        floor(exp(lit(0.5) * log(col("tokens").cast("double") / col("tt")))
          * 1e9).cast("long"))
      .withColumn("cap", col("tokens") * 4L)
      .withColumn("budget", col("tt") * 2L)
      .withColumn("clamped", lit(false))
      .select("source", "tokens", "w_nano", "cap", "budget", "clamped")
    (1 to 3).foreach { _ =>
      val totals = st.agg(
        sum(when(col("clamped"), col("cap")).otherwise(0L)).as("used"),
        sum(when(!col("clamped"), col("w_nano")).otherwise(0L)).as("wsum"))
      st = st.crossJoin(broadcast(totals))
        .withColumn("prop",
          expr("cast(((budget - used) * cast(w_nano as decimal(38,0))) " +
            "div wsum as long)"))
        .withColumn("clamped", col("clamped") || col("prop") > col("cap"))
        .select("source", "tokens", "w_nano", "cap", "budget", "clamped")
    }
    val fin = st.agg(
      sum(when(col("clamped"), col("cap")).otherwise(0L)).as("used"),
      sum(when(!col("clamped"), col("w_nano")).otherwise(0L)).as("wsum"))
    st.crossJoin(broadcast(fin))
      .withColumn("alloc",
        when(col("clamped"), col("cap")).otherwise(
          expr("cast(((budget - used) * cast(w_nano as decimal(38,0))) " +
            "div wsum as long)")))
      .select(col("source"), col("tokens"), col("w_nano"), col("cap"),
        col("clamped"), col("alloc"),
        expr("(alloc * 1000000) div tokens").as("epochs_micro"))
      .orderBy("source")
  }

  /** #433 Importance weights + effective sample size for reweighting
    * the observed language mix to the UNIFORM target — the
    * distribution-shift readout behind every mixture decision
    * ([[TextOps.mixWeights]] plans the TARGET; this measures what
    * reweighting to it COSTS): w_l = target/source = N/(L·n_l) in ppm,
    * and Kish's ESS = (Σn·w)²/(Σn·w²) says how many effective docs
    * survive the reweighting (ESS ≪ N = the target is unreachable by
    * weighting alone, go sample instead). Exact: one |lang| aggregate,
    * ppm truncating divisions, DECIMAL squares; the 1-row ESS broadcast
    * rides every row (the macro-F1 readout pattern). Scale: one
    * map-side-combined groupBy; everything after is |lang|-row.
    */
  def sampleImportance(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(count(lit(1)).as("l"), sum(col("n_docs")).as("n"))
    val weighted = counts.crossJoin(broadcast(tot))
      .withColumn("w_ppm", expr("(n * 1000000) div (l * n_docs)"))
    val ess = weighted
      .agg(sum(col("n_docs").cast(dec) * col("w_ppm")).as("sw"),
        sum(col("n_docs").cast(dec) * col("w_ppm") * col("w_ppm")).as("sw2"))
      .select(expr("cast((sw * sw) div sw2 as long)").as("ess_docs"))
    weighted.crossJoin(broadcast(ess))
      .crossJoin(broadcast(tot.select(col("n").as("n_total"))))
      .select(col("lang"), col("n_docs"), col("w_ppm"), col("ess_docs"),
        expr("(ess_docs * 1000000) div n_total").as("ess_ratio_ppm"))
      .orderBy("lang")
  }

  /** #434 Quality-filter threshold sweep: rank every document by the
    * chars-per-token score (the cheapest quality proxy — boilerplate
    * and code-ish text sit at the extremes), cut the corpus into
    * GLOBAL deciles, and report cumulative docs/tokens retained at
    * each cut — the keep-curve a data team reads before committing to
    * a quality threshold (the corpus-level sibling of the per-feature
    * AUC screen #291). Ranks ride the shared two-phase kernel
    * ([[StatsOps.globalRanked]] — range partition + per-partition
    * windows, never a single-partition window over the corpus);
    * deciles are integer arithmetic on (rank, N); the cumulative runs
    * on the 10-row decile aggregate. Tie-break (score, doc_id),
    * mirrored in the twin.
    */
  /** Rank-kernel builder shared with the bench prewarm (see
    * [[StatsOps.rankedOrdersPrice]] for the discipline). */
  private[graft] def rankedQualityScore(s: SparkSession, dir: String): (DataFrame, Long) = {
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .withColumn("score_ppm", expr("(n_chars * 1000000) div n_tokens"))
    StatsOps.globalRanked(s, scored,
      Seq(col("score_ppm"), col("doc_id")), s"fsweep:$dir")
  }

  def qualityFilterSweep(s: SparkSession, dir: String): DataFrame = {
    val (ranked, n) = rankedQualityScore(s, dir)
    val byDecile = ranked
      .withColumn("decile", expr(s"((r - 1) * 10) div ${n}L + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("score_ppm")).as("score_lo"), max(col("score_ppm")).as("score_hi"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totTok = byDecile.agg(sum(col("n_tokens")).as("tok_all"))
    byDecile
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(totTok))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        col("score_lo"), col("score_hi"), col("cum_docs"), col("cum_tokens"),
        expr("(cum_tokens * 1000000) div tok_all").as("cum_token_share_ppm"))
      .orderBy("decile")
  }

  /** #477 One distributionally-robust (DRO) mixture reweighting step:
    * per source, loss = short-document rate (n_chars < 300 — the
    * simplest quality deficit), and the multiplicative-weights update
    * w'_s ∝ w0_s·exp(η·loss_s) with η = 1 and w0 = corpus share —
    * upweighting the WORST-performing domains, the Group-DRO move that
    * counters the "easy majority domain swallows the mixture" failure
    * of proportional sampling. Emits old share, loss, new weight, and
    * the tilt (all ppm) per source.
    *
    * Determinism discipline: exp is the ONLY transcendental — floored
    * to nano per source (exp of a ppm-quantized loss, identical libm
    * double on both engines); the update numerator n_s·exp_nano is an
    * exact integer, the normalizing denominator is their exact integer
    * SUM (never a float sum, whose partial-aggregation order would
    * diverge), and each readout is one truncating ppm division.
    * Scale: one map-side-combined source aggregate; the update algebra
    * runs on |sources| rows against a broadcast 1-row total.
    */
  def mixDroStep(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_chars") < 300, lit(1))).as("n_fail"))
      .withColumn("loss_ppm", expr("(n_fail * 1000000) div n_docs"))
      .withColumn("exp_nano",
        expr("cast(floor(exp(cast(loss_ppm as double) / 1e6) * 1e9) as bigint)"))
      .withColumn("num", (col("n_docs") * col("exp_nano")).cast(dec))
    val tot = src.agg(sum(col("n_docs")).as("n_total"),
      sum(col("num")).as("denom"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("loss_ppm"),
        expr("(n_docs * 1000000) div n_total").as("w0_ppm"),
        expr("cast((num * 1000000) div denom as long)").as("dro_w_ppm"))
      .withColumn("tilt_ppm", col("dro_w_ppm") - col("w0_ppm"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mix_dro_step" -> (mixDroStep _),
    "q_text_code_detect" -> (textCodeDetect _),
    "q_text_novelty_curve" -> (textNoveltyCurve _),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_stats_trimmed_mean" -> (statsTrimmedMean _),
    "q_quality_length_bias" -> (qualityLengthBias _),
    "q_mix_epoch_cap" -> (mixEpochCap _),
    "q_sample_importance" -> (sampleImportance _),
    "q_quality_filter_sweep" -> (qualityFilterSweep _))

  val oracles: Map[String, String] = Map(
    "q_mix_dro_step" ->
      """WITH src AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(CASE WHEN n_chars < 300 THEN 1 END) AS BIGINT)
        |      AS n_fail
        |  FROM documents GROUP BY source),
        |l AS (
        |  SELECT source, n_docs,
        |    (n_fail * 1000000) // n_docs AS loss_ppm
        |  FROM src),
        |e AS (
        |  SELECT source, n_docs, loss_ppm,
        |    CAST(FLOOR(EXP(CAST(loss_ppm AS DOUBLE) / 1e6) * 1e9) AS BIGINT)
        |      AS exp_nano
        |  FROM l),
        |n AS (
        |  SELECT source, n_docs, loss_ppm,
        |    CAST(n_docs * exp_nano AS HUGEINT) AS num
        |  FROM e),
        |t AS (SELECT SUM(n_docs) AS n_total, SUM(num) AS denom FROM n)
        |SELECT source, n_docs, loss_ppm,
        |  CAST((n_docs * 1000000) // (SELECT n_total FROM t) AS BIGINT)
        |    AS w0_ppm,
        |  CAST((num * 1000000) // (SELECT denom FROM t) AS BIGINT)
        |    AS dro_w_ppm,
        |  CAST((num * 1000000) // (SELECT denom FROM t) AS BIGINT)
        |    - CAST((n_docs * 1000000) // (SELECT n_total FROM t) AS BIGINT)
        |    AS tilt_ppm
        |FROM n ORDER BY source""".stripMargin,
    "q_sample_importance" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT COUNT(*) AS l, CAST(SUM(n_docs) AS BIGINT) AS n FROM c),
        |w AS (
        |  SELECT lang, n_docs, (t.n * 1000000) // (t.l * n_docs) AS w_ppm
        |  FROM c, t),
        |e AS (
        |  SELECT CAST((SUM(CAST(n_docs AS HUGEINT) * w_ppm)
        |      * SUM(CAST(n_docs AS HUGEINT) * w_ppm))
        |    // SUM(CAST(n_docs AS HUGEINT) * w_ppm * w_ppm) AS BIGINT)
        |    AS ess_docs
        |  FROM w)
        |SELECT w.lang, w.n_docs, CAST(w.w_ppm AS BIGINT) AS w_ppm,
        |  e.ess_docs,
        |  CAST((e.ess_docs * 1000000) // t.n AS BIGINT) AS ess_ratio_ppm
        |FROM w, e, t ORDER BY w.lang""".stripMargin,
    "q_quality_filter_sweep" ->
      """WITH scored AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        |      AS n_tokens,
        |    n_chars,
        |    (n_chars * 1000000) // CAST(len(string_split(text, ' ')) AS BIGINT)
        |      AS score_ppm
        |  FROM documents),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY score_ppm, doc_id)
        |    AS BIGINT) AS r, COUNT(*) OVER () AS n
        |  FROM scored),
        |dd AS (
        |  SELECT ((r - 1) * 10) // n + 1 AS decile,
        |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |    MIN(score_ppm) AS score_lo, MAX(score_ppm) AS score_hi
        |  FROM rk GROUP BY 1),
        |cum AS (
        |  SELECT *, CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
        |    CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS tok_all
        |  FROM dd WINDOW w AS (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_tokens,
        |  CAST(score_lo AS BIGINT) AS score_lo,
        |  CAST(score_hi AS BIGINT) AS score_hi, cum_docs, cum_tokens,
        |  (cum_tokens * 1000000) // tok_all AS cum_token_share_ppm
        |FROM cum ORDER BY decile""".stripMargin,
    "q_text_code_detect" ->
      """WITH d AS (
        |  SELECT lang, source, CAST(length(text) AS BIGINT) AS len,
        |    CAST(length(text) - length(regexp_replace(text, '[{};=<>()]', '', 'g'))
        |      AS BIGINT) AS n_sym,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS n_dig
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT *, (n_sym * 1000000) // len AS sym_ppm FROM d)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN sym_ppm > 20000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_codelike,
        |  CAST((SUM(n_sym) * 1000000) // SUM(len) AS BIGINT) AS sym_ppm,
        |  CAST((SUM(n_dig) * 1000000) // SUM(len) AS BIGINT) AS dig_ppm
        |FROM f GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_text_novelty_curve" ->
      """WITH tk AS (
        |  SELECT source, doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT source, doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM tk),
        |pdg AS (
        |  SELECT source, doc_id, g, COUNT(*) AS cnt
        |  FROM grams GROUP BY source, doc_id, g),
        |fd AS (
        |  SELECT source, g, MIN(doc_id) AS first_doc
        |  FROM pdg GROUP BY source, g),
        |pd AS (
        |  SELECT pdg.source, pdg.doc_id,
        |    CAST(SUM(pdg.cnt) AS BIGINT) AS grams,
        |    CAST(SUM(CASE WHEN fd.first_doc = pdg.doc_id THEN pdg.cnt
        |      ELSE 0 END) AS BIGINT) AS novel
        |  FROM pdg JOIN fd ON fd.source = pdg.source AND fd.g = pdg.g
        |  GROUP BY pdg.source, pdg.doc_id),
        |r AS (
        |  SELECT source, grams, novel,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS nd
        |  FROM pd),
        |d AS (
        |  SELECT source, ((rn - 1) * 10) // nd AS decile, COUNT(*) AS n_docs,
        |    CAST(SUM(grams) AS BIGINT) AS grams,
        |    CAST(SUM(novel) AS BIGINT) AS novel
        |  FROM r GROUP BY 1, 2)
        |SELECT source, CAST(decile AS BIGINT) AS decile, n_docs, grams, novel,
        |  (novel * 1000000) // grams AS novelty_ppm
        |FROM d ORDER BY source, decile""".stripMargin,
    "q_dedup_incremental" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:5], ' ') AS key
        |  FROM documents),
        |cut AS (SELECT (MAX(doc_id) * 9) // 10 AS cut FROM keyed),
        |marked AS (
        |  SELECT doc_id, key, doc_id >= cut.cut AS is_new, cut.cut
        |  FROM keyed, cut),
        |grp AS (
        |  SELECT key,
        |    MIN(CASE WHEN NOT is_new THEN doc_id END) AS old_min,
        |    MIN(CASE WHEN is_new THEN doc_id END) AS new_min
        |  FROM marked GROUP BY key),
        |b AS (
        |  SELECT m.cut,
        |    CASE WHEN g.old_min IS NOT NULL THEN 1 ELSE 0 END AS dup_old,
        |    CASE WHEN g.old_min IS NULL AND g.new_min < m.doc_id
        |      THEN 1 ELSE 0 END AS dup_new
        |  FROM marked m JOIN grp g USING (key) WHERE m.is_new)
        |SELECT CAST(cut AS BIGINT) AS cut_doc_id, COUNT(*) AS n_batch,
        |  CAST(SUM(dup_old) AS BIGINT) AS n_dup_vs_corpus,
        |  CAST(SUM(dup_new) AS BIGINT) AS n_dup_within_batch,
        |  CAST(COUNT(*) - SUM(dup_old) - SUM(dup_new) AS BIGINT) AS n_unique
        |FROM b GROUP BY cut""".stripMargin,
    "q_quality_length_bias" ->
      """WITH d AS (
        |  SELECT lang,
        |    (len(list_distinct(string_split(text, ' '))) * 1000000)
        |      // len(string_split(text, ' ')) AS x,
        |    n_chars AS y
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |rx AS (
        |  SELECT lang, x, CAST(2 * COALESCE(CAST(SUM(cnt) OVER (
        |      PARTITION BY lang ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + cnt + 1 AS HUGEINT) AS r2_x
        |  FROM (SELECT lang, x, COUNT(*) AS cnt FROM d GROUP BY lang, x)),
        |ry AS (
        |  SELECT lang, y, CAST(2 * COALESCE(CAST(SUM(cnt) OVER (
        |      PARTITION BY lang ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + cnt + 1 AS HUGEINT) AS r2_y
        |  FROM (SELECT lang, y, COUNT(*) AS cnt FROM d GROUP BY lang, y)),
        |j AS (
        |  SELECT d.lang, rx.r2_x, ry.r2_y
        |  FROM d JOIN rx ON rx.lang = d.lang AND rx.x = d.x
        |         JOIN ry ON ry.lang = d.lang AND ry.y = d.y),
        |a AS (
        |  SELECT lang, COUNT(*) AS n, SUM(r2_x) AS sx, SUM(r2_y) AS sy,
        |    SUM(r2_x * r2_y) AS sxy, SUM(r2_x * r2_x) AS sxx,
        |    SUM(r2_y * r2_y) AS syy
        |  FROM j GROUP BY lang)
        |SELECT lang, n, round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |  sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)), 6)
        |  AS rho
        |FROM a ORDER BY lang""".stripMargin,
    "q_mix_epoch_cap" -> {
      def round(k: Int): String =
        s"""t$k AS (
           |  SELECT CAST(SUM(CASE WHEN clamped THEN cap ELSE 0 END) AS BIGINT)
           |      AS used,
           |    CAST(SUM(CASE WHEN clamped THEN 0 ELSE w_nano END) AS BIGINT)
           |      AS wsum
           |  FROM r${k - 1}),
           |r$k AS (
           |  SELECT source, tokens, w_nano, cap, budget,
           |    clamped OR (CAST(((budget - t$k.used) *
           |      CAST(w_nano AS HUGEINT)) // t$k.wsum AS BIGINT) > cap)
           |      AS clamped
           |  FROM r${k - 1}, t$k)""".stripMargin
      s"""WITH base AS (
         |  SELECT source,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt FROM base),
         |r0 AS (
         |  SELECT source, tokens,
         |    CAST(FLOOR(exp(0.5 * ln(CAST(tokens AS DOUBLE) / tt)) * 1e9)
         |      AS BIGINT) AS w_nano,
         |    tokens * 4 AS cap, tt * 2 AS budget, FALSE AS clamped
         |  FROM base, tot),
         |${(1 to 3).map(round).mkString(",\n")},
         |fin AS (
         |  SELECT CAST(SUM(CASE WHEN clamped THEN cap ELSE 0 END) AS BIGINT)
         |      AS used,
         |    CAST(SUM(CASE WHEN clamped THEN 0 ELSE w_nano END) AS BIGINT)
         |      AS wsum
         |  FROM r3)
         |SELECT source, tokens, w_nano, cap, clamped,
         |  CASE WHEN clamped THEN cap
         |    ELSE CAST(((budget - fin.used) * CAST(w_nano AS HUGEINT))
         |      // fin.wsum AS BIGINT) END AS alloc,
         |  (CASE WHEN clamped THEN cap
         |    ELSE CAST(((budget - fin.used) * CAST(w_nano AS HUGEINT))
         |      // fin.wsum AS BIGINT) END * 1000000) // tokens AS epochs_micro
         |FROM r3, fin ORDER BY source""".stripMargin
    },
    "q_stats_trimmed_mean" ->
      """WITH q AS (
        |  SELECT o_orderpriority AS pri,
        |    round(quantile_cont(o_totalprice, 0.1), 4) AS p10,
        |    round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT pri, COUNT(*) AS n_kept,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    / COUNT(*), 4) AS trimmed_mean
        |FROM orders JOIN q ON o_orderpriority = pri
        |WHERE o_totalprice >= p10 AND o_totalprice <= p90
        |GROUP BY pri ORDER BY pri""".stripMargin)
}
