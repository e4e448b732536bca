package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-13 impact, credit-assignment, and allocation analyses (SURVEY
  * §2 #379–#384): Shapley channel attribution over observed coalitions,
  * Neyman (optimal) stratified allocation, Matryoshka truncated-dimension
  * retrieval audit, a seeded approximate-randomization significance
  * test, the per-rule quality-filter ablation report, and the dedup
  * savings ledger. Each answers "what did this component BUY us" for a
  * pipeline family that already exists — credit for channels, budget for
  * strata, dimensions for the ANN index, significance for an observed
  * difference, corpus loss per filter rule, bytes saved by dedup.
  *
  * Exactness: everything reduces to integer counts/sums with staged
  * integer divisions; the only libm surface is one sqrt (Neyman S_h,
  * floored micro before use) and the seeded md5 randomizer (exact on
  * both engines).
  */
object ImpactOps {

  /** #379 Shapley channel attribution: users' OBSERVED touch coalitions
    * (sorted distinct non-purchase event types) with the mean PURCHASE
    * VALUE per user as the characteristic function v(S) — every fixture
    * user converts, so conversion RATE is degenerate; value-per-user is
    * both non-degenerate and the credit a revenue team actually wants
    * split. Each channel's Shapley value φ_c =
    * Σ_S |S|!(n−1−|S|)!/n!·[v(S∪c)−v(S)] over coalition pairs where
    * both sides are observed — the cooperative-game credit rule that,
    * unlike last-touch (#q_attribution), pays every channel its
    * marginal contribution averaged over orderings. n = the OBSERVED
    * channel alphabet (4 on the fixtures → 16 coalitions); the
    * factorial weights |S|!·(n−1−|S|)! are exact integers over the
    * common denominator n!, derived from the alphabet in both engines,
    * so φ emits as an exact micro division and a fixture drift changes
    * the weights instead of silently mis-weighting them.
    *
    * Scale: the corpus-sized work is ONE user-grain aggregate; the
    * Shapley algebra runs on the ≤2ⁿ-row coalition relation (bounded by
    * the CHANNEL ALPHABET, not the corpus), all broadcast.
    */
  def eventShapley(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // coalition = channels touched strictly BEFORE the user's first
    // purchase (non-converters contribute all their touches): the
    // causally-eligible exposure set — post-purchase touches can't have
    // driven the conversion, and the restriction is what makes the
    // coalition lattice well-populated rather than collapsing to the
    // full channel set for every long-lived user
    val firstBuy = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("ts")).as("first_buy"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .join(firstBuy, Seq("user_id"), "left_outer")
      .filter(col("first_buy").isNull || col("ts") < col("first_buy"))
      .groupBy("user_id")
      .agg(array_sort(array_distinct(collect_list(col("event_type"))))
        .as("chset"))
    val conv = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("cv"))
    val coal = ev.select(col("user_id")).distinct()
      .join(touch, Seq("user_id"), "left_outer")
      .withColumn("chset",
        coalesce(col("chset"), array().cast("array<string>")))
      .join(conv, Seq("user_id"), "left_outer")
      .withColumn("cv", coalesce(col("cv"), lit(0L)))
      .groupBy("chset")
      .agg(count(lit(1)).as("n_users"), sum(col("cv")).as("val_micro"))
      .withColumn("v_ppm", expr("val_micro div n_users"))
      .withColumn("coalition", array_join(col("chset"), ","))
      .withColumn("sz", size(col("chset")))
    val channels = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("ch")).distinct()
    // |S|!·(n−1−|S|)! over the common denominator n!, derived from the
    // OBSERVED channel alphabet (r14; previously hardcoded for n = 4,
    // which would silently mis-weight every pair if the fixture ever
    // grew a channel). The count is a driver action on the distinct
    // alphabet — |alphabet| rows, never corpus-sized. Pairs whose
    // superset coalition is unobserved drop out of the inner join by
    // construction (observational Shapley has no value for an
    // unobserved coalition without a model); n_pairs per channel is
    // the monitor for how sparse the lattice is.
    val nCh = channels.count().toInt
    require(nCh >= 1 && nCh <= 20,
      s"Shapley factorial weights need 1..20 channels, got $nCh")
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _.toLong)
    val wCase = (0 until nCh)
      .map(k => s"WHEN $k THEN ${fact(k) * fact(nCh - 1 - k)}L")
      .mkString("CASE sz ", " ", s" ELSE ${fact(nCh - 1)}L END")
    val pairs = coal.crossJoin(broadcast(channels))
      .filter(!array_contains(col("chset"), col("ch")))
      .withColumn("up_key",
        array_join(array_sort(array_union(col("chset"), array(col("ch")))), ","))
      .join(coal.select(col("coalition").as("up_key"),
        col("v_ppm").as("v1")), Seq("up_key"))
      .withColumn("w", expr(wCase))
    pairs.groupBy("ch")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("w") * (col("v1") - col("v_ppm"))).as("wsum"))
      .select(col("ch"), col("n_pairs"),
        expr(s"wsum div ${fact(nCh)}L").as("phi_micro"))
      .orderBy("ch")
  }

  /** #380 Neyman (optimal) allocation of a 10k sample budget across
    * language strata: n_h ∝ N_h·S_h — sampling proportional to both
    * stratum SIZE and stratum SPREAD (here the n_chars std dev), the
    * design that minimizes estimator variance at fixed budget; the
    * spread-blind sibling of q_sample_apportion's proportional rule.
    * S_h comes from exact integer power sums with ONE sqrt floored to
    * micro; seats assign by largest remainder over the |lang|-row
    * relation (the bounded-window argument of q_sample_apportion).
    */
  def sampleNeyman(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val budget = 10000L
    val strata = Tables.documents(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast(dec)).as("sx"),
        sum((col("n_chars") * col("n_chars")).cast(dec)).as("sxx"))
      .withColumn("s_micro",
        floor(sqrt(expr("cast(n * sxx - sx * sx as double)")) / col("n") * 1e6)
          .cast("long"))
      .withColumn("w", col("n") * col("s_micro"))
    val tot = strata.agg(sum(col("w")).as("tw"),
      count(lit(1)).as("n_strata"))
    val quotas = strata.crossJoin(broadcast(tot))
      .withColumn("q", expr(s"(${budget}L * w) div tw"))
      .withColumn("rem", expr(s"(${budget}L * w) % tw"))
    val wRank = Window.orderBy(desc("rem"), col("lang"))
    quotas
      .withColumn("leftover",
        lit(budget) - sum(col("q")).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(wRank))
      .select(col("lang"), col("n").as("n_docs"), col("s_micro"),
        (col("q") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("lang")
  }

  /** #381 Matryoshka truncation audit: top-5 cosine retrieval for the
    * 10 probes using only the first d ∈ {8, 16, 32, 64} embedding
    * dimensions, scored as overlap@5 against the full-width truth — the
    * measurement behind prefix-truncatable ("Matryoshka") embeddings:
    * how much index memory the corpus can shed before retrieval
    * degrades. Same brute-force kernel per width (the d = 64 row IS the
    * truth and must score 5/5 — a built-in self-check the spec pins).
    *
    * Scale: 4 probe-broadcast scans of the corpus (probes are O(1));
    * at production scale each truncated scan is the IVF/LSH candidate
    * pass of the sim family, unchanged.
    */
  def embedMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
    def topk(d: Int): DataFrame = {
      val pre = base
        .withColumn("pv", expr(s"slice(embedding, 1, $d)"))
        .withColumn("nrm", sqrt(expr("graft_dot(pv, pv)")))
      val probes = pre.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("pv").as("qv"),
          col("nrm").as("qn"))
      val w = Window.partitionBy("probe_id")
        .orderBy(desc("cosine"), asc("cand_id"))
      pre.select(col("vec_id").as("cand_id"), col("pv").as("cv"),
        col("nrm").as("cn"))
        .join(broadcast(probes), col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          round(expr("graft_dot(qv, cv)") / (col("qn") * col("cn")), 6)
            .as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("probe_id"), col("cand_id"))
    }
    val truth = topk(64)
    Seq(8, 16, 32, 64).map { d =>
      topk(d)
        .join(truth, Seq("probe_id", "cand_id"), "left_semi")
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
        .join(truth.select("probe_id").distinct(), Seq("probe_id"),
          "right_outer")
        .select(lit(d).as("dim"), col("probe_id"),
          coalesce(col("hits"), lit(0L)).as("hits"))
    }.reduce(_ unionByName _)
      .withColumn("overlap_ppm", expr("(hits * 1000000) div 5"))
      .orderBy("dim", "probe_id")
  }

  /** #382 Approximate-randomization significance test of the click-vs-
    * view value difference: 200 SEEDED md5 re-assignments of group
    * labels (probability n₁/n per event — the binomial relaxation of
    * the exact permutation test, valid Monte-Carlo under
    * exchangeability), two-sided p = (#{|diff_r| ≥ |diff_obs|}+1)/(R+1)
    * — the distribution-free sibling of q_stats_welch_t. Everything is
    * exact integer micro arithmetic; the randomizer is the repo's
    * cross-engine md5 uniform, amortized one digest per 5 replicates by
    * slicing disjoint 6-hex windows (measured 7.3→~2.5 s at sf0.1; the
    * digest dominated). Scale: one (R/5)×N explode feeding a
    * map-side-combined per-replicate aggregate (R is a constant), then
    * a 200-row reduction. Perf is ACCEPTED FOREVER at its current
    * md5-bound cost (SCALE.md "q_stats_permutation: accepted forever"
    * — every remaining lever degrades the randomizer or forks the
    * graded result from the twin).
    */
  def statsPermutation(s: SparkSession, dir: String): DataFrame = {
    val r = 200
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 1e6).cast("long").as("vm"))
    val sizes = ev.groupBy().agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
      count(lit(1)).as("n"),
      sum(when(col("event_type") === "click", col("vm"))).as("s1"),
      sum(col("vm")).as("st"))
    val obs = sizes.select(col("n1"), (col("n") - col("n1")).as("n2"),
      col("n"), col("st"),
      (expr("s1 div n1") - expr("(st - s1) div (n - n1)")).as("diff_obs"))
    // one md5 per (event, block of 5 replicates), sliced into five
    // DISJOINT 6-hex windows — same independent uniform bits as one
    // digest per replicate at a fifth of the hashing cost (the digest
    // was the whole query cost: 200·N md5+concat calls -> 40·N)
    val blocks = ev.crossJoin(broadcast(obs))
      .select(col("event_id"), col("vm"), col("n1"), col("n"),
        explode(sequence(lit(0), lit(r / 5 - 1))).as("blk"))
      .withColumn("hx", md5(concat(col("blk").cast("string"), lit(":"),
        col("event_id").cast("string"))))
    // five conditional sums per block in ONE aggregate pass (one agg
    // row per block carries all five replicates), then a 40-row stack —
    // no 5x row explosion between the digest and the combine
    val offAggs = (0 to 4).flatMap { off =>
      val h = conv(expr(s"substr(hx, ${off * 6 + 1}, 6)"), 16, 10)
        .cast("long")
      val g1 = h * col("n") < col("n1") * lit(16777216L)
      Seq(sum(when(g1, col("vm"))).as(s"ps$off"),
        sum(when(g1, 1L).otherwise(0L)).as(s"pc$off"))
    } ++ Seq(max(col("n1")).as("n1"), max(col("n")).as("n"))
    val stacked = (0 to 4).map(off => s"blk * 5 + $off + 1, ps$off, pc$off")
      .mkString(", ")
    val perms = blocks.groupBy("blk")
      .agg(offAggs.head, offAggs.tail: _*)
      .select(col("n1"), col("n"),
        expr(s"stack(5, $stacked) AS (rep, ps1, pc1)"))
    val diffs = perms.crossJoin(broadcast(obs.select(col("st"),
      col("diff_obs"))))
      .filter(col("pc1") > 0 && col("pc1") < col("n"))
      .withColumn("diff_r",
        expr("ps1 div pc1") - expr("(st - ps1) div (n - pc1)"))
    diffs.groupBy()
      .agg(count(lit(1)).as("n_perms"),
        sum(when(abs(col("diff_r")) >= abs(col("diff_obs")), 1L)
          .otherwise(0L)).as("r_extreme"),
        max(col("n1")).as("n1"), max(col("n") - col("n1")).as("n2"),
        max(col("diff_obs")).as("diff_obs_micro"))
      .select(col("n1"), col("n2"), col("diff_obs_micro"), col("n_perms"),
        col("r_extreme"),
        expr("((r_extreme + 1) * 1000) div (n_perms + 1)").as("p_milli"))
  }

  /** #383 Quality-filter ablation: what each Gopher rule would cost if
    * applied ALONE — docs dropped, characters dropped, and the rule's
    * UNIQUE kills (docs every other rule passes) — the report that
    * separates load-bearing filters from redundant ones before anyone
    * tunes thresholds. One pass over the shared
    * [[TextEvalOps.gopherFlags]] projection with conditional
    * aggregates, unpivoted to rule-grain rows.
    */
  def qualityAblation(s: SparkSession, dir: String): DataFrame = {
    val f = TextEvalOps.gopherFlags(s, dir)
    val rules = Seq(
      ("word_count", "r_wc"), ("mean_word_len", "r_mwl"),
      ("stopwords", "r_stop"), ("alpha_ratio", "r_alpha"))
    val aggCols = count(lit(1)).as("n_docs") +:
      rules.flatMap { case (_, c) =>
        val others = rules.map(_._2).filterNot(_ == c)
          .map(o => col(o)).reduce(_ && _)
        Seq(
          sum(when(!col(c), 1L).otherwise(0L)).as(s"f_$c"),
          sum(when(!col(c), col("n_chars")).otherwise(lit(0L)))
            .as(s"ch_$c"),
          sum(when(!col(c) && others, 1L).otherwise(0L)).as(s"u_$c"))
      }
    val agg = f.groupBy().agg(aggCols.head, aggCols.tail: _*)
    val stack = rules.map { case (name, c) =>
      s"'$name', f_$c, ch_$c, u_$c"
    }.mkString(", ")
    agg.select(col("n_docs"), expr(
      s"stack(4, $stack) AS (rule, n_fail, chars_dropped, n_unique_kill)"))
      .select(col("rule"), col("n_fail"), col("chars_dropped"),
        col("n_unique_kill"),
        expr("(n_fail * 1000000) div n_docs").as("drop_ppm"))
      .orderBy("rule")
  }

  /** #384 Dedup savings ledger per language: documents and characters
    * the canonical near-dup selection (#q_dedup_canonical) removes —
    * the "what did dedup buy us" accounting a corpus report leads with.
    * Reuses the materialized component labels + the canonical keep rule
    * verbatim; one doc-grain join + one language aggregate.
    */
  def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    val kept = PipelineOps.dedupCanonical(s, dir)
      .select(col("doc_id"), col("is_kept"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(kept, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_kept") === 0, 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("is_kept") === 0, col("n_chars")).otherwise(lit(0L)))
          .as("chars_dropped"))
      .withColumn("savings_ppm",
        expr("cast((cast(chars_dropped as decimal(38,0)) * 1000000) " +
          "div chars_total as long)"))
      .orderBy("lang")
  }

  /** #506 Dedup savings by LENGTH band: the #384 canonical-dedup ledger
    * resolved over power-of-two document-length bands (band =
    * bit-length of n_chars — an EXACT integer log2 via the binary
    * string, mirrored; log2()+floor would tie-break differently across
    * libm at exact powers). WHY next to #384: the language ledger says
    * WHO loses mass, not at what SHAPE — savings concentrated in short
    * bands mean template/boilerplate near-dups (a cheap length-gated
    * pre-filter captures most of the win before any MinHash runs);
    * savings in long bands mean mirrored articles (LSH is load-bearing
    * and the pre-filter buys nothing). The first number to read before
    * sizing the #172 LSH stage at 100×. Zero-length docs excluded both
    * engines (bin(0) has no band). One doc-grain join + one
    * |bands|-bounded aggregate; two truncating ppm readouts. The
    * savings_ppm numerator stages chars_dropped through DECIMAL(38,0)/
    * HUGEINT before the ×10⁶ — raw int64 wraps SILENTLY past ~9.2e12
    * dropped chars per band (a real corpus-scale number) while the
    * DuckDB BIGINT multiply errors loudly, a silent-vs-loud divergence;
    * drop_ppm stays int64 (envelope ~9.2e12 DOCS per band, unreachable).
    */
  def dedupLengthProfile(s: SparkSession, dir: String): DataFrame = {
    val kept = PipelineOps.dedupCanonical(s, dir)
      .select(col("doc_id"), col("is_kept"))
    Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        length(bin(col("n_chars"))).cast("long").as("band"))
      .join(kept, Seq("doc_id"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_kept") === 0, 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("is_kept") === 0, col("n_chars")).otherwise(lit(0L)))
          .as("chars_dropped"))
      .select(col("band"), col("n_docs"), col("n_dropped"),
        col("chars_total"), col("chars_dropped"),
        expr("(n_dropped * 1000000) div n_docs").as("drop_ppm"),
        expr("cast((cast(chars_dropped as decimal(38,0)) * 1000000) " +
          "div chars_total as long)").as("savings_ppm"))
      .orderBy("band")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_length_profile" -> (dedupLengthProfile _),
    "q_event_shapley" -> (eventShapley _),
    "q_sample_neyman" -> (sampleNeyman _),
    "q_embed_matryoshka" -> (embedMatryoshka _),
    "q_stats_permutation" -> (statsPermutation _),
    "q_quality_ablation" -> (qualityAblation _),
    "q_dedup_savings" -> (dedupSavings _))

  val oracles: Map[String, String] = Map(
    "q_event_shapley" ->
      """WITH fb AS (
        |  SELECT user_id, MIN(ts) AS first_buy FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |tch AS (
        |  SELECT e.user_id,
        |    list_sort(list_distinct(array_agg(e.event_type))) AS chset
        |  FROM events e LEFT JOIN fb ON fb.user_id = e.user_id
        |  WHERE e.event_type <> 'purchase'
        |    AND (fb.first_buy IS NULL OR e.ts < fb.first_buy)
        |  GROUP BY e.user_id),
        |cnv AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS cv
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |usr AS (SELECT DISTINCT user_id FROM events),
        |uc AS (
        |  SELECT u.user_id,
        |    COALESCE(t.chset, CAST([] AS VARCHAR[])) AS chset,
        |    COALESCE(c.cv, 0) AS cv
        |  FROM usr u LEFT JOIN tch t USING (user_id)
        |             LEFT JOIN cnv c USING (user_id)),
        |coal AS (
        |  SELECT chset, array_to_string(chset, ',') AS coalition,
        |    len(chset) AS sz, COUNT(*) AS n_users,
        |    CAST(SUM(cv) AS BIGINT) AS val_micro,
        |    CAST(SUM(cv) // COUNT(*) AS BIGINT) AS v_ppm
        |  FROM uc GROUP BY chset),
        |chn AS (SELECT DISTINCT event_type AS ch FROM events
        |        WHERE event_type <> 'purchase'),
        |nc AS (SELECT COUNT(*) AS n FROM chn),
        |pairs AS (
        |  SELECT c.ch, s.sz, s.v_ppm AS v0, s2.v_ppm AS v1
        |  FROM coal s JOIN chn c ON NOT list_contains(s.chset, c.ch)
        |  JOIN coal s2 ON s2.coalition =
        |    array_to_string(list_sort(list_append(s.chset, c.ch)), ','))
        |SELECT ch, COUNT(*) AS n_pairs,
        |  CAST(SUM(factorial(CAST(sz AS INTEGER))
        |    * factorial(CAST(nc.n - 1 - sz AS INTEGER)) * (v1 - v0))
        |    // factorial(CAST(ANY_VALUE(nc.n) AS INTEGER)) AS BIGINT)
        |    AS phi_micro
        |FROM pairs, nc GROUP BY ch ORDER BY ch""".stripMargin,
    "q_sample_neyman" ->
      """WITH strata AS (
        |  SELECT lang, COUNT(*) AS n,
        |    SUM(CAST(n_chars AS HUGEINT)) AS sx,
        |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
        |  FROM documents GROUP BY lang),
        |sm AS (
        |  SELECT lang, n,
        |    CAST(FLOOR(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) / n * 1e6)
        |      AS BIGINT) AS s_micro
        |  FROM strata),
        |wt AS (SELECT *, n * s_micro AS w FROM sm),
        |tot AS (SELECT CAST(SUM(w) AS HUGEINT) AS tw FROM wt),
        |q AS (
        |  SELECT lang, n, s_micro, w,
        |    CAST((10000 * w) // tw AS BIGINT) AS q,
        |    CAST((10000 * w) % tw AS HUGEINT) AS rem
        |  FROM wt, tot),
        |lo AS (SELECT 10000 - CAST(SUM(q) AS BIGINT) AS leftover FROM q),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
        |  FROM q)
        |SELECT lang, n AS n_docs, s_micro,
        |  q + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS alloc
        |FROM rk, lo ORDER BY lang""".stripMargin,
    "q_embed_matryoshka" -> {
      def topkSql(d: Int): String =
        s"""SELECT a.vec_id AS probe_id, b.vec_id AS cand_id
           |  FROM (SELECT vec_id,
           |          list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS v
           |        FROM embeddings WHERE vec_id < 10) a
           |  JOIN (SELECT vec_id,
           |          list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS v
           |        FROM embeddings) b ON b.vec_id <> a.vec_id
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
           |    ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
           |             b.vec_id) <= 5""".stripMargin
      val dims = Seq(8, 16, 32, 64)
      s"""WITH truth AS (
         |${topkSql(64)}),
         |probes AS (SELECT DISTINCT probe_id FROM truth),
         |${dims.map(d => s"t$d AS (\n${topkSql(d)})").mkString(",\n")},
         |${dims.map(d =>
           s"""h$d AS (
              |  SELECT a.probe_id, COUNT(*) AS hits
              |  FROM t$d a JOIN truth b
              |    ON b.probe_id = a.probe_id AND b.cand_id = a.cand_id
              |  GROUP BY a.probe_id)""".stripMargin).mkString(",\n")},
         |u AS (
         |${dims.map(d =>
           s"""  SELECT $d AS dim, p.probe_id,
              |    CAST(COALESCE(h$d.hits, 0) AS BIGINT) AS hits
              |  FROM probes p LEFT JOIN h$d ON h$d.probe_id = p.probe_id"""
             .stripMargin).mkString("\n  UNION ALL\n")})
         |SELECT dim, probe_id, hits, (hits * 1000000) // 5 AS overlap_ppm
         |FROM u ORDER BY dim, probe_id""".stripMargin
    },
    "q_stats_permutation" -> {
      val bpCols = (0 to 4).map { off =>
        val cond = s"('0x' || substr(hx, ${off * 6 + 1}, 6))::BIGINT * n" +
          s" < n1 * 16777216"
        s"CAST(SUM(CASE WHEN $cond THEN vm END) AS BIGINT) AS ps$off, " +
          s"CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS pc$off"
      }.mkString(",\n    ")
      val prUnion = (0 to 4).map(off =>
        s"SELECT blk * 5 + $off + 1 AS rep, ps$off AS ps1, " +
          s"pc$off AS pc1, n1, n FROM bp").mkString("\n  UNION ALL\n  ")
      s"""WITH ev AS (
         |  SELECT event_id, event_type,
         |    CAST(FLOOR(value * 1e6) AS BIGINT) AS vm
         |  FROM events WHERE event_type IN ('click', 'view')),
         |sz AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1,
         |    COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN vm END) AS BIGINT)
         |      AS s1,
         |    CAST(SUM(vm) AS BIGINT) AS st
         |  FROM ev),
         |obs AS (
         |  SELECT n1, n - n1 AS n2, n, st,
         |    (s1 // n1) - ((st - s1) // (n - n1)) AS diff_obs
         |  FROM sz),
         |blks AS (
         |  SELECT e.event_id, e.vm, o.n1, o.n, b.blk,
         |    md5(CAST(b.blk AS VARCHAR) || ':' ||
         |      CAST(e.event_id AS VARCHAR)) AS hx
         |  FROM ev e, obs o, (SELECT unnest(range(0, 40)) AS blk) b),
         |bp AS (
         |  SELECT blk,
         |    $bpCols,
         |    MAX(n1) AS n1, MAX(n) AS n
         |  FROM blks GROUP BY blk),
         |pr AS (
         |  $prUnion),
         |df AS (
         |  SELECT pr.*, o.st, o.diff_obs,
         |    (ps1 // pc1) - ((o.st - ps1) // (pr.n - pc1)) AS diff_r
         |  FROM pr, obs o WHERE pc1 > 0 AND pc1 < pr.n)
         |SELECT MAX(n1) AS n1, MAX(n - n1) AS n2,
         |  MAX(diff_obs) AS diff_obs_micro,
         |  COUNT(*) AS n_perms,
         |  CAST(SUM(CASE WHEN ABS(diff_r) >= ABS(diff_obs) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS r_extreme,
         |  CAST(((SUM(CASE WHEN ABS(diff_r) >= ABS(diff_obs) THEN 1 ELSE 0
         |    END) + 1) * 1000) // (COUNT(*) + 1) AS BIGINT) AS p_milli
         |FROM df""".stripMargin
    },
    "q_quality_ablation" -> {
      val rules = Seq(
        ("word_count", "r_wc"), ("mean_word_len", "r_mwl"),
        ("stopwords", "r_stop"), ("alpha_ratio", "r_alpha"))
      val branches = rules.map { case (name, c) =>
        val others = rules.map(_._2).filterNot(_ == c)
          .map(o => o).mkString(" AND ")
        s"""SELECT '$name' AS rule,
           |  CAST(SUM(CASE WHEN NOT $c THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_fail,
           |  CAST(SUM(CASE WHEN NOT $c THEN n_chars ELSE 0 END) AS BIGINT)
           |    AS chars_dropped,
           |  CAST(SUM(CASE WHEN NOT $c AND $others THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_unique_kill,
           |  CAST((SUM(CASE WHEN NOT $c THEN 1 ELSE 0 END) * 1000000)
           |    // COUNT(*) AS BIGINT) AS drop_ppm
           |FROM flags""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${TextEvalOps.GopherFlagsSql}
         |SELECT * FROM (
         |$branches)
         |ORDER BY rule""".stripMargin
    },
    "q_dedup_length_profile" -> {
      val canonical = PipelineOps.oracles("q_dedup_canonical")
      s"""WITH kept AS (SELECT doc_id, is_kept FROM ($canonical)),
         |d AS (
         |  SELECT doc_id, n_chars,
         |    CAST(length(bin(n_chars)) AS BIGINT) AS band
         |  FROM documents WHERE n_chars > 0),
         |a AS (
         |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN k.is_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dropped,
         |    CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
         |    CAST(SUM(CASE WHEN k.is_kept = 0 THEN d.n_chars ELSE 0 END)
         |      AS BIGINT) AS chars_dropped
         |  FROM d JOIN kept k USING (doc_id)
         |  GROUP BY band)
         |SELECT band, n_docs, n_dropped, chars_total, chars_dropped,
         |  (n_dropped * 1000000) // n_docs AS drop_ppm,
         |  CAST((CAST(chars_dropped AS HUGEINT) * 1000000) // chars_total
         |    AS BIGINT) AS savings_ppm
         |FROM a ORDER BY band""".stripMargin
    },
    "q_dedup_savings" -> {
      val canonical = PipelineOps.oracles("q_dedup_canonical")
      s"""WITH kept AS (SELECT doc_id, is_kept FROM ($canonical))
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN k.is_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
         |  CAST(SUM(CASE WHEN k.is_kept = 0 THEN d.n_chars ELSE 0 END)
         |    AS BIGINT) AS chars_dropped,
         |  CAST((CAST(SUM(CASE WHEN k.is_kept = 0 THEN d.n_chars ELSE 0 END)
         |    AS HUGEINT) * 1000000) // SUM(d.n_chars) AS BIGINT)
         |    AS savings_ppm
         |FROM documents d JOIN kept k USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    })
}
