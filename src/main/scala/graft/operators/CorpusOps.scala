package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Corpus-wide token statistics for training-data curation: the exact
  * duplicated-span registry (the first stage of exact-substring dedup à
  * la "Deduplicating Training Data Makes Language Models Better"), a
  * hashing-trick collision audit, and a Zipf-law slope fit validating
  * the token frequency profile.
  *
  * Scale design: every op here is explode → groupBy — one linear pass
  * and one hash shuffle on the token/span key with full map-side
  * partial aggregation; no windows over row-cardinality relations. The
  * only window (Zipf rank) sits above a LIMIT 100, so it is
  * constant-bounded by construction. Determinism: counts are exact
  * integers; ln() is floored to integer nano-nats once per distinct
  * integer argument (the repo-wide convention, [[EvalOps]]); the single
  * terminal double division is mirrored expression-for-expression in
  * the DuckDB twins and rounded to 6dp.
  */
object CorpusOps {

  private val SpanTokens = 8

  private def lnNano(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(log(c.cast("double")) * 1e9).cast("long")

  /** Registry of exact 8-token spans appearing in ≥2 distinct documents
    * — the candidate list an exact-substring deduplicator would cut.
    * One explode (≈ one row per token, linear) and one groupBy(span)
    * with map-side combine; cross-document templates collapse at the
    * reduce side. At 100 TB you would group on a 128-bit span hash and
    * carry the span text only as a min() exemplar — here the span IS
    * short (8 tokens), so grouping on it directly keeps the op
    * oracle-checkable without a hash-collision caveat.
    */
  def dedupSpanExact(s: SparkSession, dir: String): DataFrame = {
    // r22: spans via the codegen'd graft_ngrams byte-scan (see
    // NgramsExpr) — the transform/sequence/slice/array_join chain was
    // an interpreted HOF per span; a short doc yields an empty array
    // that explode() drops, exactly like the former size filter
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr(s"graft_ngrams(text, $SpanTokens)")).as("span"))
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occur"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), desc("n_occur"), col("span"))
  }

  /** Hashing-trick collision audit: tokens → 64 feature buckets via the
    * cross-engine md5-prefix integer (the repo's seeded-hash pattern,
    * PipelineOps.splitAssign), reporting per-bucket occurrence mass and
    * distinct-token collision load. The 64-row output is what you read
    * before choosing a feature-hash width: a bucket holding 40 distinct
    * tokens at 10× the mean mass says the width is too small. One
    * explode + one 64-group aggregate; countDistinct adds the standard
    * two-phase expand, still keyed by (bucket, tok) — linear.
    */
  def textFeatureHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(col("tok"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"), lit(64L))
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_occur"), countDistinct(col("tok")).as("n_distinct"))
      .orderBy("bucket")

  /** Zipf-law slope over the top-100 tokens: least-squares fit of
    * ln(freq) against ln(rank); a healthy natural-language corpus sits
    * near slope −1, while templated/synthetic text flattens or
    * steepens. The frequency table is a linear token aggregate; the
    * top-100 is TakeOrderedAndProject (no global sort); the rank window
    * sits above LIMIT 100 so its single partition holds exactly 100
    * rows at any corpus size. Both ln() inputs are exact integers
    * (rank, freq) floored to nano-nats, so the regression sums are
    * integer-exact cross-engine; slope and intercept are the terminal
    * doubles at 6dp.
    */
  def textZipf(s: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("tok")).limit(100)
    val pts = top
      .withColumn("rank", row_number().over(Window.orderBy(desc("freq"), col("tok"))))
      .select(lnNano(col("rank")).cast(DecimalType(38, 0)).as("x"),
        lnNano(col("freq")).cast(DecimalType(38, 0)).as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("n").as("n_points"),
        round(col("slope"), 6).as("zipf_slope"),
        round((col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n"), 6).as("intercept_nano"))
  }

  /** #458 Corpus dispersion (Gries' DP) of the 20 most frequent terms
    * across sources: DP(t) = ½ Σ_s |v_{t,s} − w_s| where v is the
    * term's share of its own occurrences in source s and w is the
    * source's share of all tokens — 0 means the term tracks the corpus
    * mix perfectly, →1 means it is confined to one source. The
    * burstiness question the marginal profiles (#231 Zipf, #332 vocab
    * overlap, #437 Burrows' Delta) don't answer: is a frequent term
    * corpus-wide vocabulary or one source's tic? (The mix-weights /
    * contamination decisions read exactly this.)
    *
    * Exactness: the absolute deviations cross-multiply to integers —
    * |c_{t,s}·T − c_t·T_s| — summed as DECIMAL(38,0), ONE truncating
    * ppm division by 2·c_t·T. Top-20 by (freq desc, term) is a
    * TakeOrderedAndProject. Scale: one token explode → (term, source)
    * counts (map-side combined); the deviation grid is top-K × sources.
    */
  def textDispersion(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    // localCheckpoint: the (term, source) cell relation feeds the source
    // totals, the top-K selection, AND the deviation grid
    val cells = toks.groupBy("tok", "source").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val srcTot = cells.groupBy("source").agg(sum(col("c")).as("ts"))
      .crossJoin(broadcast(cells.agg(sum(col("c")).as("t"))))
    val top = cells.groupBy("tok").agg(sum(col("c")).as("ct"))
      .orderBy(desc("ct"), col("tok")).limit(20)
    top.crossJoin(srcTot)
      .join(cells, Seq("tok", "source"), "left")
      .select(col("tok"), col("ct"), col("ts"), col("t"),
        coalesce(col("c"), lit(0L)).as("cts"))
      .groupBy("tok", "ct", "t")
      .agg(sum(abs(col("cts").cast(DecimalType(38, 0)) * col("t") -
        col("ct").cast(DecimalType(38, 0)) * col("ts"))).as("dev"))
      .select(col("tok"), col("ct").as("freq"),
        expr("cast((dev * 1000000) div (2 * cast(ct as decimal(38,0)) * t) as long)")
          .as("dp_ppm"))
      .orderBy(desc("freq"), col("tok"))
  }

  /** Top-20 bigram continuations of the corpus language model:
    * P(w2|w1) in exact ppm, where the conditioning mass c1 counts w1 in
    * bigram-initial position (= Σ_w2 c12, so probabilities sum to 1 per
    * w1 exactly). The integer division c12·10⁶ div c1 is trunc==floor
    * (both operands positive), bit-identical cross-engine with no ln or
    * float anywhere. One explode to the bigram relation (linear), two
    * vocab-bounded aggregates, a vocab-keyed join (AQE broadcasts the
    * unigram side), and a TakeOrderedAndProject top-20 — no global
    * sort.
    */
  def textBigramLm(s: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    c12.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        expr("(c12 * 1000000L) div c1").as("p_ppm"))
      .orderBy(desc("c12"), col("w1"), col("w2"))
      .limit(20)
  }

  private val DupGramTokens = 5

  /** Corpus-level duplicate n-gram fraction per document — the Gopher /
    * RefinedWeb quality signal ("fraction of the doc made of n-grams
    * that also occur elsewhere"): for each doc, the share of its 5-gram
    * occurrences whose gram appears ≥ 2 times ACROSS THE WHOLE CORPUS
    * (including intra-doc repeats; [[graft.operators.TextOps]]'s
    * q_text_repetition is the intra-doc-only sibling). Shape: one
    * explode (linear), ONE shuffle on the gram for a window count (the
    * global occurrence total rides the same hashpartitioning(gram) the
    * rows already need — a groupBy+join-back formulation re-shuffles
    * the full gram set a second time and measured ~1.8× slower; with
    * mostly-unique grams the forgone map-side combine compresses
    * nothing anyway), one groupBy(doc) — every stage hash-partitioned,
    * no all-pairs anywhere. Grouping on the short gram text directly
    * keeps it oracle-checkable (same no-hash-caveat argument as
    * [[dedupSpanExact]]); at 100 TB you'd swap in a 128-bit gram hash
    * and the plan shape is unchanged. The ≥ 5-token guard is inert on
    * the fixtures (min doc length is 10).
    */
  def textDupNgrams(s: SparkSession, dir: String): DataFrame = {
    // r22: grams via the codegen'd graft_ngrams byte-scan (see
    // NgramsExpr) — the transform/sequence/slice/array_join chain was
    // an interpreted HOF per gram; a short doc now yields an empty
    // array that explode() drops, exactly like the former size filter
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr(s"graft_ngrams(text, $DupGramTokens)")).as("gram"))
    grams
      .withColumn("n_total", count(lit(1)).over(Window.partitionBy("gram")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_total") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** #274 Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD
    * 2003 "Winnowing: Local Algorithms for Document Fingerprinting"):
    * per document, hash every 3-token gram, slide a w=4 window over the
    * gram-hash sequence, and select each window's minimum hash with the
    * RIGHTMOST-position tie rule — the guarantee-carrying fingerprint
    * scheme (any shared run of ≥ w+k−1 tokens shares ≥1 fingerprint)
    * that MOSS-style plagiarism/overlap detectors use, reported as the
    * per-doc fingerprint density audit (grams, selected prints, density
    * ppm of windows).
    *
    * The rightmost-min rule is encoded ORDER-FREE as one integer key:
    * key = hash·2²⁰ − pos (positions are < 2²⁰ — document token counts,
    * not corpus-wide), so a plain frame-min picks min hash then max
    * position, and ⌈key/2²⁰⌉ recovers the hash exactly. Window = 4-row
    * frame per doc; selected set = DISTINCT keys.
    *
    * Scale: the gram explode is linear; the only window is PARTITIONED
    * BY doc (per-doc bounded frames, never a global sort); the distinct
    * and count aggregates shuffle on doc_id with map-side combine. Gram
    * split convention matches [[textDupNgrams]] (raw whitespace split —
    * the fixture has no empty tokens).
    */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    val W = 4 // winnowing window (guarantee threshold t = W + 3 - 1 tokens)
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), expr(
        "CASE WHEN size(a) >= 3 THEN " +
          "transform(sequence(1, size(a) - 2), " +
          "i -> concat_ws(' ', a[i-1], a[i], a[i+1])) " +
          "ELSE cast(array() as array<string>) END").as("gs"))
    val keyed = grams
      .select(col("doc_id"), posexplode(col("gs")).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("p"),
        (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long") *
          lit(1048576L) - col("p0") - 1).as("key"))
    val wmin = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(W - 1), 0)
    val sel = keyed
      .withColumn("skey", min(col("key")).over(wmin))
      .filter(col("p") >= W)
      .select(col("doc_id"), col("skey")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_selected"))
    grams.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        when(col("n_grams") >= W,
          expr(s"(coalesce(n_selected, 0) * 1000000) div (n_grams - ${W - 1})"))
          .as("density_ppm"))
      .orderBy("doc_id")
  }

  /** #275 Jensen-Shannon divergence of each language's unigram
    * distribution from the whole-corpus distribution — the
    * distribution-level mix-governance readout next to the value-level
    * drift family (KS/PSI): how far does each language's token profile
    * sit from the blend the model will actually train on? JSD (the
    * symmetrised, bounded KL) in exact floored nano-nats via the
    * entropy form JSD(P,Q) = H(M) − (H(P)+H(Q))/2, M = (P+Q)/2.
    *
    * Exactness: with c = per-lang count, g = global count, N_l / N the
    * totals, M_w ∝ c·N + g·N_l over 2·N_l·N — every ln() argument is an
    * exact integer (product in DECIMAL first; the decimal→double cast
    * feeding ln() is correctly rounded on both engines, the envelope
    * note of [[InferenceOps]].anovaLang), every Σ x·lnNano(x) term
    * accumulates in DECIMAL(38,0), and three truncating divisions
    * assemble the result. The union-of-support sum splits JOIN-FREE as
    * Σ_global f(g·N_l) plus a shared-word correction from the one
    * vocab-bounded (lang,word)⋈(word) join — no full-outer join per
    * pair.
    *
    * Scale: one token explode feeds both count tables (map-side
    * combined, vocab-bounded outputs); lang totals broadcast; every
    * post-explode relation is vocab-cardinality. Output: |lang| rows,
    * 0 ≤ jsd_nano ≤ ln2·10⁹.
    */
  def textJsd(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def f(x: org.apache.spark.sql.Column) = x.cast(dec) * lnNano(x)
    val words = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
    // both count tables are vocab-bounded; localCheckpoint so their
    // multiple consumers (totals, base sum, correction join) share one
    // token explode instead of re-running it per consumer
    val wc = words.groupBy("lang", "word").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val wcg = words.groupBy("word").agg(count(lit(1)).as("g"))
      .localCheckpoint()
    val nl = wc.groupBy("lang")
      .agg(sum(col("c")).as("n_l"), count(lit(1)).as("n_words"))
    val nTot = wcg.agg(sum(col("g")).as("n"), sum(f(col("g"))).as("sq"))
    // Σ_global f(g·N_l) per lang (c=0 base of the mixture sum)
    val smA = wcg.crossJoin(broadcast(nl.select(col("lang"), col("n_l"))))
      .groupBy("lang")
      .agg(sum(f(col("g").cast(dec) * col("n_l"))).as("sm_a"))
    // shared-word correction f(c·N + g·N_l) − f(g·N_l), plus Sp = Σ f(c)
    val smB = wc.join(wcg, Seq("word"))
      .join(broadcast(nl.select(col("lang"), col("n_l"))), Seq("lang"))
      .crossJoin(broadcast(nTot.select(col("n"))))
      .groupBy("lang")
      .agg(sum(f(col("c").cast(dec) * col("n") + col("g").cast(dec) * col("n_l")) -
          f(col("g").cast(dec) * col("n_l"))).as("sm_b"),
        sum(f(col("c"))).as("sp"))
    nl.join(smA, Seq("lang")).join(smB, Seq("lang"))
      .crossJoin(broadcast(nTot))
      .withColumn("hm_nano", lnNano(col("n_l").cast(dec) * col("n") * 2) -
        expr("cast((sm_a + sm_b) div (2 * cast(n_l as decimal(38,0)) * n) as long)"))
      .withColumn("hp_nano",
        lnNano(col("n_l")) - expr("cast(sp div cast(n_l as decimal(38,0)) as long)"))
      .withColumn("hq_nano",
        lnNano(col("n")) - expr("cast(sq div cast(n as decimal(38,0)) as long)"))
      .select(col("lang"), col("n_l").as("n_tokens"), col("n_words"),
        expr("hm_nano - (hp_nano + hq_nano) div 2").as("jsd_nano"))
      .orderBy("lang")
  }

  /** #437 Burrows' Delta between sources — the classical stylometric
    * distance (authorship attribution applied to corpus provenance):
    * over the 16 most frequent corpus words (the "function word"
    * marker set), each source's relative frequency z-scores against
    * the across-source distribution, and Delta(a,b) = mean |z_a − z_b|.
    * Two sources with near-zero Delta share a template/generator — the
    * provenance screen next to the style-delta probe (#338).
    *
    * Exactness: relative frequencies are ppm integers; with S sources,
    * z = (S·f − Σf)/√(S·Σf² − (Σf)²) has an EXACT integer numerator
    * (≤4e6 — exact in a double) over one correctly-rounded sqrt, so
    * z_nano = ⌊z·1e9⌋ is deterministic cross-engine, and Delta sums
    * |z_nano| differences exactly. Scale: one linear token explode +
    * a semi-join against the broadcast 16-word marker set; everything
    * after is |sources|×16 rows; pair count is |sources|²-bounded.
    */
  def textBurrowsDelta(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val markers = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("tok")).limit(16).select("tok")
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("tot"))
    val cells = toks.join(broadcast(markers), Seq("tok"), "left_semi")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    // zero-fill: a marker absent from a source is f = 0, not a dropped cell
    val grid = srcTot.crossJoin(broadcast(markers))
      .join(cells, Seq("source", "tok"), "left_outer")
      .withColumn("f_ppm", expr("(coalesce(c, 0L) * 1000000) div tot"))
    val stats = grid.groupBy("tok")
      .agg(count(lit(1)).as("sn"), sum(col("f_ppm")).as("sf"),
        sum(col("f_ppm") * col("f_ppm")).as("qf"))
      .withColumn("dvar", expr("sn * qf - sf * sf"))
    val z = grid.join(broadcast(stats), Seq("tok"))
      .filter(col("dvar") > 0)
      .withColumn("z_nano",
        expr("cast(floor((sn * f_ppm - sf) * 1e9 / " +
          "sqrt(cast(dvar as double))) as long)"))
    val za = z.select(col("tok"), col("source").as("src_a"), col("z_nano").as("zva"))
    val zb = z.select(col("tok"), col("source").as("src_b"), col("z_nano").as("zvb"))
    za.join(zb, Seq("tok")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_markers"),
        sum(abs(col("zva") - col("zvb"))).as("absz"))
      .select(col("src_a"), col("src_b"), col("n_markers"),
        expr("absz div n_markers").as("delta_nano"))
      .orderBy("src_a", "src_b")
  }

  /** #472 Standardized (segmental) type-token ratio per source: tokens
    * of each document are cut into consecutive FULL 50-token segments,
    * TTR = distinct/50 is computed per segment, and the source readout
    * is the mean segment TTR in ppm — Johnson's STTR, the
    * length-debiased lexical-diversity measure. Raw TTR falls with
    * document length purely mechanically (Heaps' law, #355), so
    * cross-source raw-TTR comparisons confound verbosity with
    * vocabulary; fixing the segment length removes the confound
    * without the iterative machinery of MTLD. Completes the
    * lexicostatistics corner: Yule's K (#354, repeat concentration),
    * Heaps (#355, growth exponent), hapax (#444, tail mass) — STTR is
    * the mean-diversity member, and the per-source readout feeds the
    * same mix-weight decisions as #458's dispersion.
    *
    * Exactness: Σ distinct-counts and segment counts are exact
    * integers; the mean TTR is ONE ppm division. Trailing partial
    * segments are EXCLUDED on both engines (the standard convention —
    * a short tail segment would re-introduce exactly the length bias
    * the measure removes). Scale: one token-array pass per doc with a
    * bounded per-segment array_distinct (segments are 50 tokens); the
    * aggregate is map-side combined per source.
    */
  def textSttr(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("nseg", expr("size(toks) div 50"))
      .filter(col("nseg") >= 1)
      .withColumn("seg", explode(sequence(lit(0L), col("nseg") - 1L)))
      .select(col("source"),
        size(array_distinct(expr("slice(toks, cast(seg * 50 + 1 as int), 50)")))
          .cast("long").as("n_types"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_segments"), sum(col("n_types")).as("sum_types"))
      .select(col("source"), col("n_segments"),
        expr("(sum_types * 1000000) div (n_segments * 50)").as("sttr_ppm"))
      .orderBy("source")

  /** #503 Honoré's R + Sichel's S vocabulary-richness constants per
    * source: R = 100·ln N / (1 − V₁/V) (assembled divisionless as
    * 100·⌊ln N·10⁹⌋·V / ((V−V₁)·10⁶), one truncating milli readout)
    * and S = V₂/V in ppm, over the whitespace token stream. WHY next
    * to #444/#490: the hapax profile (#444) reports the raw frequency-
    * spectrum head per LANGUAGE and STTR (#490) fixes segment length
    * by brute force; Honoré's R is the classical LENGTH-CORRECTED
    * richness scalar (approximately invariant in N where raw V and V₁
    * both grow), so it is the ONE number comparable across sources of
    * wildly different volume — the cross-source mix table's richness
    * column — and Sichel's S is its stability companion (V₂/V is
    * near-constant for natural text; template floods push it down).
    *
    * Exactness: N, V, V₁, V₂ are exact integers from one token
    * aggregate; ln N is the house floored-nano ln; each readout is ONE
    * truncating division, NULL-guarded for the all-hapax source
    * (V₁ = V ⇒ R undefined, stated — mirrored CASE). Numerator staged
    * DECIMAL (100·lnNano·V wraps int64 past V ~ 4e6). Scale: one
    * (source, token) map-side-combined aggregate, then a |sources|-row
    * readout.
    */
  def textVocabRichness(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("f"))
      .groupBy("source")
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("v1_hapax"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("v2_dis"))
      .select(col("source"), col("n_tokens"), col("v_types"),
        col("v1_hapax"), col("v2_dis"),
        expr("CASE WHEN v_types > v1_hapax THEN " +
          "cast((100 * cast(floor(ln(cast(n_tokens as double)) * 1e9) " +
          "as decimal(38,0)) * v_types) div " +
          "(cast(v_types - v1_hapax as decimal(38,0)) * 1000000) as long) " +
          "END").as("honore_r_milli"),
        expr("(v2_dis * 1000000) div v_types").as("sichel_s_ppm"))
      .orderBy("source")

  /** #516 Simpson diversity per source over the token stream: the
    * UNBIASED repeat probability λ = Σf(f−1)/(N(N−1)) in ppm, its
    * Gini-Simpson complement 1−λ, and the inverse-Simpson "effective
    * vocabulary" 1/λ in milli (NULL for the all-distinct source). WHY
    * next to #503/#354: this closes the Hill-numbers diversity ladder
    * the corpus family was reading one rung at a time — richness V is
    * the order-0 number (every type counts equally), Shannon entropy
    * the order-1 (types weighted by probability), Simpson the order-2
    * (dominance-weighted: only the heavy types matter). A source whose
    * order-0 looks healthy but whose order-2 collapses is a stopword/
    * template monoculture — exactly the kind the mix table should
    * discount. λ is Yule's K up to scale (K = 10⁴·(S₂−N)/N², #354) —
    * kept as the PROBABILITY form here so the three rungs read in one
    * unit system.
    *
    * Exactness: Σf(f−1) and N(N−1) are exact integers (DECIMAL-staged
    * products); each readout is ONE truncating division, guarded by a
    * mirrored CASE WHEN n_tokens > 1 in both engines — a single-token
    * source reads lambda_ppm NULL (and the derived complements NULL)
    * by CONTRACT, not by riding each engine's div-by-zero-to-NULL
    * mapping. Scale: one (source, token) map-side-combined aggregate,
    * |sources|-row readout.
    */
  def textSimpson(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("f"))
      .groupBy("source")
      .agg(sum(col("f")).as("n_tokens"),
        sum((col("f") * (col("f") - 1L))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("rep"))
      .select(col("source"), col("n_tokens"),
        expr("CASE WHEN n_tokens > 1 THEN cast((rep * 1000000) div " +
          "(cast(n_tokens as decimal(38,0)) * (n_tokens - 1)) as long) " +
          "END").as("lambda_ppm"))
      .withColumn("gini_simpson_ppm", lit(1000000L) - col("lambda_ppm"))
      .withColumn("inv_simpson_milli",
        expr("CASE WHEN lambda_ppm > 0 THEN " +
          "(1000000000 div lambda_ppm) END"))
      .orderBy("source")

  /** #491 Log-normality screen of the document-length distribution per
    * source: Jarque-Bera over x = floor(ln(n_chars)·10⁶) — skewness,
    * excess kurtosis and the JB statistic of the LOG lengths. Web-
    * corpus length distributions are conventionally modeled lognormal
    * (the assumption behind length-bucketed batching #217 and the
    * length-bias diagnostic #415); this screens that assumption PER
    * SOURCE — a source whose log-lengths are heavily skewed (JB ≫ 6)
    * is template-truncated or concatenated, and its length buckets
    * won't behave. Staging: ln floored to MICRO (not nano — the x⁴
    * power sum must stay inside DECIMAL(38,0) at corpus scale), four
    * exact power sums, then the #370 raw-moment double algebra in
    * mirrored expression order; skew/kurt/JB NULL-guarded for
    * zero-variance (constant-length) sources, m2 > 0 CASE both
    * engines. Scale: one map-side-combined source
    * aggregate; moment algebra on |sources| rows.
    */
  def textLengthLognormality(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = floor(log(col("n_chars").cast("double")) * 1e6).cast("long")
    Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .select(col("source"), x.as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("s1"),
        sum(col("x").cast(dec) * col("x")).as("s2"),
        sum(col("x").cast(dec) * col("x") * col("x")).as("s3"),
        sum(col("x").cast(dec) * col("x") * col("x") * col("x")).as("s4"))
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
          lit(6.0) * col("mu") * col("mu") *
            (col("s2").cast("double") / col("n")) -
          lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
      // zero-variance guard (the Chow/BP CASE pattern): a constant-
      // length source gives m2 = 0, so skew/kurt are 0/0 = NaN —
      // Spark's non-ANSI bigint cast silently maps NaN to 0 while
      // DuckDB errors; NULL readout instead, mirrored in the twin
      .withColumn("skew",
        when(col("m2") > 0, col("m3") / (col("m2") * sqrt(col("m2")))))
      .withColumn("kurt",
        when(col("m2") > 0, col("m4") / (col("m2") * col("m2"))))
      .select(col("source"), col("n").as("n_docs"),
        floor(col("mu")).cast("long").as("mean_ln_micro"),
        floor(col("skew") * 1e6).cast("long").as("skew_micro"),
        floor(col("kurt") * 1e6).cast("long").as("kurt_micro"),
        floor(col("n") / lit(6.0) *
          (col("skew") * col("skew") +
            (col("kurt") - 3.0) * (col("kurt") - 3.0) / 4.0) * 1000)
          .cast("long").as("jb_milli"))
      .withColumn("lognormal_rejected_05", col("jb_milli") > 5991L)
      .orderBy("source")
  }

  /** #497 Zipf goodness-of-fit: Kolmogorov distance between the
    * empirical mass distribution of the TOP-100 tokens (rank by freq
    * desc, token asc — total order) and the canonical Zipf s=1 law,
    * whose CDF is the harmonic ratio H_r/H_100 carried as EXACT
    * integers (H_r = Σ_{k≤r} floor(10⁹/k), identical floored terms
    * both engines) — D = max_r |cumf_r·H_100 − F·H_r| cross-multiplied,
    * one ppm readout, argmax rank reported (earliest on ties). WHY
    * next to #231: the Zipf row ESTIMATES the exponent by regression —
    * it will happily fit a slope to a distribution that is not a power
    * law at all; this measures how far the head actually sits from the
    * canonical law, and the argmax rank says WHERE it breaks (rank 1-3
    * = stopword inflation, rank ~50+ = truncated vocabulary). Scale:
    * one token count (map-side combined) + TakeOrderedAndProject
    * top-100; everything after on 100 rows (windows bounded by Limit).
    */
  def textZipfGof(s: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(100)
    val w = Window.orderBy(desc("freq"), asc("token"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val frame = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    top
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cumf", sum(col("freq")).over(wCum))
      .withColumn("h_r", sum(expr("1000000000 div r")).over(wCum))
      .withColumn("f_all", sum(col("freq")).over(frame))
      .withColumn("h_all", max(col("h_r")).over(frame))
      .withColumn("dnum",
        abs(col("cumf").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          col("h_all") - col("f_all").cast(
            org.apache.spark.sql.types.DecimalType(38, 0)) * col("h_r")))
      .withColumn("dmax", max(col("dnum")).over(frame))
      .filter(col("dnum") === col("dmax"))
      .groupBy(lit(1).as("g"))
      .agg(max(col("f_all")).as("top_mass"), min(col("r")).as("at_rank"),
        max(col("dmax")).as("dm"), max(col("h_all")).as("h_all"))
      .select(col("top_mass"), col("at_rank"),
        expr("cast((dm * 1000000) div " +
          "(cast(top_mass as decimal(38,0)) * h_all) as long)").as("d_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_zipf_gof" -> (textZipfGof _),
    "q_text_length_lognormality" -> (textLengthLognormality _),
    "q_text_sttr" -> (textSttr _),
    "q_text_vocab_richness" -> (textVocabRichness _),
    "q_text_simpson" -> (textSimpson _),
    "q_text_burrows_delta" -> (textBurrowsDelta _),
    "q_winnow_fingerprint" -> (winnowFingerprint _),
    "q_text_jsd" -> (textJsd _),
    "q_text_bigram_lm" -> (textBigramLm _),
    "q_dedup_span_exact" -> (dedupSpanExact _),
    "q_text_feature_hash" -> (textFeatureHash _),
    "q_text_dup_ngrams" -> (textDupNgrams _),
    "q_text_zipf" -> (textZipf _),
    "q_text_dispersion" -> (textDispersion _))

  val oracles: Map[String, String] = Map(
    "q_text_zipf_gof" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        |      FROM tok GROUP BY token),
        |top AS (
        |  SELECT token, freq FROM f
        |  ORDER BY freq DESC, token ASC LIMIT 100),
        |rk AS (
        |  SELECT freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS BIGINT)
        |      AS r
        |  FROM top),
        |c AS (
        |  SELECT r,
        |    SUM(freq) OVER (ORDER BY r) AS cumf,
        |    SUM(1000000000 // r) OVER (ORDER BY r) AS h_r,
        |    SUM(freq) OVER () AS f_all
        |  FROM rk),
        |c2 AS (
        |  SELECT r, cumf, h_r, f_all, MAX(h_r) OVER () AS h_all FROM c),
        |d AS (
        |  SELECT r, f_all, h_all,
        |    abs(CAST(cumf AS HUGEINT) * h_all - CAST(f_all AS HUGEINT) * h_r)
        |      AS dnum,
        |    MAX(abs(CAST(cumf AS HUGEINT) * h_all
        |      - CAST(f_all AS HUGEINT) * h_r)) OVER () AS dmax
        |  FROM c2),
        |a AS (
        |  SELECT 1 AS g, CAST(MAX(f_all) AS BIGINT) AS top_mass,
        |    MIN(r) AS at_rank, MAX(dmax) AS dm, MAX(h_all) AS h_all
        |  FROM d WHERE dnum = dmax GROUP BY g)
        |SELECT top_mass, at_rank,
        |  CAST((dm * 1000000) // (CAST(top_mass AS HUGEINT) * h_all)
        |    AS BIGINT) AS d_ppm
        |FROM a""".stripMargin,
    "q_text_length_lognormality" ->
      """WITH x0 AS (
        |  SELECT source,
        |    CAST(FLOOR(ln(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT) AS x
        |  FROM documents WHERE n_chars > 0),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS s1,
        |    SUM(CAST(x AS HUGEINT) * x) AS s2,
        |    SUM(CAST(x AS HUGEINT) * x * x) AS s3,
        |    SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
        |  FROM x0 GROUP BY source),
        |mm AS (
        |  SELECT source, n,
        |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mu,
        |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n AS r2,
        |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / n AS r3,
        |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / n AS r4
        |  FROM g),
        |c AS (
        |  SELECT source, n, mu,
        |    r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM mm),
        |k AS (
        |  SELECT source, n, mu,
        |    CASE WHEN m2 > 0 THEN m3 / (m2 * SQRT(m2)) END AS skew,
        |    CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurt
        |  FROM c),
        |f AS (
        |  SELECT source, n AS n_docs,
        |    CAST(FLOOR(mu) AS BIGINT) AS mean_ln_micro,
        |    CAST(FLOOR(skew * 1e6) AS BIGINT) AS skew_micro,
        |    CAST(FLOOR(kurt * 1e6) AS BIGINT) AS kurt_micro,
        |    CAST(FLOOR(n / 6.0 * (skew * skew
        |      + (kurt - 3.0) * (kurt - 3.0) / 4.0) * 1000) AS BIGINT)
        |      AS jb_milli
        |  FROM k)
        |SELECT source, n_docs, mean_ln_micro, skew_micro, kurt_micro,
        |  jb_milli, jb_milli > 5991 AS lognormal_rejected_05
        |FROM f ORDER BY source""".stripMargin,
    "q_text_simpson" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM tok GROUP BY source, tok),
        |a AS (
        |  SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |    SUM(CAST(f * (f - 1) AS HUGEINT)) AS rep
        |  FROM f GROUP BY source),
        |l AS (
        |  SELECT source, n_tokens,
        |    CASE WHEN n_tokens > 1 THEN CAST((rep * 1000000) //
        |      (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
        |      END AS lambda_ppm
        |  FROM a)
        |SELECT source, n_tokens, lambda_ppm,
        |  1000000 - lambda_ppm AS gini_simpson_ppm,
        |  CASE WHEN lambda_ppm > 0 THEN 1000000000 // lambda_ppm END
        |    AS inv_simpson_milli
        |FROM l ORDER BY source""".stripMargin,
    "q_text_vocab_richness" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM tok GROUP BY source, tok),
        |a AS (
        |  SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS v_types,
        |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1_hapax,
        |    CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2_dis
        |  FROM f GROUP BY source)
        |SELECT source, n_tokens, v_types, v1_hapax, v2_dis,
        |  CASE WHEN v_types > v1_hapax THEN
        |    CAST((100 * CAST(FLOOR(LN(CAST(n_tokens AS DOUBLE)) * 1e9)
        |      AS HUGEINT) * v_types) //
        |      (CAST(v_types - v1_hapax AS HUGEINT) * 1000000) AS BIGINT)
        |  END AS honore_r_milli,
        |  (v2_dis * 1000000) // v_types AS sichel_s_ppm
        |FROM a ORDER BY source""".stripMargin,
    "q_text_sttr" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents),
        |segs AS (
        |  SELECT source, toks,
        |    unnest(range(0, CAST(len(toks) // 50 AS BIGINT))) AS seg
        |  FROM t WHERE len(toks) // 50 >= 1),
        |d AS (
        |  SELECT source,
        |    CAST(len(list_distinct(list_slice(toks, seg * 50 + 1,
        |      seg * 50 + 50))) AS BIGINT) AS n_types
        |  FROM segs),
        |a AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |    CAST(SUM(n_types) AS BIGINT) AS sum_types
        |  FROM d GROUP BY source)
        |SELECT source, n_segments,
        |  CAST((sum_types * 1000000) // (n_segments * 50) AS BIGINT)
        |    AS sttr_ppm
        |FROM a ORDER BY source""".stripMargin,
    "q_text_dispersion" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cells AS (
        |  SELECT tok, source, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY tok, source),
        |src AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS ts,
        |    (SELECT CAST(SUM(c) AS BIGINT) FROM cells) AS t
        |  FROM cells GROUP BY source),
        |top AS (
        |  SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM cells
        |  GROUP BY tok ORDER BY SUM(c) DESC, tok LIMIT 20),
        |grid AS (
        |  SELECT top.tok, top.ct, s.ts, s.t,
        |    CAST(COALESCE(c.c, 0) AS BIGINT) AS cts
        |  FROM top CROSS JOIN src s
        |  LEFT JOIN cells c ON c.tok = top.tok AND c.source = s.source)
        |SELECT tok, ct AS freq,
        |  CAST(SUM(abs(CAST(cts AS HUGEINT) * t - CAST(ct AS HUGEINT) * ts))
        |    * 1000000 // (2 * CAST(ct AS HUGEINT) * MAX(t)) AS BIGINT)
        |    AS dp_ppm
        |FROM grid GROUP BY tok, ct
        |ORDER BY freq DESC, tok""".stripMargin,
    "q_text_burrows_delta" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |markers AS (
        |  SELECT tok FROM toks GROUP BY tok
        |  ORDER BY COUNT(*) DESC, tok LIMIT 16),
        |src AS (SELECT source, COUNT(*) AS tot FROM toks GROUP BY source),
        |cells AS (
        |  SELECT source, tok, COUNT(*) AS c FROM toks
        |  WHERE tok IN (SELECT tok FROM markers)
        |  GROUP BY source, tok),
        |grid AS (
        |  SELECT s.source, m.tok, s.tot,
        |    (COALESCE(c.c, 0) * 1000000) // s.tot AS f_ppm
        |  FROM src s CROSS JOIN markers m
        |  LEFT JOIN cells c ON c.source = s.source AND c.tok = m.tok),
        |st AS (
        |  SELECT tok, COUNT(*) AS sn, CAST(SUM(f_ppm) AS BIGINT) AS sf,
        |    CAST(SUM(f_ppm * f_ppm) AS BIGINT) AS qf
        |  FROM grid GROUP BY tok),
        |z AS (
        |  SELECT g.source, g.tok,
        |    CAST(floor((st.sn * g.f_ppm - st.sf) * 1e9 /
        |      sqrt(CAST(st.sn * st.qf - st.sf * st.sf AS DOUBLE))) AS BIGINT)
        |      AS z_nano
        |  FROM grid g JOIN st ON st.tok = g.tok
        |  WHERE st.sn * st.qf - st.sf * st.sf > 0)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  COUNT(*) AS n_markers,
        |  CAST(SUM(abs(a.z_nano - b.z_nano)) // COUNT(*) AS BIGINT)
        |    AS delta_nano
        |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same 3-gram construction (1-based lists), same hash·2^20−pos key
    // encoding, same 4-row frame min + distinct — the rightmost-min tie
    // rule falls out of the key arithmetic identically on both engines
    "q_winnow_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(a) >= 3 THEN
        |      list_transform(range(1, len(a) - 1),
        |        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])
        |    ELSE [] END AS gs
        |  FROM toks),
        |g AS (
        |  SELECT doc_id, unnest(gs) AS gram,
        |    unnest(range(1, len(gs) + 1)) AS p
        |  FROM grams),
        |k AS (
        |  SELECT doc_id, p,
        |    ('0x' || substring(md5(gram), 1, 8))::BIGINT * 1048576 - p AS key
        |  FROM g),
        |sel AS (
        |  SELECT DISTINCT doc_id, skey FROM (
        |    SELECT doc_id, p,
        |      min(key) OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS skey
        |    FROM k) WHERE p >= 4),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_selected FROM sel GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams FROM grams)
        |SELECT b.doc_id, b.n_grams,
        |  CAST(COALESCE(c.n_selected, 0) AS BIGINT) AS n_selected,
        |  CASE WHEN b.n_grams >= 4 THEN
        |    CAST((COALESCE(c.n_selected, 0) * 1000000) // (b.n_grams - 3) AS BIGINT)
        |  END AS density_ppm
        |FROM base b LEFT JOIN cnt c USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    // same entropy-form decomposition: Sm = Σ f(g·N_l) + shared-word
    // correction, f(x) = x·floor(ln(x)·1e9), three truncating divisions
    "q_text_jsd" ->
      """WITH words AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT lang, word, COUNT(*) AS c FROM words GROUP BY lang, word),
        |wcg AS (SELECT word, COUNT(*) AS g FROM words GROUP BY word),
        |nl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_l,
        |         COUNT(*) AS n_words FROM wc GROUP BY lang),
        |ntot AS (
        |  SELECT CAST(SUM(g) AS BIGINT) AS n,
        |    SUM(CAST(g AS HUGEINT) *
        |      CAST(floor(ln(CAST(g AS DOUBLE)) * 1e9) AS BIGINT)) AS sq
        |  FROM wcg),
        |sma AS (
        |  SELECT nl.lang,
        |    SUM(CAST(wcg.g AS HUGEINT) * nl.n_l *
        |      CAST(floor(ln(CAST(CAST(wcg.g AS HUGEINT) * nl.n_l AS DOUBLE)) * 1e9)
        |        AS BIGINT)) AS sm_a
        |  FROM wcg CROSS JOIN nl GROUP BY nl.lang),
        |smb AS (
        |  SELECT wc.lang,
        |    SUM((CAST(wc.c AS HUGEINT) * ntot.n + CAST(wcg.g AS HUGEINT) * nl.n_l) *
        |      CAST(floor(ln(CAST(CAST(wc.c AS HUGEINT) * ntot.n
        |        + CAST(wcg.g AS HUGEINT) * nl.n_l AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(wcg.g AS HUGEINT) * nl.n_l *
        |        CAST(floor(ln(CAST(CAST(wcg.g AS HUGEINT) * nl.n_l AS DOUBLE)) * 1e9)
        |          AS BIGINT)) AS sm_b,
        |    SUM(CAST(wc.c AS HUGEINT) *
        |      CAST(floor(ln(CAST(wc.c AS DOUBLE)) * 1e9) AS BIGINT)) AS sp
        |  FROM wc JOIN wcg USING (word) JOIN nl ON nl.lang = wc.lang
        |    CROSS JOIN ntot
        |  GROUP BY wc.lang),
        |h AS (
        |  SELECT nl.lang, nl.n_l, nl.n_words,
        |    CAST(floor(ln(CAST(CAST(nl.n_l AS HUGEINT) * ntot.n * 2 AS DOUBLE)) * 1e9)
        |      AS BIGINT)
        |      - CAST((sma.sm_a + smb.sm_b)
        |        // (2 * CAST(nl.n_l AS HUGEINT) * ntot.n) AS BIGINT) AS hm_nano,
        |    CAST(floor(ln(CAST(nl.n_l AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(smb.sp // CAST(nl.n_l AS HUGEINT) AS BIGINT) AS hp_nano,
        |    CAST(floor(ln(CAST(ntot.n AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(ntot.sq // CAST(ntot.n AS HUGEINT) AS BIGINT) AS hq_nano
        |  FROM nl JOIN sma USING (lang) JOIN smb USING (lang) CROSS JOIN ntot)
        |SELECT lang, n_l AS n_tokens, n_words,
        |  CAST(hm_nano - (hp_nano + hq_nano) // 2 AS BIGINT) AS jsd_nano
        |FROM h ORDER BY lang""".stripMargin,
    // same gram construction (5-token windows over the whitespace split),
    // same global-count join, same terminal 6dp rounding of an exact
    // integer ratio
    "q_text_dup_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |g AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w) - 3)]) AS gram
        |  FROM toks),
        |c AS (SELECT gram, COUNT(*) AS n_total FROM g GROUP BY gram)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN n_total >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(SUM(CASE WHEN n_total >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS dup_frac
        |FROM g JOIN c USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_bigram_lm" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT unnest([{'w1': w[i], 'w2': w[i+1]} FOR i IN range(1, len(w))]) AS b
        |  FROM t),
        |pairs AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1)
        |SELECT w1, w2, c12, c1, (c12 * 1000000) // c1 AS p_ppm
        |FROM c12 JOIN c1 USING (w1)
        |ORDER BY c12 DESC, w1, w2 LIMIT 20""".stripMargin,
    "q_dedup_span_exact" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]) AS span
        |  FROM t WHERE len(w) >= 8)
        |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occur,
        |  MIN(doc_id) AS first_doc
        |FROM g GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_occur DESC, span""".stripMargin,
    "q_text_feature_hash" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |b AS (
        |  SELECT tok,
        |    ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS bucket
        |  FROM toks)
        |SELECT bucket, COUNT(*) AS n_occur, COUNT(DISTINCT tok) AS n_distinct
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_text_zipf" ->
      """WITH freq AS (
        |  SELECT tok, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok ORDER BY freq DESC, tok LIMIT 100),
        |pts AS (
        |  SELECT CAST(CAST(floor(ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE)) * 1e9) AS BIGINT) AS HUGEINT) AS x,
        |    CAST(CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e9) AS BIGINT) AS HUGEINT) AS y
        |  FROM freq),
        |agg AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM pts),
        |sl AS (
        |  SELECT n, sx, sy,
        |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |  FROM agg)
        |SELECT n AS n_points, round(slope, 6) AS zipf_slope,
        |  round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n, 6) AS intercept_nano
        |FROM sl""".stripMargin)
}
