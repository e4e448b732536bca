package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Retrieval operators over the document corpus: BM25 ranking against a
  * fixed query and an inverted-index (posting-list) build. Both are
  * linear corpus scans with token-key aggregates — the 100 TB shape is
  * one tokenize pass, map-side-combined term statistics (vocabulary-
  * sized, broadcastable), and a bounded top-k, never an all-pairs or
  * global-window step.
  */
object SearchOps {

  private val K1 = 1.2 // BM25 tf saturation; same literal → same double in both engines
  private val B  = 0.75 // length normalization; 3/4 is exactly representable

  /** BM25 top-50 documents for the fixed query {join, vector, scan}.
    *
    * Determinism discipline (same as TF-IDF/perplexity): the only libm
    * call, ln(), is floored to integer nanos ONCE per term
    * (idf_nano); every other step — the length-normalized tf ratio and
    * the idf·ratio product — is a short, identically-ordered chain of
    * correctly-rounded IEEE double ops, then floored to int64 nanos
    * per (doc, term) BEFORE the per-doc sum, so summation order can
    * never move a hash. avgdl is carried as the exact integer pair
    * (total_len, n_docs) rather than a pre-divided double.
    *
    * Scale: df/total_len/n_docs are one vocabulary-sized aggregate
    * (broadcast); scoring is a map over matched postings; the final
    * top-50 is TakeOrderedAndProject (no global sort materialized).
    */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("join", "vector", "scan")
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(sum(col("dl")).as("total_len"), count(lit(1)).as("n_docs"))
    val tf = tok.filter(col("token").isin(qTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      // Robertson-Sparck-Jones idf with the +1 floor (Lucene form): always > 0
      .withColumn("idf_nano",
        floor(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e9).cast("long"))
      // dl/avgdl == dl*n_docs/total_len with one exact int64 product and one double div
      .withColumn("ratio",
        (col("dl") * col("n_docs")).cast("double") / col("total_len"))
      .withColumn("score_nano",
        floor(col("idf_nano") * ((col("tf") * (lit(K1) + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("ratio"))))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("score_nano")) / 1e9, 6).as("bm25"))
      .withColumn("sn", (col("bm25") * 1e6).cast("long"))
      .orderBy(col("sn").desc, col("doc_id"))
      .limit(50)
      .drop("sn")
  }

  /** Inverted index: one row per vocabulary term with document
    * frequency, total term frequency, and a posting list capped at the
    * top-8 documents by (tf DESC, doc_id ASC), serialized "doc:tf".
    *
    * Scale: the posting cap is enforced by a window PARTITIONED BY
    * token (vocabulary-parallel, never global), so per-term state is
    * bounded no matter how many documents a hot term appears in; the
    * full-df/total_tf stats come from the same token-key aggregate the
    * cap ranking uses — one tokenize pass, two token-key shuffles.
    */
  def textPostings(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("token")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    val w = Window.partitionBy("token").orderBy(col("tf").desc, col("doc_id"))
    val top = tf.withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
      .groupBy("token")
      .agg(array_join(transform(array_sort(collect_list(struct(col("rn"), col("doc_id"), col("tf")))),
        e => concat(e("doc_id"), lit(":"), e("tf"))), ",").as("postings"))
    stats.join(top, Seq("token"))
      .select("token", "df", "total_tf", "postings")
      .orderBy("token")
  }

  /** Token co-occurrence with PMI: top-20 token pairs by pointwise
    * mutual information ln(c12·N / (c1·c2)) over document-level
    * incidence, support ≥ 20 docs. Scale control is STRUCTURAL: pairs
    * are generated only within the top-64-df vocabulary (broadcast
    * semi-join prefilter), so the per-document pair fan-out is ≤ 64²/2
    * regardless of corpus vocabulary growth; margins still come from
    * the full vocabulary. PMI follows the ln()-nano discipline
    * (floored once per pair; the ln argument is one exact int64
    * product per side), and the final top-20 is TakeOrderedAndProject.
    */
  def textCooccur(s: SparkSession, dir: String): DataFrame = {
    // r21: one scan + one distinct for the incidence relation
    // (localCheckpoint — the un-checkpointed plan re-read documents 14
    // times and re-ran the distinct 6 times, once per consumer arm),
    // and the margin joins read the 64-row vocab slice instead of
    // broadcasting the FULL-vocabulary margins (surviving pairs have
    // both tokens in the vocab, so the slice carries identical values —
    // and a corpus-vocabulary broadcast is exactly what must not grow
    // with scale).
    val docTok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct()
      .localCheckpoint()
    val margins = docTok.groupBy("token").agg(count(lit(1)).as("c1"))
    val vocabM = margins.orderBy(col("c1").desc, col("token")).limit(64)
      .localCheckpoint()
    val tv = docTok.join(broadcast(vocabM.select("token")), Seq("token"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val pairs = tv.as("a").join(tv.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .groupBy(col("a.token").as("t1"), col("b.token").as("t2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 20)
    pairs
      .join(broadcast(vocabM.select(col("token").as("t1"), col("c1").as("m1"))), Seq("t1"))
      .join(broadcast(vocabM.select(col("token").as("t2"), col("c1").as("m2"))), Seq("t2"))
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi_nano",
        floor(log((col("c12") * col("n_docs")).cast("double")
          / (col("m1") * col("m2")).cast("double")) * 1e9).cast("long"))
      .orderBy(col("pmi_nano").desc, col("t1"), col("t2"))
      .limit(20)
      .select("t1", "t2", "c12", "pmi_nano")
  }

  /** #289 Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009)
    * — THE hybrid-search combiner: for each query term, fuse a lexical
    * ranking (tf desc) with an independent prior ranking (document
    * length desc, standing in for the semantic/recency ranker) by
    * RRF(d) = Σ_r 1/(60 + rank_r(d)), kept integer as 10⁹ div (60+rank)
    * so fusion scores and their ordering are exact; top-5 fused docs
    * per term.
    *
    * Scale: the candidate set per term is the docs CONTAINING the term
    * (the postings row set — the standard fusion input, both rankings
    * over the same candidates so every rank is defined); both rankings
    * are term-PARTITIONED windows over that bounded relation; one
    * explode + one tf aggregate is the only corpus-sized work.
    */
  def rankFusion(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("join", "vector", "scan")
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(qTerms: _*))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"), max(col("n_chars")).as("n_chars"))
    val wA = Window.partitionBy("token").orderBy(desc("tf"), asc("doc_id"))
    val wB = Window.partitionBy("token").orderBy(desc("n_chars"), asc("doc_id"))
    val wF = Window.partitionBy("token").orderBy(desc("fused_nano"), asc("doc_id"))
    tf.withColumn("rank_tf", row_number().over(wA))
      .withColumn("rank_len", row_number().over(wB))
      .withColumn("fused_nano",
        expr("1000000000 div (60 + rank_tf) + 1000000000 div (60 + rank_len)"))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= 5)
      .select(col("token"), col("rank"), col("doc_id"),
        col("rank_tf"), col("rank_len"), col("fused_nano"))
      .orderBy("token", "rank")
  }

  /** #479 Group exposure audit of the quality ranking: per language,
    * the share of position-discounted EXPOSURE (w = 1/log₂(rank+1),
    * the DCG discount) under the corpus-wide quality ranking vs the
    * share of documents, and the disparity between the two — the
    * standard ranking-fairness readout (Singh-Joachims exposure): a
    * language can hold 20% of the corpus but 5% of the exposure if it
    * ranks systematically low, which a mixture/curation decision needs
    * to see BEFORE training on "top-ranked" data.
    *
    * Determinism: ranks come from the shared [[CurationOps.
    * rankedQualityScore]] [[GlobalPrefix]] rank (no data-scale global
    * window; prewarmed); the discount
    * is floored to nano per rank (1e9·ln 2/ln(r+1), rank 1 → exactly
    * 1e9 since ln2/ln2 ≡ 1.0 in FP); shares are exact-integer ppm
    * divisions over exact integer sums. Scale: one memoized-rank read +
    * one doc_id join + a |langs|-row aggregate.
    */
  def rankExposure(s: SparkSession, dir: String): DataFrame = {
    val ranked = CurationOps.rankedQualityScore(s, dir)
    val n = ranked.totals("r")
    val expo = ranked.df.select(col("doc_id"),
        (lit(n) - col("r") + 1L).as("rank_e"))
      .withColumn("w_nano",
        expr("cast(floor(1e9 * ln(2.0) / ln(cast(rank_e + 1 as double))) " +
          "as bigint)"))
    val byLang = expo
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("w_nano")).as("w_sum"))
    val tot = byLang.agg(sum(col("n_docs")).as("n_all"),
      sum(col("w_sum")).as("w_all"))
    byLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr("(n_docs * 1000000) div n_all").as("doc_share_ppm"),
        // DECIMAL staging: w_sum·1e6 would cross int64 around 500k docs
        expr("cast((cast(w_sum as decimal(38,0)) * 1000000) div w_all as long)")
          .as("exposure_share_ppm"))
      .withColumn("disparity_ppm",
        col("exposure_share_ppm") - col("doc_share_ppm"))
      .orderBy("lang")
  }

  /** #480 Rank-biased overlap (p = 0.9, truncated at depth 50) between
    * the QUALITY ranking (chars per token) and the LENGTH ranking
    * (token count) of the corpus: RBO = (1−p)·Σ_{d≤50} p^{d−1}·
    * |A_d ∩ B_d|/d — the top-weighted rank-agreement measure. Kendall/
    * Spearman (#269/#227) weight all positions equally and need
    * conjoint lists; RBO weights the head geometrically and handles
    * non-conjoint top-k lists — the right tool for "do two curation
    * criteria pick the SAME top documents", which is what decides
    * whether a second filter adds signal or redundancy.
    *
    * Determinism: both top-50 lists use total tie-break orders
    * (…, doc_id); overlap counts are exact integers via
    * max(pos_a, pos_b) ≤ d over the full-outer-joined position pairs;
    * the per-depth weight grid W_d = floor(1e11·0.9^{d−1}/d) is the
    * ONLY float staging (pow on identical exact arguments, the #46
    * math-funcs surface), and the truncated-RBO readout Σ overlap_d·
    * W_d is an exact integer at 1e12·RBO scale (div 1e6 → ppm;
    * extrapolation term
    * deliberately omitted — stated truncated-RBO_min semantics).
    * Scale: two TakeOrderedAndProject top-50s; everything after runs
    * on ≤50-row relations (windows bounded by Limit).
    */
  def evalRbo(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .withColumn("score_ppm", expr("(n_chars * 1000000) div n_tokens"))
    def top50(ord: Seq[org.apache.spark.sql.Column], posName: String) = {
      val w = Window.orderBy(ord: _*)
      docs.orderBy(ord: _*).limit(50)
        .withColumn(posName, row_number().over(w).cast("long"))
        .select(col("doc_id"), col(posName))
    }
    val a = top50(Seq(col("score_ppm").desc, col("doc_id")), "pa")
    val b = top50(Seq(col("n_tokens").desc, col("doc_id")), "pb")
    val m = a.join(b, Seq("doc_id"), "full")
      .select(greatest(coalesce(col("pa"), lit(51L)),
        coalesce(col("pb"), lit(51L))).as("md"))
    val spine = s.range(1, 51).select(col("id").as("d"))
      .withColumn("w_d",
        expr("cast(floor(1e11 * pow(0.9, cast(d - 1 as double)) / d) as bigint)"))
    spine.join(m, col("md") <= col("d"), "left")
      .groupBy("d", "w_d")
      .agg(count(col("md")).as("overlap_d"))
      .groupBy(lit(1).as("g"))
      .agg(sum(col("overlap_d") * col("w_d")).as("rbo_e12x"),
        max(when(col("d") === 50, col("overlap_d"))).as("overlap_50"))
      .select(col("overlap_50"),
        expr("cast(rbo_e12x div 1000000 as long)").as("rbo_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eval_rank_exposure" -> (rankExposure _),
    "q_eval_rbo" -> (evalRbo _),
    "q_rank_fusion" -> (rankFusion _),
    "q_text_bm25" -> (textBm25 _),
    "q_text_postings" -> (textPostings _),
    "q_text_cooccur" -> (textCooccur _))

  val oracles: Map[String, String] = Map(
    "q_eval_rank_exposure" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    n_chars
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (
        |      ORDER BY (n_chars * 1000000) // n_tokens DESC, doc_id DESC)
        |      AS BIGINT) AS rank_e
        |  FROM scored),
        |w AS (
        |  SELECT lang,
        |    CAST(FLOOR(1e9 * ln(2.0) / ln(CAST(rank_e + 1 AS DOUBLE)))
        |      AS BIGINT) AS w_nano
        |  FROM r),
        |g AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(w_nano) AS BIGINT) AS w_sum
        |  FROM w GROUP BY lang),
        |t AS (SELECT SUM(n_docs) AS n_all, SUM(CAST(w_sum AS HUGEINT)) AS w_all
        |      FROM g)
        |SELECT lang, n_docs,
        |  CAST((n_docs * 1000000) // (SELECT n_all FROM t) AS BIGINT)
        |    AS doc_share_ppm,
        |  CAST((CAST(w_sum AS HUGEINT) * 1000000) // (SELECT w_all FROM t)
        |    AS BIGINT) AS exposure_share_ppm,
        |  CAST((CAST(w_sum AS HUGEINT) * 1000000) // (SELECT w_all FROM t)
        |    AS BIGINT)
        |  - CAST((n_docs * 1000000) // (SELECT n_all FROM t) AS BIGINT)
        |    AS disparity_ppm
        |FROM g ORDER BY lang""".stripMargin,
    "q_eval_rbo" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    n_chars,
        |    (n_chars * 1000000) // CAST(len(string_split(text, ' ')) AS BIGINT)
        |      AS score_ppm
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |      ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS pa
        |  FROM docs ORDER BY score_ppm DESC, doc_id LIMIT 50),
        |b AS (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |      ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS pb
        |  FROM docs ORDER BY n_tokens DESC, doc_id LIMIT 50),
        |m AS (
        |  SELECT greatest(COALESCE(pa, 51), COALESCE(pb, 51)) AS md
        |  FROM a FULL OUTER JOIN b USING (doc_id)),
        |spine AS (
        |  SELECT unnest(range(1, 51)) AS d),
        |sw AS (
        |  SELECT d, CAST(FLOOR(1e11 * pow(0.9, CAST(d - 1 AS DOUBLE)) / d)
        |    AS BIGINT) AS w_d
        |  FROM spine),
        |o AS (
        |  SELECT sw.d, sw.w_d, CAST(COUNT(m.md) AS BIGINT) AS overlap_d
        |  FROM sw LEFT JOIN m ON m.md <= sw.d
        |  GROUP BY sw.d, sw.w_d),
        |f AS (
        |  SELECT 1 AS g, CAST(SUM(overlap_d * w_d) AS BIGINT) AS rbo_e12x,
        |    MAX(CASE WHEN d = 50 THEN overlap_d END) AS overlap_50
        |  FROM o GROUP BY g)
        |SELECT overlap_50, CAST(rbo_e12x // 1000000 AS BIGINT) AS rbo_ppm
        |FROM f""".stripMargin,
    "q_rank_fusion" ->
      """WITH tf AS (
        |  SELECT token, doc_id, COUNT(*) AS tf, MAX(n_chars) AS n_chars
        |  FROM (
        |    SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  WHERE token IN ('join', 'vector', 'scan')
        |  GROUP BY token, doc_id),
        |r AS (
        |  SELECT token, doc_id,
        |    row_number() OVER (PARTITION BY token
        |      ORDER BY tf DESC, doc_id) AS rank_tf,
        |    row_number() OVER (PARTITION BY token
        |      ORDER BY n_chars DESC, doc_id) AS rank_len
        |  FROM tf),
        |f AS (
        |  SELECT token, doc_id, rank_tf, rank_len,
        |    1000000000 // (60 + rank_tf) + 1000000000 // (60 + rank_len)
        |      AS fused_nano
        |  FROM r)
        |SELECT token, CAST(row_number() OVER (PARTITION BY token
        |    ORDER BY fused_nano DESC, doc_id) AS INTEGER) AS rank,
        |  doc_id, CAST(rank_tf AS INTEGER) AS rank_tf,
        |  CAST(rank_len AS INTEGER) AS rank_len,
        |  CAST(fused_nano AS BIGINT) AS fused_nano
        |FROM f
        |QUALIFY row_number() OVER (PARTITION BY token
        |  ORDER BY fused_nano DESC, doc_id) <= 5
        |ORDER BY token, rank""".stripMargin,
    "q_text_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_len, COUNT(*) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
        |       WHERE token IN ('join', 'vector', 'scan') GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(
        |      CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 1e9) AS BIGINT)
        |      * ((tf * (1.2 + 1.0)) /
        |         (tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl * n_docs AS DOUBLE) / total_len))))
        |    ) AS BIGINT) AS score_nano
        |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN corpus)
        |SELECT doc_id, COUNT(*) AS n_terms,
        |  round(CAST(SUM(score_nano) AS BIGINT) / 1e9, 6) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY CAST(round(CAST(SUM(score_nano) AS BIGINT) / 1e9, 6) * 1e6 AS BIGINT) DESC, doc_id
        |LIMIT 50""".stripMargin,
    "q_text_cooccur" ->
      """WITH tokd AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
        |m AS (SELECT token, COUNT(*) AS c1 FROM tokd GROUP BY token),
        |vocab AS (SELECT token FROM m ORDER BY c1 DESC, token LIMIT 64),
        |tv AS (SELECT tokd.* FROM tokd JOIN vocab USING (token)),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |p AS (
        |  SELECT a.token AS t1, b.token AS t2, COUNT(*) AS c12
        |  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 20),
        |j AS (
        |  SELECT t1, t2, c12,
        |    CAST(floor(ln(CAST(c12 * n_docs AS DOUBLE) / CAST(m1.c1 * m2.c1 AS DOUBLE)) * 1e9) AS BIGINT)
        |      AS pmi_nano
        |  FROM p JOIN m m1 ON p.t1 = m1.token JOIN m m2 ON p.t2 = m2.token CROSS JOIN nd)
        |SELECT t1, t2, c12, pmi_nano FROM j
        |ORDER BY pmi_nano DESC, t1, t2 LIMIT 20""".stripMargin,
    "q_text_postings" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY token, doc_id),
        |stats AS (SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
        |          FROM tf GROUP BY token),
        |ranked AS (
        |  SELECT token, doc_id, tf,
        |    row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
        |  FROM tf),
        |top AS (
        |  SELECT token, string_agg(doc_id || ':' || tf, ',' ORDER BY rn) AS postings
        |  FROM ranked WHERE rn <= 8 GROUP BY token)
        |SELECT token, df, total_tf, postings
        |FROM stats JOIN top USING (token)
        |ORDER BY token""".stripMargin)
}
