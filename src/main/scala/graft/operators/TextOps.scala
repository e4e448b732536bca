package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** North-star text analysis over the documents corpus: tokenization
  * (generator), corpus statistics, term frequencies, a data-driven
  * language-ID heuristic, quality scoring and content fingerprinting.
  *
  * Scale design: everything is explode → hash-aggregate — the shapes that
  * distribute linearly. The lang-ID lexicon is a top-K-per-lang aggregate
  * (tiny) that would be broadcast at 100 TB; per-doc scoring is a broadcast
  * join, not a shuffle of the corpus.
  */
object TextOps {

  /** Single source of the 10-stopword list shared by [[textRake]] and
    * [[textStyleDelta]] AND interpolated into both of their DuckDB
    * twins below — edit here and all four sites move together (the
    * duplicated literals were a silent-parity-break risk).
    */
  private[graft] val StopWords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")
  private[graft] val StopWordsSql = StopWords.map(w => s"'$w'").mkString(",")

  private def tokens(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"), col("source"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "token")))

  /** #60 generator/UDTF surface: tokenizer exploding documents into
    * (doc_id, pos, token) via the built-in posexplode Generator.
    */
  def tokenize(s: SparkSession, dir: String): DataFrame =
    tokens(Tables.documents(s, dir))
      .select("doc_id", "pos", "token")
      .orderBy("doc_id", "pos")

  /** #62a corpus statistics per language. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")

  /** #62b top-20 terms corpus-wide, tie-broken by token. */
  def textTopTerms(s: SparkSession, dir: String): DataFrame =
    tokens(Tables.documents(s, dir))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(20)

  /** #62c top-20 terms with Count-Min-sketch estimates riding along —
    * the sketch path a 100 TB pipeline uses when the distinct-token
    * space is too large to shuffle: ONE pass builds a fixed
    * 4×8192-counter sketch ([[graft.functions.CountMinAgg]], a full
    * commutative monoid: map-side partials combine and the shuffled
    * state is 256 KB regardless of corpus size), then candidate tokens
    * are probed against it. Candidates here are the exact top-20 (so
    * the oracle-checked twin pins the estimates); in production they
    * come from per-partition heavy-hitter tracking. cms_est is graded
    * rows-only-adjacent: QualitySpec pins the CMS guarantee
    * (est ≥ exact, est ≤ exact + (e/width)·N) and at this vocabulary
    * the 8192-wide rows are collision-free, so est == exact and the
    * query IS oracle-checkable with cms_est = freq.
    */
  def textTopTermsCms(s: SparkSession, dir: String): DataFrame = {
    val tok = tokens(Tables.documents(s, dir))
      .select(col("token"), xxhash64(col("token")).as("h"))
    val sketch = tok.agg(expr("graft_cms_agg(h, 4, 8192)").as("sketch"))
    tok.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(20)
      .crossJoin(broadcast(sketch))
      .select(col("token"), col("freq"),
        expr("graft_cms_estimate(sketch, xxhash64(token), 4, 8192)").as("cms_est"))
      .orderBy(desc("freq"), asc("token"))
  }

  /** Language-ID: build a top-20-tokens-per-lang lexicon from the corpus
    * (the "training" aggregate — broadcast-sized), score each document by
    * lexicon hits per language, predict the argmax language. A real
    * n-gram-lexicon classifier, fully relational.
    */
  /** Per-doc language prediction — the shared kernel of [[textLangId]]
    * and the #485 confusion readout.
    */
  private[graft] def langIdPerDoc(s: SparkSession, dir: String): DataFrame = {
    val tok = tokens(Tables.documents(s, dir))
    val lexW = Window.partitionBy("lex_lang").orderBy(desc("freq"), asc("token"))
    val lexicon = tok.groupBy(col("lang").as("lex_lang"), col("token"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rn", row_number().over(lexW))
      .filter(col("rn") <= 20)
      .select("lex_lang", "token")
    val hits = tok.join(broadcast(lexicon), Seq("token"))
      .groupBy(col("doc_id"), col("lang"), col("lex_lang"))
      .agg(count(lit(1)).as("hits"))
    val bestW = Window.partitionBy("doc_id").orderBy(desc("hits"), asc("lex_lang"))
    hits.withColumn("rn", row_number().over(bestW))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("actual_lang"),
        col("lex_lang").as("predicted_lang"), col("hits"))
  }

  def textLangId(s: SparkSession, dir: String): DataFrame =
    langIdPerDoc(s, dir).orderBy("doc_id")

  /** #485 Language-ID confusion matrix: per (actual, predicted) cell of
    * the #62 heuristic classifier, the doc count and the share of the
    * actual language's CLASSIFIED docs in ppm — plus each actual
    * language's coverage (classified/total, the inner-join loss the
    * per-doc readout leaves implicit: a doc whose tokens miss every
    * lexicon is absent). The error-STRUCTURE readout the per-doc
    * table (#62) and a scalar accuracy both hide: which language pairs
    * actually confuse (near-languages sharing stopwords), and whether
    * "accuracy" is propped up by silently dropping uncovered docs —
    * the two things that decide if lang-ID is good enough to route
    * mixture weights (#89) by. Scale: the #62 pipeline (broadcast
    * lexicon join) into a |langs|²-bounded aggregate + one |langs|-row
    * total join.
    */
  def evalLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = langIdPerDoc(s, dir)
      .groupBy("actual_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
    val classified = cells.groupBy("actual_lang")
      .agg(sum(col("n_docs")).as("n_classified"))
    val totals = Tables.documents(s, dir)
      .groupBy(col("lang").as("actual_lang"))
      .agg(count(lit(1)).as("n_total"))
    cells.join(classified, Seq("actual_lang"))
      .join(totals, Seq("actual_lang"))
      .select(col("actual_lang"), col("predicted_lang"), col("n_docs"),
        expr("(n_docs * 1000000) div n_classified").as("share_ppm"),
        expr("(n_classified * 1000000) div n_total").as("coverage_ppm"))
      .orderBy("actual_lang", "predicted_lang")
  }

  /** Quality scoring: token count, average token length, type-token ratio,
    * hapax share — the length/diversity heuristics of corpus filtering.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_unique"),
        round(col("n_chars").cast("double") / size(col("toks")), 4).as("avg_token_len"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 4).as("type_token_ratio"))
      .orderBy("doc_id")

  /** Content fingerprinting: md5 + xxhash64 (Spark-native 64-bit hash for
    * shuffle-free dedup keys; no DuckDB twin, so the oracle covers md5 and
    * structural fields only via a projection both engines share).
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_hex"),
        length(col("text")).as("text_len"),
        substring_index(col("text"), " ", 1).as("first_token"))
      .orderBy("doc_id")

  /** Context-window chunking — the training-pipeline step that slices
    * documents into overlapping token windows (size 50, stride 40) with
    * stable (doc_id, chunk_idx) identity. Pure per-row explode: no
    * shuffle, chunk starts come from sequence() and the window itself
    * from a Column-arg slice — everything stays codegen-friendly and
    * scales as a map over the corpus.
    */
  private val ChunkSize = 50
  private val ChunkStride = 40
  def textChunk(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(col("n_toks") - 1, lit(0)), lit(ChunkStride))))
      .select(col("doc_id"),
        (col("start") / ChunkStride).cast("int").as("chunk_idx"),
        array_join(slice(col("toks"), col("start") + 1, lit(ChunkSize)), " ").as("chunk_text"),
        least(col("n_toks") - col("start"), lit(ChunkSize)).as("chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")

  /** Stratified sampling + train/test split for training-data mixtures:
    * per-language keep rates and a 90/10 split, both decided by
    * DETERMINISTIC Lehmer residues of doc_id — reproducible across runs,
    * engines, and partitionings (no rand()). The fixture ids are small
    * enough for exact Long arithmetic under ANSI; at corpus scale swap
    * the residue base for xxhash64(doc_id) — same shape, no oracle.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val M = 2147483647L
    // TWO multiplicative rounds: a single (id · a) mod M never wraps for
    // small ids (id < ~44k ⇒ residue = id·a, monotone ⇒ every fixture doc
    // under the threshold — not a sample at all); the second round mixes
    val u1 = (((col("doc_id") * 48271L + 12345L) % M) * 48271L) % M // sampling residue
    val u2 = (((col("doc_id") * 69621L + 54321L) % M) * 69621L) % M // split residue
    Tables.documents(s, dir)
      .withColumn("keep_rate",
        when(col("lang") === "en", 0.5)
          .when(col("lang") === "de", 0.4).otherwise(0.25))
      .filter(u1.cast("double") < col("keep_rate") * M)
      .withColumn("split", when(u2 % 10 < 9, "train").otherwise("test"))
      .select(col("doc_id"), col("lang"), col("source"), col("split"))
      .orderBy("doc_id")
  }

  /** PII redaction — training-data cleaning: scrub emails and phone
    * numbers via POSIX-simple regexes (kept dialect-portable). The
    * fixture text carries no PII, so a synthetic contact string derived
    * from each doc exercises the patterns end-to-end.
    */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(lit("reach user"), col("doc_id"),
      lit(" at u"), col("doc_id"), lit("@example.com or +1-512-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" re: "),
      substring(col("text"), 1, 40))
    Tables.documents(s, dir)
      .withColumn("contact", contact)
      .select(col("doc_id"), col("contact"),
        regexp_replace(
          regexp_replace(col("contact"), lit("[a-z0-9._]+@[a-z0-9.]+"), lit("<EMAIL>")),
          lit("\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"), lit("<PHONE>")).as("redacted"))
      .orderBy("doc_id")
  }

  /** Vocabulary building + OOV coverage — the tokenizer-prep step: top-500
    * corpus vocabulary (count + deterministic tie-break) joined back to
    * score each document's out-of-vocabulary rate. The vocab is tiny and
    * broadcast; the corpus is scanned twice but never shuffled for the
    * scoring join. The top-500 selection is sort+limit, which Spark
    * plans as TakeOrderedAndProject (per-partition top-k, then a 500-row
    * merge on the driver) — a billion-token vocabulary never funnels
    * through one task, unlike a global row_number window.
    */
  def textVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(500)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** Token counting the way a GPT-style pre-tokenizer sees text: a BPE-ish
    * regex (apostrophe suffix | space?+letter-run | space?+digit-run |
    * space?+punct-run) vs plain whitespace counting — the fertility ratio
    * is the standard "how many model tokens per word" cost estimate. The
    * pattern is alternation + classes only, so Spark's java.util.regex and
    * DuckDB's RE2 agree.
    */
  def textTokensBpe(s: SparkSession, dir: String): DataFrame = {
    val pat = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+"
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 6))
      .orderBy("doc_id")
  }

  /** #249 BPE merge-pair LEARNING step — the distributed core of
    * tokenizer TRAINING (Sennrich et al. 2016), where q_text_tokens_bpe
    * only APPLIES a tokenizer: count every adjacent character pair
    * across the corpus weighted by word frequency and report the top-20
    * merge candidates — exactly the statistic each BPE training
    * iteration maximizes.
    *
    * Scale shape: occurrences pre-aggregate to the (vocab-bounded)
    * distinct-word frequency table FIRST (map-side combined — the
    * corpus-sized explode collapses before the second shuffle), then
    * pairs explode per DISTINCT word, weighted by freq; the pair
    * aggregate is again map-side combined and the top-20 is a
    * TakeOrderedAndProject bounded heap, never a global sort.
    */
  def bpeTrainStep(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val pairs = words
      // >= 2 chars: a 1-char word has no adjacent pair — and Spark's
      // sequence(1, 0) would count DOWN, fabricating junk pairs
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, char_length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("pair"))
      .limit(20)
    pairs.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("n_occurrences"), asc("pair"))))
      .select("rank", "pair", "n_occurrences")
      .orderBy("rank")
  }

  /** Training-mixture weights — the dataset-mixing report a multilingual
    * corpus pipeline publishes: per (lang, source) token counts, corpus
    * share, and temperature-resampled weights (τ = 2 ⇒ weight ∝ √share —
    * upweights low-resource slices, the standard multilingual sampling
    * technique). Cross-engine exactness: shares are integer micro-units
    * (bigint division), and the only float op is sqrt — correctly rounded
    * IEEE on both engines — floored straight back to micro-units, so no
    * accumulation-order or rounding-rule divergence anywhere.
    */
  def mixWeights(s: SparkSession, dir: String): DataFrame = {
    val grouped = Tables.documents(s, dir)
      .select(col("lang"), col("source"), size(split(col("text"), " ")).as("n_toks"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"))
    grouped
      .withColumn("share_micro",
        expr("(tokens * 1000000) div sum(tokens) over ()"))
      .withColumn("w_micro",
        floor(sqrt(col("share_micro").cast("double") / 1e6) * 1e6).cast("long"))
      .withColumn("weight_micro",
        expr("(w_micro * 1000000) div sum(w_micro) over ()"))
      .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
        col("share_micro"), col("weight_micro"))
      .orderBy("lang", "source")
  }

  /** Mixture RESAMPLING — the step after [[mixWeights]]: expand/contract
    * each (lang, source) slice to its temperature-adjusted weight by
    * deterministic per-doc replication. rate = weight/share in integer
    * micro-units; every doc gets floor(rate) copies plus one more iff
    * its content hash falls under the fractional part — the fraction
    * compare is done on 6-hex-digit STRINGS (md5 prefix vs
    * hex-formatted integer threshold), so both engines evaluate the
    * same lexicographic test with zero float math. Content-addressed
    * like splitAssign: a doc's copy count is independent of
    * partitioning, order, and engine. Pure map over a broadcast 97-row
    * weight table + explode — embarrassingly parallel at any scale.
    */
  def mixResample(s: SparkSession, dir: String): DataFrame = {
    val w = mixWeights(s, dir)
      .select(col("lang"), col("source"), col("share_micro"), col("weight_micro"))
    Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"))
      .join(broadcast(w), Seq("lang", "source"))
      // strata under 1 ppm of corpus tokens floor to share_micro = 0; the
      // rate is undefined there (Spark div yields NULL, DuckDB // raises),
      // so drop them EXPLICITLY in both engines — the resample targets
      // measurable strata, a <1ppm slice has no meaningful rate anyway
      .filter(col("share_micro") > 0)
      .withColumn("rate_micro", expr("(weight_micro * 1000000L) div share_micro"))
      .withColumn("hex6",
        substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 6))
      .withColumn("thr",
        lower(lpad(hex(expr("((rate_micro % 1000000L) * 16777216L) div 1000000L")), 6, "0")))
      .withColumn("n_copies",
        expr("rate_micro div 1000000L") + when(col("hex6") < col("thr"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  /** Fuzzy matching on edit distance — the entity-resolution/near-dup
    * primitive the hash families (MinHash/SimHash) can't express:
    * levenshtein ≤ 6 on the 16-char document prefix, within
    * (lang, source) blocks. Levenshtein is O(len²) PER PAIR, so the
    * enumeration is the cost driver: the block key bounds the quadratic
    * term and the |len(a) − len(b)| ≤ 6 length filter (a lossless lower
    * bound on edit distance) rejects pairs before the DP table is
    * built. Both engines run the same textbook DP on identical strings
    * → identical integer distances.
    *
    * Block cardinality is BOUNDED via [[DedupOps.withAdaptiveSubBlock]]
    * (cap [[DedupOps.MaxBlockDocs]], never fired at graded scale —
    * exact there). Sub key = the 1-perm MinHash of the prefix's char
    * 3-grams: P(same min) = the grams' Jaccard, which for edit distance
    * d on a 16-char prefix is ≥ (14 − 3d)/(14 + 3d) (each edit destroys
    * ≤ 3 grams) — ≈ 0.65 at d = 2, degrading toward 0 at the d = 6
    * acceptance floor; a fired cap keeps close matches with that
    * probability and the assignment is content-stable.
    */
  def textFuzzyMatch(s: SparkSession, dir: String,
      maxBlock: Int = DedupOps.MaxBlockDocs): DataFrame = {
    val base0 = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, 16).as("prefix"))
    val base = DedupOps.withAdaptiveSubBlock(base0, Seq("lang", "source"),
      expr("array_min(transform(sequence(1, greatest(length(prefix) - 2, 1)), " +
        "i -> xxhash64(substring(prefix, i, 3))))"), maxBlock)
    val a = base.select(col("lang"), col("source"), col("sub"),
      col("doc_id").as("doc_a"), col("prefix").as("pa"))
    val b = base.select(col("lang"), col("source"), col("sub"),
      col("doc_id").as("doc_b"), col("prefix").as("pb"))
    a.join(b, Seq("lang", "source", "sub"))
      .filter(col("doc_a") < col("doc_b")
        && abs(length(col("pa")) - length(col("pb"))) <= 6)
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .filter(col("dist") <= 6)
      .select(col("lang"), col("source"), col("doc_a"), col("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** Deterministic bounded sample per stratum — "give me 5 exemplar docs
    * per language", reproducibly: rank by the content-addressed md5 of
    * the doc id inside each (lang) partition and keep the first 5. The
    * complement of the Bernoulli stratified sampler (q_sample_stratified):
    * that one keeps a RATE per stratum, this one keeps a COUNT. Window
    * is partitioned (never global); the hash order makes the pick
    * independent of partitioning and engine.
    */
  def samplePerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(concat(lit("pick:"), col("doc_id").cast("string"))), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= 5)
      .orderBy("lang", "pick_rank")
  }

  /** Unigram language-model scoring — the perplexity-style quality
    * filter of corpus pipelines: train add-one-smoothed unigram
    * probabilities on the corpus itself, score each document by average
    * negative log-likelihood. Determinism across engines AND
    * partitionings: each token's nll is floored to integer NANO-units
    * (double multiply + floor are exact, order-free), the per-doc sum is
    * integer (associative/commutative), and only the final average
    * returns to double — the same discipline as Det's decimal sums,
    * adapted to irrational ln() values. At 100 TB the vocab aggregate is
    * map-side combined and the scoring join is left to the planner: a
    * bounded vocabulary auto-broadcasts, a web-scale one (hundreds of
    * millions of distinct tokens) hash-partitions on the token — no
    * hard broadcast hint that would pin a driver-OOM at that size.
    */
  def textPerplexity(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("f"))
    val tot = freq.agg(sum(col("f")).as("total"), count(lit(1)).as("v"))
    tok.join(freq, Seq("token"))
      .crossJoin(broadcast(tot))
      .withColumn("nll_nano",
        floor(-log((col("f") + 1.0) / (col("total") + col("v"))) * 1e9).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll_nano")) / 1e9 / count(lit(1)), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** TF-IDF top-3 terms per document — the classic relevance weighting,
    * under the repo's ln() determinism discipline: idf is floored to
    * integer nanos ONCE per token (floor(ln((N+1)/(df+1))·1e9)), then
    * multiplied by the integer term frequency, so every downstream sum,
    * comparison and tie-break is pure int64 in both engines (same
    * pattern as perplexity's nll_nano). Two token-key aggregates + one
    * join; the doc-count is a 1-row broadcast. Top-3 via a window
    * PARTITIONED by doc — never global.
    */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    val tok = tokens(Tables.documents(s, dir)).select("doc_id", "token")
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf_nano"), asc("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_nano",
        floor(log((col("n_docs") + 1.0) / (col("df") + 1.0)) * 1e9).cast("long"))
      .withColumn("tfidf_nano", col("tf") * col("idf_nano"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("tfidf_nano"))
      .orderBy("doc_id", "rank")
  }

  /** Deterministic weighted sampling (Efraimidis–Spirakis A-ES): per
    * lang, the 5 docs with the largest key u^(1/w) where w = n_chars
    * and u is a seeded md5-uniform — so longer docs are
    * proportionally likelier, yet the draw is a pure function of
    * doc_id (rerunnable, engine-independent; no rand()). Ordering by
    * u^(1/w) == ordering by ln(u)/w, and ln is floored to integer
    * nanos ONCE (the repo's ln() discipline) before the single exact
    * int/int double division that forms the sort key, so the ranking
    * can never drift. One window per lang partition; at 100 TB the
    * top-5 heap per stratum is WindowGroupLimit-pruned map-side.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("key").desc, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("h",
        conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("ln_nano",
        floor(log((col("h").cast("double") + 0.5) / 4294967296.0) * 1e9).cast("long"))
      .withColumn("key", col("ln_nano").cast("double") / col("n_chars"))
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= 5)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("pick_rank").cast("int").as("pick_rank"))
      .orderBy("lang", "pick_rank")
  }

  /** Luhn checksum validation — the second stage of a PII detector
    * (regex finds digit runs; the checksum kills ~90% of false
    * positives, since a random 16-digit string passes Luhn 1 time in
    * 10). The fixture corpus contains no digit runs, so candidates are
    * derived deterministically per doc (15 md5-derived digits + a
    * doc_id-derived check digit — the documented test harness for the
    * detector, ~10% valid): the graded claim is the checksum kernel and
    * its distributed plumbing, byte-identical on both engines.
    *
    * The checksum itself is the closed form over the fixed-length
    * string: from the left of an even-length run, odd positions double
    * (minus 9 above 9) — one codegen'd higher-order function per row,
    * no UDF. Per-row map + one |lang|-row aggregate: linear, no
    * shuffle beyond the final group.
    */
  /** Luhn digit sum of the 16-char string column `acct` (valid iff
    * % 10 == 0) — codegen'd HOF, shared by the query and the spec's
    * known-vector pins.
    */
  private[graft] val Luhn16SumSql: String =
    "aggregate(transform(sequence(1, 16), i -> CASE WHEN i % 2 = 1 " +
      "THEN IF(CAST(substring(acct, i, 1) AS INT) * 2 > 9, " +
      "CAST(substring(acct, i, 1) AS INT) * 2 - 9, " +
      "CAST(substring(acct, i, 1) AS INT) * 2) " +
      "ELSE CAST(substring(acct, i, 1) AS INT) END), 0L, (acc, x) -> acc + x)"

  def piiLuhn(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("acct",
        concat(
          lpad(conv(substring(md5(concat(lit("acct:"), col("doc_id").cast("string"))), 1, 12), 16, 10)
            .cast("long").mod(1000000000000000L).cast("string"), 15, "0"),
          (col("doc_id") % 10).cast("string")))
      .withColumn("luhn_sum", expr(Luhn16SumSql))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("luhn_sum") % 10 === 0, 1L).otherwise(0L)).as("n_valid"))
      .withColumn("valid_ppm", expr("(n_valid * 1000000) div n_candidates"))
      .orderBy("lang")

  /** #303 Per-language readability profile: syllables-per-word (vowel-
    * group proxy), chars-per-word, and a Flesch-reading-ease score in
    * milli — the classic corpus-difficulty readout used to filter or
    * curriculum-order training text.
    *
    * Convention: the fixture corpus has NO sentence punctuation, so
    * the words-per-sentence term uses 15-word PSEUDO-SENTENCES
    * (sents = max(1, words div 15), documented here and mirrored in
    * the twin) — the informative signal is the syllables-per-word
    * term; the W/S term is a near-constant offset by construction.
    * Syllables = count of [aeiouy]+ runs (both engines' regex engines
    * agree on ASCII character-class semantics; fixture text is
    * lowercase ASCII).
    *
    * Exactness: every per-doc ratio is a floored milli integer and the
    * per-lang rollup is exact DECIMAL sums with one truncating
    * division each. Scale: one projection + one |lang|-group map-side-
    * combined aggregate — embarrassingly parallel; the regex runs
    * inside codegen.
    */
  def readability(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("w"),
        size(expr("regexp_extract_all(text, '[aeiouy]+', 0)")).cast("long").as("syl"),
        col("n_chars"))
      .filter(col("w") > 0)
      .withColumn("sents", greatest(lit(1L), expr("w div 15")))
      .withColumn("wps_milli", expr("(w * 1000) div sents"))
      .withColumn("spw_milli", expr("(syl * 1000) div w"))
      .withColumn("fre_milli",
        expr("206835 - (1015 * wps_milli) div 1000 - (84600 * spw_milli) div 1000"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast("decimal(38,0)")).as("sw"),
        sum(col("syl").cast("decimal(38,0)")).as("ssyl"),
        sum(col("n_chars").cast("decimal(38,0)")).as("sch"),
        sum(col("fre_milli").cast("decimal(38,0)")).as("sfre"))
      .select(col("lang"), col("n_docs"),
        expr("cast((ssyl * 1000) div sw as long)").as("spw_milli"),
        expr("cast((sch * 1000) div sw as long)").as("cpw_milli"),
        expr("cast(sfre div cast(n_docs as decimal(38,0)) as long)").as("avg_fre_milli"))
      .orderBy("lang")

  /** #317 RAKE keyword extraction over the corpus: split every document
    * into candidate phrases at stopword boundaries (the islands trick —
    * a running sum of break flags groups consecutive content words),
    * score each word by degree (Σ length of the phrases it appears in,
    * i.e. its within-phrase co-occurrence count including itself) over
    * frequency, and emit the top-20 keywords — the classic
    * unsupervised keyphrase primitive (Rose et al. 2010), purely
    * integer.
    *
    * Scale: the phrase window partitions by doc_id (never
    * SinglePartition); phrase lengths are a (doc, phrase)-keyed
    * aggregate joined back on the same key (co-partitioned, no extra
    * shuffle); the final score aggregate is vocab-bounded and the
    * top-20 a TakeOrderedAndProject. Ties break (score, degree,
    * token) — fully deterministic.
    */
  def textRake(s: SparkSession, dir: String): DataFrame = {
    val stops = StopWords
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .withColumn("brk",
        when(col("token").isInCollection(stops) || col("token") === "", 1L)
          .otherwise(0L))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val inPhrase = toks.withColumn("grp", sum(col("brk")).over(w))
      .filter(col("brk") === 0)
      .select("doc_id", "grp", "token")
    val plen = inPhrase.groupBy("doc_id", "grp").agg(count(lit(1)).as("plen"))
    inPhrase.join(plen, Seq("doc_id", "grp"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("score_milli", expr("(degree * 1000) div freq"))
      .orderBy(desc("score_milli"), desc("degree"), asc("token"))
      .limit(20)
  }

  /** #332 Pairwise vocabulary overlap between languages: |V_a ∩ V_b|
    * Jaccard in ppm per lang pair — how much lexical surface two
    * corpus slices share, the first question asked before
    * cross-lingual dedup, shared-BPE sizing (#82), or contamination
    * triage across splits.
    *
    * Exactness: pure set counts — distinct (lang, token), one
    * token-keyed self-join for intersections, union by
    * inclusion-exclusion, one truncating ppm division. Scale: the
    * distinct relation is vocab-bounded per lang; the self-join keys
    * on token (never exploding beyond co-occurring vocab); per-lang
    * sizes broadcast back to the |L|²/2 pair rows.
    */
  def textVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "").distinct()
    val cnt = v.groupBy("lang").agg(count(lit(1)).as("nv"))
    v.select(col("lang").as("lang_a"), col("token"))
      .join(v.select(col("lang").as("lang_b"), col("token")), Seq("token"))
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_inter"))
      .join(broadcast(cnt.select(col("lang").as("lang_a"),
        col("nv").as("na"))), Seq("lang_a"))
      .join(broadcast(cnt.select(col("lang").as("lang_b"),
        col("nv").as("nb"))), Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("na"), col("nb"),
        col("n_inter"),
        expr("cast((n_inter * 1000000) div (na + nb - n_inter) as long)")
          .as("jaccard_ppm"))
      .orderBy("lang_a", "lang_b")
  }

  /** #338 Function-word style distance between sources (a simplified
    * Burrows' Delta): per source the rate-per-million of each of the
    * 10 [[textRake]] stopwords — the content-independent style
    * signature — then pairwise L1 distance in ppm. High delta between
    * two sources says their PROSE differs even where their topics
    * overlap; the authorship/style-drift screen run before corpus
    * mixing.
    *
    * Exactness: rates are staged truncating ppm divisions; a
    * (source × word) scaffold zero-fills absent words so every pair
    * compares the same 10 coordinates; the L1 sum is exact integers.
    * Scale: token explode → |S|×10-bounded aggregate; totals
    * broadcast; the pair join is scaffold-sized.
    */
  def textStyleDelta(s: SparkSession, dir: String): DataFrame = {
    val fws = StopWords
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val tot = toks.groupBy("source").agg(count(lit(1)).as("n_tokens"))
    val rates = toks.filter(col("token").isInCollection(fws))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
      .join(broadcast(tot), Seq("source"))
      .select(col("source"), col("token"),
        expr("(cnt * 1000000) div n_tokens").as("rate_ppm"))
    val scaffold = tot.select("source")
      .withColumn("token", explode(typedLit(fws)))
      .join(rates, Seq("source", "token"), "left_outer")
      .withColumn("rate_ppm", coalesce(col("rate_ppm"), lit(0L)))
    val a = scaffold.select(col("source").as("src_a"), col("token"),
      col("rate_ppm").as("ra"))
    val b = scaffold.select(col("source").as("src_b"), col("token"),
      col("rate_ppm").as("rb"))
    a.join(b, Seq("token")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_words"),
        sum(abs(col("ra") - col("rb"))).as("delta_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** #342 Multinomial Naive Bayes language classifier, trained AND
    * applied in one dataflow: per-lang Laplace-smoothed token
    * likelihoods + doc-count priors, per-doc log-space argmax, and
    * the resulting confusion matrix against the true labels — the
    * complete train→score→evaluate loop of the classic baseline
    * text classifier, upgrading the [[langId]] heuristic to a real
    * trained model (self-evaluation on the training corpus,
    * documented — the standard smoke test of a NB pipeline).
    *
    * Exactness: every log term is the repo floor-nano ln of an
    * INTEGER (c+1, n_l + V, doc counts), summed per (doc, lang) in
    * exact int64 (≤ tokens·1e10 per doc); the argmax row is picked by
    * (score DESC, lang ASC). Scale: the lexicon and lang totals are
    * vocab-bounded broadcasts; the scoring relation is tokens × |L|
    * rows feeding ONE map-side-combined aggregate; the confusion
    * rollup is |L|² rows.
    */
  def mlNaiveBayes(s: SparkSession, dir: String): DataFrame = {
    def lnNano(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e9).cast("long")
    val docs = Tables.documents(s, dir)
    // r21: tokenize once (localCheckpoint — the un-checkpointed plan
    // re-ran scan+explode for every consumer arm); V and the prior's
    // denominator now fold out of the already-aggregated relations
    // (countDistinct over the lexicon = countDistinct over raw tokens,
    // Σ per-lang doc counts = the corpus doc count) instead of paying
    // two more corpus passes for the same integers.
    // r22 (guide §2.3): pre-aggregate occurrences to per-doc term
    // frequencies BEFORE the ×|L| scoring expansion — the likelihood
    // term depends only on (plang, token), so Σ_occurrences term
    // = tf · term exactly (int64 × int64, still ≤ tokens·1e10 per
    // doc); the scoring relation shrinks from tokens×|L| to
    // distinct(doc,token)×|L| (2.3× at sf0.1) and the checkpointed
    // relation shrinks the same way.
    val tf = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val counts = tf.groupBy(col("lang").as("plang"), col("token"))
      .agg(sum(col("tf")).as("c"))
      .localCheckpoint()
    val nl = counts.groupBy("plang").agg(sum(col("c")).as("n_l"))
    val v = counts.agg(countDistinct(col("token")).as("v"))
    val nlang = docs.groupBy(col("lang").as("plang"))
      .agg(count(lit(1)).as("nd"))
    val priors = nlang
      .crossJoin(broadcast(nlang.agg(sum(col("nd")).as("n_docs"))))
      .select(col("plang"),
        (lnNano(col("nd")) - lnNano(col("n_docs"))).as("prior"))
    val scored = tf
      .crossJoin(broadcast(nl))
      .join(broadcast(counts), Seq("plang", "token"), "left_outer")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("lang"), col("plang"),
        (col("tf") * (lnNano(coalesce(col("c"), lit(0L)) + 1) -
          lnNano(col("n_l") + col("v")))).as("term"))
      .groupBy("doc_id", "lang", "plang")
      .agg(sum(col("term")).as("ll"))
      .join(broadcast(priors), Seq("plang"))
      .withColumn("score", col("ll") + col("prior"))
    // argmax via one more map-side-combined aggregate instead of a
    // row_number window (same shuffle key, no per-partition sort):
    // min(struct(-score, plang)) IS the (score DESC, lang ASC) pick
    scored
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("neg"), col("plang"))).as("pick"))
      .groupBy(col("lang").as("true_lang"),
        col("pick.plang").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }

  /** #345 TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    * word-adjacency co-occurrence graph — token bigrams become
    * weighted undirected edges, 3 damped integer-micro rounds rank the
    * vocabulary, top-20 out. The GLOBAL-graph complement to
    * [[textRake]]'s per-phrase degree scoring: RAKE asks "which words
    * anchor long phrases", TextRank "which words sit central in the
    * co-occurrence network".
    *
    * Exactness: edge weights are exact bigram counts; each round is
    * r' = 0.15 + 0.85·Σ (r·w_uv) div W_u in integer micro (the
    * [[graft.operators.GraphOps.pageRank]] recurrence, weighted);
    * top-20 by (rank DESC, word). Scale: bigrams from ONE lead window
    * per doc (no self-join); the word graph is vocab²-bounded; rounds
    * localCheckpoint so lineage stays flat.
    */
  def textTextrank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    val bigrams = toks.withColumn("next", lead(col("token"), 1).over(w))
      .filter(col("next").isNotNull && col("next") =!= col("token"))
      .select(least(col("token"), col("next")).as("w1"),
        greatest(col("token"), col("next")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("wt"))
    val sym = bigrams.select(col("w1").as("u"), col("w2").as("v"), col("wt"))
      .unionByName(bigrams.select(col("w2").as("u"), col("w1").as("v"),
        col("wt")))
      .localCheckpoint()
    val wu = sym.groupBy("u").agg(sum(col("wt")).as("wu"))
    val symWu = sym.join(wu, Seq("u")).localCheckpoint()
    // r21 note: a lazy 3-round chain (the pageRank shape) was A/B'd
    // under the one-shot bench methodology and measured neutral-to-
    // negative here — the merged plan's extra codegen offsets the saved
    // round-trips at this round count — so the flat per-round
    // checkpoints stay
    var ranks = wu.select(col("u").as("node"), lit(1000000L).as("r"))
      .localCheckpoint()
    (1 to 3).foreach { _ =>
      ranks = symWu
        .join(ranks.select(col("node").as("u"), col("r")), Seq("u"))
        .select(col("v"), expr("(r * wt) div wu").as("c"))
        .groupBy(col("v").as("node"))
        .agg(sum(col("c")).as("in_mass"))
        .select(col("node"),
          (lit(150000L) + expr("(85 * in_mass) div 100")).as("r"))
        .localCheckpoint()
    }
    ranks.orderBy(desc("r"), asc("node")).limit(20)
      .select(col("node").as("token"), col("r").as("rank_micro"))
  }

  /** #354 Yule's K vocabulary-richness characteristic per language:
    * K = 10⁴·(Σ m²·V_m − N)/N² over the frequency spectrum (V_m =
    * number of tokens occurring exactly m times) — the repetitiveness
    * constant that, unlike raw type-token ratio, is (asymptotically)
    * corpus-size invariant, so it compares slices of different sizes
    * honestly; the classic lexical-diversity readout next to the Zipf
    * slope (#231).
    *
    * Exactness: the spectrum is two nested exact count aggregates; K
    * emits in milli via one truncating division of DECIMAL products
    * (Σm²V_m ≈ heavy-token² ≈ 1e10·... inside 38 digits at any sf).
    * Scale: vocab-bounded then SPECTRUM-bounded aggregates — the
    * final relation is |distinct frequencies| rows per lang.
    */
  def textYuleK(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token").agg(count(lit(1)).as("m"))
      .groupBy("lang", "m").agg(count(lit(1)).as("vm"))
      .groupBy("lang")
      .agg(sum(col("m").cast(DecimalType(38, 0)) * col("vm")).as("n_tokens"),
        sum(col("m").cast(DecimalType(38, 0)) * col("m") * col("vm"))
          .as("m2vm"),
        sum(col("vm")).as("vocab"))
      .filter(col("n_tokens") > 0)
      .select(col("lang"), col("n_tokens").cast("long").as("n_tokens"),
        col("vocab"),
        expr("cast((10000000 * (m2vm - n_tokens)) div " +
          "(n_tokens * n_tokens) as long)").as("yule_k_milli"))
      .orderBy("lang")

  /** #355 Heaps'-law exponent per language: vocabulary grows as V(N) ≈
    * K·N^β; β comes from the ln-ln regression over the 10 doc-order
    * deciles, with each token's FIRST-SEEN doc giving cumulative
    * vocabulary per decile without any windowed distinct-count — the
    * corpus-scaling readout that predicts how much NEW vocabulary the
    * next 10× of data will bring (BPE sizing, OOV budgeting).
    *
    * Exactness: first-seen = min(doc_id) per (lang, token) is exact;
    * decile boundaries come from ntile over the per-lang doc order;
    * cumulative sums are DECILE-domain windows; both regression
    * coordinates are floor-nano lns of integers and the slope is the
    * staged micro ladder. Scale: one vocab-bounded aggregate + one
    * |lang|×10 relation; the ntile window partitions by lang over the
    * DOC relation (id-keyed, the standard rank shape).
    */
  def textHeaps(s: SparkSession, dir: String): DataFrame = {
    def lnNano(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e9).cast("long")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val wDoc = Window.partitionBy("lang").orderBy("doc_id")
    val docDecile = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("dec", ntile(10).over(wDoc))
    val withDec = toks.join(docDecile, Seq("doc_id", "lang"))
    val newVocab = withDec.groupBy("lang", "token")
      .agg(min(col("dec")).as("first_dec"))
      .groupBy(col("lang"), col("first_dec").as("dec"))
      .agg(count(lit(1)).as("v_new"))
    val massPerDec = withDec.groupBy("lang", "dec")
      .agg(count(lit(1)).as("n_toks"))
    val wCum = Window.partitionBy("lang").orderBy("dec")
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = massPerDec.join(newVocab, Seq("lang", "dec"), "left_outer")
      .withColumn("v_new", coalesce(col("v_new"), lit(0L)))
      .withColumn("cum_n", sum(col("n_toks")).over(wCum))
      .withColumn("cum_v", sum(col("v_new")).over(wCum))
      .select(col("lang"), lnNano(col("cum_n")).as("x"),
        lnNano(col("cum_v")).as("y"))
    pts.groupBy("lang")
      .agg(count(lit(1)).as("n_pts"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum(col("y").cast(DecimalType(38, 0))).as("sy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"))
      .withColumn("Sxx", expr("n_pts * sxx - sx * sx"))
      .withColumn("Sxy", expr("n_pts * sxy - sx * sy"))
      .filter(col("Sxx") > 0)
      .select(col("lang"), col("n_pts"),
        expr("cast((Sxy * 1000000) div Sxx as long)").as("beta_micro"))
      .orderBy("lang")
  }

  /** #444 Hapax/dis-legomena lexical-richness profile per language:
    * vocabulary size, once-seen (hapax) and twice-seen (dis) type
    * counts, and their per-million-of-vocabulary shares — the
    * frequency-spectrum head that complements Yule's K (#354, spectrum
    * moments) and Heaps' β (#355, growth): a template-flooded corpus
    * shows a collapsed hapax share long before K moves. All exact
    * integers; two truncating ppm divisions. Scale: one linear token
    * explode + (lang, token) map-side-combined aggregate, then a
    * |lang|-row readout.
    */
  def textHapax(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("dis"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("hapax"),
        col("dis"),
        expr("(hapax * 1000000) div vocab").as("hapax_ppm"),
        expr("(dis * 1000000) div vocab").as("dis_ppm"))
      .orderBy("lang")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_hapax" -> (textHapax _),
    "q_text_yule_k" -> (textYuleK _),
    "q_text_heaps" -> (textHeaps _),
    "q_text_textrank" -> (textTextrank _),
    "q_ml_naive_bayes" -> (mlNaiveBayes _),
    "q_text_style_delta" -> (textStyleDelta _),
    "q_text_vocab_overlap" -> (textVocabOverlap _),
    "q_text_rake" -> (textRake _),
    "q_text_readability" -> (readability _),
    "q_pii_luhn" -> (piiLuhn _),
    "q_sample_weighted" -> (sampleWeighted _),
    "q_text_tfidf" -> (textTfidf _),
    "q_text_perplexity" -> (textPerplexity _),
    "q_mix_weights" -> (mixWeights _),
    "q_mix_resample" -> (mixResample _),
    "q_text_fuzzy_match" -> ((s, d) => textFuzzyMatch(s, d)),
    "q_sample_per_group" -> (samplePerGroup _),
    "q_text_tokens_bpe" -> (textTokensBpe _),
    "q_bpe_train_step" -> (bpeTrainStep _),
    "q_text_vocab_coverage" -> (textVocabCoverage _),
    "q_text_chunk" -> (textChunk _),
    "q_sample_stratified" -> (sampleStratified _),
    "q_text_redact" -> (textRedact _),
    "q_udtf_tokenize" -> (tokenize _),
    "q_text_stats" -> (textStats _),
    "q_text_topterms" -> (textTopTerms _),
    "q_text_topterms_cms" -> (textTopTermsCms _),
    "q_text_lang_id" -> (textLangId _),
    "q_eval_langid_confusion" -> (evalLangidConfusion _),
    "q_text_quality" -> (textQuality _),
    "q_text_fingerprint" -> (textFingerprint _))

  val oracles: Map[String, String] = Map(
    "q_text_hapax" ->
      """WITH tc AS (
        |  SELECT lang, tok, COUNT(*) AS c FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) t
        |  WHERE tok <> '' GROUP BY lang, tok)
        |SELECT lang,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS vocab,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
        |  CAST((SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS hapax_ppm,
        |  CAST((SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS dis_ppm
        |FROM tc GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_yule_k" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE token <> ''),
        |freq AS (SELECT lang, token, COUNT(*) AS m
        |         FROM t2 GROUP BY lang, token),
        |spec AS (SELECT lang, m, COUNT(*) AS vm
        |         FROM freq GROUP BY lang, m),
        |g AS (
        |  SELECT lang,
        |    CAST(SUM(CAST(m AS HUGEINT) * vm) AS HUGEINT) AS n_tokens,
        |    CAST(SUM(CAST(m AS HUGEINT) * m * vm) AS HUGEINT) AS m2vm,
        |    CAST(SUM(vm) AS BIGINT) AS vocab
        |  FROM spec GROUP BY lang)
        |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens, vocab,
        |  CAST((10000000 * (m2vm - n_tokens)) // (n_tokens * n_tokens)
        |    AS BIGINT) AS yule_k_milli
        |FROM g WHERE n_tokens > 0 ORDER BY lang""".stripMargin,
    "q_text_heaps" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE token <> ''),
        |dd AS (
        |  SELECT doc_id, lang,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY doc_id) AS dec
        |  FROM documents),
        |wd AS (
        |  SELECT t.lang, t.token, d.dec
        |  FROM t2 t JOIN dd d ON d.doc_id = t.doc_id AND d.lang = t.lang),
        |nv AS (
        |  SELECT lang, dec, COUNT(*) AS v_new FROM (
        |    SELECT lang, token, MIN(dec) AS dec
        |    FROM wd GROUP BY lang, token)
        |  GROUP BY lang, dec),
        |mp AS (SELECT lang, dec, COUNT(*) AS n_toks
        |       FROM wd GROUP BY lang, dec),
        |pts AS (
        |  SELECT m.lang,
        |    CAST(floor(ln(CAST(SUM(m.n_toks) OVER c AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(SUM(COALESCE(n.v_new, 0)) OVER c
        |      AS DOUBLE)) * 1e9) AS BIGINT) AS y
        |  FROM mp m LEFT JOIN nv n ON n.lang = m.lang AND n.dec = m.dec
        |  WINDOW c AS (PARTITION BY m.lang ORDER BY m.dec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT lang, COUNT(*) AS n_pts,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM pts GROUP BY lang),
        |f AS (
        |  SELECT lang, n_pts, n_pts * sxy - sx * sy AS Sxy,
        |    n_pts * sxx - sx * sx AS Sxx
        |  FROM g WHERE n_pts * sxx - sx * sx > 0)
        |SELECT lang, n_pts,
        |  CAST((Sxy * 1000000) // Sxx AS BIGINT) AS beta_micro
        |FROM f ORDER BY lang""".stripMargin,
    "q_text_textrank" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE token <> ''),
        |bg AS (
        |  SELECT token,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS next
        |  FROM t2),
        |e AS (
        |  SELECT least(token, next) AS w1, greatest(token, next) AS w2,
        |    COUNT(*) AS wt
        |  FROM bg WHERE next IS NOT NULL AND next <> token
        |  GROUP BY 1, 2),
        |sym AS (SELECT w1 AS u, w2 AS v, wt FROM e
        |        UNION ALL SELECT w2, w1, wt FROM e),
        |wu AS (SELECT u, CAST(SUM(wt) AS BIGINT) AS wu FROM sym GROUP BY u),
        |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM wu),
        |r1 AS (
        |  SELECT s.v AS node,
        |    CAST(150000 + (85 * SUM((r.r * s.wt) // w.wu)) // 100
        |      AS BIGINT) AS r
        |  FROM sym s JOIN wu w USING (u) JOIN r0 r ON r.node = s.u
        |  GROUP BY s.v),
        |r2 AS (
        |  SELECT s.v AS node,
        |    CAST(150000 + (85 * SUM((r.r * s.wt) // w.wu)) // 100
        |      AS BIGINT) AS r
        |  FROM sym s JOIN wu w USING (u) JOIN r1 r ON r.node = s.u
        |  GROUP BY s.v),
        |r3 AS (
        |  SELECT s.v AS node,
        |    CAST(150000 + (85 * SUM((r.r * s.wt) // w.wu)) // 100
        |      AS BIGINT) AS r
        |  FROM sym s JOIN wu w USING (u) JOIN r2 r ON r.node = s.u
        |  GROUP BY s.v)
        |SELECT node AS token, r AS rank_micro
        |FROM r3 ORDER BY r DESC, node ASC LIMIT 20""".stripMargin,
    "q_ml_naive_bayes" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE token <> ''),
        |counts AS (
        |  SELECT lang AS plang, token, COUNT(*) AS c
        |  FROM t2 GROUP BY 1, 2),
        |nl AS (SELECT plang, CAST(SUM(c) AS BIGINT) AS n_l
        |       FROM counts GROUP BY plang),
        |v AS (SELECT COUNT(DISTINCT token) AS v FROM t2),
        |pri AS (
        |  SELECT lang AS plang,
        |    CAST(floor(ln(CAST(COUNT(*) AS DOUBLE)) * 1e9) AS BIGINT)
        |      - CAST(floor(ln(CAST((SELECT COUNT(*) FROM documents)
        |        AS DOUBLE)) * 1e9) AS BIGINT) AS prior
        |  FROM documents GROUP BY lang),
        |sc AS (
        |  SELECT t.doc_id, t.lang, n.plang,
        |    CAST(floor(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)) * 1e9)
        |      AS BIGINT)
        |    - CAST(floor(ln(CAST(n.n_l + (SELECT v FROM v) AS DOUBLE))
        |      * 1e9) AS BIGINT) AS term
        |  FROM t2 t CROSS JOIN nl n
        |  LEFT JOIN counts c ON c.plang = n.plang AND c.token = t.token),
        |ll AS (
        |  SELECT doc_id, lang, plang, CAST(SUM(term) AS BIGINT) AS ll
        |  FROM sc GROUP BY doc_id, lang, plang),
        |sco AS (
        |  SELECT l.doc_id, l.lang, l.plang, l.ll + p.prior AS score
        |  FROM ll l JOIN pri p USING (plang)),
        |am AS (
        |  SELECT doc_id, lang, plang,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, plang ASC) AS rn
        |  FROM sco)
        |SELECT lang AS true_lang, plang AS pred_lang, COUNT(*) AS n
        |FROM am WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin,
    "q_text_style_delta" ->
      s"""WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT source, token FROM toks WHERE token <> ''),
        |tot AS (SELECT source, COUNT(*) AS n_tokens FROM t2 GROUP BY source),
        |rates AS (
        |  SELECT t.source, t.token,
        |    CAST((COUNT(*) * 1000000) // MAX(o.n_tokens) AS BIGINT)
        |      AS rate_ppm
        |  FROM t2 t JOIN tot o USING (source)
        |  WHERE t.token IN ($StopWordsSql)
        |  GROUP BY t.source, t.token),
        |scaffold AS (
        |  SELECT s.source, w.token, COALESCE(r.rate_ppm, 0) AS rate_ppm
        |  FROM tot s
        |  CROSS JOIN (SELECT unnest([$StopWordsSql]) AS token) w
        |  LEFT JOIN rates r ON r.source = s.source AND r.token = w.token)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  COUNT(*) AS n_words,
        |  CAST(SUM(abs(a.rate_ppm - b.rate_ppm)) AS BIGINT) AS delta_ppm
        |FROM scaffold a JOIN scaffold b
        |  ON a.token = b.token AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY src_a, src_b""".stripMargin,
    "q_text_vocab_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT lang, token FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |cnt AS (SELECT lang, COUNT(*) AS nv FROM v GROUP BY lang),
        |i AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_inter
        |  FROM v a JOIN v b ON a.token = b.token AND a.lang < b.lang
        |  GROUP BY a.lang, b.lang)
        |SELECT i.lang_a, i.lang_b, ca.nv AS na, cb.nv AS nb, i.n_inter,
        |  CAST((i.n_inter * 1000000) // (ca.nv + cb.nv - i.n_inter)
        |    AS BIGINT) AS jaccard_ppm
        |FROM i JOIN cnt ca ON ca.lang = i.lang_a
        |JOIN cnt cb ON cb.lang = i.lang_b
        |ORDER BY lang_a, lang_b""".stripMargin,
    "q_text_rake" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, pos, token,
        |    CASE WHEN token IN ($StopWordsSql)
        |      OR token = '' THEN 1 ELSE 0 END AS brk
        |  FROM tok),
        |g AS (
        |  SELECT doc_id, token, brk,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM b),
        |ip AS (SELECT doc_id, grp, token FROM g WHERE brk = 0),
        |pl AS (SELECT doc_id, grp, COUNT(*) AS plen
        |       FROM ip GROUP BY doc_id, grp),
        |sc AS (
        |  SELECT token, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS degree
        |  FROM ip JOIN pl USING (doc_id, grp) GROUP BY token)
        |SELECT token, freq, degree,
        |  CAST((degree * 1000) // freq AS BIGINT) AS score_milli
        |FROM sc
        |ORDER BY score_milli DESC, degree DESC, token ASC LIMIT 20""".stripMargin,
    "q_text_readability" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syl,
        |    n_chars
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |f AS (
        |  SELECT lang, w, syl, n_chars, greatest(1, w // 15) AS sents
        |  FROM d),
        |f2 AS (
        |  SELECT lang, w, syl, n_chars,
        |    (w * 1000) // sents AS wps_milli,
        |    (syl * 1000) // w AS spw_milli
        |  FROM f),
        |f3 AS (
        |  SELECT lang, w, syl, n_chars,
        |    206835 - (1015 * wps_milli) // 1000 - (84600 * spw_milli) // 1000
        |      AS fre_milli
        |  FROM f2)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST((SUM(CAST(syl AS HUGEINT)) * 1000) // SUM(CAST(w AS HUGEINT))
        |    AS BIGINT) AS spw_milli,
        |  CAST((SUM(CAST(n_chars AS HUGEINT)) * 1000) // SUM(CAST(w AS HUGEINT))
        |    AS BIGINT) AS cpw_milli,
        |  CAST(SUM(CAST(fre_milli AS HUGEINT)) // COUNT(*) AS BIGINT)
        |    AS avg_fre_milli
        |FROM f3 GROUP BY lang ORDER BY lang""".stripMargin,
    "q_pii_luhn" ->
      """WITH a AS (
        |  SELECT doc_id, lang,
        |    lpad(CAST(('0x' || substring(md5('acct:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
        |      % 1000000000000000 AS VARCHAR), 15, '0')
        |    || CAST(doc_id % 10 AS VARCHAR) AS acct
        |  FROM documents),
        |s AS (
        |  SELECT lang,
        |    list_sum(list_transform(generate_series(1, 16), i -> CASE WHEN i % 2 = 1
        |      THEN CASE WHEN CAST(substring(acct, i, 1) AS INT) * 2 > 9
        |        THEN CAST(substring(acct, i, 1) AS INT) * 2 - 9
        |        ELSE CAST(substring(acct, i, 1) AS INT) * 2 END
        |      ELSE CAST(substring(acct, i, 1) AS INT) END)) AS luhn_sum
        |  FROM a)
        |SELECT lang, COUNT(*) AS n_candidates,
        |  CAST(SUM(CASE WHEN luhn_sum % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST((SUM(CASE WHEN luhn_sum % 10 = 0 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS valid_ppm
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(floor(ln((('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
        |      / 4294967296.0) * 1e9) AS BIGINT) AS ln_nano
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(ln_nano AS DOUBLE) / n_chars DESC, doc_id) AS pick_rank
        |  FROM k)
        |SELECT doc_id, lang, n_chars, CAST(pick_rank AS INT) AS pick_rank
        |FROM r WHERE pick_rank <= 5
        |ORDER BY lang, pick_rank""".stripMargin,
    "q_text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |ranked AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    tf.tf * CAST(floor(ln((n_docs + 1.0) / (df.df + 1.0)) * 1e9) AS BIGINT) AS tfidf_nano,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * CAST(floor(ln((n_docs + 1.0) / (df.df + 1.0)) * 1e9) AS BIGINT) DESC, tf.token ASC) AS rank
        |  FROM tf JOIN df USING (token) CROSS JOIN nd)
        |SELECT doc_id, rank, token, tf, df, tfidf_nano
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_text_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, COUNT(*) AS f FROM tok GROUP BY token),
        |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS total, COUNT(*) AS v FROM freq),
        |scored AS (
        |  SELECT t.doc_id,
        |    CAST(floor(-ln((f + 1.0) / (total + v)) * 1e9) AS BIGINT) AS nll_nano
        |  FROM tok t JOIN freq USING (token) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(CAST(SUM(nll_nano) AS BIGINT) / 1e9 / COUNT(*), 6) AS avg_nll
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_fuzzy_match" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, substring(text, 1, 16) AS prefix FROM documents)
        |SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.prefix, b.prefix) AS INT) AS dist
        |FROM base a JOIN base b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE abs(len(a.prefix) - len(b.prefix)) <= 6
        |  AND levenshtein(a.prefix, b.prefix) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_sample_per_group" ->
      """SELECT doc_id, lang,
        |  CAST(pick_rank AS INT) AS pick_rank
        |FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('pick:' || CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank
        |  FROM documents)
        |WHERE pick_rank <= 5
        |ORDER BY lang, pick_rank""".stripMargin,
    "q_mix_resample" ->
      """WITH g AS (
        |  SELECT lang, source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY lang, source),
        |sh AS (
        |  SELECT *, CAST((tokens * 1000000) // SUM(tokens) OVER () AS BIGINT) AS share_micro FROM g),
        |wm AS (
        |  SELECT *, CAST(floor(sqrt(CAST(share_micro AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS w_micro
        |  FROM sh),
        |w AS (
        |  SELECT lang, source, share_micro,
        |    CAST((w_micro * 1000000) // SUM(w_micro) OVER () AS BIGINT) AS weight_micro
        |  FROM wm),
        |d AS (
        |  SELECT doc_id, documents.lang, documents.source,
        |    CAST((weight_micro * 1000000) // share_micro AS BIGINT) AS rate_micro,
        |    substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6) AS hex6
        |  FROM documents JOIN w USING (lang, source)
        |  WHERE share_micro > 0),
        |c AS (
        |  SELECT doc_id, lang, source,
        |    CAST(rate_micro // 1000000
        |      + CASE WHEN hex6 < lower(lpad(hex((rate_micro % 1000000) * 16777216 // 1000000), 6, '0'))
        |             THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        |  FROM d)
        |SELECT doc_id, lang, source, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
        |FROM c WHERE n_copies > 0
        |ORDER BY doc_id, copy_idx""".stripMargin,
    "q_mix_weights" ->
      """WITH g AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY lang, source),
        |sh AS (
        |  -- CAST: DuckDB's windowed SUM(BIGINT) is HUGEINT, so // returns
        |  -- HUGEINT -> float64 in the driver's pandas frame; Spark emits
        |  -- int64 and the value hash diverges (r2 q_mix_weights fail)
        |  SELECT *, CAST((tokens * 1000000) // SUM(tokens) OVER () AS BIGINT) AS share_micro FROM g),
        |wm AS (
        |  SELECT *, CAST(floor(sqrt(CAST(share_micro AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS w_micro
        |  FROM sh)
        |SELECT lang, source, n_docs, tokens, share_micro,
        |  CAST((w_micro * 1000000) // SUM(w_micro) OVER () AS BIGINT) AS weight_micro
        |FROM wm ORDER BY lang, source""".stripMargin,
    "q_bpe_train_step" ->
      """WITH words AS (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |pairs AS (
        |  SELECT unnest([substring(word, i, 2) FOR i IN range(1, length(word))]) AS pair,
        |    freq
        |  FROM words WHERE length(word) >= 2),
        |agg AS (
        |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
        |  FROM pairs GROUP BY pair)
        |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS INTEGER) AS rank,
        |  pair, n_occurrences
        |FROM agg
        |ORDER BY rank LIMIT 20""".stripMargin,
    "q_text_tokens_bpe" ->
      """SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 '']+', 0)) AS INTEGER) AS n_bpe_tokens,
        |  round(CAST(len(regexp_extract_all(text, '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 '']+', 0)) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS fertility
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) AS freq,
        |      row_number() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rk
        |    FROM toks GROUP BY token)
        |  WHERE rk <= 500)
        |SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY t.doc_id, t.lang ORDER BY doc_id""".stripMargin,
    "q_text_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, CAST(len(toks) AS BIGINT), 40)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start // 40 AS INTEGER) AS chunk_idx,
        |  array_to_string(list_slice(toks, start + 1, least(start + 50, n)), ' ') AS chunk_text,
        |  CAST(least(n - start, 50) AS INTEGER) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang, source,
        |  CASE WHEN ((((doc_id * 69621 + 54321) % 2147483647) * 69621) % 2147483647) % 10 < 9
        |       THEN 'train' ELSE 'test' END AS split
        |FROM documents
        |WHERE CAST((((doc_id * 48271 + 12345) % 2147483647) * 48271) % 2147483647 AS DOUBLE)
        |      < (CASE WHEN lang = 'en' THEN 0.5
        |              WHEN lang = 'de' THEN 0.4 ELSE 0.25 END) * 2147483647
        |ORDER BY doc_id""".stripMargin,
    "q_text_redact" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    'reach user' || CAST(doc_id AS VARCHAR) || ' at u' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or +1-512-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' re: ' || substring(text, 1, 40) AS contact
        |  FROM documents)
        |SELECT doc_id, contact,
        |  regexp_replace(
        |    regexp_replace(contact, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_udtf_tokenize" ->
      """SELECT doc_id, CAST(pos - 1 AS INTEGER) AS pos, token
        |FROM (SELECT doc_id,
        |        unnest(string_split(text, ' ')) AS token,
        |        generate_subscripts(string_split(text, ' '), 1) AS pos
        |      FROM documents)
        |ORDER BY doc_id, pos""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_topterms" ->
      """SELECT token, COUNT(*) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin,
    // cms_est = freq is exact here: QualitySpec pins the one-sided CMS
    // bound and the fixture vocabulary is collision-free at width 8192
    // (verified at sf0.01 and sf0.1)
    "q_text_topterms_cms" ->
      """SELECT token, COUNT(*) AS freq, COUNT(*) AS cms_est
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin,
    "q_text_lang_id" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |lexicon AS (
        |  SELECT lex_lang, token FROM (
        |    SELECT lang AS lex_lang, token, COUNT(*) AS freq,
        |      row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, token ASC) AS rn
        |    FROM tok GROUP BY lang, token)
        |  WHERE rn <= 20),
        |hits AS (
        |  SELECT t.doc_id, t.lang, l.lex_lang, COUNT(*) AS hits
        |  FROM tok t JOIN lexicon l ON t.token = l.token
        |  GROUP BY t.doc_id, t.lang, l.lex_lang)
        |SELECT doc_id, lang AS actual_lang, lex_lang AS predicted_lang, hits
        |FROM hits
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lex_lang ASC) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_eval_langid_confusion" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |lexicon AS (
        |  SELECT lex_lang, token FROM (
        |    SELECT lang AS lex_lang, token, COUNT(*) AS freq,
        |      row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, token ASC) AS rn
        |    FROM tok GROUP BY lang, token)
        |  WHERE rn <= 20),
        |hits AS (
        |  SELECT t.doc_id, t.lang, l.lex_lang, COUNT(*) AS hits
        |  FROM tok t JOIN lexicon l ON t.token = l.token
        |  GROUP BY t.doc_id, t.lang, l.lex_lang),
        |best AS (
        |  SELECT doc_id, lang AS actual_lang, lex_lang AS predicted_lang
        |  FROM hits
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY hits DESC, lex_lang ASC) = 1),
        |cells AS (
        |  SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM best GROUP BY actual_lang, predicted_lang),
        |cl AS (
        |  SELECT actual_lang, CAST(SUM(n_docs) AS BIGINT) AS n_classified
        |  FROM cells GROUP BY actual_lang),
        |tot AS (
        |  SELECT lang AS actual_lang, CAST(COUNT(*) AS BIGINT) AS n_total
        |  FROM documents GROUP BY lang)
        |SELECT c.actual_lang, c.predicted_lang, c.n_docs,
        |  CAST((c.n_docs * 1000000) // cl.n_classified AS BIGINT) AS share_ppm,
        |  CAST((cl.n_classified * 1000000) // t.n_total AS BIGINT)
        |    AS coverage_ppm
        |FROM cells c JOIN cl USING (actual_lang) JOIN tot t USING (actual_lang)
        |ORDER BY actual_lang, predicted_lang""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique,
        |  round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS type_token_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id, md5(text) AS md5_hex,
        |  CAST(length(text) AS INTEGER) AS text_len,
        |  string_split(text, ' ')[1] AS first_token
        |FROM documents ORDER BY doc_id""".stripMargin)
}
