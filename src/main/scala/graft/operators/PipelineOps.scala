package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data pipeline governance operators (round 3): benchmark
  * contamination detection, deterministic split assignment, within-doc
  * repetition scoring, sequence packing, and canonical-document selection
  * over near-dup components — the decision layer that turns the dedup /
  * quality signals into an actual training corpus.
  *
  * Scale design: contamination is a broadcast semi-join of corpus n-grams
  * against the (tiny) benchmark gram set; split assignment is a pure
  * per-row hash projection; repetition is per-row array math (no
  * shuffle); packing windows are PARTITIONED per language shard so the
  * running sum parallelizes; canonical selection reuses the materialized
  * component labels and adds one window over (component).
  */
object PipelineOps {

  /** 3-gram string windows via zip_with over pre-shifted slices — same
    * shape as DedupOps.withShingleHashes but producing the gram STRINGS
    * (needed for the exact cross-engine overlap check; hashes have no
    * DuckDB twin). Everything evaluates once per row; no outer-array
    * indexing inside lambdas (the ~9µs/element HOF trap).
    */
  private[graft] def triGrams(toks: Column, n: Column): Column = {
    val z12 = zip_with(toks, slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    when(n >= 3,
      slice(zip_with(z12, slice(toks, lit(3), greatest(n - 2, lit(0))),
        (p, c) => concat_ws(" ", p, c)), lit(1), n - 2))
      .otherwise(array().cast("array<string>"))
  }

  private[graft] def biGrams(toks: Column, n: Column): Column =
    when(n >= 2,
      slice(zip_with(toks, slice(toks, lit(2), greatest(n - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)), lit(1), n - 1))
      .otherwise(array().cast("array<string>"))

  // r22: gram construction via the codegen'd graft_ngrams byte-scan —
  // the zip_with/concat_ws chain is CodegenFallback and was ~0.9 s of
  // q_contamination's 1.95 s steady at sf0.1 (the relation is evaluated
  // on both the bench and corpus sides). Byte-identical semantics
  // (see NgramsExpr); the null-text edge differs (kernel: null, column
  // form: empty array) but both explode() to zero rows downstream.
  private def withGrams(df: DataFrame): DataFrame =
    df.withColumn("grams", array_distinct(expr("graft_ngrams(text, 3)")))

  /** Benchmark-contamination check — the eval-set hygiene step of every
    * LLM data pipeline: which training documents contain 3-grams that
    * also appear in the benchmark set (here: the deterministic
    * doc_id % 29 slice standing in for an eval corpus)? Exact distinct
    * n-gram overlap per doc; at 100 TB the benchmark gram set stays
    * broadcast-sized (benchmarks are small by definition) so the check
    * is a broadcast left join over exploded corpus grams — one pass, no
    * corpus shuffle (the groupBy(doc_id) re-aggregates what explode
    * un-rolled, map-side combined).
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val g = withGrams(Tables.documents(s, dir)).select(col("doc_id"), col("grams"))
    // r21: the bench-gram registry is joined WITHOUT a broadcast hint —
    // bench grams are ~1/29 of the corpus, so a forced broadcast grew
    // with corpus size; AQE broadcasts it at fixture sf and degrades to
    // a shuffle join at registry sizes past the threshold (the
    // textBoilerplate discipline). A gram-keyed window-membership
    // variant was A/B'd and lost ~50% locally (it sorts the full gram
    // stream); the join keeps the hash-only path.
    val bench = g.filter(col("doc_id") % 29 === 0)
      .select(explode(col("grams")).as("gram")).distinct()
      .withColumn("hit", lit(1))
    val corpus = g.filter(col("doc_id") % 29 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    corpus.join(bench, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_grams"), 6))
      .orderBy("doc_id")
  }

  /** The split assignment expression — md5 of a salted key, first byte
    * against fixed hex boundaries (0x00-0xcb train ≈ 79.7%, 0xcc-0xe5
    * val ≈ 10.2%, rest test). ONE definition shared by q_split_assign
    * and q_corpus_manifest so the composed pipeline can never
    * desynchronize from the standalone operator.
    */
  private def splitCol(docId: Column): Column = {
    val h = substring(md5(concat(lit("split:"), docId.cast("string"))), 1, 2)
    when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
  }

  /** Duplicated-gram fraction (1 - distinct/total), rounded — shared by
    * q_text_repetition and q_corpus_manifest. NULL for a document without
    * grams (null text, which graft_ngrams maps to NULL, or fewer tokens
    * than the gram length), as in the DuckDB twins where x / 0 is NULL:
    * plain ANSI division would throw DIVIDE_BY_ZERO on the empty array.
    */
  private def dupFrac(grams: Column): Column =
    round(lit(1.0) - try_divide(size(array_distinct(grams)).cast("double"), size(grams)), 6)

  /** Deterministic train/val/test assignment by content-addressed hash
    * ranges — the reproducible-split technique (a doc's split never
    * depends on partitioning, row order, or corpus size). Pure per-row
    * projection — embarrassingly parallel at any scale.
    */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), splitCol(col("doc_id")).as("split"))
      .orderBy("doc_id")

  /** #511 Split × language balance audit: Pearson χ² of independence
    * between the #8 split assignment and the language marginal — does
    * train/val/test preserve the language mix, or did the hash land a
    * skewed slice? WHY next to #481/#493/#303: the uniformity audits
    * test the HASH against U(0,1) globally and the SRM check (#303)
    * tests the three split SIZES; neither sees a split that is the
    * right size but the wrong COMPOSITION (val accidentally rich in
    * one language — every per-language eval number then drifts between
    * splits for data reasons, not model reasons). Emits the χ²
    * statistic with dof = (splits−1)(langs−1), the #313 convention
    * (statistic + dof; the threshold is dof-dependent and left to the
    * reader — stated).
    *
    * Exactness: the #313 term discipline verbatim — exact integer
    * cell/marginal counts feed one double term per cell, floored to
    * nano ONCE, exact integer sum, readout rounded at 6 dp. Scale:
    * one map-side-combined (split, lang) aggregate (≤ 3·|langs|
    * cells); marginals broadcast back.
    */
  def splitBalance(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir)
      .select(col("lang"), splitCol(col("doc_id")).as("split"))
      .groupBy("split", "lang").agg(count(lit(1)).as("o"))
    val rowT = obs.groupBy("split").agg(sum(col("o")).as("rt"))
    val colT = obs.groupBy("lang").agg(sum(col("o")).as("ct"))
    val tot = obs.agg(sum(col("o")).as("n"),
      countDistinct(col("split")).as("nsp"),
      countDistinct(col("lang")).as("nl"))
    obs.join(broadcast(rowT), Seq("split")).join(broadcast(colT), Seq("lang"))
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n"))
      .withColumn("d", col("o").cast("double") - col("e"))
      .withColumn("term_nano",
        floor(col("d") * col("d") / col("e") * 1e9).cast("long"))
      .agg(count(lit(1)).as("n_cells"),
        max((col("nsp") - 1) * (col("nl") - 1)).as("dof"),
        round(sum(col("term_nano")) / 1e9, 6).as("chi2"))
  }

  /** Within-document repetition scoring — the Gopher/RefinedWeb-style
    * quality rule: fraction of duplicated 2-grams and 3-grams inside
    * each document (templated/boilerplate text scores high). Per-row
    * array arithmetic only; distributes as a map.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    // r22: grams via the codegen'd graft_ngrams byte-scan (see
    // NgramsExpr) instead of the CodegenFallback zip_with chains
    val toks = split(col("text"), " ")
    Tables.documents(s, dir)
      .withColumn("toks", toks)
      .withColumn("n", size(col("toks")))
      .withColumn("g2", expr("graft_ngrams(text, 2)"))
      .withColumn("g3", expr("graft_ngrams(text, 3)"))
      .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
        dupFrac(col("g2")).as("dup_bigram_frac"),
        dupFrac(col("g3")).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Context-window length for sequence packing. */
  private val PackCtx = 128

  /** Sequence packing — the batch-efficiency step before training:
    * documents are packed CONTIGUOUSLY (in stable doc_id order) into
    * fixed context windows; a doc's bin is its cumulative start offset
    * div the window size. The running sum is PARTITIONED per language
    * shard, so each shard packs independently and in parallel — exactly
    * how a 100 TB corpus is packed (per input shard), with no global
    * single-partition window.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).as("n_toks"))
      .withColumn("start_off", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"start_off div $PackCtx"))
      .groupBy("lang", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy("lang", "bin_id")
  }

  /** Canonical-document selection — the final keep/drop decision of
    * corpus dedup: within each near-dup component (connected components
    * over the exact-Jaccard similarity graph; singletons form their own
    * component), keep the highest-quality member (longest text,
    * deterministic doc_id tiebreak). One left join against the label
    * table plus one window over (component) — both hash-partition on
    * small keys at any scale. Labels come from the same materialized-
    * derived-table pattern as the edge list (computed once per corpus,
    * reused by every downstream consumer).
    */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val comp = DedupOps.componentLabels(s, dir).select(col("doc_id"), col("component"))
    val w = Window.partitionBy("component").orderBy(desc("n_chars"), asc("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("is_kept", when(row_number().over(w) === 1, 1).otherwise(0))
      .select(col("doc_id"), col("component"), col("n_chars"), col("is_kept"))
      .orderBy("doc_id")
  }

  /** End-to-end corpus manifest — the composition the individual
    * governance operators exist for, as ONE declarative plan: canonical
    * dedup keep (one doc per near-dup component) → repetition quality
    * gate (duplicated-bigram fraction ≤ 0.08) → deterministic split
    * assignment → per-(split, lang) doc/token accounting. Catalyst fuses
    * the per-row stages (grams, md5 ranges, token counts) into the scan
    * projection; the only shuffles are the component-label join and the
    * final tiny aggregate — the same plan shape at 100 TB.
    */
  def corpusManifest(s: SparkSession, dir: String): DataFrame = {
    val comp = DedupOps.componentLabels(s, dir).select(col("doc_id"), col("component"))
    val keepW = Window.partitionBy("component").orderBy(desc("n_chars"), asc("doc_id"))
    Tables.documents(s, dir)
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("rn", row_number().over(keepW))
      .filter(col("rn") === 1)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .withColumn("dup2", dupFrac(expr("graft_ngrams(text, 2)")))
      .filter(col("dup2") <= 0.08)
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("long").as("tokens"))
      .orderBy("split", "lang")
  }

  /** Cross-document boilerplate scoring — the line-dedup step of the
    * C4/RefinedWeb pipelines in span form (the fixture text is a single
    * token stream, so the "line" unit is the 3-gram span): a gram is
    * boilerplate when it appears in more than 3 distinct documents
    * (nav bars, license footers, templated headers at web scale); each
    * document reports what fraction of its distinct spans are
    * boilerplate and a keep flag at the 0.15 ratio gate.
    *
    * Two shuffles of the exploded gram stream (r21 shape): one
    * gram-keyed WINDOW count for the document frequency — the DF is
    * attached in place of the former aggregate-then-join-back, which
    * shuffled the exploded stream by gram twice and recomputed the
    * explode for each arm — and one doc-keyed aggregate. No hot-set
    * relation exists to broadcast, so the 100 TB posture is strictly
    * better: nothing vocabulary-sized ever moves to one place. The
    * keep flag compares the RAW ratio (IEEE division is engine-exact),
    * only the reported ratio is rounded.
    */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val exploded = withGrams(Tables.documents(s, dir))
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    // grams are per-doc distinct, so count(*) per gram = document frequency
    exploded
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gram")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") > 3, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_grams"), 6))
      .withColumn("keep",
        (col("n_boiler").cast("double") / col("n_grams") <= 0.15).cast("int"))
      .orderBy("doc_id")
  }

  /** Global contiguous sample index 0..N-1 over the (doc_id) total order —
    * every training pipeline's "give each sample a stable integer id"
    * step. Same two-phase global rank as StatsOps.ntileBuckets (its
    * scaladoc has the full argument): range-partition on the order key,
    * per-partition row_number, plus a broadcast cumulative offset from a
    * #partitions-row histogram — never a single-partition window.
    * monotonically_increasing_id() is NOT used: its ids are partition-
    * sparse (gaps), not contiguous, and change with partitioning. The
    * explicit partition count pins the exchange against AQE coalescing
    * (a bare repartitionByRange folds small inputs to one partition —
    * the exact single-task shape this avoids; see ntileBuckets).
    */
  /** Rank-kernel builder shared with the bench prewarm (see
    * [[StatsOps.rankedOrdersPrice]] for the discipline); also shared by
    * [[negativePairs]], which rides the same (relation, order) memo. */
  private[graft] def rankedDocId(s: SparkSession, dir: String): (DataFrame, Long) =
    StatsOps.globalRanked(s,
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      Seq(col("doc_id")), s"$dir#docs:doc_id")

  def sampleIndex(s: SparkSession, dir: String): DataFrame = {
    val (ranked, _) = rankedDocId(s, dir)
    ranked
      .withColumn("sample_idx", col("r") - 1)
      .select(col("doc_id"), col("lang"), col("sample_idx"))
      .orderBy("doc_id")
  }

  /** Largest-remainder (Hamilton) apportionment of a fixed sample
    * budget across (lang, source) strata, proportional to character
    * mass: floor quotas first, then the leftover seats go to the
    * largest integer remainders (ties broken by stratum key) — the
    * exact-integer answer to "give me exactly B samples, proportional
    * to corpus share". Everything after the one corpus aggregate runs
    * on |lang|·|source| rows — structurally bounded like the chi-square
    * contingency table, so the unpartitioned remainder-rank window is
    * safe at any corpus size (the same boundedness argument as
    * q_stats_chisq; contrast StatsOps.ntileBuckets where the windowed
    * relation grows with the data).
    */
  def sampleApportion(s: SparkSession, dir: String): DataFrame = {
    val budget = 10000L
    val strata = Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(sum(col("n_chars")).as("w"))
    val total = strata.agg(sum(col("w")).as("tw"))
    val wAll = Window.orderBy(desc("rem"), col("lang"), col("source"))
    strata.crossJoin(broadcast(total))
      .withColumn("floor_q", expr(s"($budget * w) div tw"))
      .withColumn("rem", expr(s"($budget * w) % tw"))
      .withColumn("deficit",
        lit(budget) - sum(col("floor_q")).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(wAll))
      .select(col("lang"), col("source"), col("w").as("n_chars_total"),
        (col("floor_q") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("lang", "source")
  }

  /** Length-bucketed batch assignment + padding-waste report — the
    * step between curation and the data loader: docs go to a
    * power-of-two token-length bucket (explicit comparison ladder, no
    * floating log2 to disagree at bucket edges), each bucket is cut
    * into fixed-size batches of 8 in (doc_id) order, and each batch
    * reports its padding waste (docs*max_len - sum_len — what a
    * rectangular tensor throws away).
    *
    * Scale shape: in-bucket positions come from ONE two-phase global
    * rank ordered by (bucket, doc_id) minus broadcast per-bucket
    * offsets (the bucket-count relation is ladder-sized, <= 6 rows,
    * collected like the rank kernel's pid histogram) — NOT a
    * per-bucket row_number window, whose per-partition cardinality
    * would grow with the corpus (the exact ntile failure mode the
    * shared kernel exists to avoid).
    */
  private def lenBucketToks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") <= 16, 16L).when(col("n_tokens") <= 32, 32L)
          .when(col("n_tokens") <= 64, 64L).when(col("n_tokens") <= 128, 128L)
          .when(col("n_tokens") <= 256, 256L).otherwise(512L))

  /** Rank-kernel builder shared with the bench prewarm (see
    * [[StatsOps.rankedOrdersPrice]] for the discipline). */
  private[graft] def rankedLenBucket(s: SparkSession, dir: String): (DataFrame, Long) =
    StatsOps.globalRanked(s, lenBucketToks(s, dir),
      Seq(col("bucket"), col("doc_id")), s"$dir#docs:len-bucket")

  def batchBuckets(s: SparkSession, dir: String): DataFrame = {
    val toks = lenBucketToks(s, dir)
    val (ranked, _) = rankedLenBucket(s, dir)
    val offsets = toks.groupBy("bucket").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val off: Map[Long, Long] =
      offsets.map(_._1).zip(offsets.scanLeft(0L)(_ + _._2)).toMap
    ranked
      .withColumn("in_bucket_idx",
        (col("r") - 1 - element_at(typedLit(off), col("bucket"))).cast("long"))
      .withColumn("batch_id", expr("in_bucket_idx div 8"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("pad_waste", col("n_docs") * col("max_tokens") - col("sum_tokens"))
      .orderBy("bucket", "batch_id")
  }

  /** Deterministic negative sampling for contrastive training: each doc
    * draws 4 pseudo-random partners by hashing (doc_id, j) onto the
    * contiguous sample index ring (md5 ppm-free variant of splitCol's
    * idiom — no rand(), rerunnable and shard-stable), shifting by one
    * on self-collision. Two uses of the two-phase rank kernel output:
    * once to index, once (as a broadcast-able projection) to resolve
    * the drawn index back to a doc_id via an equi-join. O(4N) rows,
    * all equi-joins — no cross join anywhere.
    */
  def negativePairs(s: SparkSession, dir: String): DataFrame = {
    // same (relation, order) as sampleIndex — the lang column rides along
    // unused so the two queries share one memoized kernel build
    val (ranked, n) = rankedDocId(s, dir)
    val idx = ranked.select(col("doc_id"), (col("r") - 1).as("idx"))
    val drawn = idx
      .withColumn("j", explode(expr("sequence(1, 4)")))
      .withColumn("h",
        conv(substring(md5(concat(lit("neg:"), col("doc_id").cast("string"),
          lit(":"), col("j").cast("string"))), 1, 8), 16, 10).cast("long") % n)
      .withColumn("neg_idx",
        when(col("h") === col("idx"), (col("h") + 1) % n).otherwise(col("h")))
    drawn
      .join(idx.select(col("idx").as("neg_idx"), col("doc_id").as("neg_doc_id")),
        Seq("neg_idx"))
      .select(col("doc_id"), col("j").cast("long").as("j"), col("neg_doc_id"))
      .orderBy("doc_id", "j")
  }

  /** Curriculum ordering with stratified interleave: within each lang,
    * docs rank easy-to-hard (n_chars, doc_id); the global curriculum
    * position round-robins the strata — position = (rank-1)*L + si — so
    * every window of L consecutive samples sees every language once.
    * In-stratum ranks ride the SAME two-phase global rank ordered by
    * (lang, n_chars, doc_id) minus broadcast per-lang offsets (the lang
    * relation is |L| rows) — per-stratum windows would shard the corpus
    * into |L| giant partitions at 100 TB.
    */
  /** Rank-kernel builder shared with the bench prewarm (see
    * [[StatsOps.rankedOrdersPrice]] for the discipline). */
  private[graft] def relLangChars(s: SparkSession, dir: String): StatsOps.RankedRel =
    StatsOps.rankedRel(s,
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      Seq(col("lang"), col("n_chars"), col("doc_id")), s"$dir#docs:lang-chars")

  def curriculumInterleave(s: SparkSession, dir: String): DataFrame = {
    val rel = relLangChars(s, dir)
    val ranked = rel.ranked
    // lang offsets from the kernel's checkpointed relation — a |L|-group
    // aggregate over cached partitions, not a second parquet-scan job
    val langs = rel.sorted.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val off: Map[String, Long] =
      langs.map(_._1).zip(langs.scanLeft(0L)(_ + _._2)).toMap
    val si: Map[String, Long] = langs.map(_._1).zipWithIndex
      .map { case (l, i) => (l, i.toLong) }.toMap
    val l = langs.length
    ranked
      .withColumn("stratum_rank", col("r") - element_at(typedLit(off), col("lang")))
      .withColumn("position",
        (col("stratum_rank") - 1) * l + element_at(typedLit(si), col("lang")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("stratum_rank"), col("position"))
      .orderBy("position")
  }

  /** Composed end-to-end curation pipeline (§2 #243) — the operators
    * chained the way a real corpus build runs them: quality gate
    * (length + distinct-token-ratio) → URL-canonicalization dedup
    * (min-doc_id survivor per canonical URL, sharing
    * [[DedupOps.messyUrl]]/[[DedupOps.canonicalizeUrl]] with
    * q_dedup_url) → content-addressed split assignment ([[splitCol]],
    * shared with q_split_assign) → per-(split, lang) corpus report.
    * The point is compositional: each stage is the already-graded
    * operator, unchanged, and the oracle is the same CTE chain — so a
    * hash match proves the stages compose without order/partitioning
    * assumptions leaking between them. Shape at scale: one narrow
    * filter, one window over the canonical URL (hash-partitioned), one
    * 15-group aggregate — nothing quadratic, nothing driver-side.
    */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val quality = Tables.documents(s, dir)
      .withColumn("toks", toks)
      .filter(col("n_chars") >= 150 &&
        size(array_distinct(col("toks"))).cast("double") / size(col("toks")) >= 0.35)
    val survivors = quality
      .withColumn("canonical_url", DedupOps.canonicalizeUrl(DedupOps.messyUrl))
      .withColumn("keep", min(col("doc_id")).over(Window.partitionBy("canonical_url")))
      .filter(col("doc_id") === col("keep"))
    survivors
      .select(col("lang"), splitCol(col("doc_id")).as("split"),
        size(col("toks")).as("n_toks"), col("n_chars"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("sum_tokens"),
        round(sum(col("n_chars").cast("long")).cast("double") / count(lit(1)), 6)
          .as("avg_chars"))
      .orderBy("split", "lang")
  }

  /** Token-budget corpus selection (§2 #244) — the data-selection step
    * before training: rank every document on a quality order (here
    * n_chars DESC, doc_id as the unique tiebreak), take documents while
    * the GLOBAL running token total stays within the budget (60% of the
    * corpus total — scale-invariant by construction), report the
    * selection per language. The running sum is a TWO-PHASE global
    * prefix sum, not a single-partition window: range-repartition on
    * the quality order, per-partition token subtotals (#partitions rows
    * to the driver — the repo's bounded-collect pattern), then each
    * partition adds its offset to a partition-local running sum. Same
    * discipline as the StatsOps rank kernel, generalized from counts to
    * weighted prefixes; at 100 TB every stage stays parallel.
    */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"), col("n_chars"))
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val order = Seq(col("n_chars").desc, col("doc_id").asc)
    val sorted = docs
      .repartitionByRange(nPart, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val subtotals = sorted.groupBy("pid").agg(sum(col("n_toks")).as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // r21: the corpus token total IS the sum of the per-partition
    // subtotals the offset pass already collected — the former separate
    // docs.agg().first() paid one more full scan + job for it
    val total = subtotals.map(_._2).sum
    val budget = total * 6 / 10
    val offsets: Map[Int, Long] =
      subtotals.map(_._1).zip(subtotals.scanLeft(0L)(_ + _._2)).toMap
    val w = Window.partitionBy("pid").orderBy(order: _*)
    sorted
      .withColumn("cum",
        element_at(typedLit(offsets), col("pid")) + sum(col("n_toks")).over(w))
      .filter(col("cum") <= budget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_tokens"),
        max(col("cum")).as("max_cum"))
      .orderBy("lang")
  }

  /** Train/test near-dup leakage report (§2 #245) — the eval-hygiene
    * check benchmark papers keep re-discovering: a near-duplicate pair
    * that straddles a split boundary leaks training signal into eval.
    * Pair grid = the SAME materialized exact-Jaccard edge list the
    * components/canonical operators consume ([[DedupOps.materializedEdges]]
    * — LSH-blocked, never all-pairs); splits = the same content-addressed
    * [[splitCol]] as q_split_assign. Output: pair counts per unordered
    * split pair — every (x, y) row with x ≠ y is leakage a curation run
    * must resolve (drop one side or re-assign). Two broadcast-size joins
    * against the 3-row split map at scale; edges are the heavy side and
    * stay partitioned.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val edges = DedupOps.materializedEdges(s, dir)
    val splits = Tables.documents(s, dir)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"))
    edges
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .select(least(col("split_a"), col("split_b")).as("split_x"),
        greatest(col("split_a"), col("split_b")).as("split_y"))
      .groupBy("split_x", "split_y")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_x") =!= col("split_y"))
      .orderBy("split_x", "split_y")
  }

  /** #267 Compaction planning — the table-maintenance step every
    * file-based lakehouse runs: given a file inventory (simulated here
    * as one file per (lang, 50-doc slab), bytes = summed n_chars),
    * group small files into target-sized packs (8 KB here, scaled to the fixture; production targets are 128 MB+). The policy is sorted
    * sequential packing: files order by (bytes DESC, file_id) within
    * their lang and a file's pack is its EXCLUSIVE running-bytes prefix
    * div the target — deterministic, one-pass, and
    * SQL-expressible (true first-fit-decreasing needs a mutable bin
    * state; the sorted-prefix rule is the standard scalable
    * approximation and over-fills a pack only by the one straddling
    * file).
    *
    * Scale: every relation here is MANIFEST-cardinality (files, not
    * rows) — the 100 TB of data appears only as the metadata aggregate
    * that builds the inventory; the planning window runs over ~N/64KB
    * entries per lang. Output: per (lang, pack) file count, bytes, and
    * fill ratio vs target in ppm.
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val target = 8192L
    val files = Tables.documents(s, dir)
      .groupBy(col("lang"), expr("doc_id div 50").as("file_id"))
      .agg(sum(col("n_chars")).as("bytes"), count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("bytes").desc, col("file_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div ${target}L"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("pack_bytes"),
        sum(col("n_docs")).as("n_docs"))
      .withColumn("fill_ppm", expr(s"(pack_bytes * 1000000) div ${target}L"))
      .orderBy("lang", "pack_id")
  }

  /** #290 Sample-ratio-mismatch (SRM) check on the content-addressed
    * split: observed train/val/test counts vs the EXACT md5-prefix
    * design ratios (204/26/26 of 256 — the two-hex-char thresholds in
    * [[splitAssign]]'s splitCol), as an all-integer χ² with 2 df,
    * flagged at the 5% critical value (5.991) — the experimentation
    * guardrail that catches a broken or biased assignment before anyone
    * trusts a metric computed on the splits.
    *
    * χ²_milli = Σ_i (256·o_i − n·w_i)²·1000 div (256·n·w_i), every
    * product in DECIMAL(38,0). One 3-group map-side-combined aggregate.
    */
  def splitSrm(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(splitCol(col("doc_id")).as("split"))
      .groupBy("split").agg(count(lit(1)).as("o"))
    counts
      .agg(sum(col("o")).as("n"),
        max(when(col("split") === "train", col("o"))).as("n_train"),
        max(when(col("split") === "val", col("o"))).as("n_val"),
        max(when(col("split") === "test", col("o"))).as("n_test"))
      .select(col("n"), col("n_train"), col("n_val"), col("n_test"),
        (Seq(("n_train", 204L), ("n_val", 26L), ("n_test", 26L)).map {
          case (c, wi) =>
            expr(s"(cast($c as decimal(38,0)) * 256 - cast(n as decimal(38,0)) * $wi)" +
              s" * (cast($c as decimal(38,0)) * 256 - cast(n as decimal(38,0)) * $wi)" +
              s" * 1000 div (256 * cast(n as decimal(38,0)) * $wi)")
        }.reduce(_ + _)).cast("long").as("chi2_milli"))
      .withColumn("srm_flag", col("chi2_milli") > 5991L)
  }

  /** #481 One-sample KS uniformity audit of the split hash: the first
    * 8 hex chars of md5("split:" + doc_id) — the SAME hash family the
    * #91 splitter thresholds at 2 chars — read as an integer in
    * [0, 16⁸), tested against U(0, M) with the exact sup-statistic
    * D = max_k max(C_k·M − u_k·n, u_k·n − (C_k − c_k)·M) over the
    * distinct-value cumulative counts (cross-multiplied integers, no
    * float CDF anywhere); the asymptotic 5% critical 1.358/√n is the
    * one mirrored floored double. The audit the split family was
    * missing: #290's SRM test checks the three BUCKET masses, this
    * checks the whole residue DISTRIBUTION — a biased hash can pass
    * SRM (buckets sized right) while still correlating with doc_id
    * ranges, which is exactly what leaks adjacent-document pairs
    * across splits.
    *
    * Scale: the [[StatsOps.ksDrift]] shape — value-grouped counts,
    * range repartition, per-partition offset memo (O(#partitions)
    * driver rows), cumulative windows WITHIN partitions — no
    * data-scale global window.
    */
  def splitUniformity(s: SparkSession, dir: String): DataFrame = {
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val M = 4294967296L // 16^8
    val grouped = Tables.documents(s, dir)
      .select(expr("cast(conv(substring(md5(concat('split:', " +
        "cast(doc_id as string))), 1, 8), 16, 10) as bigint)").as("u"))
      .groupBy("u").agg(count(lit(1)).as("c"))
      .repartitionByRange(nPart, col("u"))
      .sortWithinPartitions("u")
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val hist = grouped.groupBy("pid").agg(sum(col("c")).as("pc")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val off: Map[Int, Long] = hist.map(_._1).zip(hist.scanLeft(0L)(_ + _._2)).toMap
    val n = hist.map(_._2).sum
    val w = Window.partitionBy("pid").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .withColumn("ck", element_at(typedLit(off), col("pid")) + sum(col("c")).over(w))
      .select(greatest(col("ck") * M - col("u") * n,
        col("u") * n - (col("ck") - col("c")) * M).as("dnum"))
      // groupBy(lit(1)) (not a global agg) mirrors the oracle's
      // GROUP BY g empty-input contract: zero rows, not one NULL row
      .groupBy(lit(1).as("g")).agg(max(col("dnum")).as("d_num"))
      .select(lit(n).as("n_docs"), col("d_num"),
        // DECIMAL staging: d_num·1e6 crosses int64 (d_num ~ n·M·D)
        expr(s"cast((cast(d_num as decimal(38,0)) * 1000000) div " +
          s"(cast(${n} as decimal(38,0)) * ${M}L) as long)").as("d_ppm"))
      .withColumn("crit_ppm",
        expr(s"cast(floor(1358000 / sqrt(cast(${n}L as double))) as bigint)"))
      .withColumn("uniform_rejected_05", col("d_ppm") > col("crit_ppm"))
  }

  /** #493 Anderson-Darling uniformity audit of the split hash — the
    * tail-weighted sibling of #481 (the KS/AD pairing the two-sample
    * family already has as #195/#449): A² = −n − (1/n)·Σᵢ[(2i−1)·ln ũᵢ
    * + (2(n−i)+1)·ln(1−ũᵢ)] with the midpoint convention ũ =
    * (2u+1)/(2M) (maps the integer residues STRICTLY inside (0,1), so
    * ln is always defined — stated), each ln the exact difference of
    * floored-nano lns, and the rank coefficients summed PER DISTINCT
    * VALUE in closed form (Σ(2i−1) over a tie run [C−c+1, C] is
    * C²−(C−c)², so collisions need no per-row rank) — the sum is
    * tie-assignment invariant by construction. 5% flag at the
    * fully-specified-null critical 2.492. WHY: KS weights the center;
    * a hash whose residues thin out exactly at the 0/1 TAILS (the
    * failure mode of truncated-hex parsing bugs) passes #481 and
    * fails here. Scale: the same value-grouped offset-memo shape as
    * #481 — no data-scale global window.
    */
  def splitUniformityAd(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val M = 4294967296L
    val grouped = Tables.documents(s, dir)
      .select(expr("cast(conv(substring(md5(concat('split:', " +
        "cast(doc_id as string))), 1, 8), 16, 10) as bigint)").as("u"))
      .groupBy("u").agg(count(lit(1)).as("c"))
      .repartitionByRange(nPart, col("u"))
      .sortWithinPartitions("u")
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val hist = grouped.groupBy("pid").agg(sum(col("c")).as("pc")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val off: Map[Int, Long] = hist.map(_._1).zip(hist.scanLeft(0L)(_ + _._2)).toMap
    val n = hist.map(_._2).sum
    val w = Window.partitionBy("pid").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def lnN(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e9).cast("long")
    grouped
      .withColumn("ck", element_at(typedLit(off), col("pid")) + sum(col("c")).over(w))
      .withColumn("la", lnN(lit(2L) * col("u") + 1L) - lnN(lit(2L * M)))
      .withColumn("lb",
        lnN(lit(2L) * (lit(M) - col("u")) - 1L) - lnN(lit(2L * M)))
      .select(
        ((col("ck") * col("ck") -
          (col("ck") - col("c")) * (col("ck") - col("c"))).cast(dec) * col("la") +
          (col("c") * (2L * n + 1L) - col("ck") * (col("ck") + 1L) +
            (col("ck") - col("c")) * (col("ck") - col("c") + 1L)).cast(dec) *
            col("lb")).as("term"))
      // groupBy(lit(1)): mirror the oracle's GROUP BY g zero-row
      // empty-input contract (see splitUniformity)
      .groupBy(lit(1).as("g")).agg(sum(col("term")).as("ts"))
      .select(lit(n).as("n_docs"),
        expr(s"cast((-${n}L * 1000000000) - (ts div ${n}L) as long)")
          .as("a2_nano"))
      .withColumn("uniform_rejected_05", col("a2_nano") > 2492000000L)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_split_uniformity" -> (splitUniformity _),
    "q_split_balance" -> (splitBalance _),
    "q_split_uniformity_ad" -> (splitUniformityAd _),
    "q_split_srm" -> (splitSrm _),
    "q_compaction_plan" -> (compactionPlan _),
    "q_pipeline_e2e" -> (pipelineE2e _),
    "q_token_budget" -> (tokenBudget _),
    "q_split_leakage" -> (splitLeakage _),
    "q_batch_buckets" -> (batchBuckets _),
    "q_negative_pairs" -> (negativePairs _),
    "q_curriculum" -> (curriculumInterleave _),
    "q_sample_apportion" -> (sampleApportion _),
    "q_corpus_manifest" -> (corpusManifest _),
    "q_contamination" -> (contamination _),
    "q_split_assign" -> (splitAssign _),
    "q_text_repetition" -> (textRepetition _),
    "q_pack_sequences" -> (packSequences _),
    "q_text_boilerplate" -> (textBoilerplate _),
    "q_sample_index" -> (sampleIndex _),
    "q_dedup_canonical" -> (dedupCanonical _))

  val oracles: Map[String, String] = Map(
    "q_split_uniformity_ad" ->
      """WITH u0 AS (
        |  SELECT ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
        |    1, 8))::BIGINT AS u
        |  FROM documents),
        |g AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM u0 GROUP BY u),
        |cc AS (
        |  SELECT u, c,
        |    SUM(c) OVER (ORDER BY u) AS ck,
        |    SUM(c) OVER () AS n
        |  FROM g),
        |t AS (
        |  SELECT n,
        |    (CAST(ck * ck - (ck - c) * (ck - c) AS HUGEINT)) *
        |      (CAST(FLOOR(ln(CAST(2 * u + 1 AS DOUBLE)) * 1e9) AS BIGINT)
        |       - CAST(FLOOR(ln(CAST(8589934592 AS DOUBLE)) * 1e9) AS BIGINT))
        |    + (CAST(c * (2 * n + 1) - ck * (ck + 1)
        |        + (ck - c) * (ck - c + 1) AS HUGEINT)) *
        |      (CAST(FLOOR(ln(CAST(2 * (4294967296 - u) - 1 AS DOUBLE)) * 1e9)
        |        AS BIGINT)
        |       - CAST(FLOOR(ln(CAST(8589934592 AS DOUBLE)) * 1e9) AS BIGINT))
        |      AS term
        |  FROM cc),
        |a AS (SELECT 1 AS g, MAX(n) AS n, SUM(term) AS ts FROM t GROUP BY g)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST((-n * 1000000000) - (ts // n) AS BIGINT) AS a2_nano,
        |  CAST((-n * 1000000000) - (ts // n) AS BIGINT) > 2492000000
        |    AS uniform_rejected_05
        |FROM a""".stripMargin,
    "q_split_uniformity" ->
      """WITH u0 AS (
        |  SELECT ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
        |    1, 8))::BIGINT AS u
        |  FROM documents),
        |g AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM u0 GROUP BY u),
        |c AS (
        |  SELECT u, c,
        |    SUM(c) OVER (ORDER BY u) AS ck,
        |    SUM(c) OVER () AS n
        |  FROM g),
        |d AS (
        |  SELECT greatest(ck * 4294967296 - u * n,
        |    u * n - (ck - c) * 4294967296) AS dnum, n
        |  FROM c),
        |a AS (SELECT 1 AS gg, MAX(dnum) AS d_num, MAX(n) AS n FROM d GROUP BY gg)
        |SELECT CAST(n AS BIGINT) AS n_docs, CAST(d_num AS BIGINT) AS d_num,
        |  CAST((CAST(d_num AS HUGEINT) * 1000000) //
        |    (CAST(n AS HUGEINT) * 4294967296) AS BIGINT) AS d_ppm,
        |  CAST(FLOOR(1358000 / SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS crit_ppm,
        |  CAST((CAST(d_num AS HUGEINT) * 1000000) //
        |    (CAST(n AS HUGEINT) * 4294967296) AS BIGINT) >
        |  CAST(FLOOR(1358000 / SQRT(CAST(n AS DOUBLE))) AS BIGINT)
        |    AS uniform_rejected_05
        |FROM a""".stripMargin,
    "q_split_srm" ->
      """WITH sp AS (
        |  SELECT CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |      THEN 'train'
        |    WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |      THEN 'val' ELSE 'test' END AS split
        |  FROM documents),
        |c AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
        |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |  FROM sp)
        |SELECT n, n_train, n_val, n_test,
        |  CAST(
        |    (CAST(n_train AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 204)
        |      * (CAST(n_train AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 204)
        |      * 1000 // (256 * CAST(n AS HUGEINT) * 204)
        |    + (CAST(n_val AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * (CAST(n_val AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * 1000 // (256 * CAST(n AS HUGEINT) * 26)
        |    + (CAST(n_test AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * (CAST(n_test AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * 1000 // (256 * CAST(n AS HUGEINT) * 26) AS BIGINT) AS chi2_milli,
        |  CAST(
        |    (CAST(n_train AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 204)
        |      * (CAST(n_train AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 204)
        |      * 1000 // (256 * CAST(n AS HUGEINT) * 204)
        |    + (CAST(n_val AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * (CAST(n_val AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * 1000 // (256 * CAST(n AS HUGEINT) * 26)
        |    + (CAST(n_test AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * (CAST(n_test AS HUGEINT) * 256 - CAST(n AS HUGEINT) * 26)
        |      * 1000 // (256 * CAST(n AS HUGEINT) * 26) AS BIGINT) > 5991 AS srm_flag
        |FROM c""".stripMargin,
    "q_compaction_plan" ->
      """WITH files AS (
        |  SELECT lang, doc_id // 50 AS file_id,
        |    CAST(SUM(n_chars) AS BIGINT) AS bytes, COUNT(*) AS n_docs
        |  FROM documents GROUP BY lang, doc_id // 50),
        |planned AS (
        |  SELECT lang, file_id, bytes, n_docs,
        |    COALESCE(SUM(bytes) OVER (PARTITION BY lang
        |      ORDER BY bytes DESC, file_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 8192
        |      AS pack_id
        |  FROM files)
        |SELECT lang, CAST(pack_id AS BIGINT) AS pack_id, COUNT(*) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS pack_bytes,
        |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST((SUM(bytes) * 1000000) // 8192 AS BIGINT) AS fill_ppm
        |FROM planned GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,
    // pair grid verbatim from the q_dedup_components twin (blocked
    // exact Jaccard >= 0.2); split CASE verbatim from q_split_assign
    "q_split_leakage" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS tokset
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM base a JOIN base b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
        |          / len(list_distinct(a.tokset || b.tokset)), 6) >= 0.2),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |lab AS (
        |  SELECT least(sa.split, sb.split) AS split_x,
        |         greatest(sa.split, sb.split) AS split_y
        |  FROM pairs p
        |  JOIN sp sa ON p.doc_a = sa.doc_id
        |  JOIN sp sb ON p.doc_b = sb.doc_id)
        |SELECT split_x, split_y, COUNT(*) AS n_pairs,
        |  split_x <> split_y AS leaked
        |FROM lab GROUP BY split_x, split_y ORDER BY split_x, split_y""".stripMargin,
    // the oracle's single ordered window IS the semantics; the Spark
    // side must reproduce it through the two-phase distributed prefix
    // sum — a hash match proves offset bookkeeping exact
    "q_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, n_chars
        |  FROM documents),
        |b AS (SELECT CAST(SUM(n_toks) * 6 // 10 AS BIGINT) AS budget FROM d),
        |r AS (
        |  SELECT *, SUM(n_toks) OVER (ORDER BY n_chars DESC, doc_id) AS cum
        |  FROM d)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
        |  CAST(MAX(cum) AS BIGINT) AS max_cum
        |FROM r, b WHERE cum <= budget
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the same CTE chain as the composed Spark pipeline: quality gate →
    // messy-URL synthesis + canonicalization (verbatim from q_dedup_url's
    // twin) → min-survivor window → split CASE (verbatim from
    // q_split_assign's twin) → per-(split, lang) aggregate
    "q_pipeline_e2e" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS t FROM documents),
        |q AS (
        |  SELECT * FROM toks
        |  WHERE n_chars >= 150
        |    AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.35),
        |raw AS (
        |  SELECT *,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Example.org'
        |          ELSE 'https://www.example.org' END)
        |    || (CASE WHEN doc_id % 4 < 2 THEN ':443' ELSE '' END)
        |    || '/docs/' || CAST(doc_id // 2 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0
        |          THEN '?b=2&utm_source=feed&a=' || CAST((doc_id // 2) % 7 AS VARCHAR)
        |          ELSE '?a=' || CAST((doc_id // 2) % 7 AS VARCHAR) || '&utm_campaign=x&b=2'
        |        END) AS raw_url
        |  FROM q),
        |canon AS (
        |  SELECT doc_id, lang, n_chars, t,
        |    'https://'
        |    || regexp_replace(lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]+)', 1)),
        |                      ':443$', '')
        |    || regexp_replace(regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
        |                      '/+$', '')
        |    || (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END)
        |      AS canonical_url
        |  FROM (
        |    SELECT *,
        |      list_sort(list_filter(string_split(regexp_extract(raw_url, '\?([^#]*)', 1), '&'),
        |                            x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS kept
        |    FROM raw)),
        |surv AS (
        |  SELECT * FROM (
        |    SELECT *, MIN(doc_id) OVER (PARTITION BY canonical_url) AS keep FROM canon)
        |  WHERE doc_id = keep),
        |assigned AS (
        |  SELECT lang, len(t) AS n_toks, n_chars,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM surv)
        |SELECT split, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
        |FROM assigned GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q_batch_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
        |         WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
        |         WHEN n_tokens <= 256 THEN 256 ELSE 512 END AS bucket
        |  FROM t),
        |i AS (
        |  SELECT bucket, n_tokens,
        |    (ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8 AS batch_id
        |  FROM b)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(batch_id AS BIGINT) AS batch_id,
        |  COUNT(*) AS n_docs, MAX(n_tokens) AS max_tokens,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS pad_waste
        |FROM i GROUP BY bucket, batch_id ORDER BY bucket, batch_id""".stripMargin,
    "q_negative_pairs" ->
      """WITH ix AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS idx
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |d AS (
        |  SELECT ix.doc_id, ix.idx, j.j,
        |    ('0x' || substring(md5('neg:' || CAST(ix.doc_id AS VARCHAR) || ':'
        |      || CAST(j.j AS VARCHAR)), 1, 8))::BIGINT % n.n AS h
        |  FROM ix CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j) j CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS j,
        |    CASE WHEN h = idx THEN (h + 1) % (SELECT n FROM n) ELSE h END AS neg_idx
        |  FROM d)
        |SELECT r.doc_id, r.j, ix.doc_id AS neg_doc_id
        |FROM r JOIN ix ON ix.idx = r.neg_idx
        |ORDER BY r.doc_id, r.j""".stripMargin,
    "q_curriculum" ->
      """WITH l AS (
        |  SELECT lang, ROW_NUMBER() OVER (ORDER BY lang) - 1 AS si
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |nl AS (SELECT COUNT(*) AS n_langs FROM l),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS stratum_rank
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.n_chars, CAST(r.stratum_rank AS BIGINT) AS stratum_rank,
        |  CAST((r.stratum_rank - 1) * nl.n_langs + l.si AS BIGINT) AS position
        |FROM r JOIN l USING (lang) CROSS JOIN nl
        |ORDER BY position""".stripMargin,
    "q_sample_apportion" ->
      """WITH strata AS (
        |  SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS w
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM strata),
        |q AS (
        |  SELECT lang, source, w,
        |    (10000 * w) // tw AS floor_q, (10000 * w) % tw AS rem
        |  FROM strata, t),
        |r AS (
        |  SELECT *, 10000 - SUM(floor_q) OVER () AS deficit,
        |    row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
        |  FROM q)
        |SELECT lang, source, w AS n_chars_total,
        |  CAST(floor_q + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY lang, source""".stripMargin,
    "q_corpus_manifest" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS tokset
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM base a JOIN base b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
        |          / len(list_distinct(a.tokset || b.tokset)), 6) >= 0.2),
        |sym AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
        |kept AS (
        |  SELECT d.doc_id, d.lang, d.text,
        |    len(string_split(d.text, ' ')) AS n_toks
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY COALESCE(c.component, d.doc_id)
        |    ORDER BY d.n_chars DESC, d.doc_id ASC) = 1),
        |quality AS (
        |  SELECT doc_id, lang, n_toks,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split,
        |    round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))) AS DOUBLE)
        |      / len(list_transform(range(1, len(string_split(text,' '))),
        |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])), 6) AS dup2
        |  FROM kept)
        |SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS tokens
        |FROM quality
        |WHERE dup2 <= 0.08
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q_sample_index" ->
      """SELECT doc_id, lang,
        |  row_number() OVER (ORDER BY doc_id) - 1 AS sample_idx
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams FROM t),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |hot AS (SELECT gram, 1 AS boiler FROM cg GROUP BY gram HAVING COUNT(*) > 3)
        |SELECT cg.doc_id, COUNT(*) AS n_grams, COUNT(hot.boiler) AS n_boiler,
        |  round(CAST(COUNT(hot.boiler) AS DOUBLE) / COUNT(*), 6) AS boiler_ratio,
        |  CAST(CAST(COUNT(hot.boiler) AS DOUBLE) / COUNT(*) <= 0.15 AS INT) AS keep
        |FROM cg LEFT JOIN hot USING (gram)
        |GROUP BY cg.doc_id ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams FROM t),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 29 = 0),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 29 <> 0)
        |SELECT cg.doc_id, COUNT(*) AS n_grams, COUNT(bg.gram) AS n_contaminated,
        |  round(CAST(COUNT(bg.gram) AS DOUBLE) / COUNT(*), 6) AS contamination
        |FROM cg LEFT JOIN bg USING (gram)
        |GROUP BY cg.doc_id ORDER BY doc_id""".stripMargin,
    "q_split_balance" ->
      """WITH a AS (
        |  SELECT lang,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |obs AS (
        |  SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM a GROUP BY split, lang),
        |rt AS (SELECT split, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY split),
        |ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY lang),
        |tot AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT split) AS BIGINT) AS nsp,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl
        |  FROM obs),
        |cell AS (
        |  SELECT CAST(FLOOR(
        |      (CAST(o AS DOUBLE) - CAST(rt.rt * ct.ct AS DOUBLE) / n) *
        |      (CAST(o AS DOUBLE) - CAST(rt.rt * ct.ct AS DOUBLE) / n) /
        |      (CAST(rt.rt * ct.ct AS DOUBLE) / n) * 1e9) AS BIGINT)
        |      AS term_nano,
        |    nsp, nl
        |  FROM obs JOIN rt USING (split) JOIN ct USING (lang), tot)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(MAX((nsp - 1) * (nl - 1)) AS BIGINT) AS dof,
        |  round(CAST(SUM(term_nano) AS DOUBLE) / 1e9, 6) AS chi2
        |FROM cell""".stripMargin,
    "q_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, lang, len(toks) AS n_tokens,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |  FROM t)
        |SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6) AS dup_bigram_frac,
        |  round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) AS dup_trigram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_toks FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_toks,
        |    COALESCE(CAST(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_off
        |  FROM t)
        |SELECT lang, CAST(start_off // 128 AS BIGINT) AS bin_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        |FROM c GROUP BY lang, bin_id ORDER BY lang, bin_id""".stripMargin,
    "q_dedup_canonical" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS tokset
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM base a JOIN base b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
        |          / len(list_distinct(a.tokset || b.tokset)), 6) >= 0.2),
        |sym AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a)
        |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars,
        |  CASE WHEN row_number() OVER (
        |    PARTITION BY COALESCE(c.component, d.doc_id)
        |    ORDER BY d.n_chars DESC, d.doc_id ASC) = 1 THEN 1 ELSE 0 END AS is_kept
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY doc_id""".stripMargin)
}
