package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Cross-validation split construction + physical-layout pruning
  * diagnostics (round 13, SURVEY §2 #359–#362) — the reproducible-split
  * family beyond the fixed train/val/test ladder of
  * [[PipelineOps.splitAssign]]: content-addressed k-fold and
  * group-aware k-fold assignment (both pure per-row hash projections,
  * embarrassingly parallel at any corpus size), rolling-origin
  * evaluation windows for time-ordered data (month-grain — the relation
  * is bounded by the calendar, not the corpus), and a zone-map pruning
  * report that quantifies what a date-clustered file layout buys the
  * scan planner (file-grain metadata relation, the lakehouse
  * data-skipping readout).
  */
object TrainSplitOps {

  /** First-6-hex-chars of a salted md5 as a bigint — the shared
    * content-addressed randomizer: deterministic on both engines
    * (Spark `conv(...,16,10)`, DuckDB `('0x'||…)::BIGINT`), uniform to
    * 1/2²⁴, and independent across salts. */
  private def hexMod(salt: String, key: Column, k: Int): Column =
    (conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 6),
      16, 10).cast("long") % k).as("fold")

  private def hexModSql(salt: String, key: String, k: Int): String =
    s"('0x' || substr(md5('$salt' || CAST($key AS VARCHAR)), 1, 6))::BIGINT % $k"

  /** #359 Content-addressed k-fold assignment (k=5) with the per-fold
    * language balance report: fold = md5('kfold:'‖doc_id) mod k, so a
    * document's fold never depends on partitioning, row order, or
    * corpus size — re-running CV on a grown corpus keeps every old
    * document in its old fold (the property shuffled-index splits
    * lack). Output grain is (fold, lang) with the lang share-of-fold in
    * ppm, the balance check that validates the folds are exchangeable
    * before anyone trusts cross-fold variance.
    *
    * Scale: one map-side-combined (fold, lang) aggregate over a pure
    * per-row projection; the share window runs on the k×|lang| result
    * relation. No corpus-sized shuffle beyond the one aggregate.
    */
  def splitKfold(s: SparkSession, dir: String): DataFrame = {
    val wFold = Window.partitionBy("fold")
    Tables.documents(s, dir)
      .select(hexMod("kfold:", col("doc_id"), 5), col("lang"),
        col("n_chars"))
      .groupBy("fold", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("fold_docs", sum(col("n_docs")).over(wFold))
      .select(col("fold"), col("lang"), col("n_docs"), col("n_chars"),
        expr("(n_docs * 1000000) div fold_docs").as("lang_frac_ppm"))
      .orderBy("fold", "lang")
  }

  /** #360 Group-aware k-fold (k=4, groups = `source`): every document
    * of a source lands in the same fold because the fold is a pure
    * function of the GROUP key, not the row — the leakage-proof CV
    * construction for grouped data (near-dup documents cluster within
    * sources, so a doc-keyed fold would leak train content into eval
    * folds; cf. the pair-level audit in [[PipelineOps.splitLeakage]]).
    * The `max_folds_per_source` column PROVES the invariant from the
    * data (computed, not assumed — any value >1 means the assignment
    * broke).
    *
    * Scale: per-row hash projection → one (fold) aggregate with two
    * distinct-counts; the invariant check is a |source|-bounded
    * aggregate reduced to 1 row and broadcast onto k rows.
    */
  def splitGroupKfold(s: SparkSession, dir: String): DataFrame = {
    val tagged = Tables.documents(s, dir)
      .select(hexMod("gkf:", col("source"), 4), col("source"), col("lang"))
    val perFold = tagged.groupBy("fold")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
    val invariant = tagged.groupBy("source")
      .agg(countDistinct(col("fold")).as("nf"))
      .agg(max(col("nf")).as("max_folds_per_source"))
    perFold.crossJoin(broadcast(invariant)).orderBy("fold")
  }

  /** #361 Rolling-origin (walk-forward) evaluation windows over the
    * order timeline: the last 4 calendar months each serve once as the
    * test month with ALL earlier months as training — the
    * leakage-free CV design for forecasting (a random fold would train
    * on the future). Month grain: the windowed relation is bounded by
    * the calendar (~80 rows here, ~1200 for a century), NOT the
    * corpus, so the fold expansion is a tiny cross join regardless of
    * data size; the only corpus-sized job is the one month aggregate.
    *
    * Revenue goes through the exact-decimal [[Det.dsum]] policy; the
    * month index is a row_number over the month relation (bounded, so
    * the unpartitioned window is a non-issue — same stance as
    * [[TimeWindows]]' calendar relations).
    */
  def splitRollingOrigin(s: SparkSession, dir: String): DataFrame = {
    val byMon = Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("revenue"))
    val idx = byMon.withColumn("idx",
      row_number().over(Window.orderBy("mon")))
    val nMon = idx.agg(max(col("idx")).as("n_mon"))
    val folds = idx.crossJoin(broadcast(nMon))
      .withColumn("fold", col("idx") - (col("n_mon") - 4))
      .filter(col("fold") >= 1)
      .select(col("fold"), col("idx").as("test_idx"), col("mon").as("test_mon"),
        col("n_orders").as("test_orders"), col("revenue").as("test_revenue"))
    val train = idx.join(broadcast(folds), idx("idx") < folds("test_idx"))
      .groupBy(col("fold"), col("test_mon"), col("test_orders"),
        col("test_revenue"))
      .agg(count(lit(1)).as("train_months"),
        sum(col("n_orders")).as("train_orders"))
    train.select(col("fold"), col("train_months"), col("train_orders"),
      date_format(col("test_mon"), "yyyy-MM").as("test_month"),
      col("test_orders"), col("test_revenue"))
      .orderBy("fold")
  }

  /** [[GlobalPrefix.memoized]] rank over (o_orderdate, o_orderkey),
    * shared with the bench prewarm. */
  private[graft] def rankedOrdersDate(s: SparkSession, dir: String): GlobalPrefix.Prefixed =
    GlobalPrefix.memoized(s, s"$dir#orders:date_cluster",
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
      Seq(col("o_orderdate"), col("o_orderkey")), GlobalPrefix.Rank)

  /** #362 Zone-map pruning effectiveness, insertion layout vs
    * date-clustered layout: both slice orders into 1000-row files,
    * record per-file min/max `o_orderdate` (exactly the footer stats a
    * parquet writer emits), and evaluate how many files a
    * [1996-03-01, 1996-09-01) date predicate can SKIP without reading —
    * the report that justifies a clustering/compaction pass before a
    * 100 TB scan workload. Insertion order leaves every file spanning
    * the whole timeline (nothing prunes); clustering by date makes
    * min/max ranges disjoint (everything outside the window prunes).
    *
    * Scale: the clustered file assignment is the [[GlobalPrefix]] rank
    * (no single-partition window); file stats
    * are one map-side-combined aggregate per layout; the report is a
    * 2-row reduction over the FILE-grain metadata relation (rows =
    * corpus/1000), which is precisely how engine scan planners consume
    * zone maps.
    */
  def zonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val lo = "1996-03-01"
    val hi = "1996-09-01"
    val rows = 1000L
    val ranked = rankedOrdersDate(s, dir).df
    val clustered = ranked.select(lit("date_clustered").as("layout"),
      expr(s"(r - 1) div ${rows}L").as("file_id"), col("o_orderdate"))
    val insertion = Tables.orders(s, dir)
      .select(lit("insertion").as("layout"),
        expr(s"o_orderkey div ${rows}L").as("file_id"), col("o_orderdate"))
    clustered.unionByName(insertion)
      .groupBy("layout", "file_id")
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderdate")).as("min_d"), max(col("o_orderdate")).as("max_d"))
      .withColumn("pruned",
        col("max_d") < lit(lo).cast("timestamp") ||
          col("min_d") >= lit(hi).cast("timestamp"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
        sum(col("n_rows")).as("rows_total"),
        sum(when(col("pruned"), 0L).otherwise(col("n_rows"))).as("rows_scanned"))
      .withColumn("scan_frac_ppm",
        expr("(rows_scanned * 1000000) div rows_total"))
      .orderBy("layout")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_split_kfold" -> (splitKfold _),
    "q_split_group_kfold" -> (splitGroupKfold _),
    "q_split_rolling_origin" -> (splitRollingOrigin _),
    "q_zonemap_prune" -> (zonemapPrune _))

  val oracles: Map[String, String] = Map(
    "q_split_kfold" ->
      s"""WITH tagged AS (
         |  SELECT ${hexModSql("kfold:", "doc_id", 5)} AS fold, lang, n_chars
         |  FROM documents),
         |g AS (
         |  SELECT fold, lang, COUNT(*) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
         |  FROM tagged GROUP BY fold, lang)
         |SELECT fold, lang, n_docs, n_chars,
         |  CAST((n_docs * 1000000) // SUM(n_docs) OVER (PARTITION BY fold)
         |    AS BIGINT) AS lang_frac_ppm
         |FROM g ORDER BY fold, lang""".stripMargin,
    "q_split_group_kfold" ->
      s"""WITH tagged AS (
         |  SELECT ${hexModSql("gkf:", "source", 4)} AS fold, source, lang
         |  FROM documents),
         |pf AS (
         |  SELECT fold, COUNT(DISTINCT source) AS n_sources,
         |    COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs
         |  FROM tagged GROUP BY fold),
         |inv AS (
         |  SELECT MAX(nf) AS max_folds_per_source FROM (
         |    SELECT source, COUNT(DISTINCT fold) AS nf
         |    FROM tagged GROUP BY source))
         |SELECT fold, n_sources, n_docs, n_langs, max_folds_per_source
         |FROM pf, inv ORDER BY fold""".stripMargin,
    "q_split_rolling_origin" ->
      """WITH bymon AS (
        |  SELECT date_trunc('month', o_orderdate) AS mon,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY mon) AS idx FROM bymon),
        |nm AS (SELECT MAX(idx) AS n_mon FROM idx),
        |folds AS (
        |  SELECT idx - (n_mon - 4) AS fold, idx AS test_idx, mon AS test_mon,
        |    n_orders AS test_orders, revenue AS test_revenue
        |  FROM idx, nm WHERE idx - (n_mon - 4) >= 1)
        |SELECT f.fold, COUNT(*) AS train_months,
        |  CAST(SUM(i.n_orders) AS BIGINT) AS train_orders,
        |  strftime(f.test_mon, '%Y-%m') AS test_month,
        |  f.test_orders, f.test_revenue
        |FROM idx i JOIN folds f ON i.idx < f.test_idx
        |GROUP BY f.fold, f.test_mon, f.test_orders, f.test_revenue
        |ORDER BY fold""".stripMargin,
    "q_zonemap_prune" ->
      """WITH ranked AS (
        |  SELECT o_orderdate,
        |    ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS r
        |  FROM orders),
        |files AS (
        |  SELECT 'date_clustered' AS layout, (r - 1) // 1000 AS file_id,
        |    o_orderdate
        |  FROM ranked
        |  UNION ALL
        |  SELECT 'insertion' AS layout, o_orderkey // 1000 AS file_id,
        |    o_orderdate
        |  FROM orders),
        |fstats AS (
        |  SELECT layout, file_id, COUNT(*) AS n_rows,
        |    MIN(o_orderdate) AS min_d, MAX(o_orderdate) AS max_d
        |  FROM files GROUP BY layout, file_id),
        |flagged AS (
        |  SELECT *, (max_d < TIMESTAMP '1996-03-01'
        |             OR min_d >= TIMESTAMP '1996-09-01') AS pruned
        |  FROM fstats)
        |SELECT layout, COUNT(*) AS n_files,
        |  CAST(SUM(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
        |  CAST(SUM(n_rows) AS BIGINT) AS rows_total,
        |  CAST(SUM(CASE WHEN pruned THEN 0 ELSE n_rows END) AS BIGINT)
        |    AS rows_scanned,
        |  CAST((SUM(CASE WHEN pruned THEN 0 ELSE n_rows END) * 1000000)
        |    // SUM(n_rows) AS BIGINT) AS scan_frac_ppm
        |FROM flagged GROUP BY layout ORDER BY layout""".stripMargin)
}
