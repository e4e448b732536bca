package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.10/#61 queries exercising the native Catalyst expressions
  * (graft.functions) end-to-end through SQL registration — proving the
  * Expression + FunctionRegistry surface, with the haversine twin checked
  * against the same DuckDB oracle as the pure-column version.
  */
object NativeExprs {

  /** #61a native codegen haversine — same synthetic points as
    * ScalarFuncs.haversine, same oracle.
    */
  def haversineNative(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        (((col("c_custkey") * 7919) % 12000).cast("double") / 100 - 60).as("lat"),
        (((col("c_custkey") * 104729) % 36000).cast("double") / 100 - 180).as("lon"))
      .withColumn("km_to_austin",
        round(expr("graft_haversine(lat, lon, 30.2672, -97.7431)"), 4))
      .orderBy("c_custkey")
  }

  /** #61b native rolling-hash fingerprint. ORACLE-ABLE (promoted r10):
    * DuckDB BIGINT traps on the intentional 64-bit wraparound, but a
    * HUGEINT list_reduce fold mod 2^64 + two's-complement cast computes
    * the identical signed fingerprint (see oracles map).
    */
  def rollingHash(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .selectExpr("doc_id", "graft_rolling_hash(text) AS fingerprint")
      .orderBy("doc_id")
  }

  /** #61d native Jaro-Winkler fuzzy name matching over the DISTINCT part
    * vocabulary. Pair generation runs on the name dimension — 64 names
    * at every scale factor (the vocabulary is a bounded adjective×noun
    * catalog), never the fact table — so the all-pairs stage is O(V²)
    * with V catalog-bounded, each score one codegen'd kernel call.
    * Oracle = DuckDB's builtin jaro_winkler_similarity (identical
    * RapidFuzz semantics, pinned in [[graft.functions.JaroWinklerExpr]];
    * the filter applies to the raw score, the output rounds to 4 dp on
    * both engines).
    */
  def jaroWinklerPairs(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select(col("p_name")).distinct()
    names.select(col("p_name").as("name_a"))
      .join(broadcast(names.select(col("p_name").as("name_b"))),
        col("name_a") < col("name_b"))
      .withColumn("jw_raw", expr("graft_jaro_winkler(name_a, name_b)"))
      .filter(col("jw_raw") > 0.8)
      .select(col("name_a"), col("name_b"), round(col("jw_raw"), 4).as("jw"))
      .orderBy("name_a", "name_b")
  }

  /** #61e FULL Damerau-Levenshtein over the same vocabulary-bounded name
    * pairs as q_jaro_winkler — the edit-distance complement (integer
    * output: zero float considerations). Oracle = DuckDB's builtin
    * damerau_levenshtein (same Lowrance-Wagner full variant, pinned in
    * [[graft.functions.DamerauLevenshteinExpr]]).
    */
  def damerauPairs(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select(col("p_name")).distinct()
    names.select(col("p_name").as("name_a"))
      .join(broadcast(names.select(col("p_name").as("name_b"))),
        col("name_a") < col("name_b"))
      .withColumn("dl", expr("graft_damerau_levenshtein(name_a, name_b)"))
      .filter(col("dl") <= 4)
      .orderBy("name_a", "name_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_haversine_native" -> (haversineNative _),
    "q_fingerprint_native" -> (rollingHash _),
    "q_jaro_winkler" -> (jaroWinklerPairs _),
    "q_damerau" -> (damerauPairs _),
    // #61c the custom whole-operator path: the rank-filter query of
    // q_win_topk_per_group, planned as TopKPerGroupExec by the rewrite
    // every session carries (see graft.plans.RankFilterToTopK). Same
    // oracle as the window formulation: the rewrite must be invisible to
    // results.
    "q_topk_custom" -> (Windows.winTopkPerGroup _))

  val oracles: Map[String, String] = Map(
    "q_haversine_native" -> ScalarFuncs.oracles("q_haversine"),
    // exact twin of RollingHashExpr (h = 31*h + byte over UTF-8, signed
    // 64-bit wraparound): HUGEINT fold mod 2^64 via list_reduce, then a
    // two's-complement reinterpretation back to BIGINT. ascii(char) equals
    // the UTF-8 byte because the corpus is pure ASCII (octet_length ==
    // length on every fixture); a non-ASCII doc would surface as a hash
    // mismatch, not a silent pass.
    "q_fingerprint_native" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN h - CAST('18446744073709551616' AS HUGEINT)
        |            ELSE h END AS BIGINT) AS fingerprint
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        [CAST(ascii(text[i]) AS HUGEINT)
        |         FOR i IN range(1, length(text) + 1)]),
        |      (h, c) -> (31 * h + c)
        |                % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) > 0.8
        |ORDER BY name_a, name_b""".stripMargin,
    "q_damerau" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(damerau_levenshtein(a.p_name, b.p_name) AS INTEGER) AS dl
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY name_a, name_b""".stripMargin,
    "q_topk_custom" -> Windows.oracles("q_win_topk_per_group"))
}
