package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator category lives in graft.operators.* and contributes a
  * (queries, oracles) pair; this object is only the merged registry the
  * driver reads. Every oracle-able query obeys the determinism policy in
  * [[graft.Det]] (total ORDER BY, exact decimal aggregation of doubles).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregations.pricingSummary(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Scans.queries, Scans.oracles),
      (Relational.queries, Relational.oracles),
      (Aggregations.queries, Aggregations.oracles),
      (Joins.queries, Joins.oracles),
      (Windows.queries, Windows.oracles),
      (SetOps.queries, SetOps.oracles),
      (ScalarFuncs.queries, ScalarFuncs.oracles),
      (TimeWindows.queries, TimeWindows.oracles),
      (TextOps.queries, TextOps.oracles),
      (DedupOps.queries, DedupOps.oracles),
      (SimilarityOps.queries, SimilarityOps.oracles),
      (Udfs.queries, Udfs.oracles),
      (Sorts.queries, Sorts.oracles),
      (NativeExprs.queries, NativeExprs.oracles),
      (Multimodal.queries, Multimodal.oracles),
      (SqlSuite.queries, SqlSuite.oracles),
      (ExtraFuncs.queries, ExtraFuncs.oracles),
      (TypedOps.queries, TypedOps.oracles),
      (QualityOps.queries, QualityOps.oracles),
      (GraphOps.queries, GraphOps.oracles),
      (PipelineOps.queries, PipelineOps.oracles),
      (EventOps.queries, EventOps.oracles),
      (StatsOps.queries, StatsOps.oracles),
      (SqlSuite2.queries, SqlSuite2.oracles),
      (SqlSuite3.queries, SqlSuite3.oracles),
      (SearchOps.queries, SearchOps.oracles),
      (ClusterOps.queries, ClusterOps.oracles),
      (EvalOps.queries, EvalOps.oracles),
      (InferenceOps.queries, InferenceOps.oracles),
      (CorpusOps.queries, CorpusOps.oracles),
      (TrainSplitOps.queries, TrainSplitOps.oracles),
      (TextEvalOps.queries, TextEvalOps.oracles),
      (SeriesOps.queries, SeriesOps.oracles),
      (TuningOps.queries, TuningOps.oracles),
      (ImpactOps.queries, ImpactOps.oracles),
      (DiagnosticOps.queries, DiagnosticOps.oracles),
      (IndicatorOps.queries, IndicatorOps.oracles),
      (DecisionOps.queries, DecisionOps.oracles),
      (CurationOps.queries, CurationOps.oracles),
      (SqlSuite4.queries, SqlSuite4.oracles),
      (NonparamOps.queries, NonparamOps.oracles))

  /** The query functions as the modules define them, unwrapped. */
  private[graft] lazy val definitions: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** One entry per implemented operator from SURVEY.md §2. Each function
    * installs the graft functions and plan rules into the session it is
    * given, and sets the session's codegen mode for the dir
    * (`GraftSession.install(s, dir)`), so a query builds the same plan in
    * any session, including a caller's plain one or a `newSession()`.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    definitions.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        GraftSession.install(s, dir)
        fn(s, dir)
      })
    }

  /** Exits 1 naming each name in a dev subset filter that is not a
    * registered query, so a mistyped name cannot pass silently.
    */
  def requireKnown(only: Set[String], tool: String): Unit = {
    val unknown = (only -- queries.keySet).toSeq.sorted
    if (unknown.nonEmpty) {
      System.err.println(s"[$tool] unknown queries: ${unknown.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
