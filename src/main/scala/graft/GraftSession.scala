package graft

import org.apache.spark.sql.SparkSession
import graft.functions.{GraftFunctions, PipBBoxPrefilter}
import graft.plans.{RankFilterToTopK, TopKPerGroupStrategy}

/** The one way to build a session, and the one way to equip a session
  * with the program's native functions and plan rules.
  *
  * [[apply]] builds the local session every tool runs on (Bench, Verify,
  * Explain, OptProbe and the test fixture), so a plan audited or timed in
  * one of them is the plan the others run. The conf is pinned:
  *  - ANSI on (the Spark 4 default, pinned explicitly): the integer-exact
  *    operators (e.g. mlStump's DECIMAL envelope) guarantee loud overflow
  *    only under ANSI semantics; with ANSI off, overflow yields NULL and
  *    silently drops rows from argmax orderings;
  *  - UTC session time zone;
  *  - `nanosAsLong`: events.parquet stores TIMESTAMP(NANOS), which Spark
  *    reads only as longs (normalized to µs by [[Tables.events]]);
  *  - no UI.
  *
  * [[install]] registers every `graft_*` function and appends
  * [[PipBBoxPrefilter]], [[RankFilterToTopK]] and [[TopKPerGroupStrategy]].
  * Function registries and experimental methods belong to one session and
  * are not inherited by `newSession()`, so install runs wherever a caller's
  * session enters the program: in [[apply]], before every query function
  * of [[SparkEntry.queries]], and in [[Prewarm.apply]]. A caller that
  * builds its own plain session (a harness, a `newSession()` per query)
  * therefore still runs every query with the functions and the rewrites;
  * a build-time-only hook (SparkSessionExtensions, `spark.sql.extensions`)
  * would miss those sessions.
  */
object GraftSession {

  /** A `local[cpus]` session with `cpus` shuffle partitions, installed.
    * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 32, the bench's
    * local[32] environment, which does not set the variable. */
  def apply(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    install(spark)
    spark
  }

  /** Idempotent: functions are registered once per session (see
    * [[GraftFunctions.register]]) and each rule is appended only if the
    * session does not hold it yet. */
  def install(spark: SparkSession): Unit = {
    GraftFunctions.register(spark)
    val x = spark.experimental
    for (rule <- Seq(PipBBoxPrefilter, RankFilterToTopK)
         if !x.extraOptimizations.contains(rule))
      x.extraOptimizations = x.extraOptimizations :+ rule
    if (!x.extraStrategies.contains(TopKPerGroupStrategy))
      x.extraStrategies = x.extraStrategies :+ TopKPerGroupStrategy
  }
}
