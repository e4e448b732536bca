package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import graft.functions.{GraftFunctions, PipBBoxPrefilter}
import graft.plans.{RankFilterToTopK, TopKPerGroupStrategy}

/** The one way to build a session, and the one way to equip a session
  * with the program's native functions and plan rules.
  *
  * [[apply]] builds the local session every tool runs on (Bench, Verify,
  * OptProbe and the test fixture), so a plan audited or timed in
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
  * `install(spark)` registers every `graft_*` function and appends
  * [[PipBBoxPrefilter]], [[RankFilterToTopK]] and [[TopKPerGroupStrategy]].
  * Function registries and experimental methods belong to one session and
  * are not inherited by `newSession()`, so install runs wherever a caller's
  * session enters the program: in [[apply]], before every query function
  * of [[SparkEntry.queries]], and in [[Prewarm.apply]]. A caller that
  * builds its own plain session (a harness, a `newSession()` per query)
  * therefore still runs every query with the functions and the rewrites;
  * a build-time-only hook (SparkSessionExtensions, `spark.sql.extensions`)
  * would miss those sessions.
  *
  * `install(spark, dir)` also chooses how the session executes a query
  * over a table dir ([[codegenConf]]). Below [[InterpretedBelowBytes]] of
  * `.parquet` tables the session runs interpreted
  * (`spark.sql.codegen.wholeStage=false`,
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`); at or above it, with
  * Spark's default generated code. Over small tables Janino compilation is
  * most of a short query's time, while over large ones generated code pays
  * for itself; the survey that places the threshold is in its scaladoc.
  * The keys are runtime conf, which `newSession()` does not inherit, so
  * they are set where the dir enters the program: before every query of
  * [[SparkEntry.queries]] and in [[Prewarm.apply]].
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

  /** Table bytes of a dir below which its queries run interpreted: 4 MiB.
    *
    * Placed by `CODEGEN_SURVEY.json` (`graft.OptProbe survey`, min-of-3,
    * cold and warm, generated against interpreted): all 544 queries over
    * the sf0.01 dir (1.87 MB of tables) and 304 over the sf0.1 dir
    * (17.5 MB). Grouped by the query's scan bytes, the median cold
    * interpreted/generated ratio is 0.65 below 0.25 MiB, 0.79 at 1–2 MiB,
    * 0.96 at 2–4 MiB, 1.20 at 4–8 MiB and 1.46 at 8–16 MiB: interpreted
    * stops winning at about 4 MiB, and no query over a dir scans more than
    * the dir holds. Over sf0.01, interpreted cuts the cold sum from 435 s
    * to 338 s (median ratio 0.67, compiles per query 25.5 → 3.2) but adds
    * 7% to the warm sum (278 → 296 s), and 19 queries run cold more than
    * 15% and 50 ms slower; the worst are the self-join and explode heavy
    * ones (q_stats_kendall 0.88 → 7.56 s, q_embed_eff_rank, q_ts_sampen).
    * Their final plans scan 0.28 MB or less, so no cut on a plan's scan
    * bytes keeps them generated without giving up the wins: a 0.25 MiB
    * cut keeps 10 of the 19 and loses 101 of 459 cold wins. Spark's own
    * size estimate (`plan_bytes`) does not pick them out either: it
    * multiplies the sides of every join, so a 6-table star join
    * (q_sql_market_share, 4.9e26 bytes) outranks them all, and they rank
    * 69th to 273rd of 544. What does pick them out is the most rows one
    * operator outputs at run time (`max_operator_rows`): exactly the five
    * worst pass 500,000 and no other query passes 400,000. That count is
    * only known after the query has run, so the rule stays per dir.
    *
    * The fixtures place this value only between the sizes of the sf0.01
    * dir and the sf0.1 dir: any value in (1.87 MB, 17.5 MB] gives the same
    * choice for every fixture dir, and the benchmark times only the
    * sf0.01 side.
    */
  val InterpretedBelowBytes: Long = 4L << 20

  /** Spark's defaults: whole-stage generated code, expression code
    * generated with an interpreted fallback. */
  val Generated: Map[String, String] = Map(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "FALLBACK")

  /** No whole-stage code, and expressions interpreted. */
  val Interpreted: Map[String, String] = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** The codegen keys for queries over `dir`, from its [[tableBytes]]. */
  def codegenConf(dir: String): Map[String, String] =
    if (tableBytes(dir) < InterpretedBelowBytes) Interpreted else Generated

  /** Total bytes of the `.parquet` tables in `dir`, each a file or a dir
    * of part files. */
  def tableBytes(dir: String): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(size).sum
  }

  /** `install(spark)`, then the codegen keys for queries over `dir`
    * ([[codegenConf]]). */
  def install(spark: SparkSession, dir: String): Unit = {
    install(spark)
    codegenConf(dir).foreach { case (k, v) => spark.conf.set(k, v) }
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
