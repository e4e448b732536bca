package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.operators.SessionMemo

/** Table access + determinism helpers shared by every operator.
  *
  * Scale design: all readers return lazy DataFrames over parquet so Catalyst
  * can push filters/projections into the scan (verified via explain:
  * `PushedFilters`/`ReadSchema`). At 100 TB the same code runs unchanged —
  * parquet row-group pruning + column projection are the first line of
  * defense; nothing here materializes on the driver.
  *
  * Every read goes through [[parquet]], which hands Spark a memoized schema
  * instead of letting it infer one: inference runs a one-task Spark job per
  * read (60–120 ms over a one-file table), a read with a known schema runs
  * none. The memo is JVM-wide, one entry per canonical path. An entry holds
  * the schema and the listing signature it was inferred under: the relative
  * name, length and mtime of every file under the path, and the session
  * conf that parquet inference reads ([[InferenceConf]]). A read whose
  * signature differs (a rewritten fixture, a session with other parquet
  * conf) infers again and replaces the entry.
  */
object Tables {
  /** Read one driver-generated table from the scale-factor dir. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    parquet(s, s"$dir/$name.parquet")

  /** `s.read.parquet(path)` with the schema Spark would infer for it,
    * memoized per canonical path and listing signature. A missing path is
    * read as given, so it raises Spark's own error. */
  private[graft] def parquet(s: SparkSession, path: String): DataFrame = {
    val root = new File(path)
    if (!root.exists()) return s.read.parquet(path)
    val key = root.getCanonicalPath
    val sig = signature(s, root.toPath)
    val schema = Option(schemas.get(key)).collect { case (`sig`, known) => known }
      .getOrElse {
        // inferred outside any map lock: the read may nest (a derived
        // file's build reads tables), see SessionMemo
        val inferred = s.read.parquet(path).schema
        schemas.put(key, sig -> inferred)
        inferred
      }
    s.read.schema(schema).parquet(path)
  }

  /** The session conf that Spark's parquet schema inference reads. */
  val InferenceConf: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private val schemas = new ConcurrentHashMap[String, (Seq[String], StructType)]()

  /** Every file under `root` as `name|length|mtime`, sorted, then each
    * [[InferenceConf]] key's value in `s`. */
  private def signature(s: SparkSession, root: Path): Seq[String] = {
    val files = Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala.flatMap { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        if (a.isRegularFile) Some(s"${root.relativize(f)}|${a.size}|${a.lastModifiedTime}")
        else None
      }.toVector
    }
    files.sorted ++ InferenceConf.map(k => s"$k=${s.conf.getOption(k).getOrElse("")}")
  }

  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame   = t(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = t(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame   = t(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame   = t(s, dir, "region")
  /** events.ts normalization. The driver has shipped this column two ways:
    * parquet TIMESTAMP(NANOS), which Spark only reads as a nanos long
    * (spark.sql.legacy.parquet.nanosAsLong=true — set by GraftSession),
    * and tz-less timestamp[us], which Spark 4 infers as TIMESTAMP_NTZ.
    * Both are µs-precision wall-clock UTC, so both normalize losslessly to a
    * plain TimestampType: nanos long via an integer div, NTZ via a cast that
    * reinterprets the wall-clock in the session zone (UTC for every entry
    * point here) — downstream `cast("long")` epoch-seconds math then works
    * identically for either source schema.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // The NTZ→Timestamp cast reinterprets wall-clock in the SESSION
        // zone — lossless only under UTC. Every entry point here sets
        // spark.sql.session.timeZone=UTC; fail fast rather than silently
        // shifting all epoch-seconds math if a future one forgets.
        val tz = s.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"Tables.events requires spark.sql.session.timeZone=UTC (got $tz): " +
            "the TIMESTAMP_NTZ ts column is wall-clock UTC and the cast to " +
            "TimestampType reinterprets it in the session zone")
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame  = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")
}

/** Session-memoized `v_*` temp views for the SQL-front-door suites.
  *
  * Each SqlSuite query used to re-register all seven views on every call,
  * and registering them costs about 190 ms in a new session even with
  * memoized schemas. The views are session state, so their memo is a
  * [[SessionMemo]] entry under the key `views`: it holds the dir the
  * session's views point at, and a call for another dir re-registers them
  * (the dev-subset and test paths all pass the same sfDir; a dir switch —
  * e.g. PropertySpec fixtures — re-points the views, and a switch back
  * re-points them again). The key names no dir because the seven view names
  * are one per session: an entry per dir would serve a stale hit after a
  * switch away and back. Another session that asks rebuilds the entry for
  * itself, as every [[SessionMemo]] entry.
  */
object SqlViews {
  private val tables =
    Seq("customer", "orders", "lineitem", "nation", "supplier", "region", "part")
  def ensure(s: SparkSession, dir: String): Unit = {
    val registered = SessionMemo(s, "views")(new AtomicReference[String])
    if (registered.get != dir) {
      tables.foreach(n => Tables.t(s, dir, n).createOrReplaceTempView(s"v_$n"))
      registered.set(dir)
    }
  }
}

/** Determinism policy (SURVEY.md §5.3): the driver hash-compares our parquet
  * against DuckDB, so every oracle-able query must be bit-deterministic under
  * any partitioning / parallelism. Double summation is order-sensitive, so
  * money/measure aggregates go through exact decimal arithmetic and only then
  * back to double: decimal sums are associative+commutative (exact), the
  * decimal→double conversion is a single correctly-rounded IEEE op, and
  * integer counts are exact. The same formulation is used verbatim in the
  * DuckDB oracle SQL: CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE).
  */
object Det {
  /** Order-insensitive double sum via exact decimal(18,4) accumulation. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Order-insensitive average: exact decimal sum (as double) over count.
    * Double division of two exact values is correctly rounded on both engines.
    */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Money columns in the fixtures are exact 2-dp doubles (verified); this
    * cast is lossless on both engines. Products must be computed in the
    * decimal domain — a double 3-factor product has 6 decimal digits and
    * rounding it to 4 dp hits ties that Spark (shortest-string HALF_UP) and
    * DuckDB (exact-binary) break differently.
    */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** (1 + rate) / (1 - rate) for 2-dp rates ≤ 9.99, exact decimal. */
  def onePlus(c: Column): Column  = lit(1).cast(DecimalType(3, 2)) + c.cast(DecimalType(3, 2))
  def oneMinus(c: Column): Column = lit(1).cast(DecimalType(3, 2)) - c.cast(DecimalType(3, 2))

  /** Exact sum of an already-decimal expression, surfaced as double. */
  def decSum(c: Column): Column = sum(c).cast("double")

  /** ln(x) floored to integer nano-nats — the repo-wide cross-engine ln
    * convention: sums of the floored values are exact integer arithmetic,
    * and the DuckDB twins floor ln(x) · 1e9 the same way.
    */
  def lnNano(c: Column): Column = floor(log(c.cast("double")) * 1e9).cast("long")

  /** Cross-engine caveat for decimal→double: Spark always converts via
    * BigDecimal (correctly rounded); DuckDB converts int128/10^scale with
    * TWO roundings, which can differ by 1 ulp once the scaled integer
    * exceeds 2^53 (observed: a 17-digit price² moment at sf0.001). Any
    * oracle whose decimal sum can exceed ~9e15 scaled units must wrap the
    * DuckDB side as CAST(CAST(sum AS VARCHAR) AS DOUBLE) — string parsing
    * is correctly rounded and matches Spark (see q_agg_stats).
    */
}
