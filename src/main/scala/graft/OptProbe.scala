package graft

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Bus

/** Dev tool for same-JVM A/Bs and plan audits; never run by the driver.
  * Four modes:
  *
  *  - probe: runs each named query `reps` times in ONE warm JVM (the
  *    [[GraftSession]] Bench runs on) and prints every iteration's seconds.
  *    The per-fresh-JVM subset bench carries 1–3 s of JIT/codegen noise —
  *    far larger than most plan-level effects — so optimization A/Bs
  *    compare iterations ≥2 here (steady state), with the full bench as the
  *    final arbiter.
  *    Usage: runMain graft.OptProbe <sfDir> <reps> <queryKey ...>
  *  - survey: times every registered query (or the named ones) over each
  *    dir under [[GraftSession.Generated]] and [[GraftSession.Interpreted]]
  *    execution, min of `reps`, cold (a new session, Spark's codegen cache
  *    emptied) and warm (again in the last cold run's session), and writes
  *    one JSON row per dir and query: the seconds, the cold compiles and
  *    the query's scan bytes (file bytes of the parquet relations in its
  *    optimized plan). [[Prewarm]] runs over each dir first, and the modes
  *    alternate which runs first. The file is rewritten after every query,
  *    so a cut run keeps its rows.
  *    Usage: runMain graft.OptProbe survey <out.json> <reps> <sfDir>[,<sfDir>...] [queryKey ...]
  *  - explain: prints `explain("formatted")` of each named query (or of
  *    every registered query) over one dir, so shuffle counts, pushed
  *    filters, scan schemas and broadcast choices can be reviewed at any
  *    SF, and two trees' plans can be diffed.
  *    Usage: runMain graft.OptProbe explain <sfDir> [queryKey ...]
  *  - jobs: runs each named query (or every registered query) once over
  *    one dir, each in a new session, to the noop sink, and prints the
  *    Spark jobs its build (`fn(spark, dir)`, eager jobs included) and its
  *    execution started, then the totals. [[Prewarm]] runs first, so no
  *    query's count holds a derived-file build; session memos are built by
  *    the query that needs them, as in a new session.
  *    Usage: runMain graft.OptProbe jobs <sfDir> [queryKey ...]
  */
object OptProbe {
  def main(args: Array[String]): Unit = args(0) match {
    case "survey" =>
      survey(args(1), args(2).toInt, args(3).split(",").toSeq, args.drop(4).toSeq)
    case "explain" => explain(args(1), args.drop(2).toSeq)
    case "jobs" => jobs(args(1), args.drop(2).toSeq)
    case _ => probe(args(0), args(1).toInt, args.drop(2).toSeq)
  }

  private def explain(sfDir: String, only: Seq[String]): Unit = {
    SparkEntry.requireKnown(only.toSet, "explain")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    (if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted).foreach { k =>
      println(s"\n========== $k ==========")
      println(SparkEntry.queries(k)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }

  private def jobs(sfDir: String, only: Seq[String]): Unit = {
    SparkEntry.requireKnown(only.toSet, "jobs")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    Prewarm(spark, sfDir)
    val sc = spark.sparkContext
    var build, execute = 0
    (if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted).foreach { k =>
      val s = spark.newSession()
      try {
        var df: DataFrame = null
        val b = Bus.jobsOf(sc) { df = SparkEntry.queries(k)(s, sfDir) }
        val e = Bus.jobsOf(sc) { df.write.format("noop").mode("overwrite").save() }
        build += b
        execute += e
        println(s"JOBS $k build=$b execute=$e total=${b + e}")
      } catch { case NonFatal(e) =>
        println(s"JOBS $k error=${e.getClass.getName}: ${e.getMessage}".take(300))
      }
    }
    println(s"JOBS TOTAL build=$build execute=$execute total=${build + execute}")
    spark.stop()
  }

  private def probe(sfDir: String, reps: Int, keys: Seq[String]): Unit = {
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      val times = (1 to reps).map(_ => timed(spark, fn, sfDir)._1)
      println(s"PROBE $k " + times.map(t => f"$t%.3f").mkString(" "))
    }
    spark.stop()
  }

  /** Builds and materializes one query to the noop sink: (seconds, plan). */
  private def timed(s: SparkSession, fn: (SparkSession, String) => DataFrame,
                    dir: String): (Double, DataFrame) = {
    val t0 = System.nanoTime()
    val df = fn(s, dir)
    df.write.format("noop").mode("overwrite").save()
    ((System.nanoTime() - t0) / 1e9, df)
  }

  /** Spark's JVM-wide cache of compiled classes, emptied so that the next
    * query compiles its generated code again, as a first run in a JVM does. */
  private lazy val codegenCache: AnyRef = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    f.get(CodeGenerator)
  }

  private def clearCodegenCache(): Unit =
    codegenCache.getClass.getMethod("invalidateAll").invoke(codegenCache): Unit

  /** File bytes of the distinct parquet relations a plan scans. */
  private def scanBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        val r = l.relation.asInstanceOf[HadoopFsRelation]
        r.location.rootPaths.map(_.toString).sorted.mkString(",") -> r.location.sizeInBytes
    }.toMap.values.sum

  /** Spark's size estimate for a plan: the largest `stats.sizeInBytes` of
    * a node of its optimized plan, subqueries included. */
  private def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case n => n.stats.sizeInBytes }.max

  /** Runs the query and returns the most rows one operator of its final
    * plan output (its `numOutputRows` metric). */
  private def maxOperatorRows(df: DataFrame): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    df.collect()
    (0L +: nodes(df.queryExecution.executedPlan).flatMap(_.metrics.get("numOutputRows"))
      .map(_.value)).max
  }

  private def survey(out: String, reps: Int, dirs: Seq[String], only: Seq[String]): Unit = {
    SparkEntry.requireKnown(only.toSet, "survey")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (only.nonEmpty) only else SparkEntry.definitions.keys.toSeq.sorted
    val modes = Seq("generated" -> GraftSession.Generated,
      "interpreted" -> GraftSession.Interpreted)
    def inTurn(r: Int) = if (r % 2 == 0) modes else modes.reverse
    val rows = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val mapper = new ObjectMapper()
    // derived files are built once up front, so that no query's time holds a build
    dirs.foreach(Prewarm(spark, _))
    for (dir <- dirs; name <- names) {
      val fn = SparkEntry.definitions(name)
      val row = mutable.LinkedHashMap[String, Any]("dir" -> dir,
        "table_bytes" -> GraftSession.tableBytes(dir), "query" -> name)
      try {
        val cold, warm = mutable.Map.empty[String, Double].withDefaultValue(Double.MaxValue)
        val compiles = mutable.Map.empty[String, Long]
        val sessions = mutable.Map.empty[String, SparkSession]
        var plan: DataFrame = null
        for (r <- 0 until reps; (mode, conf) <- inTurn(r)) {
          clearCodegenCache()
          val s = spark.newSession()
          GraftSession.install(s)
          conf.foreach { case (k, v) => s.conf.set(k, v) }
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          cold(mode) = cold(mode) min timed(s, fn, dir)._1
          if (r == 0) compiles(mode) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
          sessions(mode) = s
        }
        for (r <- 0 until reps; (mode, _) <- inTurn(r)) {
          val (t, df) = timed(sessions(mode), fn, dir)
          warm(mode) = warm(mode) min t
          plan = df
        }
        row("scan_bytes") = scanBytes(plan)
        row("plan_bytes") = planBytes(plan).bigInteger
        row("max_operator_rows") = maxOperatorRows(plan)
        for ((mode, _) <- modes) {
          row(s"cold_${mode}_s") = cold(mode)
          row(s"warm_${mode}_s") = warm(mode)
          row(s"cold_${mode}_compiles") = compiles(mode)
        }
      } catch { case NonFatal(e) =>
        row("error") = s"${e.getClass.getName}: ${e.getMessage}".take(300)
      }
      println(s"SURVEY ${row.mkString(" ")}")
      rows += row.asJava
      val doc = Map[String, Any]("reps" -> reps,
        "cpus" -> spark.sparkContext.defaultParallelism,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "rows" -> rows.asJava).asJava
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(out), doc)
    }
    spark.stop()
  }
}
