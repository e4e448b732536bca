package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.functions._

/** JVM side of the benchmark. Reads one JSON spec (written by run.py) and
  * writes one JSON record file; run.py turns the records into metrics.
  *
  * Modes:
  *  - classify: build every registered query once and record the files its
  *    plans scan, its output schema and whether it has a DuckDB oracle;
  *  - tier:     build the derived-file tier once (session + Prewarm);
  *  - run:      set up, time the workload's queries, write check outputs.
  *
  * The program is reached only through its registry and set-up entry points:
  * `graft.SparkEntry.queries`/`oracleSql` and `graft.Prewarm`.
  */
object Main {
  private val mapper = new ObjectMapper()
  type Spec = Map[String, Any]

  def main(args: Array[String]): Unit = {
    val mainMs = Clock.ms
    val spec = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Object]])
      .asScala.toMap
    val out: Map[String, Any] = spec("mode") match {
      case "classify" => classify(spec)
      case "tier"     => tier(spec)
      case "run"      => new Run(spec, mainMs).apply()
    }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(spec("out").toString), toJava(out))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }

  def toJava(x: Any): Any = x match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, v) => j.put(k.toString, toJava(v)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  /** The session every graft entry point builds: `graft.Bench`'s
    * ANSI/UTC/nanosAsLong conf on local[cores] with cores shuffle
    * partitions; scratch and warehouse dirs stay inside the checkout. */
  def session(spec: Spec): SparkSession = {
    val cores = spec("cores").toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spec("local_dir").toString)
      .config("spark.sql.warehouse.dir", spec("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Untimed warm-up: a join, aggregate and sort over synthetic rows. It
    * starts the first jobs and compiles none of the registered queries'
    * code; the queries' own code paths are warmed by the untimed check pass
    * that precedes the timed passes. */
  def warmup(s: SparkSession): Unit = {
    val a = s.range(0, 200000).select((col("id") % 89).as("wk"), (col("id") * 7 + 3).as("wv"))
    val b = s.range(0, 89).select(col("id").as("wk"), (col("id") * 11).as("wb"))
    noop(a.join(b, "wk").groupBy("wk").agg(sum(col("wv") + col("wb")).as("ws"))
      .orderBy(desc("ws")))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries

  def classify(spec: Spec): Map[String, Any] = {
    val dataDir = spec("data_dir").toString
    val s = session(spec)
    // derived files built up front, as the benchmark's set-up does: reads of
    // them then show in the plans, and no query pays their build
    graft.Prewarm(s, dataDir)
    val plans = new PlanListener
    s.listenerManager.register(plans)
    val oracles = graft.SparkEntry.oracleSql.keySet
    val out = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val q = s.newSession()
      q.listenerManager.register(plans)
      val t0 = Clock.ms
      val rec: Map[String, Any] = try {
        val df = fn(q, dataDir)
        val t1 = Clock.ms
        org.apache.spark.graftbench.Bus.drain(s.sparkContext)
        val scans = plans.within(t0, t1).flatMap(_.scans).toSet ++
          Scans.ofLogical(df.queryExecution.optimizedPlan)
        Map("scans" -> scans.map(Scans.local).toSeq.sorted, "schema" -> df.schema.simpleString)
      } catch { case NonFatal(e) =>
        Map("error_class" -> e.getClass.getName, "error" -> String.valueOf(e.getMessage))
      }
      name -> (rec + ("oracle" -> oracles(name)))
    }
    Map("queries" -> out.toMap)
  }

  def tier(spec: Spec): Map[String, Any] = {
    val s = session(spec)
    val t0 = Clock.ms
    val builds = graft.Prewarm(s, spec("data_dir").toString)
    Map("prewarm" -> builds.map { case (n, sec) => Seq(n, sec) }, "tier_s" -> (Clock.ms - t0) / 1e3)
  }
}

/** One measured run of a workload. */
final class Run(spec: Main.Spec, mainMs: Double) {
  import Main._

  private val dataDir = spec("data_dir").toString
  private val tmpDir = new File(sys.props("java.io.tmpdir")).getCanonicalFile
  private val trace = spec("trace") == true
  private val fresh = spec("fresh_session") == true
  private val checkDir = spec("check_dir").toString
  private val check = !spec.get("check").contains(false)
  private val reps = spec("reps").toString.toInt
  private val names = spec("queries").asInstanceOf[java.util.List[String]].asScala.toSeq
  private val timedNames = spec("timed").asInstanceOf[java.util.List[String]].asScala.toSet

  private val plans = new PlanListener
  private val exec = new ExecListener
  private var heapPeak = 0L
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** One benchmark window: the set-up, Prewarm, or one execution of one
    * query (timed, or the untimed one that writes its check output). */
  private final case class Window(group: String, kind: String, name: String, startMs: Double) {
    var readyMs, buildEndMs, endMs: Double = startMs
    var codegen: (Long, Long, Long) = (0L, 0L, 0L)
    var derivedBefore: Map[String, Long] = Map.empty
    var derivedAfter: Map[String, Long] = Map.empty
    var prewarm: Seq[(String, Double)] = Nil
    var dfTracker: Option[QueryPlanningTracker] = None
  }
  private val windows = mutable.ArrayBuffer.empty[Window]

  /** Heap in use after the most recent collection of each heap pool, read
    * between executions without forcing one; heap_peak_mb is the largest. */
  private def sampleHeap(): Unit = {
    val afterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeak = math.max(heapPeak, afterGc)
  }

  private def open(group: String, kind: String, name: String): Window = {
    val w = Window(group, kind, name, Clock.ms)
    if (trace) {
      w.codegen = Codegen.snapshot()
      w.derivedBefore = DerivedDirs.complete(tmpDir)
    }
    windows += w
    w
  }

  private def close(w: Window): Unit = {
    w.endMs = Clock.ms
    if (trace) {
      val (c, t, b) = Codegen.snapshot()
      w.codegen = (c - w.codegen._1, t - w.codegen._2, b - w.codegen._3)
      w.derivedAfter = DerivedDirs.complete(tmpDir)
    }
  }

  private def fail(name: String, stage: String, e: Throwable): Unit = {
    failures += Map("query" -> name, "stage" -> stage, "error_class" -> e.getClass.getName,
      "error" -> String.valueOf(e.getMessage).take(500))
    System.err.println(s"[perfbench] $name $stage failed: ${e.getClass.getName}: ${e.getMessage}")
  }

  def apply(): Map[String, Any] = {
    if (trace) Codegen.install()
    new File(checkDir).mkdirs()
    // set-up: the session, then the warm-up; the session then serves the
    // check pass and the timed passes
    val setup = open("setup", "setup", "setup")
    val warm = session(spec)
    val sc = warm.sparkContext
    setup.readyMs = Clock.ms
    if (trace) { sc.addSparkListener(exec); warm.listenerManager.register(plans) }
    sc.setJobGroup(setup.group, setup.group, false)
    warmup(warm)
    setup.buildEndMs = Clock.ms
    sc.clearJobGroup()
    close(setup)
    sampleHeap()
    System.err.println(f"[perfbench] setup: ${(setup.endMs - setup.startMs) / 1e3}%.2f s")

    // check pass, untimed: each query of the run once, in the seeded order,
    // its output written as graft.Verify writes it; it also warms the JIT on
    // the queries' own code paths. Then `reps` timed passes over the timed
    // queries that passed, in the same order, each execution built in a new
    // session with an empty codegen cache (fresh) or in the set-up's session.
    val phaseStart = Clock.ms
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passed = mutable.LinkedHashMap.empty[String, (SparkSession, String) => DataFrame]
    def execute(name: String, fn: (SparkSession, String) => DataFrame, pass: Int): Boolean = {
      val timed = pass > 0
      if (fresh && timed) org.apache.spark.graftbench.CodegenCache.clear()
      val s = if (fresh) warm.newSession() else warm
      if (trace && fresh) s.listenerManager.register(plans)
      val w = open(s"$name#$pass", if (timed) "query" else "check", name)
      sc.setJobGroup(w.group, w.group, false)
      val ok = try {
        val df = fn(s, dataDir)
        w.buildEndMs = Clock.ms
        if (timed || !check) noop(df) else writeCheck(df, name)
        w.dfTracker = Some(df.queryExecution.tracker)
        if (!timed && check) checks += Map("name" -> name, "schema" -> df.schema.simpleString,
          "rows" -> warm.read.parquet(s"$checkDir/$name").count())
        true
      } catch { case NonFatal(e) => fail(name, if (timed) s"pass $pass" else "check", e); false }
      sc.clearJobGroup()
      close(w)
      sampleHeap()
      execs += Map("name" -> name, "pass" -> pass, "timed" -> timed, "ok" -> ok,
        "start_ms" -> w.startMs, "build_end_ms" -> w.buildEndMs, "end_ms" -> w.endMs)
      ok
    }
    for (name <- names) queries.get(name) match {
      case None => fail(name, "lookup", new NoSuchElementException(s"no registered query $name"))
      case Some(fn) => if (execute(name, fn, 0) && timedNames(name)) passed(name) = fn
    }
    for (pass <- 1 to reps; (name, fn) <- passed.toSeq)
      if (!execute(name, fn, pass)) passed -= name
    val phaseEnd = Clock.ms
    System.err.println(f"[perfbench] query passes: ${(phaseEnd - phaseStart) / 1e3}%.2f s")
    val probes = if (trace) Probes(warm, dataDir) else Map.empty
    // traced runs also time graft.Prewarm, in a new session after the timed
    // phase (a Prewarm in every run's set-up does not fit the run budget)
    val prewarm = if (!trace) Nil else {
      val w = open("prewarm", "prewarm", "prewarm")
      val s = warm.newSession()
      s.listenerManager.register(plans)
      sc.setJobGroup(w.group, w.group, false)
      w.prewarm = graft.Prewarm(s, dataDir)
      sc.clearJobGroup()
      close(w)
      w.prewarm.map { case (n, sec) => Seq(n, sec) }
    }
    if (trace) org.apache.spark.graftbench.Bus.drain(sc)

    val oracle = graft.SparkEntry.oracleSql
    val checked = checks.map(_("name").toString).filter(oracle.contains)
    java.nio.file.Files.writeString(new File(checkDir, "oracle_sql.json").toPath,
      new ObjectMapper().writeValueAsString(checked.map(n => n -> oracle(n)).toMap.asJava))

    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "env" -> Map(
        "spark_version" -> warm.version, "java_version" -> sys.props("java.version"),
        "java_vm" -> sys.props("java.vm.name"), "cores" -> spec("cores"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> rt.getInputArguments.asScala.toSeq,
        "conf" -> warm.conf.getAll.toSeq.sortBy(_._1).toMap,
        "tmpdir" -> tmpDir.getPath),
      "jvm_start_ms" -> rt.getStartTime.toDouble, "main_ms" -> mainMs,
      "setup" -> Map("start_ms" -> setup.startMs, "session_ms" -> setup.readyMs,
        "warmup_end_ms" -> setup.buildEndMs, "end_ms" -> setup.endMs),
      "prewarm" -> prewarm,
      "phase_start_ms" -> phaseStart, "phase_end_ms" -> phaseEnd,
      "execs" -> execs.toSeq, "checks" -> checks.toSeq, "failures" -> failures.toSeq,
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "derived_bytes" -> derivedBytes(tmpDir),
      "trace" -> (if (trace) traceRecords() else Map.empty),
      "probes" -> probes)
  }

  private def writeCheck(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")

  /** Bytes on disk under the run's temporary dir, which holds the derived
    * files and nothing of Spark's own scratch (that lives in spark.local.dir). */
  private def derivedBytes(f: File): Long = DerivedDirs.sizeOf(f)

  /** Spans and per-window counters for run.py's layer breakdown. */
  private def traceRecords(): Map[String, Any] = {
    val jobsByGroup = exec.jobs.values.groupBy(_.group)
    val stagesByJob = exec.stages.values.groupBy(_.jobId)
    val spans = mutable.ArrayBuffer.empty[Seq[Any]]
    var nextId = 0
    def span(parent: Int, name: String, from: Double, to: Double): Int = {
      nextId += 1
      spans += Seq(nextId, parent, name, from, math.max(from, to))
      nextId
    }
    val perWindow = windows.toSeq.map { w =>
      val jobs = jobsByGroup.getOrElse(w.group, Nil).toSeq.sortBy(_.startMs)
      val qes = plans.within(w.startMs, w.endMs)
      val root = span(0, w.kind, w.startMs, w.endMs)
      // children: session and warm-up for the set-up; one span per build
      // (laid end to end, as Prewarm runs them) for Prewarm; build / plan /
      // execute for a query
      val parts: Seq[(Int, Double, Double)] = if (w.kind == "setup") {
        Seq((span(root, "session", w.startMs, w.readyMs), w.startMs, w.readyMs),
          (span(root, "warmup", w.readyMs, w.buildEndMs), w.readyMs, w.buildEndMs))
      } else if (w.kind == "prewarm") {
        var t = w.startMs
        w.prewarm.map { case (n, sec) =>
          val r = (span(root, s"prewarm.$n", t, t + sec * 1e3), t, t + sec * 1e3)
          t += sec * 1e3
          r
        }
      } else {
        // the write's own plan: analysis, optimization and planning of the
        // noop-sink command run right after the build
        val writePlanEnd = qes.filter(_.planEndMs >= w.buildEndMs.floor).map(_.planEndMs.toDouble)
        val planEnd = math.min(w.endMs, (w.buildEndMs +: writePlanEnd).max)
        val b = span(root, "build", w.startMs, w.buildEndMs)
        val p = span(root, "plan", w.buildEndMs, planEnd)
        val x = span(root, "execute", planEnd, w.endMs)
        // eager actions inside the build get their own plan spans
        qes.filter(_.planEndMs <= w.buildEndMs).foreach { q =>
          q.tracker.phases.values.foreach(ph => span(b, "plan", ph.startTimeMs.toDouble
            .max(w.startMs), ph.endTimeMs.toDouble.min(w.buildEndMs)))
        }
        Seq((b, w.startMs, w.buildEndMs), (p, w.buildEndMs, planEnd), (x, planEnd, w.endMs))
      }
      jobs.foreach { j =>
        val parent = parts.find { case (_, a, z) => j.startMs >= a.floor && j.startMs <= z.ceil }
          .map(_._1).getOrElse(root)
        val jid = span(parent, "job", j.startMs.toDouble, j.endMs.toDouble)
        stagesByJob.getOrElse(j.id, Nil).filter(_.submitMs > 0).foreach(st =>
          span(jid, "stage", st.submitMs.toDouble, math.max(st.submitMs, st.completeMs).toDouble))
      }
      val all = new Counters
      jobs.foreach(j => all.add(j.counters))
      val buildJobs = jobs.filter(_.startMs <= w.buildEndMs.ceil)
      // the DataFrame's own tracker holds the analysis done while building it
      val trackers = (qes.map(_.tracker) ++ w.dfTracker).distinct
      def phaseMs(k: String) = trackers.flatMap(_.phases.get(k)).map(_.durationMs).sum
      val scanned = qes.flatMap(_.scans).map(Scans.local).toSet
      val newDirs = w.derivedAfter.keySet -- w.derivedBefore.keySet
      Map(
        "group" -> w.group, "kind" -> w.kind, "name" -> w.name, "span" -> root,
        "jobs" -> jobs.size, "stages" -> jobs.map(j => stagesByJob.getOrElse(j.id, Nil)
          .count(_.submitMs > 0)).sum,
        "tasks" -> all.tasks, "task_run_ms" -> all.runMs, "task_cpu_ns" -> all.cpuNs,
        "gc_ms" -> all.gcMs, "sched_delay_ms" -> all.schedMs,
        "shuffle_write_bytes" -> all.shuffleWrite, "shuffle_read_bytes" -> all.shuffleRead,
        "fetch_wait_ms" -> all.fetchWaitMs, "spill_bytes" -> all.spill,
        "scan_bytes" -> all.inBytes, "scan_rows" -> all.inRecords,
        "job_intervals" -> jobs.map(j => Seq(j.startMs, j.endMs)),
        "build_jobs" -> buildJobs.size, "build_tasks" -> buildJobs.map(_.counters.tasks).sum,
        "analysis_ms" -> phaseMs(QueryPlanningTracker.ANALYSIS),
        "optimization_ms" -> phaseMs(QueryPlanningTracker.OPTIMIZATION),
        "planning_ms" -> phaseMs(QueryPlanningTracker.PLANNING),
        "compiles" -> w.codegen._1, "compile_ns" -> w.codegen._2,
        "source_bytes" -> w.codegen._3,
        "derived_builds" -> newDirs.size,
        "derived_bytes_written" -> newDirs.toSeq.map(w.derivedAfter).sum,
        "derived_hits" -> scanned.count(p => w.derivedBefore.keySet.exists(d =>
          p == d || p.startsWith(d + File.separator))))
    }
    Map("windows" -> perWindow, "spans" -> spans.toSeq)
  }
}

/** Isolated selects of the graft.functions kernels over documents and
  * embeddings: inputs are checkpointed first, then each kernel's select is
  * written to the noop sink five times; the median seconds is reported. */
object Probes {
  def apply(s: SparkSession, dataDir: String): Map[String, Any] = {
    graft.functions.GraftFunctions.register(s)
    val docs = s.read.parquet(s"$dataDir/documents.parquet")
    val emb = s.read.parquet(s"$dataDir/embeddings.parquet")
    val toks = docs.select(col("doc_id"), col("text"),
      array_sort(array_distinct(transform(split(col("text"), " "), w => xxhash64(w)))).as("h"))
      .localCheckpoint()
    val pairs = toks.as("a").join(toks.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.h").as("ha"), col("b.h").as("hb"),
        substring(col("a.text"), 1, 40).as("sa"), substring(col("b.text"), 1, 40).as("sb"))
      .localCheckpoint()
    val vecs = emb.as("a").join(emb.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.embedding").as("ea"), col("b.embedding").as("eb")).localCheckpoint()
    val kernels = Seq(
      "ngrams" -> (() => toks.select(expr("graft_ngrams(text, 3)"))),
      "inter_size" -> (() => pairs.select(expr("graft_inter_size_l(ha, hb)"))),
      "minhash" -> (() => toks.select(expr("graft_minhash_sig_arr(h, 64)"))),
      "jaro_winkler" -> (() => pairs.select(expr("graft_jaro_winkler(sa, sb)"))),
      "dot" -> (() => vecs.select(expr("graft_dot(ea, eb)"))))
    kernels.map { case (k, df) =>
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        Main.noop(df())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      k -> times(2)
    }.toMap
  }
}
