package graftbench

import java.io.File
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same scale as the epoch-ms timestamps Spark puts on listener events. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def ms: Double = (base + System.nanoTime()) / 1e6
}

/** Parquet paths a plan reads: file relations in the logical plan,
  * including those behind subqueries and cached relations. */
object Scans {
  def ofLogical(p: LogicalPlan): Set[String] =
    p.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString).toSet
        case _ => Set.empty[String]
      }
      case m: InMemoryRelation => ofPhysical(m.cacheBuilder.cachedPlan)
    }.flatten.toSet

  def ofPhysical(p: SparkPlan): Set[String] = p match {
    case a: AdaptiveSparkPlanExec => ofPhysical(a.executedPlan)
    case q: QueryStageExec => ofPhysical(q.plan)
    case r: ReusedExchangeExec => ofPhysical(r.child)
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString).toSet
    case m: InMemoryTableScanExec => ofPhysical(m.relation.cacheBuilder.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(ofPhysical).toSet
  }

  /** Canonical local path of a scanned root path (`file:/x` → `/x`). */
  def local(p: String): String =
    if (p.startsWith("file:")) new File(new java.net.URI(p)).getCanonicalPath
    else new File(p).getCanonicalPath
}

/** One finished query execution seen by the QueryExecutionListener. */
final case class QeRec(tracker: QueryPlanningTracker, planEndMs: Long, scans: Set[String])

/** Records every action's plan: its planning phases and the files it scans.
  * Attributed to a benchmark window afterwards by the planning end time,
  * since the benchmark runs one query at a time on one thread. */
final class PlanListener extends QueryExecutionListener {
  val qes = mutable.ArrayBuffer.empty[QeRec]
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val end = if (phases.isEmpty) System.currentTimeMillis()
              else phases.values.map(_.endTimeMs).max
    val scans = scala.util.Try(Scans.ofLogical(qe.optimizedPlan)).getOrElse(Set.empty)
    qes.synchronized { qes += QeRec(qe.tracker, end, scans) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def within(fromMs: Double, toMs: Double): Seq[QeRec] =
    qes.synchronized(qes.filter(q => q.planEndMs >= fromMs.floor && q.planEndMs <= toMs.ceil).toSeq)
}

/** Task counters summed over the tasks of one job. */
final class Counters {
  var tasks, runMs, cpuNs, gcMs, schedMs, shuffleWrite, shuffleRead, fetchWaitMs,
      spill, inBytes, inRecords = 0L
  def add(o: Counters): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedMs += o.schedMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; inBytes += o.inBytes
    inRecords += o.inRecords
  }
}

final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int]) {
  var endMs: Long = startMs
  val counters = new Counters
}
final case class StageRec(id: Int, jobId: Int) {
  var submitMs, completeMs = 0L
}

/** Jobs, stages and task metrics, keyed by the job group the benchmark sets
  * around each query. */
final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val rec = stages.getOrElseUpdate(id, StageRec(id, stageJob.getOrElse(id, -1)))
    rec.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(
      _.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val job = stageJob.get(e.stageId).flatMap(jobs.get)
    if (m != null && job.isDefined) {
      val c = job.get.counters
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.inRecords += m.inputMetrics.recordsRead
    }
  }
}

/** Codegen counters: compile count and time from Spark's own CodegenMetrics
  * and CodeGenerator accumulators, and generated source bytes through a
  * wrapper around the source-size histogram's reservoir (the histogram keeps
  * no sum of its own). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  private val sourceBytes = new LongAdder

  def install(): Unit = {
    val h = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val f = classOf[com.codahale.metrics.Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    val inner = f.get(h).asInstanceOf[com.codahale.metrics.Reservoir]
    f.set(h, new com.codahale.metrics.Reservoir {
      def size(): Int = inner.size()
      def update(v: Long): Unit = { sourceBytes.add(v); inner.update(v) }
      def getSnapshot: com.codahale.metrics.Snapshot = inner.getSnapshot
    })
  }

  /** (compiles, compile nanoseconds, source bytes) so far. */
  def snapshot(): (Long, Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      sourceBytes.sum())
}

/** Complete derived-file directories (holding `_SUCCESS`) under a root,
  * with their sizes in bytes. */
object DerivedDirs {
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L) else f.length()

  def complete(root: File, depth: Int = 3): Map[String, Long] =
    if (!root.isDirectory || depth == 0) Map.empty
    else if (new File(root, "_SUCCESS").exists()) Map(root.getCanonicalPath -> sizeOf(root))
    else Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => complete(d, depth - 1)).toMap
}
