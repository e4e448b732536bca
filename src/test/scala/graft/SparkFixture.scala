package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterEach, Suite}

/** One shared local session for the whole test run (Test/fork := true puts
  * all suites in a single forked JVM, so a singleton avoids per-suite
  * SparkContext churn), built by [[GraftSession]] like every tool's.
  *
  * Every test starts on Spark's default generated code
  * ([[GraftSession.Generated]]): a query run through [[SparkEntry.queries]]
  * sets the session's codegen mode for its dir and leaves it set, so
  * without the reset a test that calls an operator directly would run in
  * whatever mode an earlier test left.
  */
trait SparkFixture extends BeforeAndAfterEach { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"

  override protected def beforeEach(): Unit = {
    GraftSession.Generated.foreach { case (k, v) => spark.conf.set(k, v) }
    super.beforeEach()
  }

  /** Runs `body` on a fresh temp dir for fixture tables, then deletes the
    * dir and the derived files keyed on its tables
    * ([[SparkFixture.deleteDerived]]), once the shared context is idle
    * ([[SparkFixture.awaitIdle]]).
    */
  def withTempFixture[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.getPath)
    finally {
      SparkFixture.awaitIdle(spark)
      SparkFixture.deleteDerived(spark, dir.getPath)
      SparkFixture.deleteRecursively(dir)
    }
  }

  /** Runs `body` with `conf` set on `s`, then restores each key's previous
    * value (or unsets it).
    */
  def withConf[T](conf: Map[String, String], s: SparkSession = spark)(body: => T): T = {
    val prev = conf.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

object SparkFixture {
  lazy val session: SparkSession = GraftSession(2)

  /** Deletes every [[operators.DerivedFiles]] dir keyed on the `.parquet`
    * tables of `dir` as they stand now, for any ordered choice of them as
    * inputs. A key hashes each input's dir path, length and mtime, so a
    * build keyed on another dir (the shared test data included) never
    * matches. A test that rewrites a fixture table calls this before the
    * rewrite, for the builds over the old version.
    */
  def deleteDerived(s: SparkSession, dir: String): Unit = {
    val tables = Option(new File(dir).list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    if (tables.nonEmpty) {
      val keys = (1 to tables.size).flatMap(tables.combinations).flatMap(_.permutations)
        .map(inputs => operators.DerivedFiles(s, dir, "probe", inputs: _*).key)
      val root = new File(operators.DerivedFiles(s, dir, "probe", tables.head).path).getParentFile
      // `<name>_<key>`, and a `.build-*` scratch left by a failed build
      Option(root.listFiles()).toSeq.flatten
        .filter(f => keys.exists(k => f.getName.contains(s"_$k")))
        .foreach(deleteRecursively)
    }
  }

  /** Waits, at most `timeoutMs`, until no job, stage or task of `s`'s
    * context has been active for `quietMs`. A query can return while a
    * stage it no longer needs still runs or is still being submitted (such
    * as a join side AQE gives up once the other side came out empty), and
    * those tasks still read the fixture: deleting it under them fails
    * them with `FAILED_READ_FILE.FILE_NOT_EXIST` in the log. The status
    * tracker hears of jobs and tasks through the listener bus, a little
    * late, hence the quiet period.
    */
  def awaitIdle(s: SparkSession, timeoutMs: Long = 10000, quietMs: Long = 100): Unit = {
    val tracker = s.sparkContext.statusTracker
    def busy = tracker.getActiveJobIds().nonEmpty || tracker.getActiveStageIds().nonEmpty ||
      tracker.getExecutorInfos.exists(_.numRunningTasks > 0)
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - quietSince < quietMs &&
        System.currentTimeMillis() < deadline) {
      if (busy) quietSince = System.currentTimeMillis()
      Thread.sleep(10)
    }
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
