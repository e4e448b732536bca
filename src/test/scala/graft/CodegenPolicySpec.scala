package graft

import java.io.{File, RandomAccessFile}

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** The per-dir codegen rule ([[GraftSession.codegenConf]]): a table dir
  * below [[GraftSession.InterpretedBelowBytes]] runs interpreted, one at or
  * above it runs Spark's default generated code, every session that runs a
  * query through [[SparkEntry.queries]] gets the rule, and every 4th
  * oracle-backed query returns the same rows in both modes. The row check
  * is what keeps generated execution of whole queries under test: the
  * test dir is below the threshold, so every other query test runs them
  * interpreted.
  */
class CodegenPolicySpec extends AnyFunSuite with SparkFixture {
  import GraftSession.{Generated, Interpreted}

  private val keys = Generated.keySet

  private def modeOf(s: org.apache.spark.sql.SparkSession): Map[String, String] =
    keys.map(k => k -> s.conf.get(k)).toMap

  /** A sparse file of `bytes` bytes (no data written). */
  private def sized(f: File, bytes: Long): Unit = {
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(bytes) finally raf.close()
  }

  test("a dir below the threshold gets the interpreted keys, at or above it the defaults") {
    val limit = GraftSession.InterpretedBelowBytes
    withTempFixture("graft_codegen_rule") { tmp =>
      // one table a single file, one a dir of part files; other files do not count
      val table = new File(tmp, "b.parquet")
      table.mkdir()
      sized(new File(tmp, "a.parquet"), limit / 2)
      sized(new File(table, "part-0.parquet"), limit / 4)
      sized(new File(table, "part-1.parquet"), limit / 4 - 1)
      sized(new File(tmp, "notes.txt"), limit)
      assert(GraftSession.tableBytes(tmp) === limit - 1)
      val s = spark.newSession()
      GraftSession.install(s, tmp)
      assert(modeOf(s) === Interpreted)
      sized(new File(table, "part-1.parquet"), limit / 4)
      assert(GraftSession.tableBytes(tmp) === limit)
      GraftSession.install(s, tmp)
      assert(modeOf(s) === Generated)
    }
    assert(GraftSession.codegenConf(sfDir) === Interpreted,
      s"the ${GraftSession.tableBytes(sfDir)}-byte test dir must run interpreted")
  }

  test("a newSession() gets the rule through the query wrapper") {
    val fresh = spark.newSession()
    assert(modeOf(fresh) === Generated, "runtime conf is not inherited by newSession()")
    val df = SparkEntry.queries("q_agg_pricing_summary")(fresh, sfDir)
    assert(modeOf(fresh) === Interpreted)
    df.collect()
    assert(!PlanWalk.collectAll(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[WholeStageCodegenExec]), df.queryExecution.executedPlan.toString)
  }

  // every 4th oracle-backed query in name order: the whole set doubles the
  // tier-1 wall time (530 s on 4 cpus), and KernelSpec already checks every
  // graft_* kernel in both modes. A new session per mode, so that no
  // session memo built in one mode serves the other.
  private val sampled = SparkEntry.oracleSql.keys.toSeq.sorted.grouped(4).map(_.head).toSeq

  for (name <- sampled)
    test(s"$name returns the same rows generated and interpreted") {
      def rows(conf: Map[String, String]) = {
        val s = spark.newSession()
        GraftSession.install(s)
        withConf(conf, s)(SparkEntry.definitions(name)(s, sfDir).collect().toSeq)
      }
      assert(rows(Generated) === rows(Interpreted))
    }
}
