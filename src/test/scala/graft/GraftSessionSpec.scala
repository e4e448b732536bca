package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.TopKPerGroupExec

/** One session factory and one install point: a query reached through
  * [[SparkEntry.queries]] builds and plans the same in a caller's plain
  * session as in a [[GraftSession]], whatever ran before it, and nothing
  * else in the program builds a session or installs functions or rules.
  */
class GraftSessionSpec extends AnyFunSuite with SparkFixture {

  test("q_embed_silhouette runs in a plain newSession() through SparkEntry") {
    // it uses graft_sql2, which a plain session lacks until the install
    // that SparkEntry.queries wraps around every query
    val df = SparkEntry.queries("q_embed_silhouette")(spark.newSession(), sfDir)
    assert(df.count() > 0)
  }

  test("q_win_topk_per_group plans TopKPerGroupExec in a plain newSession() through SparkEntry") {
    val df = SparkEntry.queries("q_win_topk_per_group")(spark.newSession(), sfDir)
    val plan = PlanWalk.executed(df)
    assert(PlanWalk.collectAll(plan).exists(_.isInstanceOf[TopKPerGroupExec]),
      s"the rank-filter rewrite must not depend on what ran before:\n$plan")
  }

  test("only GraftSession builds sessions, registers functions and assigns plan rules") {
    val forbidden = Seq(
      "SparkSession.builder" -> "SparkSession\\.builder".r,
      "GraftFunctions.register" -> "GraftFunctions\\.register\\s*\\(".r,
      "an experimental extra* assignment" -> "\\bextra\\w+\\s*(:\\+|\\+\\+)?=[^=>]".r)
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("graft/GraftSession.scala")))
    for (f <- files if !f.endsWith("graft/GraftSession.scala")) {
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      for ((what, re) <- forbidden)
        assert(re.findFirstIn(src).isEmpty, s"$f must not contain $what")
    }
  }
}
