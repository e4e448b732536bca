package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SessionMemo

/** [[SessionMemo]], the one in-session memo for shared relations: one
  * entry per key, owned by the session that built it, built outside the
  * map so that builds can nest.
  */
class SessionMemoSpec extends AnyFunSuite with SparkFixture {

  test("same session and key return the memoized value, built once") {
    val builds = new AtomicInteger
    def get(): Object = SessionMemo(spark, "memo-spec:same-key") {
      builds.incrementAndGet(); new Object
    }
    val first = get()
    assert(get() eq first, "same key must return the memoized instance")
    assert(builds.get == 1, "a hit must not evaluate build")
  }

  test("another live session gets its own build, and the owner rebuilds after it") {
    val builds = new AtomicInteger
    def get(s: SparkSession): Object = SessionMemo(s, "memo-spec:owner") {
      builds.incrementAndGet(); new Object
    }
    val mine = get(spark)
    val theirs = get(spark.newSession())
    assert((theirs ne mine) && builds.get == 2)
    // the entry now belongs to the other session, so the fixture rebuilds
    val mineAgain = get(spark)
    assert((mineAgain ne mine) && (mineAgain ne theirs) && builds.get == 3)
    assert((get(spark) eq mineAgain) && builds.get == 3)
  }

  test("a build that memoizes two other keys succeeds") {
    // For each dir, "outer:$dir" shares a ConcurrentHashMap bin with
    // "left:$dir" (memo-probe-3: in a fresh 16-bin table; the others: at
    // every table size up to 1024), found by probing dir strings. Run
    // through one map's nested compute, these throw IllegalStateException
    // ("Recursive update") on JDK 17.
    for (dir <- Seq("/tmp/memo-probe-3", "/tmp/memo-probe-105200", "/tmp/memo-probe-105201")) {
      val outer = SessionMemo(spark, s"outer:$dir") {
        (SessionMemo(spark, s"left:$dir")(new Object),
          SessionMemo(spark, s"right:$dir")(new Object))
      }
      assert(SessionMemo[Object](spark, s"left:$dir")(fail(s"left:$dir rebuilt")) eq outer._1)
      assert(SessionMemo[Object](spark, s"right:$dir")(fail(s"right:$dir rebuilt")) eq outer._2)
      assert(SessionMemo[Object](spark, s"outer:$dir")(fail(s"outer:$dir rebuilt")) eq outer)
    }
  }

  test("Prewarm.sessionTier builds every entry in a fresh newSession()") {
    // Prewarm.apply prints "[prewarm] <name> failed" for a builder that
    // throws; here every builder runs bare, as Prewarm.apply runs it
    val fresh = spark.newSession()
    GraftSession.install(fresh)
    val failed = Prewarm.sessionTier.flatMap { case (name, build) =>
      try { build(fresh, sfDir); None }
      catch { case NonFatal(e) => Some(s"[prewarm] $name failed: ${e.getMessage}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("rank-kernel memo: same key reuses the build, collision guard trips") {
    import org.apache.spark.sql.functions._
    import operators.GlobalPrefix
    // two calls with the same (session, key) must return the SAME
    // checkpointed relation (no second build), and a key reused with a
    // DIFFERENT total order or DIFFERENT weights must fail loudly instead
    // of silently serving the wrong prefix
    def prices = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice"))
    val key = s"$sfDir#orders:totalprice"
    val order = Seq(col("o_totalprice"), col("o_orderkey"))
    val rel1 = GlobalPrefix.memoized(spark, key, prices, order, GlobalPrefix.Rank)
    val rel2 = GlobalPrefix.memoized(spark, key, prices, order, GlobalPrefix.Rank)
    assert(rel1 eq rel2, "same key must return the memoized instance")
    val ex = intercept[IllegalArgumentException] {
      GlobalPrefix.memoized(spark, key, prices, Seq(col("o_orderkey")), GlobalPrefix.Rank)
    }
    assert(ex.getMessage.contains("different sort order"))
    for (weights <- Seq(Seq("r" -> lit(2L)), Seq("cum" -> lit(1L)),
        Seq(GlobalPrefix.Rank, "cum" -> col("o_orderkey")))) {
      val exW = intercept[IllegalArgumentException] {
        GlobalPrefix.memoized(spark, key, prices, order, weights: _*)
      }
      assert(exW.getMessage.contains("or weights"), weights.toString)
    }
  }

  test("WeakReference and WeakHashMap appear in src/main only in SessionMemo") {
    val allowed = Seq("graft/operators/SessionMemo.scala")
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    allowed.foreach(a => assert(files.exists(_.endsWith(a)), s"$a missing"))
    for (f <- files if !allowed.exists(f.endsWith)) {
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      for (what <- Seq("WeakReference", "WeakHashMap"))
        assert(!src.contains(what), s"$f must memoize through SessionMemo, not a $what")
    }
  }
}
