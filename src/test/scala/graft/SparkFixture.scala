package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared local session for the whole test run (Test/fork := true puts
  * all suites in a single forked JVM, so a singleton avoids per-suite
  * SparkContext churn), built by [[GraftSession]] like every tool's.
  */
trait SparkFixture { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkFixture {
  lazy val session: SparkSession = GraftSession(2)
}
