package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bus
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]]: every table read hands Spark a schema memoized per
  * canonical path and listing signature, so a read runs no schema
  * inference job once the path's schema is known, and a rewritten table is
  * read with its new schema. Also [[SqlViews]], the session's `v_*` views.
  */
class TablesSpec extends AnyFunSuite with SparkFixture {

  test("a second read of a table in a newSession() starts no Spark job") {
    Tables.lineitem(spark, sfDir).schema
    val fresh = spark.newSession()
    GraftSession.install(fresh)
    val jobs = Bus.jobsOf(spark.sparkContext) {
      val df = Tables.lineitem(fresh, sfDir)
      assert(df.schema.fieldNames.contains("l_orderkey"))
      df.queryExecution.analyzed
    }
    assert(jobs === 0, "a read of a memoized path must not infer its schema again")
  }

  test("a table rewritten at the same path with another ts encoding is read with the new schema") {
    withTempFixture("graft_tables_ts") { dir =>
      val path = s"$dir/events.parquet"
      val days = spark.range(3).select(col("id").as("event_id"))
      // the same instants, first as tz-less timestamps, then as nanos longs
      days.select(col("event_id"),
        expr("make_timestamp_ntz(2024, 1, 1 + event_id, 12, 30, 15.123456)").as("ts"))
        .write.parquet(path)
      val ntz = Tables.events(spark, dir)
      assert(spark.read.parquet(path).schema("ts").dataType === TimestampNTZType)
      assert(ntz.schema("ts").dataType === TimestampType)
      val fromNtz = ntz.orderBy("event_id").collect().map(_.getTimestamp(1)).toSeq
      SparkFixture.awaitIdle(spark)
      days.select(col("event_id"), (expr(
        "unix_micros(make_timestamp(2024, 1, 1 + event_id, 12, 30, 15.123456, 'UTC'))") *
        1000L).as("ts"))
        .write.mode("overwrite").parquet(path)
      val nanos = Tables.events(spark, dir)
      assert(spark.read.parquet(path).schema("ts").dataType === LongType)
      assert(nanos.schema("ts").dataType === TimestampType)
      val fromNanos = nanos.orderBy("event_id").collect().map(_.getTimestamp(1)).toSeq
      assert(fromNtz.size === 3 && fromNtz.forall(_ != null))
      assert(fromNanos === fromNtz)
      assert(fromNtz.head.toInstant.toString === "2024-01-01T12:30:15.123456Z")
    }
  }

  test("every table's memoized schema equals its inferred schema, nullability and metadata included") {
    val tables = new File(sfDir).list().filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.size === 10, tables)
    for (file <- tables) {
      val name = file.stripSuffix(".parquet")
      val inferred = spark.read.parquet(s"$sfDir/$file").schema
      // twice: the first read may infer, the second is served by the memo
      for (_ <- 1 to 2) {
        val memoized = Tables.t(spark, sfDir, name).schema
        assert(memoized === inferred, name)
        assert(memoized.fields.map(f => (f.nullable, f.metadata)).toSeq ===
          inferred.fields.map(f => (f.nullable, f.metadata)).toSeq, name)
      }
    }
  }

  test("a missing table raises the exception class read.parquet raises") {
    val dir = "/nonexistent/graft-tables-spec"
    val expected = intercept[Exception](spark.read.parquet(s"$dir/lineitem.parquet"))
    val got = intercept[Exception](Tables.lineitem(spark, dir))
    assert(got.getClass === expected.getClass, got.getMessage)
  }

  test("SqlViews re-points the session's views on a dir switch and back") {
    def customerDir: String = {
      val file = new java.net.URI(spark.table("v_customer").inputFiles.head).getPath
      file.stripSuffix("/customer.parquet")
    }
    withTempFixture("graft_tables_views") { other =>
      for (n <- Seq("customer", "orders", "lineitem", "nation", "supplier", "region", "part"))
        java.nio.file.Files.copy(new File(s"$sfDir/$n.parquet").toPath,
          new File(s"$other/$n.parquet").toPath)
      for (dir <- Seq(sfDir, other, sfDir)) {
        SqlViews.ensure(spark, dir)
        assert(customerDir === new File(dir).getCanonicalPath)
      }
    }
  }
}
