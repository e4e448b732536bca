package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ingest robustness — the reference pulls JSON from an HTTP API, where
  * malformed records are a fact of life; Spark's PERMISSIVE /
  * _corrupt_record machinery quarantines them without failing the batch.
  * Plus the observe() metrics API: per-batch data-quality counters
  * collected as a side effect of the normal action, no extra pass.
  */
class IngestRobustnessSpec extends AnyFunSuite with SparkFixture {

  /** Runs `body` on a temp dir holding `lines` as one JSONL file. */
  private def withJsonl[T](lines: Seq[String])(body: String => T): T =
    withTempFixture("graft_ingest") { dir =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.jsonl"),
        String.join("\n", lines: _*).getBytes)
      body(dir)
    }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", DoubleType),
    StructField("_corrupt_record", StringType)))

  test("PERMISSIVE mode quarantines malformed JSON rows instead of failing") {
    withJsonl(Seq(
      """{"id": 1, "v": 1.5}""",
      """{"id": 2, "v": }""",          // malformed
      """{"id": 3, "v": 3.5}""",
      """not json at all""")) { path =>
      val df = spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
      df.cache()
      try {
        val good = df.filter(col("_corrupt_record").isNull)
        val bad = df.filter(col("_corrupt_record").isNotNull)
        assert(good.count() === 2)
        assert(bad.count() === 2)
        assert(good.select(sum("v")).collect().head.getDouble(0) === 5.0)
      } finally { df.unpersist(); () }
    }
  }

  test("DROPMALFORMED mode silently keeps only parseable rows") {
    withJsonl(Seq(
      """{"id": 1, "v": 1.5}""",
      """garbage""",
      """{"id": 2, "v": 2.5}""")) { path =>
      val df = spark.read.schema(StructType(schema.fields.take(2)))
        .option("mode", "DROPMALFORMED").json(path)
      assert(df.count() === 2)
    }
  }

  test("observe() collects data-quality metrics during the normal action") {
    val observed = Tables.lineitem(spark, sfDir).observe("quality",
      count(lit(1)).as("rows"),
      count(when(col("l_quantity") < 0, lit(1))).as("negative_qty"),
      count(when(col("l_shipdate").isNull, lit(1))).as("null_dates"))
    // collect() executes the dataset's own QueryExecution (count() builds
    // a separate one whose metrics would not land on `observed`)
    val n = observed.collect().length.toLong
    val listenerRow = observed.queryExecution.observedMetrics("quality")
    assert(listenerRow.getAs[Long]("rows") === n)
    assert(listenerRow.getAs[Long]("negative_qty") === 0L)
    assert(listenerRow.getAs[Long]("null_dates") === 0L)
  }
}
