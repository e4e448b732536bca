package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Python-interop parity: the same computation expressed as a PySpark
  * `pandas_udf` (arrow-vectorized Python workers) and as native Scala
  * `Column` expressions must agree bit-for-bit on the shared fixtures.
  *
  * This is the migration contract for the reference's Python users: a
  * pipeline step moved from pandas-UDF Python onto this library's Scala
  * surface keeps identical results. The Python side runs out-of-process
  * (the sandbox's python3 has pyspark 4.1.2 + pyarrow; its session is
  * separate from the test JVM's) and writes parquet; the Scala side
  * recomputes and compares full sorted row sets.
  *
  * Semantics pinned by the test (the classic migration traps):
  *   - split(text, " ") vs pandas str.split(" "): both keep empty
  *     tokens from consecutive delimiters — counts must match exactly.
  *   - integer div/modulo on non-negative keys: identical.
  *   - double division: one IEEE op on exact int inputs — bit-equal.
  * If python3/pyspark is unavailable the test cancels (assume), not
  * fails — the capability is environmental, not a code property.
  */
class PandasUdfInteropSpec extends AnyFunSuite with SparkFixture {

  private def havePySpark: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import pyspark, pyarrow, pandas")
        .redirectErrorStream(true).start()
      p.waitFor() == 0
    } catch { case _: Exception => false }

  test("pandas_udf and Scala Column expressions agree bit-for-bit") {
    assume(havePySpark, "python3 with pyspark/pyarrow/pandas not available")

    withTempFixture("pandas_udf") { fixture =>
      val outDir = new java.io.File(fixture, "out") // the pyspark writer creates it
      val script = java.nio.file.Paths.get(fixture, "pandas_udf_parity.py")
      java.nio.file.Files.writeString(script,
        s"""
           |from pyspark.sql import SparkSession
           |from pyspark.sql.functions import pandas_udf, col
           |from pyspark.sql.types import LongType, DoubleType
           |import pandas as pd
           |
           |spark = (SparkSession.builder.master("local[2]")
           |    .config("spark.sql.shuffle.partitions", "2")
           |    .config("spark.sql.session.timeZone", "UTC")
           |    .config("spark.ui.enabled", "false")
           |    .getOrCreate())
           |
           |@pandas_udf(LongType())
           |def n_tokens(text: pd.Series) -> pd.Series:
           |    # single-space split keeping empties — mirrors Spark split(text, " ")
           |    return text.str.split(" ").str.len().astype("int64")
           |
           |@pandas_udf(DoubleType())
           |def chars_per_token(n_chars: pd.Series, n_tok: pd.Series) -> pd.Series:
           |    return n_chars.astype("float64") / n_tok.astype("float64")
           |
           |@pandas_udf(LongType())
           |def id_bucket(doc_id: pd.Series) -> pd.Series:
           |    return doc_id % 16
           |
           |docs = spark.read.parquet("$sfDir/documents.parquet")
           |out = (docs.select("doc_id", "n_chars", "text")
           |    .withColumn("n_tok", n_tokens(col("text")))
           |    .withColumn("cpt", chars_per_token(col("n_chars"), col("n_tok")))
           |    .withColumn("bucket", id_bucket(col("doc_id")))
           |    .select("doc_id", "n_tok", "cpt", "bucket"))
           |out.coalesce(1).write.mode("overwrite").parquet("${outDir.getAbsolutePath}")
           |spark.stop()
           |""".stripMargin)

      val proc = new ProcessBuilder("python3", script.toString)
        .redirectErrorStream(true).start()
      val log = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor() == 0, s"pyspark script failed:\n$log")

      val scala = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"), col("text"))
        .withColumn("n_tok", size(split(col("text"), " ", -1)).cast("long"))
        .withColumn("cpt", col("n_chars").cast("double") / col("n_tok").cast("double"))
        .withColumn("bucket", col("doc_id") % 16)
        .select(col("doc_id"), col("n_tok"), col("cpt"), col("bucket"))
        .orderBy("doc_id")
        .collect()
      val python = spark.read.parquet(outDir.getAbsolutePath)
        .select(col("doc_id"), col("n_tok"), col("cpt"), col("bucket"))
        .orderBy("doc_id")
        .collect()

      assert(python.length == scala.length, s"${python.length} vs ${scala.length} rows")
      python.zip(scala).foreach { case (p, sc) =>
        assert(p == sc, s"row mismatch: pandas_udf=$p scala=$sc")
      }
    }
  }
}
