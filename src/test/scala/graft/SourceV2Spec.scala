package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the custom DataSource V2 connector
  * (graft.sources.KvLogSource): filter pushdown reaches the reader and
  * removes the Filter node, column pruning reaches readSchema, split
  * planning yields one partition per file, and values round-trip
  * exactly against the parquet original.
  */
class SourceV2Spec extends AnyFunSuite with SparkFixture {

  private lazy val logPath: String = {
    // trigger the derived-cache write through the graded query once
    operators.Scans.scanDsv2(spark, sfDir).collect()
    operators.DerivedFiles(spark, sfDir, "kvlog_v3", "documents").path
  }

  private def kvlog = spark.read.format("graft.sources.KvLogSource").load(logPath)

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    val plan = PlanWalk.executed(df)
    val scans = PlanWalk.collectAll(plan).collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, plan.toString)
    scans.head
  }

  private def filtersOf(df: org.apache.spark.sql.DataFrame) =
    PlanWalk.collectAll(PlanWalk.executed(df)).collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }

  test("values round-trip exactly against the parquet original") {
    val got = kvlog.select("doc_id", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1)
    val exp = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1)
    assert(got === exp)
  }

  test("supported filters are pushed into the scan and the Filter node disappears") {
    val df = kvlog.filter(col("lang") === "en" && col("n_chars") >= 500)
    val scan = scanOf(df)
    val desc = scan.scan.description()
    assert(desc.contains("EqualTo(lang,en)"), desc)
    assert(desc.contains("GreaterThanOrEqual(n_chars,500)"), desc)
    // fully pushed → no FilterExec survives above the scan
    val filters = filtersOf(df)
    assert(filters.isEmpty, s"Filter not eliminated:\n${df.queryExecution.executedPlan}")
    // and the pushed result is CORRECT vs evaluating the predicate in Spark
    val expected = kvlog.collect()
      .count(r => r.getString(1) == "en" && r.getLong(3) >= 500)
    assert(df.count() === expected)
  }

  test("unsupported predicates are handed back to Spark, not silently dropped") {
    val df = kvlog.filter(col("lang") =!= "en") // Not(EqualTo) — not evaluable at the leaf
    val filters = filtersOf(df)
    assert(filters.nonEmpty, "rejected filter must stay as a Spark Filter node")
    val expected = kvlog.collect().count(_.getString(1) != "en")
    assert(df.count() === expected)
  }

  test("column pruning reaches readSchema") {
    val df = kvlog.select("doc_id", "n_chars")
    val scan = scanOf(df)
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("doc_id", "n_chars"),
      scan.scan.description())
  }

  test("batch write round-trips through the connector and truncate replaces data") {
    withTempFixture("kvlog_write") { dir =>
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "source", "n_chars")
      docs.write.format("graft.sources.KvLogSource").mode("append").save(dir)
      val back = spark.read.format("graft.sources.KvLogSource").load(dir)
      assert(back.count() === docs.count())
      val got = back.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1)
      val exp = docs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1)
      assert(got === exp)
      // no temp debris after commit
      assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_tmp_")))
      // overwrite truncates at the COMMIT point: half the rows replace the full set
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("graft.sources.KvLogSource").mode("overwrite").save(dir)
      assert(spark.read.format("graft.sources.KvLogSource").load(dir).count()
        === docs.filter(col("doc_id") % 2 === 0).count())
    }
  }

  test("micro-batch streaming reads exactly the files that appeared since the last batch") {
    withTempFixture("kvlog_stream") { fixture =>
      val dir = new java.io.File(fixture, "src")
      dir.mkdir()
      def writeFile(name: String, rows: Seq[String]): Unit = {
        val tmp = new java.io.File(dir, s"_tmp_$name")
        val w = new java.io.PrintWriter(tmp, "UTF-8")
        rows.foreach(w.println); w.close()
        assert(tmp.renameTo(new java.io.File(dir, name)))
      }
      writeFile("a.log", Seq("1\ten\tweb\t100", "2\tde\tweb\t200"))
      val q = spark.readStream.format("graft.sources.KvLogSource")
        .load(dir.getAbsolutePath)
        .writeStream.format("memory").queryName("kvlog_stream_sink")
        .option("checkpointLocation", s"$fixture/ckpt")
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("kvlog_stream_sink").count() === 2)
        writeFile("b.log", Seq("3\tfr\tnews\t300"))
        q.processAllAvailable()
        val rows = spark.table("kvlog_stream_sink").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1)
        assert(rows === Array((1L, "en", "web", 100L), (2L, "de", "web", 200L),
          (3L, "fr", "news", 300L)), "second batch must add ONLY the new file's rows")
      } finally q.stop()
    }
  }

  test("streaming restart from checkpoint resumes at the committed offset (no reprocessing)") {
    withTempFixture("kvlog_ckpt") { fixture =>
      val dir = new java.io.File(fixture, "src")
      dir.mkdir()
      val ckpt = s"$fixture/ckpt"
      def writeFile(name: String, rows: Seq[String]): Unit = {
        val tmp = new java.io.File(dir, s"_tmp_$name")
        val w = new java.io.PrintWriter(tmp, "UTF-8")
        rows.foreach(w.println); w.close()
        assert(tmp.renameTo(new java.io.File(dir, name)))
      }
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      def start() = spark.readStream.format("graft.sources.KvLogSource")
        .load(dir.getAbsolutePath)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("doc_id").collect().foreach(r => seen.add(r.getLong(0)))
        }.start()
      writeFile("a.log", Seq("1\ten\tweb\t100", "2\tde\tweb\t200"))
      val q1 = start()
      try { q1.processAllAvailable() } finally q1.stop()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq.sorted === Seq(1L, 2L))
      // restart against the SAME checkpoint: the committed file-set offset
      // round-trips through deserializeOffset, so only the new file replays
      writeFile("b.log", Seq("3\tfr\tnews\t300"))
      val q2 = start()
      try { q2.processAllAvailable() } finally q2.stop()
      assert(seen.asScala.toSeq.sorted === Seq(1L, 2L, 3L),
        s"restart reprocessed or dropped rows: ${seen.asScala.toSeq}")
    }
  }

  test("permissive mode drops malformed lines; failfast raises with file:line coordinates") {
    withTempFixture("kvlog_malformed") { fixture =>
      val dir = new java.io.File(fixture)
      val f = new java.io.File(dir, "bad.log")
      val w = new java.io.PrintWriter(f, "UTF-8")
      w.println("1\ten\tweb\t100")
      w.println("not\ta\tvalid\trecord") // non-numeric doc_id
      w.println("2\tde\tweb") // missing field
      w.println("3\tfr\tnews\t300")
      w.close()
      val permissive = spark.read.format("graft.sources.KvLogSource")
        .load(dir.getAbsolutePath)
      assert(permissive.collect().map(_.getLong(0)).sorted === Array(1L, 3L),
        "permissive must keep exactly the well-formed records")
      val ex = intercept[org.apache.spark.SparkException] {
        spark.read.format("graft.sources.KvLogSource").option("mode", "failfast")
          .load(dir.getAbsolutePath).collect()
      }
      val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
      assert(msg.contains("bad.log:2"), s"failfast error must carry file:line, got: $msg")
    }
  }

  test("split planning yields one input partition per data file") {
    val files = new java.io.File(logPath).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files >= 2, "fixture should produce multiple files for split parallelism")
    val scan = scanOf(kvlog.select("doc_id"))
    assert(scan.inputRDD.getNumPartitions === files)
  }
}
