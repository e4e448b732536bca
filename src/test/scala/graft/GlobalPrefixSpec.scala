package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GlobalPrefix

/** [[GlobalPrefix]], the one two-phase global prefix kernel, and the
  * exact contracts of the queries whose running sums it computes.
  */
class GlobalPrefixSpec extends AnyFunSuite with SparkFixture {

  test("running sums equal a single-partition ROWS window at 1, 3 and 16 partitions") {
    import spark.implicits._
    // order (k, id) is total; k repeats, w1 and w2 repeat and hold zeros
    val input = (0 until 600).map { i =>
      (i.toLong, (i * 7919L) % 37, (i % 4).toLong, if (i % 3 == 0) 0L else 5L)
    }.toDF("id", "k", "w1", "w2")
    val order = Seq(col("k"), col("id"))
    val frame = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = input
      .select(col("id"), sum(lit(1L)).over(frame), sum(col("w1")).over(frame),
        sum(col("w2")).over(frame))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (nPart <- Seq(1, 3, 16)) {
        spark.conf.set("spark.sql.shuffle.partitions", nPart.toString)
        val p = GlobalPrefix(input, order, GlobalPrefix.Rank, "c1" -> col("w1"),
          "c2" -> col("w2"))
        val got = p.df.select("id", "r", "c1", "c2").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1).toSeq
        assert(got === expected, s"$nPart partitions")
        // Σ i%4 over 0..599 = 150·6; w2 = 5 on the 400 rows with i%3 ≠ 0
        assert(p.totals === Map("r" -> 600L, "c1" -> 900L, "c2" -> 2000L),
          s"$nPart partitions")
        val nPids = p.df.select("pid").distinct().count()
        assert(nPids <= nPart && (nPart == 1 || nPids > 1),
          s"$nPids pids over $nPart partitions")
        val empty = GlobalPrefix(input.filter(lit(false)), order, GlobalPrefix.Rank,
          "c1" -> col("w1"))
        assert(empty.df.count() === 0L)
        assert(empty.totals === Map("r" -> 0L, "c1" -> 0L), s"$nPart partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("spark_partition_id occurs in src/main only in the kernel") {
    val root = Paths.get("src/main/scala")
    val users = Files.walk(root).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala"))
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains("spark_partition_id"))
      .map(root.relativize(_).toString)
    assert(users === Seq("graft/operators/GlobalPrefix.scala"),
      "every global running count or sum must go through GlobalPrefix")
  }

  test("split-uniformity KS matches an exact BigInt driver replay") {
    val ids = Tables.documents(spark, sfDir).select(col("doc_id")).collect()
      .map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val us = ids.map { id =>
      val h = md.digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(h, 16)
    }
    val m = 4294967296L
    val n = us.length.toLong
    val byU = us.groupBy(identity).map { case (u, xs) => u -> xs.length.toLong }
      .toSeq.sortBy(_._1)
    var ck = 0L; var dnum = Long.MinValue
    byU.foreach { case (u, c) =>
      val prev = ck; ck += c
      dnum = math.max(dnum, math.max(ck * m - u * n, u * n - prev * m))
    }
    val dPpm = (BigInt(dnum) * 1000000 / (BigInt(n) * m)).toLong
    val crit = math.floor(1358000 / math.sqrt(n.toDouble)).toLong
    val row = operators.PipelineOps.splitUniformity(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n, "n_docs")
    assert(row(0).getLong(1) === dnum, "d_num")
    assert(row(0).getLong(2) === dPpm, "d_ppm")
    assert(row(0).getLong(3) === crit, "crit_ppm")
    assert(row(0).getBoolean(4) === (dPpm > crit))
    assert(!row(0).getBoolean(4),
      "the house splitter's residues must actually BE uniform at 5%")
  }

  test("splitUniformity and AD audit emit zero rows on an empty corpus") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempFixture("graft_split_empty") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      assert(operators.PipelineOps.splitUniformity(spark, tmp).count() === 0L)
      assert(operators.PipelineOps.splitUniformityAd(spark, tmp).count() === 0L)
    }
  }
}
