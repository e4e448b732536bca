package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-3 pipeline-governance operators — the
  * properties the DuckDB oracle can't see (plan shape, invariants that
  * must hold for ANY corpus, not just hash equality on the fixture).
  */
class PipelineSpec extends AnyFunSuite with SparkFixture {
  import operators.PipelineOps

  test("composed pipeline equals a driver-side recomputation of its stages") {
    val rows = PipelineOps.pipelineE2e(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // recompute the chain naively: quality gate -> min-survivor per
    // canonical URL (URL canonicalization is already pinned by
    // PropertySpec; page identity = doc_id div 2 after canonicalization,
    // by construction of the messy variants) -> per-group totals
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3).split(" ")))
    val quality = docs.filter { case (_, _, nc, t) =>
      nc >= 150 && t.distinct.length.toDouble / t.length >= 0.35
    }
    val survivors = quality.groupBy { case (id, _, _, _) => id / 2 }
      .map(_._2.minBy(_._1)).toSeq
    assert(rows.map(_.getLong(2)).sum === survivors.size.toLong,
      "n_docs across groups must equal the survivor count")
    assert(rows.map(_.getLong(3)).sum === survivors.map(_._4.length.toLong).sum,
      "token totals must be conserved across groups")
    val splits = rows.map(_.getString(0)).distinct.toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }

  test("split leakage partitions the full edge list by unordered split pair") {
    val rows = PipelineOps.splitLeakage(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totalEdges = operators.DedupOps.materializedEdges(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum === totalEdges,
      "every near-dup pair lands in exactly one split-pair cell")
    rows.foreach { r =>
      val (x, y) = (r.getString(0), r.getString(1))
      assert(x <= y, "unordered pair key must be canonical")
      assert(r.getBoolean(3) === (x != y), "leaked flag must mirror the key")
    }
  }

  test("token budget selection is maximal and within budget") {
    val rows = PipelineOps.tokenBudget(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), size(split(col("text"), " ")).as("n_toks"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val budget = docs.map(_._3).sum * 6 / 10
    // driver recompute of the greedy cut on the same total order
    val ordered = docs.sortBy { case (id, nc, _) => (-nc, id) }
    var cum = 0L
    val kept = ordered.takeWhile { case (_, _, t) => { cum += t; cum <= budget } }
    assert(rows.map(_.getLong(1)).sum === kept.length.toLong, "selected doc count")
    assert(rows.map(_.getLong(2)).sum === kept.map(_._3).sum, "selected token total")
    assert(rows.map(_.getLong(3)).max <= budget, "cut respects the budget")
  }

  test("contamination: benchmark docs are excluded and rates are in [0,1]") {
    val df = PipelineOps.contamination(spark, sfDir).collect()
    assert(df.nonEmpty)
    assert(df.forall(r => r.getLong(0) % 29 != 0), "benchmark doc leaked into the report")
    assert(df.forall { r =>
      val c = r.getDouble(3); c >= 0.0 && c <= 1.0 && r.getLong(2) <= r.getLong(1)
    })
  }

  test("contamination plan broadcasts the benchmark gram set") {
    val plan = PlanWalk.executed(PipelineOps.contamination(spark, sfDir))
    assert(PlanWalk.collectAll(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"expected broadcast join:\n$plan")
  }

  test("split assignment is exhaustive, deterministic, and ~80/10/10") {
    val df = PipelineOps.splitAssign(spark, sfDir)
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(counts.keySet === Set("train", "val", "test"))
    assert(total === Tables.documents(spark, sfDir).count())
    // md5 is uniform: train ≈ 204/256 ≈ 79.7%; the sf0.001 fixture has
    // 500 docs (binomial spread ~±5%), so 0.6 is a comfortable bound
    assert(counts("train").toDouble / total > 0.6)
    // stable across runs (content-addressed, not rand())
    val a = df.collect().toSeq
    val b = PipelineOps.splitAssign(spark, sfDir).collect().toSeq
    assert(a === b)
  }

  test("repetition: a templated doc scores higher than unique text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "the cat sat on the mat and then the dog sat on the mat", 55),
      (2L, "en", "one two three four five six seven eight nine ten eleven twelve", 62))
      .toDF("doc_id", "lang", "text", "n_chars")
    docs.write.mode("overwrite").parquet("/tmp/graft_test_rep/documents.parquet")
    val out = PipelineOps.textRepetition(spark, "/tmp/graft_test_rep").collect()
    val byId = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(byId(1L) > byId(2L), s"templated doc should out-score unique text: $byId")
    assert(byId(2L) === 0.0)
  }

  test("pack sequences: bins partition each language's docs and conserve tokens") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), size(split(col("text"), " ")).as("n"))
      .groupBy("lang").agg(sum("n").as("tokens"), count(lit(1)).as("docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bins = PipelineOps.packSequences(spark, sfDir).collect()
    val byLang = bins.groupBy(_.getString(0))
    assert(byLang.keySet === docs.keySet)
    byLang.foreach { case (lang, rows) =>
      assert(rows.map(_.getLong(3)).sum === docs(lang)._1, s"$lang token count not conserved")
      assert(rows.map(_.getLong(2)).sum === docs(lang)._2, s"$lang doc count not conserved")
      // contiguous packing: bin ids are dense from 0
      val ids = rows.map(_.getLong(1)).sorted.toSeq
      assert(ids === (0L until ids.length.toLong).toSeq, s"$lang bins not dense from 0")
    }
  }

  test("gram builders equal Scala sliding windows on random token lists") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tokenGen = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd", "e"))
    val lists = (0 until 60).map(i =>
      tokenGen.pureApply(Gen.Parameters.default, Seed(7L + i)))
    val df = lists.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      .toDF("doc_id", "text")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"),
        operators.PipelineOps.biGrams(col("toks"), col("n")).as("g2"),
        operators.PipelineOps.triGrams(col("toks"), col("n")).as("g3"))
    val got = df.collect().map(r =>
      r.getLong(0) -> (r.getSeq[String](1), r.getSeq[String](2))).toMap
    lists.zipWithIndex.foreach { case (ts, i) =>
      // split("") yields [""], so the empty-text row tokenizes to one
      // empty token — mirror that in the expectation
      val toks = if (ts.isEmpty) Seq("") else ts
      val exp2 = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val exp3 = toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      assert(got(i.toLong)._1 === exp2, s"bigrams for $toks")
      assert(got(i.toLong)._2 === exp3, s"trigrams for $toks")
    }
  }

  test("batch buckets conserve docs, respect the ladder, and only the last batch is partial") {
    val rows = PipelineOps.batchBuckets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.map(_._3).sum === n, "every doc lands in exactly one batch")
    val ladder = Seq(16L, 32L, 64L, 128L, 256L, 512L)
    rows.foreach { case (bucket, _, nDocs, maxT, sumT, waste) =>
      assert(ladder.contains(bucket))
      assert(nDocs >= 1 && nDocs <= 8, "batch size bound")
      assert(maxT <= bucket, "tokens fit the bucket")
      assert(waste === nDocs * maxT - sumT && waste >= 0L)
    }
    // within a bucket, batch ids are contiguous from 0 and only the last is partial
    rows.groupBy(_._1).foreach { case (bucket, bs) =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (0L until sorted.length).toSeq)
      sorted.dropRight(1).foreach { b =>
        assert(b._3 === 8L, s"non-terminal partial batch in bucket $bucket")
      }
    }
  }

  test("negative pairs: 4 per doc, never self, all partners exist") {
    val ids = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val rows = PipelineOps.negativePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === ids.size * 4)
    rows.groupBy(_._1).foreach { case (d, ps) =>
      assert(ps.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L), s"doc $d draws")
    }
    rows.foreach { case (d, _, neg) =>
      assert(d != neg, "self-pair leaked through the collision shift")
      assert(ids.contains(neg), "partner not in corpus")
    }
  }

  test("curriculum interleave: unique positions, easy-first within stratum, round-robin head") {
    val rows = PipelineOps.curriculumInterleave(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._5).distinct.length === rows.length, "positions unique")
    assert(rows.map(_._5).toSeq === rows.map(_._5).sorted.toSeq, "ordered by position")
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1L to rs.length).toSeq, s"$lang ranks contiguous")
      val lens = byRank.map(_._3)
      assert(lens.zip(lens.tail).forall { case (a, b) => a <= b }, s"$lang easy-first")
    }
    // while every stratum is alive, each consecutive L-block covers all langs
    val l = rows.map(_._2).distinct.length
    val minCount = rows.groupBy(_._2).values.map(_.length).min
    rows.take(minCount * l).grouped(l).foreach { block =>
      assert(block.map(_._2).distinct.length === l, "round-robin block")
    }
  }

  test("canonical selection keeps exactly one doc per component, the longest") {
    val rows = PipelineOps.dedupCanonical(spark, sfDir).collect()
    assert(rows.length === Tables.documents(spark, sfDir).count())
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (comp, members) =>
      val kept = members.filter(_.getInt(3) == 1)
      assert(kept.length === 1, s"component $comp kept ${kept.length} docs")
      val best = members.maxBy(r => (r.getLong(2), -r.getLong(0)))
      assert(kept.head.getLong(0) === best.getLong(0),
        s"component $comp kept a non-canonical member")
    }
  }

  test("SRM check reconciles with splitAssign counts and stays quiet on the fixture") {
    val r = operators.PipelineOps.splitSrm(spark, sfDir).collect()(0)
    val counts = operators.PipelineOps.splitAssign(spark, sfDir)
      .groupBy("split").count().collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(r.getAs[Long]("n_train") === counts("train"))
    assert(r.getAs[Long]("n_val") === counts("val"))
    assert(r.getAs[Long]("n_test") === counts("test"))
    assert(r.getAs[Long]("n") === counts.values.sum)
    // driver chi2 replay with the same per-term flooring
    val n = counts.values.sum
    val chi2 = Seq(("train", 204L), ("val", 26L), ("test", 26L)).map {
      case (k, w) =>
        val d = BigInt(counts(k)) * 256 - BigInt(n) * w
        d * d * 1000 / (BigInt(256) * n * w)
    }.sum
    assert(r.getAs[Long]("chi2_milli") === chi2.toLong)
    // the content-addressed split is unbiased by construction — no SRM
    assert(!r.getAs[Boolean]("srm_flag"),
      s"fixture split flagged SRM: chi2_milli=${r.getAs[Long]("chi2_milli")}")
  }

  test("documents without grams score NULL repetition and leave the manifest") {
    // a null text and a one-token text have no bigrams: the duplicated-gram
    // fractions are NULL (the DuckDB twins' x / 0), never a DIVIDE_BY_ZERO
    // or a 0.0 that would pass the manifest's quality gate
    withTempFixture("graft_null_text") { dir =>
      val docs = Tables.documents(spark, sfDir)
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val last = docs.filter(col("doc_id") === maxId)
      val degenerate = Seq(lit(null).cast("string"), lit("solo")).zipWithIndex
        .map { case (text, i) =>
          last.withColumn("doc_id", col("doc_id") + (i + 1)).withColumn("text", text)
        }.reduce(_ unionByName _)
      docs.unionByName(degenerate).write.parquet(s"$dir/documents.parquet")
      val rep = PipelineOps.textRepetition(spark, dir)
        .filter(col("doc_id") > maxId).orderBy("doc_id").collect()
      assert(rep.map(_.getLong(0)).toSeq === Seq(maxId + 1, maxId + 2))
      rep.foreach { r =>
        assert(r.isNullAt(3) && r.isNullAt(4), s"no grams must score NULL: $r")
      }
      val kept = PipelineOps.corpusManifest(spark, dir)
        .agg(sum("n_docs")).head.getLong(0)
      assert(kept === PipelineOps.corpusManifest(spark, sfDir)
        .agg(sum("n_docs")).head.getLong(0),
        "documents without grams must fail the manifest's quality gate")
    }
  }
}
