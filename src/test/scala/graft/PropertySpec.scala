package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator properties (SURVEY.md §5.2.3) — algebraic laws the
  * operators must satisfy regardless of data. Samples are drawn with fixed
  * seeds (no scalatestplus bridge in the offline cache), so failures are
  * reproducible.
  */
class PropertySpec extends AnyFunSuite with SparkFixture {

  private def samples[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size

  test("query results are invariant to the shuffle partition count") {
    // the Det policy's core claim, tested directly: same rows, same order,
    // under deliberately mismatched parallelism (2 vs 17 partitions)
    val keys = Seq("q_agg_pricing_summary", "q_win_running", "q_corpus_manifest", "q_mix_resample",
      // r8 float-disciplined ops: the ones where a slipped nano-floor
      // would surface exactly here
      "q_text_bm25", "q_embed_pca", "q_stats_regression", "q_stats_chisq",
      // late-r8 double-emitting ops: every double is a single terminal
      // division/sqrt over exact integer/decimal sums — partition-free
      "q_ts_twap", "q_ts_ewma", "q_ts_acf", "q_stats_corr_pairs",
      "q_funnel_latency", "q_attribution",
      // r20 derived-tier consumers: the shared basket_pairs read must
      // stay invariant to the consumer-side parallelism too
      "q_assoc_rules", "q_copurchase_topk")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runAll(n: String): Map[String, Seq[org.apache.spark.sql.Row]] = {
      spark.conf.set("spark.sql.shuffle.partitions", n)
      keys.map(k => k -> SparkEntry.queries(k)(spark, sfDir).collect().toSeq).toMap
    }
    try {
      val at2 = runAll("2")
      val at17 = runAll("17")
      keys.foreach { k =>
        assert(at2(k) === at17(k), s"$k differs across partition counts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("jaccard is symmetric, bounded, and 1 on self") {
    val pairs = samples(Gen.zip(Gen.listOf(Gen.alphaStr), Gen.listOf(Gen.alphaStr)))
    pairs.foreach { case (xs, ys) =>
      val (a, b) = (xs.toSet, ys.toSet)
      assert(jaccard(a, b) === jaccard(b, a))
      assert(jaccard(a, b) >= 0.0 && jaccard(a, b) <= 1.0)
      assert(jaccard(a, a) === 1.0)
    }
  }

  test("15-minute binning lands at or before the timestamp, within 900s") {
    samples(Gen.choose(0L, 4102444800L)).foreach { epoch =>
      val bin = math.floorDiv(epoch, 900L) * 900L
      assert(bin <= epoch && epoch - bin < 900)
      assert(bin % 900 === 0L)
    }
  }

  test("cosine(v, v) ≈ 1 for non-zero vectors") {
    val vec = Gen.listOfN(16, Gen.choose(-10.0, 10.0)).suchThat(_.exists(math.abs(_) > 1e-3))
    samples(vec, 50).foreach { v =>
      val dot = v.zip(v).map { case (a, b) => a * b }.sum
      val norm = math.sqrt(dot)
      assert(math.abs(dot / (norm * norm) - 1.0) < 1e-9)
    }
  }

  test("rolling hash kernel is injective-ish on distinct short strings") {
    val strs = samples(Gen.alphaStr.suchThat(_.nonEmpty), 200).distinct
    val hashes = strs.map(s => graft.functions.RollingHashExpr.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    assert(hashes.distinct.size === strs.size)
  }

  test("splitmix-derived LSH planes have fixed shape and range") {
    val p = operators.SimilarityOps.planes
    assert(p.length === 32 && p.forall(_.length === 64))
    assert(p.flatten.forall(x => x >= -0.5 && x < 0.5))
    // not degenerate: planes differ from each other
    assert(p.distinct.length === p.length)
    // the native SignLshSigExpr kernel derives the SAME planes: its
    // signatures must equal a direct recomputation from this val
    val v = Array.tabulate(64)(i => (i % 7 - 3) / 3.0)
    val sig = graft.functions.SignLshSigExpr.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(v), false, 8, 4)
    (0 until 8).foreach { t =>
      val expected = (0 until 4).foldLeft(0L) { (acc, b) =>
        val dot = v.zip(p(t * 4 + b)).map { case (x, y) => x * y }.sum
        if (dot >= 0) acc | (1L << b) else acc
      }
      assert(sig.getLong(t) === expected, s"table $t")
    }
  }

  test("dedup is idempotent on a DataFrame") {
    import spark.implicits._
    val df = Seq(1, 2, 2, 3, 3, 3).toDF("x")
    val once = df.dropDuplicates("x")
    val twice = once.dropDuplicates("x")
    assert(once.collect().map(_.getInt(0)).sorted.toSeq === twice.collect().map(_.getInt(0)).sorted.toSeq)
    assert(once.count() === 3)
  }

  test("union-all count additivity + semi-join containment on fixtures") {
    val o = Tables.orders(spark, sfDir)
    val f = o.filter(col("o_orderstatus") === "F")
    val u = o.filter(col("o_orderpriority") === "1-URGENT")
    assert(f.unionByName(u).count() === f.count() + u.count())

    val c = Tables.customer(spark, sfDir)
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi").count()
    val innerDistinct = c.join(o, col("c_custkey") === col("o_custkey"))
      .select("c_custkey").distinct().count()
    assert(semi === innerDistinct)
  }

  test("window running sum final value equals group sum") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sfDir)
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = o.withColumn("rt", sum(col("o_totalprice").cast("decimal(18,4)")).over(w))
      .groupBy("o_custkey").agg(max("rt").as("final_rt"))
    val grouped = o.groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("total"))
    val joined = running.join(grouped, "o_custkey")
      .filter(col("final_rt") =!= col("total"))
    assert(joined.count() === 0)
  }

  test("minhash signature similarity tracks jaccard on crafted near-dups") {
    import spark.implicits._
    // two near-identical docs + one unrelated: the near pair must collide
    // in at least one band, the unrelated one must not reach 0.5 jaccard
    val docs = Seq(
      (1L, ("alpha beta gamma delta epsilon zeta eta theta " * 6).trim, "en", "s0", 0L),
      (2L, ("alpha beta gamma delta epsilon zeta eta theta " * 6).trim + " iota", "en", "s0", 0L),
      (3L, "completely different words entirely unrelated content here now", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempFixture("graft_mh") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val pairs = operators.DedupOps.dedupNearMinhash(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)))
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    }
  }

  test("chunking covers every token: stride-window reconstruction") {
    import spark.implicits._
    // with stride 40 < size 50, consecutive chunks overlap by 10 tokens;
    // dropping each chunk's first 10 tokens (except chunk 0) and
    // concatenating must reproduce the document exactly
    val texts = samples(Gen.chooseNum(1, 130), 20).zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(k => s"w$k").mkString(" "), "en", "s0", 0L)
    }
    withTempFixture("graft_chunk") { tmp =>
      texts.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val chunks = operators.TextOps.textChunk(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
      texts.foreach { case (id, text, _, _, _) =>
        val parts = chunks(id)
        val rebuilt = (parts.head :: parts.tail.map(_.split(" ").drop(10).mkString(" ")))
          .filter(_.nonEmpty).mkString(" ")
        assert(rebuilt === text, s"doc $id")
      }
    }
  }

  test("quantization error is bounded by half the quantization step") {
    val rows = operators.SimilarityOps.embedQuantize(spark, sfDir).collect()
    rows.foreach { r =>
      val absmax = r.getDouble(1)
      val maxErrMicro = r.getLong(4)
      // err ≤ absmax/254 (half step) + rounding slack of the µ-floor
      assert(maxErrMicro <= math.floor(absmax / 254.0 * 1e6) + 1,
        s"vec ${r.getLong(0)}: $maxErrMicro µ vs step/2 ${absmax / 254.0}")
    }
  }

  test("stratified sample hits the configured keep rates within tolerance") {
    val rows = operators.TextOps.sampleStratified(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(3)))
    val total = Tables.documents(spark, sfDir).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = rows.groupBy(_._1).view.mapValues(_.length).toMap
    val expected = Map("en" -> 0.5, "de" -> 0.4).withDefaultValue(0.25)
    kept.foreach { case (lang, n) =>
      val rate = n.toDouble / total(lang)
      assert(math.abs(rate - expected(lang)) < 0.15, s"$lang keep rate $rate")
    }
    // split is ~90/10
    val trainFrac = rows.count(_._2 == "train").toDouble / rows.length
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train fraction $trainFrac")
  }

  test("connected components are correct on a crafted graph") {
    import spark.implicits._
    // block keys force the edges: chain 10-11-12, pair 20-21 (via shared
    // rare-token overlap), and isolated 30 — labels must be the component
    // minima. Texts engineered so jaccard ≥ 0.2 exactly along the
    // intended edges (shared (lang, source) block).
    val mk = (id: Long, words: String) => (id, words, "en", "s0", 0L)
    val docs = Seq(
      mk(10, "a b c d e f g h"),
      mk(11, "a b c d e x y z"),          // j(10,11) = 5/11 ≥ .2
      mk(12, "x y z q r s t u"),          // j(11,12) = 3/13 ≥ .2, j(10,12) = 0
      mk(20, "m n o p"),
      mk(21, "m n o p"),                  // identical pair
      mk(30, "entirely unrelated standalone content"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempFixture("graft_cc") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val labels = operators.DedupOps.dedupComponents(spark, tmp)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(10L) === 10L && labels(11L) === 10L && labels(12L) === 10L)
      assert(labels(20L) === 20L && labels(21L) === 20L)
      assert(!labels.contains(30L)) // isolated: never enters the edge list
    }
  }

  test("LSH hot bucket is capped: mass-duplicate docs yield bounded pairs") {
    import spark.implicits._
    // 600 byte-identical docs all land in ONE bucket of every band — the
    // boilerplate-duplication worst case. Uncapped this is C(600,2) pairs
    // in a single aggregation row; the row_number cap must bound it to
    // C(MaxBucket,2) and the overflow monitor must account for the rest.
    val n = 600
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (1 to n).map(i => (i.toLong, text, "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempFixture("graft_hot") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val k = operators.DedupOps.MaxBucket.toLong
      // identical docs → every surviving candidate pair confirms at jaccard 1
      assert(operators.DedupOps.dedupNearMinhash(spark, tmp).count() === k * (k - 1) / 2)
      val overflow = operators.DedupOps.bucketOverflow(spark, tmp).collect()
      assert(overflow.length === 16) // one oversized bucket per band
      assert(overflow.forall(_.getAs[Long]("dropped") === n - k))
    }
  }

  test("adaptive sub-blocking is inert at the graded cap (output identity)") {
    // the exact all-pairs ops cap block cardinality at MaxBlockDocs; no
    // fixture block comes near it (max 218 at sf0.1), so the capped
    // operators must be row-identical to their uncapped formulations
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(operators.DedupOps.dedupJaccardBlocked(spark, sfDir)) ===
      rows(operators.DedupOps.jaccardPairs(spark, sfDir, Int.MaxValue)
        .orderBy("doc_a", "doc_b")))
    assert(rows(operators.DedupOps.dedupEmbedCosine(spark, sfDir)) ===
      rows(operators.DedupOps.dedupEmbedCosine(spark, sfDir, Int.MaxValue)))
    assert(rows(operators.TextOps.textFuzzyMatch(spark, sfDir)) ===
      rows(operators.TextOps.textFuzzyMatch(spark, sfDir, Int.MaxValue)))
  }

  test("simhash two-level pigeonhole stays exhaustive under a forced tiny cap") {
    // force level-1 buckets over a cap of 24 into the 12-bit sub-chunk
    // refinement (no fixture chunk bucket is near the real 256 cap) and
    // require OUTPUT IDENTITY with the effectively-uncapped run: the
    // refinement must lose no hamming-≤3 pair, because a pair matching
    // on chunk c has all ≤3 diffs in the other 48 bits and 4 sub-chunks
    // leave one untouched — the argument the sf0.1 291-doc bucket
    // regression made load-bearing
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val uncapped = rows(operators.DedupOps.dedupSimhashWithCap(spark, sfDir, Int.MaxValue))
    val forced = rows(operators.DedupOps.dedupSimhashWithCap(spark, sfDir, 24))
    assert(forced === uncapped,
      s"refined candidate set diverged: forced=${forced.size} uncapped=${uncapped.size}")
    assert(rows(operators.DedupOps.dedupSimhash(spark, sfDir)) === uncapped)
  }

  test("forced sub-block cap yields a bounded subset and keeps exact duplicates") {
    import spark.implicits._
    // 60 docs in one (lang, source) block: 20 identical triplets. A cap
    // of 8 forces n_sub = 8 sub-blocks; identical docs share the content
    // key, so every identical pair MUST survive the split (the content
    // key cannot and must not separate them), and the capped output must
    // be a subset of the uncapped one with identical jaccard values.
    val docs = (0 until 60).map { i =>
      val fam = i / 3
      (i.toLong, s"family $fam token$fam alpha$fam beta$fam gamma$fam delta$fam", "en", "s0", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempFixture("graft_subblk") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      def pairs(maxBlock: Int): Map[(Long, Long), Double] =
        operators.DedupOps.jaccardPairs(spark, tmp, maxBlock).collect()
          .map(r => (r.getLong(2), r.getLong(3)) -> r.getDouble(4)).toMap
      val uncapped = pairs(Int.MaxValue)
      val capped = pairs(8)
      assert(capped.keySet.subsetOf(uncapped.keySet), "capped output must be a subset")
      capped.foreach { case (k, v) => assert(v === uncapped(k), s"value drift on $k") }
      // every identical triplet contributes its 3 pairs even under the cap
      val identicalPairs = capped.filter(_._2 === 1.0)
      assert(identicalPairs.size === 60, // 20 families x C(3,2)
        s"identical-doc pairs lost under forced cap: ${identicalPairs.size}")
    }
  }

  test("string-similarity kernels: metric laws over generated strings") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{DamerauLevenshteinExpr, JaroWinklerExpr}
    def u(s: String) = UTF8String.fromString(s)
    val pairs = samples(Gen.zip(Gen.alphaStr, Gen.alphaStr), 200)
    pairs.foreach { case (a, b) =>
      val jw = JaroWinklerExpr.sim(u(a), u(b))
      assert(jw >= 0.0 && jw <= 1.0, s"jw out of range for ($a, $b): $jw")
      assert(jw === JaroWinklerExpr.sim(u(b), u(a)), s"jw asymmetric for ($a, $b)")
      if (a.nonEmpty) assert(JaroWinklerExpr.sim(u(a), u(a)) === 1.0)
      val dl = DamerauLevenshteinExpr.dist(u(a), u(b))
      assert(dl >= 0 && dl <= math.max(a.length, b.length),
        s"dl out of bounds for ($a, $b): $dl")
      assert(dl === DamerauLevenshteinExpr.dist(u(b), u(a)), s"dl asymmetric for ($a, $b)")
      assert(DamerauLevenshteinExpr.dist(u(a), u(a)) === 0)
      assert((dl == 0) === (a == b), s"dl identity-of-indiscernibles fails for ($a, $b)")
      // DL never exceeds plain Levenshtein (transpositions only help) and
      // both are bounded below by the length difference
      assert(dl >= math.abs(a.length - b.length))
    }
    // triangle inequality on a smaller triple sample (full DL is a metric)
    val triples = samples(Gen.zip(Gen.alphaStr, Gen.alphaStr, Gen.alphaStr), 60)
    triples.foreach { case (a, b, c) =>
      val ab = DamerauLevenshteinExpr.dist(u(a), u(b))
      val bc = DamerauLevenshteinExpr.dist(u(b), u(c))
      val ac = DamerauLevenshteinExpr.dist(u(a), u(c))
      assert(ac <= ab + bc, s"triangle violated for ($a, $b, $c): $ac > $ab + $bc")
    }
  }

  test("URL canonicalization is idempotent on messy inputs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // canonicalize(canonicalize(u)) == canonicalize(u): the canonical form
    // must be a fixed point of the chain (lowercase host, :443 strip,
    // trailing-slash strip, utm_* drop, param sort) or repeated dedup
    // passes over already-clean corpora would churn keys
    val messy = Seq(
      "HTTPS://WWW.Example.org:443/docs/7/?b=2&utm_source=feed&a=1",
      "https://www.example.org/docs/7?a=1&utm_campaign=x&b=2",
      "https://Host.org:443///",
      "http://host.org/path/?utm_x=1",
      "https://host.org/path?z=9&y=8&utm_medium=m",
      "https://host.org").toDF("u")
    val rows = messy
      .withColumn("c1", operators.DedupOps.canonicalizeUrl(col("u")))
      .withColumn("c2", operators.DedupOps.canonicalizeUrl(col("c1")))
      .collect()
    rows.foreach { r =>
      assert(r.getString(2) === r.getString(1),
        s"not idempotent for ${r.getString(0)}: ${r.getString(1)} -> ${r.getString(2)}")
    }
    // and the two messy spellings of page 7 collapse to the same canonical
    val c = rows.map(_.getString(1))
    assert(c(0) === c(1), s"page-7 variants diverge: ${c(0)} vs ${c(1)}")
  }

  test("sketch calibration conserves pairs and the estimator tracks exact jaccard") {
    val nPairs = operators.DedupOps.dedupJaccardBlocked(spark, sfDir).count()
    val rows = operators.DedupOps.sketchCalibration(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === nPairs, "every pair lands in one bucket")
    for (r <- rows) {
      val b = r.getAs[Long]("bucket")
      assert(b >= 2 && b <= 9, s"bucket $b outside the >=0.2 jaccard domain")
      val est = r.getAs[Long]("mean_est_ppm")
      assert(est >= 0L && est <= 1000000L)
      // K=32 => sigma ~ 88k ppm; bucket means of n>=10 pairs should sit
      // well within 2 sigma of the exact mean
      if (r.getAs[Long]("n_pairs") >= 10)
        assert(math.abs(est - r.getAs[Long]("mean_exact_ppm")) <= 180000L,
          s"bucket $b estimator bias")
    }
  }

  test("compaction plan conserves docs and bytes within each lang") {
    val rows = operators.PipelineOps.compactionPlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getAs[Long]("pack_id"), r.getAs[Long]("n_files"),
        r.getAs[Long]("pack_bytes"), r.getAs[Long]("n_docs"), r.getAs[Long]("fill_ppm")))
    val docs = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(org.apache.spark.sql.functions.sum("n_chars").as("b"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((lang, rs) <- rows.groupBy(_._1)) {
      assert(rs.map(_._4).sum === docs(lang)._1, s"$lang bytes conserved")
      assert(rs.map(_._5).sum === docs(lang)._2, s"$lang docs conserved")
      val packs = rs.map(_._2).sorted
      assert(packs.head === 0L, s"$lang packs start at 0")
    }
    assert(rows.forall(_._6 > 0L), "no empty packs")
  }

  test("winnowing degrades gracefully on degenerate documents") {
    import spark.implicits._
    // 0/1/2-token docs have no 3-grams; a 3-token doc has one gram but
    // no complete w=4 window; 6 tokens = 4 grams = exactly one window;
    // an all-identical-gram doc must select exactly one fingerprint per
    // window position but dedup to a single distinct key per position
    val docs = Seq(
      (1L, "only", "en", "s0", 4L),
      (2L, "two words", "en", "s0", 9L),
      (3L, "just three tokens", "en", "s0", 17L),
      (4L, "a b c d e f", "en", "s0", 11L),
      (5L, "x x x x x x x x x x", "en", "s0", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempFixture("graft_win") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rows = operators.CorpusOps.winnowFingerprint(spark, tmp).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(rows(1L) === ((0L, 0L, None)), "0 grams")
      assert(rows(2L) === ((0L, 0L, None)), "1-gram impossible at 2 tokens")
      assert(rows(3L) === ((1L, 0L, None)), "one gram, no complete window")
      assert(rows(4L)._1 === 4L)
      assert(rows(4L)._2 === 1L, "exactly one window -> one fingerprint")
      assert(rows(4L)._3 === Some(1000000L), "density = 1 selection / 1 window")
      // identical grams: every window's rightmost-min is a DIFFERENT
      // position (ties break right), so each window selects its own key
      val (g5, s5, d5) = rows(5L)
      assert(g5 === 8L)
      assert(s5 === 5L, "8 grams, windows ending at p=4..8 each pick p")
      assert(d5 === Some(1000000L))
    }
  }

  test("skyline collapses to one point on a monotone stream and keeps all on an antitone one") {
    import spark.implicits._
    def mk(prices: Seq[Double], tmpName: String): Seq[(Long, Long)] = {
      val orders = prices.zipWithIndex.map { case (p, i) =>
        (i.toLong, 1L, "F", p,
          new java.sql.Timestamp(1700000000000L + i * 86400000L), "1-URGENT")
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      withTempFixture(tmpName) { tmp =>
        orders.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
        operators.StatsOps.skylineDaily(spark, tmp).collect()
          .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
      }
    }
    // expected frontier day = UTC midnight of the i-th order's day
    def day(i: Int): Long =
      (1700000000000L + i * 86400000L) / 86400000L * 86400000L
    // strictly increasing prices: every earlier day is dominated by the
    // last — frontier = the single final point
    assert(mk(Seq(10.0, 20.0, 30.0, 40.0), "graft_sky_up") === Seq((day(3), 4000L)))
    // strictly decreasing prices: nothing dominates anything — all kept
    assert(mk(Seq(40.0, 30.0, 20.0, 10.0), "graft_sky_dn") ===
      Seq((day(0), 4000L), (day(1), 3000L), (day(2), 2000L), (day(3), 1000L)))
    // an equal-price later day dominates the earlier one
    assert(mk(Seq(20.0, 20.0), "graft_sky_eq") === Seq((day(1), 2000L)))
  }

  test("MMR emits fewer rounds than k when the candidate pool runs dry") {
    import spark.implicits._
    // 10 probes but only 13 vectors total -> each probe has 12 candidates,
    // still >= 5; shrink further: 6 vectors -> probes 0..5 exist, probes
    // with vec_id < 10 are all 6, candidates per probe = 5 -> exactly 5
    // picks; with 5 vectors candidates = 4 -> rank 5 must be absent, not
    // null/error
    def mk(n: Int, name: String) = {
      val vecs = (0 until n).map { i =>
        (i.toLong, Array.tabulate(8)(d => (0.1f * ((i + d) % 5))), i % 2)
      }.toDF("vec_id", "embedding", "label")
      withTempFixture(name) { tmp =>
        vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
        operators.SimilarityOps.embedMmr(spark, tmp).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getAs[Int]("rank")).sorted.toSeq)
          .toMap
      }
    }
    val full = mk(6, "graft_mmr6")
    assert(full.size === 6)
    assert(full.values.forall(_ === Seq(1, 2, 3, 4, 5)), "5 candidates -> 5 ranks")
    val dry = mk(5, "graft_mmr5")
    assert(dry.size === 5)
    assert(dry.values.forall(_ === Seq(1, 2, 3, 4)),
      "4 candidates -> greedy stops at rank 4 without fabricating rows")
  }

  test("anon ladder suppression and coarsening rungs fire on a crafted stream") {
    import spark.implicits._
    // bucket layout (15-min cells): cell 0 holds 5 events (released at
    // 15min); cells 4..5 hold 3+2 -> their 30-min parent reaches 5;
    // cells 8..11 hold 1+1+1+1 -> only the 60-min rung reaches 4... which
    // is < 5, so all four are suppressed; cell 16 holds 2, its 30-min
    // parent 2, its hour 2 -> suppressed
    def ts(cell: Int, i: Int) =
      new java.sql.Timestamp(1700000000000L + cell * 900000L + i * 1000L)
    val events = (
      (0 until 5).map(i => (i.toLong, ts(0, i), 1L, "click", 1.0, "")) ++
      (0 until 3).map(i => (10L + i, ts(4, i), 1L, "click", 1.0, "")) ++
      (0 until 2).map(i => (20L + i, ts(5, i), 1L, "click", 1.0, "")) ++
      (0 until 4).map(i => (30L + i, ts(8 + i, 0), 1L, "click", 1.0, "")) ++
      (0 until 2).map(i => (40L + i, ts(16, i), 1L, "click", 1.0, "")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    withTempFixture("graft_ladder") { tmp =>
      events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val rows = operators.QualityOps.anonLadder(spark, tmp).collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(rows("15min") === ((1L, 5L)), "cell 0 released at the finest rung")
      assert(rows("30min") === ((2L, 5L)), "cells 4+5 coarsen to their parent")
      assert(rows("suppressed") === ((5L, 6L)),
        "hour of 4 singletons + the lone pair cell all suppressed")
      assert(!rows.contains("60min"), "no cell qualifies exactly at the hour rung")
      // conservation under the crafted layout too
      assert(rows.values.map(_._2).sum === 16L)
    }
  }

  test("water-fill invariants hold on 30 random skewed source mixes") {
    import spark.implicits._
    val mixGen = for {
      k <- Gen.choose(2, 8)
      toks <- Gen.listOfN(k, Gen.choose(10L, 1000000L))
    } yield toks
    samples(mixGen, 30).zipWithIndex.foreach { case (toks, i) =>
      val base = toks.zipWithIndex
        .map { case (t, j) => (s"s$j", t) }.toDF("source", "tokens")
      val rows = operators.CurationOps.waterFill(base).collect()
      val total = toks.sum
      val budget = 2L * total
      val allocSum = rows.map(_.getLong(5)).sum
      // budget never exceeded; per-source cap never exceeded
      assert(allocSum <= budget, s"mix $i: allocation over budget")
      rows.foreach { r =>
        assert(r.getLong(5) <= r.getLong(3), s"mix $i: cap violated")
        assert(r.getLong(5) >= 0L)
        assert(r.getLong(6) <= 4000000L, s"mix $i: epochs over the cap")
        // clamped sources sit exactly at their cap
        if (r.getBoolean(4)) assert(r.getLong(5) === r.getLong(3))
      }
      // truncation-bounded budget use: if nothing clamped, the fill is
      // proportional and leaves at most |sources| units on the table
      if (rows.forall(!_.getBoolean(4)))
        assert(budget - allocSum <= rows.length.toLong,
          s"mix $i: unclamped fill must spend the budget up to truncation")
    }
  }
}
