package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 pins:
  *
  *  1. the shared-materialization refactor (oriented edges, neighbor-set
  *     signatures) is OUTPUT-INVARIANT — the memoized paths the graded
  *     graph queries now take produce the same relations the pure
  *     kernels derive from scratch;
  *  2. [[operators.GraphOps.structEquivOverflow]] is empty on the
  *     fixtures, closing the r15 ADVICE recall-contingency item — the
  *     256-bucket cap never engages, so oracle equality is limited only
  *     by the documented 1e-4 banding-miss probability;
  *  3. the Page/Quade zero-fill is exercised on a design that is
  *     actually INCOMPLETE (the January fixture is complete, so the r15
  *     fill was proven only as a no-op): a synthetic events fixture
  *     missing one (type, week) cell, replayed against BigInt
  *     recomputes over the FILLED grid;
  *  4. the CvM / Ansari-Bradley degenerate-input contract (r15 ADVICE):
  *     one-sample-empty and both-samples-empty fixtures pin the exact
  *     row shapes the DuckDB twins' inner-join / GROUP BY rewrites
  *     produce, so the engines can't drift on inputs the January
  *     fixture never exercises.
  */
class Round16Spec extends AnyFunSuite with SparkFixture {

  // ---- 1. shared-materialization output invariance -------------------

  test("materializedOriented equals the pure orientation kernel's output") {
    val e = operators.DedupOps.materializedEdges(spark, sfDir)
    val deg = operators.GraphOps.materializedDegrees(spark, sfDir)
    val fresh = operators.GraphOps.orientEdges(e, deg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    val memo = operators.GraphOps.materializedOriented(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(memo.nonEmpty && memo.toSeq === fresh.toSeq)
  }

  test("wedgeCandidatesOf(materialized) equals wedgeCandidates from scratch") {
    val e = operators.DedupOps.materializedEdges(spark, sfDir)
    val deg = operators.GraphOps.materializedDegrees(spark, sfDir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val fresh = operators.GraphOps.wedgeCandidates(e, deg)
      .collect().map(key).sorted
    val memo = operators.GraphOps
      .wedgeCandidatesOf(operators.GraphOps.materializedOriented(spark, sfDir))
      .collect().map(key).sorted
    assert(memo.nonEmpty && memo.toSeq === fresh.toSeq)
  }

  test("materializedWedgePairs equals a from-scratch wedge aggregate") {
    val e = operators.DedupOps.materializedEdges(spark, sfDir)
    val deg = operators.GraphOps.materializedDegrees(spark, sfDir)
    val inv = deg.filter(col("deg") >= 2).select(col("node").as("mid"),
      expr("1000000000000000000 div " +
        "cast(floor(ln(cast(deg as double)) * 1e9) as bigint)").as("inv_nano"))
    val fresh = operators.GraphOps.wedgeCandidates(e, deg)
      .select("a", "b", "mid")
      .join(e.select(col("doc_a").as("a"), col("doc_b").as("b")),
        Seq("a", "b"), "left_anti")
      .join(inv, Seq("mid"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(col("inv_nano").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("aa_nano"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    val memo = operators.GraphOps.materializedWedgePairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(memo.nonEmpty && memo.toSeq === fresh.toSeq)
  }

  test("materializedNeighborSigs equals the inline signature aggregate") {
    val e = operators.DedupOps.materializedEdges(spark, sfDir)
    val fresh = e.select(col("doc_a").as("node"), col("doc_b").as("nbr"))
      .unionByName(e.select(col("doc_b").as("node"), col("doc_a").as("nbr")))
      .select(col("node"), xxhash64(col("nbr")).as("nh"))
      .groupBy("node").agg(expr("graft_minhash_sig(nh, 64)").as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector))
      .sortBy(_._1)
    val memo = operators.GraphOps.materializedNeighborSigs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector))
      .sortBy(_._1)
    assert(memo.nonEmpty && memo.toSeq === fresh.toSeq)
  }

  // ---- 1b. plan shapes of the amortized consumers ---------------------

  import PlanWalk._

  test("adamic-adar is a wedge-pair read + TakeOrderedAndProject, no join at all") {
    val plan = executed(operators.GraphOps.adamicAdar(spark, sfDir))
    val all = collectAll(plan)
    assert(all.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject, plan:\n$plan")
    assert(!all.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BaseJoinExec]),
      s"the materialized candidate table leaves nothing to join:\n$plan")
  }

  test("jaccard is a wedge-pair read + degree joins + TakeOrderedAndProject") {
    val plan = executed(operators.GraphOps.jaccardSim(spark, sfDir))
    assert(collectAll(plan).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject, plan:\n$plan")
  }

  // ---- 2. struct-equiv bucket-cap monitor -----------------------------

  test("structEquivOverflow is empty: the 256-cap never engages on the fixture") {
    assert(operators.GraphOps.structEquivOverflow(spark, sfDir).collect().isEmpty,
      "a non-empty overflow means a dense equivalence class melted past " +
        "MaxBucket and the all-pairs oracle equality is at risk")
  }

  // ---- 3. Page/Quade zero-fill on a genuinely incomplete design ------

  /** 3 types × weeks 1..4, with (c, 4) MISSING — one event per present
    * cell on days 1/8/15/22 of January 2024, values chosen with no v
    * ties anywhere (so every rank order is forced). ts is a plain
    * TimestampType column — Tables.events passes it through unchanged.
    */
  private lazy val incompleteDir: String = {
    import spark.implicits._
    def ts(day: Int) =
      java.sql.Timestamp.from(java.time.Instant.parse(
        f"2024-01-$day%02dT12:00:00Z"))
    // (type, week) -> value; c4 absent. Values distinct per design.
    val cells = Seq(
      ("a", 1, 5.0), ("a", 2, 3.0), ("a", 3, 9.0), ("a", 4, 7.0),
      ("b", 1, 2.0), ("b", 2, 8.0), ("b", 3, 4.0), ("b", 4, 6.0),
      ("c", 1, 11.0), ("c", 2, 1.0), ("c", 3, 10.0))
    val rows = cells.zipWithIndex.map { case ((t, w, v), i) =>
      (i.toLong, ts(1 + (w - 1) * 7), 1L, t, v, "")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_r16_fill").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def filledGrid: Map[(String, Long), Long] = {
    val present = Map(
      ("a", 1L) -> 5L, ("a", 2L) -> 3L, ("a", 3L) -> 9L, ("a", 4L) -> 7L,
      ("b", 1L) -> 2L, ("b", 2L) -> 8L, ("b", 3L) -> 4L, ("b", 4L) -> 6L,
      ("c", 1L) -> 11L, ("c", 2L) -> 1L, ("c", 3L) -> 10L)
      .map { case (k, v) => k -> v * 1000000L }
    (for (t <- Seq("a", "b", "c"); w <- 1L to 4L)
      yield (t, w) -> present.getOrElse((t, w), 0L)).toMap
  }

  test("weeklyByTypeFilled creates the missing (c, 4) cell as an explicit zero") {
    val got = operators.InferenceOps.weeklyByTypeFilled(spark, incompleteDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size === 12, s"expected the complete 3x4 grid, got ${got.size} cells")
    assert(got(("c", 4L)) === 0L, "the absent cell must be zero-filled, not dropped")
    assert(got === filledGrid)
  }

  test("Page's L on the incomplete design matches a BigInt replay over the filled grid") {
    val grid = filledGrid
    val types = Seq("a", "b", "c"); val k = 4L
    // within-block ranks by (v, wk) -- no v ties by construction except
    // none exist, so the wk tiebreak never fires
    val rk: Map[(String, Long), Long] = types.flatMap { t =>
      (1L to k).map(w => (w, grid((t, w)))).sortBy { case (w, v) => (v, w) }
        .zipWithIndex.map { case ((w, _), i) => (t, w) -> (i + 1L) }
    }.toMap
    val n = BigInt(types.length)
    // toSeq first: mapping over the key SET would dedup equal products
    val l = grid.keys.toSeq.map { case (t, w) => BigInt(w) * rk((t, w)) }.sum
    val eL4 = n * k * (k + 1) * (k + 1)
    val var144 = n * k * k * (k + 1) * (k * k - 1)
    val zMilli = math.floor((4 * l - eL4).toDouble * 3000 /
      math.sqrt(var144.toDouble)).toLong
    // the complete-design moments are only valid BECAUSE of the fill:
    // with block c truncated at 3 treatments, E[L] and Var(L) would mix
    // block sizes and the closed forms above would not apply
    val row = operators.InferenceOps.pageTrend(spark, incompleteDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n.toLong, "n_blocks")
    assert(row(0).getLong(1) === k, "k_treatments")
    assert(row(0).getLong(2) === l.toLong, "l")
    assert(row(0).getLong(3) === (eL4 / 4).toLong, "e_l")
    assert(row(0).getLong(4) === zMilli, "z_milli")
  }

  test("Quade on the incomplete design matches a BigInt replay over the filled grid") {
    val grid = filledGrid
    val types = Seq("a", "b", "c"); val k = 4L
    val rk: Map[(String, Long), Long] = types.flatMap { t =>
      (1L to k).map(w => (w, grid((t, w)))).sortBy { case (w, v) => (v, w) }
        .zipWithIndex.map { case ((w, _), i) => (t, w) -> (i + 1L) }
    }.toMap
    val q: Map[String, Long] = types
      .map(t => t -> ((1L to k).map(w => grid((t, w))).max -
        (1L to k).map(w => grid((t, w))).min))
      .sortBy { case (t, rng) => (rng, t) }
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1L) }.toMap
    val s2: Map[(String, Long), BigInt] = grid.keys.map { case (t, w) =>
      (t, w) -> BigInt(q(t)) * (2 * rk((t, w)) - (k + 1))
    }.toMap
    val a4 = s2.values.map(x => x * x).sum
    val sb2 = (1L to k).map { w =>
      val s2j = types.map(t => s2((t, w))).sum; s2j * s2j
    }.sum
    val nB = BigInt(types.length)
    val denom = nB * a4 - sb2
    val fMilli: Option[Long] =
      if (denom > 0) Some(((nB - 1) * sb2 * 1000 / denom).toLong) else None
    val row = operators.InferenceOps.quadeTest(spark, incompleteDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === nB.toLong, "n_blocks")
    assert(row(0).getLong(1) === k, "k_treatments")
    assert(row(0).getLong(2) === a4.toLong, "a4")
    assert(row(0).getLong(3) === sb2.toLong, "sb2")
    assert((if (row(0).isNullAt(4)) None else Some(row(0).getLong(4))) === fMilli,
      "f_milli")
  }

  // ---- 4. CvM / Ansari degenerate-input contracts ---------------------

  private def eventsDir(types: Seq[String]): String = {
    import spark.implicits._
    val rows = types.zipWithIndex.map { case (t, i) =>
      (i.toLong,
        java.sql.Timestamp.from(java.time.Instant.parse(
          f"2024-01-${1 + i}%02dT12:00:00Z")),
        1L, t, 2.0 + i, "")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_r16_degen").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("CvM emits ZERO rows when one sample is absent (twin inner-join contract)") {
    // the DuckDB twin's ab CTE is an inner join of the click and purchase
    // aggregates -- absent purchase means zero rows there; the Spark side's
    // a.crossJoin(b) with empty b must agree
    val oneType = eventsDir(Seq("click", "click", "click"))
    assert(operators.InferenceOps.cvmTwoSample(spark, oneType).collect().isEmpty)
    // both samples absent: the WHERE filter leaves nothing on either side
    val neither = eventsDir(Seq("view", "view"))
    assert(operators.InferenceOps.cvmTwoSample(spark, neither).collect().isEmpty)
  }

  test("Anderson-Darling matches an exact BigInt driver replay") {
    val utc = java.time.ZoneOffset.UTC
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant, r.getDouble(2)))
      .filter(e => e._1 == "click" || e._1 == "purchase")
      .groupBy(e => (e._1, e._2.atZone(utc).toLocalDate))
      .map { case ((t, d), es) =>
        (t, d, es.map(e => math.floor(e._3 * 1e6).toLong).sum)
      }.toArray
    val sorted = daily.sortBy { case (t, d, v) => (v, d.toString, t) }
    val nn = BigInt(sorted.length)
    val n = BigInt(sorted.count(_._1 == "click"))
    val m = nn - n
    var mj = BigInt(0); var ts = BigInt(0)
    sorted.zipWithIndex.foreach { case ((t, _, _), idx) =>
      val j = BigInt(idx + 1)
      if (t == "click") mj += 1
      if (j < nn) {
        val d = mj * nn - j * n
        ts += d * d * 1000000000L / (j * (nn - j))
      }
    }
    val a2 = ts / (n * m)
    val row = operators.InferenceOps.adTwoSample(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n.toLong, "n")
    assert(row(0).getLong(1) === m.toLong, "m")
    assert(row(0).getLong(2) === a2.toLong, "a2_nano")
  }

  test("Hodges-Lehmann matches an exact BigInt driver replay") {
    val utc = java.time.ZoneOffset.UTC
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant, r.getDouble(2)))
      .filter(e => e._1 == "click" || e._1 == "purchase")
      .groupBy(e => (e._1, e._2.atZone(utc).toLocalDate))
      .map { case ((t, d), es) =>
        (t, d.toString, es.map(e => math.floor(e._3 * 1e6).toLong).sum)
      }.toArray
    val xs = daily.filter(_._1 == "click").map(e => (e._2, e._3))
    val ys = daily.filter(_._1 == "purchase").map(e => (e._2, e._3))
    val diffs = (for { (da, va) <- xs; (db, vb) <- ys }
      yield (vb - va, da, db)).sorted
    val np = diffs.length
    val lo = diffs((np + 1) / 2 - 1)._1
    val hi = diffs((np + 2) / 2 - 1)._1
    val row = operators.InferenceOps.hodgesLehmann(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === np.toLong, "n_pairs")
    assert(row(0).getLong(1) === lo, "hl_lo")
    assert(row(0).getLong(2) === hi, "hl_hi")
    assert(row(0).getLong(3) === (lo + hi) / 2, "hl_point")
  }

  test("Hodges-Lehmann emits ZERO rows when either sample is absent") {
    assert(operators.InferenceOps.hodgesLehmann(
      spark, eventsDir(Seq("click", "click"))).collect().isEmpty)
    assert(operators.InferenceOps.hodgesLehmann(
      spark, eventsDir(Seq("view"))).collect().isEmpty)
  }

  test("Anderson-Darling emits ZERO rows when either sample is absent") {
    assert(operators.InferenceOps.adTwoSample(
      spark, eventsDir(Seq("click", "click", "click"))).collect().isEmpty)
    assert(operators.InferenceOps.adTwoSample(
      spark, eventsDir(Seq("view", "view"))).collect().isEmpty)
  }

  // ---- 6. k-truss ------------------------------------------------------

  private def trussOf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    operators.GraphOps.ktrussOf(
      pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  test("ktruss: K4 survives with support 2; a lone triangle and a pendant peel away") {
    // K4 on {0,1,2,3}: every edge closes exactly 2 triangles -> 4-truss.
    // Lone triangle {10,11,12}: support 1 per edge -> dropped round 1.
    // Pendant (20,21): support 0 -> dropped round 1.
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val got = trussOf(k4 ++ Seq((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)))
    assert(got.toSeq === k4.map { case (a, b) => (a, b, 2L) }.toSeq)
  }

  test("ktruss: peeling cascades (chain of triangles strung edge to edge)") {
    // Triangles T_i = {2i, 2i+1, 2i+2} sharing single vertices: every
    // edge has support exactly 1, so the WHOLE chain peels in round 1 --
    // support, unlike degree, is not fooled by chained weak structure
    // (kcore with k=2 would keep every edge of the chain).
    val chain = (0L until 4L).flatMap(i =>
      Seq((2 * i, 2 * i + 1), (2 * i, 2 * i + 2), (2 * i + 1, 2 * i + 2)))
    assert(trussOf(chain).isEmpty)
  }

  test("ktruss on the fixture reaches fixpoint and matches a driver replay") {
    val e = operators.DedupOps.materializedEdges(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver replay: peel to FIXPOINT (not round-bounded), support via
    // common-neighbor intersection per edge
    var cur = e.toSet
    var changed = true
    while (changed) {
      val nbrs = (cur.toSeq ++ cur.toSeq.map { case (a, b) => (b, a) })
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
      val keep = cur.filter { case (a, b) =>
        (nbrs(a) & nbrs(b)).size >= 2 }
      changed = keep != cur
      cur = keep
    }
    val nbrs = (cur.toSeq ++ cur.toSeq.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val expected = cur.toSeq.map { case (a, b) =>
      (a, b, (nbrs(a) & nbrs(b)).size.toLong) }.sorted
    val got = operators.GraphOps.ktruss(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "fixture must have a non-empty 4-truss")
    assert(got.forall(_._3 >= 2L),
      "3 rounds must reach fixpoint on the fixture (else bump TrussRounds)")
    assert(got === expected,
      "round-bounded peel must equal the fixpoint replay on the fixture")
  }

  test("component-size distribution is the exact histogram of the labels") {
    val labels = operators.DedupOps.dedupComponents(spark, sfDir).collect()
      .map(r => r.getLong(1))
    val expected = labels.groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).map { case (sz, xs) =>
        sz -> (xs.size.toLong, sz * xs.size) }
    val got = operators.DedupOps.componentSizes(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty && got === expected)
  }

  test("Garman-Klass matches an exact driver replay (shared libm)") {
    val utc = java.time.ZoneOffset.UTC
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant,
        r.getLong(2), math.floor(r.getDouble(3) * 1e6).toLong))
    def lnN(x: Long) = math.floor(math.log(x.toDouble) * 1e9).toLong
    val expected = rows
      .groupBy(e => (e._1, e._2.atZone(utc).toLocalDate))
      .toSeq
      .map { case ((t, _), es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        (t, sorted.head._4, es.map(_._4).max, es.map(_._4).min, sorted.last._4)
      }
      .filter(_._4 > 0)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, days) =>
        val ts2 = days.map { case (_, o, h, l, c) =>
          val d1 = BigInt(lnN(h) - lnN(l)); val d2 = BigInt(lnN(c) - lnN(o))
          d1 * d1 * 500000000L - d2 * d2 * 386294361L
        }.sum
        val n = days.length.toLong
        val varM = ts2 / (BigInt(n) * BigInt("1000000000000000"))
        val vol: Option[Long] = if (varM >= 0)
          Some(math.floor(math.sqrt(varM.toDouble)).toLong) else None
        (t, n, varM.toLong, vol)
      }
    val got = operators.IndicatorOps.winGarmanKlass(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got === expected)
  }

  test("phash clusters are the exact components of the phash-near pairs") {
    val edges = operators.Multimodal.multimodalPhashNear(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assume(edges.nonEmpty, "fixture must have phash near-dups")
    // driver union-find over the collected edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = operators.Multimodal.multimodalPhashClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("term dispersion matches an exact BigInt driver replay") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = docs.flatMap { case (src, text) =>
      text.split(" ", -1).map(t => (t, src)) }
      .groupBy(identity).map { case ((t, s), xs) => (t, s) -> xs.length.toLong }
    val srcTot = cells.groupBy(_._1._2).map { case (s, m) => s -> m.values.sum }
    val grand = BigInt(srcTot.values.sum)
    val termTot = cells.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
    val top = termTot.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
    val expected = top.map { case (t, ct) =>
      val dev = srcTot.map { case (s, ts) =>
        (BigInt(cells.getOrElse((t, s), 0L)) * grand -
          BigInt(ct) * ts).abs }.sum
      (t, ct, (dev * 1000000 / (2 * BigInt(ct) * grand)).toLong)
    }
    val got = operators.CorpusOps.textDispersion(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
  }

  test("k-anonymity profile on a crafted bin layout") {
    import spark.implicits._
    def ts(cell: Int, i: Int) =
      new java.sql.Timestamp(1700000000000L + cell * 900000L + i * 1000L)
    // QI classes: (cell0, click) x3 rows, (cell0, view) x6, (cell2, click) x5
    val rows =
      (0 until 3).map(i => (i.toLong, ts(0, i), 1L, "click", 1.0, "")) ++
      (0 until 6).map(i => (10L + i, ts(0, i), 1L, "view", 1.0, "")) ++
      (0 until 5).map(i => (20L + i, ts(2, i), 1L, "click", 1.0, ""))
    val dir = java.nio.file.Files.createTempDirectory("graft_r16_kanon").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = operators.QualityOps.privacyKanonymity(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 3L, "n_classes")
    assert(r(0).getLong(1) === 14L, "n_rows")
    assert(r(0).getLong(2) === 3L, "k_anonymity = smallest class")
    assert(r(0).getLong(3) === 1L, "one class below k=5")
    assert(r(0).getLong(4) === 3L, "its 3 rows are the at-risk mass")
    assert(r(0).getLong(5) === 3L * 1000000L / 14L, "at_risk_ppm floored")
  }

  // ---- 7. cumulative periodogram + weighted kappa replays --------------

  test("weighted kappa matches an exact BigInt driver replay") {
    val graded = Tables.documents(spark, sfDir)
      .select(col("n_chars"), col("text")).collect()
      .map { r =>
        val nc = r.getAs[Number](0).longValue
        val tk = r.getString(1).split(" ", -1).length.toLong
        (if (nc < 300) 0L else if (nc < 600) 1L else 2L,
          if (tk < 50) 0L else if (tk < 100) 1L else 2L)
      }
    val n = BigInt(graded.length)
    val dObs = BigInt(graded.map { case (p, t) => math.abs(p - t) }.sum)
    def r(v: Long) = BigInt(graded.count(_._1 == v))
    def c(v: Long) = BigInt(graded.count(_._2 == v))
    val dExp = r(0) * c(1) + r(1) * c(0) + r(1) * c(2) + r(2) * c(1) +
      2 * (r(0) * c(2) + r(2) * c(0))
    val kappa: Option[Long] =
      if (dExp > 0) Some(((dExp - n * dObs) * 1000000 / dExp).toLong) else None
    val row = operators.EvalOps.evalKappaWeighted(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === n.toLong, "n_docs")
    assert(row(0).getLong(1) === dObs.toLong, "d_obs")
    assert(row(0).getLong(2) === dExp.toLong, "d_exp")
    assert((if (row(0).isNullAt(3)) None else Some(row(0).getLong(3))) === kappa,
      "kappa_w_ppm")
  }

  test("cumulative periodogram matches an exact driver replay (shared libm)") {
    // daily cents, day-sorted; same floored-nano cos/sin staging with the
    // SAME java.lang.Math cos/sin/PI Spark's codegen calls, so the replay
    // is exact, not approximate
    val daily = Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      .collect()
      .map { r =>
        // mirror Det.money's double -> DECIMAL(12,2) cast: Spark builds
        // the decimal from the double's shortest string repr, HALF_UP
        val cents = new java.math.BigDecimal(
            java.lang.Double.toString(r.getAs[Number](1).doubleValue))
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .movePointRight(2).toBigIntegerExact()
        (r.getDate(0).toString, BigInt(cents))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, xs) => xs.map(_._2).sum }
    val nd = daily.length
    val kmax = (nd - 1) / 2
    val ps: Seq[BigInt] = (1 to kmax).map { j =>
      var ck = BigInt(0); var sk = BigInt(0)
      daily.zipWithIndex.foreach { case (v, t) =>
        val theta = 2 * math.Pi * j.toDouble * t.toDouble / nd.toDouble
        ck += v * BigInt(math.floor(math.cos(theta) * 1e9).toLong)
        sk += v * BigInt(math.floor(math.sin(theta) * 1e9).toLong)
      }
      val ce = ck / nd; val se = sk / nd // BigInt / truncates like Spark div
      (ce * ce + se * se) / BigInt("1000000000000000000")
    }
    val total = ps.sum
    var cum = BigInt(0)
    val ds = ps.zipWithIndex.map { case (p, i) =>
      cum += p; (cum * kmax - total * (i + 1)).abs
    }
    val dmax = ds.max
    val jAtMax = ds.indexOf(dmax) + 1L
    val dPpm = (dmax * 1000000 / (total * kmax)).toLong
    val row = operators.SeriesOps.tsCumPeriodogram(spark, sfDir).collect()
    assert(row.length === 1)
    assert(row(0).getLong(0) === kmax.toLong, "k_freqs")
    assert(row(0).getLong(1) === total.toLong, "total_e18")
    assert(row(0).getLong(2) === jAtMax, "j_at_max")
    assert(row(0).getLong(3) === dPpm, "d_max_ppm")
  }

  test("Ansari emits ONE row with m=0 on one sample, ZERO rows on none (twin GROUP BY contract)") {
    // the twin's GROUP BY g over a non-empty scored relation emits exactly
    // one row even when the purchase sample is empty (m = 0); over an
    // empty relation it emits zero rows -- the Spark groupBy(lit(1))
    // matches both shapes
    val oneType = eventsDir(Seq("click", "click", "click"))
    val one = operators.InferenceOps.ansariBradley(spark, oneType).collect()
    assert(one.length === 1)
    assert(one(0).getLong(0) === 3L, "n = 3 click days")
    assert(one(0).getLong(1) === 0L, "m = 0: purchase sample empty")
    // 3 distinct days, scores = min(r, 4-r) over r=1..3 -> 1+2+1 = 4
    assert(one(0).getLong(2) === 4L, "ab_stat over the click sample alone")
    val neither = eventsDir(Seq("view", "view"))
    assert(operators.InferenceOps.ansariBradley(spark, neither).collect().isEmpty)
  }
}
