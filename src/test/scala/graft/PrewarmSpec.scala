package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Pins the r14-verdict Prewarm hygiene contract:
  *
  *  1. `graft.Prewarm` never executes a graded `SparkEntry.queries`
  *     entry untimed — enforced structurally (source scan: the token
  *     `SparkEntry` must not appear in Prewarm.scala).
  *  2. `Prewarm.sessionTier` and the graded memo consumers install
  *     EXACTLY the same [[SessionMemo]] keys: after running every
  *     session-tier builder, running every consumer adds no new key (the
  *     tier covers all), and consumers alone, in a fresh session, use
  *     every key the tier builds (the tier has no dead entries).
  *  3. The bench split can't hide a regression: if a sf0.1
  *     BENCH_FULL.json exists from the latest bench run, the COMBINED
  *     prewarm_sec + value must sit within the 2× engine budget that
  *     BASELINE.md derives (≈1.2 s/query × 2 headroom), i.e. the
  *     prewarm/timed split is an attribution choice, not a discount.
  */
class PrewarmSpec extends AnyFunSuite with SparkFixture {

  /** The 15 graded queries that read a [[operators.GlobalPrefix.memoized]]
    * rank: the 14 that own one, and q_eval_rank_exposure, which reads the
    * `fsweep` rank of q_quality_filter_sweep through
    * `CurationOps.rankedQualityScore`. */
  private val rankConsumers = Seq(
    "q_batch_buckets", "q_curriculum", "q_eval_conformal", "q_gini",
    "q_histogram_equidepth", "q_lorenz_deciles", "q_negative_pairs",
    "q_ntile", "q_part_abc", "q_prune_curve", "q_quality_filter_sweep",
    "q_rfm_segments", "q_sample_index", "q_zonemap_prune", "q_eval_rank_exposure")

  /** Every graded query that reads a session memo: the 15 rank consumers,
    * the two Markov π consumers and the OLS/conformal pair. */
  private val memoConsumers = (rankConsumers ++ Seq("q_markov_stationary",
    "q_markov_entropy_rate", "q_stats_ols_multi", "q_eval_conformal")).distinct

  test("Prewarm references no graded SparkEntry queries") {
    val f = "src/main/scala/graft/Prewarm.scala"
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8")
    assert(!src.contains("SparkEntry"),
      s"$f must warm memos via direct builders, never a graded query")
  }

  test("Prewarm.sessionTier covers exactly the consumers' session-memo keys") {
    // SqlViews' `views` key names no dir (its value holds it); no memo
    // consumer here registers views, and the session tier does not warm them
    def dirKeys: Set[String] = SessionMemo.keys.filter(_.contains(sfDir))
    // run every session-tier builder (idempotent on a warm memo)
    Prewarm.sessionTier.foreach { case (_, b) => b(spark, sfDir) }
    val afterTier = dirKeys
    // 11 rank kernels + Markov π + OLS per-order features + conformal residuals
    assert(afterTier.size == 14,
      s"expected 14 distinct session-memo keys, got $afterTier")
    // every graded consumer: must add NO new key
    memoConsumers.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).count()
    }
    val afterConsumers = dirKeys
    assert(afterConsumers == afterTier,
      s"consumers installed memo keys the session tier misses: " +
        s"${afterConsumers -- afterTier}")
    // no dead entries: after the consumers alone ran in a fresh session,
    // that session owns every key, so a lookup with a probe value returns
    // the consumers' build (a key they never used would take the probe)
    val fresh = spark.newSession()
    memoConsumers.foreach { q =>
      SparkEntry.queries(q)(fresh, sfDir).count()
    }
    val unused = afterTier.filter { k =>
      val probe = new Object
      SessionMemo[Object](fresh, k)(probe) eq probe
    }
    assert(unused.isEmpty, s"session-tier keys no graded consumer uses: $unused")
  }

  /** r17 verdict item 3: every derived-FILES prewarm entry must carry an
    * invariance pin — either a from-scratch equality test in a RoundN
    * spec (`spec:<file>:<builderToken>`) or a graded DuckDB twin whose
    * SQL recomputes the consumer END TO END from the raw corpus
    * (`oracle:<queryKey>`), so a wrong derived file fails parity. The
    * registry below is the pin ledger; a new Prewarm.fileTier entry
    * without a ledger row (or a ledger row whose evidence vanished)
    * fails here instead of shipping unpinned.
    */
  private val invariancePins: Map[String, String] = Map(
    "minhash_sigs" -> "oracle:q_dedup_near_minhash",
    "jaccard_edges" -> "oracle:q_dedup_jaccard_blocked",
    // components additionally carries the r19 corpus-version REBUILD
    // proof (Round19Spec "corpus-version bump rebuilds ..."): a bumped
    // content key rebuilds the whole chain from scratch, value-identical
    "components" -> "oracle:q_dedup_components",
    "lpa_labels" -> "oracle:q_graph_label_prop",
    "degrees" -> "oracle:q_graph_pagerank",
    "oriented_edges" -> "spec:Round16Spec.scala:materializedOriented",
    "wedge_pairs" -> "spec:Round16Spec.scala:materializedWedgePairs",
    "neighbor_sigs" -> "spec:Round16Spec.scala:materializedNeighborSigs",
    "struct_equiv_pairs" -> "spec:Round17Spec.scala:materializedStructEquivPairs",
    "triangle_support" -> "spec:Round17Spec.scala:materializedTriangleSupport",
    "power_spectrum" -> "spec:Round17Spec.scala:materializedPowerSpectrum",
    "bipartite" -> "oracle:q_graph_hits",
    // the twin recomputes grid lumas from the pixel formula end-to-end
    "phashes" -> "oracle:q_multimodal_phash",
    "phash_clusters" -> "oracle:q_multimodal_phash_clusters",
    // both consumers' twins recompute the pair relation end-to-end from
    // raw lineitem (q_copurchase_topk additionally, same relation)
    "basket_pairs" -> "oracle:q_assoc_rules",
    // four consumers; the kmeans twin recomputes the unrolled Lloyd
    // rounds from the raw corpus
    "kmeans_cents" -> "oracle:q_embed_kmeans",
    // three consumers (landmarks/closeness/eff_diameter); the landmarks
    // twin recomputes the recursive 6-hop BFS from the raw corpus
    "landmark_dists" -> "oracle:q_graph_landmarks",
    // csv/jsonl/orc/xml/... layouts: each graded scan's oracle reads the
    // parquet ORIGINAL, so round-trip equality re-derives the layout
    "scan_layouts" -> "oracle:q_scan_csv")

  test("every Prewarm file-tier entry carries an invariance pin") {
    val names = Prewarm.fileTier.map(_._1).toSet
    assert(names == invariancePins.keySet,
      s"pin ledger out of sync with Prewarm.fileTier: " +
        s"unpinned=${names -- invariancePins.keySet} " +
        s"stale=${invariancePins.keySet -- names}")
    invariancePins.foreach { case (entry, evidence) =>
      evidence.split(":", 3) match {
        case Array("oracle", q) =>
          assert(SparkEntry.oracleSql.contains(q),
            s"$entry pins to oracle $q, which has no oracleSql entry")
        case Array("spec", file, token) =>
          val p = java.nio.file.Paths.get(s"src/test/scala/graft/$file")
          assert(java.nio.file.Files.exists(p), s"$entry pin file $file missing")
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          assert(src.contains(token),
            s"$entry pins to $file:$token but the token is gone")
        case other =>
          fail(s"$entry has malformed pin evidence: ${other.mkString(":")}")
      }
    }
  }

  test("prewarm_sec + value stays inside the 2x bench budget (if bench ran)") {
    val p = java.nio.file.Paths.get("BENCH_FULL.json")
    assume(java.nio.file.Files.exists(p), "no BENCH_FULL.json — bench not run yet")
    val line = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    def num(key: String): Option[Double] =
      (s""""$key":\\s*(-?[0-9.Ee+]+)""").r.findFirstMatchIn(line).map(_.group(1).toDouble)
    val prewarm = num("prewarm_sec").getOrElse(0.0)
    // anchor to the top-level metric record so a per-query "value" field
    // added later can never shadow the headline number (r15 ADVICE)
    val value = """"metric"\s*:\s*"[^"]*"\s*,\s*"value"\s*:\s*(-?[0-9.Ee+]+)""".r
      .findFirstMatchIn(line).map(_.group(1).toDouble)
      .getOrElse(fail("no top-level metric/value in BENCH_FULL.json"))
    val nQueries = """"q_[a-z0-9_]+":""".r.findAllIn(line).size
    // a partial/targeted bench artifact (e.g. a SPARK_GRAFT_ONLY judge
    // re-run) is a different shape, not a budget violation — cancel, don't
    // fail (r15 ADVICE)
    assume(nQueries > 100, s"partial bench artifact ($nQueries queries) — budget gate needs a full run")
    // BASELINE.md's derived engine budget: ~1.2 s/query leaves 2x margin
    // on the driver-held constant => 2.4 s/query is the hard gate the
    // COMBINED number must clear, so moving cost into prewarm can never
    // manufacture a pass.
    val combinedPerQuery = (prewarm + value) / nQueries
    assert(combinedPerQuery < 2.4,
      f"combined (prewarm $prewarm%.1f + timed $value%.1f) / $nQueries = " +
        f"$combinedPerQuery%.2f s/query breaches the 2x budget")
  }

  /** r16 ADVICE: the budget gate above CANCELS on a partial working-tree
    * artifact (the ad-hoc judge re-run case) — this test closes the hole
    * that leaves: the COMMITTED BENCH_FULL.json (HEAD, via git — not the
    * working tree) must be a FULL-run artifact, i.e. a non-empty prewarm
    * section (dev subsets skip prewarm) and a full-suite query count. An
    * accidentally-committed partial bench now fails loudly instead of
    * silently disarming the gate.
    */
  test("the COMMITTED BENCH_FULL.json is a full-run artifact") {
    val line =
      try {
        val p = new ProcessBuilder("git", "show", "HEAD:BENCH_FULL.json")
          .redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8")
        assume(p.waitFor() == 0 && out.nonEmpty,
          "no committed BENCH_FULL.json at HEAD (or no git) — nothing to audit")
        out
      } catch { case _: java.io.IOException =>
        cancel("git unavailable — committed-artifact audit skipped")
      }
    val nQueries = """"q_[a-z0-9_]+":""".r.findAllIn(line).size
    val prewarmEntries =
      """"prewarm":\{([^}]*)\}""".r.findFirstMatchIn(line).map(_.group(1))
    assert(prewarmEntries.exists(_.trim.nonEmpty),
      "committed BENCH_FULL.json has an empty prewarm section — that is a " +
        "dev-subset artifact, not a full run; re-run the full bench before committing")
    assert(nQueries >= 400,
      s"committed BENCH_FULL.json carries only $nQueries queries — partial " +
        "artifact committed; the budget gate would be silently disarmed")
  }
}
