package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** North-star similarity search over the embeddings table.
  *
  * Scale story: brute-force cosine top-k is the exactness baseline — the
  * probe side is tiny and broadcast, so the big side streams through one
  * scan with no shuffle of the corpus (rank is a per-probe window over
  * k·|probes| rows). The sign-random-projection LSH variant is the 100 TB
  * path: corpus bucketed by a 16-bit hyperplane signature (one scan),
  * probes search only their bucket — the candidate join is an equi-join on
  * the signature, trading recall for a ~2^16 search-space reduction.
  */
object SimilarityOps {

  /** Norms and dot products go through the native codegen'd
    * [[graft.functions.DotProductExpr]] kernel — bit-identical to the
    * aggregate/zip_with left fold (same op sequence) but a tight loop
    * instead of per-element interpreted lambdas.
    */
  private def vectors(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
  }


  /** #64 brute-force cosine top-5 for the 10 probe vectors (vec_id < 10):
    * the exact baseline every ANN variant is graded against.
    */
  def simCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val base = vectors(s, dir)
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"), col("norm").as("pnorm"))
    val cand = base.select(col("vec_id").as("cand_id"), col("embedding").as("cv"), col("norm").as("cnorm"))
    val scored = cand.join(broadcast(probes), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(expr("graft_dot(pv, cv)") / (col("pnorm") * col("cnorm")), 6).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(desc("cosine"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** #435 Radius (range) similarity search: ALL candidates within
    * cosine ≥ 0.25 of each probe — the "everything this similar"
    * retrieval semantics top-k (#64) can't express (a probe in a dense
    * near-dup cluster returns the whole cluster; an isolated probe
    * returns nothing — exactly the dedup-review contract). Per-probe
    * in-range count rides a probe-partitioned window. Same kernel and
    * scale shape as the exact top-k: probes broadcast, corpus streamed
    * once through the codegen'd [[graft.functions.DotProductExpr]];
    * at production scale the IVF/LSH candidate pass (#75) bolts in
    * front unchanged — range queries prune even better than top-k
    * there because the radius bounds which centroid cells can qualify.
    */
  def simRangeQuery(s: SparkSession, dir: String): DataFrame = {
    val base = vectors(s, dir)
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        col("norm").as("pnorm"))
    val cand = base.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("norm").as("cnorm"))
    cand.join(broadcast(probes), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(expr("graft_dot(pv, cv)") / (col("pnorm") * col("cnorm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= 0.25)
      .withColumn("n_in_range",
        count(lit(1)).over(Window.partitionBy("probe_id")))
      .orderBy(col("probe_id"), desc("cosine"), col("cand_id"))
  }

  /** Deterministic pseudo-random hyperplanes via splitmix64 — regenerated
    * identically on every run/executor. Multi-table LSH: NumTables
    * independent tables of PlanesPerTable planes each. More tables → more
    * recall (union of bucket matches), more candidates — THE knob. With
    * isotropic vectors (this corpus) and 4-bit tables, a true neighbor at
    * cosine θ collides with prob (1 − acos(θ)/π)^4 per table; 8 tables
    * lift recall from ~0.14 (single table) to ~0.6 while still scanning
    * only ~half the corpus per probe.
    */
  private val NumTables = 8
  private val PlanesPerTable = 4
  lazy val planes: Seq[Seq[Double]] = {
    def splitmix(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until NumTables * PlanesPerTable).map { p =>
      (0 until 64).map { i =>
        (math.floorMod(splitmix(p.toLong * 64 + i), 1000L).toDouble / 1000.0) - 0.5
      }
    }
  }

  /** Sign-random-projection multi-table LSH: each vector gets one bucket
    * id per table ((table, signature) pairs, exploded); probes search the
    * union of their buckets across tables. ORACLE-ABLE (promoted r11 from
    * rows-only): the plane constants are k/1000 − 0.5 for splitmix64-drawn
    * integers k, so the twin embeds the 32×64 INTEGER k-matrix as literals
    * (generated from the same [[graft.functions.Splitmix64]] the native
    * kernel uses — one source of truth) and derives the doubles with the
    * identical expression k/1000.0 − 0.5. The sign test has no rounding
    * escape, but it is not a knife edge: the minimum |dot| across every
    * (vector, plane) pair at sf0.1 is 6.2e-7 (measured) while cross-engine
    * summation-order drift is ~1e-16 — nine orders of magnitude of margin,
    * far safer than the 6dp-rounded float compares the gate already
    * accepts elsewhere.
    */
  def simLshBucketed(s: SparkSession, dir: String): DataFrame = {
    val base = vectors(s, dir)
    // all table signatures in ONE native kernel call (SignLshSigExpr —
    // same splitmix64 planes as the Column formulation, identical
    // buckets); bucket join carries only ids — vectors are attached
    // AFTER pair dedup so the 64-wide arrays never ride through the
    // exploded join
    val buckets = base
      .withColumn("sigs", expr(s"graft_sign_lsh(embedding, $NumTables, $PlanesPerTable)"))
      .select(col("vec_id"), posexplode(col("sigs")).as(Seq("tbl", "sig")))
      .select(col("vec_id"), struct(col("tbl"), col("sig")).as("bkt"))
    val probeBuckets = buckets.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("bkt"))
    val candPairs = buckets.select(col("vec_id").as("cand_id"), col("bkt"))
      .join(broadcast(probeBuckets), Seq("bkt"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id")
      .distinct() // a pair may collide in several tables
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"), col("norm").as("pnorm"))
    val scored = candPairs
      .join(base.select(col("vec_id").as("cand_id"), col("embedding").as("cv"), col("norm").as("cnorm")), Seq("cand_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        round(expr("graft_dot(pv, cv)") / (col("pnorm") * col("cnorm")), 6).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(desc("cosine"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** IVF (inverted-file) ANN — the second standard index shape next to
    * LSH: a FIXED number of coarse-quantizer centroids (C = 16, a build
    * parameter chosen offline ≈ √N — decoupled from corpus size, so the
    * assignment pass is O(N·C), linear in N, and the broadcast centroid
    * list stays bounded at any scale; a corpus-proportional centroid
    * rule would make the build quadratic and overflow the broadcast at
    * 100×). Centroids are a deterministic pseudo-random sample: vectors
    * ordered by md5(vec_id), top C via TakeOrderedAndProject. Each
    * vector is assigned to its nearest centroid (argmax cosine over the
    * broadcast list); probes search only their nprobe = 4 nearest
    * lists. Candidate volume ≈ nprobe/C of the corpus per probe; recall
    * floor pinned in QualitySpec. ORACLE-ABLE (promoted r11 from
    * rows-only): every stage is relational — md5-ordered centroid sample,
    * argmax assignment (struct-max ≡ row_number over cos DESC, cent_id
    * DESC), nprobe ranking, candidate join, rounded top-5. Cosine
    * comparisons inside the argmax/nprobe ranks are raw doubles, but the
    * gaps between DISTINCT centroid cosines dwarf cross-engine ulp drift
    * (same margin argument as the LSH sign test above).
    */
  private val IvfNprobe = 4
  private val IvfCentroids = 16

  /** The IVF build + probe-list ranking, shared between the graded #75
    * search (crank ≤ IvfNprobe) and the #414 nprobe sweep (which keeps
    * crank up to its largest candidate value and attributes each
    * candidate to the smallest crank that reaches it). Returns (base,
    * centroid-ranked probe lists carrying `crank`, assignment).
    */
  private[graft] def ivfParts(s: SparkSession, dir: String, maxRank: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = vectors(s, dir)
    val cents = base
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"), col("norm").as("cnorm"))
    // build: nearest-centroid assignment; struct-max tie-break keeps the
    // argmax deterministic under any partitioning
    val scored = base.select(col("vec_id"), col("embedding"), col("norm"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct((expr("graft_dot(embedding, centv)") / (col("norm") * col("cnorm"))).as("cos"),
          col("cent_id")).as("sc"))
    val assign = scored.groupBy("vec_id").agg(max(col("sc")).getField("cent_id").as("cent_id"))
    // probes: ranked centroid lists
    val pw = Window.partitionBy("probe_id").orderBy(desc("pcos"), asc("cent_id"))
    val probeLists = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"), col("norm").as("pnorm"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"),
        (expr("graft_dot(pv, centv)") / (col("pnorm") * col("cnorm"))).as("pcos"),
        col("cent_id"))
      .withColumn("crank", row_number().over(pw))
      .filter(col("crank") <= maxRank)
    (base, probeLists, assign)
  }

  def simIvfBucketed(s: SparkSession, dir: String): DataFrame = {
    val (base, probeLists0, assign) = ivfParts(s, dir, IvfNprobe)
    val probeLists = probeLists0.select("probe_id", "cent_id")
    // search: candidates = members of the probed lists only
    val candidates = probeLists.join(assign, Seq("cent_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"))
      .filter(col("probe_id") =!= col("cand_id"))
      .distinct()
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"), col("norm").as("pnorm"))
    val w = Window.partitionBy("probe_id").orderBy(desc("cosine"), asc("cand_id"))
    candidates
      .join(base.select(col("vec_id").as("cand_id"), col("embedding").as("cv"), col("norm").as("cnorm")), Seq("cand_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        round(expr("graft_dot(pv, cv)") / (col("pnorm") * col("cnorm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("probe_id", "rank")
  }

  /** #246 Hard-negative mining — the contrastive-training sibling of
    * q_sim_cosine_topk (which q_negative_pairs does NOT cover: that draws
    * UNIFORM negatives; hard negatives are the top-scoring wrong-label
    * ones): for each probe, the 3 highest-cosine candidates whose label
    * DIFFERS from the probe's. Same exact-anchor discipline as the other
    * similarity queries — probes broadcast, corpus streams through one
    * scan, per-probe window over a bounded candidate set.
    *
    * 100 TB: the probe side is the (small) batch being mined for; the
    * label-mismatch predicate rides the broadcast join so wrong-label
    * filtering happens before any shuffle. Full-corpus mining at scale
    * swaps the scored scan for the LSH/IVF candidate join (same tail).
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val base = vectors(s, dir)
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("embedding").as("pv"), col("norm").as("pnorm"))
    val cand = base.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
      col("embedding").as("cv"), col("norm").as("cnorm"))
    val scored = cand.join(broadcast(probes), col("probe_label") =!= col("cand_label"))
      .select(col("probe_id"), col("probe_label"), col("cand_id"), col("cand_label"),
        round(expr("graft_dot(pv, cv)") / (col("pnorm") * col("cnorm")), 6).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(desc("cosine"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("probe_id", "rank")
  }

  /** #247 kNN label-noise detection: for each anchor (every 10th vector —
    * the deterministic audit sample), the share of its 5 exact nearest
    * neighbors that carry the SAME label; per-label report of mean
    * consistency and the count of flagged anchors (≤1 of 5 neighbors
    * agree — likely mislabeled). The standard data-quality sweep run
    * before training on labeled embeddings.
    *
    * Determinism: the mean is computed as ONE integer-ratio division
    * (Σ n_same / (5·n_anchors)) rather than avg() over per-anchor
    * doubles — summation order can perturb the last ulp of a double
    * avg across engines, an integer sum cannot.
    *
    * 100 TB: anchored-sample audit (anchors broadcast, corpus streamed)
    * is the scalable shape; full-corpus neighbor graphs go through the
    * LSH candidate join instead of exact all-pairs.
    */
  def knnLabelNoise(s: SparkSession, dir: String): DataFrame = {
    val base = vectors(s, dir)
    val anchors = base.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("pv"), col("norm").as("pnorm"))
    val cand = base.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
      col("embedding").as("cv"), col("norm").as("cnorm"))
    val scored = cand.join(broadcast(anchors), col("anchor_id") =!= col("cand_id"))
      .select(col("anchor_id"), col("anchor_label"), col("cand_id"), col("cand_label"),
        round(expr("graft_dot(pv, cv)") / (col("pnorm") * col("cnorm")), 6).as("cosine"))
    val w = Window.partitionBy("anchor_id").orderBy(desc("cosine"), asc("cand_id"))
    val perAnchor = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .groupBy("anchor_id", "anchor_label")
      .agg(sum(when(col("cand_label") === col("anchor_label"), 1).otherwise(0)).as("n_same"))
    perAnchor.groupBy(col("anchor_label").as("label"))
      .agg(count(lit(1)).as("n_anchors"),
        round(sum(col("n_same")).cast("double") / (lit(5.0) * count(lit(1))), 6)
          .as("mean_consistency"),
        sum(when(col("n_same") <= 1, 1).otherwise(0)).as("n_flagged"))
      .orderBy("label")
  }

  /** #65 multimodal join: text metadata ⋈ vectors on aligned ids with a
    * combined relational + vector-norm predicate.
    */
  def multimodalJoin(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("lang") === "en")
      .join(vectors(s, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("label"), round(col("norm"), 6).as("l2_norm"))
      .filter(col("l2_norm") > 0.5)
      .orderBy("doc_id")

  /** #66 L2 normalization: unit-norm vectors (elements rounded to 4 dp for
    * the cross-engine compare) + a checksum that the post-norm L2 is 1.
    * The vector rides as a comma-joined string of decimal(7,4) elements:
    * the driver cannot hash ndarray cells, and decimal formatting is the
    * only double→string path both engines render identically (doubles'
    * shortest-repr diverges: Spark "1.0E-4" vs DuckDB "0.0001").
    */
  def embedNormalize(s: SparkSession, dir: String): DataFrame =
    vectors(s, dir)
      .select(col("vec_id"),
        round(col("norm"), 6).as("l2_norm"),
        array_join(transform(col("v"),
          x => round(x / col("norm"), 4).cast("decimal(7,4)").cast("string")), ",").as("unit_vec"),
        round(aggregate(transform(col("v"), x => (x / col("norm")) * (x / col("norm"))),
          lit(0.0), _ + _), 4).as("unit_norm_sq"))
      .orderBy("vec_id")

  /** int8 embedding quantization — the 4× memory/IO cut that makes
    * billion-vector ANN fit a cluster: per-vector absmax scale,
    * q = floor(x·127/absmax + 0.5) (floor form, NOT round() — the two
    * engines' round() tie rules differ; floor(x+0.5) is bit-identical),
    * plus reconstruction-error metrics. Pure per-row math, no shuffle.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    // every metric is a closed-form per-element expression over v alone —
    // no intermediate q array shared between folds (two HOF folds
    // consuming one lambda-built array tripped an optimizer interaction
    // that perturbed the last ulp of the fold result), and the error is
    // reported in integer MICRO-units via floor: floor of bit-identical
    // doubles is tie-rule-free, unlike round()/decimal casts whose
    // midpoint handling differs between engines.
    def qOf(x: Column, a: Column): Column = floor(x * lit(127.0) / a + 0.5)
    val base = Tables.embeddings(s, dir)
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("absmax",
        greatest(aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))), lit(1e-12)))
    base.select(col("vec_id"),
      col("absmax"),
      size(col("v")).as("n_dims"),
      // saturation via the closed-form threshold (|x|·127/a ≥ 126.5 ⇔ q = ±127)
      aggregate(col("v"), lit(0), (acc, x) =>
        acc + when(abs(x) * 127.0 / col("absmax") >= 126.5, 1).otherwise(0)).as("n_saturated"),
      floor(aggregate(
        transform(col("v"), x =>
          abs(x - qOf(x, col("absmax")) * col("absmax") / 127.0)),
        lit(0.0), (acc, e) => greatest(acc, e)) * 1e6).as("max_err_micro"))
      // round AFTER the aggregates, in a separate projection: aliasing
      // round(absmax) AS absmax inside the SAME select rebinds the sibling
      // lambdas' absmax references onto the ROUNDED value in the optimized
      // plan (same-name alias + CollapseProject) — the errors then silently
      // use 6-dp absmax and diverge from the oracle in the last µ-unit
      .withColumn("absmax", round(col("absmax"), 6))
      .orderBy("vec_id")
  }

  /** #282 MMR diversified retrieval (Carbonell & Goldstein, SIGIR 1998):
    * for each probe, greedily select 5 of its top-20 candidates
    * maximizing relevance MINUS similarity to what's already selected —
    * the de-duplicating re-rank every RAG/retrieval stack applies after
    * plain top-k (q_sim_cosine_topk happily returns 5 near-copies; this
    * returns 5 that COVER).
    *
    * Exactness contract: inner-product (MIPS) space over the
    * integer-micro quantized vectors — every relevance and pairwise
    * score is an exact int64 dot (|q|≤1e6, 64 dims ⇒ products < 2^53
    * through the codegen'd double kernel), and λ = ½ is cleared to
    * score2 = 2·rel − max_sim so the greedy argmax compares only
    * integers (ties → smallest cand_id). No floating knife edges
    * anywhere; the cosine-normalized variant differs only by an isqrt
    * scaling (documented, not graded).
    *
    * Scale: the ONLY corpus-sized work is the broadcast-probe relevance
    * scan + per-probe top-20 window (the q_sim_cosine_topk shape); the
    * greedy then runs on the COLLECTED candidate set — bounded by
    * probes·k (≤200 rows) whatever the corpus size, the same
    * domain-bounded-collect class as the Markov matrix. (r21: the
    * previous 5 unrolled dataflow rounds + their localCheckpoints paid
    * ~8 scheduler round-trips and a 380-pair distributed dot table to
    * move ≤200 rows; SearchClusterSpec's driver-greedy replay pin is
    * the arithmetic this loop now IS.) Dot products stay exact in the
    * driver: |q|≤1e6 over 64 dims keeps every partial sum < 2^53, so
    * the double accumulation is order-independent and equals the
    * graft_dot kernel bit-for-bit.
    */
  def embedMmr(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("long").cast("double")).as("qd"))
    val probes = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("qd").as("pqd"))
    val rel20 = vecs.join(broadcast(probes), col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        expr("cast(graft_dot(pqd, qd) as long)").as("rel"), col("qd"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("rel"), asc("cand_id"))))
      .filter(col("rk") <= 20)
      .select("probe_id", "cand_id", "rel", "qd")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Double](3).toArray))
    def dotL(a: Array[Double], b: Array[Double]): Long = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc.toLong
    }
    val out = rel20.groupBy(_._1).toSeq.flatMap { case (probe, cs) =>
      val cands = cs.map(c => (c._2, c._3, c._4)) // (cand_id, rel, qd)
      var selected = Vector.empty[(Long, Array[Double])]
      var rows = Vector.empty[(Long, Int, Long, Long, Long)]
      var rank = 1
      while (rank <= 5) {
        val remaining = cands.filter(c => !selected.exists(_._1 == c._1))
        if (remaining.nonEmpty) {
          // score2 = 2·rel − max_sim (0 subtracted on the first pick);
          // argmax ties break to the smallest cand_id, exactly the
          // row_number(desc score2, asc cand_id) == 1 pick
          val (cId, rel, qd, s2) = remaining.map { case (c, r, q) =>
            val maxSim =
              if (selected.isEmpty) 0L
              else selected.map(sel => dotL(q, sel._2)).max
            (c, r, q, 2 * r - (if (selected.isEmpty) 0L else maxSim))
          }.minBy { case (c, _, _, s2) => (-s2, c) }
          selected :+= ((cId, qd))
          rows :+= ((probe, rank, cId, rel, s2))
        }
        rank += 1
      }
      rows
    }
    import s.implicits._
    out.toDF("probe_id", "rank", "cand_id", "rel_dot", "score2")
      .orderBy("probe_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_mmr" -> (embedMmr _),
    "q_embed_quantize" -> (embedQuantize _),
    "q_sim_cosine_topk" -> (simCosineTopk _),
    "q_sim_range_query" -> (simRangeQuery _),
    "q_hard_negatives" -> (hardNegatives _),
    "q_knn_label_noise" -> (knnLabelNoise _),
    "q_sim_lsh_bucketed" -> (simLshBucketed _),
    "q_sim_ivf_bucketed" -> (simIvfBucketed _),
    "q_multimodal_join" -> (multimodalJoin _),
    "q_embed_normalize" -> (embedNormalize _))

  /** The LSH twin's plane literals: table of (plane index, 64 splitmix
    * integers) VALUES rows — the SAME draws `SignLshSigExpr.planeCoord`
    * makes, so operator and oracle cannot desynchronize.
    */
  private def lshPlaneValues: String =
    (0 until NumTables * PlanesPerTable).map { p =>
      val ks = (0 until 64).map(i =>
        java.lang.Math.floorMod(graft.functions.Splitmix64(p.toLong * 64 + i), 1000L))
      s"($p, [${ks.mkString(",")}])"
    }.mkString(",\n")

  private def lshOracleSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |planes(p, ks) AS (VALUES
       |$lshPlaneValues),
       |sig AS (
       |  SELECT vec_id, p // ${PlanesPerTable} AS tbl,
       |    SUM(CASE WHEN list_dot_product(v,
       |          list_transform(ks, k -> CAST(k AS DOUBLE) / 1000.0 - 0.5)) >= 0
       |        THEN 1 << (p % ${PlanesPerTable}) ELSE 0 END) AS sig
       |  FROM v CROSS JOIN planes
       |  GROUP BY vec_id, p // ${PlanesPerTable}),
       |pairs AS (
       |  SELECT DISTINCT pr.vec_id AS probe_id, c.vec_id AS cand_id
       |  FROM sig pr JOIN sig c ON pr.tbl = c.tbl AND pr.sig = c.sig
       |  WHERE pr.vec_id < 10 AND c.vec_id <> pr.vec_id),
       |scored AS (
       |  SELECT probe_id, cand_id,
       |    round(list_cosine_similarity(pv.v, cv.v), 6) AS cosine
       |  FROM pairs
       |  JOIN v pv ON pv.vec_id = probe_id
       |  JOIN v cv ON cv.vec_id = cand_id)
       |SELECT probe_id, cand_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
       |FROM scored QUALIFY rank <= 5
       |ORDER BY probe_id, rank""".stripMargin

  private def ivfOracleSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM v
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${IvfCentroids}),
       |assign AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT a.vec_id, c.cent_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cent_id DESC) AS rn
       |    FROM v a CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probe_lists AS (
       |  SELECT probe_id, cent_id FROM (
       |    SELECT p.vec_id AS probe_id, c.cent_id,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY list_cosine_similarity(p.v, c.cv) DESC, c.cent_id ASC) AS crank
       |    FROM v p CROSS JOIN cents c WHERE p.vec_id < 10)
       |  WHERE crank <= ${IvfNprobe}),
       |pairs AS (
       |  SELECT DISTINCT pl.probe_id, a.vec_id AS cand_id
       |  FROM probe_lists pl JOIN assign a ON pl.cent_id = a.cent_id
       |  WHERE a.vec_id <> pl.probe_id),
       |scored AS (
       |  SELECT probe_id, cand_id,
       |    round(list_cosine_similarity(pv.v, cv.v), 6) AS cosine
       |  FROM pairs
       |  JOIN v pv ON pv.vec_id = probe_id
       |  JOIN v cv ON cv.vec_id = cand_id)
       |SELECT probe_id, cand_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, cand_id ASC) AS INTEGER) AS rank
       |FROM scored QUALIFY rank <= 5
       |ORDER BY probe_id, rank""".stripMargin

  /** MMR twin: the 5 greedy rounds unrolled as CTEs — round k scores
    * every unselected top-20 candidate as 2·rel − max sim to the
    * selected set so far, picks the row_number()=1 argmax (ties →
    * smallest cand_id), exactly the operator's integer arithmetic.
    */
  private def mmrOracleSql: String = {
    val rounds = (2 to 5).map { k =>
      s"""s$k AS (
         |  SELECT probe_id, cand_id, rel, score2, $k AS rank FROM (
         |    SELECT r.probe_id, r.cand_id, r.rel,
         |      2 * r.rel - MAX(pp.sim) AS score2
         |    FROM rel r
         |    JOIN sel${k - 1} s ON s.probe_id = r.probe_id
         |    JOIN pp ON pp.probe_id = r.probe_id AND pp.a = r.cand_id
         |      AND pp.b = s.cand_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} t
         |      WHERE t.probe_id = r.probe_id AND t.cand_id = r.cand_id)
         |    GROUP BY r.probe_id, r.cand_id, r.rel)
         |  QUALIFY row_number() OVER (PARTITION BY probe_id
         |    ORDER BY score2 DESC, cand_id) = 1),
         |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM s$k),""".stripMargin
    }.mkString("\n")
    s"""WITH vd AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS DOUBLE)) AS qd
       |  FROM embeddings),
       |rel AS (
       |  SELECT probe_id, cand_id, rel FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      CAST(list_dot_product(p.qd, c.qd) AS BIGINT) AS rel
       |    FROM vd p JOIN vd c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id < 10)
       |  QUALIFY row_number() OVER (PARTITION BY probe_id
       |    ORDER BY rel DESC, cand_id) <= 20),
       |pp AS (
       |  SELECT r1.probe_id, r1.cand_id AS a, r2.cand_id AS b,
       |    CAST(list_dot_product(v1.qd, v2.qd) AS BIGINT) AS sim
       |  FROM rel r1
       |  JOIN rel r2 ON r1.probe_id = r2.probe_id AND r1.cand_id <> r2.cand_id
       |  JOIN vd v1 ON v1.vec_id = r1.cand_id
       |  JOIN vd v2 ON v2.vec_id = r2.cand_id),
       |sel1 AS (
       |  SELECT probe_id, cand_id, rel, 2 * rel AS score2, 1 AS rank FROM rel
       |  QUALIFY row_number() OVER (PARTITION BY probe_id
       |    ORDER BY 2 * rel DESC, cand_id) = 1),
       |$rounds
       |fin AS (SELECT * FROM sel5)
       |SELECT probe_id, CAST(rank AS INTEGER) AS rank, cand_id,
       |  rel AS rel_dot, CAST(score2 AS BIGINT) AS score2
       |FROM fin ORDER BY probe_id, rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_embed_mmr" -> mmrOracleSql,
    "q_sim_lsh_bucketed" -> lshOracleSql,
    "q_sim_ivf_bucketed" -> ivfOracleSql,
    "q_embed_quantize" ->
      """WITH b AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-12) AS absmax
        |  FROM b)
        |SELECT vec_id, round(absmax, 6) AS absmax,
        |  CAST(len(v) AS INTEGER) AS n_dims,
        |  CAST(len(list_filter(v, x -> abs(x) * 127.0 / absmax >= 126.5)) AS INTEGER) AS n_saturated,
        |  CAST(floor(list_aggregate(
        |    list_transform(v, x -> abs(x - floor(x * 127.0 / absmax + 0.5) * absmax / 127.0)),
        |    'max') * 1e6) AS BIGINT) AS max_err_micro
        |FROM m ORDER BY vec_id""".stripMargin,
    "q_hard_negatives" ->
      """WITH base AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT p.vec_id AS probe_id, p.label AS probe_label,
        |  c.vec_id AS cand_id, c.label AS cand_label,
        |  round(list_cosine_similarity(p.v, c.v), 6) AS cosine,
        |  CAST(row_number() OVER (PARTITION BY p.vec_id
        |    ORDER BY round(list_cosine_similarity(p.v, c.v), 6) DESC, c.vec_id ASC) AS INTEGER) AS rank
        |FROM base p JOIN base c ON p.vec_id < 10 AND p.label <> c.label
        |QUALIFY rank <= 3
        |ORDER BY probe_id, rank""".stripMargin,
    "q_knn_label_noise" ->
      """WITH base AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nn AS (
        |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label, c.label AS cand_label,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY round(list_cosine_similarity(a.v, c.v), 6) DESC, c.vec_id ASC) AS rank
        |  FROM base a JOIN base c ON a.vec_id % 10 = 0 AND a.vec_id <> c.vec_id
        |  QUALIFY rank <= 5),
        |per AS (
        |  SELECT anchor_id, anchor_label,
        |    SUM(CASE WHEN cand_label = anchor_label THEN 1 ELSE 0 END) AS n_same
        |  FROM nn GROUP BY anchor_id, anchor_label)
        |SELECT anchor_label AS label,
        |  CAST(COUNT(*) AS BIGINT) AS n_anchors,
        |  round(CAST(SUM(n_same) AS DOUBLE) / (5.0 * COUNT(*)), 6) AS mean_consistency,
        |  CAST(SUM(CASE WHEN n_same <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM per GROUP BY anchor_label ORDER BY label""".stripMargin,
    "q_sim_range_query" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |hits AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    round(list_cosine_similarity(p.v, c.v), 6) AS cosine
        |  FROM base p JOIN base c ON p.vec_id < 10 AND p.vec_id <> c.vec_id
        |  WHERE round(list_cosine_similarity(p.v, c.v), 6) >= 0.25)
        |SELECT probe_id, cand_id, cosine,
        |  COUNT(*) OVER (PARTITION BY probe_id) AS n_in_range
        |FROM hits ORDER BY probe_id, cosine DESC, cand_id""".stripMargin,
    "q_sim_cosine_topk" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |  round(list_cosine_similarity(p.v, c.v), 6) AS cosine,
        |  CAST(row_number() OVER (PARTITION BY p.vec_id
        |    ORDER BY round(list_cosine_similarity(p.v, c.v), 6) DESC, c.vec_id ASC) AS INTEGER) AS rank
        |FROM base p JOIN base c ON p.vec_id < 10 AND p.vec_id <> c.vec_id
        |QUALIFY rank <= 5
        |ORDER BY probe_id, rank""".stripMargin,
    "q_multimodal_join" ->
      """SELECT doc_id, lang, source, n_chars, label,
        |  round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |WHERE lang = 'en'
        |  AND round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) > 0.5
        |ORDER BY doc_id""".stripMargin,
    "q_embed_normalize" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
        |  FROM embeddings)
        |SELECT vec_id, round(norm, 6) AS l2_norm,
        |  array_to_string(list_transform(v,
        |    x -> CAST(CAST(round(x / norm, 4) AS DECIMAL(7,4)) AS VARCHAR)), ',') AS unit_vec,
        |  round(list_aggregate(list_transform(v, x -> (x / norm) * (x / norm)), 'sum'), 4) AS unit_norm_sq
        |FROM base ORDER BY vec_id""".stripMargin)
}
