package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-18 pins for this round's hardening changes:
  *
  *  1. the fixed-size anchor draws (embedHubness 64 global, TwoNN 128
  *     per label) — exact driver replays of the md5 hash-order draw,
  *     plus a synthetic >128 block proving the TwoNN cap ENGAGES;
  *  2. the zero-variance NULL contracts added to Welch ANOVA,
  *     Jonckheere-Terpstra and the length-lognormality screen
  *     (constant-data fixtures must yield NULL readouts, never the
  *     non-ANSI NaN→0 cast the r17 ADVICE flagged).
  */
class Round18Spec extends AnyFunSuite with SparkFixture {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---- 1. fixed-size anchor draws ------------------------------------

  test("embedHubness matches an exact 64-anchor driver replay at sf0.001") {
    val vecs = Tables.embeddings(spark, sfDir).collect()
      .map { r =>
        (r.getLong(0),
          r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong))
      }
    assert(vecs.length > 64, "draw must be a strict subset at sf0.001")
    val anchors = vecs.map(_._1)
      .sortBy(id => (md5hex(s"hub:$id"), id)).take(64)
    val hits = scala.collection.mutable.Map.empty[Long, Long]
    anchors.foreach { aid =>
      val aq = vecs.find(_._1 == aid).get._2
      vecs.filter(_._1 != aid)
        .map { case (id, q) =>
          (q.zip(aq).map { case (a, b) => (a - b) * (a - b) }.sum, id)
        }
        .sorted.take(5)
        .foreach { case (_, id) => hits(id) = hits.getOrElse(id, 0L) + 1L }
    }
    val expect = hits.toSeq.sortBy { case (id, n) => (-n, id) }.take(15)
    val got = operators.ClusterOps.embedHubness(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expect)
  }

  test("TwoNN anchors every point when a label block is under the cap") {
    // sf0.001 blocks are all < 128, so n_pts must equal the full block
    // minus the d1=0 duplicate exclusions — i.e. the r17 unanchored
    // semantics exactly (the PassAtKSpec replay pins the values; here
    // we pin the CARDINALITY so a draw bug can't hide in the sum)
    val blocks = Tables.embeddings(spark, sfDir)
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(blocks.values.forall(_ < 128))
    val got = operators.SeriesOps.embedIntrinsicDim(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the fixture has no exact-duplicate vectors, so no exclusions
    assert(got === blocks.map { case (k, v) => k -> v })
  }

  test("TwoNN 128-anchor cap engages on a >128 label block (synthetic)") {
    import spark.implicits._
    // 150 distinct points in label 0, 20 in label 1 — distinct 4-dim
    // integer lattice vectors so no d1=0 exclusions fire
    val vecs = ((0 until 150).map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i * (d + 2) + d) % 193).toFloat), 0)
    } ++ (0 until 20).map { i =>
      (1000L + i, Array.tabulate(4)(d => ((i * (d + 3) + 7 * d) % 53).toFloat), 1)
    }).toDF("vec_id", "embedding", "label")
    withTempFixture("graft_twonn_cap") { tmp =>
      vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val rows = operators.SeriesOps.embedIntrinsicDim(spark, tmp).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val byLabel = rows.map(t => t._1 -> t).toMap
      assert(byLabel(0)._2 === 128L, "big block must anchor exactly 128 points")
      assert(byLabel(1)._2 === 20L, "small block anchors every point")
      // exact replay of the capped estimator for the big block
      val pts = (0 until 150).map { i =>
        (i.toLong,
          Array.tabulate(4)(d => math.floor(
            ((i * (d + 2) + d) % 193).toFloat.toDouble * 1e6).toLong))
      }
      val anchorIds = pts.map(_._1)
        .sortBy(id => (md5hex(s"twonn:$id"), id)).take(128).toSet
      val terms = pts.filter(p => anchorIds(p._1)).map { case (id, u) =>
        val ds = pts.filter(_._1 != id).map { case (oid, v) =>
          (u.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, oid)
        }.sorted
        assert(ds.head._1 > 0L, "fixture must have no duplicate points")
        math.floor(math.log(ds(1)._1.toDouble) * 1e9).toLong -
          math.floor(math.log(ds.head._1.toDouble) * 1e9).toLong
      }
      assert(byLabel(0)._3 === terms.sum)
      assert(byLabel(0)._4 === 128L * 2000000000000L / terms.sum)
    }
  }

  // ---- 2. zero-variance NULL contracts --------------------------------

  test("Welch ANOVA yields NULL readouts on zero-variance groups") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    // constant quantity inside every flag group -> every s²_j = 0
    val li = Seq(
      (1L, 5.0, "A", ts), (2L, 5.0, "A", ts),
      (3L, 7.0, "N", ts), (4L, 7.0, "N", ts),
      (5L, 9.0, "R", ts), (6L, 9.0, "R", ts))
      .toDF("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    withTempFixture("graft_welch_zv") { tmp =>
      li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val r = operators.NonparamOps.welchAnova(spark, tmp).collect()
      assert(r.length === 1)
      assert(r(0).isNullAt(r(0).fieldIndex("f_milli")))
      assert(r(0).isNullAt(r(0).fieldIndex("df2_milli")))
      assert(r(0).isNullAt(r(0).fieldIndex("variance_unequal_means_differ_05")))
    }
  }

  test("Jonckheere yields a NULL z on all-tied data") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    val orders = Seq((1L, "1-URGENT", ts), (2L, "2-HIGH", ts))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
    // every quantity identical -> tie-corrected null variance is 0
    val li = Seq((1L, 5.0), (1L, 5.0), (2L, 5.0), (2L, 5.0))
      .toDF("l_orderkey", "l_quantity")
    withTempFixture("graft_jt_zv") { tmp =>
      orders.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val r = operators.NonparamOps.jonckheere(spark, tmp).collect()
      assert(r.length === 1)
      assert(r(0).isNullAt(r(0).fieldIndex("z_milli")))
      assert(r(0).isNullAt(r(0).fieldIndex("trend_significant_05")))
    }
  }

  test("lognormality screen yields NULL moments on constant-length sources") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaa", "en", "const", 300L), (2L, "bbb", "en", "const", 300L),
      (3L, "ccc", "en", "varied", 100L), (4L, "dddd", "en", "varied", 900L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempFixture("graft_lognorm_zv") { tmp =>
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rows = operators.CorpusOps.textLengthLognormality(spark, tmp)
        .collect().map(r => r.getString(0) -> r).toMap
      val c = rows("const")
      assert(c.isNullAt(c.fieldIndex("skew_micro")))
      assert(c.isNullAt(c.fieldIndex("kurt_micro")))
      assert(c.isNullAt(c.fieldIndex("jb_milli")))
      assert(c.isNullAt(c.fieldIndex("lognormal_rejected_05")))
      assert(!c.isNullAt(c.fieldIndex("mean_ln_micro")),
        "the mean stays defined on constant data")
      val v = rows("varied")
      assert(!v.isNullAt(v.fieldIndex("jb_milli")),
        "non-degenerate sources keep their readouts")
    }
  }

  // ---- 2b. r18 new-operator exact driver replays -----------------------

  /** Daily revenue in exact integer cents, sorted by ISO day — the
    * Round17Spec replay carrier, reused for ARCH LM / Lomb-Scargle.
    */
  private lazy val dailyDays: Seq[(String, BigInt)] = Tables.orders(spark, sfDir)
    .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
    .collect()
    .map { r =>
      val cents = new java.math.BigDecimal(
          java.lang.Double.toString(r.getAs[Number](1).doubleValue))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).toBigIntegerExact()
      (r.getDate(0).toString, BigInt(cents))
    }
    .groupBy(_._1).toSeq.sortBy(_._1)
    .map { case (d, xs) => (d, xs.map(_._2).sum) }

  private lazy val prioCells: Map[(Long, Long), Long] = {
    val pri = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority")).collect()
      .map(r => r.getLong(0) -> r.getString(1).substring(0, 1).toLong).toMap
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity")).collect()
      .map(r => (pri(r.getLong(0)), r.getDouble(1).toLong))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
  }

  test("Somers' D matches an exact driver replay") {
    var (nc, nd, ty) = (BigInt(0), BigInt(0), BigInt(0))
    for (((sga, qa), ca) <- prioCells; ((sgb, qb), cb) <- prioCells
         if sga < sgb) {
      val w = BigInt(ca) * cb
      if (qa < qb) nc += w else if (qa > qb) nd += w else ty += w
    }
    val r = operators.NonparamOps.somersD(spark, sfDir).collect()
    assert(r.length === 1)
    assert(BigInt(r(0).getLong(0)) === nc)
    assert(BigInt(r(0).getLong(1)) === nd)
    assert(BigInt(r(0).getLong(2)) === ty)
    assert(BigInt(r(0).getLong(3)) === (nc - nd) * 1000000 / (nc + nd + ty))
    assert(BigInt(r(0).getLong(4)) === (nc - nd) * 1000000 / (nc + nd))
  }

  test("ARCH LM matches an exact driver replay (shared libm)") {
    val lnv = dailyDays.map(_._2).filter(_ > 0)
      .map(v => BigInt(math.floor(math.log(v.toDouble) * 1e9).toLong))
    val rr = lnv.zip(lnv.tail).map { case (a, b) => b - a }
    val y = rr.map(r => (r * r) / 1000000)
    val xy = y.zip(y.tail) // (x = lagged, y = current)
    val m = xy.length
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val cnum = m * sxy - sx * sy
    val vx = m * sxx - sx * sx; val vy = m * syy - sy * sy
    val lm = math.floor(cnum.toDouble * cnum.toDouble /
      (vx.toDouble * vy.toDouble) * m * 1000).toLong
    val r = operators.NonparamOps.tsArchLm(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === m.toLong, "n_pairs")
    assert(r(0).getLong(1) === lm, "lm_milli")
    assert(r(0).getBoolean(2) === (lm > 3841L))
  }

  test("vocab richness matches an exact driver replay (shared libm)") {
    val bySource = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
      .groupBy(_._1)
    val expect = bySource.map { case (src, toks) =>
      val freq = toks.map(_._2).groupBy(identity).map(_._2.length)
      val n = BigInt(toks.length); val v = BigInt(freq.size)
      val v1 = BigInt(freq.count(_ == 1)); val v2 = BigInt(freq.count(_ == 2))
      val lnN = BigInt(math.floor(math.log(n.toDouble) * 1e9).toLong)
      val honore = if (v > v1) Some((100 * lnN * v / ((v - v1) * 1000000)).toLong)
        else None
      src -> (n.toLong, v.toLong, v1.toLong, v2.toLong, honore,
        (v2 * 1000000 / v).toLong)
    }
    operators.CorpusOps.textVocabRichness(spark, sfDir).collect().foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
        ((e._1, e._2, e._3, e._4)), r.getString(0))
      assert((if (r.isNullAt(5)) None else Some(r.getLong(5))) === e._5)
      assert(r.getLong(6) === e._6)
    }
  }

  test("effective rank matches an exact driver replay") {
    val vecs = Tables.embeddings(spark, sfDir).collect()
      .map(_.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong))
    val dim = vecs.head.length
    val n = BigInt(vecs.length)
    val sd = Array.tabulate(dim)(d => BigInt(vecs.map(_(d)).sum))
    var tr = BigInt(0); var fro = BigInt(0)
    for (a <- 0 until dim; b <- 0 until dim) {
      val sxy = vecs.map(v => BigInt(v(a)) * v(b)).sum
      val g = (n * sxy - sd(a) * sd(b)) / 1000000
      if (a == b) tr += g
      fro += g * g
    }
    val pr = math.floor(tr.toDouble * tr.toDouble / fro.toDouble * 1000).toLong
    val r = operators.ClusterOps.embedEffRank(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === dim.toLong)
    assert(r(0).getLong(1) === pr)
    assert(r(0).getLong(2) === pr * 1000 / dim)
  }

  test("knn(k) curve matches an exact replay over the derived edge list") {
    val edges = operators.DedupOps.materializedEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges ++ edges.map(e => (e._2, e._1))
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val byK = sym.groupBy(e => deg(e._1))
    val expect = byK.map { case (k, ends) =>
      val skb = ends.map(e => BigInt(deg(e._2))).sum
      k -> (deg.values.count(_ == k).toLong, (skb * 1000000 / ends.length).toLong)
    }
    val got = operators.GraphOps.graphKnnCurve(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expect)
  }

  test("dedup length profile matches an exact replay over canonical keeps") {
    val kept = operators.PipelineOps.dedupCanonical(spark, sfDir)
      .select(col("doc_id"), col("is_kept")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0)
    val expect = docs.groupBy(d => (64 - java.lang.Long.numberOfLeadingZeros(d._2)).toLong)
      .map { case (band, ds) =>
        val nd = ds.count(d => kept(d._1) == 0L).toLong
        val ct = ds.map(_._2).sum
        val cd = ds.filter(d => kept(d._1) == 0L).map(_._2).sum
        band -> (ds.length.toLong, nd, ct, cd,
          nd * 1000000L / ds.length, cd * 1000000L / ct)
      }
    val got = operators.ImpactOps.dedupLengthProfile(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got === expect)
  }

  test("Chaikin volatility matches an exact driver replay") {
    val byType = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map { r =>
        (r.getString(0), r.getTimestamp(1).getTime / 86400000L,
          math.floor(r.getDouble(2) * 1e6).toLong)
      }
      .groupBy(_._1)
    val expect = byType.flatMap { case (tp, rows) =>
      val days = rows.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (d, xs) =>
          (d, BigInt(xs.map(_._3).max - xs.map(_._3).min)) }
      val emas = days.indices.map { i =>
        val lags = (0 until 8).filter(_ <= i)
        val en = lags.map(j => days(i - j)._2 * (1L << (7 - j))).sum
        val ed = lags.map(j => BigInt(1L << (7 - j))).sum
        en / ed
      }
      days.indices.map { i =>
        val ch = if (i >= 7 && emas(i - 7) > 0)
          Some(((emas(i) - emas(i - 7)) * 1000000 / emas(i - 7)).toLong)
        else None
        (tp, days(i)._1) -> (days(i)._2.toLong, emas(i).toLong, ch)
      }
    }
    operators.IndicatorOps.winChaikin(spark, sfDir).collect().foreach { r =>
      val day = java.time.LocalDate.parse(r.getString(1)).toEpochDay
      val e = expect((r.getString(0), day))
      assert(r.getLong(2) === e._1, s"range ${r.getString(0)} $day")
      assert(r.getLong(3) === e._2, s"ema ${r.getString(0)} $day")
      assert((if (r.isNullAt(4)) None else Some(r.getLong(4))) === e._3)
    }
  }

  test("Lomb-Scargle matches an exact driver replay (shared libm)") {
    val days = dailyDays.map { case (d, v) =>
      (java.time.LocalDate.parse(d).toEpochDay, v) }
    val d0 = days.map(_._1).min
    val span = (days.map(_._1).max - d0 + 1).toDouble
    val nd = BigInt(days.length)
    val got = operators.SeriesOps.tsLombScargle(spark, sfDir).collect()
    assert(got.length === 8)
    got.foreach { r =>
      val k = r.getAs[Number](0).longValue
      val sc2 = days.map { case (d, _) =>
        BigInt(math.floor(math.cos(4 * math.Pi * k * (d - d0) / span) * 1e9).toLong) }.sum
      val ss2 = days.map { case (d, _) =>
        BigInt(math.floor(math.sin(4 * math.Pi * k * (d - d0) / span) * 1e9).toLong) }.sum
      val theta = math.atan2(ss2.toDouble, sc2.toDouble)
      val ab = days.map { case (d, v) =>
        val arg = 2 * math.Pi * k * (d - d0) / span - theta / 2
        (v, BigInt(math.floor(math.cos(arg) * 1e9).toLong),
          BigInt(math.floor(math.sin(arg) * 1e9).toLong))
      }
      val mva = ab.map(t => t._1 * t._2).sum / nd
      val mvb = ab.map(t => t._1 * t._3).sum / nd
      val maa = ab.map(t => t._2 * t._2).sum / nd
      val mbb = ab.map(t => t._3 * t._3).sum / nd
      val power = math.floor(0.5 * (mva.toDouble * mva.toDouble / maa.toDouble +
        mvb.toDouble * mvb.toDouble / mbb.toDouble)).toLong
      assert(r.getLong(1) === days.length.toLong, s"n_days k=$k")
      assert(r.getLong(2) === math.floor(theta * 1000).toLong, s"theta k=$k")
      assert(r.getLong(3) === power, s"power k=$k")
    }
  }

  // ---- 2c. r18 second-batch exact driver replays -----------------------

  private lazy val eventRows: Array[(String, Long, Long)] =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 86400000L,
        math.floor(r.getDouble(2) * 1e6).toLong))

  test("Cochran's C profile matches an exact driver replay") {
    val byType = eventRows.groupBy(_._1).map { case (tp, rows) =>
      val xs = rows.groupBy(_._2).map { case (_, es) =>
        BigInt(es.map(_._3).sum) / 1000 }.toSeq
      val n = BigInt(xs.length)
      val s2 = ((n * xs.map(x => x * x).sum - xs.sum * xs.sum) * 1000) /
        (n * (n - 1))
      tp -> (xs.length.toLong, s2)
    }
    val s2all = byType.values.map(_._2).sum
    val s2max = byType.values.map(_._2).max
    operators.InferenceOps.cochranC(spark, sfDir).collect().foreach { r =>
      val e = byType(r.getString(0))
      assert(r.getLong(1) === e._1)
      assert(BigInt(r.getLong(2)) === e._2)
      assert(BigInt(r.getLong(3)) === e._2 * 1000000 / s2all)
      assert(r.getBoolean(4) === (e._2 == s2max))
    }
  }

  test("CUSUM-of-squares matches an exact driver replay (shared libm)") {
    val lnv = dailyDays.map(_._2).filter(_ > 0)
      .map(v => BigInt(math.floor(math.log(v.toDouble) * 1e9).toLong))
    val y = lnv.zip(lnv.tail).map { case (a, b) => ((b - a) * (b - a)) / 1000000 }
    val n = BigInt(y.length)
    val t = y.sum
    val devs = y.scanLeft(BigInt(0))(_ + _).tail.zipWithIndex.map {
      case (cy, i) => ((cy * n - t * BigInt(i + 1)).abs, i + 1) }
    val dm = devs.map(_._1).max
    val breakK = devs.filter(_._1 == dm).map(_._2).min
    val dppm = (dm * 1000000) / (n * t)
    val flag = math.floor(
      math.sqrt(y.length.toDouble / 2.0) * dppm.toDouble).toLong > 1358000L
    val r = operators.NonparamOps.tsCusumSq(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === y.length.toLong, "n_returns")
    assert(r(0).getLong(1) === breakK.toLong, "break_k")
    assert(BigInt(r(0).getLong(3)) === dppm, "d_ppm")
    assert(r(0).getBoolean(4) === flag)
  }

  test("split balance chi2 matches an exact driver replay") {
    val cells = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang")).collect()
      .map { r =>
        val h = md5hex(s"split:${r.getLong(0)}").substring(0, 2)
        val split = if (h < "cc") "train" else if (h < "e6") "val" else "test"
        (split, r.getString(1))
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rt = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ct = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val n = cells.values.sum
    val chi2nano = cells.map { case ((sp, lg), o) =>
      val e = (rt(sp) * ct(lg)).toDouble / n
      val d = o.toDouble - e
      math.floor(d * d / e * 1e9).toLong
    }.sum
    val r = operators.PipelineOps.splitBalance(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === cells.size.toLong, "n_cells")
    assert(r(0).getLong(1) === ((rt.size - 1) * (ct.size - 1)).toLong, "dof")
    assert(math.abs(r(0).getDouble(2) - chi2nano / 1e9) < 1e-6, "chi2")
  }

  test("MFI matches an exact driver replay") {
    val expect = eventRows.groupBy(_._1).flatMap { case (tp, rows) =>
      // close = value of the LAST event by (ts desc, event_id desc) —
      // replay via the original rows with ids
      val withIds = Tables.events(spark, sfDir)
        .filter(col("event_type") === tp)
        .select(col("ts"), col("event_id"), col("value")).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1),
          math.floor(r.getDouble(2) * 1e6).toLong))
      val byDay = withIds.groupBy(_._1 / 86400000L).toSeq.sortBy(_._1)
        .map { case (d, es) =>
          val c = es.maxBy(e => (e._1, e._2))._3
          val tp3 = (es.map(_._3).max + es.map(_._3).min + c) / 3
          (d, tp3, es.length.toLong)
        }
      val dirs = byDay.indices.map { i =>
        if (i == 0) (BigInt(0), BigInt(0), 0L)
        else {
          val mf = BigInt(byDay(i)._2) * byDay(i)._3
          if (byDay(i)._2 > byDay(i - 1)._2) (mf, BigInt(0), 1L)
          else if (byDay(i)._2 < byDay(i - 1)._2) (BigInt(0), mf, 1L)
          else (BigInt(0), BigInt(0), 1L)
        }
      }
      byDay.indices.map { i =>
        val lo = math.max(0, i - 13)
        val sp = (lo to i).map(dirs(_)._1).sum
        val sn = (lo to i).map(dirs(_)._2).sum
        val nd = (lo to i).map(dirs(_)._3).sum
        val mfi = if (nd >= 14 && sp + sn > 0)
          Some((sp * 1000000 / (sp + sn)).toLong) else None
        (tp, byDay(i)._1) -> (byDay(i)._2, byDay(i)._3, mfi)
      }
    }
    operators.IndicatorOps.winMfi(spark, sfDir).collect().foreach { r =>
      val day = java.time.LocalDate.parse(r.getString(1)).toEpochDay
      val e = expect((r.getString(0), day))
      assert(r.getLong(2) === e._1, s"tp ${r.getString(0)} $day")
      assert(r.getLong(3) === e._2, s"vol ${r.getString(0)} $day")
      assert((if (r.isNullAt(4)) None else Some(r.getLong(4))) === e._3,
        s"mfi ${r.getString(0)} $day")
    }
  }

  test("segment migration matches an exact driver replay") {
    val userDays = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 86400000L))
    val d0 = userDays.map(_._2).min
    val d1 = userDays.map(_._2).max
    val mid = d0 + (d1 - d0 + 1) / 2
    def band(c: Long): Long =
      if (c > 0) 64 - java.lang.Long.numberOfLeadingZeros(c) else 0L
    val expect = userDays.groupBy(_._1).values.map { es =>
      (band(es.count(_._2 < mid).toLong), band(es.count(_._2 >= mid).toLong))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowT = expect.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val got = operators.EventOps.eventSegmentMigration(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (k, nu) =>
      assert(got(k) === ((nu, nu * 1000000L / rowT(k._1))), s"cell $k")
    }
  }

  // ---- 2d. r18 third-batch exact driver replays ------------------------

  test("ERR@10 matches an exact cascade driver replay") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val D = BigInt(2520L) * (1L << 30)
    Seq("join", "vector", "scan").foreach { term =>
      val tf = docs.map { case (id, t) =>
        (id, t.split(" ", -1).count(_ == term)) }.filter(_._2 > 0)
      val ranked = tf.sortBy { case (id, c) => (-c, id) }.take(10)
      val gains = ranked.map { case (id, _) => (1L << (id % 4).toInt) - 1L }
      var (num, prod) = (BigInt(0), BigInt(1))
      gains.zipWithIndex.foreach { case (g, i) =>
        val r = i + 1
        num += BigInt(g) * (2520 / r) * (BigInt(1) << (3 * (10 - r))) * prod
        prod *= (8 - g)
      }
      val row = operators.EvalOps.evalErr(spark, sfDir).collect()
        .find(_.getString(0) == term).get
      assert(row.getLong(1) === ranked.length.toLong, s"n_ranked $term")
      assert(BigInt(row.getLong(2)) === num * 1000000 / D, s"err_ppm $term")
    }
  }

  test("Bowley skewness matches an exact order-statistic replay") {
    val byType = eventRows.groupBy(_._1)
    operators.InferenceOps.bowleySkew(spark, sfDir).collect().foreach { r =>
      val xs = byType(r.getString(0)).groupBy(_._2).toSeq
        .map { case (d, es) => (es.map(_._3).sum, d) }.sorted.map(_._1)
      val n = xs.length
      val (q1, q2, q3) = (xs((n + 3) / 4 - 1), xs((n + 2) / 2 - 1),
        xs(n + 1 - (n + 3) / 4 - 1))
      assert(r.getLong(1) === n.toLong)
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((q1, q2, q3)))
      val e = if (q3 > q1) Some((q3 + q1 - 2 * q2) * 1000 / (q3 - q1)) else None
      assert((if (r.isNullAt(5)) None else Some(r.getLong(5))) === e)
    }
  }

  test("Simpson diversity matches an exact driver replay") {
    val bySource = Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
      .groupBy(_._1)
    operators.CorpusOps.textSimpson(spark, sfDir).collect().foreach { r =>
      val toks = bySource(r.getString(0)).map(_._2)
      val n = BigInt(toks.length)
      val rep = toks.groupBy(identity).values
        .map(g => BigInt(g.length) * (g.length - 1)).sum
      val lam = rep * 1000000 / (n * (n - 1))
      assert(BigInt(r.getLong(1)) === n)
      assert(BigInt(r.getLong(2)) === lam)
      assert(BigInt(r.getLong(3)) === BigInt(1000000) - lam)
      val inv = if (lam > 0) Some((BigInt(1000000000) / lam).toLong) else None
      assert((if (r.isNullAt(4)) None else Some(r.getLong(4))) === inv)
    }
  }

  test("DFA matches an exact driver replay (shared libm)") {
    val vs = dailyDays.map(_._2)
    val n = BigInt(vs.length)
    val t = vs.sum
    val prof = vs.scanLeft(BigInt(0))(_ + _).tail.zipWithIndex
      .map { case (cy, i) => cy * n - t * BigInt(i + 1) }
    val perScale = Seq(8, 16, 32, 64).map { s =>
      val nb = vs.length / s
      val lnsses = (0 until nb).flatMap { b =>
        val seg = prof.slice(b * s, b * s + s)
        val m = seg.length
        val st = BigInt((0 until m).sum)
        val stt = BigInt((0 until m).map(i => i * i).sum)
        val sy = seg.sum
        val syy = seg.map(p => p * p).sum
        val sty = seg.zipWithIndex.map { case (p, i) => p * i }.sum
        val sse = syy.toDouble - sy.toDouble * sy.toDouble / m -
          (sty.toDouble - st.toDouble * sy.toDouble / m) *
            (sty.toDouble - st.toDouble * sy.toDouble / m) /
            (stt.toDouble - st.toDouble * st.toDouble / m)
        if (sse > 0) Some(BigInt(math.floor(math.log(sse) * 1e9).toLong))
        else None
      }
      val lnf2 = (lnsses.sum / lnsses.length).toLong
      val lns = math.floor(math.log(s.toDouble) * 1e9).toLong
      (s.toLong, lnsses.length.toLong, lnf2, lns)
    }
    val np = BigInt(4)
    val sx = perScale.map(p => BigInt(p._4)).sum
    val sy = perScale.map(p => BigInt(p._3)).sum
    val sxy = perScale.map(p => BigInt(p._4) * p._3).sum
    val sxx = perScale.map(p => BigInt(p._4) * p._4).sum
    val num = np * sxy - sx * sy
    val den = np * sxx - sx * sx
    val alpha = math.floor(num.toDouble / den.toDouble / 2.0 * 1000).toLong
    val got = operators.SeriesOps.tsDfa(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    perScale.foreach { case (s, nb, lnf2, _) =>
      assert(got(s) === ((nb, lnf2, alpha)), s"scale $s")
    }
  }

  // ---- 2e. r18 fourth-batch exact driver replays -----------------------

  test("bridge ratio matches an exact replay over the derived relations") {
    val edges = operators.DedupOps.materializedEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sup = operators.GraphOps.materializedTriangleSupport(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sups = edges.map(e => sup.getOrElse(e, 0L))
    val (ne, nb) = (sups.length.toLong, sups.count(_ == 0L).toLong)
    val ss = sups.map(BigInt(_)).sum
    val r = operators.GraphOps.graphBridgeRatio(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === ne)
    assert(r(0).getLong(1) === nb)
    assert(r(0).getLong(2) === nb * 1000000L / ne)
    assert(BigInt(r(0).getLong(3)) === ss * 1000 / ne)
  }

  test("Nemenyi matches an exact rank replay (shared libm sqrt)") {
    val monthly = Tables.orders(spark, sfDir)
      .select(date_format(date_trunc("month", col("o_orderdate")),
        "yyyy-MM").as("m"), col("o_orderpriority").as("pri"),
        col("o_totalprice"))
      .collect()
      .map { r =>
        val cents = new java.math.BigDecimal(
            java.lang.Double.toString(r.getAs[Number](2).doubleValue))
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .movePointRight(2).toBigIntegerExact()
        ((r.getString(0), r.getString(1)), BigInt(cents))
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val k = monthly.keys.map(_._2).toSet.size
    val complete = monthly.groupBy(_._1._1)
      .filter(_._2.size == k)
    val ranks = complete.values.flatMap { cells =>
      val sorted = cells.toSeq.sortBy { case ((_, p), v) => (v, p) }
      // tie-aware RANK(): position of first equal (v, pri) — total order
      sorted.zipWithIndex.map { case (((_, p), _), i) => p -> (i + 1).toLong }
    }.groupBy(_._1).view.mapValues(vs =>
      (vs.size.toLong, vs.map(_._2).sum)).toMap
    val mr = ranks.view.mapValues { case (nb, rs) => rs * 1000 / nb }.toMap
    val nBlocks = ranks.values.head._1
    val cd = math.floor(2.728 *
      math.sqrt((k * (k + 1)).toDouble / (6.0 * nBlocks)) * 1000).toLong
    operators.DiagnosticOps.statsNemenyi(spark, sfDir).collect().foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getLong(2) === mr(a), s"mr $a")
      assert(r.getLong(3) === mr(b), s"mr $b")
      assert(r.getLong(4) === math.abs(mr(a) - mr(b)))
      assert(r.getLong(5) === cd)
      assert(r.getBoolean(6) === (math.abs(mr(a) - mr(b)) > cd))
    }
  }

  test("directional movement matches an exact driver replay") {
    val expect = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        math.floor(r.getDouble(3) * 1e6).toLong))
      .groupBy(_._1).flatMap { case (tp, rows) =>
        val days = rows.groupBy(_._2 / 86400000L).toSeq.sortBy(_._1)
          .map { case (d, es) =>
            (d, es.map(_._4).max, es.map(_._4).min,
              es.maxBy(e => (e._2, e._3))._4)
          }
        val dm = days.indices.drop(1).map { i =>
          val (d, h, l, _) = days(i)
          val (_, hp, lp, cp) = days(i - 1)
          val up = h - hp; val dn = lp - l
          val pdm = if (up > dn && up > 0) up else 0L
          val ndm = if (dn > up && dn > 0) dn else 0L
          val tr = math.max(h - l, math.max(math.abs(h - cp), math.abs(l - cp)))
          (d, pdm, ndm, tr)
        }
        dm.indices.map { i =>
          def ema(f: ((Long, Long, Long, Long)) => Long): BigInt =
            (0 until 8).filter(_ <= i)
              .map(j => BigInt(f(dm(i - j))) * (1L << (7 - j))).sum
          val (epn, enn, etn) = (ema(_._2), ema(_._3), ema(_._4))
          val pdi = if (etn > 0) Some((epn * 1000000 / etn).toLong) else None
          val ndi = if (etn > 0) Some((enn * 1000000 / etn).toLong) else None
          val dx = if (epn + enn > 0)
            Some(((epn - enn).abs * 1000000 / (epn + enn)).toLong) else None
          (tp, dm(i)._1) -> (pdi, ndi, dx)
        }
      }
    operators.IndicatorOps.winAdx(spark, sfDir).collect().foreach { r =>
      val day = java.time.LocalDate.parse(r.getString(1)).toEpochDay
      val e = expect((r.getString(0), day))
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      assert((opt(2), opt(3), opt(4)) === e, s"${r.getString(0)} $day")
    }
  }
}
