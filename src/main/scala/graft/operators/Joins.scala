package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Det, Tables}

/** §2.3 Joins — the reference enriches trips against device/provider/
  * district lookups and publishes upsert deltas; here as the full join
  * surface. Scale notes per query in scaladoc: dimension sides are
  * broadcast (no shuffle of the fact table), the as-of join is a single
  *-shuffle window formulation (no range join explosion), and the interval
  * self-join is bucketed so it stays an equi-join at 100 TB.
  */
object Joins {

  /** #11 equi inner join fact⋈fact + aggregate. At scale: sort-merge on the
    * shuffled orderkey; AQE picks broadcast if one side shrinks post-filter.
    */
  def joinInner(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** #12 star join with explicitly broadcast dims: the fact table never
    * shuffles — the canonical 100 TB star-join shape. Size-gate caveat
    * (the repo's hint policy, r12): nation (25 rows) and region (5) are
    * TRUE constant dims — safe to hint at any corpus size — but
    * customer SCALES with the corpus, so at TB scale the customer hint
    * must come off (size-based planning then picks broadcast vs shuffle
    * per actual stats, as in [[graft.operators.GraphOps.hits]]). It
    * stays hinted here because this query IS the demonstration of the
    * explicit-hint star-join shape; the un-hinted shape is #11.
    */
  def joinBroadcastDims(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("r_name", "n_name")

  /** #13 anti join — records NOT in the other set (the upsert delta). */
  def joinLeftAnti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** #14 semi join — customers having ≥1 open ('O') order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** #15a left outer with null-fill: every order, its very-high-value lines
    * or null.
    */
  def joinLeftOuter(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      .join(
        Tables.lineitem(s, dir).filter(col("l_quantity") >= 49)
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        col("o_orderkey") === col("l_orderkey"), "left")
      .select("o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity")
      .orderBy(asc_nulls_first("o_orderkey"), asc_nulls_first("l_linenumber"))

  /** #15b full outer between two order slices — nulls on both sides. */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("f_key"), col("o_totalprice").as("f_price"))
    val u = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("u_key"), col("o_totalprice").as("u_price"))
    f.join(u, col("f_key") === col("u_key"), "full")
      .select(coalesce(col("f_key"), col("u_key")).as("okey"),
        col("f_price"), col("u_price"))
      .orderBy("okey")
  }

  /** #16 theta/range join part×supplier (price within ±10 of acctbal/100).
    * Small side broadcast → BroadcastNestedLoopJoin; at 100 TB the band
    * would be binned into an equi-join exactly like [[joinInterval]].
    */
  def joinThetaRange(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .join(broadcast(Tables.supplier(s, dir)),
        col("p_retailprice").between(col("s_acctbal") / 10 - 25, col("s_acctbal") / 10 + 25))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_parts_in_band"))
      .orderBy("s_suppkey")

  /** #16b the SAME band join as [[joinThetaRange]], binned into an
    * equi-join — the formulation #16's docstring promises for 100 TB,
    * graded in its own right. The band has width 50, so bucketing both
    * sides at width 50 means a supplier's band touches AT MOST two
    * buckets: the supplier side explodes to those (array_distinct
    * collapses the single-bucket case so no pair matches twice — each
    * part lives in exactly one bucket), the join is a plain equi-join
    * on the bucket id, and the exact BETWEEN refines after. Identical
    * output to #16 (the twin IS #16's range-join SQL); the plan is a
    * shuffled/broadcast HASH join — no BroadcastNestedLoopJoin, no
    * quadratic band scan — which is the entire point at scale.
    */
  def joinThetaBinned(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice"),
        floor(col("p_retailprice") / 50).cast("long").as("bkt"))
    val supp = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_acctbal"),
        explode(array_distinct(array(
          floor((col("s_acctbal") / 10 - 25) / 50).cast("long"),
          floor((col("s_acctbal") / 10 + 25) / 50).cast("long")))).as("bkt"))
    parts.join(supp, Seq("bkt"))
      .filter(col("p_retailprice").between(
        col("s_acctbal") / 10 - 25, col("s_acctbal") / 10 + 25))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_parts_in_band"))
      .orderBy("s_suppkey")
  }

  /** #17 as-of join within events: each purchase matched to the latest click
    * at-or-before it, per user. Implemented as union + running last-click
    * window — ONE shuffle on user_id, no range-join pair explosion; this is
    * the formulation that survives 100 TB (state is one column carried
    * through a sort within partitions). (user_id, ts) is collision-free in
    * the fixtures, so ordering by ts alone is total per user.
    */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"))
      .orderBy("event_id")
  }

  /** #18 interval self-join: event pairs of the same user within 5 minutes.
    * Bucketed formulation: join on (user_id, 5-min bucket) with the left
    * side exploded to adjacent buckets, then exact filter + distinct — an
    * equi-join at any scale instead of an O(n²) theta join.
    */
  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("sec"))
    val a = ev.withColumn("bkt",
      explode(array((col("sec") / 300 - 1).cast("long"),
        (col("sec") / 300).cast("long"),
        (col("sec") / 300 + 1).cast("long"))))
      .select(col("event_id").as("id_a"), col("user_id"), col("sec").as("sec_a"), col("bkt"))
    val b = ev.withColumn("bkt", (col("sec") / 300).cast("long"))
      .select(col("event_id").as("id_b"), col("user_id"), col("sec").as("sec_b"), col("bkt"))
    a.join(b, Seq("user_id", "bkt"))
      .filter(col("id_a") < col("id_b") && abs(col("sec_a") - col("sec_b")) <= 300)
      .select(col("user_id"), col("id_a"), col("id_b"),
        (col("sec_b") - col("sec_a")).as("gap_sec"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** #19 cartesian product of the 5-row region table with itself. */
  def joinCrossSmall(s: SparkSession, dir: String): DataFrame = {
    val r1 = Tables.region(s, dir).select(col("r_name").as("name_a"))
    val r2 = Tables.region(s, dir).select(col("r_name").as("name_b"))
    r1.crossJoin(r2).orderBy("name_a", "name_b")
  }

  /** #20 point-in-polygon as grid binning — the reference's census-tract /
    * hex assignment. Points are derived deterministically from customers,
    * binned to a 10×10 grid by arithmetic (= the bbox fast-path of a real
    * PIP), then equi-joined to a generated district dimension. Integer
    * arithmetic only → exact on both engines. The exact ray-casting
    * predicate lives in [[graft.functions.Geo]] (ScalaTest-covered).
    */
  def pipJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.customer(s, dir).select(
      col("c_custkey"),
      ((col("c_custkey") * 7919) % 1000).as("x_m"),   // 0..999 ~ x*10
      ((col("c_custkey") * 104729) % 1000).as("y_m"))
    val cells = pts
      .withColumn("cell_x", (col("x_m") / 100).cast("long"))
      .withColumn("cell_y", (col("y_m") / 100).cast("long"))
      .withColumn("district_id", col("cell_x") * 10 + col("cell_y"))
    val districts = s.range(100).select(col("id").as("district_id"),
      concat(lit("district_"), col("id")).as("district_name"))
    cells.join(broadcast(districts), Seq("district_id"))
      .groupBy("district_id", "district_name")
      .agg(count(lit(1)).as("n_points"))
      .orderBy("district_id")
  }

  /** Synthetic districts for the EXACT point-in-polygon query: integer
    * vertices (exact as doubles on every engine), one convex quad, one
    * triangle, and one CONCAVE pentagon — the case a bbox-only
    * approximation gets wrong, so a hash match proves real ray casting
    * on both engines. Shared by the Spark query and the generated DuckDB
    * oracle so the two can never drift.
    */
  private val pipDistricts: Seq[(Long, Seq[(Double, Double)])] = Seq(
    (1L, Seq((10.0, 10.0), (40.0, 12.0), (38.0, 40.0), (12.0, 42.0))),
    (2L, Seq((50.0, 5.0), (90.0, 10.0), (70.0, 45.0))),
    (3L, Seq((5.0, 60.0), (45.0, 60.0), (45.0, 95.0), (25.0, 75.0), (5.0, 95.0))))

  /** #20b EXACT point-in-polygon join through the native graft_pip
    * expression; [[graft.functions.PipBBoxPrefilter]] conjoins the cheap
    * bbox test ahead of the ray cast (plan-asserted in GeoExprSpec).
    * Points derive deterministically from part keys on a 100×100 integer
    * grid; districts broadcast (small dim), so the corpus streams through
    * one scan — the 100 TB shape for "assign each record to a district".
    */
  def pipExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val polyDf = pipDistricts.toDF("district_id", "verts")
      .select(col("district_id"), transform(col("verts"),
        v => struct(v.getField("_1").as("x"), v.getField("_2").as("y"))).as("poly"))
    val pts = Tables.part(s, dir).select(
      col("p_partkey"),
      (col("p_partkey") % 100).cast("double").as("px"),
      expr("(p_partkey div 10) % 100").cast("double").as("py"))
    pts.crossJoin(broadcast(polyDf))
      .filter(expr("graft_pip(px, py, poly)"))
      .select(col("district_id"), col("p_partkey"), col("px"), col("py"))
      .orderBy("district_id", "p_partkey")
  }

  /** DuckDB twin of the ray cast: identical formula, list lambdas over
    * the same vertex literals (generated from [[pipDistricts]]).
    */
  private def pipExactOracle: String = {
    val polyRows = pipDistricts.map { case (id, verts) =>
      val lst = verts.map { case (x, y) => s"{'x': ${x}, 'y': ${y}}" }.mkString("[", ", ", "]")
      s"($id, $lst::STRUCT(x DOUBLE, y DOUBLE)[])"
    }.mkString(",\n        ")
    s"""WITH polys(district_id, poly) AS (VALUES
       |        $polyRows),
       |pts AS (
       |  SELECT p_partkey,
       |    CAST(p_partkey % 100 AS DOUBLE) AS px,
       |    CAST((p_partkey // 10) % 100 AS DOUBLE) AS py
       |  FROM part)
       |SELECT district_id, p_partkey, px, py
       |FROM pts CROSS JOIN polys
       |WHERE len(list_filter(range(1, len(poly) + 1), i ->
       |    ((poly[i].y > py) <> (poly[1 + (i % len(poly))].y > py))
       |    AND px < (poly[1 + (i % len(poly))].x - poly[i].x) * (py - poly[i].y)
       |              / (poly[1 + (i % len(poly))].y - poly[i].y) + poly[i].x)) % 2 = 1
       |ORDER BY district_id, p_partkey""".stripMargin
  }

  /** Skew-mitigated (salted) equi join: the build side is replicated
    * once per salt value and the probe side picks a deterministic salt
    * from a row-unique hash, so one hot key's rows spread over
    * [[SaltFactor]] reducers instead of one. Result is provably
    * identical to the unsalted join (each probe row still matches
    * exactly one replica) — the oracle IS the plain join. At 100 TB
    * this is the manual fallback when AQE skew-join can't fire (e.g. a
    * skewed key feeding a stateful agg); here the dim is 5 rows so
    * broadcast would also work — the query exists to grade the
    * technique's correctness, plan shape and determinism.
    */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val SaltFactor = 8
    val events = Tables.events(s, dir)
    val dim = events.groupBy("event_type").agg(count(lit(1)).as("type_n"))
    val saltedDim = dim.withColumn("salt",
      explode(sequence(lit(0), lit(SaltFactor - 1))))
    val fact = events.withColumn("salt",
      pmod(xxhash64(col("event_id")), lit(SaltFactor)).cast("int"))
    fact.join(saltedDim, Seq("event_type", "salt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("type_n")).as("type_n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** #385 NEAREST-direction as-of join with tolerance: each purchase
    * matched to the temporally CLOSEST click of the same user within
    * ±10 minutes, whichever side it falls on — the pandas
    * `merge_asof(direction='nearest', tolerance=...)` semantics that
    * backward-only as-of (#17) can't express. Ties (equidistant clicks)
    * resolve to the EARLIER click, mirrored in the twin's
    * (gap, click_sec, click_id) ordering.
    *
    * Scale: the same union-and-window formulation as [[joinAsof]] — one
    * shuffle on user_id carries BOTH directional candidates (running
    * last-click backward, running next-click forward over the reversed
    * frame), then a per-row pick; no pair explosion at any scale. The
    * twin does the O(pairs-within-tolerance) candidate join + QUALIFY —
    * fine as an oracle, exactly what the operator avoids in production.
    */
  def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val tol = 600L
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("long").as("sec"))
    val wB = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("user_id")
      .orderBy(col("sec").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickStruct = when(col("event_type") === "click",
      struct(col("sec"), col("event_id")))
    ev
      .withColumn("back", last(clickStruct, ignoreNulls = true).over(wB))
      .withColumn("fwd", last(clickStruct, ignoreNulls = true).over(wF))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_b",
        when(col("back").isNotNull, col("sec") - col("back.sec")))
      .withColumn("gap_f",
        when(col("fwd").isNotNull, col("fwd.sec") - col("sec")))
      .withColumn("pick_back",
        col("gap_b").isNotNull && col("gap_b") <= tol &&
          (col("gap_f").isNull || col("gap_f") > tol ||
            col("gap_b") <= col("gap_f")))
      .withColumn("pick_fwd",
        !col("pick_back") && col("gap_f").isNotNull && col("gap_f") <= tol)
      .select(col("event_id").as("buy_id"), col("user_id"),
        col("sec").as("buy_sec"),
        when(col("pick_back"), col("back.event_id"))
          .when(col("pick_fwd"), col("fwd.event_id")).as("click_id"),
        when(col("pick_back"), col("gap_b"))
          .when(col("pick_fwd"), col("gap_f")).as("gap_sec"),
        when(col("pick_back"), "before")
          .when(col("pick_fwd"), "after").otherwise("none").as("direction"))
      .orderBy("buy_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_asof_nearest" -> (joinAsofNearest _),
    "q_join_salted" -> (joinSalted _),
    "q_join_inner" -> (joinInner _),
    "q_join_broadcast_dims" -> (joinBroadcastDims _),
    "q_join_left_anti" -> (joinLeftAnti _),
    "q_join_semi" -> (joinSemi _),
    "q_join_left_outer" -> (joinLeftOuter _),
    "q_join_full_outer" -> (joinFullOuter _),
    "q_join_theta_range" -> (joinThetaRange _),
    "q_join_theta_binned" -> (joinThetaBinned _),
    "q_join_asof" -> (joinAsof _),
    "q_join_interval" -> (joinInterval _),
    "q_join_cross_small" -> (joinCrossSmall _),
    "q_pip_join" -> (pipJoin _),
    "q_pip_exact" -> (pipExact _))

  val oracles: Map[String, String] = Map(
    "q_join_asof_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |buys AS (SELECT event_id AS buy_id, user_id, sec AS buy_sec
        |         FROM ev WHERE event_type = 'purchase'),
        |clicks AS (SELECT event_id AS click_id, user_id, sec AS click_sec
        |           FROM ev WHERE event_type = 'click'),
        |cand AS (
        |  -- tie-breaks replicate the Spark window semantics exactly:
        |  -- second-truncation makes same-sec click/purchase collisions
        |  -- real at sf0.1, so "backward" is the LEXICOGRAPHIC (sec, id)
        |  -- order, backward wins a distance tie, the backward candidate
        |  -- is the LARGEST (sec, id) below, the forward the smallest
        |  -- above
        |  SELECT b.buy_id, c.click_id, c.click_sec,
        |    ABS(b.buy_sec - c.click_sec) AS gap_sec,
        |    (c.click_sec < b.buy_sec OR
        |     (c.click_sec = b.buy_sec AND c.click_id < b.buy_id)) AS backward
        |  FROM buys b JOIN clicks c ON c.user_id = b.user_id
        |    AND ABS(b.buy_sec - c.click_sec) <= 600
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b.buy_id
        |    ORDER BY ABS(b.buy_sec - c.click_sec),
        |      CASE WHEN c.click_sec < b.buy_sec OR
        |        (c.click_sec = b.buy_sec AND c.click_id < b.buy_id)
        |        THEN 0 ELSE 1 END,
        |      CASE WHEN c.click_sec < b.buy_sec OR
        |        (c.click_sec = b.buy_sec AND c.click_id < b.buy_id)
        |        THEN -c.click_id ELSE c.click_id END)
        |    = 1)
        |SELECT b.buy_id, b.user_id, b.buy_sec, cand.click_id, cand.gap_sec,
        |  CASE WHEN cand.click_id IS NULL THEN 'none'
        |       WHEN cand.backward THEN 'before'
        |       ELSE 'after' END AS direction
        |FROM buys b LEFT JOIN cand USING (buy_id)
        |ORDER BY buy_id""".stripMargin,
    "q_join_salted" ->
      """WITH dim AS (
        |  SELECT event_type, COUNT(*) AS type_n FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n, MAX(d.type_n) AS type_n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_broadcast_dims" ->
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_left_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_left_outer" ->
      """SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity
        |FROM orders LEFT JOIN
        |  (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 49) li
        |  ON o_orderkey = li.l_orderkey
        |ORDER BY o_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin,
    "q_join_full_outer" ->
      """SELECT COALESCE(f.f_key, u.u_key) AS okey, f.f_price, u.u_price
        |FROM (SELECT o_orderkey AS f_key, o_totalprice AS f_price FROM orders WHERE o_orderstatus = 'F') f
        |FULL JOIN (SELECT o_orderkey AS u_key, o_totalprice AS u_price FROM orders WHERE o_orderpriority = '1-URGENT') u
        |  ON f.f_key = u.u_key
        |ORDER BY okey""".stripMargin,
    "q_join_theta_range" ->
      """SELECT s_suppkey, COUNT(*) AS n_parts_in_band
        |FROM part JOIN supplier
        |  ON p_retailprice BETWEEN s_acctbal / 10 - 25 AND s_acctbal / 10 + 25
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    // the binned formulation must reproduce the range join exactly, so
    // its oracle IS the range-join SQL
    "q_join_theta_binned" ->
      """SELECT s_suppkey, COUNT(*) AS n_parts_in_band
        |FROM part JOIN supplier
        |  ON p_retailprice BETWEEN s_acctbal / 10 - 25 AND s_acctbal / 10 + 25
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q_join_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "q_join_interval" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |  CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS gap_sec
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(CAST(floor(epoch(a.ts)) AS BIGINT) - CAST(floor(epoch(b.ts)) AS BIGINT)) <= 300
        |ORDER BY id_a, id_b""".stripMargin,
    "q_join_cross_small" ->
      """SELECT r1.r_name AS name_a, r2.r_name AS name_b
        |FROM region r1 CROSS JOIN region r2
        |ORDER BY name_a, name_b""".stripMargin,
    "q_pip_join" ->
      """SELECT ((c_custkey * 7919) % 1000) // 100 * 10 + ((c_custkey * 104729) % 1000) // 100 AS district_id,
        |  'district_' || CAST(((c_custkey * 7919) % 1000) // 100 * 10 + ((c_custkey * 104729) % 1000) // 100 AS VARCHAR) AS district_name,
        |  COUNT(*) AS n_points
        |FROM customer
        |GROUP BY 1, 2 ORDER BY district_id""".stripMargin,
    "q_pip_exact" -> pipExactOracle)
}
