package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HaversineExpr, RollingHashExpr}

/** Native Catalyst expression kernels + registration + codegen path. */
class ExpressionSpec extends AnyFunSuite with SparkFixture {

  test("haversine kernel: Austin→SF ≈ 2420 km") {
    val d = HaversineExpr.compute(30.2672, -97.7431, 37.7749, -122.4194)
    assert(math.abs(d - 2420.0) < 15.0, s"got $d")
  }

  test("haversine kernel: zero distance to self") {
    assert(HaversineExpr.compute(45.0, 7.0, 45.0, 7.0) === 0.0)
  }

  test("native haversine equals the pure-column formulation") {
    val native = operators.NativeExprs.haversineNative(spark, sfDir)
      .select("c_custkey", "km_to_austin").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val column = operators.ScalarFuncs.haversine(spark, sfDir)
      .select("c_custkey", "km_to_austin").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native === column)
  }

  test("rolling hash: deterministic, order-sensitive") {
    val h1 = RollingHashExpr.compute(UTF8String.fromString("alpha beta"))
    val h2 = RollingHashExpr.compute(UTF8String.fromString("alpha beta"))
    val h3 = RollingHashExpr.compute(UTF8String.fromString("beta alpha"))
    assert(h1 === h2)
    assert(h1 !== h3)
  }

  test("registered SQL functions evaluate through codegen") {
    val row = spark.sql(
      "SELECT graft_haversine(0.0, 0.0, 0.0, 90.0) AS q, graft_rolling_hash('abc') AS h")
      .collect().head
    // quarter of the equator ≈ 10007.5 km
    assert(math.abs(row.getDouble(0) - 10007.5) < 5.0)
    assert(row.getLong(1) === RollingHashExpr.compute(UTF8String.fromString("abc")))
  }

  test("null propagation through the native expressions") {
    val row = spark.sql(
      "SELECT graft_haversine(CAST(NULL AS DOUBLE), 0.0, 0.0, 0.0) AS q, " +
        "graft_rolling_hash(CAST(NULL AS STRING)) AS h").collect().head
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("jaro-winkler kernel matches the DuckDB/RapidFuzz reference values") {
    import graft.functions.JaroWinklerExpr
    def jw(a: String, b: String): Double =
      JaroWinklerExpr.sim(UTF8String.fromString(a), UTF8String.fromString(b))
    // pinned against DuckDB jaro_winkler_similarity this session
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DWAYNE", "DUANE") === 0.8400000000000001)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("abc", "abc") === 1.0)
    assert(jw("abc", "") === 0.0)
    assert(jw("", "") === 0.0) // DuckDB scores both-empty 0, not 1
    assert(jw("ab", "ba") === 0.0) // window 0: only same-position matches
    assert(jw("CRATE", "TRACE") === 0.7333333333333334) // jaro ≤ 0.7+: no boost below threshold
    assert(jw("abcdefgh", "abzzzzzz") === 0.5) // common prefix but jaro ≤ 0.7 → unboosted
    assert(jw("aaaaaaaaaab", "aaaaaaaaaac") === 0.9636363636363636) // prefix caps at 4
    assert(jw("héllo", "hello") === 0.8400000000000001) // byte-level (UTF-8), matching DuckDB
  }

  test("damerau-levenshtein kernel matches the DuckDB reference values (FULL variant)") {
    import graft.functions.DamerauLevenshteinExpr
    def dl(a: String, b: String): Int =
      DamerauLevenshteinExpr.dist(UTF8String.fromString(a), UTF8String.fromString(b))
    // pinned against DuckDB damerau_levenshtein this session
    assert(dl("CA", "ABC") === 2) // FULL DL, not OSA (OSA would say 3)
    assert(dl("abcdef", "abcfad") === 3)
    assert(dl("kitten", "sitting") === 3)
    assert(dl("ab", "ba") === 1)
    assert(dl("", "abc") === 3)
    assert(dl("", "") === 0)
    assert(dl("teh", "the") === 1)
    assert(dl("abcd", "acbd") === 1)
    assert(dl("héllo", "hello") === 2) // byte-level: é is two UTF-8 bytes
  }

  test("jaro-winkler evaluates through codegen and propagates nulls") {
    val row = spark.sql(
      "SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS a, " +
        "graft_jaro_winkler(CAST(NULL AS STRING), 'x') AS b").collect().head
    assert(row.getDouble(0) === 0.9611111111111111)
    assert(row.isNullAt(1))
  }

  test("simhash aggregate equals the naive counter fold (oracle-load-bearing)") {
    // q_dedup_simhash's oracle recomputes this definition in SQL, so pin
    // the exact semantics here: counter_j += (bit_j(h) ? +1 : -1) per
    // OCCURRENCE, fingerprint bit j set iff counter_j ends STRICTLY > 0
    // (a 0-tie leaves the bit clear). Also pin occurrence-weighting:
    // duplicate hashes must count twice.
    import spark.implicits._
    val hashes = Seq(0x0F0FL, 0x00FFL, 0x00FFL, -1L) // -1 = all 64 bits set
    val got = hashes.toDF("h").groupBy()
      .agg(org.apache.spark.sql.functions.expr("graft_simhash(h)").as("fp"))
      .collect().head.getLong(0)
    val counters = Array.fill(64)(0L)
    for (h <- hashes; j <- 0 until 64)
      counters(j) += (((h >>> j) & 1L) * 2L - 1L)
    var want = 0L
    for (j <- 0 until 64) if (counters(j) > 0) want |= (1L << j)
    assert(got === want)
    // strict >0 tie rule: two inputs {bit set, bit clear} -> counter 0 -> clear
    val tie = Seq(1L, 0L).toDF("h").groupBy()
      .agg(org.apache.spark.sql.functions.expr("graft_simhash(h)").as("fp"))
      .collect().head.getLong(0)
    assert(tie === 0L, "counter==0 must leave the fingerprint bit clear")
  }
}
