package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Native Catalyst expressions (SURVEY.md §4.3): the scalar `graft_*`
  * kernels. Each is a static compute function (in its companion object,
  * [[LongVecKernels]] or [[CountMinAgg]]) plus a short declaration on one
  * of the arity bases below. Under the size-aware codegen rule
  * ([[graft.GraftSession.codegenConf]]) a query over a small table dir
  * (sf0.001, sf0.01) runs every kernel through its interpreted `eval`, and
  * a larger one (sf0.1) through generated code inside whole-stage codegen;
  * both paths call the same static function with the same arguments.
  */

/** The shape of every scalar `graft_*` kernel. A kernel declares its SQL
  * name (`prettyName`), input types (`inputTypes`), result type
  * (`dataType`), the Java name of its static compute function (`fn`),
  * any literal parameters (`params`) and the typed call of that function
  * (`call`). The arity bases derive the rest:
  *  - the type check, through Spark's [[ExpectsInputTypes]] (no implicit
  *    casts), then the kernel's value-range check ([[rangeError]]);
  *  - null-in/null-out, through the arity's `nullSafeEval` contract;
  *  - an interpreted `eval` that calls `call` directly: no reflection, and
  *    no allocation but the compute function's result (boxed if primitive);
  *  - generated code that makes the static call `fn(children…, params…)`.
  * `call` passes `params` in the same order after the children, so the
  * two paths agree; KernelSpec runs both on the same inputs.
  */
sealed trait GraftKernel extends ExpectsInputTypes {
  /** Java name of the static compute function the generated code calls. */
  protected def fn: String

  /** Literal arguments (Int or Boolean) that follow the children's values. */
  protected def params: Seq[Any] = Nil

  /** Why the literal parameters are out of range, if they are. */
  protected def rangeError: Option[String] = None

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = super.checkInputDataTypes()
    rangeError.filter(_ => types.isSuccess)
      .fold(types)(msg => TypeCheckResult.TypeCheckFailure(s"$prettyName $msg"))
  }

  protected def staticCall(args: String*): String =
    (args ++ params.map(_.toString)).mkString(s"$fn(", ", ", ")")
}

abstract class UnaryKernel[A] extends UnaryExpression with GraftKernel {
  protected def call(a: A): Any
  override protected def nullSafeEval(a: Any): Any = call(a.asInstanceOf[A])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, staticCall(_))
}

abstract class BinaryKernel[A, B] extends BinaryExpression with GraftKernel {
  protected def call(a: A, b: B): Any
  override protected def nullSafeEval(a: Any, b: Any): Any =
    call(a.asInstanceOf[A], b.asInstanceOf[B])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, staticCall(_, _))
}

abstract class QuaternaryKernel[A, B, C, D] extends QuaternaryExpression with GraftKernel {
  protected def call(a: A, b: B, c: C, d: D): Any
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    call(a.asInstanceOf[A], b.asInstanceOf[B], c.asInstanceOf[C], d.asInstanceOf[D])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, staticCall(_, _, _, _))
}

object GraftKernel {
  val LongArray: DataType = ArrayType(LongType)
  val DoubleArray: DataType = ArrayType(DoubleType)
  val FloatOrDoubleArray = org.apache.spark.sql.graft.KernelTypes.FloatOrDoubleArray

  /** Whether a float-or-double array argument holds floats. */
  def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

import GraftKernel._

/** Haversine great-circle distance in km, as a quaternary kernel.
  * Semantically identical to the pure-column formulation
  * in ScalarFuncs.haversineKm (same op order → same doubles).
  */
case class HaversineExpr(first: Expression, second: Expression,
                         third: Expression, fourth: Expression)
  extends QuaternaryKernel[Double, Double, Double, Double] {
  override def prettyName: String = "graft_haversine"
  override def inputTypes = Seq.fill(4)(DoubleType)
  override def dataType: DataType = DoubleType
  protected def fn = "graft.functions.HaversineExpr.compute"
  protected def call(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Any =
    HaversineExpr.compute(lat1, lon1, lat2, lon2)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): HaversineExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object HaversineExpr {
  /** Mirrors ScalarFuncs.haversineKm op-for-op. */
  def compute(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * 6371.0 * math.atan2(math.sqrt(a), math.sqrt(1.0 - a))
  }
}

/** 64-bit polynomial rolling hash of a string (base-31 over UTF-8 bytes) —
  * the document-fingerprinting kernel.
  */
case class RollingHashExpr(child: Expression) extends UnaryKernel[UTF8String] {
  override def prettyName: String = "graft_rolling_hash"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  protected def fn = "graft.functions.RollingHashExpr.compute"
  protected def call(s: UTF8String): Any = RollingHashExpr.compute(s)

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

object RollingHashExpr {
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L // large prime seed
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    h
  }
}

/** Codegen'd dot product over two float/double arrays, accumulating in
  * double with a strict left fold — the same op sequence as
  * aggregate(zip_with(a, b, _*_), 0.0, _+_), so results are bit-identical
  * to the HOF formulation (and to the DuckDB oracle twins), but evaluated
  * as one tight loop instead of per-element interpreted lambdas. The
  * vector-similarity hot path: at 13M pairs × 64 dims the HOF version
  * dominated the whole bench.
  */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "graft_dot"
  override def inputTypes = Seq(FloatOrDoubleArray, FloatOrDoubleArray)
  override def dataType: DataType = DoubleType
  protected def fn = "graft.functions.DotProductExpr.dot"
  override protected def params: Seq[Any] = Seq(isFloat(left), isFloat(right))
  protected def call(a: ArrayData, b: ArrayData): Any =
    DotProductExpr.dot(a, b, isFloat(left), isFloat(right))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData,
          aFloat: Boolean, bFloat: Boolean): Double = {
    val n = LongVecKernels.shape(a, b, "graft_dot")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) LongVecKernels.nullElem("graft_dot", i)
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}

/** Exact int64 vector kernels over `array<long>` pairs, codegen'd — the
  * quantized-embedding hot path. Spark's `zip_with`/`aggregate` HOFs are
  * `CodegenFallback`: each pair evaluation allocates the zipped array and
  * interprets two lambdas per element, which dominates every anchor×corpus
  * and vector×centroid loop in the embed family (the same bottleneck
  * [[DotProductExpr]] removed for the float/double cosine path). These
  * evaluate the identical op sequence — `Σ(aᵢ−bᵢ)²` / `Σ aᵢ·bᵢ`, left to
  * right — as ONE tight long loop, so results are bit-identical to the
  * HOF formulation and to the DuckDB unnest-twins. Arithmetic uses
  * `Math.{subtract,multiply,add}Exact`, preserving the ANSI loud-overflow
  * contract the interpreted path had (a silent wrap would poison exact
  * readouts downstream; micro-quantized 64-dim inputs sit ~4 decimal
  * orders inside the envelope).
  */
case class LongSqL2Expr(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "graft_sql2"
  override def inputTypes = Seq(LongArray, LongArray)
  override def dataType: DataType = LongType
  protected def fn = "graft.functions.LongVecKernels.sqL2"
  protected def call(a: ArrayData, b: ArrayData): Any = LongVecKernels.sqL2(a, b)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LongSqL2Expr =
    copy(left = newLeft, right = newRight)
}

/** Exact int64 dot product over `array<long>` — see [[LongSqL2Expr]]. */
case class LongDotExpr(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "graft_ldot"
  override def inputTypes = Seq(LongArray, LongArray)
  override def dataType: DataType = LongType
  protected def fn = "graft.functions.LongVecKernels.dot"
  protected def call(a: ArrayData, b: ArrayData): Any = LongVecKernels.dot(a, b)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LongDotExpr =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two `array<long>` agree — the MinHash
  * signature-agreement estimator's inner fold (see [[LongSqL2Expr]] for
  * why the HOF form is hot: 157k calibration pairs × 32 perms ran as
  * interpreted lambdas). Mirrors
  * aggregate(zip_with(a, b, (x,y) -> if(x=y, 1L, 0L)), 0L, +) exactly.
  */
case class LongEqCountExpr(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "graft_eqcount"
  override def inputTypes = Seq(LongArray, LongArray)
  override def dataType: DataType = LongType
  protected def fn = "graft.functions.LongVecKernels.eqCount"
  protected def call(a: ArrayData, b: ArrayData): Any = LongVecKernels.eqCount(a, b)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LongEqCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Max |aᵢ−bᵢ| over two `array<double>` — the angular-prefix prune's
  * inner loop (dedupEmbedCosine ran `exists(zip_with(ta, tb,
  * |x−y| > θ))` interpreted per BLOCKED PAIR). `max|x−y| > θ` is the
  * same boolean for any θ ≥ 0, so swapping the predicate to
  * `graft_maxabsdiff(ta, tb) <= θ` keeps the pair set bit-identical
  * while the loop runs codegen'd — INCLUDING on NaN: Spark compares
  * doubles nan-safely (NaN sorts above all values, so the exists-form
  * `NaN > θ` was TRUE ⇒ pair pruned), and the kernel mirrors that by
  * propagating NaN (see [[LongVecKernels.maxAbsDiff]]), which the
  * consumer's nan-safe `<= θ` reads as FALSE ⇒ same prune. Empty
  * arrays read 0.0 (= exists-over-empty ⇒ keep, since θ > 0).
  */
case class DoubleMaxAbsDiffExpr(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "graft_maxabsdiff"
  override def inputTypes = Seq(DoubleArray, DoubleArray)
  override def dataType: DataType = DoubleType
  protected def fn = "graft.functions.LongVecKernels.maxAbsDiff"
  protected def call(a: ArrayData, b: ArrayData): Any = LongVecKernels.maxAbsDiff(a, b)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DoubleMaxAbsDiffExpr =
    copy(left = newLeft, right = newRight)
}

/** |A∩B| of two STRICTLY-ASCENDING `array<long>` inputs via a single
  * allocation-free merge pass — the blocked set-similarity hot loop
  * (r22). Spark's `array_intersect` builds a fresh OpenHashSet of one
  * side PER ROW; on the containment/Jaccard pair relations (~160k
  * pairs × ~23-token sets at sf0.1) that per-pair hashing plus the
  * string-array join carry was 80% of the whole query (measured 3.3 s
  * full vs 0.65 s join-only). Producers hash + sort once per DOCUMENT
  * (`array_sort(transform(array_distinct(…), xxhash64))`), so each
  * PAIR costs one primitive O(|A|+|B|) long-compare walk and the join
  * carries fixed-width longs instead of string bytes. Result equals
  * `size(array_intersect(a, b))` of the underlying token sets absent
  * xxhash64 collisions — the same documented exactness caveat (and the
  * same hash) as the near-minhash shingle pipeline, whose oracle twin
  * computes over strings; a collision WITHIN one document's set makes
  * the producer's sorted array non-strict and throws here rather than
  * silently undercounting, but a collision ACROSS the two documents (a
  * token of A and a different token of B with one hash) is invisible
  * here and counts as shared, silently inflating |A∩B| over the
  * string-exact twin. Loud guards per the kernel discipline:
  * null elements throw, and an out-of-order or duplicate element in
  * the VISITED prefix throws (sortedness of the walked region is what
  * correctness rests on; the merge detects violations for free as it
  * advances).
  */
case class SortedInterSizeLongExpr(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "graft_inter_size_l"
  override def inputTypes = Seq(LongArray, LongArray)
  override def dataType: DataType = LongType
  protected def fn = "graft.functions.SortedInterSizeLongExpr.interSize"
  protected def call(a: ArrayData, b: ArrayData): Any = SortedInterSizeLongExpr.interSize(a, b)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedInterSizeLongExpr =
    copy(left = newLeft, right = newRight)
}

object SortedInterSizeLongExpr {
  private def unsorted(side: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"graft_inter_size_l: $side array not strictly ascending at position $i; " +
        "inputs must be array_sort over distinct elements " +
        "(a duplicate here can also mean an intra-document hash collision)")

  def interSize(a: org.apache.spark.sql.catalyst.util.ArrayData,
                b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i)) LongVecKernels.nullElem("graft_inter_size_l", i)
      if (b.isNullAt(j)) LongVecKernels.nullElem("graft_inter_size_l", j)
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (i > 0 && a.getLong(i - 1) >= x) unsorted("left", i)
      if (j > 0 && b.getLong(j - 1) >= y) unsorted("right", j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Word n-grams of a single-space-tokenized string as ONE codegen'd
  * byte-scan (r22). Semantics are EXACTLY
  * `slice(zip_with(toks, slice(toks, 2, …), concat_ws(" ", _, _)), …)`
  * over `toks = split(text, " ")` (Spark split keeps trailing empties;
  * so does this scan): because the join separator equals the split
  * separator, gram i IS the raw byte range from the start of token i
  * to the end of token i+n−1 — including the empty-token runs the
  * zip_with form preserves — so each gram is one bounds-checked byte
  * copy, no per-element interpreted lambdas (the HOF chain is
  * CodegenFallback and was ~0.9 s of q_contamination's 1.95 s at
  * sf0.1). 0x20 never occurs inside a UTF-8 multi-byte sequence
  * (continuation bytes are ≥ 0x80), so the byte scan is
  * encoding-safe. T < n yields an EMPTY array, matching the
  * `when(n >= …)` guard of the column form.
  */
case class NgramsExpr(child: Expression, n: Int) extends UnaryKernel[UTF8String] {
  override def prettyName: String = "graft_ngrams"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected def fn = "graft.functions.NgramsExpr.compute"
  override protected def params: Seq[Any] = Seq(n)
  protected def call(s: UTF8String): Any = NgramsExpr.compute(s, n)
  override protected def rangeError: Option[String] =
    Option.when(n < 1)(s"requires n >= 1, got $n")

  override protected def withNewChildInternal(newChild: Expression): NgramsExpr =
    copy(child = newChild)
}

object NgramsExpr {
  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var spaces = 0
    var k = 0
    while (k < len) { if (bytes(k) == ' ') spaces += 1; k += 1 }
    val tokens = spaces + 1 // split(text, " ") token count, empties kept
    if (tokens < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    // starts(i) = first byte of token i; ends(i) = one past its last byte
    val starts = new Array[Int](tokens)
    val ends = new Array[Int](tokens)
    var ti = 0
    starts(0) = 0
    k = 0
    while (k < len) {
      if (bytes(k) == ' ') { ends(ti) = k; ti += 1; starts(ti) = k + 1 }
      k += 1
    }
    ends(ti) = len
    val out = new Array[Any](tokens - n + 1)
    var i = 0
    while (i < out.length) {
      val from = starts(i)
      val until = ends(i + n - 1)
      out(i) = UTF8String.fromBytes(bytes, from, until - from)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object LongVecKernels {
  /** Shape guards shared by every pairwise vector kernel (r20, closing
    * the r19 ADVICE low): the replaced zip_with/aggregate folds
    * null-padded a length-mismatched pair and propagated a null
    * element to a NULL result — both SILENT. The kernels take the loud
    * branch of the repo's silent-vs-loud discipline instead (same
    * rationale as Math.*Exact overflow): a malformed or variable-dim
    * vector throws at the exact kernel rather than yielding a
    * plausible wrong number via min-length truncation or a null read
    * as 0. Every production call site constructs equal-length non-null
    * vectors (fixed-dim embeddings, fixed-perm signatures, literal
    * hyperplanes), so the guards are unreachable there; Round20Spec
    * pins both throw paths. The null check is FUSED into each
    * arithmetic loop (one bitmap word read + predictable branch per
    * element — a separate pre-scan loop measured ~6% on the embed
    * family by doubling array traversal; the fused form measured
    * within host noise of the unguarded kernel) with the throw bodies
    * out-of-line so the hot loops stay compact for the JIT.
    */
  def shape(a: org.apache.spark.sql.catalyst.util.ArrayData,
            b: org.apache.spark.sql.catalyst.util.ArrayData,
            fn: String): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"$fn: vector length mismatch ($n vs ${b.numElements()}); " +
          "pairwise kernels require equal-dimension inputs")
    n
  }

  /** Out-of-line throw for the fused per-element null guard. */
  def nullElem(fn: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"$fn: null element at position $i; " +
        "pairwise kernels require non-null vector elements")

  /** NaN-PROPAGATING (r20, fixing the r19 ADVICE misclaim): Spark
    * compares doubles nan-safely (NaN sorts above everything, so
    * `NaN > θ` is TRUE), which means the replaced
    * `exists(zip_with(|x−y| > θ))` form PRUNED a NaN-diff pair. A
    * primitive Java `d > acc` would silently IGNORE the NaN and keep
    * the pair — so the kernel returns NaN whenever any diff is NaN
    * (after the full null scan: a null element anywhere still throws,
    * loud-shape contract first), and the consumer's nan-safe
    * `graft_maxabsdiff(..) <= θ` reads FALSE (NaN above θ), rejecting
    * the pair exactly like the SQL exists-form did. Unreachable in dedupEmbedCosine today (thetas
    * are clamped through greatest/least before acos), but pinned by a
    * Round20Spec vector so the semantics survive refactors. Empty
    * arrays read 0.0 (= exists-over-empty ⇒ keep, since θ > 0).
    */
  def maxAbsDiff(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = shape(a, b, "graft_maxabsdiff")
    var acc = 0.0
    var nan = false
    var i = 0
    // no early return on NaN: the null guard must see EVERY position
    // (a null after a NaN diff is still malformed content and must
    // throw — loud-shape contract first, NaN propagation second)
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) nullElem("graft_maxabsdiff", i)
      val d = Math.abs(a.getDouble(i) - b.getDouble(i))
      if (d != d) nan = true
      else if (d > acc) acc = d
      i += 1
    }
    if (nan) Double.NaN else acc
  }

  def eqCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = shape(a, b, "graft_eqcount")
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) nullElem("graft_eqcount", i)
      if (a.getLong(i) == b.getLong(i)) acc += 1L
      i += 1
    }
    acc
  }

  def sqL2(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = shape(a, b, "graft_sql2")
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) nullElem("graft_sql2", i)
      val d = Math.subtractExact(a.getLong(i), b.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }

  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = shape(a, b, "graft_ldot")
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) nullElem("graft_ldot", i)
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    acc
  }
}

/** Jaro-Winkler similarity over UTF-8 bytes, codegen'd — the fuzzy-name
  * scorer Spark lacks (it ships only levenshtein). Semantics are pinned
  * empirically to the RapidFuzz formulation DuckDB exposes as
  * jaro_winkler_similarity, so oracle queries can use the builtin
  * directly: byte-level comparison (not codepoints), match window
  * max(l1,l2)/2 − 1, two-pass transposition count, Winkler prefix boost
  * (cap 4, weight 0.1) applied only when jaro > 0.7, and any empty input
  * — including both empty — scores 0.0. The double arithmetic follows
  * the same (m/l1 + m/l2 + (m−t)/m)/3 op order as the reference
  * implementations so cross-engine values are bit-identical.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
  extends BinaryKernel[UTF8String, UTF8String] {
  override def prettyName: String = "graft_jaro_winkler"
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  protected def fn = "graft.functions.JaroWinklerExpr.sim"
  protected def call(a: UTF8String, b: UTF8String): Any = JaroWinklerExpr.sim(a, b)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerExpr {
  def sim(aS: UTF8String, bS: UTF8String): Double = {
    val a = aS.getBytes
    val b = bS.getBytes
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val f1 = new Array[Boolean](l1)
    val f2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!f2(j) && a(i) == b(j)) { f1(i) = true; f2(j) = true; m += 1; found = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (f1(i)) {
        while (!f2(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    val jaro = (mm / l1 + mm / l2 + (mm - t / 2) / mm) / 3.0
    if (jaro <= 0.7) return jaro
    val maxP = math.min(4, math.min(l1, l2))
    var p = 0
    while (p < maxP && a(p) == b(p)) p += 1
    jaro + 0.1 * p * (1.0 - jaro)
  }
}

/** FULL Damerau-Levenshtein distance (Lowrance-Wagner, with the
  * last-occurrence table — adjacent-transposition blocks can move, so
  * e.g. CA→ABC is 2, where the restricted OSA variant says 3), over
  * UTF-8 bytes. Pinned empirically to DuckDB's damerau_levenshtein so
  * oracles can use the builtin: byte alphabet (256-entry da table),
  * integer output, empty-string distance = other length. Complements
  * Spark's builtin levenshtein and graft_jaro_winkler.
  */
case class DamerauLevenshteinExpr(left: Expression, right: Expression)
  extends BinaryKernel[UTF8String, UTF8String] {
  override def prettyName: String = "graft_damerau_levenshtein"
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  protected def fn = "graft.functions.DamerauLevenshteinExpr.dist"
  protected def call(a: UTF8String, b: UTF8String): Any = DamerauLevenshteinExpr.dist(a, b)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DamerauLevenshteinExpr =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshteinExpr {
  def dist(aS: UTF8String, bS: UTF8String): Int = {
    val a = aS.getBytes
    val b = bS.getBytes
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0) return l2
    if (l2 == 0) return l1
    val inf = l1 + l2
    // d is (l1+2) x (l2+2) with a sentinel border row/col of `inf`
    val d = Array.ofDim[Int](l1 + 2, l2 + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= l1) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= l2) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    val da = new Array[Int](256)
    i = 1
    while (i <= l1) {
      var db = 0
      j = 1
      while (j <= l2) {
        val k = da(b(j - 1) & 0xff)
        val l = db
        var cost = 1
        if (a(i - 1) == b(j - 1)) { cost = 0; db = j }
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
        j += 1
      }
      da(a(i - 1) & 0xff) = i
      i += 1
    }
    d(l1 + 1)(l2 + 1)
  }
}

/** Count-Min point estimate: min over the sketch rows of the counter
  * addressed by the same (hash, row) columns the aggregate incremented
  * (shared [[CountMinAgg.col]]).
  */
case class CmsEstimateExpr(left: Expression, right: Expression,
                           depth: Int, width: Int)
  extends BinaryKernel[ArrayData, Long] {
  override def prettyName: String = "graft_cms_estimate"
  override def inputTypes = Seq(LongArray, LongType)
  override def dataType: DataType = LongType
  protected def fn = "graft.functions.CountMinAgg.estimate"
  override protected def params: Seq[Any] = Seq(depth, width)
  protected def call(sketch: ArrayData, h: Long): Any = CountMinAgg.estimate(sketch, h, depth, width)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CmsEstimateExpr =
    copy(left = newLeft, right = newRight)
}

/** Registration: every `graft_*` function, by SQL name, for SQL and
  * `expr()`:
  *  - the scalar kernels of this file and SketchAggs.scala:
  *    graft_haversine, graft_rolling_hash, graft_dot, graft_sql2,
  *    graft_ldot, graft_eqcount, graft_maxabsdiff, graft_inter_size_l,
  *    graft_ngrams, graft_jaro_winkler, graft_damerau_levenshtein,
  *    graft_minhash_sig_arr, graft_sign_lsh and graft_cms_estimate;
  *  - the sketch aggregates graft_minhash_sig, graft_simhash and
  *    graft_cms_agg (SketchAggs.scala);
  *  - Spark's bloom filter pair as graft_bloom_agg and graft_might_contain;
  *  - the spatial predicates graft_pip and graft_bbox_contains
  *    (GeoExpressions.scala).
  */
object GraftFunctions {
  /** Sketch-parameter arguments (depth, width, #perms …) must be integer
    * literals — they size aggregation buffers at planning time. Checking
    * foldability here turns a mistyped `graft_cms_agg(h, d_col, w)` into
    * a clear analysis error instead of an opaque eval/cast exception.
    */
  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval() match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: argument '$arg' must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be a literal (foldable), got ${e.sql}")
  }

  /** Name → builder of every function; graft_haversine, the first, is the
    * sentinel [[register]] probes. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_haversine" -> (e => HaversineExpr(Cast(e(0), DoubleType), Cast(e(1), DoubleType),
      Cast(e(2), DoubleType), Cast(e(3), DoubleType))),
    "graft_rolling_hash" -> (e => RollingHashExpr(e(0))),
    "graft_dot" -> (e => DotProductExpr(e(0), e(1))),
    "graft_sql2" -> (e => LongSqL2Expr(e(0), e(1))),
    "graft_ldot" -> (e => LongDotExpr(e(0), e(1))),
    "graft_eqcount" -> (e => LongEqCountExpr(e(0), e(1))),
    "graft_maxabsdiff" -> (e => DoubleMaxAbsDiffExpr(e(0), e(1))),
    "graft_inter_size_l" -> (e => SortedInterSizeLongExpr(e(0), e(1))),
    "graft_ngrams" -> (e => NgramsExpr(e(0), intLit(e(1), "graft_ngrams", "n"))),
    "graft_jaro_winkler" -> (e => JaroWinklerExpr(e(0), e(1))),
    "graft_damerau_levenshtein" -> (e => DamerauLevenshteinExpr(e(0), e(1))),
    "graft_minhash_sig" -> (e => MinHashSigAgg(e(0),
      intLit(e(1), "graft_minhash_sig", "num_perms")).toAggregateExpression()),
    "graft_simhash" -> (e => SimHashAgg(e(0)).toAggregateExpression()),
    "graft_minhash_sig_arr" -> (e => MinHashSigExpr(e(0),
      intLit(e(1), "graft_minhash_sig_arr", "num_perms"))),
    "graft_sign_lsh" -> (e => SignLshSigExpr(e(0), intLit(e(1), "graft_sign_lsh", "num_bits"),
      intLit(e(2), "graft_sign_lsh", "seed"))),
    "graft_cms_agg" -> (e => CountMinAgg(e(0), intLit(e(1), "graft_cms_agg", "depth"),
      intLit(e(2), "graft_cms_agg", "width")).toAggregateExpression()),
    "graft_cms_estimate" -> (e => CmsEstimateExpr(e(0), e(1),
      intLit(e(2), "graft_cms_estimate", "depth"), intLit(e(3), "graft_cms_estimate", "width"))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its own
    // runtime filters but does not expose them in the SQL registry; surface
    // them so the explicit runtime-filter pattern is scriptable.
    "graft_bloom_agg" -> (e => new aggregate.BloomFilterAggregate(e(0), e(1), e(2))
      .toAggregateExpression()),
    "graft_might_contain" -> (e => BloomFilterMightContain(e(0), e(1))),
    "graft_pip" -> (e => PointInPolygonExpr(e(0), e(1), e(2))),
    "graft_bbox_contains" -> (e => BBoxContainsExpr(e(0), e(1), e(2))))

  /** Registers every `graft_*` function in the session; programs reach it
    * through [[graft.GraftSession.install]]. Once per session: install
    * runs before every query build, and re-registering the functions per
    * call is pure overhead plus a WARN line each in the log. The
    * "already registered" check reads the session's own function registry
    * (probe one sentinel function) rather than a static identity-hash
    * memo: registry state lives and dies with the session, so there is
    * nothing to leak and no hash collision that could silently skip
    * registration for a new session.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (registry.functionExists(FunctionIdentifier("graft_haversine"))) return
    builders.foreach { case (name, build) =>
      registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
