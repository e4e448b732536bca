package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native sketch AGGREGATES (SURVEY.md §4.3 continued): the MinHash
  * signature and SimHash fingerprint as single TypedImperativeAggregate
  * kernels.
  *
  * Why not N separate agg columns: a 64-wide `agg(min(...), ...)` emits
  * 64 aggregate expressions → a multi-thousand-line generated aggregate
  * class whose Janino compilation costs multiple seconds per plan (it
  * dominated q_dedup_near_minhash's wall time), and every executor pays
  * it again on first task. One typed aggregate is a ~20-line JIT'd
  * update loop with a fixed 8·N-byte buffer, constant codegen size, and
  * identical map-side partial aggregation (the buffer serializes between
  * partial and final).
  */
object Splitmix64 {
  /** Public splitmix64 mix — deterministic constant generator. */
  def apply(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** MinHash signature: for permutation j of [[numPerms]],
  * sig(j) = min over input hashes h of rotl(h, j mod 64) ^ c_j, with
  * splitmix64 constants c_j — a distinct rotated-XOR order per
  * permutation over already-uniform 64-bit shingle hashes. Returns
  * array<bigint> of length numPerms. Insensitive to duplicate inputs
  * (min), so callers need not pre-distinct the shingle stream.
  */
case class MinHashSigAgg(
    child: Expression,
    numPerms: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def prettyName: String = "graft_minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint hash column, got ${child.dataType.simpleString}")
    else if (numPerms < 1 || numPerms > MinHashSigAgg.MaxPerms)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName supports 1..${MinHashSigAgg.MaxPerms} permutations, got $numPerms")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Long] = Array.fill(numPerms)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < numPerms) {
        val p = java.lang.Long.rotateLeft(h, j & 63) ^ MinHashSigAgg.const(j)
        if (p < buf(j)) buf(j) = p
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < numPerms) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numPerms)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numPerms)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSigAgg =
    copy(child = newChild)
}

object MinHashSigAgg {
  val MaxPerms = 256
  private val consts: Array[Long] =
    Array.tabulate(MaxPerms)(j => Splitmix64(0xD0C5EEDL + j))
  def const(j: Int): Long = consts(j)
}

/** Scalar sibling of [[MinHashSigAgg]]: the same signature from a per-row
  * ARRAY of shingle hashes (vs the aggregate's exploded rows). Same
  * permutation constants ⇒ bit-identical signatures, so batch (aggregate)
  * and streaming (per-row, no shuffle before the stateful stage) paths
  * agree exactly.
  */
case class MinHashSigExpr(child: Expression, numPerms: Int) extends UnaryKernel[ArrayData] {
  override def prettyName: String = "graft_minhash_sig_arr"
  override def inputTypes = Seq(GraftKernel.LongArray)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def fn = "graft.functions.MinHashSigExpr.compute"
  override protected def params: Seq[Any] = Seq(numPerms)
  protected def call(hashes: ArrayData): Any = MinHashSigExpr.compute(hashes, numPerms)
  override protected def rangeError: Option[String] =
    Option.when(numPerms < 1 || numPerms > MinHashSigAgg.MaxPerms)(
      s"supports 1..${MinHashSigAgg.MaxPerms} permutations, got $numPerms")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {
  def compute(hashes: org.apache.spark.sql.catalyst.util.ArrayData,
              numPerms: Int): GenericArrayData = {
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      // SKIP null elements exactly like the aggregate twin's
      // `child.eval == null` guard — getLong on a null slot reads 0L,
      // which would win min for many permutations and break the
      // bit-identical batch/stream signature contract (r20 review)
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var j = 0
        while (j < numPerms) {
          val p = java.lang.Long.rotateLeft(h, j & 63) ^ MinHashSigAgg.const(j)
          if (p < sig(j)) sig(j) = p
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** Sign-random-projection LSH signatures for ALL tables in one pass: for
  * table t, bit b of sig(t) is set iff dot(v, plane(t·P+b)) ≥ 0, with the
  * hyperplanes derived from splitmix64 exactly as the Column formulation
  * in SimilarityOps (same constants ⇒ identical buckets). Replaces
  * numTables × planesPerTable separate dot-product expression trees with
  * one kernel call — the signature subplan shrinks from ~32 `graft_dot`
  * invocations (plus conditional sums) per row to a single tight loop.
  */
case class SignLshSigExpr(child: Expression, numTables: Int, planesPerTable: Int)
  extends UnaryKernel[ArrayData] {
  override def prettyName: String = "graft_sign_lsh"
  override def inputTypes = Seq(GraftKernel.FloatOrDoubleArray)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def fn = "graft.functions.SignLshSigExpr.compute"
  override protected def params: Seq[Any] =
    Seq(GraftKernel.isFloat(child), numTables, planesPerTable)
  protected def call(v: ArrayData): Any =
    SignLshSigExpr.compute(v, GraftKernel.isFloat(child), numTables, planesPerTable)
  override protected def rangeError: Option[String] =
    Option.when(numTables < 1 || planesPerTable < 1 || planesPerTable > 64 ||
        numTables.toLong * planesPerTable > SignLshSigExpr.MaxPlanes)(
      s"needs numTables >= 1, 1..64 planes per table (a " +
        s"65th plane would alias bit 0), and at most " +
        s"${SignLshSigExpr.MaxPlanes} total planes — the matrix is " +
        s"cached per-executor, an unbounded count is an OOM at first " +
        s"task (got $numTables, $planesPerTable)")

  override protected def withNewChildInternal(newChild: Expression): SignLshSigExpr =
    copy(child = newChild)
}

object SignLshSigExpr {
  /** Analysis-time cap on numTables × planesPerTable (same rationale as
    * CountMinAgg's width cap): 4096 planes × 64 dims × 8 B ≈ 2 MiB
    * cached per executor — generous for any real LSH geometry (the repo
    * uses 8×16), and a typo'd argument fails analysis, not the cluster.
    */
  val MaxPlanes = 4096
  private val Dim = 64
  /** plane p, coord i — identical to SimilarityOps.planes: uniform in
    * [-0.5, 0.5) with splitmix64(p·64 + i) draws.
    */
  private def planeCoord(p: Int, i: Int): Double =
    (java.lang.Math.floorMod(Splitmix64(p.toLong * 64 + i), 1000L).toDouble / 1000.0) - 0.5

  private val planeCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Double]]]()
  private def planes(n: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(n, _ => Array.tabulate(n, Dim)(planeCoord))

  def compute(v: org.apache.spark.sql.catalyst.util.ArrayData, vFloat: Boolean,
              numTables: Int, planesPerTable: Int): GenericArrayData = {
    val pl = planes(numTables * planesPerTable)
    val d = math.min(Dim, v.numElements())
    val sigs = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var sig = 0L
      var b = 0
      while (b < planesPerTable) {
        val plane = pl(t * planesPerTable + b)
        var acc = 0.0
        var i = 0
        while (i < d) {
          val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
          acc += x * plane(i)
          i += 1
        }
        if (acc >= 0) sig |= (1L << b)
        b += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }
}

/** SimHash fingerprint: per input hash h, each of the 64 bit counters
  * moves by +1 if bit j of h is set else -1; the fingerprint sets bit j
  * iff counter j ends positive. Feeding one row per token OCCURRENCE is
  * equivalent to the textbook frequency-weighted form (±freq per distinct
  * token), so no pre-aggregation of token counts is needed.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < 64) {
        buf(j) += (((h >>> j) & 1L) * 2L - 1L) // +1 if bit set, else -1
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 64) { a(j) += b(j); j += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var fp = 0L
    var j = 0
    while (j < 64) { if (buf(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * 64)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashAgg =
    copy(child = newChild)
}

/** Count-Min sketch over 64-bit input hashes: a depth×width counter
  * matrix (flattened row-major); each input increments ONE counter per
  * row, at column splitmix64(h ^ c_r) mod width with a distinct
  * splitmix64-derived constant per row. Merge is elementwise add, so the
  * sketch is a full commutative monoid — map-side partials combine like
  * any sum, and the shuffled state is the fixed depth·width·8 bytes no
  * matter how many billions of items passed through (THE point at
  * 100 TB: frequency estimation without a per-key shuffle). Standard
  * guarantees: estimate ≥ true count always (one-sided), and
  * ≤ true + (e/width)·N with probability 1 − e^(−depth).
  *
  * Kept as Array[Long] in memory; serialized only between partial and
  * final aggregation (the same contract as MinHashSigAgg above).
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def prettyName: String = "graft_cms_agg"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  // width ceiling: each aggregation buffer (and every map-side partial)
  // allocates depth·width longs, so an unbounded width is an executor-OOM
  // bomb at analysis time — 2^24 columns (128 MiB/row at depth 16) is far
  // beyond any useful eps and cheap to refuse here instead of at runtime.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType && depth >= 1 && depth <= 16 &&
        width >= 16 && width <= (1 << 24))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint hash column, 1 <= depth <= 16, 16 <= width <= 2^24")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var r = 0
      while (r < depth) {
        buf(r * width + CountMinAgg.col(h, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
}

object CountMinAgg {
  /** Column for hash h in sketch row r — shared by update and estimate. */
  def col(h: Long, r: Int, width: Int): Int =
    java.lang.Math.floorMod(Splitmix64(h ^ Splitmix64(r.toLong)), width.toLong).toInt

  /** Point estimate: min over rows of the addressed counters. */
  def estimate(sketch: org.apache.spark.sql.catalyst.util.ArrayData,
               h: Long, depth: Int, width: Int): Long = {
    var est = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = sketch.getLong(r * width + col(h, r, width))
      if (c < est) est = c
      r += 1
    }
    est
  }
}
