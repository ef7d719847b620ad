package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native forms of the [[graft.operators.TextHash]] hash folds.
  *
  * The SQL higher-order-function versions (`aggregate`/`transform`)
  * are interpreted with per-element boxing — at sf0.1 the SimHash and
  * MinHash stages alone cost 200–450 s. These expressions compute the
  * *identical* integer recurrences as compiled loops (and the DuckDB
  * oracles are unchanged), cutting those stages to milliseconds.
  *
  * Each expression implements `doGenCode` as a call to its companion's
  * static forwarder, so the containing projection stays inside ONE
  * whole-stage-codegen span — a CodegenFallback here would force the
  * generated code to materialize an InternalRow and re-enter the
  * interpreter per row, splitting the hot dedup pipelines' stages.
  */

/** The deterministic pseudo-random "plane" value shared by the LSH
  * hyperplanes, IVF centroids and PQ codebook — ONE definition of the
  * multiplier/modulus/scale formula all three DuckDB oracles
  * regenerate; only the addend distinguishes the families. */
private[functions] object Lcg {
  def plane(idx: Long, addend: Long): Double =
    ((1103515245L * idx + addend) % 2147483648L).toDouble / 2147483648.0 - 0.5
}

/** Rolling polynomial hash (seed 7, base 31, mod `mod`) of every
  * element of an array<string>; empty string → seed; a null element
  * hashes to a null element (as the `transform` HOF form would). */
case class RollingHashArray(child: Expression, modExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = modExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(arr: Any, m: Any): Any =
    RollingHashArray.hashArr(arr.asInstanceOf[ArrayData], m.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m) =>
      s"${ev.value} = graft.functions.RollingHashArray.hashArr($a, $m);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): RollingHashArray = copy(l, r)
}

object RollingHashArray {
  def hash(s: UTF8String, mod: Long): Long = {
    val str = s.toString
    var acc = 7L
    var j = 0
    while (j < str.length) {
      acc = (acc * 31 + str.charAt(j).toLong) % mod
      j += 1
    }
    acc
  }

  def hashArr(a: ArrayData, mod: Long): ArrayData = {
    val out = new Array[Any](a.numElements())
    var i = 0
    while (i < out.length) {
      val s = if (a.isNullAt(i)) null else a.getUTF8String(i)
      out(i) = if (s == null) null else hash(s, mod)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Rolling hash of a single string column. */
case class RollingHashStr(child: Expression, modExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = modExpr
  override def dataType: DataType = LongType

  override def nullSafeEval(s: Any, m: Any): Any =
    RollingHashArray.hash(s.asInstanceOf[UTF8String], m.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, m) =>
      s"${ev.value} = graft.functions.RollingHashArray.hash($s, $m);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): RollingHashStr = copy(l, r)
}

/** MinHash signature: sig[i] = min over h of ((2i+1)·h + 7919·(i+1))
  * mod 1e9+7, for i in 0 until k. An EMPTY (or null-element) input
  * yields NULL, never a sentinel signature — a Long.MaxValue-filled
  * signature would make every empty document a 32/32 "near-duplicate"
  * of every other one, the opposite of no-evidence. (The dedup
  * pipeline filters n_sh > 0 before signing; this guards direct SQL
  * callers of `affine_minhash`.) */
case class AffineMinHash(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = kExpr
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(arr: Any, kAny: Any): Any =
    AffineMinHash.sig(arr.asInstanceOf[ArrayData], kAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) => s"""
      |${ev.value} = graft.functions.AffineMinHash.sig($a, $k);
      |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): AffineMinHash = copy(l, r)
}

object AffineMinHash {
  def sig(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    var c = 0
    while (c < n) { if (arr.isNullAt(c)) return null; c += 1 }
    val a = arr.toLongArray()
    val p = 1000000007L
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      var mn = Long.MaxValue
      var j = 0
      while (j < a.length) {
        val v = ((2 * i + 1) * a(j) + 7919L * (i + 1)) % p
        if (v < mn) mn = v
        j += 1
      }
      out(i) = mn
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** 32-bit SimHash of an array of token hashes (already mod 2^32):
  * bit b set iff sum over h of ±1 (per bit b of h) is positive. */
case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(arr: Any): Any =
    SimHash32.fp(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHash32.fp($a)")

  override protected def withNewChildInternal(c: Expression): SimHash32 =
    copy(c)
}

object SimHash32 {
  def fp(arr: ArrayData): Long = {
    val a = arr.toLongArray()
    var fp = 0L
    var b = 0
    while (b < 32) {
      var s = 0
      var j = 0
      while (j < a.length) {
        if (((a(j) >> b) & 1L) == 1L) s += 1 else s -= 1
        j += 1
      }
      if (s > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}

/** 16-bit random-hyperplane LSH signature of an array<float> vector:
  * bit j = sign of dot(v, r_j) with r_j[d] = LCG(j*64+d)/2^31 - 0.5 —
  * identical math (and fold order) to the SQL/DuckDB formula; the
  * hyperplanes are precomputed once per JVM instead of per row. */
case class LshSig16(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(arr: Any): Any =
    LshSig16.sigOf(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.LshSig16.sigOf($a)")

  override protected def withNewChildInternal(c: Expression): LshSig16 =
    copy(c)
}

object LshSig16 {
  /** r(j, d) for j in 0..15, d in 1..64, flattened; [[Lcg.plane]] of
    * j·64+d with addend 12345. */
  lazy val planes: Array[Double] =
    Array.tabulate(16 * 64)(i => Lcg.plane(i + 1, 12345L))

  def sigOf(arr: ArrayData): Long = {
    val v = arr.toFloatArray()
    val r = planes
    var sig = 0L
    var j = 0
    while (j < 16) {
      var acc = 0.0
      var d = 1
      while (d <= 64 && d <= v.length) {
        acc += v(d - 1).toDouble * r(j * 64 + d - 1)
        d += 1
      }
      if (acc > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** Width-parameterized banded random-hyperplane LSH keys of an
  * array<float> vector: `array(key_0 .. key_3)` where band b's key
  * packs `nbits` sign bits, bit j = sign of dot(v, r_{b·nbits+j}) on
  * the same LCG hyperplane family as [[LshSig16]] (`lsh_bands(v, 4)`
  * reproduces its four 4-bit bands exactly). The point of the width
  * parameter: candidate generation over band buckets costs
  * Θ(n²/2^nbits) per band, so `nbits` must grow with log₂(n) for the
  * bucket join to stay linear — see
  * [[graft.operators.Similarity.lshBandBits]] for the sizing rule. */
case class LshBands(child: Expression, nbitsExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = nbitsExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(arr: Any, nb: Any): Any =
    LshBands.bandsOf(arr.asInstanceOf[ArrayData], nb.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, n) => s"graft.functions.LshBands.bandsOf($a, $n)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LshBands = copy(l, r)
}

object LshBands {
  val Bands = 4

  /** Hyperplane tables per requested width, built once per JVM (the
    * nbits=4 table is LshSig16.planes verbatim). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private def planes(nHyper: Int): Array[Double] =
    planeCache.computeIfAbsent(nHyper,
      n => Array.tabulate(n * 64)(i => Lcg.plane(i + 1, 12345L)))

  def bandsOf(arr: ArrayData, nbits: Int): GenericArrayData = {
    require(nbits >= 1 && nbits <= 62,
      s"lsh_bands nbits must be in [1, 62], got $nbits")
    val v = arr.toFloatArray()
    val r = planes(Bands * nbits)
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var key = 0L
      var j = 0
      while (j < nbits) {
        val h = b * nbits + j
        var acc = 0.0
        var d = 1
        while (d <= 64 && d <= v.length) {
          acc += v(d - 1).toDouble * r(h * 64 + d - 1)
          d += 1
        }
        if (acc > 0) key |= (1L << j)
        j += 1
      }
      out(b) = key
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** IVF coarse quantizer: the `nprobe` nearest of 16 fixed centroids
  * (by dot product, ties → lower id), in rank order. Centroid d-th
  * component = LCG(k·64+d, addend 54321)/2^31 − 0.5 — deterministic and
  * engine-portable like [[LshSig16]]'s hyperplanes. Production IVF
  * would load k-means centroids trained offline; assignment, bucketing,
  * and probing keep exactly this shape. */
case class IvfAssign(child: Expression, nprobeExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = nprobeExpr
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(arr: Any, np: Any): Any =
    IvfAssign.assign(arr.asInstanceOf[ArrayData], np.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, np) =>
      s"${ev.value} = graft.functions.IvfAssign.assign($a, $np);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IvfAssign = copy(l, r)
}

object IvfAssign {
  val K = 16
  /** c(k, d) for k in 0..15, d in 1..64, flattened; [[Lcg.plane]] of
    * k·64+d with addend 54321. */
  lazy val centroids: Array[Double] =
    Array.tabulate(K * 64)(i => Lcg.plane(i + 1, 54321L))

  def assign(arr: ArrayData, nprobe: Int): ArrayData = {
    val v = arr.toFloatArray()
    val c = centroids
    val dots = new Array[Double](K)
    var k = 0
    while (k < K) {
      var acc = 0.0
      var d = 1
      while (d <= 64 && d <= v.length) {
        acc += v(d - 1).toDouble * c(k * 64 + d - 1)
        d += 1
      }
      dots(k) = acc
      k += 1
    }
    val order = (0 until K).sortBy(i => (-dots(i), i))
    new GenericArrayData(order.take(nprobe).toArray)
  }
}

/** `lloyd_argmin(array<bigint>, array<struct<bucket:int,c:array<bigint>>>)`
  * → struct<bucket:int, d2:bigint>: the k-means assignment step over
  * TRAINED centroids (the data-derived half [[IvfAssign]]'s fixed
  * quantizer deliberately lacks). Squared L2 in exact BIGINT over the
  * e6-floored components; strict `<` keeps the FIRST minimum, so with
  * a bucket-ascending centroid array ties break to the smallest
  * bucket — the oracle's (d2, bucket) rule.
  *
  * Exists for the constant factor, not the plan shape: the same
  * argmin as a `aggregate(transform(cents, … zip_with …))` fold is
  * interpreted per element and allocates a boxed 64-long array per
  * (vector, centroid) pair — measured 8.2 s for s26 at the ×10 dir
  * (50k vectors × K=79 ≈ 4M allocations per Lloyd round) where this
  * primitive loop reads both ArrayDatas in place and allocates only
  * the 2-field result row. */
case class LloydArgmin(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LloydArgmin.outType

  override def nullSafeEval(x: Any, cents: Any): Any =
    LloydArgmin.argmin(x.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, c) =>
      s"${ev.value} = graft.functions.LloydArgmin.argmin($x, $c);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LloydArgmin = copy(l, r)
}

object LloydArgmin {
  val outType: StructType = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("d2", LongType, nullable = false)))

  def argmin(x: ArrayData, cents: ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = x.numElements()
    val k = cents.numElements()
    // degenerate/corrupt state must fail loudly (the Pq.checkDims
    // rule): an empty centroid array or a dim mismatch would
    // otherwise hand every vector a wrong-but-plausible bucket
    if (k == 0)
      throw new IllegalArgumentException("lloyd_argmin: empty centroid array")
    var bestBucket = 0
    var bestD2 = Long.MaxValue
    var i = 0
    while (i < k) {
      val row = cents.getStruct(i, 2)
      val c = row.getArray(1)
      if (c.numElements() != n)
        throw new IllegalArgumentException(
          s"lloyd_argmin: centroid dims ${c.numElements()} != vector dims $n")
      var d2 = 0L
      var d = 0
      while (d < n) {
        val diff = x.getLong(d) - c.getLong(d)
        d2 += diff * diff
        d += 1
      }
      if (d2 < bestD2) { bestD2 = d2; bestBucket = row.getInt(0) }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestBucket, bestD2)
  }
}

object TextHashExprs {
  /** Every native SQL function, by name. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "lloyd_argmin" -> (es => LloydArgmin(es(0), es(1))),
    "ivf_assign" -> (es => IvfAssign(es(0), es(1))),
    "rolling_hash_arr" -> (es => RollingHashArray(es(0), es(1))),
    "rolling_hash_str" -> (es => RollingHashStr(es(0), es(1))),
    "affine_minhash" -> (es => AffineMinHash(es(0), es(1))),
    "simhash32" -> (es => SimHash32(es(0))),
    "lsh_sig16" -> (es => LshSig16(es(0))),
    "lsh_bands" -> (es => LshBands(es(0), es(1))),
    "pq_encode" -> (es => PqEncode(es(0))),
    "pq_adc_e6" -> (es => PqAdcE6(es(0), es(1))),
    "float_dot" -> (es => FloatVecDot(es(0), es(1))),
    "argmax_long" -> ArgMaxLong.build)

  /** Install every native SQL function into the session's registry,
    * skipping names it already holds: repeated calls (one per
    * `Tables.t`) neither rebuild an entry nor log a replacement. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
