package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization primitives: the compressed-vector half of the
  * IVF-PQ layout every billion-scale ANN index uses (IVF = coarse
  * routing, [[IvfAssign]]; PQ = in-cell compression, this file).
  *
  * A 64-dim float vector (256 bytes) compresses to M=8 one-byte codes:
  * subspace s (dims 8s..8s+7) is replaced by the id of its nearest of
  * K=16 codebook centroids. Search then scores candidates with the
  * asymmetric distance (ADC): the sum over subspaces of the squared
  * distance between the *query's* subvector and the *candidate's
  * centroid* — no candidate vector is ever decompressed.
  *
  * Like [[IvfAssign]], the codebook is deterministic pseudo-random
  * (LCG, addend 77777) so the DuckDB oracle regenerates it exactly;
  * production swaps in per-subspace k-means codebooks with identical
  * plan shapes. Per-subspace distances fold in ascending dim order
  * (bit-identical to the oracle's `list_reduce`) and are exposed as
  * floor(1e6·d) longs, so the ADC total is an order-free integer sum.
  */
object Pq {
  val M = 8 // subspaces
  val K = 16 // centroids per subspace
  val Dsub = 8 // dims per subspace

  /** Flattened codebook: entry ((s·K + k)·Dsub + d) for d in 0..7 is
    * LCG((s·16 + k)·8 + d + 1). */
  lazy val codebook: Array[Double] =
    Array.tabulate(M * K * Dsub)(i => Lcg.plane(i + 1, 77777L))

  val codeType: StructType = StructType(Seq(
    StructField("code", IntegerType, nullable = false),
    StructField("err_e6", LongType, nullable = false)))

  /** Squared L2 distance between subspace `s` of `v` and centroid `k`,
    * accumulated in ascending dim order. */
  private def subDist(v: Array[Float], s: Int, k: Int): Double = {
    val c = codebook
    var acc = 0.0
    var d = 0
    while (d < Dsub) {
      val x = v(s * Dsub + d).toDouble - c((s * K + k) * Dsub + d)
      acc += x * x
      d += 1
    }
    acc
  }

  /** PQ requires exactly M·Dsub dims; a short vector is corrupt input
    * and must fail loudly — silently zero-padding here while the
    * DuckDB oracle NULLs out-of-range indexes would surface as a
    * baffling hash mismatch instead of an error. */
  private def checkDims(v: Array[Float]): Unit =
    if (v.length != M * Dsub)
      throw new IllegalArgumentException(
        s"pq expects exactly ${M * Dsub}-dim vectors, got ${v.length}")

  /** Per-subspace (nearest-centroid id, floor(1e6·sq-dist)); ties pick
    * the lowest id. */
  def encode(arr: ArrayData): ArrayData = {
    val v = arr.toFloatArray()
    checkDims(v)
    val rows = new Array[Any](M)
    var s = 0
    while (s < M) {
      var bestK = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < K) {
        val d = subDist(v, s, k)
        if (d < bestD) { bestD = d; bestK = k }
        k += 1
      }
      rows(s) = InternalRow(bestK, math.floor(bestD * 1e6).toLong)
      s += 1
    }
    new GenericArrayData(rows)
  }

  /** Asymmetric distance between a raw query vector and a PQ-coded
    * candidate, as Σ_s floor(1e6·sq-dist(q_s, centroid[code_s])).
    * The codes array is validated like the query dims: a wrong arity
    * or an out-of-range code would otherwise read a NEIGHBORING
    * subspace's codebook region and return a wrong-but-plausible
    * distance — the silent-corruption mode checkDims exists to
    * prevent. */
  def adcE6(q: ArrayData, codes: ArrayData): Long = {
    val v = q.toFloatArray()
    checkDims(v)
    if (codes.numElements() != M)
      throw new IllegalArgumentException(
        s"pq_adc_e6 expects $M codes, got ${codes.numElements()}")
    var total = 0L
    var s = 0
    while (s < M) {
      val code = codes.getStruct(s, 2).getInt(0)
      if (code < 0 || code >= K)
        throw new IllegalArgumentException(
          s"pq code $code out of range [0, $K) at subspace $s")
      total += math.floor(subDist(v, s, code) * 1e6).toLong
      s += 1
    }
    total
  }
}

/** `pq_encode(array<float>)` → array<struct<code:int, err_e6:long>>. */
case class PqEncode(child: Expression)
    extends UnaryExpression with NativeFunction {
  def sqlName: String = "pq_encode"
  def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType =
    ArrayType(Pq.codeType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    Pq.encode(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Pq.encode($a);")

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(c)
}

/** `pq_adc_e6(array<float>, array<struct>)` → long ADC distance. */
case class PqAdcE6(left: Expression, right: Expression)
    extends BinaryExpression with NativeFunction {
  def sqlName: String = "pq_adc_e6"
  def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(Pq.codeType))

  override def dataType: DataType = LongType

  override def nullSafeEval(q: Any, codes: Any): Any =
    Pq.adcE6(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"${ev.value} = graft.functions.Pq.adcE6($q, $c);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcE6 = copy(l, r)
}
