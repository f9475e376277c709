/*
 * Lives under org.apache.spark.sql.* for the same reason as GeoExpressions:
 * Catalyst's extension surface is private[sql] in Spark 4.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native codegen vector kernels for the embedding operators (ANN search,
 * near-dup verify). The higher-order-function formulation
 * (`aggregate(zip_with(...))`) is CodegenFallback — interpreted per ELEMENT
 * with boxing, which dominated the ANN scan (same lesson as the shingle
 * path). These evaluate straight over ArrayData in one JIT-compiled loop.
 *
 * Summation order (ascending index, products then adds, separate sqrt per
 * norm) exactly matches the left-fold HOF semantics, so results are
 * bit-identical — the DuckDB oracles keep matching.
 *
 * Element types may be float or double per side (embeddings are
 * array<float>, hyperplane literals array<double>); the dispatch booleans
 * are compile-time constants in the generated code.
 */
object VecKernels {
  @inline private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def dot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(a, i, aF) * get(b, i, bF); i += 1 }
    s
  }

  def norm2(a: ArrayData, aF: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = get(a, i, aF); s += v * v; i += 1 }
    s
  }

  def cosine(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val d = dot(a, b, aF, bF)
    val n = math.sqrt(norm2(a, aF)) * math.sqrt(norm2(b, bF))
    if (n == 0.0) 0.0 else d / n
  }
}

// deliberately NOT ExpectsInputTypes: declaring array<double> inputTypes
// would make ImplicitTypeCasts wrap array<float> children in a Cast that
// re-allocates the whole array per row — the custom check below accepts
// either element type and the kernels read it in place
sealed trait VecBinaryExpr extends BinaryExpression {
  override def dataType: DataType = DoubleType

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  // accept array<float> or array<double> on either side without a cast
  // (a Cast of the whole array would re-allocate it per row)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }
}

/** dot(a, b) — ascending-index multiply-add, HOF-left-fold-identical. */
case class DotExpr(left: Expression, right: Expression) extends VecBinaryExpr {
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.VecKernels.dot($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** cosine(a, b) with the 0-norm guard of the original HOF formulation. */
case class CosineExpr(left: Expression, right: Expression) extends VecBinaryExpr {
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.VecKernels.cosine($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "vec_cosine"
}

/**
 * IVF coarse-quantizer table: centroid ids + vectors, shipped inside the
 * query plan as a reference object (`ctx.addReferenceObj`) so
 * the 10^12-row assignment pass is a single codegen projection — no join,
 * no Encoder round-trip, no shuffle. Ties break toward the lowest index,
 * which is the lowest centroid id (ids are pre-sorted).
 */
final class IvfCentroids(idsIn: Array[Long], csIn: Array[Array[Double]])
    extends Serializable {
  private val order = idsIn.indices.sortBy(idsIn)
  val ids: Array[Long] = order.map(idsIn).toArray
  val cs: Array[Array[Double]] = order.map(csIn).toArray
  require(ids.nonEmpty, "empty centroid set")

  /** id of the nearest centroid by squared L2 (argmin, first-wins ties). */
  def assign(a: ArrayData, isFloat: Boolean): Long = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      val n = math.min(a.numElements(), ctr.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val dx = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) - ctr(i)
        d += dx * dx
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    ids(best)
  }
}

/** ivf_assign(vec) → nearest-centroid id; centroids ride the plan. */
case class IvfAssignExpr(child: Expression, index: IvfCentroids)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double>, got $other")
    }
  override def nullSafeEval(a: Any): Any =
    index.assign(a.asInstanceOf[ArrayData], isFloat)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCentroids", index,
      classOf[IvfCentroids].getName)
    defineCodeGen(ctx, ev, a => s"$ref.assign($a, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ivf_assign"
}

/**
 * Product-quantization codebooks (Jégou/Douze/Schmid, "Product Quantization
 * for Nearest Neighbor Search", TPAMI 2011): the vector space is split into
 * `m` subspaces of `dsub` dims; each subspace has its own `ksub`-centroid
 * codebook; a vector encodes to `m` bytes (nearest sub-centroid per
 * subspace) — a 64-float embedding compresses 32× to 8 bytes. Queries use
 * ADC (asymmetric distance): a per-probe lookup table of
 * ||q_s − centroid_{s,c}||² makes the approximate distance `m` array reads
 * per candidate. The codebooks ride the plan as a reference object (the
 * ivf_assign pattern) so encode and LUT build are single codegen
 * projections — no join, no Encoder round-trip.
 */
final class PqCodebooks(val m: Int, val ksub: Int, val dsub: Int,
                        val cents: Array[Array[Array[Double]]]) extends Serializable {
  require(m > 0 && ksub > 0 && ksub <= 256 && cents.length == m &&
    cents.forall(cb => cb.length == ksub && cb.forall(_.length == dsub)),
    s"malformed PQ codebooks (m=$m, ksub=$ksub, dsub=$dsub)")

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** m-byte PQ code: per subspace the argmin-d² sub-centroid (first-wins). */
  def encode(a: ArrayData, isFloat: Boolean): Array[Byte] = {
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cb = cents(s)
      val off = s * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val ctr = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) { val dx = elem(a, off + i, isFloat) - ctr(i); d += dx * dx; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** [[encode]] over a plain double array (the residual-quantizer path). */
  def encodeDense(v: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cb = cents(s)
      val off = s * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val ctr = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) { val dx = v(off + i) - ctr(i); d += dx * dx; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** [[lut]] over a plain double array (the residual-quantizer path). */
  def lutDense(v: Array[Double]): ArrayData = {
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      val cb = cents(s)
      val off = s * dsub
      var c = 0
      while (c < ksub) {
        val ctr = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) { val dx = v(off + i) - ctr(i); d += dx * dx; i += 1 }
        out(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ADC table for one probe: lut[s·ksub + c] = ||q_s − centroid_{s,c}||². */
  def lut(a: ArrayData, isFloat: Boolean): ArrayData = {
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      val cb = cents(s)
      val off = s * dsub
      var c = 0
      while (c < ksub) {
        val ctr = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) { val dx = elem(a, off + i, isFloat) - ctr(i); d += dx * dx; i += 1 }
        out(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/**
 * IVF-PQ residual quantizer (Jégou et al. 2011 §IV): vectors PQ-encode as
 * `v − centroid(v)` and probes build one ADC table per visited list from
 * `q − c_list` — residuals center near zero, so the sub-codebooks spend
 * their resolution on the informative part. Rides the plan as a reference
 * object like its two components.
 */
final class IvfPqResidual(val ivf: IvfCentroids, val pq: PqCodebooks)
    extends Serializable {
  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** PQ code of the residual against the vector's own nearest centroid. */
  def encode(a: ArrayData, isFloat: Boolean): Array[Byte] = {
    val cs = ivf.cs
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      val n = math.min(a.numElements(), ctr.length)
      var d = 0.0
      var i = 0
      while (i < n) { val dx = elem(a, i, isFloat) - ctr(i); d += dx * dx; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    val ctr = cs(best)
    val r = new Array[Double](ctr.length)
    var i = 0
    while (i < ctr.length) { r(i) = elem(a, i, isFloat) - ctr(i); i += 1 }
    pq.encodeDense(r)
  }

  /** ADC table of the probe's residual against list `listId`'s centroid. */
  def lut(a: ArrayData, listId: Long, isFloat: Boolean): ArrayData = {
    val idx = java.util.Arrays.binarySearch(ivf.ids, listId)
    require(idx >= 0, s"unknown IVF list id $listId")
    val ctr = ivf.cs(idx)
    val r = new Array[Double](ctr.length)
    var i = 0
    while (i < ctr.length) { r(i) = elem(a, i, isFloat) - ctr(i); i += 1 }
    pq.lutDense(r)
  }
}

object PqKernels {
  /** ADC distance: Σ_s lut[s·ksub + code[s]]; ksub derives from the shapes,
    * so the scoring expression needs no reference object at all. */
  def adc(code: Array[Byte], lut: ArrayData): Double = {
    val m = code.length
    val ksub = lut.numElements() / m
    var s = 0.0
    var i = 0
    while (i < m) { s += lut.getDouble(i * ksub + (code(i) & 0xff)); i += 1 }
    s
  }
}

sealed trait PqVecExpr extends UnaryExpression {
  protected def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double>, got $other")
    }
}

/** pq_encode(vec) → m-byte code; codebooks ride the plan. */
case class PqEncodeExpr(child: Expression, books: PqCodebooks) extends PqVecExpr {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any): Any =
    books.encode(a.asInstanceOf[ArrayData], isFloat)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, classOf[PqCodebooks].getName)
    defineCodeGen(ctx, ev, a => s"$ref.encode($a, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pq_encode"
}

/** pq_lut(pvec) → array<double> of m·ksub squared sub-distances. */
case class PqLutExpr(child: Expression, books: PqCodebooks) extends PqVecExpr {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    books.lut(a.asInstanceOf[ArrayData], isFloat)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, classOf[PqCodebooks].getName)
    defineCodeGen(ctx, ev, a => s"$ref.lut($a, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pq_lut"
}

/** ivfpq_encode(vec) → m-byte RESIDUAL code; quantizer rides the plan. */
case class IvfPqEncodeExpr(child: Expression, rq: IvfPqResidual) extends PqVecExpr {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any): Any =
    rq.encode(a.asInstanceOf[ArrayData], isFloat)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPq", rq, classOf[IvfPqResidual].getName)
    defineCodeGen(ctx, ev, a => s"$ref.encode($a, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ivfpq_encode"
}

/** ivfpq_lut(pvec, list_id) → residual ADC table for that list. */
case class IvfPqLutExpr(left: Expression, right: Expression, rq: IvfPqResidual)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float|double>, bigint), got $l / $r")
    }
  override def nullSafeEval(a: Any, listId: Any): Any =
    rq.lut(a.asInstanceOf[ArrayData], listId.asInstanceOf[Long], isFloat)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPq", rq, classOf[IvfPqResidual].getName)
    defineCodeGen(ctx, ev, (a, l) => s"$ref.lut($a, $l, $isFloat)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "ivfpq_lut"
}

/** pq_adc(code, lut) → approximate squared L2; plain codegen, no ref obj. */
case class PqAdcExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (binary, array<double>), got $l / $r")
    }
  override def nullSafeEval(code: Any, lut: Any): Any =
    PqKernels.adc(code.asInstanceOf[Array[Byte]], lut.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"org.apache.spark.sql.graft.PqKernels.adc($c, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "pq_adc"
}

object VecFunctionsImpl {
  import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
  def vec_dot(a: Column, b: Column): Column = column(DotExpr(expression(a), expression(b)))
  def vec_cosine(a: Column, b: Column): Column = column(CosineExpr(expression(a), expression(b)))
  def ivf_assign(vec: Column, centroids: IvfCentroids): Column =
    column(IvfAssignExpr(expression(vec), centroids))
  def pq_encode(vec: Column, books: PqCodebooks): Column =
    column(PqEncodeExpr(expression(vec), books))
  def pq_lut(pvec: Column, books: PqCodebooks): Column =
    column(PqLutExpr(expression(pvec), books))
  def pq_adc(code: Column, lut: Column): Column =
    column(PqAdcExpr(expression(code), expression(lut)))
  def ivfpq_encode(vec: Column, rq: IvfPqResidual): Column =
    column(IvfPqEncodeExpr(expression(vec), rq))
  def ivfpq_lut(pvec: Column, listId: Column, rq: IvfPqResidual): Column =
    column(IvfPqLutExpr(expression(pvec), expression(listId), rq))
}
