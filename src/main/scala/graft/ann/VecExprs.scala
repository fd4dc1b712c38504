package graft.ann

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused vector kernels called from generated code.
  *
  * The r5 verdict's top performance finding: every `aggregate`/`zip_with`
  * higher-order fold runs interpreted (never enters whole-stage codegen)
  * and is the proven 10-30x run-to-run variance class on this suite. These
  * kernels replace the folds in the embedding hot path with tight
  * JIT-compiled loops; the expressions below splice them into codegen as a
  * single static call (the `StaticInvoke` pattern), so the surrounding
  * plan stays one whole-stage-codegen span.
  *
  * Bit-compatibility contract with the fold forms they replace (oracle
  * dumps and golden hashes depend on it): same element order, same
  * double-precision ops, same null semantics (length mismatch or null
  * element -> null; for bucket signatures -> bucket 0, matching
  * `when(null >= 0, ...).otherwise(0)`), and the same xxhash64 chain
  * `hashInt(d, hashInt(plane, 42L))` for hyperplane components.
  *
  * Method suffixes encode element types (F = array<float>,
  * D = array<double>); symmetric kernels cover the DF case by swapping
  * arguments at the call site.
  */
object VecKernels {

  def dotFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def dotDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def dotFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Fused cosine: one pass accumulating a.b, a.a, b.b in index order —
    * bit-identical to dot/(sqrt(dot)*sqrt(dot)) computed in three passes.
    */
  def cosFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(ab / (math.sqrt(aa) * math.sqrt(bb)))
  }

  def cosDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(ab / (math.sqrt(aa) * math.sqrt(bb)))
  }

  def cosFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble; val y = b.getDouble(i)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(ab / (math.sqrt(aa) * math.sqrt(bb)))
  }

  def sqFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def sqDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def sqFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getFloat(i).toDouble - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Ids of the `n` centroids nearest `v` by squared L2 distance, in
    * `(distance, cid)` order under Spark's ordering: a null distance
    * (null or ragged vector, null element, null centroid) sorts first,
    * NaN last, equal distances to the lower cid. This is the order of
    * `min_by(cid, struct(d, cid))` and of a `(d ASC, cid ASC)` window,
    * so a vector with no distance gets the lowest cids. Each distance is
    * [[sqFD]] or [[sqDD]] (`isFloat` = array<float> input) against the
    * array<double> centroids; a bounded insertion keeps the best
    * `min(n, k)` in one pass over the k centroids. */
  def nearest(v: ArrayData, isFloat: Boolean, cids: Array[Int],
              cents: Array[ArrayData], n: Int): ArrayData = {
    val m = math.max(0, math.min(n, cids.length))
    val bestD = new Array[java.lang.Double](m)
    val bestC = new Array[Int](m)
    var filled = 0; var i = 0
    while (i < cids.length) {
      val d =
        if (v == null || cents(i) == null) null
        else if (isFloat) sqFD(v, cents(i)) else sqDD(v, cents(i))
      val c = cids(i)
      var j = filled
      while (j > 0 && precedes(d, c, bestD(j - 1), bestC(j - 1))) j -= 1
      if (j < m) {
        var t = math.min(filled, m - 1)
        while (t > j) { bestD(t) = bestD(t - 1); bestC(t) = bestC(t - 1); t -= 1 }
        bestD(j) = d; bestC(j) = c
        if (filled < m) filled += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(bestC)
  }

  /** `(d1, c1) < (d2, c2)`: nulls first, then Spark's double order
    * (NaN above every number, -0.0 == 0.0), then cid. */
  private def precedes(d1: java.lang.Double, c1: Int,
                       d2: java.lang.Double, c2: Int): Boolean =
    if (d1 == null || d2 == null) {
      if (d1 == null && d2 == null) c1 < c2 else d1 == null
    } else {
      val x = d1.doubleValue; val y = d2.doubleValue
      val cmp = if (x == y) 0 else java.lang.Double.compare(x, y)
      cmp < 0 || (cmp == 0 && c1 < c2)
    }

  /** Hyperplane components depend only on (plane, dim) — cache the unit
    * matrix per executor instead of re-hashing planes x dims per row.
    * unit(p)(d) = xxhash64(p, d) / Long.MaxValue, the exact chain the
    * fold form computed per element: hashInt(d, hashInt(p, 42L)).
    */
  private val unitCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def units(planes: Int, dim: Int): Array[Array[Double]] =
    unitCache.computeIfAbsent((planes, dim), _ =>
      Array.tabulate(planes, dim)((p, d) =>
        XXH64.hashInt(d, XXH64.hashInt(p, 42L)).toDouble / Long.MaxValue.toDouble))

  /** Sign-bucket signature. `acc >= 0 || isNaN` mirrors SQL comparison
    * semantics (Spark orders NaN above every double, so `proj >= 0` is
    * true for NaN); a null element made every plane's projection null in
    * the fold form, i.e. every bit 0 -> bucket 0.
    */
  def lshF(v: ArrayData, planes: Int): Long = {
    val dim = v.numElements()
    val u = units(planes, dim)
    var bucket = 0L; var p = 0
    while (p < planes) {
      val up = u(p)
      var acc = 0.0; var d = 0
      while (d < dim) {
        if (v.isNullAt(d)) return 0L
        acc += v.getFloat(d).toDouble * up(d)
        d += 1
      }
      if (acc >= 0 || java.lang.Double.isNaN(acc)) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  def lshD(v: ArrayData, planes: Int): Long = {
    val dim = v.numElements()
    val u = units(planes, dim)
    var bucket = 0L; var p = 0
    while (p < planes) {
      val up = u(p)
      var acc = 0.0; var d = 0
      while (d < dim) {
        if (v.isNullAt(d)) return 0L
        acc += v.getDouble(d) * up(d)
        d += 1
      }
      if (acc >= 0 || java.lang.Double.isNaN(acc)) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** L2-normalize to array<double>: x / ||x||. Two index-order passes
    * (sum of squares, then scale) so the result is deterministic across
    * executors. A zero-norm vector is returned unscaled (as doubles)
    * rather than NaN-filled; a null element nulls the whole result.
    */
  def l2nF(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var ss = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble; ss += x * x; i += 1
    }
    val inv = if (ss == 0.0) 1.0 else 1.0 / math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = a.getFloat(i).toDouble * inv; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def l2nD(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var ss = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i); ss += x * x; i += 1
    }
    val inv = if (ss == 0.0) 1.0 else 1.0 / math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = a.getDouble(i) * inv; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** max(|x_i|) in index order — the symmetric-int8 quantization range.
    * Empty array or null element -> null (mirrors SQL `list_max`). */
  def absMaxF(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n == 0) return null
    var m = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = math.abs(a.getFloat(i).toDouble)
      if (x > m) m = x
      i += 1
    }
    java.lang.Double.valueOf(m)
  }

  def absMaxD(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n == 0) return null
    var m = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = math.abs(a.getDouble(i))
      if (x > m) m = x
      i += 1
    }
    java.lang.Double.valueOf(m)
  }

  /** Symmetric int8 quantization: `sign(x) * floor(|x|/scale + 0.5)`
    * clamped to [-127, 127] — round-half-AWAY-from-zero, the exact
    * semantic of SQL `ROUND(x/scale)` on both engines (`Math.round`
    * would round -2.5 toward +inf and silently diverge from the
    * oracle). `scale <= 0` (all-zero vector) -> all zeros; a null
    * element nulls the whole result. A NaN element quantizes to 0
    * (explicit below; previously implicit via `NaN.toByte == 0` —
    * note DuckDB's `LEAST(127, 'NaN')` would yield 127, so a corpus
    * with NaN embeddings must be cleaned before an oracle compare;
    * current fixtures contain none). */
  def quantI8F(a: ArrayData, scale: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      if (scale > 0.0) {
        val v = a.getFloat(i).toDouble
        val q = math.floor(math.abs(v) / scale + 0.5)
        val c = if (q.isNaN) 0.0 else if (q > 127.0) 127.0 else q
        out(i) = (if (v < 0) -c else c).toByte
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def quantI8D(a: ArrayData, scale: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      if (scale > 0.0) {
        val v = a.getDouble(i)
        val q = math.floor(math.abs(v) / scale + 0.5)
        val c = if (q.isNaN) 0.0 else if (q > 127.0) 127.0 else q
        out(i) = (if (v < 0) -c else c).toByte
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Exact integer dot of two int8 vectors. Every term is |q| <= 127^2,
    * so the long accumulator is exact at any realistic dimension; the
    * float work of a quantized scan is deferred to ONE multiply by the
    * two scales at the call site. Length mismatch or null element ->
    * null. */
  def dotI8(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** All second+first-moment covariance terms of one quantized vector in
    * a single pass: positions `[0, d(d+1)/2)` hold the upper-triangle
    * products `q_i*q_j` (i outer 0..d-1, j inner i..d-1), positions
    * `[T, T+d)` hold the first moments `q_i` themselves. Quantization is
    * bit-compatible with `round(x * scale).cast("long")` — the exact
    * Spark `Round(HALF_UP over BigDecimal.valueOf)` + non-ANSI
    * double->long cast chain (NaN -> 0, Inf saturates) that
    * [[graft.ann.Ann.covarianceMoments]]'s join form used, so the
    * summed moments are engine-reproducible. A vector whose length
    * differs from `dim` fails loudly (the pos->(i,j) decode is
    * dim-global); a null ELEMENT nulls the whole row's terms (the join
    * form dropped only that element's terms — acceptable divergence,
    * documented at the caller). */
  private def roundQ(v: Double): Long =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v.toLong
    else java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  def covTermsF(a: ArrayData, dim: Int, scale: Double): ArrayData = {
    val n = a.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"vec_cov_terms: vector length $n != dim $dim (ragged input)")
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      q(i) = roundQ(a.getFloat(i).toDouble * scale); i += 1
    }
    covFromQ(q)
  }

  def covTermsD(a: ArrayData, dim: Int, scale: Double): ArrayData = {
    val n = a.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"vec_cov_terms: vector length $n != dim $dim (ragged input)")
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      q(i) = roundQ(a.getDouble(i) * scale); i += 1
    }
    covFromQ(q)
  }

  private def covFromQ(q: Array[Long]): ArrayData = {
    val d = q.length
    val t = d * (d + 1) / 2
    val out = new Array[Long](t + d)
    var p = 0; var i = 0
    while (i < d) {
      val qi = q(i); var j = i
      while (j < d) { out(p) = qi * q(j); p += 1; j += 1 }
      i += 1
    }
    System.arraycopy(q, 0, out, t, d)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Base for the binary vector kernels: dispatches on the two array
  * element types to a specialized `VecKernels` method (symmetric kernels,
  * so array<double> x array<float> swaps to the FD form).
  */
sealed trait VecBinaryExpr extends BinaryExpression {
  protected def kernel: String // "dot" | "cos" | "sq"

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  @transient protected lazy val (meth: String, swapArgs: Boolean) =
    (elemType(left).get, elemType(right).get) match {
      case (FloatType, FloatType)   => (kernel + "FF", false)
      case (DoubleType, DoubleType) => (kernel + "DD", false)
      case (FloatType, DoubleType)  => (kernel + "FD", false)
      case (DoubleType, FloatType)  => (kernel + "FD", true)
    }

  private def call(a: ArrayData, b: ArrayData): java.lang.Double = meth match {
    case "dotFF" => VecKernels.dotFF(a, b)
    case "dotDD" => VecKernels.dotDD(a, b)
    case "dotFD" => VecKernels.dotFD(a, b)
    case "cosFF" => VecKernels.cosFF(a, b)
    case "cosDD" => VecKernels.cosDD(a, b)
    case "cosFD" => VecKernels.cosFD(a, b)
    case "sqFF"  => VecKernels.sqFF(a, b)
    case "sqDD"  => VecKernels.sqDD(a, b)
    case "sqFD"  => VecKernels.sqFD(a, b)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = if (swapArgs) (r, l) else (l, r)
    call(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val (a, b) = if (swapArgs) (r, l) else (l, r)
      val res = ctx.freshName("vecRes")
      s"""
         |java.lang.Double $res = graft.ann.VecKernels.$meth($a, $b);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.doubleValue(); }
       """.stripMargin
    })
}

case class VecDot(left: Expression, right: Expression) extends VecBinaryExpr {
  override protected def kernel: String = "dot"
  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class VecCosine(left: Expression, right: Expression) extends VecBinaryExpr {
  override protected def kernel: String = "cos"
  override def prettyName: String = "vec_cosine"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class VecSqDist(left: Expression, right: Expression) extends VecBinaryExpr {
  override protected def kernel: String = "sq"
  override def prettyName: String = "vec_sqdist"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Base for the one-vector kernels: an array<float|double> child;
  * `isFloat` picks the F or the D kernel.
  */
sealed trait VecUnaryExpr extends UnaryExpression {
  @transient protected lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }
}

/** The ids of the `n` nearest of a fixed centroid set, as
  * `array<int>` of length `min(n, k)` in `(distance, cid)` order — the
  * one nearest-centroid kernel of the IVF/PQ layer (assignment is
  * `n = 1`, a probe list `n = nProbe`). See [[VecKernels.nearest]] for
  * the ordering. The centroids ride the generated class as one
  * reference object and the generated code is a single kernel call, so
  * its size does not depend on k. Never null: a vector with no distance
  * gets the lowest cids.
  */
case class VecNearest(child: Expression,
                      centroids: Array[(Int, Array[Double])], n: Int)
    extends VecUnaryExpr {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "vec_nearest"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"k=${centroids.length}", n)

  @transient private lazy val cids: Array[Int] = centroids.map(_._1)
  @transient private lazy val cents: Array[ArrayData] = centroids.map {
    case (_, cv) =>
      if (cv == null) null
      else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(cv)
  }

  override def eval(input: InternalRow): Any = VecKernels.nearest(
    child.eval(input).asInstanceOf[ArrayData], isFloat, cids, cents, n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val ids = ctx.addReferenceObj("cids", cids, "int[]")
    val cs = ctx.addReferenceObj("cents", cents,
      "org.apache.spark.sql.catalyst.util.ArrayData[]")
    ev.copy(code = code"""
      |${v.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.ann.VecKernels.nearest(${v.isNull} ? null : ${v.value},
      |    $isFloat, $ids, $cs, $n);
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `numPlanes` sign bits of deterministic hyperplane projections packed
  * into a long — the LSH bucket id. See [[VecKernels.lshF]].
  */
case class VecLshBucket(child: Expression, numPlanes: Int)
    extends VecUnaryExpr {
  require(numPlanes >= 1 && numPlanes <= 63, "numPlanes in [1, 63]")

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_lsh_bucket"

  override def nullSafeEval(v: Any): Any =
    if (isFloat) VecKernels.lshF(v.asInstanceOf[ArrayData], numPlanes)
    else VecKernels.lshD(v.asInstanceOf[ArrayData], numPlanes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat) "lshF" else "lshD"
    defineCodeGen(ctx, ev, c => s"graft.ann.VecKernels.$m($c, $numPlanes)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** L2-normalization to unit length as array<double> — the spherical
  * k-means prep for [[graft.ann.Ann.semDedup]]. See [[VecKernels.l2nF]]
  * for the zero-norm and null-element contract.
  */
case class VecL2Normalize(child: Expression) extends VecUnaryExpr {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_l2_normalize"

  override def nullSafeEval(v: Any): Any =
    if (isFloat) VecKernels.l2nF(v.asInstanceOf[ArrayData])
    else VecKernels.l2nD(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat) "l2nF" else "l2nD"
    nullSafeCodeGen(ctx, ev, c => {
      val res = ctx.freshName("vecNorm")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.ann.VecKernels.$m($c);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** max(|x_i|) — the per-vector symmetric quantization range. */
case class VecAbsMax(child: Expression) extends VecUnaryExpr {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_abs_max"

  override def nullSafeEval(v: Any): Any =
    if (isFloat) VecKernels.absMaxF(v.asInstanceOf[ArrayData])
    else VecKernels.absMaxD(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat) "absMaxF" else "absMaxD"
    nullSafeCodeGen(ctx, ev, c => {
      val res = ctx.freshName("vecAbsMax")
      s"""
         |java.lang.Double $res = graft.ann.VecKernels.$m($c);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Symmetric int8 quantization of a float/double vector by a
  * per-vector scale (see [[VecKernels.quantI8F]] for the exact rounding
  * contract). */
case class VecQuantI8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_quant_i8"

  @transient private lazy val isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float|double>, double), got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def nullSafeEval(v: Any, s: Any): Any =
    if (isFloat)
      VecKernels.quantI8F(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])
    else
      VecKernels.quantI8D(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat) "quantI8F" else "quantI8D"
    nullSafeCodeGen(ctx, ev, (v, s) => {
      val res = ctx.freshName("vecQuant")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.ann.VecKernels.$m($v, $s);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product of two int8 vectors (LongType). */
case class VecDotI8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot_i8"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<tinyint> inputs, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    VecKernels.dotI8(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val res = ctx.freshName("vecDotI8")
      s"""
         |java.lang.Long $res = graft.ann.VecKernels.dotI8($l, $r);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One row's complete covariance-moment terms as `array<long>` — the
  * join-free form of the Gram-matrix fan-out (see
  * [[VecKernels.covTermsF]] for layout and the exact quantization
  * contract). Emitting all `d(d+1)/2 + d` terms from one codegen'd call
  * replaces the (id-keyed self equi-join over an exploded n*d relation)
  * plan: no exchange of the exploded relation, no join probe of
  * n*d^2/2 row pairs — the scan, this projection, the posexplode and
  * the partial aggregation all sit in one whole-stage-codegen span, and
  * the only shuffle left is the dimension-sized final aggregate. */
case class VecCovTerms(child: Expression, dim: Int, scale: Double)
    extends VecUnaryExpr {
  require(dim >= 1 && dim <= 4096, "dim in [1, 4096]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cov_terms"

  override def nullSafeEval(v: Any): Any =
    if (isFloat) VecKernels.covTermsF(v.asInstanceOf[ArrayData], dim, scale)
    else VecKernels.covTermsD(v.asInstanceOf[ArrayData], dim, scale)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat) "covTermsF" else "covTermsD"
    nullSafeCodeGen(ctx, ev, c => {
      val res = ctx.freshName("covTerms")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.ann.VecKernels.$m($c, $dim, $scale);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
