package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Expressions for vector-index construction (IVF assignment, hyperplane
  * LSH). The centroid / hyperplane matrices are tiny model state (k·dim
  * floats): they ride inside the expression as reference objects, i.e. they
  * are broadcast in the task closure — the classic "small model, huge data"
  * shape (SURVEY §6). One codegen'd scan assigns / signs the whole corpus.
  */
object IndexOps {
  /** Fixed-point scale for the IVF geometry (2^20). Assignment and
    * training arithmetic run over `floor(v * 2^20 + 0.5)` Longs: every
    * step of that quantization is exact in IEEE doubles (float→double is
    * exact, the scale is a power of two so the multiply only shifts the
    * exponent, and the +0.5/floor pair is the explicit half-up form), so
    * the quantized values — and therefore every distance comparison, every
    * argmin, and every order-independent integer SUM built from them — are
    * bit-identical on any engine. This is what lets the trained centroids,
    * the build assignment, and the probe selection all carry replaying
    * SQL oracles instead of rows-only checks (distributed FLOAT sums have
    * nondeterministic accumulation order; integer sums do not). */
  final val QScale = 1048576.0
  final val QScaleL = 1048576L

  def quantize(v: Double): Long = math.floor(v * QScale + 0.5).toLong
  def quantizeMatrix(m: Array[Array[Float]]): Array[Array[Long]] =
    m.map(_.map(f => quantize(f.toDouble)))
  def quantizeVec(x: Array[Float]): Array[Long] = {
    val q = new Array[Long](x.length)
    var i = 0
    while (i < x.length) { q(i) = quantize(x(i).toDouble); i += 1 }
    q
  }

  /** Squared quantized L2 distance from `q[off, off + len)` to `ctr`. */
  def sqDist(q: Array[Long], off: Int, len: Int, ctr: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < len) { val d = q(off + i) - ctr(i); s += d * d; i += 1 }
    s
  }

  /** The one assignment kernel: index of the L2-nearest centroid to
    * `q[off, off + len)` over the quantized grid, -1 when there are none.
    * Ties break toward the smaller centroid id (strict `<`). Serves the
    * Spark-side assignment expression and the driver-side trainers alike,
    * so build-time and training-time assignment cannot drift apart. */
  def argmin(q: Array[Long], off: Int, len: Int,
      centroidsQ: Array[Array[Long]]): Int = {
    var best = -1
    var bestD = Long.MaxValue
    var c = 0
    while (c < centroidsQ.length) {
      val s = sqDist(q, off, len, centroidsQ(c))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** [[argmin]] over a whole quantized vector, as (idx, dist) with dist
    * de-scaled back to embedding units. */
  def nearest(q: Array[Long], centroidsQ: Array[Array[Long]]): (Int, Double) = {
    val best = argmin(q, 0, q.length, centroidsQ)
    val d2 =
      if (best < 0) Long.MaxValue else sqDist(q, 0, q.length, centroidsQ(best))
    (best, math.sqrt(d2.toDouble) / QScale)
  }

  /** The assignment expression's body: [[nearest]] over the row's vector. */
  def nearestCentroid(v: ArrayData, centroidsQ: Array[Array[Long]]): InternalRow = {
    val (best, dist) = nearest(quantizeVec(v.toFloatArray()), centroidsQ)
    InternalRow(best, dist)
  }

  /** sign-bit signature over random hyperplanes (bit i = dot(v, plane_i) > 0). */
  def hyperplaneSig(v: ArrayData, planes: Array[Array[Float]]): Int = {
    val x = v.toFloatArray()
    var sig = 0
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      var dot = 0.0
      var i = 0
      while (i < x.length) { dot += x(i).toDouble * pl(i); i += 1 }
      if (dot > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Deterministic unit-free hyperplanes from a SplitMix64 stream mapped to
    * [-1, 1); fixed seed → identical planes on every executor and run. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Float]] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(nPlanes, dim)((next().toDouble / Long.MaxValue.toDouble).toFloat)
  }
}

/** nearest_centroid(embedding): (centroid_id, l2_dist) against a fixed
  * centroid matrix. */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  // the comparison grid: centroids quantized once per expression instance
  @transient private lazy val centroidsQ = IndexOps.quantizeMatrix(centroids)
  override def prettyName: String = "nearest_centroid"
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("centroid_id", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def nullSafeEval(a: Any): Any =
    IndexOps.nearestCentroid(a.asInstanceOf[ArrayData], centroidsQ)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroidsQ", centroidsQ, "long[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.IndexOps.nearestCentroid($c, $m)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  // Array-typed field: define structural equality so plan canonicalization
  // (and codegen caching) treats equal matrices as equal expressions.
  override def equals(o: Any): Boolean = o match {
    case NearestCentroid(c, m) =>
      c == child && m.length == centroids.length &&
        m.zip(centroids).forall { case (x, y) => java.util.Arrays.equals(x, y) }
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + centroids.map(java.util.Arrays.hashCode).toSeq.hashCode()
}

/** hyperplane_lsh(embedding): int bit-signature against fixed hyperplanes. */
case class HyperplaneLsh(child: Expression, planes: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "hyperplane_lsh"
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any): Any =
    IndexOps.hyperplaneSig(a.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("planes", planes, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.IndexOps.hyperplaneSig($c, $m)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def equals(o: Any): Boolean = o match {
    case HyperplaneLsh(c, m) =>
      c == child && m.length == planes.length &&
        m.zip(planes).forall { case (x, y) => java.util.Arrays.equals(x, y) }
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + planes.map(java.util.Arrays.hashCode).toSeq.hashCode()
}

object IndexFunctions {
  import Bridge.{col, expr}
  def nearestCentroid(x: Column, centroids: Array[Array[Float]]): Column =
    col(NearestCentroid(expr(x), centroids))
  def hyperplaneLsh(x: Column, planes: Array[Array[Float]]): Column =
    col(HyperplaneLsh(expr(x), planes))
}
