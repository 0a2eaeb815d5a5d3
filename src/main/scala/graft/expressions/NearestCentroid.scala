package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import org.apache.spark.sql.{Column, SparkSession}

/** Single-pass nearest-centroid assignment: argmax over k normalized
  * centroid projections of one `array<float>` vector in one compiled
  * loop over the flattened centroid matrix.
  *
  * Bit-identical to the Column formulation it replaces
  * (`array_position(projs, array_max(projs))` over k
  * `vec_dot(vec, lit(c_i)) / lit(norm_i)` entries): each projection is
  * the same in-order double fold over min(vecLen, dim) elements divided
  * by the same construction-time norm, and the argmax keeps the FIRST
  * maximal index (strict `>` scan == first-position-of-max). Exists for
  * the same reason as [[LshBands]]: k literal-array dot products summed
  * through an array constructor grow an expression tree that falls out
  * of whole-stage codegen once k is tens-large, which is exactly where
  * an adaptive (sqrt-of-corpus) centroid count operates. One static
  * call per row keeps Lloyd training AND full-corpus assignment
  * map-only and compiled at any k.
  */
/** Precomputed two-level (coarse-then-fine) assignment index over a
  * k-centroid quantizer: `g ~ sqrt(k)` coarse cells (driver-side Lloyd
  * over the k fine centroids — k is small by definition), each fine
  * centroid grouped under its nearest coarse cell by the SAME
  * cosine-projection rule the kernel applies at query time. `fineFlat`
  * stays in original centroid order (row i = centroid i); `ids` lists
  * fine indices cell by cell in ascending order, `offsets(c)..offsets(c+1)`
  * bounding cell c's slice. A top-level class (not nested) so generated
  * code can name the type. */
final class TwoLevelCentroidIndex(
    val coarseFlat: Array[Float], val coarseNorms: Array[Double],
    val fineFlat: Array[Float], val fineNorms: Array[Double],
    val offsets: Array[Int], val ids: Array[Int], val dim: Int)
  extends Serializable

object CentroidOps {
  /** Assignment switches to the two-level scan past this k: one-level
    * is the exact argmax but O(k*dim) per row, which stops being
    * map-only-cheap exactly where an adaptive sqrt-of-corpus k
    * operates (k ~ 10^4 at 10^8 vectors => 10^4*dim mults per row);
    * two-level is O(2*sqrt(k)*dim) per row at the standard IVF-style
    * cost of the assignment becoming approximate (a vector whose
    * nearest fine centroid lives outside its nearest coarse cell is
    * assigned within the probed cell instead — deterministic, and for
    * a BUCKETING that only moves which list a vector lands in; recall
    * specs gate the consumers). Below the threshold nothing changes:
    * every k <= 64 call site keeps the exact one-level argmax. */
  val TwoLevelThreshold = 64

  private def nearestArr(v: Array[Float], flat: Array[Float],
                         norms: Array[Double], dim: Int): Int = {
    val n = math.min(v.length, dim)
    val k = norms.length
    var best = 0
    var bestV = Double.NegativeInfinity
    var i = 0
    while (i < k) {
      if (norms(i) == 0.0) return i
      var acc = 0.0
      var j = 0
      val base = i * dim
      while (j < n) { acc += v(j).toDouble * flat(base + j).toDouble; j += 1 }
      val p = acc / norms(i)
      if (p > bestV) { bestV = p; best = i }
      i += 1
    }
    best
  }

  /** Deterministic two-level index construction: coarse Lloyd (L2, 5
    * rounds, evenly-spaced seeds) over the fine centroids, then fine ->
    * cell grouping by the query-time cosine rule (including its
    * NaN-ranks-first zero-norm case). Cells that attract no fine
    * centroid are pruned, so every probed cell is non-empty. */
  def buildTwoLevel(cents: Array[Array[Float]]): TwoLevelCentroidIndex = {
    val k = cents.length
    val dim = cents(0).length
    val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    var coarse = Array.tabulate(g)(i => cents((i.toLong * k / g).toInt).clone())
    for (_ <- 0 until 5) {
      val sums = Array.fill(g, dim)(0.0)
      val counts = new Array[Long](g)
      cents.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < g) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - coarse(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      coarse = Array.tabulate(g)(c =>
        if (counts(c) == 0) coarse(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat))
    }
    val coarseFlat0 = flatten(coarse)
    val coarseNorms0 = l2Norms(coarse)
    val cellOf = cents.map(cv => nearestArr(cv, coarseFlat0, coarseNorms0, dim))
    val kept = (0 until g).filter(c => cellOf.contains(c)).toArray
    val coarseKept = kept.map(coarse(_))
    val ids = new Array[Int](k)
    val offsets = new Array[Int](kept.length + 1)
    var w = 0
    var ci = 0
    while (ci < kept.length) {
      offsets(ci) = w
      var f = 0
      while (f < k) { // ascending fine index => lowest-id-first ties
        if (cellOf(f) == kept(ci)) { ids(w) = f; w += 1 }
        f += 1
      }
      ci += 1
    }
    offsets(kept.length) = w
    new TwoLevelCentroidIndex(flatten(coarseKept), l2Norms(coarseKept),
      flatten(cents), l2Norms(cents), offsets, ids, dim)
  }

  private[expressions] def flatten(m: Array[Array[Float]]): Array[Float] = {
    val dim = m(0).length
    val out = new Array[Float](m.length * dim)
    var i = 0
    while (i < m.length) { System.arraycopy(m(i), 0, out, i * dim, dim); i += 1 }
    out
  }

  private[expressions] def l2Norms(m: Array[Array[Float]]): Array[Double] =
    m.map(cv => math.sqrt(cv.map(x => x.toDouble * x.toDouble).sum))

  /** Two-level assignment: nearest coarse cell (same argmax rule),
    * then the fine argmax WITHIN that cell only — O(2*sqrt(k)*dim) per
    * row. Returns the GLOBAL fine centroid index; cell members scan in
    * ascending id order, preserving the first-maximal / first-zero-norm
    * tie rules within the probed cell. */
  def nearest2(vec: ArrayData, idx: TwoLevelCentroidIndex): Int = {
    val cell = nearest(vec, idx.coarseFlat, idx.coarseNorms, idx.dim)
    val n = math.min(vec.numElements(), idx.dim)
    var best = -1
    var bestV = Double.NegativeInfinity
    var p = idx.offsets(cell)
    val end = idx.offsets(cell + 1)
    while (p < end) {
      val f = idx.ids(p)
      if (idx.fineNorms(f) == 0.0) return f
      var acc = 0.0
      var j = 0
      val base = f * idx.dim
      while (j < n) { acc += vec.getFloat(j).toDouble * idx.fineFlat(base + j).toDouble; j += 1 }
      val v = acc / idx.fineNorms(f)
      if (v > bestV) { bestV = v; best = f }
      p += 1
    }
    best
  }

  /** `flat` = row-major k x dim centroid matrix; `norms(i)` = L2 norm of
    * centroid i computed at construction (same in-order double sum as
    * the literal formulation). Returns the first argmax index. */
  def nearest(vec: ArrayData, flat: Array[Float], norms: Array[Double], dim: Int): Int = {
    val n = math.min(vec.numElements(), dim)
    val k = norms.length
    var best = 0
    var bestV = Double.NegativeInfinity
    var i = 0
    while (i < k) {
      // A zero-norm centroid projects to 0/0 = NaN. Spark's ordering
      // ranks NaN ABOVE every double, so the literal formulation's
      // array_max/array_position pair selected the FIRST NaN index —
      // reproduce that exactly (a strict `>` scan would silently skip
      // NaN and pick the best finite centroid instead).
      if (norms(i) == 0.0) return i
      var acc = 0.0
      var j = 0
      val base = i * dim
      while (j < n) { acc += vec.getFloat(j).toDouble * flat(base + j).toDouble; j += 1 }
      val v = acc / norms(i)
      if (v > bestV) { bestV = v; best = i }
      i += 1
    }
    best
  }
}

case class NearestCentroid(child: Expression, cents: Array[Array[Float]])
    extends UnaryExpression {

  @transient private lazy val dim: Int = cents(0).length
  @transient private lazy val flat: Array[Float] = CentroidOps.flatten(cents)
  @transient private lazy val norms: Array[Double] = CentroidOps.l2Norms(cents)
  // Past the threshold the exact one-level argmax stops being
  // map-only-cheap (O(k*dim) per row); the two-level index keeps
  // assignment O(2*sqrt(k)*dim) — see [[CentroidOps.TwoLevelThreshold]].
  private def useTwoLevel: Boolean = cents.length > CentroidOps.TwoLevelThreshold
  @transient private lazy val twoLevel: TwoLevelCentroidIndex =
    CentroidOps.buildTwoLevel(cents)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) if cents.nonEmpty =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid expects an array<float> vector and a non-empty " +
            s"centroid matrix, got ($other, k=${cents.length})")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(v: Any): Any =
    if (useTwoLevel) CentroidOps.nearest2(v.asInstanceOf[ArrayData], twoLevel)
    else CentroidOps.nearest(v.asInstanceOf[ArrayData], flat, norms, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (useTwoLevel) {
      val idxRef = ctx.addReferenceObj("centIdx", twoLevel,
        "graft.expressions.TwoLevelCentroidIndex")
      defineCodeGen(ctx, ev, c =>
        s"graft.expressions.CentroidOps.nearest2($c, $idxRef)")
    } else {
      val flatRef = ctx.addReferenceObj("centFlat", flat, "float[]")
      val normRef = ctx.addReferenceObj("centNorms", norms, "double[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.expressions.CentroidOps.nearest($c, $flatRef, $normRef, $dim)")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  def build(exprs: Seq[Expression]): Expression = {
    // The centroid matrix rides a foldable array<array<float>>
    // literal; materialize it once at build time.
    val m = exprs(1).eval().asInstanceOf[ArrayData]
    val cents = Array.tabulate(m.numElements()) { i =>
      m.getArray(i).toFloatArray()
    }
    NearestCentroid(exprs(0), cents)
  }

  def nearestCol(spark: SparkSession, vec: Column, cents: Array[Array[Float]]): Column =
    org.apache.spark.sql.functions.call_udf("nearest_centroid", vec,
      org.apache.spark.sql.functions.typedLit(cents.map(_.toSeq).toSeq))
}
