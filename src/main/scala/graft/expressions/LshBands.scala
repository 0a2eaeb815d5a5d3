package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}
import org.apache.spark.sql.{Column, SparkSession}

/** Single-pass kernel behind the hyperplane-LSH bands: all
  * `nBands * bandBits` sign projections of one `array<float>` vector in
  * one compiled loop over a statically-cached ±1 plane matrix, packed
  * into `nBands` LONG band keys (bit k of band s = sign of plane
  * `planeOffset + s*bandBits + k`; up to 62 sign bits per band, so the
  * adaptive grid never hits a key-width ceiling at any real corpus).
  *
  * Exists because the Column formulation — one `vec_dot` against a
  * literal plane per bit, 52 of them summed through nested CASE WHENs at
  * the adaptive sf1 operating point — grows an expression tree big
  * enough to fall out of whole-stage codegen, going interpreted at
  * ~250 us/row (measured: the band projection alone cost 4-5 s of
  * dedup_embedding_lsh's 12 s at sf1, paid once per join side). This
  * kernel is one static call per row: double accumulation in element
  * order with ±1 sign flips, bit-identical to
  * `vec_dot(vec, hyperplane(k)) >= 0` for 64-dim vectors (multiplying
  * by ±1.0 is an exact IEEE sign flip and the add order is unchanged).
  * DIM CAVEAT: the retired Column formulation folded only the first
  * min(len, 64) elements (it projected against a dim=64 hyperplane
  * literal); this kernel projects ALL vec.numElements() coordinates,
  * so for vectors longer than 64 dims the bucket keys differ from that
  * legacy form. Joins are unaffected (keys are self-consistent on both
  * sides); only cross-VERSION bucket stability for >64-dim corpora
  * would notice, and no stored artifact persists band keys.
  */
object LshOps {
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Float]]

  /** Flattened ±1 plane matrix for planes [planeOffset,
    * planeOffset + nPlanes) at `dim` coordinates — derived from the same
    * deterministic `hyperplaneSign` mix every executor computes
    * identically, cached per (offset, planes, dim). */
  def signs(planeOffset: Int, nPlanes: Int, dim: Int): Array[Float] =
    signCache.computeIfAbsent((planeOffset, nPlanes, dim), _ =>
      Array.tabulate(nPlanes * dim) { i =>
        graft.functions.VectorFunctions.hyperplaneSign(planeOffset + i / dim, i % dim)
      })

  def bandKeys(vec: ArrayData, nBands: Int, bandBits: Int, planeOffset: Int): ArrayData = {
    val dim = vec.numElements()
    val total = nBands * bandBits
    val s = signs(planeOffset, total, dim)
    val keys = new Array[Long](nBands)
    var p = 0
    while (p < total) {
      var acc = 0.0
      var j = 0
      val base = p * dim
      while (j < dim) { acc += vec.getFloat(j).toDouble * s(base + j); j += 1 }
      if (acc >= 0) keys(p / bandBits) |= 1L << (p % bandBits)
      p += 1
    }
    new GenericArrayData(keys)
  }
}

case class LshBands(child: Expression, nBands: Int, bandBits: Int, planeOffset: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        if (nBands >= 1 && bandBits >= 1 && bandBits <= 62)
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bands needs nBands >= 1 and 1 <= bandBits <= 62, got ($nBands, $bandBits)")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bands expects an array<float> vector, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_bands"

  override protected def nullSafeEval(v: Any): Any =
    LshOps.bandKeys(v.asInstanceOf[ArrayData], nBands, bandBits, planeOffset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.LshOps.bandKeys($c, $nBands, $bandBits, $planeOffset)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBands {
  def build(exprs: Seq[Expression]): Expression = {
    def intArg(i: Int): Int = exprs(i) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => other.eval().asInstanceOf[Int]
    }
    LshBands(exprs(0), intArg(1), intArg(2), intArg(3))
  }

  def lshBands(spark: SparkSession, vec: Column, nBands: Int, bandBits: Int,
               planeOffset: Int = 0): Column =
    org.apache.spark.sql.functions.call_udf("lsh_bands", vec,
      org.apache.spark.sql.functions.lit(nBands),
      org.apache.spark.sql.functions.lit(bandBits),
      org.apache.spark.sql.functions.lit(planeOffset))
}
