package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, FloatType, LongType}
import org.apache.spark.sql.{Column, SparkSession}

/** Static kernels for int8 scalar quantization of embedding vectors.
  *
  * `quantizeI8` maps array<float> -> array<tinyint> with a per-vector
  * symmetric scale (127 / max|x|). Cosine ranking over quantized codes
  * is scale-invariant (the per-vector scales cancel in
  * dot/(|a|*|b|)), so approximate search needs ONLY the codes — 4x
  * less memory and scan bandwidth than float32, which is the entire
  * point at 100 TB where the quantized corpus is the column you keep
  * hot. Exact rescoring of the shortlist uses the original floats.
  */
object Int8VecOps {
  def quantizeI8(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var maxAbs = 0.0f
    var i = 0
    while (i < n) {
      val a = math.abs(v.getFloat(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = if (maxAbs == 0.0f) 0.0 else 127.0 / maxAbs
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      out(i) = math.round(v.getFloat(i) * scale).toByte
      i += 1
    }
    new GenericArrayData(out)
  }

  def dotI8(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }
}

/** Codegen'd per-vector symmetric int8 quantization (see Int8VecOps). */
case class VecQuantizeI8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "vec_q8"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"vec_q8 expects array<float>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    Int8VecOps.quantizeI8(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Int8VecOps.quantizeI8($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd integer dot product over two array<tinyint> columns. */
case class VecDotI8(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_i8"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_i8 expects array<tinyint> inputs, got (${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Int8VecOps.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.Int8VecOps.dotI8($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int8Vec {
  def buildQ8(exprs: Seq[Expression]): Expression = VecQuantizeI8(exprs(0))
  def buildDot(exprs: Seq[Expression]): Expression = VecDotI8(exprs(0), exprs(1))

  def vecQ8(spark: SparkSession, v: Column): Column =
    org.apache.spark.sql.functions.call_udf("vec_q8", v)

  def vecDotI8(spark: SparkSession, a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_udf("vec_dot_i8", a, b)
}
