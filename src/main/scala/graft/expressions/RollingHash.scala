package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel: polynomial rolling hash over a string's char codes. */
object RollingHashOps {
  def hash(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) { h = (h * base + str.charAt(i).toLong) % mod; i += 1 }
    h
  }
}

/** Codegen'd rolling hash — identical values to the Column-composition
  * `TextFunctions.rollingHashWith` (interpreted ArrayAggregate) at a
  * fraction of the cost; used on the exact-dedup and fingerprint paths.
  */
case class RollingHash(child: Expression, base: Long, mod: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"rolling_hash expects string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    RollingHashOps.hash(input.asInstanceOf[UTF8String], base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.RollingHashOps.hash($c, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  /** Foldable INT or BIGINT argument as a Long (SQL integer literals
    * arrive as either). */
  private[expressions] def longOf(e: Expression): Long = e.eval() match {
    case i: Int => i.toLong
    case l: Long => l
  }

  def build(exprs: Seq[Expression]): Expression =
    RollingHash(exprs(0), longOf(exprs(1)), longOf(exprs(2)))

  def rollingHashNative(spark: SparkSession, c: Column, base: Long, mod: Long): Column =
    org.apache.spark.sql.functions.call_udf("rolling_hash", c,
      org.apache.spark.sql.functions.lit(base), org.apache.spark.sql.functions.lit(mod))
}
