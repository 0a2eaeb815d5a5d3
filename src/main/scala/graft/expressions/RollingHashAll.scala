package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel: ALL k-char-window polynomial rolling hashes of a
  * string, computed in O(n) by the textbook Rabin–Karp slide — drop the
  * leading char's `c * base^(k-1)` term, shift, add the entering char.
  * Values are identical to [[RollingHashOps.hash]] applied to each
  * k-char substring (spec-pinned), so per-position recomputation
  * (O(n·k), the naive `transform(sequence(...), i -> rolling_hash(
  * substring(...)))` formulation) is never needed on the hot path.
  */
object RollingHashAllOps {
  def hashAll(s: UTF8String, k: Int, base: Long, mod: Long): ArrayData = {
    val str = s.toString
    val n = str.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    var pow = 1L // base^(k-1) mod m
    var i = 0
    while (i < k - 1) { pow = (pow * base) % mod; i += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = (h * base + str.charAt(i).toLong) % mod; i += 1 }
    out(0) = h
    var j = 1
    while (j <= n - k) {
      h = (h + mod - (str.charAt(j - 1).toLong * pow) % mod) % mod
      h = (h * base + str.charAt(j + k - 1).toLong) % mod
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd all-windows rolling hash: `rolling_hash_all(text, k, base,
  * mod)` returns the ARRAY of every k-char window's hash (empty when
  * the string is shorter than k). The map-side kernel of the
  * character-level exact-substring dedup — one corpus scan emits every
  * candidate gram position in linear time. */
case class RollingHashAll(child: Expression, k: Int, base: Long, mod: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_hash_all"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash_all expects string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    RollingHashAllOps.hashAll(input.asInstanceOf[UTF8String], k, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.RollingHashAllOps.hashAll($c, $k, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashAll {
  import RollingHash.longOf

  def build(exprs: Seq[Expression]): Expression =
    RollingHashAll(exprs(0), longOf(exprs(1)).toInt, longOf(exprs(2)), longOf(exprs(3)))

  def rollingHashAllNative(spark: SparkSession, c: Column, k: Int,
                           base: Long, mod: Long): Column =
    org.apache.spark.sql.functions.call_udf("rolling_hash_all", c,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(base),
      org.apache.spark.sql.functions.lit(mod))
}
