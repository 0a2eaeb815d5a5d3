package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by interpreted eval and generated code. */
object ShingleOps {
  final val Mod = 1000000007L
  final val Base = 31L

  /** Distinct rolling hashes of word n-gram shingles, first-occurrence
    * order — semantically identical to
    * array_distinct(transform(shingles(text), s -> rollingHash(s))) with
    * shingles joined by ' ', but one pass over the bytes with no
    * intermediate strings. */
  def distinctShingleHashes(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    // word start offsets
    var words = 0
    val len = str.length
    var i = 0
    // count words (single-space separated, mirroring split(' '))
    if (len >= 0) { words = 1; while (i < len) { if (str.charAt(i) == ' ') words += 1; i += 1 } }
    val starts = new Array[Int](words + 1)
    var w = 1
    starts(0) = 0
    i = 0
    while (i < len) { if (str.charAt(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(words) = len + 1 // sentinel: word k spans [starts(k), starts(k+1)-2]
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (words >= n) {
      var k = 0
      while (k <= words - n) {
        // hash chars of words k..k+n-1 inclusive, which are contiguous in
        // the original string (single separators) -> hash the substring
        // [starts(k), starts(k+n)-2)
        val from = starts(k)
        val until = starts(k + n) - 2 // exclusive of trailing separator
        var h = 0L
        var j = from
        while (j <= until) { h = (h * Base + str.charAt(j).toLong) % Mod; j += 1 }
        out.add(h)
        k += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var idx = 0
    while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
    new GenericArrayData(arr)
  }
}

/** Codegen'd distinct word-n-gram shingle rolling hashes — replaces the
  * interpreted nested higher-order-function composition (split ->
  * transform -> aggregate per shingle), which dominated dedup runtimes
  * (HigherOrderFunctions are CodegenFallback in Spark).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"shingle_hashes expects string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    ShingleOps.distinctShingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.ShingleOps.distinctShingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  def build(exprs: Seq[Expression]): Expression = {
    val n = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => other.eval().asInstanceOf[Int]
    }
    ShingleHashes(exprs(0), n)
  }

  def shingleHashesNative(spark: SparkSession, c: Column, n: Int = 3): Column =
    org.apache.spark.sql.functions.call_udf("shingle_hashes", c,
      org.apache.spark.sql.functions.lit(n))
}
