package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for single-pass SimHash bit computation. */
object SimHashOps {
  final val ShingleN = 3

  /** 64 SimHash bits (0/1 longs) over distinct word 3-gram shingles
    * hashed with Spark's xxhash64 (XXH64, seed 42). Shingle features
    * (not unigrams) keep SimHash discriminative on corpora that share a
    * vocabulary: word order matters. Semantically identical to exploding
    * distinct shingle strings, xxhash64-ing them and summing +-1 votes
    * per bit — but one pass per document. Documents with fewer than 3
    * words contribute a single whole-document feature. */
  def simhashBits(s: UTF8String, seed: Long): ArrayData = {
    val packed = simhashPacked(s, seed)
    val bits = new Array[Long](64)
    var j = 0
    while (j < 64) { bits(j) = (packed >>> j) & 1L; j += 1 }
    new GenericArrayData(bits)
  }

  /** Same kernel, packed: bit j of the result is simhashBits(...)(j).
    * One 8-byte signature instead of a 64-element array — the form the
    * shuffle should carry, and the form `bit_count(a ^ b)` (codegen'd)
    * turns into a Hamming distance with no interpreted fold. */
  def simhashPacked(s: UTF8String, seed: Long): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    // word start offsets (single-space separated, mirroring split(' '))
    var words = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' ') words += 1; i += 1 }
    val starts = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < n) { if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(0) = 0
    starts(words) = n + 1
    val features = new java.util.LinkedHashSet[UTF8String]()
    if (words >= ShingleN) {
      var k = 0
      while (k <= words - ShingleN) {
        val from = starts(k)
        val until = starts(k + ShingleN) - 1 // exclusive of trailing separator
        features.add(UTF8String.fromBytes(bytes, from, until - from))
        k += 1
      }
    } else {
      features.add(s)
    }
    val votes = new Array[Int](64)
    val it = features.iterator()
    while (it.hasNext) {
      val h = XXH64.hashUTF8String(it.next(), seed)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    var packed = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) packed |= (1L << j); j += 1 }
    packed
  }
}

/** Codegen'd packed SimHash (bit j == simhash_bits(j)); see SimHashOps. */
case class SimHashPacked(child: Expression, seed: Long = 42L) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"simhash64 expects string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    SimHashOps.simhashPacked(input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.SimHashOps.simhashPacked($c, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashPacked {
  def build(exprs: Seq[Expression]): Expression = SimHashPacked(exprs(0))

  def simhash64Native(spark: SparkSession, c: Column): Column =
    org.apache.spark.sql.functions.call_udf("simhash64", c)
}

/** Codegen'd single-pass SimHash over a text column (see SimHashOps). */
case class SimHashBits(child: Expression, seed: Long = 42L) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_bits"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"simhash_bits expects string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    SimHashOps.simhashBits(input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.SimHashOps.simhashBits($c, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashBits {
  def build(exprs: Seq[Expression]): Expression = SimHashBits(exprs(0))

  def simhashBitsNative(spark: SparkSession, c: Column): Column =
    org.apache.spark.sql.functions.call_udf("simhash_bits", c)
}
