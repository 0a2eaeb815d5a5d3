package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.sql.{Column, SparkSession}

/** Bloom-filter membership probe whose bitset rides the expression as a
  * PLAIN JVM ARRAY (a codegen reference object), not a plan literal.
  *
  * Exists because the Column formulation inlined the bitset as an
  * `array<long>` literal — 2048 longs at the default 2^17-bit geometry —
  * and repeated it once per salted hash (nHashes = 3 copies), so every
  * probing query carried megabytes of literal through analysis,
  * optimization, and plan rendering: ~1.2-1.6 s of pure driver latency
  * per execution of text_decontam_bloom_inc (measured; the plan TEXT was
  * 1.7 MB), on any deployment, at any scale — and the cost grows with
  * the filter size, i.e. with the corpus. Here the plan node prints as
  * one line and catalyst never walks the bits.
  *
  * Bit-exact contract: reproduces `pmod(xxhash64(key, lit(i)), nBits)`
  * positions for a LONG key and INT literal salt i — the exact
  * geometry [[graft.operators.Bloom.bitsetWords]] builds (XxHash64's
  * left fold over children from seed 42, nulls SKIPPED exactly as
  * Spark's HashExpression skips them), and the same
  * `word = pos / 64, mask = 1L << (pos % 64)` layout — so a probe
  * against a lake-stored bitset built by any earlier round matches
  * bit for bit (BloomProbeSpec pins equality against the literal
  * formulation, null key included).
  */
object BloomProbeOps {
  /** Fold-in of the salt + bit test, shared by eval and codegen.
    * `h0` = XxHash64 state after the key child (seed 42 if key null). */
  def mightContainH0(h0: Long, bitset: Array[Long], nHashes: Int): Boolean = {
    val nBits = bitset.length * 64L
    var i = 0
    while (i < nHashes) {
      val h = XXH64.hashInt(i, h0)
      val pos = ((h % nBits) + nBits) % nBits
      if ((bitset((pos / 64).toInt) & (1L << (pos % 64).toInt)) == 0L) return false
      i += 1
    }
    true
  }
}

case class BloomProbe(child: Expression, bitset: Array[Long], nHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType if bitset.nonEmpty && nHashes >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_probe expects a BIGINT key, a non-empty bitset and nHashes >= 1, " +
            s"got ($other, words=${bitset.length}, nHashes=$nHashes)")
    }

  override def dataType: DataType = BooleanType
  // Mirrors the xxhash64 formulation: a null key is SKIPPED by the hash
  // fold (state stays at seed 42), it does not null the result.
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_probe"
  override def toString: String = s"bloom_probe($child, ${bitset.length} words, $nHashes)"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val h0 = if (v == null) 42L else XXH64.hashLong(v.asInstanceOf[Long], 42L)
    BloomProbeOps.mightContainH0(h0, bitset, nHashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val bitsRef = ctx.addReferenceObj("bloomBits", bitset, "long[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value}_h0 = ${c.isNull} ? 42L :
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(${c.value}, 42L);
      boolean ${ev.value} = graft.expressions.BloomProbeOps.mightContainH0(
        ${ev.value}_h0, $bitsRef, $nHashes);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomProbe {
  def build(exprs: Seq[Expression]): Expression = {
    // The bitset rides a foldable array<long> literal only while
    // the call is BUILT; it is materialized to a JVM array here
    // and never enters the resolved plan.
    val m = exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = exprs(2) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => other.eval().asInstanceOf[Int]
    }
    BloomProbe(exprs(0), m.toLongArray(), n)
  }

  def bloomProbe(spark: SparkSession, key: Column, bitset: Array[Long], nHashes: Int): Column =
    org.apache.spark.sql.functions.call_udf("bloom_probe", key,
      org.apache.spark.sql.functions.typedLit(bitset.toSeq),
      org.apache.spark.sql.functions.lit(nHashes))
}
