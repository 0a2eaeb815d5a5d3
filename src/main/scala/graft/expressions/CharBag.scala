package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the packed character-bag edit-distance prefilter.
  *
  * `charBag64` folds a string into 16 four-bit character-class counts
  * (one count per CODE POINT — UTF-8 continuation bytes are skipped,
  * the class is the lead byte % 16 — clamped at 15) packed into one
  * long. `bagDistLb` reads two packed bags and returns
  * `max(Σ positive lane diffs, Σ negative lane diffs)` — a LOWER BOUND
  * on the true (code-point) edit distance: every edit operation moves
  * at most ONE code-point occurrence per side, so turning string a
  * into string b needs at least as many operations as the larger
  * one-sided multiset difference of their code-point bags; coarsening
  * code points into 16 classes and clamping counts at 15 can only
  * SHRINK the measured difference, so the bound stays conservative
  * (never kills a pair the real distance would keep). Counting BYTES
  * here would break that soundness off the ASCII path — one 2-byte
  * substitution moves two byte-occurrences per side, inflating the
  * "bound" past the true distance — which is why the loop keys on
  * lead bytes only (for pure ASCII the two definitions coincide).
  * The per-pair cost is 16 shift/mask/diff integer ops against the
  * O(len * maxDist) banded Levenshtein it gates.
  */
object CharBagOps {
  def charBag64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val counts = new Array[Int](16)
    var i = 0
    while (i < bytes.length) {
      // Skip UTF-8 continuation bytes (10xxxxxx): one count per code
      // point keeps the bag aligned with the code-point distance.
      if ((bytes(i) & 0xC0) != 0x80) counts(bytes(i) & 0xF) += 1
      i += 1
    }
    var packed = 0L
    i = 0
    while (i < 16) {
      val c = if (counts(i) > 15) 15 else counts(i)
      packed |= c.toLong << (i * 4)
      i += 1
    }
    packed
  }

  def bagDistLb(a: Long, b: Long): Int = {
    var plus = 0
    var minus = 0
    var i = 0
    while (i < 16) {
      val d = ((a >>> (i * 4)) & 0xFL).toInt - ((b >>> (i * 4)) & 0xFL).toInt
      if (d > 0) plus += d else minus -= d
      i += 1
    }
    if (plus > minus) plus else minus
  }
}

/** Codegen'd packed character bag of a string — the build-side half of
  * the fuzzy-join prefilter: projected once per row, carried through
  * the exchange as 8 bytes. */
case class CharBag64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "charbag64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"charbag64 expects string, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    CharBagOps.charBag64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.CharBagOps.charBag64($c)")

  override protected def withNewChildInternal(newChild: Expression): CharBag64 =
    copy(child = newChild)
}

/** Codegen'd bag-distance lower bound over two packed bags — the
  * per-candidate half of the prefilter, evaluated inside the join
  * condition ahead of the banded Levenshtein. */
case class BagDistLb(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bag_dist_lb"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bag_dist_lb expects (bigint, bigint), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CharBagOps.bagDistLb(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.CharBagOps.bagDistLb($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BagDistLb =
    copy(left = newLeft, right = newRight)
}

object CharBag64 {
  def buildBag(exprs: Seq[Expression]): Expression = CharBag64(exprs.head)
  def buildLb(exprs: Seq[Expression]): Expression = BagDistLb(exprs(0), exprs(1))

  def bagCol(spark: org.apache.spark.sql.SparkSession,
             s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_udf("charbag64", s)

  def lbCol(spark: org.apache.spark.sql.SparkSession,
            a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_udf("bag_dist_lb", a, b)
}
