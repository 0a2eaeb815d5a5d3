package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel: thresholded Levenshtein specialized for the fuzzy
  * join's hot path. Contract IDENTICAL to Spark's builtin
  * `levenshtein(a, b, k)` (and therefore to the DuckDB oracle's
  * `levenshtein(a, b) <= k` filter): the true distance when it is
  * <= k, -1 otherwise — LevWithinSpec pins equality against the
  * builtin on randomized inputs. Three specializations the generic
  * code-point implementation leaves on the table:
  *
  *  - **Common prefix/suffix trimming** (distance-preserving: aligning
  *    identical ends costs 0 and no cheaper alignment exists). Blocked
  *    candidates share >= blockLen leading chars BY CONSTRUCTION, so
  *    every pair starts with >= 8 guaranteed-trimmed rows, and true
  *    near-dups trim from both ends.
  *  - **Byte-level DP on the ASCII fast path** (one high-bit scan
  *    decides; ASCII bytes == code points, so the result is exact).
  *    Non-ASCII inputs fall back to the builtin's code-point
  *    implementation wholesale — byte-trimming is not attempted there.
  *  - **Banded rows with row-min early bail**: only the 2k+1 diagonal
  *    band is computed, and a row whose minimum already exceeds k
  *    certifies distance > k immediately — for unrelated natural text
  *    (the overwhelming majority of a dense block's candidates) the
  *    bail fires after ~k rows, pricing a reject at O(k^2) instead of
  *    O(len * k).
  */
object LevWithinOps {
  def levWithin(a: UTF8String, b: UTF8String, k: Int): Int = {
    val ab = a.getBytes
    val bb = b.getBytes
    // ASCII fast path test: one pass, bails at the first high bit.
    var i = 0
    while (i < ab.length) { if (ab(i) < 0) return a.levenshteinDistance(b, k); i += 1 }
    i = 0
    while (i < bb.length) { if (bb(i) < 0) return a.levenshteinDistance(b, k); i += 1 }

    // Trim the common prefix and suffix — distance-preserving.
    var s = 0
    var ea = ab.length
    var eb = bb.length
    while (s < ea && s < eb && ab(s) == bb(s)) s += 1
    while (ea > s && eb > s && ab(ea - 1) == bb(eb - 1)) { ea -= 1; eb -= 1 }
    val n = ea - s
    val m = eb - s
    if (n == 0) return if (m <= k) m else -1
    if (m == 0) return if (n <= k) n else -1
    if ((if (n > m) n - m else m - n) > k) return -1

    // Banded DP: rows over a's core, columns j in [i-k, i+k] of b's
    // core; INF = k+1 marks out-of-band/over-threshold cells.
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
    i = 1
    while (i <= n) {
      val from = if (i - k > 1) i - k else 1
      val to = if (i + k < m) i + k else m
      cur(from - 1) = if (from == 1 && i <= k) i else inf
      var rowMin = inf
      val ac = ab(s + i - 1)
      j = from
      while (j <= to) {
        val cost = if (ac == bb(s + j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > k) return -1
      // Poison the first cell past this row's band: the next row may
      // read it (as its deletion predecessor at j == i+1+k) and must
      // see INF, not a stale value from two rows ago.
      if (to + 1 <= m) cur(to + 1) = inf
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) <= k) prev(m) else -1
  }
}

/** Codegen'd thresholded Levenshtein (see [[LevWithinOps]]) — drop-in
  * for builtin `levenshtein(a, b, k)` where the k is a literal. */
case class LevWithin(left: Expression, right: Expression, k: Int)
  extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lev_within"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if k >= 0 => TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        s"lev_within threshold must be >= 0, got $k")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"lev_within expects (string, string), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LevWithinOps.levWithin(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.LevWithinOps.levWithin($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LevWithin =
    copy(left = newLeft, right = newRight)
}

object LevWithin {
  /** Accepts Int and Long literal thresholds (SQL integer literals
    * arrive as either). */
  def build(exprs: Seq[Expression]): Expression = {
    val k = exprs(2) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
      case other => other.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case bad =>
          // A raw MatchError here would surface as a scala.MatchError
          // with no SQL context; fail as an analysis-time error instead
          // (covers lev_within(a, b, NULL) and string/decimal literals).
          throw new org.apache.spark.sql.AnalysisException(
            "_LEGACY_ERROR_TEMP_1332",
            Map("errorMessage" ->
              s"lev_within threshold must be a foldable integer, got ${
                if (bad == null) "NULL" else bad.getClass.getSimpleName + s" ($bad)"}"))
      }
    }
    LevWithin(exprs(0), exprs(1), k)
  }

  def levCol(spark: org.apache.spark.sql.SparkSession,
             a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column,
             k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_udf(
      "lev_within", a, b, org.apache.spark.sql.functions.lit(k))
}
