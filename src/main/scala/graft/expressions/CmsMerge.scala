package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.util.sketch.CountMinSketch

/** Distributed merge of serialized [[CountMinSketch]] bytes — the
  * aggregate Spark's builtin surface is missing (HLL has
  * `hll_union_agg`, KLL has `kll_merge_agg_bigint`; CMS has only the
  * build-side `count_min_sketch`). CMS merge is cell-wise counter
  * addition: associative and commutative, so partial aggregation is
  * EXACT — map-side partials merge whatever sketch rows each partition
  * holds, the final reduce merges one partial per partition on an
  * executor, and the plan never ships the full calendar of sketches to
  * one process. Input sketches must share (depth, width, seed);
  * [[CountMinSketch.mergeInPlace]] throws `IncompatibleMergeException`
  * otherwise, which is the correct loud failure for mixed-shape state.
  */
case class CmsMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMinSketch] {

  override def createAggregationBuffer(): CountMinSketch = null

  override def update(buf: CountMinSketch, input: InternalRow): CountMinSketch = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val sk = CountMinSketch.readFrom(
        new ByteArrayInputStream(v.asInstanceOf[Array[Byte]]))
      if (buf == null) sk else { buf.mergeInPlace(sk); buf }
    }
  }

  override def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch =
    if (a == null) b
    else if (b == null) a
    else { a.mergeInPlace(b); a }

  override def eval(buf: CountMinSketch): Any =
    if (buf == null) null else CmsMergeAgg.toBytes(buf)

  override def serialize(buf: CountMinSketch): Array[Byte] =
    if (buf == null) Array.emptyByteArray else CmsMergeAgg.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): CountMinSketch =
    if (bytes.isEmpty) null
    else CountMinSketch.readFrom(new ByteArrayInputStream(bytes))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_merge expects binary count-min sketch bytes, got $other")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "cms_merge"

  override def withNewMutableAggBufferOffset(n: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsMergeAgg =
    copy(child = newChildren.head)
}

object CmsMergeAgg {
  private[expressions] def toBytes(sk: CountMinSketch): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    sk.writeTo(out)
    out.toByteArray
  }

  def buildMerge(exprs: Seq[Expression]): Expression =
    CmsMergeAgg(exprs.head).toAggregateExpression()
  def buildEstimate(exprs: Seq[Expression]): Expression =
    CmsEstimate(exprs(0), exprs(1))
  def buildEstimateAll(exprs: Seq[Expression]): Expression =
    CmsEstimateAll(exprs(0), exprs(1))

  def mergeCol(spark: SparkSession, sk: Column): Column =
    org.apache.spark.sql.functions.call_udf("cms_merge", sk)

  def estimateCol(spark: SparkSession, sk: Column, key: Column): Column =
    org.apache.spark.sql.functions.call_udf("cms_estimate", sk, key)

  def estimateAllCol(spark: SparkSession, sk: Column, keys: Column): Column =
    org.apache.spark.sql.functions.call_udf("cms_estimate_all", sk, keys)
}

/** The deserialized sketch of the last bytes seen, shared by
  * `cms_estimate` and `cms_estimate_all`. One memo per expression
  * instance (tasks get their own serialized copies, so it is task-local
  * and thread-confined): the common shape — a single merged or literal
  * sketch against many candidate rows — deserializes once and answers
  * each row from the cached sketch. The memo is EXACT: a 64-bit
  * fingerprint of 16 stride-sampled 8-byte windows serves as a cheap
  * NEGATIVE filter (fingerprints differ -> definitely a different sketch
  * -> re-deserialize without touching the cached bytes), and a
  * fingerprint match is CONFIRMED by `Arrays.equals` against the
  * retained bytes before the cached sketch is trusted (the same array,
  * as a literal hands every row, confirms by reference). Sampled bytes
  * alone were not a safe key: two sparse same-shape monthly sketches can
  * agree on every sampled window (most counter cells are zero), and a
  * false hit would silently answer from the wrong month. A hit on equal
  * but distinct arrays costs one vectorized compare of the sketch per
  * row — bounded by design, the candidate list is calendar x k rows,
  * never a fact scan. Not codegen'd for the same reason. */
private[expressions] final class CmsMemo {
  private var bytes: Array[Byte] = _
  private var fp: Long = 0L
  private var sketch: CountMinSketch = _

  /** 64-bit mix of 16 8-byte windows at even strides across the array
    * (covering head and tail) — reads 128 bytes regardless of sketch
    * size. */
  private def fingerprint(b: Array[Byte]): Long = {
    val n = b.length
    var h = n.toLong * 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 16) {
      val off = if (n <= 8) 0 else (i.toLong * (n - 8) / 15).toInt
      var w = 0L
      var j = 0
      while (j < 8 && off + j < n) { w = (w << 8) | (b(off + j) & 0xffL); j += 1 }
      h ^= w
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      i += 1
    }
    h
  }

  def apply(b: Array[Byte]): CountMinSketch = {
    val f = fingerprint(b)
    if (sketch == null || f != fp || !java.util.Arrays.equals(b, bytes)) {
      sketch = CountMinSketch.readFrom(new ByteArrayInputStream(b))
      bytes = b
      fp = f
    }
    sketch
  }
}

/** Batch point-estimate lookup: `cms_estimate_all(sk, keys)` = the
  * sketch's estimates for EVERY key of an array<long>. Exists because a
  * serve that fans one broadcast ~1.1 MB merged sketch across thousands
  * of candidate rows through the per-key form pays one megabyte-scale
  * compare PER ROW on the memo's hit path (~2.1 s of the stored
  * heavy-hitter serve's 2.4 s at sf0.1, in one task). Here the bounded
  * candidate list rides ONE array cell, the sketch goes through the same
  * memo, and each key costs exactly `estimateCount` — the same
  * estimates, row for row. */
case class CmsEstimateAll(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, org.apache.spark.sql.types.ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate_all expects (binary, array<bigint>), got ($l, $r)")
    }

  @transient private lazy val memo = new CmsMemo

  override protected def nullSafeEval(sk: Any, keys: Any): Any = {
    val sketch = memo(sk.asInstanceOf[Array[Byte]])
    val arr = keys.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = new Array[Long](arr.numElements())
    var i = 0
    while (i < out.length) { out(i) = sketch.estimateCount(arr.getLong(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cms_estimate_all"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimateAll =
    copy(left = newLeft, right = newRight)
}

/** Point-estimate lookup against serialized CMS bytes:
  * `cms_estimate(sk, key)` = the sketch's (one-sided, never-under)
  * count estimate for `key`, through the exact [[CmsMemo]]. */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  @transient private lazy val memo = new CmsMemo

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate expects (binary, bigint), got ($l, $r)")
    }

  override protected def nullSafeEval(sk: Any, key: Any): Any =
    memo(sk.asInstanceOf[Array[Byte]]).estimateCount(key.asInstanceOf[Long])

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}
