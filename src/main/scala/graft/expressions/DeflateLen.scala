package graft.expressions

import java.util.zip.Deflater

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel: zlib-deflate compressed length at a fixed level. */
object DeflateOps {
  /** Compression level pinned so the signal is a pure function of the
    * bytes; raw (nowrap) stream drops the 6-byte zlib header/trailer
    * noise from short inputs. */
  final val Level = 6

  def deflateLen(bytes: Array[Byte]): Int = {
    val d = new Deflater(Level, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  def deflateLen(s: UTF8String): Int = deflateLen(s.getBytes)
}

/** Codegen'd deflate-compressed length of a string/binary column — the
  * compressibility quality proxy (templated/repetitive text compresses
  * far below natural prose). A per-row kernel call inside whole-stage
  * codegen; the 8 KB scratch buffer is allocated per call, bounded and
  * executor-local.
  */
case class DeflateLen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "deflate_len"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_len expects string or binary, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => DeflateOps.deflateLen(s)
    case b: Array[Byte] => DeflateOps.deflateLen(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => child.dataType match {
      case StringType => s"graft.expressions.DeflateOps.deflateLen($c)"
      case _ => s"graft.expressions.DeflateOps.deflateLen(($c))"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateLen {
  def build(exprs: Seq[Expression]): Expression = DeflateLen(exprs(0))

  def deflateLenNative(spark: SparkSession, c: Column): Column =
    org.apache.spark.sql.functions.call_udf("deflate_len", c)
}
