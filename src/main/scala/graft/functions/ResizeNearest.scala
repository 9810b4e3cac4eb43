package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Nearest-neighbor gather over a raw byte raster as ONE codegen'd
  * expression: `graft_resize_nn(payload, src_w, src_h, out_w, out_h)`
  * returns the outW·outH gathered bytes hex-encoded (uppercase, matching
  * `hex()`), source index per output pixel (x, y) =
  * (⌊y·srcH/outH⌋·srcW + ⌊x·srcW/outW⌋) mod byteLen.
  *
  * This replaces the declarative formulation (hex(payload) +
  * 256-element `transform` of per-pixel `substr`s): higher-order
  * functions evaluate INTERPRETED in Spark, so that shape paid a lambda
  * dispatch plus a UTF8String slice allocation per output pixel plus an
  * O(payload) hex materialization per row — measured ~400 µs CPU/row at
  * sf0.1. Here the whole gather is tight integer math over the payload
  * bytes inside whole-stage codegen: no hex intermediate, no per-pixel
  * allocation, one output buffer per row. Values are bit-identical: for
  * the non-negative, small operands involved, long division equals the
  * double floor()s of the old expression and of the DuckDB oracle.
  *
  * Scale shape: pure per-row map, zero shuffle, output bounded at
  * 2·outW·outH bytes/row regardless of payload size.
  */
final case class ResizeNearestNN(first: Expression, second: Expression,
    third: Expression, outW: Int, outH: Int) extends TernaryExpression {

  require(outW > 0 && outH > 0, "output dims must be > 0")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_resize_nn"

  override def nullSafeEval(payload: Any, srcW: Any, srcH: Any): Any =
    ResizeNearestNN.compute(payload.asInstanceOf[Array[Byte]],
      srcW.asInstanceOf[Long], srcH.asInstanceOf[Long], outW, outH)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, w, h) =>
      s"""${ev.value} = graft.functions.ResizeNearestNN$$.MODULE$$.compute(
         |  $p, $w, $h, $outW, $outH);""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ResizeNearestNN {
  val FunctionName = "graft_resize_nn"

  private val Hex = "0123456789ABCDEF".getBytes("US-ASCII")

  def compute(payload: Array[Byte], srcW: Long, srcH: Long,
              outW: Int, outH: Int): UTF8String = {
    val blen = payload.length.toLong
    if (blen == 0) return UTF8String.EMPTY_UTF8
    val out = new Array[Byte](outW * outH * 2)
    var i = 0
    var y = 0
    while (y < outH) {
      // non-negative operands: long division == floor of the real quotient
      val rowBase = (y.toLong * srcH / outH) * srcW
      var x = 0
      while (x < outW) {
        val sx = x.toLong * srcW / outW
        val b = payload(((rowBase + sx) % blen).toInt) & 0xff
        out(i) = Hex(b >>> 4)
        out(i + 1) = Hex(b & 0xf)
        i += 2
        x += 1
      }
      y += 1
    }
    UTF8String.fromBytes(out)
  }

  /** SQL builder: graft_resize_nn(payload, src_w, src_h, out_w, out_h)
    * with out_w/out_h integer literals. */
  def builder: Seq[Expression] => Expression = { args =>
    require(args.length == 5,
      s"$FunctionName expects (payload, src_w, src_h, out_w lit, out_h lit)")
    def lit(e: Expression, name: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType)   => v.toInt
      case other => throw new IllegalArgumentException(
        s"$name must be an integer literal, got $other")
    }
    require(args.head.dataType == BinaryType,
      s"$FunctionName payload must be BINARY, got ${args.head.dataType}")
    // src dims must be LONG at analysis time: interpreted eval casts to
    // Long (an INT column would ClassCastException at runtime) while
    // codegen happens to widen — a path-dependent failure without this
    for ((e, name) <- Seq(args(1) -> "src_w", args(2) -> "src_h"))
      require(e.dataType == LongType,
        s"$FunctionName $name must be BIGINT, got ${e.dataType}")
    ResizeNearestNN(args(0), args(1), args(2),
      lit(args(3), "out_w"), lit(args(4), "out_h"))
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)
}
