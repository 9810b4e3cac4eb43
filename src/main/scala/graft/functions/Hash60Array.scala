package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native element-wise 60-bit md5 hash over an array of strings: each
  * element maps to the first 15 hex digits of its md5 read base-16 —
  * identical to the portable column formulation
  * `conv(substring(md5(cast(x as binary)), 1, 15), 16, 10)` and to DuckDB's
  * `('0x' || substr(md5(x), 1, 15))::BIGINT`.
  *
  * Exists so per-document token/gram hashing can happen IN-ROW (one
  * codegen'd pass over the row's own token array) instead of the
  * explode → hash column → groupBy/collect round trip, which costs a full
  * shuffle of every (doc_id, hash) pair. At corpus scale that shuffle is
  * the dominant cost of fingerprinting; this removes it entirely.
  */
final case class Hash60Array(child: Expression) extends UnaryExpression {

  // null elements hash to null, so nullability mirrors the input array's —
  // the registered SQL function (graft_hash60s) is callable on arbitrary
  // arrays, not just the null-free token arrays the dedup pipeline builds
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType, containsNull = false)
  }
  override def prettyName: String = Hash60Array.FunctionName

  override def nullSafeEval(input: Any): Any =
    Hash60Array.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = graft.functions.Hash60Array$$.MODULE$$.compute($xs);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Hash60Array {
  val FunctionName = "graft_hash60s"

  private def hashOne(md: MessageDigest, xs: ArrayData, i: Int): Long = {
    md.reset()
    val d = md.digest(xs.getUTF8String(i).getBytes) // UTF-8 bytes
    val top =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4 // first 15 hex digits as a base-16 integer
  }

  def compute(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val md = MessageDigest.getInstance("MD5")
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = xs.isNullAt(i); i += 1 }
    if (!hasNull) { // primitive fast path — the dedup hot loop never boxes
      val out = new Array[Long](n)
      i = 0
      while (i < n) { out(i) = hashOne(md, xs, i); i += 1 }
      new GenericArrayData(out)
    } else { // null elements pass through as null
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) = if (xs.isNullAt(i)) null else hashOne(md, xs, i)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  /** Expression builder — shared by [[register]] (temp function on an
    * existing session) and [[graft.GraftExtensions]] (config-based
    * injection at session build). */
  def builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression =
      { args =>
        require(args.length == 1, s"$FunctionName expects one array<string> argument")
        Hash60Array(args.head)
      }
}
