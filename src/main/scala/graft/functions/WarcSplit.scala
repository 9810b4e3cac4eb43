package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Split a concatenated WARC stream into its records — the
  * CONTENT-LENGTH-driven walk the format requires (ISO 28500: each
  * record is a `WARC/x.y` header block ending `\r\n\r\n`, then exactly
  * `Content-Length` payload bytes, then the `\r\n\r\n` record
  * terminator). Splitting on a `WARC/1.0` REGEX instead is wrong the
  * moment any payload CONTAINS that string (a crawled page quoting a
  * WARC header, a warc-about-warcs — real corpora have both); the walk
  * here consumes payloads by their declared byte length, so payload
  * bytes can never start a phantom record (WarcSpec pins exactly that
  * adversarial case).
  *
  * Input: the raw stream BYTES (a `binary` column — WARC payloads are
  * arbitrary bytes, not UTF-8). Output: array<binary>, one element per
  * complete record, header block + payload, WITHOUT the trailing
  * record terminator. Trailing garbage, a truncated final record, or a
  * header block missing Content-Length ends the walk — everything
  * parsed so far is returned (the keep-direction rule: malformed tails
  * degrade to fewer records, never to corrupt ones).
  *
  * One compiled pass per row, zero shuffle; O(stream bytes) time,
  * output references slices of the input. (Gzipped .warc.gz inputs are
  * decompressed by the file source before this sees bytes — Spark's
  * codec layer, not this expression.) */
final case class WarcSplit(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = WarcSplit.FunctionName

  override def nullSafeEval(input: Any): Any =
    WarcSplit.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.WarcSplit$$.MODULE$$.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WarcSplit {
  val FunctionName = "graft_warc_split"

  // patterns are lowercase: startsWith lower-folds the INPUT byte before
  // comparing (header names are case-insensitive; the magic is matched
  // case-insensitively too, harmless — real writers emit "WARC/")
  private val Magic = "warc/".getBytes("US-ASCII")
  private val ClName = "content-length:".getBytes("US-ASCII")

  private def startsWith(b: Array[Byte], at: Int, pat: Array[Byte]): Boolean = {
    if (at + pat.length > b.length) return false
    var i = 0
    while (i < pat.length) {
      // ASCII-case-insensitive (header names are case-insensitive)
      val c = b(at + i)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      if (lc != pat(i)) return false
      i += 1
    }
    true
  }

  /** Index just past the header block's `\r\n\r\n`, or -1. */
  private def headerEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i + 4
      i += 1
    }
    -1
  }

  /** Content-Length value scanned from the header block [from, to), or
    * -1 when absent/unparseable. */
  private def contentLength(b: Array[Byte], from: Int, to: Int): Long = {
    var i = from
    while (i < to) {
      // at start of a header line?
      if ((i == from || (b(i - 1) == '\n')) && startsWith(b, i, ClName)) {
        var j = i + ClName.length
        while (j < to && b(j) == ' ') j += 1
        var v = -1L
        while (j < to && b(j) >= '0' && b(j) <= '9') {
          if (v < 0) v = 0
          v = v * 10 + (b(j) - '0'); j += 1
        }
        return v
      }
      i += 1
    }
    -1L
  }

  def compute(bytes: Array[Byte]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = 0
    var ok = true
    while (ok && i < bytes.length) {
      // skip inter-record CRLFs, then require the magic
      while (i < bytes.length && (bytes(i) == '\r' || bytes(i) == '\n')) i += 1
      if (i >= bytes.length) ok = false
      else if (!startsWith(bytes, i, Magic)) ok = false
      else {
        val he = headerEnd(bytes, i)
        if (he < 0) ok = false
        else {
          val cl = contentLength(bytes, i, he)
          if (cl < 0 || he + cl > bytes.length) ok = false
          else {
            out += java.util.Arrays.copyOfRange(bytes, i, he + cl.toInt)
            i = he + cl.toInt
          }
        }
      }
    }
    new GenericArrayData(out.map(_.asInstanceOf[Any]).toArray)
  }

  def builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$FunctionName expects (binary stream)")
    require(args.head.dataType == BinaryType,
      s"$FunctionName input must be BINARY, got ${args.head.dataType}")
    WarcSplit(args.head)
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)
}
