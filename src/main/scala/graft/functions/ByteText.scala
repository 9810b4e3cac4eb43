package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The GPT-2 byte↔unicode bijection (Radford et al. 2019; the public
  * `bytes_to_unicode` recipe in openai/gpt-2 `encoder.py`) as a pair of
  * native codegen'd expressions — the representation layer under
  * byte-level BPE.
  *
  * A string's UTF-8 BYTES become a string of per-byte characters:
  * "printable" bytes (0x21–0x7E, 0xA1–0xAC, 0xAE–0xFF) keep their own
  * code point; the remaining 68 (controls, space, DEL, a few Latin-1
  * holes) map to U+0100.. in increasing byte order — so space is Ġ
  * (U+0120), newline Ċ (U+010A), exactly GPT-2's famous spellings. The
  * result is one visible, merge-table-friendly character per byte with
  * NO character the raw text could collide with ambiguity on (the map
  * is a bijection on all 256 values), and no control characters — safe
  * inside SQL literals and replace-chain patterns.
  *
  * Laws: `byteDec(byteEnc(s)) == s` for every string (bijection on
  * bytes; any valid String's UTF-8 bytes decode back to it), and
  * `length(byteEnc(s)) == octet_length(s)` — the byte-accounting a
  * byte-level tokenizer's budgets rest on. Both pure per-row maps in
  * whole-stage codegen, zero shuffle at any scale.
  */
object ByteText {

  /** byte value → byte-char (the GPT-2 table, derived not hardcoded). */
  val byteToChar: Array[Char] = {
    val keep = ((0x21 to 0x7e) ++ (0xa1 to 0xac) ++ (0xae to 0xff)).toSet
    val arr = new Array[Char](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (keep(b)) arr(b) = b.toChar
      else { arr(b) = (0x100 + n).toChar; n += 1 }
    }
    arr
  }

  /** byte-char code point → byte value, −1 elsewhere (bounded table:
    * every byte-char is < 0x144). */
  private val charToByte: Array[Int] = {
    val arr = Array.fill(0x144)(-1)
    byteToChar.zipWithIndex.foreach { case (c, b) => arr(c.toInt) = b }
    arr
  }

  /** Is `c` in the byte-char alphabet (some byte maps to it)? */
  def isByteChar(c: Char): Boolean =
    c.toInt < 0x144 && charToByte(c.toInt) >= 0

  def encode(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(byteToChar(bytes(i) & 0xff)); i += 1 }
    UTF8String.fromString(sb.toString)
  }

  def decode(s: UTF8String): UTF8String = {
    val str = s.toString
    val out = new Array[Byte](str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i).toInt
      val b = if (c < 0x144) charToByte(c) else -1
      require(b >= 0, s"graft_byte_dec: '${str.charAt(i)}' (U+${c.toHexString}) " +
        "is not a byte-char — input must be graft_byte_enc output")
      out(i) = b.toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** DuckDB list literal `['c0', 'c1', …, 'c255']` of the byte-char
    * table (1-indexed by byte value + 1) — lets an oracle replay
    * [[encode]] from `hex(encode(text))`. Quote chars are doubled per
    * SQL literal rules; no entry is a control character by
    * construction. */
  def oracleByteMapLiteral: String =
    byteToChar.map(c => "'" + (if (c == '\'') "''" else c.toString) + "'")
      .mkString("[", ", ", "]")
}

/** `graft_byte_enc(s)` — UTF-8 bytes of `s` as one byte-char each. */
final case class ByteEnc(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = ByteEnc.FunctionName
  override def nullSafeEval(input: Any): Any =
    ByteText.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.ByteText$$.MODULE$$.encode($s);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ByteEnc {
  val FunctionName = "graft_byte_enc"
  def builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$FunctionName expects (string)")
    ByteEnc(args.head)
  }
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)
}

/** `graft_byte_dec(s)` — inverse of [[ByteEnc]]; fails loudly on any
  * character outside the byte-char alphabet. */
final case class ByteDec(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = ByteDec.FunctionName
  override def nullSafeEval(input: Any): Any =
    ByteText.decode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.ByteText$$.MODULE$$.decode($s);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ByteDec {
  val FunctionName = "graft_byte_dec"
  def builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$FunctionName expects (string)")
    ByteDec(args.head)
  }
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)
}
