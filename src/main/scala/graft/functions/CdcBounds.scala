package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native content-defined-chunking boundary scan
  * ([[graft.llm.Curation.chunkCdc]]'s cut rule): `graft_cdc_bounds(text)`
  * returns the 1-based positions p ∈ [w, n−1] whose trailing `w`-char
  * window hashes to 0 mod `div` — one codegen'd pass per document.
  *
  * Replaces the declarative `filter(sequence(w, n − 1), p -> conv(
  * substring(md5("cdc:" || substr(t, p−w+1, w)), 1, 12), 16, 10) % div = 0)`:
  * Spark evaluates array higher-order functions INTERPRETED (the
  * [[Winnow]] / [[CenteredOuterProducts]] lesson), so that shape paid one
  * lambda dispatch plus an md5-hex-string round trip (binary cast, 32-char
  * hex rendering, base-16 string parse) PER CHARACTER POSITION. Here each
  * position hashes once and compares the digest's top 48 bits directly.
  *
  * Value parity is bit-exact: h48 = first 12 hex digits of the md5 read
  * base-16 = the big-endian top 6 digest bytes; windows are sliced by
  * Unicode CODE POINTS (Spark's `length`/`substr` semantics on
  * UTF8String, and DuckDB's — the [[Winnow]] precedent), and the hash is
  * non-negative so `%` agrees across engines. */
final case class CdcBounds(child: Expression, w: Int, div: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_cdc_bounds"

  override def nullSafeEval(input: Any): Any =
    CdcBounds.compute(input.asInstanceOf[UTF8String], w, div)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CdcBounds$$.MODULE$$.compute($s, $w, $div);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcBounds {
  val FunctionName = "graft_cdc_bounds"

  def compute(s: UTF8String, w: Int, div: Int): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    if (n <= w) return new GenericArrayData(Array.empty[Int])
    val md = MessageDigest.getInstance("MD5")
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var p = w // 1-based position of the window's LAST char; window = [p−w+1, p]
    while (p <= n - 1) {
      md.reset()
      val d = md.digest(
        ("cdc:" + new String(cps, p - w, w)).getBytes(StandardCharsets.UTF_8))
      // first 12 hex digits base-16 == big-endian top 6 digest bytes
      val h48 =
        ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      if (h48 % div == 0) out += p
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Register as `graft_cdc_bounds(text, w, div)` — w and div must be
    * integer literals (they parameterize the generated code). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  def builder: Seq[Expression] => Expression = { args =>
    require(args.length == 3, s"$FunctionName expects (text, w, div)")
    def lit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: $name must be an integer literal, got $other")
    }
    CdcBounds(args.head, lit(args(1), "w"), lit(args(2), "div"))
  }
}
