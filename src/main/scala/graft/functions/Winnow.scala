package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprints (Schleimer et al., SIGMOD'03): character
  * 8-gram hashes, sliding-window-of-4 minima, distinct. One codegen'd pass
  * per document.
  *
  * Value parity with the SQL/DuckDB formulation is bit-exact: each 8-gram
  * hash is the first 15 hex digits of its md5 read as a base-16 integer —
  * i.e. the big-endian top 64 bits of the digest `>>> 4`. Replaces a
  * per-position interpreted HOF chain (`transform(... md5 ... conv(hex) ...)`
  * then `transform(... array_min(slice(...)))`) that cost ~2N interpreted
  * lambda evaluations and hex-string round-trips per document.
  */
final case class Winnow(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    Winnow.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Winnow$$.MODULE$$.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Winnow {
  val FunctionName = "graft_winnow"
  private val Gram = 8
  private val Window = 4

  /** 8-gram hashes (`substring(t, i, 8)` semantics, incl. the short-text
    * single-gram case), window-of-4 minima, distinct, in one pass.
    *
    * Grams are sliced by Unicode CODE POINTS, not UTF-16 code units —
    * DuckDB's `substr` (the oracle formulation) counts code points, and
    * supplementary-plane characters (emoji etc.) would otherwise shift gram
    * boundaries and split surrogate pairs into invalid UTF-8. */
  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    val positions = math.max(n - (Gram - 1), 1)
    val hs = new Array[Long](positions)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < positions) {
      md.reset()
      val end = math.min(i + Gram, n)
      val d = md.digest(new String(cps, i, end - i).getBytes(StandardCharsets.UTF_8))
      // big-endian top 8 bytes >>> 4 == first 15 hex digits as base-16 int
      val top =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
          ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      hs(i) = top >>> 4
      i += 1
    }
    val wcount = math.max(positions - (Window - 1), 1)
    val out = new java.util.LinkedHashSet[java.lang.Long]
    var j = 0
    while (j < wcount) {
      var m = Long.MaxValue
      var k = j
      val end = math.min(j + Window, positions)
      while (k < end) { if (hs(k) < m) m = hs(k); k += 1 }
      out.add(m)
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var x = 0
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    new GenericArrayData(arr)
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  /** Expression builder — shared by [[register]] (temp function on an
    * existing session) and [[graft.GraftExtensions]] (config-based
    * injection at session build). */
  def builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression =
      { args =>
        require(args.length == 1, s"$FunctionName expects one string argument")
        Winnow(args.head)
      }
}
