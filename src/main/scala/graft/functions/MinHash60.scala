package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native MinHash signature: for each seed `s` in 0..k-1, the minimum over
  * the document's grams of the 60-bit md5 hash of `"s:gram"` — exactly the
  * portable SQL/DuckDB definition
  * (`conv(substring(md5(concat(s, ':', g)), 1, 15), 16, 10)`), computed in
  * ONE pass over the gram array instead of k interpreted HOF passes with
  * per-element hex-string round-trips.
  */
final case class MinHash60(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    MinHash60.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, gs =>
      s"${ev.value} = graft.functions.MinHash60$$.MODULE$$.compute($gs, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash60 {
  val FunctionName = "graft_minhash"

  def compute(gs: ArrayData, k: Int): ArrayData = {
    // degenerate no-grams doc (cannot occur via groupBy over exploded grams):
    // empty signature, not null — keeps the expression's null-safety contract
    if (gs.numElements() == 0) return new GenericArrayData(Array.empty[Long])
    val mins = Array.fill(k)(Long.MaxValue)
    val md = MessageDigest.getInstance("MD5")
    val n = gs.numElements()
    var i = 0
    while (i < n) {
      val gram = gs.getUTF8String(i).getBytes // UTF-8 bytes of the gram
      var s = 0
      while (s < k) {
        md.reset()
        md.update(Integer.toString(s).getBytes(StandardCharsets.US_ASCII))
        md.update(':'.toByte)
        md.update(gram)
        val d = md.digest()
        val top =
          ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
            ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        val h = top >>> 4 // first 15 hex digits as a base-16 integer
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  /** Expression builder — shared by [[register]] (temp function on an
    * existing session) and [[graft.GraftExtensions]] (config-based
    * injection at session build). */
  def builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression =
      { args =>
        require(args.length == 2, s"$FunctionName expects (array<string> grams, int k)")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"k must be an int literal, got $other")
        }
        MinHash60(args.head, k)
      }
}
