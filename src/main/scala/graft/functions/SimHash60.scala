package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 60-bit SimHash fingerprint from an array of
  * 60-bit token hashes — bit j of the result is set iff
  * `sum over tokens of (((h >> j) & 1) * 2 - 1) > 0`.
  *
  * Replaces 60 interpreted `aggregate()` HOF passes (one per bit) with ONE
  * codegen'd pass that maintains all 60 counters. The per-bit integer sums
  * are order-independent, so the fingerprint is identical to the HOF/SQL
  * formulation (and to the DuckDB oracle).
  */
final case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](60)
    var i = 0
    val n = hs.numElements()
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var j = 0
        while (j < 60) {
          counts(j) += (((h >> j) & 1L) * 2 - 1).toInt
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |int[] $counts = new int[60];
         |for (int $i = 0; $i < $hs.numElements(); $i++) {
         |  if ($hs.isNullAt($i)) continue;
         |  long $h = $hs.getLong($i);
         |  for (int $j = 0; $j < 60; $j++) {
         |    $counts[$j] += (int) ((($h >> $j) & 1L) * 2 - 1);
         |  }
         |}
         |long $fp = 0L;
         |for (int $j = 0; $j < 60; $j++) {
         |  if ($counts[$j] > 0) $fp |= (1L << $j);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash60 {
  val FunctionName = "graft_simhash"

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  /** Expression builder — shared by [[register]] (temp function on an
    * existing session) and [[graft.GraftExtensions]] (config-based
    * injection at session build). */
  def builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression =
      { args =>
        require(args.length == 1, s"$FunctionName expects one array<long> argument")
        SimHash60(args.head)
      }
}
