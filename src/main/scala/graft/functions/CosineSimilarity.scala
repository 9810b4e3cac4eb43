package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity between two array<float>
  * columns, with whole-stage codegen (`doGenCode`). Replaces the
  * zip_with+aggregate higher-order formulation in the ANN hot path — HOF
  * lambdas evaluate interpreted per element; this emits a tight primitive
  * loop. The accumulation order (single left-to-right pass for dot product
  * and both norms) is IDENTICAL to the HOF version, so results are
  * bit-for-bit the same and the DuckDB oracle parity is preserved.
  */
final case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  // contract: both children are array<float> (the embeddings schema)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val FunctionName = "graft_cosine"

  /** Register as a session function so `expr("graft_cosine(a, b)")` works. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  /** Expression builder — shared by [[register]] (temp function on an
    * existing session) and [[graft.GraftExtensions]] (config-based
    * injection at session build). */
  def builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression =
      { args =>
        require(args.length == 2, s"$FunctionName expects 2 arguments")
        CosineSimilarity(args.head, args(1))
      }
}
