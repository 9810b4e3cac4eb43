package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: random-hyperplane LSH bucket id of an
  * array<float> embedding — bit p is set iff `dot(vec, planes(p)) > 0`.
  *
  * Replaces `nPlanes` zip_with+aggregate HOF dot products per row (each an
  * interpreted lambda chain) with ONE codegen'd nested loop over a
  * broadcast-referenced plane matrix. Accumulation order per plane is the
  * same sequential fold as the HOF version, so bucket ids are identical and
  * the DuckDB oracle parity is preserved.
  *
  * @param planes rows = planes, columns = vector dimensions
  */
final case class HyperplaneBucket(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = math.min(v.numElements(), planes(0).length)
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val row = planes(p)
      var dot = 0.0
      var d = 0
      while (d < dims) { dot += v.getFloat(d).toDouble * row(d); d += 1 }
      if (dot > 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val bits = ctx.freshName("bits")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val dims = ctx.freshName("dims")
      val row = ctx.freshName("row")
      s"""
         |long $bits = 0L;
         |int $dims = java.lang.Math.min($v.numElements(), $planesRef[0].length);
         |for (int $p = 0; $p < $planesRef.length; $p++) {
         |  double[] $row = $planesRef[$p];
         |  double $dot = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    $dot += ((double) $v.getFloat($d)) * $row[$d];
         |  }
         |  if ($dot > 0) $bits |= (1L << $p);
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBucket {
  val FunctionName = "graft_lsh_bucket"

  /** Register as `graft_lsh_bucket(vec, planeOffset, nPlanes)`; the md5-
    * derived plane matrix is materialized driver-side from the literal
    * offset/count (see [[graft.llm.Ann.planeComponent]]). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  /** Expression builder — shared by [[register]] (temp function on an
    * existing session) and [[graft.GraftExtensions]] (config-based
    * injection at session build). */
  def builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression =
      { args =>
        require(args.length == 3, s"$FunctionName expects (vec, planeOffset, nPlanes)")
        val off = args(1).eval().asInstanceOf[Number].intValue()
        val n = args(2).eval().asInstanceOf[Number].intValue()
        val matrix = Array.tabulate(n, graft.llm.Ann.Dims)((p, d) =>
          graft.llm.Ann.planeComponent(off + p, d))
        HyperplaneBucket(args.head, matrix)
      }
}
