package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Every ordered co-bucket pair WITH its cosine as ONE codegen'd
  * expression: `graft_bucket_pairs(ds)` over a collect_list'd
  * array<struct<vec_id: long, embedding: array<float>>> returns
  * array<struct<vec_a, vec_b, cos>> — one element per (i, j) with
  * ds[i].vec_id < ds[j].vec_id (i outer, j inner, both in list order),
  * cos = the UNROUNDED [[CosineSimilarity]] double of the two embeddings
  * (callers apply Spark's own `round(_, 6)` so the published grid is
  * unchanged).
  *
  * This replaces [[graft.llm.Ann.lshNearDup]]'s declarative pair
  * enumeration — `flatten(transform(ds, a -> transform(filter(ds, ...))))`
  * — which Spark evaluates INTERPRETED (the [[CenteredOuterProducts]] /
  * ResizeNearestNN lesson): per co-bucket member it paid n lambda
  * dispatches for the filter, one more per surviving pair, and allocated
  * an intermediate pair struct carrying BOTH 64-float embeddings
  * (~1 KB each) before the cosine consumed and discarded them. Here the
  * pair grid is two tight loops over primitive arrays inside whole-stage
  * codegen, embeddings are read once per member, and the emitted structs
  * are 24 bytes. Values are bit-identical: same emission multiset and
  * order, and the cosine is the same dot/norms accumulation loop (same
  * float→double casts, same addition order, n = min of the two lengths)
  * as [[CosineSimilarity]], which the old path called per pair.
  *
  * Scale shape: pure per-row map after the co-bucket groupBy, zero
  * shuffle; the explode + distinct around it are unchanged. Worst-case
  * output is C(maxBucket, 2) structs per bucket — the same pair budget
  * the old flatten materialized, at 1/40th the bytes. */
final case class BucketPairScores(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BucketPairScores.OutType
  override def prettyName: String = "graft_bucket_pairs"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType match {
      case ArrayType(StructType(Array(f0, f1)), _) =>
        f0.dataType == LongType &&
          (f1.dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          })
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct<long, array<float>>>, got " +
        child.dataType.catalogString)
  }

  override def nullSafeEval(ds: Any): Any =
    BucketPairScores.compute(ds.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d =>
      s"${ev.value} = graft.functions.BucketPairScores$$.MODULE$$.compute($d);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BucketPairScores {
  val FunctionName = "graft_bucket_pairs"

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("vec_a", LongType, nullable = false),
    StructField("vec_b", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  /** Register as a session function so `expr("graft_bucket_pairs(ds)")`
    * works (the [[CosineSimilarity.register]] convention). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, FunctionName, builder)

  def builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$FunctionName expects 1 argument")
    BucketPairScores(args.head)
  }

  def compute(ds: ArrayData): ArrayData = {
    val n = ds.numElements()
    val ids = new Array[Long](n)
    val embs = new Array[Array[Float]](n)
    var i = 0
    while (i < n) {
      require(!ds.isNullAt(i), s"$FunctionName: null member at index $i")
      val s = ds.getStruct(i, 2)
      ids(i) = s.getLong(0)
      embs(i) = s.getArray(1).toFloatArray()
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    i = 0
    while (i < n) {
      val a = embs(i)
      var j = 0
      while (j < n) {
        if (ids(i) < ids(j)) {
          // the CosineSimilarity accumulation, verbatim: n = min length,
          // float→double per element, dot/nx/ny in one ascending pass
          val b = embs(j)
          val m = math.min(a.length, b.length)
          var dot = 0.0; var nx = 0.0; var ny = 0.0
          var t = 0
          while (t < m) {
            val x = a(t).toDouble
            val y = b(t).toDouble
            dot += x * y; nx += x * x; ny += y * y
            t += 1
          }
          out += new GenericInternalRow(Array[Any](ids(i), ids(j),
            dot / (math.sqrt(nx) * math.sqrt(ny))))
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
