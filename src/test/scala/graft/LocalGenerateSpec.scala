package graft

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.{DataFrame, GraftPlan, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CreateArray, Explode, Literal, Rand}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.operators.LocalGenerate

/** The plan-time `Generate` rule: over local rows it gives the executors'
  * rows bit for bit, `outer` included; it leaves a nondeterministic
  * generator and any plan that reduces the generated rows alone; and
  * installing it twice keeps one copy. */
class LocalGenerateSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` with the rule on or off, restoring the session's rules. */
  private def withRule[T](on: Boolean)(body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      if (on) saved.filterNot(_ eq LocalGenerate) :+ LocalGenerate else saved.filterNot(_ eq LocalGenerate)
    try body finally spark.experimental.extraOptimizations = saved
  }

  private def hasGenerate(p: LogicalPlan): Boolean = p.exists(_.isInstanceOf[Generate])

  /** Rows with every double as its raw bits: equal means bit-identical. */
  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => ("bits", doubleToRawLongBits(d))
    case other => other
  })

  private val negNaN = java.lang.Double.longBitsToDouble(0xfff8000000000001L)
  private lazy val local: DataFrame = Seq(
    (1L, Seq(1.5, -0.0, Double.NaN, 4.9e-324), Seq(10.0, 20.0, 30.0, 40.0)),
    (2L, Seq(negNaN, Double.NegativeInfinity), Seq(0.1 + 0.2, -1e308)),
    (3L, Seq.empty[Double], Seq.empty[Double])).toDF("k", "xs", "ys")

  test("inline, explode and posexplode over local rows equal the executors' rows bit for bit") {
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "inline" -> (() => local.select(col("k"), inline(arrays_zip(col("xs"), col("ys"))))),
      "explode" -> (() => local.select(col("k"), explode(col("xs")).as("x"))),
      "posexplode" -> (() => local.select(col("k"), posexplode(col("ys")))),
      "filtered" -> (() => local.filter(col("k") =!= 2L)
        .select((col("k") * 2).as("k2"), explode(col("xs")).as("x")).select(col("k2"), col("x") + 1.0)))
    for ((name, df) <- frames) {
      val off = withRule(on = false) {
        val d = df()
        assert(hasGenerate(d.queryExecution.optimizedPlan), name)
        d.collect()
      }
      val on = withRule(on = true) {
        val d = df()
        assert(d.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], s"$name:\n${d.queryExecution.optimizedPlan}")
        assert(d.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], name)
        val r = Harness.run(spark)(d.collect())
        assert(r.jobs === 0, name)
        r.value
      }
      assert(off.nonEmpty, name)
      assert(bits(on) === bits(off), name)
    }
  }

  test("outer over an empty array emits the null row") {
    def rows() = local.filter(col("k") === 3L).select(col("k"), explode_outer(col("xs")).as("x")).collect()
    val off = withRule(on = false)(rows())
    val on = withRule(on = true)(rows())
    assert(off.toSeq === Seq(Row(3L, null)))
    assert(on.toSeq === off.toSeq)
  }

  test("a nondeterministic generator is left alone") {
    val x = AttributeReference("x", DoubleType)()
    val rel = LocalRelation(Seq(x), Seq(InternalRow(1.0), InternalRow(2.0)))
    def gen(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      Generate(Explode(CreateArray(Seq(e, e))), Nil, outer = false, None,
        Seq(AttributeReference("col", DoubleType)()), rel)
    val random = gen(Rand(Literal(7L)))
    assert(LocalGenerate(random) eq random)
    LocalGenerate(gen(x)) match {
      case l: LocalRelation => assert(l.data.map(_.getDouble(1)) === Seq(1.0, 1.0, 2.0, 2.0))
      case other => fail(s"deterministic generator not evaluated:\n$other")
    }
  }

  test("a plan with an Aggregate, Window or Join keeps its Generate") {
    def exploded = local.select(col("k"), explode(col("xs")).as("x"))
    val keys = Seq(1L -> "a", 2L -> "b").toDF("k", "name")
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "aggregate" -> (() => exploded.groupBy("k").agg(count(lit(1)).as("n"))),
      "window" -> (() => exploded.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("x")))),
      "join" -> (() => exploded.join(keys, "k")))
    for ((name, df) <- frames) {
      val (plan, on) = withRule(on = true) { val d = df(); (d.queryExecution.optimizedPlan, d.collect()) }
      assert(hasGenerate(plan), s"$name:\n$plan")
      val off = withRule(on = false)(df().collect())
      assert(on.map(_.toString).sorted.toSeq === off.map(_.toString).sorted.toSeq, name)
    }
    assert(withRule(on = true)(hasGenerate(
      local.select(explode(col("ys")).as("y")).agg(sum("y")).queryExecution.optimizedPlan)))
  }

  test("installing the rule twice leaves one copy") {
    withRule(on = false) {
      GraftPlan.install(spark, LocalGenerate)
      GraftPlan.install(spark, LocalGenerate)
      assert(spark.experimental.extraOptimizations.count(_ eq LocalGenerate) === 1)
    }
  }
}
