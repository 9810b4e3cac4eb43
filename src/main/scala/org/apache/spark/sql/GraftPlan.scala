package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into the `private[sql]` Dataset-from-plan factory and the
  * session's optimizer list: graft keeps a collected frame in driver heap
  * as a leaf relation and adds its own optimizer rules. This is the one
  * place that changes a session's `experimental.extraOptimizations`. */
object GraftPlan {

  /** `df`'s rows as Catalyst's internal rows: one SQL execution, run
    * like `collect()` but without the conversion to external rows. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collectInternal"))(qe.executedPlan.executeCollect())
  }

  /** A frame over `rows` (of `schema`) as a driver-local `LocalRelation`:
    * Spark's `ConvertToLocalRelation` evaluates the filters and
    * projections over it while optimizing, and a leaf-only plan collects
    * with no Spark job. */
  def localFrame(spark: SparkSession, schema: types.StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Append `rule` to the session's extra optimizer rules unless it is
    * there already. */
  def install(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = synchronized {
    val x = spark.experimental
    if (!x.extraOptimizations.contains(rule)) x.extraOptimizations = x.extraOptimizations :+ rule
  }
}
