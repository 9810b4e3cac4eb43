package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Generator,
  GenericInternalRow, JoinedRow, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a deterministic `Generate` over driver-local rows
  * becomes a `LocalRelation` of its output, evaluated at plan time the way
  * Spark's `ConvertToLocalRelation` evaluates a `Project` or `Filter`
  * (which then folds whatever projection sits above it). A served plain
  * panel — selector filter, [[graft.functions.RangeKernel]] and `inline`
  * over the resident fold ([[Resample.Folded]]) — then collects as one
  * `LocalTableScanExec` with no Spark job.
  *
  * It fires only when EVERY node of the plan is a `Project`, `Filter`,
  * `Generate` or `LocalRelation`, so the driver only ever builds a
  * result the action would bring to it anyway. A plan that aggregates,
  * windows, joins or limits the generated rows (`sum by`, `topk`,
  * whole-span analytics) keeps its `Generate` on executors: evaluating
  * those rows on the driver would make every generated row in one thread
  * only to reduce most of them away.
  *
  * [[org.apache.spark.sql.GraftPlan.install]] adds it to a session. */
object LocalGenerate extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.exists(!leafLocal(_))) plan
    else {
      val generated = plan.transformUp {
        case g @ Generate(gen, _, _, _, _, child: LocalRelation) if evaluable(g, child) =>
          LocalRelation(g.output, rows(g, gen, child))
      }
      if (generated eq plan) plan else ConvertToLocalRelation(generated)
    }

  private def leafLocal(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Generate => true
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }

  private def evaluable(g: Generate, child: LocalRelation): Boolean =
    !child.isStreaming && g.generator.deterministic &&
      !g.generator.exists(e => e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference])

  /** `GenerateExec`'s rows, interpreted: each input row's kept columns
    * joined to each generated row, or to one all-null row when the
    * generator is `outer` and emits nothing. */
  private def rows(g: Generate, gen: Generator, child: LocalRelation): Seq[InternalRow] = {
    val bound = BindReferences.bindReference(gen, child.output)
    val kept = UnsafeProjection.create(g.requiredChildOutput, child.output)
    val out = UnsafeProjection.create(g.output.map(_.dataType).toArray)
    val nullRow = new GenericInternalRow(g.generatorOutput.length)
    val joined = new JoinedRow
    child.data.flatMap { in =>
      val left = kept(in).copy()
      val produced = bound.eval(in).iterator
      val right = if (g.outer && !produced.hasNext) Iterator.single(nullRow) else produced
      right.map(r => out(joined(left, r)).copy()).toSeq
    }
  }
}
