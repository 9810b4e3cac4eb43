package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftExpr, GraftPlan}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Model
import graft.functions.RangeKernel

/** The regular output grid of a range query (reference timevectors.rs:165-201).
  * `length = max(1, floor((end - start + step) / step))`, points
  * `start + i*step`.
  */
final case class Grid(start: Double, end: Double, step: Double) {
  require(end > start, "end <= start")
  require(step > 0, "increment <= 0")
  val length: Int = math.max(1, ((end - start + step) / step).floor.toInt)

  /** Column of all grid instants (array<double>), computed without data motion. */
  def pointsCol: Column =
    transform(sequence(lit(0), lit(length - 1)), i => lit(start) + i.cast(DoubleType) * lit(step))
}

/** Resampling onto a regular grid with linear interpolation, plus the
  * series-as-arrays evaluation every PromQL range function shares.
  *
  * Interpolation semantics (reference timeseries.rs:164-191):
  * before-first → first value; after-last → last value; otherwise linear
  * between the bracketing samples.
  *
  * Evaluation model (the reference's): the selected samples fold into ONE
  * `(skey, labels, ts[], v[])` row per series — a single groupBy on the
  * label map. The cached [[graft.sources.TsIngest]] collection is
  * hash-partitioned on that map, so the fold needs no exchange there;
  * any other input (a subquery, a computed frame) gets the one exchange
  * Spark inserts. A native codegen'd
  * [[RangeKernel]] then evaluates the function per series with a binary
  * search per grid instant. The result keeps that shape, one
  * `(skey, labels, points)` row per series ([[seriesPoints]]), up to the
  * serving edge; `inline` explodes it to the long (skey, labels, ts, value)
  * shape ([[seriesKernel]]) only for the operators that take that shape.
  * No probe rows, no window sorts.
  *
  * A served engine (one whose collection is cached) keeps that fold of the
  * whole collection in driver heap ([[Folded]]), so a request filters
  * series rows and runs the kernel — no scan of sample rows, no
  * aggregation, and for a plain panel in series form no Spark query at
  * all: the kernel runs over the heap rows ([[Folded.points]]).
  */
object Resample {

  /** Fold samples (skey, labels, ts, value) into one row per series:
    * (skey, labels, ts: array<double>, v: array<double>), ts ascending.
    * Groups on the label map itself (Spark compares maps by their
    * key-sorted form, so key order does not split a series): the cached
    * [[graft.sources.TsIngest]] collection is hash-partitioned on it, so
    * the fold runs map-side with no exchange, and `skey` is derived once
    * per series from the folded labels instead of once per sample. */
  private[graft] def series(samples: DataFrame): DataFrame =
    samples.groupBy(col(Model.LabelsCol))
      .agg(sort_array(collect_list(struct(col(Model.TsCol), col(Model.ValueCol)))).as("__s__"))
      .select(Model.canonicalKey(col(Model.LabelsCol)).as(Model.SkeyCol), col(Model.LabelsCol),
        col(s"__s__.${Model.TsCol}").as(Model.TsCol), col(s"__s__.${Model.ValueCol}").as("v"))

  /** Evaluate `fn` per series of `samples` and explode to
    * (skey, labels, ts, value): [[seriesKernel]] over [[series]]. */
  def kernel(samples: DataFrame, grid: Grid, fn: RangeKernel.Fn,
             range: Double, offset: Double): DataFrame =
    seriesKernel(series(samples), grid, fn, range, offset)

  /** Evaluate `fn` over rows already folded by [[series]] and explode to
    * (skey, labels, ts, value). `offset` moves the probes of point
    * functions to `t - offset` and adds to every sample ts for windowed
    * ones. */
  def seriesKernel(folded: DataFrame, grid: Grid, fn: RangeKernel.Fn,
                   range: Double, offset: Double): DataFrame =
    folded.select(col(Model.SkeyCol), col(Model.LabelsCol),
      inline(kernelCol(col("v"), grid, fn, range, offset)))

  /** The same kernel over the same folded rows, left one row per series:
    * (skey, labels, points: array<struct<ts, value>>); [[seriesKernel]] is
    * its `inline`. Over a served fold the whole plan is a `Filter` and this
    * `Project` over a local relation, which Spark's own
    * `ConvertToLocalRelation` evaluates while it optimizes. The long form
    * inlines the kernel over the folded rows rather than over these, so a
    * plan that aggregates it keeps the kernel in its `Generate`, on
    * executors. */
  def seriesPoints(folded: DataFrame, grid: Grid, fn: RangeKernel.Fn,
                   range: Double, offset: Double): DataFrame =
    folded.select(col(Model.SkeyCol), col(Model.LabelsCol),
      kernelCol(col("v"), grid, fn, range, offset).as(Model.PointsCol))

  /** The [[RangeKernel]] of `fn` over a folded row's `ts` array and the
    * value array `v`: array<struct<ts, value>>, one element per emitting
    * grid instant. */
  private[graft] def kernelCol(v: Column, grid: Grid, fn: RangeKernel.Fn,
                               range: Double, offset: Double): Column =
    GraftExpr.column(RangeKernel(GraftExpr.expression(col(Model.TsCol)), GraftExpr.expression(v),
      fn, grid.start, grid.step, grid.length, range, offset))

  /** Resample each series onto the grid (reference `calculate_resampled_series`,
    * timeseries.rs:57-68); `offset` evaluates at `t - offset`. Output:
    * (skey, labels, ts, value). */
  def resample(samples: DataFrame, grid: Grid, offset: Double = 0.0): DataFrame =
    kernel(samples, grid, RangeKernel.Resample, 0.0, offset)

  /** Series rows `(skey, labels, points)` in driver heap, with the type of
    * a point's `value` (a long for `count_over_time`, else a double). */
  final case class SeriesRows(rows: Array[InternalRow], valueType: DataType)

  /** The type of a point's `value` in a points array type. */
  private[graft] def valueType(points: DataType): DataType = points match {
    case ArrayType(StructType(Array(_, value)), _) => value.dataType
    case other => throw new IllegalArgumentException(s"not a points array: ${other.catalogString}")
  }

  /** The per-series fold of a whole cached collection, shared by every
    * engine over that collection: [[series]] of it, collected once into
    * driver heap. The first request that reads it runs the one fill job
    * (the collection is partitioned on its label map, so the fill needs
    * no exchange), and no Spark job runs before that.
    *
    * A plain panel or instant, a range kernel over one selector's series,
    * is evaluated straight from those heap rows ([[points]]): the
    * selector's matcher conditions ([[Selector.allOf]], through
    * [[where]]) and the [[RangeKernel]] expression are bound to the fold's
    * row layout per request, the rows filtered and the kernel evaluated,
    * with no Dataset and no Spark query. The same `compute` runs when
    * Spark evaluates the kernel, so the points are bit-identical to
    * [[seriesPoints]] over [[rows]]. Binding per request leaves no interpreted `RLike` state
    * shared between threads.
    *
    * [[rows]] serves the same heap rows as a `LocalRelation` for every
    * plan that reads a frame: an aggregation, a binary operator, `topk`,
    * `@`, the long form. Spark's `ConvertToLocalRelation` evaluates its
    * filters and projections while optimizing, and [[LocalGenerate]]
    * (installed on the session when the fold fills) the kernel's `inline`;
    * a plan that aggregates, windows or joins the kernel's rows (`sum by`,
    * `topk`) keeps that work on executors, over the selected series rows.
    *
    * The trade: the fold lives in driver heap (5.1 MB for the 1,500
    * series of sf0.1), so a served engine runs in local mode
    * (`graft.Serve`'s default), where the driver holds every block anyway.
    *
    * Selecting a series here selects all of its samples, so
    * `Selector.select(rows, ms)` equals `series(Selector.select(collection, ms))`
    * row for row, and [[where]] over the heap rows keeps the same series.
    * [[labels]] is every series' label map, collected once. */
  final class Folded(collection: DataFrame) {
    private lazy val (schema, data): (StructType, Array[InternalRow]) = {
      val fold = series(collection)
      val data = GraftPlan.collectInternal(fold)
      GraftPlan.install(collection.sparkSession, LocalGenerate)
      (fold.schema, data)
    }

    lazy val rows: DataFrame = GraftPlan.localFrame(collection.sparkSession, schema, data.toSeq)

    lazy val labels: Seq[Map[String, String]] =
      rows.select(col(Model.LabelsCol)).collect().map(_.getMap[String, String](0).toMap).toSeq

    /** A fold column bound to the heap rows' layout. */
    private def ref(name: String): BoundReference = {
      val i = schema.fieldIndex(name)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }

    /** The heap rows whose label map satisfies `cond`, a condition on the
      * `labels` column ([[Selector.allOf]], [[Selector.anyOf]]), bound to
      * the rows' layout per call: the `labels` attribute becomes the
      * rows' label-map field. A condition that still needs Spark to
      * resolve it (a function called by name, such as a `Column`'s `||`)
      * is analyzed over [[rows]] instead; either way nothing is optimized
      * or executed, and no bound expression is shared between calls. */
    private[graft] def where(cond: Column): Iterator[InternalRow] = {
      val labels = ref(Model.LabelsCol)
      val bound = GraftExpr.expression(cond).transform {
        case a: UnresolvedAttribute if a.nameParts == Seq(Model.LabelsCol) => labels
      }
      val evaluable = bound.resolved && !bound.exists(_.isInstanceOf[Unevaluable])
      val p = if (evaluable) bound else rows.filter(cond).queryExecution.analyzed match {
        case Filter(c, child) => BindReferences.bindReference(c, child.output)
        case other => throw new IllegalStateException(s"not a filter: $other")
      }
      data.iterator.filter(r => p.eval(r) == true)
    }

    /** `fn` over the series `matchers` select, from the heap rows:
      * [[seriesPoints]]'s rows over `Selector.select(rows, matchers)`,
      * `(skey, labels, points)`, one per selected series. */
    def points(matchers: Seq[Selector.Matcher], grid: Grid, fn: RangeKernel.Fn,
               range: Double, offset: Double): SeriesRows = {
      val kernel = RangeKernel(ref(Model.TsCol), ref("v"), fn, grid.start, grid.step, grid.length, range, offset)
      val (skey, labels) = (ref(Model.SkeyCol).ordinal, ref(Model.LabelsCol).ordinal)
      val out = where(Selector.allOf(matchers))
        .map(r => InternalRow(r.getUTF8String(skey), r.getMap(labels), kernel.eval(r))).toArray
      SeriesRows(out, valueType(kernel.dataType))
    }
  }

  /** A plain selector's series of a served fold, kept as a value: a
    * kernel over them runs from the heap rows ([[Folded.points]]), and the
    * frame, a `Filter` over the fold's local relation, is built only when
    * something reads a frame. */
  final case class Selection(fold: Folded, matchers: Seq[Selector.Matcher]) {
    lazy val frame: DataFrame = Selector.select(fold.rows, matchers)
    def points(grid: Grid, fn: RangeKernel.Fn, range: Double, offset: Double): SeriesRows =
      fold.points(matchers, grid, fn, range, offset)
  }
}
