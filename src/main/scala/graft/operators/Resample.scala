package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftExpr, GraftPlan}
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
  * search per grid instant, and `inline` explodes the result back to the
  * long (skey, labels, ts, value) shape every downstream operator takes.
  * No probe rows, no window sorts.
  *
  * A served engine (one whose collection is cached) keeps that fold of the
  * whole collection in driver heap as a local relation ([[Folded]]), so a
  * request filters series rows and runs the kernel — no scan of sample
  * rows, no aggregation, and for a plain panel no Spark job.
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

  /** The per-series fold of a whole cached collection, shared by every
    * engine over that collection. [[rows]] is [[series]] of it, collected
    * once into driver heap and served as a `LocalRelation`: the first
    * request that reads it runs the one fill job (the collection is
    * partitioned on its label map, so the fill needs no exchange), and no
    * Spark job runs before that.
    *
    * Over a local relation Spark's `ConvertToLocalRelation` evaluates a
    * request's selector filter while optimizing, and [[LocalGenerate]]
    * (installed on the session when the fold fills) evaluates the kernel's
    * `inline`: a plain panel, an instant or a metadata call then collects
    * from one `LocalTableScanExec` with no Spark job. A plan that
    * aggregates, windows or joins the kernel's rows (`sum by`, `topk`)
    * keeps that work on executors, over the selected series rows.
    *
    * The trade: the fold lives in driver heap (5.1 MB for the 1,500
    * series of sf0.1), so a served engine runs in local mode
    * (`graft.Serve`'s default), where the driver holds every block anyway.
    *
    * Selecting a series here selects all of its samples, so
    * `Selector.select(rows, ms)` equals `series(Selector.select(collection, ms))`
    * row for row. [[labels]] is every series' label map, collected once. */
  final class Folded(collection: DataFrame) {
    lazy val rows: DataFrame = {
      val spark = collection.sparkSession
      val fold = series(collection)
      val data = GraftPlan.collectInternal(fold).toSeq
      GraftPlan.install(spark, LocalGenerate)
      GraftPlan.localFrame(spark, fold.schema, data)
    }

    lazy val labels: Seq[Map[String, String]] =
      rows.select(col(Model.LabelsCol)).collect().map(_.getMap[String, String](0).toMap).toSeq
  }
}
