package graft.operators

import org.apache.spark.sql.DataFrame

import graft.functions.RangeKernel

/** `*_over_time` range-vector aggregations (avg/min/max/sum/count/last over
  * the samples in `(t - range, t]` per grid instant) — the PromQL
  * range-function family the reference does not implement but every
  * Prometheus user leans on; added as a natural extension with sample (not
  * interpolated) semantics. Grid instants with no samples produce no row.
  *
  * Every range function, these and the rest of the windowed family, is a
  * [[graft.functions.RangeKernel]] over the per-series arrays (see
  * [[Resample.kernel]]): one partial-aggregated fold, then one map-only
  * pass per series.
  */
object RangeAgg {
  def avgOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.AvgOverTime, overRange, 0.0)
  def minOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.MinOverTime, overRange, 0.0)
  def maxOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.MaxOverTime, overRange, 0.0)
  def sumOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.SumOverTime, overRange, 0.0)
  def countOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.CountOverTime, overRange, 0.0)
  def lastOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.LastOverTime, overRange, 0.0)
}
