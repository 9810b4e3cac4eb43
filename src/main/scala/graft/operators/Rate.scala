package graft.operators

import org.apache.spark.sql.DataFrame

import graft.functions.RangeKernel

/** `rate()` and `irate()` over range vectors.
  *
  * rate (reference timeseries.rs:70-113):
  *   `rate(t) = (interp(t - offset) - interp(t - offset - range)) / range`
  * — interpolated endpoint slope, no counter-reset logic (faithful to the
  * reference, which differs from upstream Prometheus extrapolation; the
  * opt-in `rate_resets` family is [[RangeKernel.IncreaseResets]]).
  *
  * irate (reference timeseries.rs:87-161): let i be the sample index with
  * `ts[i] <= t < ts[i+1]` (NaN if t is outside the sample span):
  *   - no sample before i: `(v[i+1] - v[i]) / (ts[i+1] - ts[i])`
  *   - else `(interp(t) - v[i-1]) / (t - ts[i-1])`
  * negative deltas are rejected → NaN.
  *
  * All three are [[graft.functions.RangeKernel]]s over the per-series
  * arrays (see [[Resample]]): one partial-aggregated fold, then a binary
  * search per grid instant.
  */
object Rate {

  def rate(samples: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.Rate, overRange, offset)

  /** `increase()` = rate * range — natural PromQL extension with the same
    * interpolated-endpoint semantics as the reference's rate. `delta()` is
    * the same endpoint difference: the reference has no counter-reset
    * logic, so the two coincide. */
  def increase(samples: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.Increase, overRange, offset)

  /** `irate()`; the range only marks the argument as a range vector — the
    * reference's irate math (timeseries.rs:116-161) never reads it. */
  def irate(samples: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.Irate, overRange, offset)
}
