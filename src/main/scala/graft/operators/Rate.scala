package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Model
import graft.functions.RangeKernel

/** `rate()` and `irate()` over range vectors.
  *
  * rate (reference timeseries.rs:70-113):
  *   `rate(t) = (interp(t - offset) - interp(t - offset - range)) / range`
  * — interpolated endpoint slope, no counter-reset logic (faithful to the
  * reference, which differs from upstream Prometheus extrapolation).
  *
  * irate (reference timeseries.rs:87-161): let i be the sample index with
  * `ts[i] <= t < ts[i+1]` (NaN if t is outside the sample span):
  *   - no sample before i: `(v[i+1] - v[i]) / (ts[i+1] - ts[i])`
  *   - else `(interp(t) - v[i-1]) / (t - ts[i-1])`
  * negative deltas are rejected → NaN.
  *
  * All four are [[graft.functions.RangeKernel]]s over the per-series
  * arrays (see [[Resample]]): one partial-aggregated fold, then a binary
  * search per grid instant.
  */
object Rate {

  def rate(samples: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.Rate, overRange, offset)

  /** `increase()` = rate * range — natural PromQL extension with the same
    * interpolated-endpoint semantics as the reference's rate. */
  def increase(samples: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.Increase, overRange, offset)

  /** `delta()` — identical endpoint difference (the reference has no counter
    * reset logic, so delta and increase coincide; kept as an alias for
    * PromQL-compatible spelling). */
  def delta(samples: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    increase(samples, grid, overRange, offset)

  /** `irate()`; the range only marks the argument as a range vector — the
    * reference's irate math (timeseries.rs:116-161) never reads it. */
  def irate(samples: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.Irate, overRange, offset)

  /** Opt-in Prometheus-style counter-reset semantics (`rate_resets` /
    * `increase_resets` in the PromQL surface): every real Prometheus
    * counter resets to 0 on process restart, and upstream Prometheus
    * compensates by adding the pre-reset value wherever a sample drops
    * below its predecessor (funcIncrease's reset walk). The reference has
    * no reset logic (timeseries.rs:104-113), so the default `rate`/
    * `increase` stay parity-faithful with interpolated endpoints.
    *
    * The reset mode switches the endpoint model too: raw FIRST/LAST
    * samples inside the window (no interpolation, no extrapolation) plus
    * the correction sum. Mixing interpolated endpoints with reset
    * corrections would overcorrect pairs straddling the window's lower
    * edge — interpolating across a reset is meaningless for counters.
    * Windows with fewer than two samples emit no row (Prometheus rule).
    *
    * A drop only counts as a reset when it exceeds a 1e-9 RELATIVE
    * epsilon: upstream Prometheus compares raw scraped values (identical
    * on every replica), but this engine's samples can be distributed
    * ingest-time aggregates whose last ULP differs between engines/runs —
    * and the reset rule amplifies a 1-ULP "drop" into the full pre-reset
    * value. Real counter resets (process restart → ~0) are orders of
    * magnitude past the epsilon.
    *
    * Shape: one [[RangeAgg.windowExplode]] (bounded fan-out) + an ordered
    * lag inside each (series, window) partition + one partial-aggregated
    * groupBy — same single-shuffle budget as `changes`/`resets`. */
  def increaseResets(samples: DataFrame, grid: Grid, overRange: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(Model.SkeyCol, "__k__").orderBy(Model.TsCol)
    RangeAgg.windowExplode(samples, grid, overRange)
      .withColumn("__pv__", lag(Model.ValueCol, 1).over(w))
      .groupBy(col(Model.SkeyCol), col("__k__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        count(lit(1)).as("__n__"),
        min_by(col(Model.ValueCol), col(Model.TsCol)).as("__first__"),
        max_by(col(Model.ValueCol), col(Model.TsCol)).as("__last__"),
        sum(when(col("__pv__").isNotNull &&
            isResetDrop(col("__pv__"), col(Model.ValueCol)),
          col("__pv__")).otherwise(lit(0.0))).as("__corr__"))
      .filter(col("__n__") >= 2)
      .select(col(Model.SkeyCol), col(Model.LabelsCol),
        RangeAgg.gridTs(grid).as(Model.TsCol),
        (col("__last__") - col("__first__") + col("__corr__")).as(Model.ValueCol))
  }

  /** prev → cur counts as a counter reset: a drop past the relative
    * epsilon (see [[increaseResets]]). */
  private def isResetDrop(prev: Column, cur: Column): Column =
    (prev - cur) > abs(prev) * lit(1e-9)

  def rateResets(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    increaseResets(samples, grid, overRange)
      .withColumn(Model.ValueCol, col(Model.ValueCol) / lit(overRange))

  /** `irate_resets`: Prometheus funcIrate proper — slope of the LAST TWO
    * raw samples in the window, where a drop means the counter reset and
    * the instant increase is the raw new value (not a negative delta, and
    * not the default irate's NaN rejection). Same bounded collect shape as
    * `idelta`. */
  def irateResets(samples: DataFrame, grid: Grid, overRange: Double): DataFrame = {
    val grouped = RangeAgg.windowExplode(samples, grid, overRange)
      .groupBy(col(Model.SkeyCol), col("__k__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        sort_array(collect_list(struct(col(Model.TsCol).as("t"),
          col(Model.ValueCol).as("v")))).as("ps"))
      .filter(size(col("ps")) >= 2)
    val l = element_at(col("ps"), -1)
    val p = element_at(col("ps"), -2)
    val dv = when(isResetDrop(p("v"), l("v")), l("v")).otherwise(l("v") - p("v"))
    grouped.select(col(Model.SkeyCol), col(Model.LabelsCol),
      RangeAgg.gridTs(grid).as(Model.TsCol),
      (dv / (l("t") - p("t"))).as(Model.ValueCol))
  }
}
