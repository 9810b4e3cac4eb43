package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Model
import graft.functions.RangeKernel

/** `*_over_time` range-vector aggregations (avg/min/max/sum/count over the
  * samples in `(t - range, t]` per grid instant) — the PromQL range-function
  * family the reference does not implement but every Prometheus user leans
  * on; added as a natural extension with sample (not interpolated) semantics.
  *
  * avg/min/max/sum/count/last_over_time are [[graft.functions.RangeKernel]]s
  * over the per-series arrays (see [[Resample]]): one partial-aggregated
  * fold, then one map-only pass per series. The other functions keep the
  * explode shape: instead of joining every grid instant against every
  * sample (a range join that degenerates at scale), each SAMPLE is exploded
  * to the grid windows it falls into — at most `ceil(range/step)` window
  * indices per sample, a bounded constant — and a single partial-aggregated
  * `groupBy(series, window)` folds them. Grid instants with no samples
  * produce no row on either path.
  */
object RangeAgg {

  /** Explode each sample into the grid windows it falls into: window k
    * (0-based grid index) contains sample t iff `grid_t - range < t <=
    * grid_t`, `grid_t = start + k*step` — at most `ceil(range/step)` window
    * indices per sample, a bounded constant. */
  def windowExplode(samples: DataFrame, grid: Grid, overRange: Double): DataFrame = {
    require(overRange > 0, "range <= 0")
    val start = lit(grid.start)
    val step = lit(grid.step)
    val kLo = ceil((col(Model.TsCol) - start) / step).cast(IntegerType)
    val kHi = least(
      floor((col(Model.TsCol) - start + lit(overRange)) / step -
        // half-open upper bound: t == grid_t - range must NOT count
        when((col(Model.TsCol) - start + lit(overRange)) % step === 0, 1).otherwise(0))
        .cast(IntegerType),
      lit(grid.length - 1))
    val kLo0 = greatest(kLo, lit(0))
    samples.withColumn("__k__", explode(
      when(kLo0 <= kHi, sequence(kLo0, kHi))
        .otherwise(array().cast(ArrayType(IntegerType)))))
  }

  private[operators] def gridTs(grid: Grid): Column =
    lit(grid.start) + col("__k__").cast(DoubleType) * lit(grid.step)

  private def overTime(samples: DataFrame, grid: Grid, overRange: Double,
                       aggFn: Column => Column): DataFrame =
    windowExplode(samples, grid, overRange)
      .groupBy(col(Model.SkeyCol), col("__k__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol), aggFn(col(Model.ValueCol)).as(Model.ValueCol))
      .select(col(Model.SkeyCol), col(Model.LabelsCol),
        gridTs(grid).as(Model.TsCol), col(Model.ValueCol))

  /** Least-squares regression over the window's samples, shared by `deriv`
    * and `predict_linear`. BOTH axes are centered before the sums:
    *  - time on the window's grid instant — t² at epoch scale (~3e18)
    *    would eat all double precision; slope is shift-invariant and the
    *    intercept lands exactly at the grid instant (which is
    *    `predict_linear`'s evaluation origin);
    *  - values on the SERIES MINIMUM (min is order-independent, so both
    *    engines agree on it exactly) — monotone counters sit at ~1e6+, and
    *    the uncentered cross terms `n·Σtv − Σt·Σv` cancel catastrophically
    *    there: the sf1 gate measured summation-order noise amplified to
    *    1e-4 absolute. Centering shrinks the magnitudes to the window's
    *    value SPREAD; the slope is exactly invariant in algebra and the
    *    intercept adds the constant back. One window over the skey
    *    partitioning the groupBy reuses — no extra exchange.
    * Windows with fewer than two samples or zero time variance yield no
    * row. `horizon = None` → slope (deriv); `Some(d)` → intercept +
    * slope * d (predict_linear). */
  private def regressionOverTime(samples: DataFrame, grid: Grid, overRange: Double,
                                 horizon: Option[Double]): DataFrame = {
    val bySeries = org.apache.spark.sql.expressions.Window
      .partitionBy(col(Model.SkeyCol))
    val grouped = windowExplode(samples, grid, overRange)
      .withColumn("__tc__", col(Model.TsCol) - gridTs(grid))
      .withColumn("__c0__", min(Model.ValueCol).over(bySeries))
      .withColumn("__vc__", col(Model.ValueCol) - col("__c0__"))
      .groupBy(col(Model.SkeyCol), col("__k__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        first("__c0__").as("__c0__"),
        count(lit(1)).cast(DoubleType).as("__n__"),
        sum("__tc__").as("__st__"), sum("__vc__").as("__sv__"),
        sum(col("__tc__") * col("__vc__")).as("__stv__"),
        sum(col("__tc__") * col("__tc__")).as("__stt__"))
      .withColumn("__den__", col("__n__") * col("__stt__") - col("__st__") * col("__st__"))
      // conditioning guard, not just non-zero: __den__ is the squared time
      // SPREAD computed as a difference of ~tc²-magnitude terms, so a window
      // whose samples cluster within milliseconds (sf1 measured one 8.6 ms
      // apart) leaves den ~1e-5 against ~1e6 terms — leverage ~1e5 that
      // amplifies last-ULP ingest differences into visible output noise,
      // and the extrapolation itself is numerically meaningless. Same
      // 1e-9-relative design as the counter-reset epsilon: degenerate
      // geometry yields no row, identically in engine and oracle.
      .filter(col("__n__") >= 2 &&
        col("__den__") > lit(1e-9) * col("__n__") * col("__stt__"))
      .withColumn("__slope__",
        (col("__n__") * col("__stv__") - col("__st__") * col("__sv__")) / col("__den__"))
    val value = horizon match {
      case None => col("__slope__")
      case Some(d) => // intercept at the grid instant (tc = 0) + slope * d
        (col("__sv__") - col("__slope__") * col("__st__")) / col("__n__") +
          col("__slope__") * lit(d) + col("__c0__")
    }
    grouped.select(col(Model.SkeyCol), col(Model.LabelsCol),
      gridTs(grid).as(Model.TsCol), value.as(Model.ValueCol))
  }

  def derivOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    regressionOverTime(samples, grid, overRange, None)

  /** `predict_linear(v[range], horizon)`: linear projection `horizon`
    * seconds past each grid instant. */
  def predictLinear(samples: DataFrame, grid: Grid, overRange: Double,
                    horizon: Double): DataFrame =
    regressionOverTime(samples, grid, overRange, Some(horizon))

  /** `last_over_time` / `present_over_time`. */
  def lastOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    Resample.kernel(samples, grid, RangeKernel.LastOverTime, overRange, 0.0)
  def presentOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    overTime(samples, grid, overRange, _ => lit(1.0))

  /** `quantile_over_time(q, m[r])`: exact linear-interpolated percentile of
    * the window's samples — the same collect-sort-interpolate aggregation as
    * `quantile(...) by` (window sample counts are bounded by range/scrape
    * interval, so the per-group array is small by construction). */
  def quantileOverTime(samples: DataFrame, grid: Grid, overRange: Double, q: Double): DataFrame =
    overTime(samples, grid, overRange, Aggregate.quantileAgg(q))

  /** `mad_over_time(v[r])` (Prometheus experimental): median absolute
    * deviation of the window's samples — the robust spread measure
    * (stddev_over_time's outlier-insensitive sibling). */
  def madOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    overTime(samples, grid, overRange, Aggregate.madAgg)

  /** `idelta(v[r])` (Prometheus): difference of the LAST TWO raw samples in
    * the window — no interpolation, unlike the reference's irate. Windows
    * with fewer than two samples emit no row. */
  def ideltaOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame = {
    val grouped = windowExplode(samples, grid, overRange)
      .groupBy(col(Model.SkeyCol), col("__k__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        sort_array(collect_list(struct(col(Model.TsCol).as("t"), col(Model.ValueCol).as("v"))))
          .as("ps"))
      .filter(size(col("ps")) >= 2)
    grouped.select(col(Model.SkeyCol), col(Model.LabelsCol),
      gridTs(grid).as(Model.TsCol),
      (element_at(col("ps"), -1)("v") - element_at(col("ps"), -2)("v")).as(Model.ValueCol))
  }

  /** The grid steps whose trailing window holds at least one raw sample —
    * the complement feeds `absent_over_time`. */
  def presentSteps(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    windowExplode(samples, grid, overRange)
      .select(gridTs(grid).as(Model.TsCol)).distinct()

  /** Population stddev/stdvar via explicit moment sums — the same expression
    * tree any SQL engine (incl. the oracle) reproduces; Welford-style
    * implementations would differ in the last ULPs. */
  def stdvarOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    overTime(samples, grid, overRange,
      v => sum(v * v) / count(lit(1)) - (sum(v) / count(lit(1))) * (sum(v) / count(lit(1))))
  def stddevOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    overTime(samples, grid, overRange,
      v => sqrt(sum(v * v) / count(lit(1)) - (sum(v) / count(lit(1))) * (sum(v) / count(lit(1)))))

  /** `holt_winters(v[range], sf, tf)`: double exponential smoothing over the
    * window's samples in time order (Prometheus funcHoltWinters recurrence:
    * the trend update at step i>1 uses the two previous smoothed values and
    * is applied BEFORE the new smoothed value). Windows with fewer than two
    * samples emit no row. The fold runs as an `aggregate()` HOF over the
    * sorted per-window sample array — window sizes are bounded by
    * samples-per-range, and the identical expression tree is reproducible
    * in the DuckDB oracle (list_reduce). */
  def holtWinters(samples: DataFrame, grid: Grid, overRange: Double,
                  sf: Double, tf: Double): DataFrame = {
    val grouped = windowExplode(samples, grid, overRange)
      .groupBy(col(Model.SkeyCol), col("__k__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        sort_array(collect_list(struct(col(Model.TsCol).as("t"), col(Model.ValueCol).as("v"))))
          .as("ps"))
      .filter(size(col("ps")) >= 2)
      .withColumn("vs", transform(col("ps"), p => p("v")))
    val vs = col("vs")
    val n = size(vs)
    val init = struct(
      lit(1).as("i"), lit(0.0).as("p"),
      element_at(vs, 1).as("s"),
      (element_at(vs, 2) - element_at(vs, 1)).as("b"))
    val value = aggregate(slice(vs, lit(2), n - 1), init,
      (acc, x) => {
        val bNew = when(acc("i") === 1, acc("b"))
          .otherwise(lit(tf) * (acc("s") - acc("p")) + lit(1.0 - tf) * acc("b"))
        struct(
          (acc("i") + 1).as("i"), acc("s").as("p"),
          (lit(sf) * x + lit(1.0 - sf) * (acc("s") + bNew)).as("s"),
          bNew.as("b"))
      },
      acc => acc("s"))
    grouped.select(col(Model.SkeyCol), col(Model.LabelsCol),
      gridTs(grid).as(Model.TsCol), value.as(Model.ValueCol))
  }

  /** `changes` / `resets`: adjacent-pair counts over the window's samples in
    * time order. One ordered window pass per (series, grid window) — the
    * explode already co-locates them, so the lag window needs no exchange
    * beyond the groupBy's. */
  private def pairCounts(samples: DataFrame, grid: Grid, overRange: Double,
                         pair: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(Model.SkeyCol, "__k__").orderBy(Model.TsCol)
    windowExplode(samples, grid, overRange)
      .withColumn("__pv__", lag(Model.ValueCol, 1).over(w))
      .groupBy(col(Model.SkeyCol), col("__k__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        sum(when(col("__pv__").isNotNull && pair(col("__pv__"), col(Model.ValueCol)), 1.0)
          .otherwise(0.0)).as(Model.ValueCol))
      .select(col(Model.SkeyCol), col(Model.LabelsCol),
        gridTs(grid).as(Model.TsCol), col(Model.ValueCol))
  }

  def changesOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    pairCounts(samples, grid, overRange, (prev, cur) => cur =!= prev)
  def resetsOverTime(samples: DataFrame, grid: Grid, overRange: Double): DataFrame =
    pairCounts(samples, grid, overRange, (prev, cur) => cur < prev)

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
}
