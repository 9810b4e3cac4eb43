package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** PromQL range functions evaluated the way the reference does
  * (timeseries.rs:57-191): per series, over its ascending time vector
  * `ts[]` and value vector `v[]`, by indexing into them. This is the one
  * evaluation path for range functions: float series fold their samples
  * into `ts[]`/`v[]`, a RollupStore series its bucket ends and partial
  * aggregates, a native-histogram series its element indices.
  * `RangeKernel(ts, v, fn, …)` returns the series' output points as
  * array<struct<ts: double, value: double>> (`value` is a long for
  * `count_over_time`, like Spark's `count`); callers `inline` it back to
  * the long (skey, labels, ts, value) shape.
  *
  * Point functions emit one element per grid instant `t = start + k*step`
  * and locate the bracketing samples of their probe `p` with ONE binary
  * search: `prev` = last sample with ts <= p, `next` = the one after it
  * (the reference's `VecTimeRange::locate`, timevectors.rs:110-148).
  *  - resample: `interpolated_at(t - offset)`;
  *  - rate / increase: `(interp(t - offset) - interp(t - (offset + range)))`,
  *    divided by `range` for rate — interpolated endpoints, no counter-reset
  *    logic (the reference's rate; `delta` is `increase`);
  *  - irate: NaN outside the sample span; with no sample before `prev`,
  *    `(v[i+1] - v[i]) / (ts[i+1] - ts[i])`, else
  *    `(interp(p) - v[i-1]) / (p - ts[i-1])`; a negative delta is NaN.
  * The arithmetic is written in the same order as the reference's (and the
  * DuckDB oracles'), so results are bit-identical to it — including t
  * equal to a sample ts, which is interpolated, not short-circuited.
  *
  * Window functions fold the samples in `(t - range, t]`, after `offset`
  * is added to every sample ts. Window k holds sample t iff
  * `ceil((t - start) / step) <= k <= floor(x / step - [x % step == 0])`,
  * `x = t - start + range` (the DuckDB oracles use the same half-open
  * rule). Applied to a RollupStore series' bucket ends `wend` on a grid
  * whose start, step and range are multiples of the store resolution
  * `res`, the rule is bucket containment: `wend` lies in `(t - range, t]`
  * exactly when the bucket `(wend - res, wend]` does. Both bounds grow with
  * t, so each window is a contiguous slice `[lo, hi]` of the series, and
  * each function folds its slice in time order. A window with fewer than
  * [[RangeKernel.Fn.minSamples]] samples emits nothing. Comparisons follow
  * Spark's double rules: NaN equals itself and is the largest value.
  *
  * Null elements (no Prometheus sample is null) are skipped. Scale shape:
  * a pure per-row map after the per-series fold — no window sort, no
  * probe rows, no shuffle of its own. */
final case class RangeKernel(left: Expression, right: Expression, fn: RangeKernel.Fn,
                             start: Double, step: Double, length: Int,
                             range: Double, offset: Double)
    extends BinaryExpression {
  import RangeKernel._

  require(step > 0 && length >= 1, s"bad grid: step $step, length $length")
  require(range > 0 || !fn.windowed, s"${fn.name}: range <= 0")

  override def dataType: DataType = RangeKernel.outType(fn)
  override def prettyName: String = "graft_range_" + fn.name

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double> ts, array<double> v), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(ts: Any, v: Any): Any =
    compute(ts.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rangeKernel", this)
    nullSafeCodeGen(ctx, ev, (t, v) => s"${ev.value} = $self.compute($t, $v);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  def compute(tsData: ArrayData, vData: ArrayData): ArrayData = {
    val m = tsData.numElements()
    require(vData.numElements() == m, s"$prettyName: ${vData.numElements()} values for $m timestamps")
    val ts = new Array[Double](m)
    val vs = new Array[Double](m)
    var n = 0
    var i = 0
    while (i < m) {
      if (!tsData.isNullAt(i) && !vData.isNullAt(i)) {
        ts(n) = tsData.getDouble(i)
        vs(n) = vData.getDouble(i)
        require(n == 0 || ts(n - 1) <= ts(n), s"$prettyName: timestamps not ascending")
        n += 1
      }
      i += 1
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val s = new Series(ts, vs, n)
    if (fn.windowed) windows(s) else points(s)
  }

  private def gridTs(k: Int): Double = start + k.toDouble * step

  private def points(s: Series): ArrayData = {
    val out = new Array[Any](length)
    val lo = offset + range
    var k = 0
    while (k < length) {
      val t = gridTs(k)
      val value = fn match {
        case Resample => s.interpolated(t - offset)
        case Rate => (s.interpolated(t - offset) - s.interpolated(t - lo)) / range
        case Increase => s.interpolated(t - offset) - s.interpolated(t - lo)
        case Irate => s.irate(t - offset)
        case other => throw new IllegalStateException(other.name)
      }
      out(k) = new GenericInternalRow(Array[Any](t, value))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** First window holding sample ts t, clamped to [0, length] in double
    * before the int conversion (a far-off sample must not wrap). */
  private def firstWindow(t: Double): Int =
    math.min(math.max(math.ceil((t - start) / step), 0.0), length.toDouble).toInt

  /** Last window holding sample ts t, clamped to [-1, length - 1]. */
  private def lastWindow(t: Double): Int = {
    val x = t - start + range
    val k = math.floor(x / step - (if (x % step == 0) 1.0 else 0.0))
    math.max(math.min(k, length - 1.0), -1.0).toInt
  }

  private def windows(s: Series): ArrayData = {
    if (offset != 0.0) {
      var i = 0
      while (i < s.n) { s.ts(i) += offset; i += 1 }
    }
    val c0 = fn match {
      case Deriv | PredictLinear(_) => windowedMin(s)
      case _ => 0.0
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](length)
    var lo = 0
    var hi = -1
    var k = 0
    while (k < length) {
      while (lo < s.n && lastWindow(s.ts(lo)) < k) lo += 1
      while (hi + 1 < s.n && firstWindow(s.ts(hi + 1)) <= k) hi += 1
      if (hi - lo + 1 >= fn.minSamples) {
        val t = gridTs(k)
        val value = fold(s, lo, hi, t, c0)
        if (value != null) out += new GenericInternalRow(Array[Any](t, value))
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The minimum over the samples that fall in at least one window: the
    * value origin deriv and predict_linear centre on. */
  private def windowedMin(s: Series): Double = {
    var min = Double.NaN
    var seen = false
    var i = 0
    while (i < s.n) {
      val t = s.ts(i)
      if (firstWindow(t) <= lastWindow(t)) {
        if (!seen || cmp(s.vs(i), min) < 0) min = s.vs(i)
        seen = true
      }
      i += 1
    }
    min
  }

  /** `fn` over samples `lo..hi` (at least `fn.minSamples` of them) of the
    * window at grid instant t; null means the window emits no row. */
  private def fold(s: Series, lo: Int, hi: Int, t: Double, c0: Double): Any = {
    val ts = s.ts
    val vs = s.vs
    val n = hi - lo + 1
    fn match {
      case CountOverTime => n.toLong
      case LastOverTime => vs(hi)
      case PresentOverTime => 1.0
      case SumOverTime => sum(vs, lo, hi)
      case AvgOverTime => sum(vs, lo, hi) / n.toDouble
      case MinOverTime => extreme(vs, lo, hi, -1)
      case MaxOverTime => extreme(vs, lo, hi, 1)
      case StdvarOverTime => stdvar(vs, lo, hi)
      case StddevOverTime => math.sqrt(stdvar(vs, lo, hi))
      case QuantileOverTime(q) =>
        if (q.isNaN) Double.NaN
        else if (q < 0) Double.NegativeInfinity
        else if (q > 1) Double.PositiveInfinity
        else quantile(sorted(vs, lo, hi), q)
      case MadOverTime =>
        val a = sorted(vs, lo, hi)
        val median = quantile(a, 0.5)
        var i = 0
        while (i < n) { a(i) = math.abs(a(i) - median); i += 1 }
        java.util.Arrays.sort(a)
        quantile(a, 0.5)
      case Changes => pairCount(vs, lo, hi, (prev, cur) => cmp(cur, prev) != 0)
      case Resets => pairCount(vs, lo, hi, (prev, cur) => cmp(cur, prev) < 0)
      case IncreaseResets => increaseResets(vs, lo, hi)
      case RateResets => increaseResets(vs, lo, hi) / range
      case Idelta => vs(hi) - vs(hi - 1)
      case IrateResets =>
        val dv = if (isResetDrop(vs(hi - 1), vs(hi))) vs(hi) else vs(hi) - vs(hi - 1)
        dv / (ts(hi) - ts(hi - 1))
      case Deriv | PredictLinear(_) => regression(ts, vs, lo, hi, t, c0)
      case HoltWinters(sf, tf) =>
        var smooth = vs(lo)
        var trend = vs(lo + 1) - vs(lo)
        var prev = 0.0
        var i = lo + 1
        while (i <= hi) {
          if (i > lo + 1) trend = tf * (smooth - prev) + (1.0 - tf) * trend
          prev = smooth
          smooth = sf * vs(i) + (1.0 - sf) * (smooth + trend)
          i += 1
        }
        smooth
      case other => throw new IllegalStateException(other.name)
    }
  }

  /** Least-squares fit over the window, shared by deriv and
    * predict_linear. Both axes are centred before the sums: time on the
    * grid instant t (t² at epoch scale would eat all double precision; the
    * intercept then lands at t, predict_linear's origin) and values on c0
    * (monotone counters at ~1e6 cancel catastrophically in
    * `n·Σtv − Σt·Σv`). A window whose squared time spread is not above
    * 1e-9 of `n·Σtc²` (samples milliseconds apart) emits no row: its
    * leverage would turn last-ULP input noise into visible output. */
  private def regression(ts: Array[Double], vs: Array[Double], lo: Int, hi: Int,
                         t: Double, c0: Double): Any = {
    var st, sv, stv, stt = 0.0
    var i = lo
    while (i <= hi) {
      val tc = ts(i) - t
      val vc = vs(i) - c0
      st += tc
      sv += vc
      stv += tc * vc
      stt += tc * tc
      i += 1
    }
    val n = (hi - lo + 1).toDouble
    val den = n * stt - st * st
    if (cmp(den, 1e-9 * n * stt) <= 0) return null
    val slope = (n * stv - st * sv) / den
    fn match {
      case PredictLinear(h) => (sv - slope * st) / n + slope * h + c0
      case _ => slope
    }
  }

  /** `(last - first) + Σ prev` over the counter resets in the window:
    * Prometheus' reset walk on raw first/last samples. */
  private def increaseResets(vs: Array[Double], lo: Int, hi: Int): Double = {
    var corr = 0.0
    var i = lo + 1
    while (i <= hi) {
      if (isResetDrop(vs(i - 1), vs(i))) corr += vs(i - 1)
      i += 1
    }
    vs(hi) - vs(lo) + corr
  }
}

object RangeKernel {
  /** A range function. `windowed` ones fold the samples of `(t - range,
    * t]`; a window with fewer than `minSamples` samples emits no row. */
  sealed abstract class Fn(val name: String, val windowed: Boolean, val minSamples: Int = 1)
      extends Serializable
  case object Resample extends Fn("resample", false)
  case object Rate extends Fn("rate", false)
  case object Increase extends Fn("increase", false)
  case object Irate extends Fn("irate", false)
  case object AvgOverTime extends Fn("avg_over_time", true)
  case object MinOverTime extends Fn("min_over_time", true)
  case object MaxOverTime extends Fn("max_over_time", true)
  case object SumOverTime extends Fn("sum_over_time", true)
  case object CountOverTime extends Fn("count_over_time", true)
  case object LastOverTime extends Fn("last_over_time", true)
  case object PresentOverTime extends Fn("present_over_time", true)
  /** Population variance from the explicit moments `Σv²/n − (Σv/n)²` —
    * the expression any SQL engine (incl. the oracle) reproduces. */
  case object StdvarOverTime extends Fn("stdvar_over_time", true)
  case object StddevOverTime extends Fn("stddev_over_time", true)
  /** Linear-interpolated percentile, `pos = (n-1)·q` (as
    * `Aggregate.quantileAgg`); q NaN, < 0, > 1 give NaN, −Inf, +Inf. */
  final case class QuantileOverTime(q: Double) extends Fn("quantile_over_time", true)
  /** Median absolute deviation: median(|x − median(x)|), both medians
    * interpolated like [[QuantileOverTime]] at q = 0.5. */
  case object MadOverTime extends Fn("mad_over_time", true)
  /** Adjacent-pair counts: value changes / value decreases. */
  case object Changes extends Fn("changes", true)
  case object Resets extends Fn("resets", true)
  /** Difference of the last two raw samples (no interpolation). */
  case object Idelta extends Fn("idelta", true, 2)
  /** Least-squares slope (deriv) / projection `h` seconds past the grid
    * instant (predict_linear). */
  case object Deriv extends Fn("deriv", true, 2)
  final case class PredictLinear(h: Double) extends Fn("predict_linear", true, 2)
  /** Double exponential smoothing in time order (Prometheus
    * funcHoltWinters: the trend update from the third sample on uses the
    * two previous smoothed values and runs BEFORE the new smoothed
    * value). */
  final case class HoltWinters(sf: Double, tf: Double) extends Fn("holt_winters", true, 2)
  /** Opt-in Prometheus counter-reset semantics. The reference has no reset
    * logic (timeseries.rs:104-113), so the default rate/increase stay
    * reference-faithful. The reset mode uses raw first/last samples (no
    * interpolation: across a reset it is meaningless) plus the pre-reset
    * value of every drop; `irate_resets` is the last two samples' slope,
    * a drop counting the new value as the increase. A drop only counts
    * past a 1e-9 RELATIVE epsilon: samples can be ingest-time aggregates
    * whose last ULP differs between engines, and the reset rule would
    * amplify a 1-ULP "drop" into the whole pre-reset value; real resets
    * (restart → ~0) are far past it. */
  case object IncreaseResets extends Fn("increase_resets", true, 2)
  case object RateResets extends Fn("rate_resets", true, 2)
  case object IrateResets extends Fn("irate_resets", true, 2)

  def outType(fn: Fn): DataType = ArrayType(new StructType()
    .add("ts", DoubleType, nullable = false)
    .add("value", if (fn == CountOverTime) LongType else DoubleType, nullable = false),
    containsNull = false)

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): NaN is the
    * largest value and equals itself; -0.0 equals 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** prev → cur is a counter reset: a drop past the relative epsilon. */
  private def isResetDrop(prev: Double, cur: Double): Boolean =
    cmp(prev - cur, math.abs(prev) * 1e-9) > 0

  private def sum(vs: Array[Double], lo: Int, hi: Int): Double = {
    var acc = 0.0
    var i = lo
    while (i <= hi) { acc += vs(i); i += 1 }
    acc
  }

  /** min (sign -1) or max (sign 1); the earliest of equal values wins. */
  private def extreme(vs: Array[Double], lo: Int, hi: Int, sign: Int): Double = {
    var acc = vs(lo)
    var i = lo + 1
    while (i <= hi) {
      if (cmp(vs(i), acc) * sign > 0) acc = vs(i)
      i += 1
    }
    acc
  }

  private def stdvar(vs: Array[Double], lo: Int, hi: Int): Double = {
    var s1, s2 = 0.0
    var i = lo
    while (i <= hi) { s1 += vs(i); s2 += vs(i) * vs(i); i += 1 }
    val n = (hi - lo + 1).toDouble
    s2 / n - (s1 / n) * (s1 / n)
  }

  private def pairCount(vs: Array[Double], lo: Int, hi: Int,
                        counts: (Double, Double) => Boolean): Double = {
    var c = 0
    var i = lo + 1
    while (i <= hi) { if (counts(vs(i - 1), vs(i))) c += 1; i += 1 }
    c.toDouble
  }

  /** vs(lo..hi) ascending. Arrays.sort puts NaN last like Spark; it orders
    * -0.0 before 0.0, where Spark ties them, which no interpolated value
    * below can observe. */
  private def sorted(vs: Array[Double], lo: Int, hi: Int): Array[Double] = {
    val a = java.util.Arrays.copyOfRange(vs, lo, hi + 1)
    java.util.Arrays.sort(a)
    a
  }

  /** `Aggregate.quantileAgg`'s interpolation over a sorted array. */
  private def quantile(a: Array[Double], q: Double): Double = {
    val pos = (a.length - 1).toDouble * q
    val lo = math.floor(pos).toInt
    val frac = pos - lo.toDouble
    val vlo = a(lo)
    val vhi = a(math.min(lo + 1, a.length - 1))
    vlo + (vhi - vlo) * frac
  }

  /** One series' first `n` samples, ts ascending. */
  private final class Series(val ts: Array[Double], val vs: Array[Double], val n: Int) {

    /** Index of the last sample with ts <= p, or -1. */
    def floorIndex(p: Double): Int = {
      var lo = 0
      var hi = n - 1
      var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (ts(mid) <= p) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      found
    }

    /** Linear interpolation at p between samples i and i + 1. */
    private def between(i: Int, p: Double): Double =
      ((p - ts(i)) * vs(i + 1) + (ts(i + 1) - p) * vs(i)) / (ts(i + 1) - ts(i))

    /** `interpolated_at` (timeseries.rs:164-191): clamp to the first/last
      * value outside the span, linear between the bracketing samples. */
    def interpolated(p: Double): Double = {
      val i = floorIndex(p)
      if (i < 0) vs(0)
      else if (i == n - 1) vs(i)
      else between(i, p)
    }

    /** `irate` at probe p (timeseries.rs:116-161). */
    def irate(p: Double): Double = {
      val i = floorIndex(p)
      if (i < 0 || i == n - 1) Double.NaN
      else if (i == 0) {
        val dv = vs(1) - vs(0)
        if (dv < 0) Double.NaN else dv / (ts(1) - ts(0))
      } else {
        val dv = between(i, p) - vs(i - 1)
        if (dv < 0) Double.NaN else dv / (p - ts(i - 1))
      }
    }
  }
}
