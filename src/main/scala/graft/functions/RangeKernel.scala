package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** PromQL range functions evaluated the way the reference does
  * (timeseries.rs:57-191): per series, over its strictly ascending time
  * vector `ts[]` and value vector `v[]`, by indexing into them.
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
  * Window functions (avg/min/max/sum/count/last_over_time) fold the samples
  * in `(t - range, t]`; the caller shifts ts for `offset`. Each sample's
  * window indices come from the same ceil/floor rule as
  * [[graft.operators.RangeAgg.windowExplode]] (and the RollupStore
  * alignment twin), so membership is identical to the explode path; a
  * window with no sample emits nothing. min/max follow Spark's NaN
  * ordering (NaN is largest); sums add in time order.
  *
  * Null elements (no Prometheus sample is null) are skipped. Scale shape:
  * a pure per-row map after the per-series fold — no window sort, no
  * probe rows, no shuffle of its own. */
final case class RangeKernel(left: Expression, right: Expression, fn: RangeKernel.Fn,
                             start: Double, step: Double, length: Int,
                             range: Double, offset: Double)
    extends BinaryExpression {

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
    val s = new RangeKernel.Series(ts, vs, n)
    if (fn.windowed) windows(s) else points(s)
  }

  private def gridTs(k: Int): Double = start + k.toDouble * step

  private def points(s: RangeKernel.Series): ArrayData = {
    val out = new Array[Any](length)
    val lo = offset + range
    var k = 0
    while (k < length) {
      val t = gridTs(k)
      val value = fn match {
        case RangeKernel.Resample => s.interpolated(t - offset)
        case RangeKernel.Rate => (s.interpolated(t - offset) - s.interpolated(t - lo)) / range
        case RangeKernel.Increase => s.interpolated(t - offset) - s.interpolated(t - lo)
        case RangeKernel.Irate => s.irate(t - offset)
        case other => throw new IllegalStateException(other.name)
      }
      out(k) = new GenericInternalRow(Array[Any](t, value))
      k += 1
    }
    new GenericArrayData(out)
  }

  private def windows(s: RangeKernel.Series): ArrayData = {
    val cnt = new Array[Long](length)
    val acc = new Array[Double](length)
    var i = 0
    while (i < s.n) {
      val t = s.ts(i)
      val v = s.vs(i)
      // windowExplode's rule: window k holds t iff grid_t - range < t <= grid_t
      val kLo = math.max(math.ceil((t - start) / step).toLong.toInt, 0)
      val x = t - start + range
      val kHi = math.min(
        math.floor(x / step - (if (x % step == 0) 1.0 else 0.0)).toLong.toInt, length - 1)
      var k = kLo
      while (k <= kHi) {
        val first = cnt(k) == 0
        cnt(k) += 1
        fn match {
          case RangeKernel.SumOverTime | RangeKernel.AvgOverTime => acc(k) += v
          case RangeKernel.MinOverTime => if (first || RangeKernel.cmp(v, acc(k)) < 0) acc(k) = v
          case RangeKernel.MaxOverTime => if (first || RangeKernel.cmp(v, acc(k)) > 0) acc(k) = v
          case RangeKernel.LastOverTime => acc(k) = v
          case _ => ()
        }
        k += 1
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](length)
    var k = 0
    while (k < length) {
      if (cnt(k) > 0) {
        val value: Any = fn match {
          case RangeKernel.CountOverTime => cnt(k)
          case RangeKernel.AvgOverTime => acc(k) / cnt(k).toDouble
          case _ => acc(k)
        }
        out += new GenericInternalRow(Array[Any](gridTs(k), value))
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object RangeKernel {
  sealed abstract class Fn(val name: String, val windowed: Boolean)
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

  def outType(fn: Fn): DataType = ArrayType(new StructType()
    .add("ts", DoubleType, nullable = false)
    .add("value", if (fn == CountOverTime) LongType else DoubleType, nullable = false),
    containsNull = false)

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): NaN is the
    * largest value and equals itself; -0.0 equals 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

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
