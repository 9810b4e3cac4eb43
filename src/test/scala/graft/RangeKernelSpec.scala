package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.functions.{RangeKernel => K}
import graft.operators.{Grid, RangeAgg, Resample}

/** The per-series range kernels against a plain-Scala model of the
  * reference's series arithmetic (timeseries.rs:57-191) on generated
  * series. The point functions' model keeps the reference's expression
  * order, so resample/rate/increase/irate must match it bit for bit;
  * the window functions' model is the PromQL window `(t - range, t]`
  * folded in time order, so the rest of the windowed family must match
  * it bit for bit too. The inputs also pin the fold's series identity
  * (label-map key order, null and separator-bearing label values).
  */
class RangeKernelSpec extends SparkSpec {
  import spark.implicits._
  import RangeKernelSpec._

  /** Seeded series: integer timestamps in [0, 200] (so grid instants land
    * before, on, between and after samples), values of both signs (so
    * irate sees negative deltas), plus fixed edge shapes. */
  private val generated: Seq[Series] = {
    val r = new Random(20)
    val random = (0 until 24).map { i =>
      val n = 1 + r.nextInt(14)
      val ts = Seq.fill(n)(r.nextInt(201).toDouble).distinct.sorted.toVector
      Series(s"g$i", ts, ts.map(_ => math.round(r.nextGaussian() * 1000) / 8.0))
    }
    random ++ Seq(
      Series("single", Vector(100.0), Vector(4.0)),
      Series("falling", Vector(10.0, 20.0, 30.0, 40.0), Vector(9.0, 7.0, 8.0, 2.0)),
      // a gap wider than every range below: windows inside it are empty
      Series("gappy", Vector(0.0, 5.0, 150.0, 155.0), Vector(1.0, 2.0, 3.0, 5.0)),
      Series("fractional", Vector(3.25, 17.5, 60.125), Vector(0.1, 0.7, -0.3)))
  }

  /** A `zone` label per series: a null value on one, the canonical key's
    * separators on another. */
  private val zones: Map[String, String] =
    Map("fractional" -> null, "falling" -> "x=1,y\\2").withDefaultValue("z")

  /** Each series' samples alternate between two key insertion orders of
    * one label map; the fold must still see one series per map. */
  private lazy val samples: DataFrame = {
    val rows = generated.flatMap(s => s.ts.zip(s.vs).zipWithIndex.map { case ((t, v), i) =>
      (s.name, zones(s.name), t, v, i % 2 == 0) })
    val forward = map(lit("__name__"), lit("m"), lit("id"), col("name"), lit("zone"), col("zone"))
    val reversed = map(lit("zone"), col("zone"), lit("id"), col("name"), lit("__name__"), lit("m"))
    Model.withSkey(rows.toDF("name", "zone", "ts", "value", "forward")
      .withColumn("labels", when(col("forward"), forward).otherwise(reversed))
      .drop("name", "zone", "forward"))
  }

  private val grid = Grid(-20.0, 230.0, 5.0)

  private def byPoint(df: DataFrame): Map[(String, Double), Any] =
    df.select(col("labels")("id"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.get(2)).toMap

  private def assertBitIdentical(name: String, df: DataFrame,
                                 model: (Series, Double) => Double): Unit = {
    val got = byPoint(df)
    val want = for (s <- generated; k <- 0 until grid.length) yield {
      val t = grid.start + k.toDouble * grid.step
      (s.name, t) -> model(s, t)
    }
    assert(df.count() === want.size, s"$name: row count")
    want.foreach { case (key, w) =>
      val g = got(key).asInstanceOf[Double]
      assert(java.lang.Double.doubleToLongBits(g) === java.lang.Double.doubleToLongBits(w),
        s"$name at $key: $g vs model $w")
    }
  }

  test("resample is bit-identical to the interpolation model, with and without offset") {
    assertBitIdentical("resample", Resample.resample(samples, grid), (s, t) => s.interp(t))
    assertBitIdentical("resample offset 7", Resample.resample(samples, grid, 7.0),
      (s, t) => s.interp(t - 7.0))
  }

  test("the fold keeps one series per label map; skey is Model.canonicalKey of its labels") {
    val out = Resample.resample(samples, grid)
    val keys = out.select(col("skey"), Model.canonicalKey(col("labels")).as("want"))
      .distinct().as[(String, String)].collect()
    assert(keys.length === generated.length)
    keys.foreach { case (skey, want) => assert(skey === want) }
    val skeys = keys.map(_._1).toSet
    assert(skeys.contains("__name__=m,id=fractional")) // a null value drops its label
    assert(skeys.contains("__name__=m,id=falling,zone=x\\=1\\,y\\\\2"))
  }

  test("rate and increase are bit-identical to the interpolated-endpoint model") {
    // a range that is not a multiple of the step, with an offset
    for ((range, off) <- Seq((12.0, 0.0), (30.0, 7.0))) {
      assertBitIdentical(s"rate[$range] offset $off", Resample.kernel(samples, grid, K.Rate, range, off),
        (s, t) => (s.interp(t - off) - s.interp(t - (off + range))) / range)
      assertBitIdentical(s"increase[$range] offset $off", Resample.kernel(samples, grid, K.Increase, range, off),
        (s, t) => s.interp(t - off) - s.interp(t - (off + range)))
    }
  }

  test("irate is bit-identical to the reference model, NaN on negative deltas and edges") {
    assertBitIdentical("irate", Resample.kernel(samples, grid, K.Irate, 12.0, 0.0), (s, t) => s.irate(t))
    assertBitIdentical("irate offset 7", Resample.kernel(samples, grid, K.Irate, 12.0, 7.0),
      (s, t) => s.irate(t - 7.0))
    val falling = byPoint(Resample.kernel(samples.filter(col("labels")("id") === "falling"),
      Grid(10.0, 45.0, 5.0), K.Irate, 10.0, 0.0))
    def at(t: Double): Double = falling(("falling", t)).asInstanceOf[Double]
    assert(at(15.0).isNaN) // 9 → 7 with no prior sample: negative
    assert(at(25.0).isNaN) // interp 7.5 - prior 9: negative
    assert(at(30.0) === 0.1) // interp 8 - prior 7 over 10 s
    assert(at(40.0).isNaN) // on the last sample: above the span
  }

  test("*_over_time kernels match the window model; empty windows emit no row") {
    val fns: Seq[(String, (DataFrame, Grid, Double) => DataFrame, Seq[Double] => Any)] = Seq(
      ("avg", RangeAgg.avgOverTime, (w: Seq[Double]) => w.sum / w.length),
      ("sum", RangeAgg.sumOverTime, (w: Seq[Double]) => w.sum),
      ("min", RangeAgg.minOverTime, (w: Seq[Double]) => w.min),
      ("max", RangeAgg.maxOverTime, (w: Seq[Double]) => w.max),
      ("count", RangeAgg.countOverTime, (w: Seq[Double]) => w.length.toLong),
      ("last", RangeAgg.lastOverTime, (w: Seq[Double]) => w.last))
    for ((name, fn, agg) <- fns; range <- Seq(5.0, 12.0, 60.0)) {
      val df = fn(samples, grid, range)
      assert(df.schema("value").dataType === (if (name == "count") LongType else DoubleType))
      val got = byPoint(df)
      val want = (for (s <- generated; k <- 0 until grid.length) yield {
        val t = grid.start + k.toDouble * grid.step
        val w = s.window(t, range)
        if (w.isEmpty) None else Some((s.name, t) -> agg(w))
      }).flatten.toMap
      assert(got.keySet === want.keySet, s"${name}_over_time[$range]: window set")
      want.foreach { case (key, w) =>
        (got(key), w) match {
          case (g: Double, x: Double) if name == "avg" || name == "sum" =>
            assert(math.abs(g - x) <= 1e-9 * math.max(1.0, math.abs(x)),
              s"${name}_over_time[$range] at $key: $g vs $x")
          case (g, x) => assert(g === x, s"${name}_over_time[$range] at $key")
        }
      }
    }
    // inside the gap no 5 s window holds a sample
    val gappy = byPoint(RangeAgg.countOverTime(samples, grid, 5.0)).keySet.filter(_._1 == "gappy")
    assert(gappy.map(_._2) === Set(0.0, 5.0, 150.0, 155.0))
  }

  /** The windowed functions beyond the six above, quantile at every
    * q regime. */
  private val windowFns: Seq[K.Fn] =
    Seq(Double.NaN, -0.5, 0.0, 0.5, 1.0, 1.5).map(K.QuantileOverTime) ++ Seq(
      K.MadOverTime, K.StddevOverTime, K.StdvarOverTime, K.PresentOverTime,
      K.Changes, K.Resets, K.Idelta, K.IncreaseResets, K.RateResets, K.IrateResets,
      K.Deriv, K.PredictLinear(30.0), K.HoltWinters(0.4, 0.2))

  /** Fixed shapes for the edge rules: a 1-ULP drop before a real counter
    * reset, NaN samples, and two samples 0.1 ms apart. */
  private val edges: Seq[Series] = Seq(
    Series("counter", Vector(0.0, 10.0, 20.0, 30.0, 40.0, 50.0),
      Vector(10.0, 20.0, math.nextDown(20.0), 25.0, 3.0, 8.0)),
    Series("nan", Vector(0.0, 10.0, 20.0, 30.0, 40.0),
      Vector(1.0, Double.NaN, Double.NaN, 2.0, 1.0)),
    Series("clustered", Vector(96.0, 96.0001), Vector(1.0, 2.0)))

  /** `fn` computed by the kernel on one series, outside Spark. */
  private def direct(fn: K.Fn, s: Series, g: Grid, range: Double,
                     offset: Double = 0.0): Map[Double, Any] = {
    val none = Literal(null, ArrayType(DoubleType))
    val out = K(none, none, fn, g.start, g.step, g.length, range, offset)
      .compute(ArrayData.toArrayData(s.ts.toArray), ArrayData.toArrayData(s.vs.toArray))
    (0 until out.numElements()).map { i =>
      val row = out.getStruct(i, 2)
      row.getDouble(0) -> (if (fn == K.CountOverTime) row.getLong(1) else row.getDouble(1))
    }.toMap
  }

  private def assertModel(what: String, got: Map[Double, Any], want: Map[Double, Double]): Unit = {
    assert(got.keySet === want.keySet, s"$what: window set")
    want.foreach { case (t, w) =>
      val g = got(t).asInstanceOf[Double]
      assert(java.lang.Double.doubleToLongBits(g) === java.lang.Double.doubleToLongBits(w),
        s"$what at $t: $g vs model $w")
    }
  }

  test("the windowed family is bit-identical to the window model, with and without offset") {
    for (s <- generated ++ edges; fn <- windowFns;
         (range, off) <- Seq((5.0, 0.0), (12.0, 7.0), (60.0, 0.0), (60.0, -3.0)))
      assertModel(s"${s.name} $fn[$range] offset $off", direct(fn, s, grid, range, off),
        s.windowFn(fn, grid, range, off))
  }

  test("the windowed family through the Spark fold matches the model") {
    for (fn <- windowFns) {
      val got = byPoint(Resample.kernel(samples, grid, fn, 12.0, 7.0))
      for (s <- generated)
        assertModel(s"${s.name} $fn", got.collect { case ((id, t), v) if id == s.name => t -> v },
          s.windowFn(fn, grid, 12.0, 7.0))
    }
  }

  test("counter resets skip a 1-ULP drop; NaN compares like Spark; degenerate fits emit nothing") {
    val Seq(counter, nan, clustered) = edges
    val at50 = Grid(50.0, 50.5, 1.0)
    // 25 → 3 is a reset; 20 → nextDown(20) is not
    assert(direct(K.IncreaseResets, counter, at50, 60.0) === Map(50.0 -> 23.0))
    assert(direct(K.RateResets, counter, at50, 60.0) === Map(50.0 -> 23.0 / 60.0))
    assert(direct(K.Resets, counter, at50, 60.0) === Map(50.0 -> 2.0)) // no epsilon
    assert(direct(K.IrateResets, counter, Grid(40.0, 40.5, 1.0), 60.0) === Map(40.0 -> 0.3))
    assert(direct(K.IrateResets, counter, Grid(20.0, 20.5, 1.0), 60.0) ===
      Map(20.0 -> (math.nextDown(20.0) - 20.0) / 10.0))
    // 1 → NaN → NaN → 2 → 1: NaN equals NaN and is the largest value
    assert(direct(K.Changes, nan, Grid(40.0, 40.5, 1.0), 60.0) === Map(40.0 -> 3.0))
    assert(direct(K.Resets, nan, Grid(40.0, 40.5, 1.0), 60.0) === Map(40.0 -> 2.0))
    // two samples 0.1 ms apart, 4 s before the instant: den below 1e-9·n·Σtc²
    val at100 = Grid(100.0, 100.5, 1.0)
    assert(direct(K.Deriv, clustered, at100, 10.0).isEmpty)
    assert(direct(K.PredictLinear(60.0), clustered, at100, 10.0).isEmpty)
    val spread = Series("spread", Vector(90.0, 96.0), Vector(1.0, 2.0))
    assert(direct(K.Deriv, spread, at100, 20.0) === Map(100.0 -> 1.0 / 6.0))
  }

  test("one-sample windows: idelta and the fits emit nothing, the rest fold the one value") {
    val single = generated.find(_.name == "single").get
    val at100 = Grid(100.0, 100.5, 1.0)
    for (fn <- Seq(K.Idelta, K.Deriv, K.PredictLinear(1.0), K.HoltWinters(0.5, 0.5),
                   K.IncreaseResets, K.RateResets, K.IrateResets))
      assert(direct(fn, single, at100, 5.0).isEmpty, fn)
    for ((fn, want) <- Seq(K.QuantileOverTime(0.5) -> 4.0, K.QuantileOverTime(-0.5) -> Double.NegativeInfinity,
                           K.MadOverTime -> 0.0, K.StdvarOverTime -> 0.0, K.PresentOverTime -> 1.0,
                           K.Changes -> 0.0, K.Resets -> 0.0))
      assert(direct(fn, single, at100, 5.0) === Map(100.0 -> want), fn)
  }

  test("a sample 2^32 ± 5 steps from the grid start lands in no window") {
    // converting the window bounds to int before clamping wraps both to window 5
    val far = Series("far", Vector(-4294967291.0, 4294967301.0), Vector(1.0, 1.0))
    assert(direct(K.CountOverTime, far, Grid(0.0, 9.0, 1.0), 1.0).isEmpty)
  }

  test("a single-sample series is flat for resample, zero for rate, NaN for irate") {
    val one = samples.filter(col("labels")("id") === "single")
    val g = Grid(90.0, 110.0, 5.0)
    assert(byPoint(Resample.resample(one, g)).values.toSet === Set(4.0))
    assert(byPoint(Resample.kernel(one, g, K.Rate, 10.0, 0.0)).values.toSet === Set(0.0))
    assert(byPoint(Resample.kernel(one, g, K.Irate, 10.0, 0.0)).values.forall(_.asInstanceOf[Double].isNaN))
  }
}

object RangeKernelSpec {
  /** One series as the reference holds it: strictly ascending ts. */
  final case class Series(name: String, ts: Vector[Double], vs: Vector[Double]) {
    private def locate(t: Double): Int = ts.lastIndexWhere(_ <= t)

    /** `interpolated_at` (timeseries.rs:164-191). */
    def interp(t: Double): Double = {
      val i = locate(t)
      if (i < 0) vs.head
      else if (i == ts.length - 1) vs.last
      else ((t - ts(i)) * vs(i + 1) + (ts(i + 1) - t) * vs(i)) / (ts(i + 1) - ts(i))
    }

    /** `irate` (timeseries.rs:116-161): Below/Above → NaN, negative → NaN. */
    def irate(t: Double): Double = {
      val i = locate(t)
      if (i < 0 || i == ts.length - 1) Double.NaN
      else if (i == 0) {
        val dv = vs(1) - vs(0)
        if (dv < 0) Double.NaN else dv / (ts(1) - ts(0))
      } else {
        val dv = interp(t) - vs(i - 1)
        if (dv < 0) Double.NaN else dv / (t - ts(i - 1))
      }
    }

    /** Sample values in `(t - range, t]`, in time order. */
    def window(t: Double, range: Double): Seq[Double] =
      ts.indices.filter(i => ts(i) > t - range && ts(i) <= t).map(vs)

    /** A windowed function per grid instant, with every ts shifted by
      * `off`; instants whose window emits no row are absent. */
    def windowFn(fn: K.Fn, g: Grid, range: Double, off: Double): Map[Double, Double] = {
      val shifted = ts.map(_ + off)
      val windows = (0 until g.length).map { k =>
        val t = g.start + k.toDouble * g.step
        t -> shifted.indices.filter(i => shifted(i) > t - range && shifted(i) <= t)
      }
      val inAny = windows.flatMap(_._2).distinct
      val c0 = if (inAny.isEmpty) 0.0 else inAny.map(vs).min(Ordering.Double.TotalOrdering)
      windows.flatMap { case (t, idx) =>
        if (idx.isEmpty) None
        else Series.fold(fn, idx.map(shifted), idx.map(vs), t, c0, range).map(t -> _)
      }.toMap
    }
  }

  object Series {
    /** Spark's double comparison: NaN equals NaN and is the largest. */
    private def cmp(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)

    private def sum(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)

    private def quantile(w: Seq[Double], q: Double): Double =
      if (q.isNaN) Double.NaN
      else if (q < 0) Double.NegativeInfinity
      else if (q > 1) Double.PositiveInfinity
      else {
        val a = w.sorted(Ordering.Double.TotalOrdering)
        val pos = (a.length - 1) * q
        val lo = pos.floor.toInt
        a(lo) + (a(math.min(lo + 1, a.length - 1)) - a(lo)) * (pos - lo)
      }

    private def stdvar(w: Seq[Double]): Double =
      sum(w.map(v => v * v)) / w.length - (sum(w) / w.length) * (sum(w) / w.length)

    /** `(prev - cur) > |prev|·1e-9`: a counter reset. */
    private def drop(prev: Double, cur: Double): Boolean = cmp(prev - cur, math.abs(prev) * 1e-9) > 0

    private def increaseResets(w: Seq[Double]): Double =
      w.last - w.head + sum(w.zip(w.tail).collect { case (p, c) if drop(p, c) => p })

    /** Prometheus funcHoltWinters: s1 the smoothed value, b the trend. */
    private def holtWinters(w: Seq[Double], sf: Double, tf: Double): Double = {
      var (s0, s1, b) = (0.0, w(0), w(1) - w(0))
      for (i <- 1 until w.length) {
        val x = sf * w(i)
        b = if (i == 1) b else tf * (s1 - s0) + (1 - tf) * b
        val y = (1 - sf) * (s1 + b)
        s0 = s1; s1 = x + y
      }
      s1
    }

    /** One window `(wt, w)` (shifted ts, values) at grid instant t; c0 is
      * the minimum over the samples in any window. */
    def fold(fn: K.Fn, wt: Seq[Double], w: Seq[Double], t: Double, c0: Double,
             range: Double): Option[Double] = {
      val n = w.length
      val pairs = w.zip(w.tail)
      fn match {
        case K.QuantileOverTime(q) => Some(quantile(w, q))
        case K.MadOverTime =>
          val m = quantile(w, 0.5)
          Some(quantile(w.map(x => math.abs(x - m)), 0.5))
        case K.StdvarOverTime => Some(stdvar(w))
        case K.StddevOverTime => Some(math.sqrt(stdvar(w)))
        case K.PresentOverTime => Some(1.0)
        case K.Changes => Some(pairs.count { case (p, c) => cmp(c, p) != 0 }.toDouble)
        case K.Resets => Some(pairs.count { case (p, c) => cmp(c, p) < 0 }.toDouble)
        case _ if n < 2 => None
        case K.Idelta => Some(w(n - 1) - w(n - 2))
        case K.IncreaseResets => Some(increaseResets(w))
        case K.RateResets => Some(increaseResets(w) / range)
        case K.IrateResets =>
          val dv = if (drop(w(n - 2), w(n - 1))) w(n - 1) else w(n - 1) - w(n - 2)
          Some(dv / (wt(n - 1) - wt(n - 2)))
        case K.HoltWinters(sf, tf) => Some(holtWinters(w, sf, tf))
        case K.Deriv | K.PredictLinear(_) =>
          val tc = wt.map(_ - t)
          val vc = w.map(_ - c0)
          val (st, sv) = (sum(tc), sum(vc))
          val stv = sum(tc.zip(vc).map { case (a, b) => a * b })
          val stt = sum(tc.map(a => a * a))
          val den = n.toDouble * stt - st * st
          if (cmp(den, 1e-9 * n.toDouble * stt) <= 0) None
          else {
            val slope = (n.toDouble * stv - st * sv) / den
            fn match {
              case K.PredictLinear(h) => Some((sv - slope * st) / n + slope * h + c0)
              case _ => Some(slope)
            }
          }
        case other => throw new IllegalArgumentException(other.name)
      }
    }
  }
}
