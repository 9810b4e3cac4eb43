package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.operators.{Grid, RangeAgg, Rate, Resample}

/** The per-series range kernels against a plain-Scala model of the
  * reference's series arithmetic (timeseries.rs:57-191) on generated
  * series. The point functions' model keeps the reference's expression
  * order, so resample/rate/increase/irate must match it bit for bit;
  * the `*_over_time` model is the PromQL window `(t - range, t]`. The
  * inputs also pin the fold's series identity (label-map key order, null
  * and separator-bearing label values).
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
      assertBitIdentical(s"rate[$range] offset $off", Rate.rate(samples, grid, range, off),
        (s, t) => (s.interp(t - off) - s.interp(t - (off + range))) / range)
      assertBitIdentical(s"increase[$range] offset $off", Rate.increase(samples, grid, range, off),
        (s, t) => s.interp(t - off) - s.interp(t - (off + range)))
    }
  }

  test("irate is bit-identical to the reference model, NaN on negative deltas and edges") {
    assertBitIdentical("irate", Rate.irate(samples, grid, 12.0), (s, t) => s.irate(t))
    assertBitIdentical("irate offset 7", Rate.irate(samples, grid, 12.0, 7.0),
      (s, t) => s.irate(t - 7.0))
    val falling = byPoint(Rate.irate(samples.filter(col("labels")("id") === "falling"),
      Grid(10.0, 45.0, 5.0), 10.0))
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

  test("a single-sample series is flat for resample, zero for rate, NaN for irate") {
    val one = samples.filter(col("labels")("id") === "single")
    val g = Grid(90.0, 110.0, 5.0)
    assert(byPoint(Resample.resample(one, g)).values.toSet === Set(4.0))
    assert(byPoint(Rate.rate(one, g, 10.0)).values.toSet === Set(0.0))
    assert(byPoint(Rate.irate(one, g, 10.0)).values.forall(_.asInstanceOf[Double].isNaN))
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
  }
}
