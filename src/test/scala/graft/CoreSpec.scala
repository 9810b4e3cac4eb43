package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{RangeKernel, TimeParse}
import graft.operators.{Grid, Resample}

/** Mirrors the reference's own unit tests: interpolation values
  * (timeseries.rs:573-613), grid construction (timevectors.rs:377-419),
  * duration/timestamp parsing (web.rs:160-215), metric-name legalization
  * (labels.rs:399-416).
  */
class CoreSpec extends SparkSpec {
  import spark.implicits._

  /** Series (100,1) (115,2) (120,3) with a single label. */
  private def series: DataFrame =
    Model.withSkey(
      Seq((100.0, 1.0), (115.0, 2.0), (120.0, 3.0))
        .toDF("ts", "value")
        .withColumn("labels", map(lit("__name__"), lit("m"))))

  /** `interpolated_at` at each probe, through the resample kernel on a
    * 0.5 s grid that holds every probe instant. */
  private def interpolateAt(ts: Double*): Map[Double, Double] = {
    val at = Resample.resample(series, Grid(ts.min, ts.max, 0.5))
      .select("ts", "value").as[(Double, Double)].collect().toMap
    ts.map(t => t -> at(t)).toMap
  }

  test("interpolated_at matches reference values (timeseries.rs:573-613)") {
    val r = interpolateAt(80.0, 90.0, 100.0, 115.0, 120.0, 130.0, 107.5, 116.0, 117.0, 118.0, 119.0)
    assert(r(80.0) == 1.0); assert(r(90.0) == 1.0); assert(r(100.0) == 1.0)
    assert(r(115.0) == 2.0); assert(r(120.0) == 3.0); assert(r(130.0) == 3.0)
    assert(r(107.5) == 1.5)
    assert(math.abs(r(116.0) - 2.2) < 1e-12)
    assert(math.abs(r(117.0) - 2.4) < 1e-12)
    assert(math.abs(r(118.0) - 2.6) < 1e-12)
    assert(math.abs(r(119.0) - 2.8) < 1e-12)
  }

  test("grid length matches RegularTimeRange (timevectors.rs:396-419)") {
    assert(Grid(1.0, 1.9, 1.0).length == 1)
    assert(Grid(1.0, 2.0, 1.0).length == 2)
    assert(Grid(0.0, 7000.0, 15.0).length == 467)
    intercept[IllegalArgumentException](Grid(2.0, 1.0, 1.0))
    intercept[IllegalArgumentException](Grid(1.0, 2.0, 0.0))
  }

  test("resample clamps and interpolates on the grid") {
    val out = Resample.resample(series, Grid(90.0, 130.0, 10.0))
      .select("ts", "value").as[(Double, Double)].collect().toMap
    assert(out(90.0) == 1.0)
    assert(out(100.0) == 1.0)
    assert(math.abs(out(110.0) - 5.0 / 3) < 1e-12)
    assert(out(120.0) == 3.0)
    assert(out(130.0) == 3.0)
  }

  test("rate = interpolated endpoint slope (timeseries.rs:104-113)") {
    // rate over [100,120] at t=120: (3 - 1) / 20 = 0.1
    val out = Resample.kernel(series, Grid(120.0, 120.5, 10.0), RangeKernel.Rate, 20.0, 0.0)
      .select("ts", "value").as[(Double, Double)].collect().toMap
    assert(math.abs(out(120.0) - 0.1) < 1e-12)
  }

  test("irate semantics incl. edges (timeseries.rs:116-161)") {
    val out = Resample.kernel(series, Grid(90.0, 125.0, 2.5), RangeKernel.Irate, 20.0, 0.0)
      .select("ts", "value").as[(Double, Double)].collect().toMap
    assert(out(90.0).isNaN)  // Below range
    assert(out(95.0).isNaN)
    // t=110 in (100,115): no sample before idx0 -> (2-1)/(115-100)
    assert(math.abs(out(110.0) - 1.0 / 15) < 1e-12)
    // t=117.5 in (115,120): interp=2.5, prev sample (100,1): (2.5-1)/(117.5-100)
    assert(math.abs(out(117.5) - 1.5 / 17.5) < 1e-12)
    assert(out(120.0).isNaN)  // t == last ts -> Above -> NaN
    assert(out(125.0).isNaN)
  }

  test("duration parsing (web.rs:185-215)") {
    assert(TimeParse.parseDurationOrThrow("1.5") == 1.5)
    assert(TimeParse.parseDurationOrThrow("1s") == 1.0)
    assert(TimeParse.parseDurationOrThrow("500ms") == 0.5)
    assert(TimeParse.parseDurationOrThrow("1s500ms") == 1.5)
    assert(TimeParse.parseDurationOrThrow("2m1s500ms") == 121.5)
    assert(TimeParse.parseDurationOrThrow("1h2m1s500ms") == 3721.5)
    assert(TimeParse.parseDuration("1..5").isLeft)
    assert(TimeParse.parseDuration("1x").isLeft)
    assert(TimeParse.parseDuration("1s3").isLeft)
  }

  test("timestamp parsing (web.rs:160-183)") {
    val a = TimeParse.parseTimestamp("2022-05-28T00:00:00+02:00").toOption.get
    val b = TimeParse.parseTimestamp("1653688800").toOption.get
    assert(a == b)
    assert(TimeParse.parseTimestamp("nonsense").isLeft)
  }

  test("make_metric_name_legal (labels.rs:399-416)") {
    assert(Model.makeMetricNameLegal("a_1") == "a_1")
    assert(Model.makeMetricNameLegal("surely_y0u_jest") == "surely_y0u_jest")
    assert(Model.makeMetricNameLegal("a*") == "a_")
    assert(Model.makeMetricNameLegal("42") == "_42")
    assert(Model.makeMetricNameLegal("s-s-s-[_]??/.") == "s_s_s________")
  }

  test("canonicalKey is injective when label values contain separator chars") {
    // Pre-escaping, both maps rendered as "a=b,c=d" — a silent series-identity
    // collision that downstream skey equi-joins (binops) would fan out on.
    def key(labels: org.apache.spark.sql.Column): String =
      Seq(1).toDF("x").select(Model.canonicalKey(labels)).head().getString(0)
    val collided = key(map(lit("a"), lit("b,c=d")))
    val distinct = key(map(lit("a"), lit("b"), lit("c"), lit("d")))
    assert(collided == "a=b\\,c\\=d")
    assert(distinct == "a=b,c=d")
    assert(collided != distinct)
    assert(key(map(lit("p"), lit("x\\y"))) == "p=x\\\\y")
    // Plain labels are untouched — the escape is a no-op on ordinary data.
    assert(key(map(lit("__name__"), lit("m"), lit("host"), lit("h1"))) == "__name__=m,host=h1")
  }
}
