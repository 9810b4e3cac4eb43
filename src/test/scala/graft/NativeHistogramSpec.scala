package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.NativeHistogram

/** Native (exponential/sparse) histograms over synthetic frames — the
  * forward-looking extension beyond the reference's classic Le-bucket
  * model (design note in SURVEY §7). */
class NativeHistogramSpec extends SparkSpec {
  import spark.implicits._

  /** rows: (ts, series-label, schema, zeroCount, sum, count, idx[], cnt[]) */
  private def frame(rows: Seq[(Double, String, Int, Double, Double, Double,
      Seq[Int], Seq[Double])]): DataFrame =
    rows.toDF("ts", "h", "nh_schema", "nh_zero_count", "nh_sum", "nh_count",
        "nh_pos_idx", "nh_pos_cnt")
      .withColumn("labels",
        map(lit("__name__"), lit("lat"), lit("app"), lit("x"), lit("h"), col("h")))
      .drop("h")

  test("quantile: zero bucket, interpolation, edges") {
    // schema 0 → base 2: bucket i covers (2^(i-1), 2^i]
    val h = frame(Seq((60.0, "a", 0, 2.0, 50.0, 12.0,
      Seq(1, 2, 3), Seq(2.0, 4.0, 4.0))))
    def q(p: Double): Double =
      NativeHistogram.quantile(h, p).select("value").as[Double].head()
    // rank 6: zero(2) + b1(2) = 4, lands mid-b2 (2,4] at fraction 0.5
    assert(math.abs(q(0.5) - 3.0) < 1e-12)
    // rank inside the zero bucket → 0
    assert(q(0.1) == 0.0)
    // q=1 → upper bound of the last populated bucket (2^3)
    assert(math.abs(q(1.0) - 8.0) < 1e-12)
    // out-of-range q, Prometheus-style
    assert(q(-0.5).isNegInfinity && q(1.5).isPosInfinity)
    // empty histogram → NaN
    val empty = frame(Seq((60.0, "a", 0, 0.0, 0.0, 0.0, Seq(), Seq())))
    assert(NativeHistogram.quantile(empty, 0.5)
      .select("value").as[Double].head().isNaN)
    // finer resolution: schema 1 → base sqrt(2); bucket 2 = (sqrt2, 2]
    val fine = frame(Seq((60.0, "a", 1, 0.0, 10.0, 4.0, Seq(2), Seq(4.0))))
    val r2 = math.sqrt(2.0)
    assert(math.abs(NativeHistogram.quantile(fine, 0.5)
      .select("value").as[Double].head() - (r2 + (2 - r2) * 0.5)) < 1e-12)
  }

  test("fraction: per-bucket CDF contributions, zero bucket, empty guard") {
    // schema 0: zero(2), b1 (1,2]=2, b2 (2,4]=4, b3 (4,8]=4; total 12
    val h = frame(Seq((60.0, "a", 0, 2.0, 50.0, 12.0,
      Seq(1, 2, 3), Seq(2.0, 4.0, 4.0))))
    def f(lo: Double, hi: Double): Double =
      NativeHistogram.fraction(h, lo, hi).select("value").as[Double].head()
    assert(math.abs(f(0.0, 2.0) - (4.0 - 2.0) / 12.0) < 1e-12) // b1 only
    assert(math.abs(f(2.0, 8.0) - 8.0 / 12.0) < 1e-12)         // b2 + b3
    // straddling both ends: half of b2 above 3, half of b3 below 6
    assert(math.abs(f(3.0, 6.0) - (10.0 - 6.0) / 12.0) < 1e-12)
    assert(math.abs(f(-5.0, 0.0) - 2.0 / 12.0) < 1e-12)        // zero bucket
    assert(math.abs(f(0.0, 100.0) - 10.0 / 12.0) < 1e-12)      // all positive
    val empty = frame(Seq((60.0, "a", 0, 0.0, 0.0, 0.0, Seq(), Seq())))
    assert(NativeHistogram.fraction(empty, 0, 1)
      .select("value").as[Double].head().isNaN)
  }

  test("PromQL dispatch: histogram_quantile routes registered native metrics") {
    import graft.operators.Grid
    // raw observations, hour-bucketed ts; two series of metric "lat"
    val obs = Seq(
      (1800.0, 1.5, "a"), // stale earlier histogram for series a
      (3600.0, 1.5, "a"), (3600.0, 3.0, "a"), (3600.0, 3.0, "a"), (3600.0, 3.0, "a"),
      (3600.0, 7.0, "b"))
      .toDF("ts", "value", "h")
      .withColumn("labels", map(lit("__name__"), lit("lat"), lit("h"), col("h")))
      .drop("h")
    val nh = NativeHistogram.fromSamples(Model.withSkey(obs), 0)
    // classic Le-bucket series in the sample collection (fall-through path)
    val classic = Seq((3600.0, 1.0, "1"), (3600.0, 2.0, "+Inf"))
      .toDF("ts", "value", "le")
      .withColumn("labels",
        map(lit("__name__"), lit("lat_classic"), lit("Le"), col("le")))
      .drop("le")
    val eng = new PromEngine(classic).withNativeHistograms(Map("lat" -> nh))
    val g = Grid(3600.0, 5400.0, 3600.0) // one populated instant: 3600

    // native route, with label matcher: schema 0 buckets for series a are
    // (1,2]=1, (2,4]=3; q=0.5 → rank 2 lands in (2,4] at fraction 1/3 —
    // and the SNAP picks the ts=3600 histogram, not the stale 1800 one
    val a = eng.queryRangeRaw("""histogram_quantile(0.5, lat{h="a"})""", g)
      .select("ts", "value").as[(Double, Double)].collect()
    assert(a.toSeq == Seq((3600.0, 2.0 + 2.0 / 3.0)))
    // both series without matcher
    val all = eng.queryRangeRaw("histogram_quantile(0.5, lat{})", g)
      .select("value").as[Double].collect().sorted
    assert(all.length == 2 && math.abs(all(1) - 6.0) < 1e-12)
    // unregistered names fall through to the classic Le-label path
    val cl = eng.queryRangeRaw("histogram_quantile(0.5, lat_classic{})", g)
      .select("value").as[Double].collect()
    assert(cl.length == 1 && !cl.head.isNaN)
    // scalar extracts: sum/count/avg of the snapped distribution
    val cnt = eng.queryRangeRaw("""histogram_count(lat{h="a"})""", g)
      .select("value").as[Double].collect()
    assert(cnt.toSeq == Seq(4.0))
    val avg = eng.queryRangeRaw("""histogram_avg(lat{h="a"})""", g)
      .select("value").as[Double].collect().head
    assert(math.abs(avg - (1.5 + 3.0 + 3.0 + 3.0) / 4.0) < 1e-12)
    val sd = eng.queryRangeRaw("""histogram_stddev(lat{h="a"})""", g)
      .select("value").as[Double].collect()
    val sv = eng.queryRangeRaw("""histogram_stdvar(lat{h="a"})""", g)
      .select("value").as[Double].collect()
    assert(sd.length == 1 && sv.length == 1 && sd.head >= 0.0)
    assert(math.abs(math.sqrt(sv.head) - sd.head) < 1e-12)
    // composes downstream like any vector
    val doubled = eng.queryRangeRaw("""histogram_sum(lat{h="a"}) * 2""", g)
      .select("value").as[Double].collect().head
    assert(math.abs(doubled - 2.0 * (1.5 + 9.0)) < 1e-12)
    // unregistered metric is an error for the native-only extracts
    intercept[graft.promql.Eval.EvalException] {
      eng.queryRangeRaw("histogram_sum(lat_classic{})", g)
    }
    // rate() composes with the walks and extracts: series a's 1h window
    // holds the ts=1800 histogram {b1: 1} and ts=3600 {b1: 1, b2: 3} —
    // b1's delta 0 drops out, b2 carries 3/3600 obs/s, so the delta
    // distribution is a single (2,4] bucket: p50 = 3.0
    val rq = eng.queryRangeRaw("""histogram_quantile(0.5, rate(lat{h="a"}[1h]))""", g)
      .select("ts", "value").as[(Double, Double)].collect()
    assert(rq.toSeq == Seq((3600.0, 3.0)))
    val rc = eng.queryRangeRaw("""histogram_count(rate(lat{h="a"}[1h]))""", g)
      .select("value").as[Double].collect()
    assert(rc.length == 1 && math.abs(rc.head - 3.0 / 3600.0) < 1e-15)
    // single-sample windows emit nothing (rate needs two histograms)
    assert(eng.queryRangeRaw("""histogram_count(rate(lat{h="b"}[1h]))""", g).count() == 0)
    // increase = rate un-normalized: count delta is 3 observations
    val ic = eng.queryRangeRaw("""histogram_count(increase(lat{h="a"}[1h]))""", g)
      .select("value").as[Double].collect()
    assert(ic.toSeq == Seq(3.0))
    // histogram_fraction over the snapped selector: series a at 3600 is
    // {(1,2]: 1, (2,4]: 3}; [0,2] captures exactly the first bucket
    val fr = eng.queryRangeRaw("""histogram_fraction(0, 2, lat{h="a"})""", g)
      .select("value").as[Double].collect()
    assert(fr.length == 1 && math.abs(fr.head - 0.25) < 1e-12)
    // sum(rate(...)) merges the per-series delta distributions: only
    // series a has a 2-sample window, so p50 of the merged delta = 3.0
    val sr = eng.queryRangeRaw("""histogram_quantile(0.5, sum(rate(lat{}[1h])))""", g)
      .select("value").as[Double].collect()
    assert(sr.toSeq == Seq(3.0))
    val srBy = eng.queryRangeRaw("""histogram_quantile(0.5, sum(rate(lat{}[1h])) by (h))""", g)
      .select("value").as[Double].collect()
    assert(srBy.toSeq == Seq(3.0))
  }

  test("window edges: half-open windows, offset, resolution changes, empty snaps") {
    import graft.operators.Grid
    // series a: one schema-0 bucket counting 1, 2, 4, 7 at ts 60, 120, 180, 300;
    // series b switches schema between ts 60 and 120
    val lat = frame(Seq(
      (60.0, "a", 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0)),
      (120.0, "a", 0, 0.0, 2.0, 2.0, Seq(1), Seq(2.0)),
      (180.0, "a", 0, 0.0, 4.0, 4.0, Seq(1), Seq(4.0)),
      (300.0, "a", 0, 0.0, 7.0, 7.0, Seq(1), Seq(7.0)),
      (60.0, "b", 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0)),
      (120.0, "b", 1, 0.0, 3.0, 3.0, Seq(2), Seq(3.0)),
      (180.0, "b", 1, 0.0, 5.0, 5.0, Seq(2), Seq(5.0))))
    // NHCB series c: its bounds change between ts 60 and 120
    val cb = Seq(
        (60.0, Seq(1.0, 2.0), 1.0), (120.0, Seq(1.0, 5.0), 2.0), (180.0, Seq(1.0, 5.0), 4.0))
      .toDF("ts", "nh_bounds", "nh_count")
      .select(col("ts"), lit(NativeHistogram.CustomSchema).as("nh_schema"),
        lit(0.0).as("nh_zero_count"), lit(0.0).as("nh_sum"), col("nh_count"),
        array(lit(0)).as("nh_pos_idx"), array(col("nh_count")).as("nh_pos_cnt"),
        col("nh_bounds"), map(lit("__name__"), lit("cb"), lit("h"), lit("c")).as("labels"))
    val coll = Seq((60.0, 1.0)).toDF("ts", "value")
      .withColumn("labels", map(lit("__name__"), lit("other")))
    val eng = new PromEngine(coll).withNativeHistograms(Map("lat" -> lat, "cb" -> cb))
    val g = Grid(120.0, 360.0, 60.0) // instants 120, 180, 240, 300, 360
    def counts(q: String): Map[(String, Double), Double] =
      eng.queryRangeRaw(q, g)
        .select(col("labels").getItem("h"), col("ts"), col("value"))
        .as[(String, Double, Double)].collect().map { case (h, t, v) => (h, t) -> v }.toMap

    // (t - 2m, t]: the sample at t - 2m is out, the one at t is in — at 180
    // the window holds 120 and 180 (4 - 2), not 60 (4 - 1); b's window at
    // 120 spans its schema change and c's its bounds change: no row
    assert(counts("histogram_count(increase(lat[2m]))") ==
      Map(("a", 120.0) -> 1.0, ("a", 180.0) -> 2.0, ("b", 180.0) -> 2.0))
    assert(counts("histogram_count(increase(cb[2m]))") == Map(("c", 180.0) -> 2.0))
    // offset 1m moves every sample 60 s later
    assert(counts("""histogram_count(increase(lat{h="a"}[2m] offset 1m))""") ==
      Map(("a", 180.0) -> 1.0, ("a", 240.0) -> 2.0))
    val rate = counts("""histogram_count(rate(lat{h="a"}[2m] offset 1m))""")
    assert(rate.keySet == Set(("a", 180.0), ("a", 240.0)))
    assert(math.abs(rate(("a", 240.0)) - 2.0 / 120.0) < 1e-15)
    // snap: the latest sample in (t - 1m, t]; 240 and 360 have none
    assert(counts("""histogram_count(lat{h="a"})""") ==
      Map(("a", 120.0) -> 2.0, ("a", 180.0) -> 4.0, ("a", 300.0) -> 7.0))
    assert(counts("""histogram_count(lat{h="a"} offset 1m)""") ==
      Map(("a", 120.0) -> 1.0, ("a", 180.0) -> 2.0, ("a", 240.0) -> 4.0, ("a", 360.0) -> 7.0))
  }

  test("merge: sparse union across series, scalar sums, schema guard") {
    val two = frame(Seq(
      (60.0, "a", 0, 1.0, 10.0, 5.0, Seq(1, 3), Seq(2.0, 2.0)),
      (60.0, "b", 0, 0.0, 20.0, 4.0, Seq(2, 3), Seq(1.0, 3.0))))
    val m = NativeHistogram.merge(two, Seq("app"))
    val row = m.select("nh_zero_count", "nh_sum", "nh_count",
        "nh_pos_idx", "nh_pos_cnt")
      .as[(Double, Double, Double, Seq[Int], Seq[Double])].collect()
    assert(row.length == 1)
    val (z, s, c, idx, cnt) = row.head
    assert(z == 1.0 && s == 30.0 && c == 9.0)
    assert(idx == Seq(1, 2, 3) && cnt == Seq(2.0, 1.0, 5.0))
    // quantile over the merged histogram: total=9, q=0.5 → rank 4.5;
    // zero(1)+b1(2)+b2(1)=4, lands in b3 (4,8] at fraction (4.5-4)/5
    val med = NativeHistogram.quantile(m, 0.5).select("value").as[Double].head()
    assert(math.abs(med - (4.0 + 4.0 * 0.1)) < 1e-12)
    // mixed schemas in one group must raise in STRICT mode
    val mixed = frame(Seq(
      (60.0, "a", 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0)),
      (60.0, "b", 2, 0.0, 1.0, 1.0, Seq(1), Seq(1.0))))
    intercept[Exception] {
      NativeHistogram.merge(mixed, Seq("app"), downscaleMixed = false).collect()
    }
    // strict mode must ALSO raise when the mixed-schema series populate
    // DISJOINT bucket indexes (a per-merged-bucket check would miss this)
    val disjoint = frame(Seq(
      (60.0, "a", 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0)),
      (60.0, "b", 2, 0.0, 1.0, 1.0, Seq(9), Seq(1.0))))
    intercept[Exception] {
      NativeHistogram.merge(disjoint, Seq("app"), downscaleMixed = false).collect()
    }
    // ... and when one mixed-schema member has EMPTY bucket arrays
    val emptyMember = frame(Seq(
      (60.0, "a", 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0)),
      (60.0, "b", 2, 1.0, 0.0, 1.0, Seq(), Seq())))
    intercept[Exception] {
      NativeHistogram.merge(emptyMember, Seq("app"), downscaleMixed = false).collect()
    }
  }

  test("null bucket arrays coalesce to empty instead of poisoning concat") {
    // a conforming producer may emit NULL instead of [] — merge must not
    // silently drop the row's populated positive spectrum
    val withNull = Seq(
      (60.0, "a", 0, 0.0, 10.0, 2.0, Seq(1), Seq(2.0), null, null),
      (60.0, "b", 0, 0.0, 5.0, 1.0, Seq(2), Seq(1.0), Seq(0), Seq(1.0)))
      .toDF("ts", "h", "nh_schema", "nh_zero_count", "nh_sum", "nh_count",
        "nh_pos_idx", "nh_pos_cnt", "nh_neg_idx", "nh_neg_cnt")
      .withColumn("labels",
        map(lit("__name__"), lit("lat"), lit("app"), lit("x"), lit("h"), col("h")))
      .drop("h")
    val m = NativeHistogram.merge(withNull, Seq("app"))
      .select("nh_pos_idx", "nh_pos_cnt", "nh_neg_idx", "nh_neg_cnt")
      .as[(Seq[Int], Seq[Double], Seq[Int], Seq[Double])].collect()
    assert(m.toSeq == Seq((Seq(1, 2), Seq(2.0, 1.0), Seq(0), Seq(1.0))))
    // quantile's entries concat survives a null spectrum too
    val q = NativeHistogram.quantile(withNull.filter($"nh_sum" === 10.0), 1.0)
      .select("value").as[Double].head()
    assert(math.abs(q - 2.0) < 1e-12)
    // windowDelta (rate) sees null arrays as empty, not as data loss
    import graft.operators.Grid
    val ts2 = Seq(
      (30.0, 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0), null, null),
      (60.0, 0, 0.0, 5.0, 3.0, Seq(1), Seq(3.0), null, null))
      .toDF("ts", "nh_schema", "nh_zero_count", "nh_sum", "nh_count",
        "nh_pos_idx", "nh_pos_cnt", "nh_neg_idx", "nh_neg_cnt")
      .withColumn("labels", map(lit("__name__"), lit("m")))
    val inc = NativeHistogram.increase(Model.withSkey(ts2), Grid(60.0, 120.0, 60.0), 60.0)
      .filter($"ts" === 60.0)
      .select("nh_pos_idx", "nh_pos_cnt", "nh_count")
      .as[(Seq[Int], Seq[Double], Double)].collect()
    assert(inc.toSeq == Seq((Seq(1), Seq(2.0), 2.0)))
  }

  test("merge: mixed schemas downscale to the group's coarsest (default)") {
    // a at schema 1 (base √2), b at schema 0 (base 2): target schema 0,
    // a's buckets collapse pairwise — ceil(i/2): 1,2 → 1; 3,4 → 2
    val mixed = frame(Seq(
      (60.0, "a", 1, 1.0, 10.0, 5.0, Seq(1, 2, 3, 4), Seq(1.0, 1.0, 1.0, 1.0)),
      (60.0, "b", 0, 0.0, 24.0, 12.0, Seq(1, 2), Seq(5.0, 7.0))))
    val m = NativeHistogram.merge(mixed, Seq("app"))
    val row = m.select("nh_schema", "nh_zero_count", "nh_sum", "nh_count",
        "nh_pos_idx", "nh_pos_cnt")
      .as[(Int, Double, Double, Double, Seq[Int], Seq[Double])].collect()
    assert(row.length == 1)
    val (sch, z, s, c, idx, cnt) = row.head
    assert(sch == 0 && z == 1.0 && s == 34.0 && c == 17.0)
    assert(idx == Seq(1, 2) && cnt == Seq(7.0, 9.0))
    // homogeneous groups are untouched by the default mode: same result
    // as the strict path on the two-series frame above
    val two = frame(Seq(
      (60.0, "a", 0, 1.0, 10.0, 5.0, Seq(1, 3), Seq(2.0, 2.0)),
      (60.0, "b", 0, 0.0, 20.0, 4.0, Seq(2, 3), Seq(1.0, 3.0))))
    val hom = NativeHistogram.merge(two, Seq("app"))
      .select("nh_schema", "nh_pos_idx", "nh_pos_cnt")
      .as[(Int, Seq[Int], Seq[Double])].collect()
    assert(hom.toSeq == Seq((0, Seq(1, 2, 3), Seq(2.0, 1.0, 5.0))))
    // negative/zero indexes remap with exact ceil division too:
    // schema 2 idx -3..0 at target 0 → ceil(i/4): -3,-2,-1,0 → 0
    val neg = frame(Seq(
      (60.0, "a", 2, 0.0, 1.0, 4.0, Seq(-3, -2, -1, 0), Seq(1.0, 1.0, 1.0, 1.0)),
      (60.0, "b", 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0))))
    val nm = NativeHistogram.merge(neg, Seq("app"))
      .select("nh_pos_idx", "nh_pos_cnt").as[(Seq[Int], Seq[Double])].collect()
    assert(nm.toSeq == Seq((Seq(0, 1), Seq(4.0, 1.0))))
  }

  test("stddev/stdvar: bucket-midpoint variance around the exact mean") {
    // schema 0: buckets (1,2] mid 1.5, (2,4] mid 3, (4,8] mid 6; zero at 0
    val h = frame(Seq((60.0, "a", 0, 2.0, 50.0, 12.0,
      Seq(1, 2, 3), Seq(2.0, 4.0, 4.0))))
    val m = 50.0 / 12.0
    val expectVar = (2.0 * (1.5 - m) * (1.5 - m) + 4.0 * (3.0 - m) * (3.0 - m) +
      4.0 * (6.0 - m) * (6.0 - m) + 2.0 * m * m) / 12.0
    val sv = NativeHistogram.stdvarOf(h).select("value").as[Double].head()
    assert(math.abs(sv - expectVar) < 1e-12)
    val sd = NativeHistogram.stddevOf(h).select("value").as[Double].head()
    assert(math.abs(sd - math.sqrt(expectVar)) < 1e-12)
    // empty histogram → NaN
    val empty = frame(Seq((60.0, "a", 0, 0.0, 0.0, 0.0, Seq(), Seq())))
    assert(NativeHistogram.stddevOf(empty).select("value").as[Double].head().isNaN)
  }

  test("negative spectrum: fromSamples, signed quantile walk, fraction, merge") {
    // schema 0, base 2: -3 → neg idx 2 ([-4,-2)), -1 → neg idx 0 ([-1,-0.5)),
    // 0 → zero bucket, 2 → pos idx 1, 8 → pos idx 3
    val samples = Seq(-3.0, -1.0, 0.0, 2.0, 8.0).map(v => (60.0, v))
      .toDF("ts", "value")
      .withColumn("labels", map(lit("__name__"), lit("m")))
    val nh = NativeHistogram.fromSamples(Model.withSkey(samples), sch = 0)
    val row = nh.select("nh_zero_count", "nh_count", "nh_sum",
        "nh_pos_idx", "nh_pos_cnt", "nh_neg_idx", "nh_neg_cnt")
      .as[(Double, Double, Double, Seq[Int], Seq[Double], Seq[Int], Seq[Double])]
      .collect()
    assert(row.length == 1)
    val (z, n, s, pi, pc, ni, nc) = row.head
    assert(z == 1.0 && n == 5.0 && s == 6.0)
    assert(pi == Seq(1, 3) && pc == Seq(1.0, 1.0))
    assert(ni == Seq(0, 2) && nc == Seq(1.0, 1.0))
    // ascending-value walk: most negative bucket first, zero between spectra
    def q(p: Double): Double =
      NativeHistogram.quantile(nh, p).select("value").as[Double].head()
    assert(math.abs(q(0.1) - -3.0) < 1e-12)  // rank 0.5 mid [-4,-2)
    assert(math.abs(q(0.3) - -0.75) < 1e-12) // rank 1.5 mid [-1,-0.5)
    assert(q(0.5) == 0.0)                    // rank 2.5 in the zero bucket
    assert(math.abs(q(0.8) - 2.0) < 1e-12)   // rank 4 tops (1,2]
    assert(math.abs(q(1.0) - 8.0) < 1e-12)   // rank 5 tops (4,8]
    // fraction over a negative range: both neg buckets, nothing else
    val fr = NativeHistogram.fraction(nh, -4.0, -0.5)
      .select("value").as[Double].head()
    assert(math.abs(fr - 0.4) < 1e-12)
    // merge downscales negative indexes like positive ones:
    // sch 1 neg (1, 2) → ceil(i/2) = (1, 1) at target sch 0
    val mixed = frame2(Seq(
      (60.0, "a", 1, Seq(1, 2), Seq(1.0, 1.0)),
      (60.0, "b", 0, Seq(1), Seq(5.0))))
    val nm2 = NativeHistogram.merge(mixed, Seq("app"))
      .select("nh_schema", "nh_neg_idx", "nh_neg_cnt")
      .as[(Int, Seq[Int], Seq[Double])].collect()
    assert(nm2.toSeq == Seq((0, Seq(1), Seq(7.0))))
  }

  /** Classic Le-label cumulative bucket rows: (ts, series, le, cumCount). */
  private def classicFrame(rows: Seq[(Double, String, String, Double)]) =
    rows.toDF("ts", "h", "le", "value")
      .withColumn("labels", map(
        lit("__name__"), lit("lat"), lit("app"), lit("x"),
        lit("h"), col("h"), lit("Le"), col("le")))
      .drop("h").drop("le")

  test("NHCB: classic histogram_quantile == converted-custom-bucket quantile") {
    import graft.operators.HistogramQuantile
    // two series, bounds (50, 100, 200, +Inf); cumulative counts
    val classic = classicFrame(Seq(
      (60.0, "a", "50", 2.0), (60.0, "a", "100", 6.0),
      (60.0, "a", "200", 9.0), (60.0, "a", "+Inf", 10.0),
      (60.0, "b", "50", 0.0), (60.0, "b", "100", 0.0),
      (60.0, "b", "200", 4.0), (60.0, "b", "+Inf", 4.0)))
    val nhcb = NativeHistogram.fromClassic(classic)
    // layout sanity: bounds carried, counts de-cumulated sparse
    val rows = nhcb.orderBy(col("labels").getItem("h"))
      .select("nh_bounds", "nh_pos_idx", "nh_pos_cnt", "nh_count")
      .as[(Seq[Double], Seq[Int], Seq[Double], Double)].collect()
    assert(rows(0) == ((Seq(50.0, 100.0, 200.0), Seq(0, 1, 2, 3),
      Seq(2.0, 4.0, 3.0, 1.0), 10.0)))
    assert(rows(1) == ((Seq(50.0, 100.0, 200.0), Seq(2), Seq(4.0), 4.0)))
    for (q <- Seq(0.1, 0.5, 0.9, 0.95, 1.0)) {
      val cl = HistogramQuantile.quantile(classic, q)
        .select(col("labels").getItem("h"), col("value"))
        .as[(String, Double)].collect().toMap
      val nc = NativeHistogram.quantile(nhcb, q)
        .select(col("labels").getItem("h"), col("value"))
        .as[(String, Double)].collect().toMap
      for (s <- Seq("a", "b"))
        assert(math.abs(cl(s) - nc(s)) < 1e-12, s"q=$q series=$s: ${cl(s)} vs ${nc(s)}")
    }
    // rank in the overflow bucket → last finite bound (classic fallback)
    val ovf = classicFrame(Seq((60.0, "c", "50", 1.0), (60.0, "c", "+Inf", 10.0)))
    val qo = NativeHistogram.quantile(NativeHistogram.fromClassic(ovf), 0.9)
      .select("value").as[Double].head()
    assert(qo == 50.0)
    // no finite buckets at all → 0.0 (classic "no buckets" estimate)
    val none = classicFrame(Seq((60.0, "d", "+Inf", 5.0)))
    assert(NativeHistogram.quantile(NativeHistogram.fromClassic(none), 0.5)
      .select("value").as[Double].head() == 0.0)
    // non-+Inf-topped groups are dropped, matching classic's NaN
    val noInf = classicFrame(Seq((60.0, "e", "50", 1.0), (60.0, "e", "100", 2.0)))
    assert(NativeHistogram.fromClassic(noInf).count() == 0)
  }

  test("NHCB: fraction over custom bounds, overflow contributes nothing finite") {
    val classic = classicFrame(Seq(
      (60.0, "a", "50", 2.0), (60.0, "a", "100", 6.0),
      (60.0, "a", "200", 9.0), (60.0, "a", "+Inf", 10.0)))
    val nhcb = NativeHistogram.fromClassic(classic)
    def f(lo: Double, hi: Double): Double =
      NativeHistogram.fraction(nhcb, lo, hi).select("value").as[Double].head()
    assert(math.abs(f(0.0, 50.0) - 0.2) < 1e-12)            // first bucket whole
    assert(math.abs(f(50.0, 100.0) - 0.4) < 1e-12)          // second whole
    assert(math.abs(f(75.0, 100.0) - (4.0 * 0.5) / 10.0) < 1e-12) // straddle
    assert(math.abs(f(0.0, 200.0) - 0.9) < 1e-12)           // all finite
    assert(math.abs(f(0.0, 1e9) - 0.9) < 1e-12)             // overflow stays out
  }

  test("NHCB merge: identical bounds sum by index; mixed bounds intersect exactly") {
    val classic = classicFrame(Seq(
      (60.0, "a", "50", 2.0), (60.0, "a", "100", 6.0), (60.0, "a", "+Inf", 7.0),
      (60.0, "b", "50", 1.0), (60.0, "b", "100", 3.0), (60.0, "b", "+Inf", 3.0)))
    val m = NativeHistogram.mergeCustom(NativeHistogram.fromClassic(classic), Seq("app"))
    val row = m.select("nh_bounds", "nh_pos_idx", "nh_pos_cnt", "nh_count")
      .as[(Seq[Double], Seq[Int], Seq[Double], Double)].collect()
    assert(row.toSeq == Seq((Seq(50.0, 100.0), Seq(0, 1, 2),
      Seq(3.0, 6.0, 1.0), 10.0)))
    // mixed layouts: a at (50,100,200), b at (100,300) → intersection (100):
    // a's (0,50](50,100] collapse into (0,100], (100,200] + overflow → overflow;
    // b's (0,100] stays, (100,300] + overflow → overflow. EXACT re-bucketing.
    val mixed = classicFrame(Seq(
      (60.0, "a", "50", 2.0), (60.0, "a", "100", 6.0),
      (60.0, "a", "200", 9.0), (60.0, "a", "+Inf", 10.0),
      (60.0, "b", "100", 5.0), (60.0, "b", "300", 8.0), (60.0, "b", "+Inf", 9.0)))
    val mm = NativeHistogram.mergeCustom(NativeHistogram.fromClassic(mixed), Seq("app"))
    val mrow = mm.select("nh_bounds", "nh_pos_idx", "nh_pos_cnt", "nh_count")
      .as[(Seq[Double], Seq[Int], Seq[Double], Double)].collect()
    assert(mrow.toSeq == Seq((Seq(100.0), Seq(0, 1), Seq(11.0, 8.0), 19.0)))
    // ... and the merged quantile equals the quantile of the directly
    // converted SUM of the classic series (the ground truth): cum at 100
    // = 6+5 = 11 of 19
    val summed = classicFrame(Seq(
      (60.0, "s", "100", 11.0), (60.0, "s", "+Inf", 19.0)))
    val qTruth = NativeHistogram.quantile(NativeHistogram.fromClassic(summed), 0.5)
      .select("value").as[Double].head()
    val qMerged = NativeHistogram.quantile(mm, 0.5).select("value").as[Double].head()
    assert(math.abs(qTruth - qMerged) < 1e-12)
    // strict mode raises on mismatched bounds
    intercept[Exception] {
      NativeHistogram.mergeCustom(NativeHistogram.fromClassic(mixed), Seq("app"),
        intersectMixed = false).collect()
    }
    // exponential rows are rejected by mergeCustom, NHCB rows by merge
    val exp = frame(Seq((60.0, "z", 0, 0.0, 1.0, 1.0, Seq(1), Seq(1.0))))
    intercept[Exception] {
      NativeHistogram.mergeCustom(exp, Seq("app")).collect()
    }
    intercept[Exception] {
      NativeHistogram.merge(NativeHistogram.fromClassic(classic), Seq("app")).collect()
    }
  }

  /** Negative-only frame builder (empty positive spectrum). */
  private def frame2(rows: Seq[(Double, String, Int, Seq[Int], Seq[Double])]): DataFrame =
    rows.map { case (ts, h, sch, ni, nc) =>
      (ts, h, sch, 0.0, 0.0, nc.sum, Seq.empty[Int], Seq.empty[Double], ni, nc) }
      .toDF("ts", "h", "nh_schema", "nh_zero_count", "nh_sum", "nh_count",
        "nh_pos_idx", "nh_pos_cnt", "nh_neg_idx", "nh_neg_cnt")
      .withColumn("labels",
        map(lit("__name__"), lit("lat"), lit("app"), lit("x"), lit("h"), col("h")))
      .drop("h")
}
