package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RangeKernel
import graft.operators.{Grid, RangeAgg, Resample}
import graft.sources.RollupStore

class RollupSpec extends SparkSpec {
  import spark.implicits._

  /** samples: one "m" series (a=x), values over t=0..3600. */
  private def samples(rows: (Double, Double)*): DataFrame =
    rows.toDF("ts", "value")
      .withColumn("labels",
        map(lit(Model.NameLabel), lit("m"), lit("a"), lit("x")))
      .select("labels", "ts", "value")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("bucketing is left-open: a boundary sample joins the bucket ENDING there") {
    val dir = tmp("graft-ru-edge")
    RollupStore.build(Model.withSkey(samples(300.0 -> 1.0, 300.5 -> 2.0)),
      dir, 300.0)
    val b = RollupStore.mergedBuckets(spark, dir, "m")
      .select("wend", "cnt").collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(b == Map(300.0 -> 1L, 600.0 -> 1L))
  }

  test("build + append partials merge to the one-pass rollup bit-for-bit") {
    val all = samples((1 to 24).map(i => (i * 137.0, i * 1.5)): _*)
    val dir = tmp("graft-ru-merge")
    RollupStore.build(Model.withSkey(all.filter($"ts" <= 1500)), dir, 300.0)
    RollupStore.append(dir, Model.withSkey(all.filter($"ts" > 1500)))
    val onePass = tmp("graft-ru-once")
    RollupStore.build(Model.withSkey(all), onePass, 300.0)
    val got = RollupStore.mergedBuckets(spark, dir, "m")
      .drop("labels").collect().map(_.toSeq).toSet
    val want = RollupStore.mergedBuckets(spark, onePass, "m")
      .drop("labels").collect().map(_.toSeq).toSet
    assert(got == want)
  }

  private def collectMap(df: DataFrame): Map[Double, Double] =
    df.select("ts", "value").collect()
      .map(r => r.getDouble(0) -> (r.get(1) match { // count is LONG from RangeAgg
        case d: Double => d
        case l: Long => l.toDouble
      })).toMap

  test("avg/min/max/count from store equal RangeAgg over raw samples on an aligned grid") {
    val all = Model.withSkey(samples((1 to 40).map(i => (i * 77.0, math.sin(i) * 10)): _*))
    val dir = tmp("graft-ru-law")
    RollupStore.build(all, dir, 300.0)
    val g = Grid(600.0, 3000.0, 600.0)
    val cases = Seq[((DataFrame, DataFrame))](
      (RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", g, 600.0, RangeKernel.AvgOverTime),
        RangeAgg.avgOverTime(all, g, 600.0)),
      (RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", g, 600.0, RangeKernel.MinOverTime),
        RangeAgg.minOverTime(all, g, 600.0)),
      (RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", g, 600.0, RangeKernel.MaxOverTime),
        RangeAgg.maxOverTime(all, g, 600.0)),
      (RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", g, 600.0, RangeKernel.CountOverTime),
        RangeAgg.countOverTime(all, g, 600.0)))
    for (((fromStore, fromRaw), i) <- cases.zipWithIndex) {
      val s = collectMap(fromStore); val r = collectMap(fromRaw)
      assert(s.keySet == r.keySet, s"case $i instants")
      s.keys.foreach(k => assert(math.abs(s(k) - r(k)) < 1e-9, s"case $i @ $k"))
    }
  }

  test("buckets far outside the grid: all six functions equal the raw kernel") {
    // a day of extreme values before the grid and after it, a sample on the
    // first window's open edge (bucket wend = start - range) and buckets on
    // both closed edges (wend = start - range + res, wend = last instant)
    val inGrid = (1 to 40).map(i => (86400.0 + i * 77.0, math.sin(i) * 10))
    val outside = Seq((10.0, 1e6), (43200.0, -1e6), (86350.0, 3.5), (86400.0, -7.25),
      (95000.0, 5e6), (200000.0, -5e6))
    val all = Model.withSkey(samples(inGrid ++ outside: _*))
    val dir = tmp("graft-ru-span")
    RollupStore.build(all, dir, 300.0)
    val g = Grid(87000.0, 89400.0, 600.0)
    for (fn <- Seq(RangeKernel.AvgOverTime, RangeKernel.SumOverTime, RangeKernel.CountOverTime,
                   RangeKernel.MinOverTime, RangeKernel.MaxOverTime, RangeKernel.LastOverTime)) {
      val s = collectMap(RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", g, 600.0, fn))
      val r = collectMap(Resample.kernel(all, g, fn, 600.0, 0.0))
      assert(s.nonEmpty && s.keySet == r.keySet, s"${fn.name} instants")
      s.keys.foreach(k => assert(math.abs(s(k) - r(k)) < 1e-9, s"${fn.name} @ $k"))
    }
  }

  test("lastOverTime picks the window's latest sample across bucket partials") {
    val dir = tmp("graft-ru-last")
    RollupStore.build(Model.withSkey(samples(100.0 -> 1.0, 250.0 -> 2.0)), dir, 300.0)
    RollupStore.append(dir, Model.withSkey(samples(280.0 -> 7.0, 550.0 -> 3.0)))
    val g = Grid(300.0, 600.0, 300.0)
    val out = RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", g, 300.0, RangeKernel.LastOverTime)
      .select("ts", "value").collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // window (0,300]: last sample 280→7 (appended partial beats built 250→2)
    assert(out == Map(300.0 -> 7.0, 600.0 -> 3.0))
  }

  test("Eval serves aligned *_over_time from a registered rollup; identical to raw") {
    // two series so the non-name matcher path (bucket-level filter) is hit
    val coll = (1 to 60).flatMap(i =>
        Seq(("x", i * 97.0, math.sin(i) * 5), ("y", i * 103.0, math.cos(i) * 3)))
      .toDF("a", "ts", "value")
      .withColumn("labels", map(lit(Model.NameLabel), lit("m"), lit("a"), col("a")))
      .select("labels", "ts", "value")
    val dir = tmp("graft-ru-eval")
    RollupStore.build(Model.withSkey(coll), dir, 300.0)
    val eng = new PromEngine(coll)
    val engR = eng.withRollups(Map("m" -> RollupStore.register(spark, dir)))
    val g = Grid(600.0, 6000.0, 600.0)
    def rows(df: DataFrame): Map[(String, Double), Double] =
      df.collect().map(r => (r.getAs[String](Model.SkeyCol),
        r.getAs[Double](Model.TsCol)) -> (r.get(3) match {
          case d: Double => d; case l: Long => l.toDouble })).toMap
    for (fn <- Seq("avg_over_time", "min_over_time", "max_over_time",
                   "sum_over_time", "count_over_time", "last_over_time");
         q <- Seq(s"$fn(m[10m])", s"""$fn(m{a="x"}[10m])""")) {
      val served = engR.queryRangeRaw(q, g)
      // the served plan reads the bucket store, never the raw collection
      assert(served.queryExecution.executedPlan.toString.contains(dir),
        s"$q not store-served")
      val rawDf = eng.queryRangeRaw(q, g)
      assert(served.schema(Model.ValueCol).dataType == rawDf.schema(Model.ValueCol).dataType,
        s"$q value type")
      val raw = rows(rawDf)
      val got = rows(served)
      assert(got.keySet == raw.keySet, s"$q instants")
      // min/max/count/last are copied values — exact; avg/sum are float
      // sums whose partial order differs between the paths (ULP-level)
      val tol = if (fn.startsWith("avg") || fn.startsWith("sum")) 1e-9 else 0.0
      got.keys.foreach(k => assert(math.abs(got(k) - raw(k)) <= tol, s"$q @ $k"))
    }
    // misaligned range, offsets, unsupported functions: transparent fallback
    for (q <- Seq("avg_over_time(m[7m])", "avg_over_time(m[10m] offset 5m)",
                  "stddev_over_time(m[10m])")) {
      val fell = engR.queryRangeRaw(q, g)
      assert(!fell.queryExecution.executedPlan.toString.contains(dir),
        s"$q unexpectedly store-served")
      assert(rows(fell) == rows(eng.queryRangeRaw(q, g)), s"$q fallback drifted")
    }
    // misaligned grid: dispatch declines (raw path serves)
    val gOdd = Grid(450.0, 4050.0, 600.0)
    assert(!engR.queryRangeRaw("avg_over_time(m[10m])", gOdd)
      .queryExecution.executedPlan.toString.contains(dir))
  }

  test("building a read of a registered store runs one Spark job") {
    // the one job infers rollup.parquet's schema. The registered handle
    // carries res, so the read no longer re-reads meta.parquet, which cost
    // two more jobs (its schema inference and its head()): 3 → 1
    val dir = tmp("graft-ru-jobs")
    RollupStore.build(Model.withSkey(samples(100.0 -> 1.0, 400.0 -> 2.0)), dir, 300.0)
    val reg = RollupStore.register(spark, dir)
    val read = Harness.run(spark) {
      RollupStore.overTime(spark, reg, "m", Grid(300.0, 600.0, 300.0), 300.0,
        RangeKernel.AvgOverTime)
    }
    assert(read.jobs === 1)
    assert(read.value.count() === 2L)
  }

  test("misaligned range or grid is rejected") {
    val dir = tmp("graft-ru-align")
    RollupStore.build(Model.withSkey(samples(100.0 -> 1.0)), dir, 300.0)
    intercept[IllegalArgumentException] {
      RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", Grid(300.0, 600.0, 300.0), 450.0, RangeKernel.AvgOverTime)
        .collect()
    }
    intercept[IllegalArgumentException] {
      RollupStore.overTime(spark, RollupStore.register(spark, dir), "m", Grid(150.0, 450.0, 300.0), 300.0, RangeKernel.AvgOverTime)
        .collect()
    }
  }
}
