package graft

import org.apache.spark.sql.functions._

import graft.config.ReTag
import graft.operators.{Grid, Selector}
import graft.promql.{Eval, Parser, VectorSel, FuncCall, ScalarLit}
import graft.sources.TsIngest

class EngineSpec extends SparkSpec {
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"

  private def collection = queries.TsQueries.events(spark, Dir)

  test("selector: missing label never matches, any operator (labels.rs:295-313)") {
    val df = Model.withSkey(
      Seq((1.0, 1.0)).toDF("ts", "value")
        .withColumn("labels", map(lit("__name__"), lit("m"))))
    assert(Selector.select(df, Seq(Selector.Ne("host", "x"))).count() == 0)
    assert(Selector.select(df, Seq(Selector.Nre("host", "x"))).count() == 0)
    assert(Selector.select(df, Seq(Selector.Eq("__name__", "m"))).count() == 1)
    // through the engine: an unserved one filters samples, a served one
    // (cached collection) filters the series rows of its fold
    val two = Seq((Map("__name__" -> "m"), 1.0, 1.0), (Map("__name__" -> "m", "host" -> "y"), 1.0, 2.0))
      .toDF(Model.LabelsCol, Model.TsCol, Model.ValueCol)
    val unserved = new PromEngine(two) // before cache(): Spark matches cached data by plan
    val cached = two.cache()
    for ((engine, how) <- Seq(unserved -> "unserved", new PromEngine(cached) -> "served")) {
      assert(engine.served === (how == "served"))
      for ((q, want) <- Seq("""m{host="x"}""" -> Nil, """m{host!="x"}""" -> Seq("y"),
                            """m{host=~".*"}""" -> Seq("y"), """m{host!~"x"}""" -> Seq("y"),
                            """m{host=""}""" -> Nil)) {
        val hosts = engine.queryRange(q, 1.0, 2.0, 1.0).select(col(Model.LabelsCol)("host"))
          .distinct().collect().map(_.getString(0)).toSeq
        assert(hosts === want, s"$how $q")
      }
    }
    cached.unpersist()
  }

  test("promql parser: full grammar shapes") {
    val n1 = Parser.parse("""histogram_quantile(0.95, sum by (Le, timing) (rate(webmango_request_duration_bucket{}[5m])))""")
    n1 match {
      case FuncCall("histogram_quantile", Seq(ScalarLit(q), FuncCall("sum", Seq(FuncCall("rate", Seq(sel: VectorSel), None)), Some(by))), None) =>
        assert(q == 0.95); assert(by == graft.promql.ByMod(Seq("Le", "timing")))
        assert(sel.range.contains(300.0))
      case other => fail(s"unexpected AST: $other")
    }
    val n2 = Parser.parse("""m{a="x", b!="y", c=~"z.*", d!~"w"}[90s] offset 1h""")
    n2 match {
      case VectorSel(ms, Some(90.0), Some(3600.0)) => assert(ms.length == 5)
      case other => fail(s"unexpected AST: $other")
    }
    assert(Parser.parse("sum(m) by (a)").asInstanceOf[FuncCall].by.contains(graft.promql.ByMod(Seq("a"))))
    assert(Parser.parse("sum without (a) (m)").asInstanceOf[FuncCall].by.contains(graft.promql.WithoutMod(Seq("a"))))
    intercept[Parser.ParseException](Parser.parse("m{a=}"))
    intercept[Parser.ParseException](Parser.parse("m["))
  }

  test("eval: reference error semantics (query.rs:358-436)") {
    val grid = Grid(1704067200.0, 1704070800.0, 600.0)
    // name matcher must be a single equality
    intercept[Eval.EvalException](Eval.run(collection, """{event_type="purchase"}""", grid))
    // rate requires a range vector
    intercept[Eval.EvalException](Eval.run(collection, "rate(events)", grid))
    // cannot return a vectorized result
    intercept[Eval.EvalException](Eval.run(collection, "events[5m]", grid))
    // unknown function (abs is implemented since r3; use a real unknown)
    intercept[Eval.EvalException](Eval.run(collection, "no_such_fn(events)", grid))
    // aggregation 'without' — rejected by the reference (query.rs:461-463)
    // but implemented here as an extension since r7: must evaluate, and must
    // drop both the listed label and __name__ from the group key.
    val wo = Eval.run(collection, "sum without (props) (events)", grid)
    val keys = wo.select(map_keys(col("labels"))).collect().flatMap(_.getSeq[String](0)).toSet
    assert(!keys.contains("props") && !keys.contains("__name__") && keys.contains("event_type"))
  }

  test("range-function errors name the function") {
    val grid = Grid(1704067200.0, 1704070800.0, 600.0)
    for ((q, name) <- Seq("irate(events)" -> "irate", "deriv(events)" -> "deriv",
                          "changes(events[1h], events[1h])" -> "changes")) {
      val e = intercept[Eval.EvalException](Eval.run(collection, q, grid))
      assert(e.getMessage.contains(s"'$name'"), s"$q: ${e.getMessage}")
    }
  }

  test("_over_time family through the PromQL pipeline") {
    val grid = Grid(1704067200.0, 1704074400.0, 3600.0)
    val cnt = Eval.run(collection, """count_over_time(events{event_type="purchase"}[1h])""", grid)
    val rows = cnt.select("ts", "value").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 1))
    // avg == sum / count on the same windows
    val a = Eval.run(collection, """avg_over_time(events{event_type="purchase"}[1h])""", grid)
      .select(col("skey"), col("ts"), col("value").as("a")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val s = Eval.run(collection, """sum_over_time(events{event_type="purchase"}[1h])""", grid)
      .select(col("skey"), col("ts"), col("value").as("s")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val c = Eval.run(collection, """count_over_time(events{event_type="purchase"}[1h])""", grid)
      .select(col("skey"), col("ts"), col("value").as("c")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    a.foreach { case (k, av) => assert(math.abs(av - s(k) / c(k)) < 1e-9) }
  }

  test("quantile_over_time bounded by min/max_over_time; q=1 equals max") {
    val grid = Grid(1704067200.0, 1704074400.0, 3600.0)
    def byKey(q: String) = Eval.run(collection, q, grid)
      .select(col("skey"), col("ts"), col("value").cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val med = byKey("""quantile_over_time(0.5, events{event_type="purchase"}[1h])""")
    val mn = byKey("""min_over_time(events{event_type="purchase"}[1h])""")
    val mx = byKey("""max_over_time(events{event_type="purchase"}[1h])""")
    assert(med.nonEmpty && med.keySet == mn.keySet)
    med.foreach { case (k, v) => assert(v >= mn(k) - 1e-9 && v <= mx(k) + 1e-9) }
    val q1 = byKey("""quantile_over_time(1, events{event_type="purchase"}[1h])""")
    q1.foreach { case (k, v) => assert(math.abs(v - mx(k)) < 1e-9) }
  }

  test("subquery [1h:1h] aligned to the grid reduces to plain resample") {
    val grid = Grid(1704067200.0, 1704074400.0, 3600.0)
    def byKey(q: String) = Eval.run(collection, q, grid)
      .select(col("skey"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // grid start is a multiple of 3600, so the inner 1h-aligned instants
    // coincide with the outer grid; each (t-1h, t] window then holds exactly
    // the sample at t and last_over_time is the identity
    val sub = byKey("""last_over_time(events{event_type="purchase"}[1h:1h])""")
    val plain = byKey("""events{event_type="purchase"}""")
    assert(sub.nonEmpty && sub.keySet == plain.keySet)
    sub.foreach { case (k, v) => assert(math.abs(v - plain(k)) < 1e-9) }
    // subquery offset shifts the span exactly like a range-selector offset
    val subOff = byKey("""last_over_time(events{event_type="purchase"}[1h:1h] offset 1h)""")
    val plainOff = byKey("""events{event_type="purchase"} offset 1h""")
    assert(subOff.keySet == plainOff.keySet)
    subOff.foreach { case (k, v) => assert(math.abs(v - plainOff(k)) < 1e-9) }
    // default step `[1h:]` inherits the outer grid step — same identity
    val subDef = byKey("""last_over_time(events{event_type="purchase"}[1h:])""")
    subDef.foreach { case (k, v) => assert(math.abs(v - plain(k)) < 1e-9) }
  }

  test("round: nearest multiple, ties up (functions.go floor(v/n + 0.5)*n)") {
    val grid = Grid(1704067200.0, 1704074400.0, 3600.0)
    // functions drop __name__ from the result labels (Prometheus semantics),
    // so normalize the plain selector's keys before comparing
    val base = Eval.run(collection, """events{event_type="purchase"}""", grid)
      .select(col("skey"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0).replace("__name__=events,", ""), r.getDouble(1)) -> r.getDouble(2)).toMap
    val r10 = Eval.run(collection, """round(events{event_type="purchase"}, 10)""", grid)
      .select(col("skey"), col("ts"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(r10.nonEmpty && r10.keySet == base.keySet)
    r10.foreach { case (k, v) =>
      assert(v % 10 == 0.0)
      assert(math.abs(v - base(k)) <= 5.0 + 1e-9)
      // tie goes UP: v is the floor-based round, so base exactly on a .5
      // boundary maps to the higher multiple
      assert(v == math.floor(base(k) / 10.0 + 0.5) * 10.0)
    }
  }

  test("shift_to_midnight offset (main.rs:110, timeseries.rs:410-417)") {
    val eng = new PromEngine(collection)
    val target = 2000000000.0
    val shifted = eng.withStartTime(target)
    val off = shifted.queryTimeOffset.get
    assert(off == target - eng.minTime)
    val out = shifted.queryRange("events{event_type=\"purchase\"}", target, target + 1200.0, 600.0)
    val ts = out.select("ts").distinct().as[Double].collect().sorted
    assert(ts.sameElements(Array(target, target + 600.0, target + 1200.0)))
  }

  test("ingest: classification errors match reference (metricstore.rs:138-166)") {
    val noTime = Seq((1, "a")).toDF("v", "l")
    intercept[IllegalArgumentException](TsIngest.fromDataFrame(noTime, "x"))
    val twoTime = Seq((1.0, 2.0, 3.0)).toDF("time", "timestamp", "v")
    intercept[IllegalArgumentException](TsIngest.fromDataFrame(twoTime, "x"))
    val boolCol = Seq((1.0, true, 2.0)).toDF("time", "b", "v")
    intercept[IllegalArgumentException](TsIngest.fromDataFrame(boolCol, "x"))
    val mixed = Seq((1.0, 2.0, 3.0)).toDF("time", "Le50", "other")
    intercept[IllegalArgumentException](TsIngest.fromDataFrame(mixed, "x"))
  }

  test("bucket-column regex (metricstore.rs:661-715)") {
    import graft.sources.TsIngest.isBucketColumn
    assert(isBucketColumn("Le0"))
    assert(isBucketColumn("Le0.0"))
    assert(isBucketColumn("Le1.0E-4"))
    assert(isBucketColumn("Le+Inf"))
    assert(isBucketColumn("Le+inf"))
    // quirk preserved: every numeric part of the reference regex is optional,
    // so bare "Le" matches too (metricstore.rs:25)
    assert(isBucketColumn("Le"))
    assert(!isBucketColumn("LeX"))
    assert(!isBucketColumn("count"))
    assert(!isBucketColumn("le50"))
  }

  test("ingest: histogram with max alternate column (metricstore.rs:390-394)") {
    val wide = Seq((60.0, 1.0, 2.0, 9.9)).toDF("time", "Le1", "Le+Inf", "max")
    val out = TsIngest.fromDataFrame(wide, "m")
    val names = out.select(col(Model.LabelsCol).getItem(Model.NameLabel)).as[String].collect().toSet
    // Le+Inf present + no count -> count synthesized FROM Le+Inf
    assert(names == Set("m_bucket", "m_max", "m_count"))
    val cnt = out.filter(col(Model.LabelsCol).getItem(Model.NameLabel) === "m_count")
      .select("value").as[Double].head()
    assert(cnt == 2.0)
  }

  test("ingest: histogram classification + Le+Inf synthesis (metricstore.rs:465-496)") {
    val wide = Seq((60.0, "a", 1.0, 2.0, 3.0, 10.5)).toDF("time", "host", "Le1", "Le5", "count", "sum")
    val out = TsIngest.fromDataFrame(wide, "m")
    val names = out.select(col(Model.LabelsCol).getItem(Model.NameLabel)).as[String].collect().toSet
    assert(names == Set("m_bucket", "m_count", "m_sum"))
    val les = out.filter(col(Model.LabelsCol).getItem(Model.NameLabel) === "m_bucket")
      .select(col(Model.LabelsCol).getItem(Model.LeLabel)).as[String].collect().toSet
    assert(les == Set("1", "5", "+Inf"))
    // +Inf bucket carries the count value
    val infV = out.filter(col(Model.LabelsCol).getItem(Model.LeLabel) === "+Inf")
      .select("value").as[Double].head()
    assert(infV == 3.0)
  }

  test("histogram_quantile edge semantics (query.rs:296-320)") {
    import graft.operators.HistogramQuantile
    def bucketRow(le: String, v: Double, extra: Map[String, String] = Map.empty) = {
      val labels = Map("__name__" -> "m_bucket", "Le" -> le) ++ extra
      (labels, 10.0, v)
    }
    // normal group: buckets 1,2,+Inf with counts 2,8,10; q=0.5 -> cutoff 5
    // first bucket >= 5 is le=2: 2 - (2-1)*(8-5)/(8-2) = 1.5
    val good = Seq(bucketRow("1", 2.0), bucketRow("2", 8.0), bucketRow("+Inf", 10.0))
    // group with finite top bucket -> NaN
    val noInf = Seq(bucketRow("1", 2.0, Map("grp" -> "x")), bucketRow("2", 8.0, Map("grp" -> "x")))
    // series without Le ignored entirely
    val noLe = Seq((Map("__name__" -> "m_bucket", "grp" -> "y"), 10.0, 1.0))
    val df = (good ++ noInf ++ noLe).toDF("labels", "ts", "value")
    val out = HistogramQuantile.quantile(df, 0.5)
      .select(col("skey"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.size == 2) // the no-Le series contributed no group
    val goodKey = out.keys.find(!_.contains("grp")).get
    assert(math.abs(out(goodKey) - 1.5) < 1e-12)
    val nanKey = out.keys.find(_.contains("grp")).get
    assert(out(nanKey).isNaN)
  }

  test("all-buckets-below-cutoff falls back to last finite bound (query.rs:325-346)") {
    import graft.operators.HistogramQuantile
    // q=0.99, total=100: cutoff=99 > every finite count -> est = last finite le
    val rows = Seq(
      (Map("__name__" -> "m_bucket", "Le" -> "1"), 10.0, 20.0),
      (Map("__name__" -> "m_bucket", "Le" -> "2"), 10.0, 50.0),
      (Map("__name__" -> "m_bucket", "Le" -> "+Inf"), 10.0, 100.0))
    val out = HistogramQuantile.quantile(rows.toDF("labels", "ts", "value"), 0.99)
      .select("value").as[Double].head()
    assert(out == 2.0)
  }

  test("retag yaml parser (config.rs)") {
    val conf = ReTag.parse(queries.TsQueries.retagYaml)
    assert(conf.skipUnmapped)
    assert(conf.mapping("events") == Map("env" -> "production", "dc" -> "eu-1"))
  }

  test("metadata surface (timeseries.rs:459-483)") {
    val eng = new PromEngine(collection)
    assert(eng.allLabels() == Seq("__name__", "event_type", "props"))
    assert(eng.allSeriesNames() == Seq("events", "events_event_id", "events_user_id"))
    assert(eng.labelValues("event_type").contains("purchase"))
  }
}
