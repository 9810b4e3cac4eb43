package graft

import org.apache.spark.sql.functions._

import graft.operators.Grid
import graft.promql.{BinOp, Eval, Parser, ScalarLit, VectorSel}

/** Binary operators + extended aggregations (extension; the reference's
  * process_ast rejects Node::Operator — query.rs:549-551). */
class BinOpSpec extends SparkSpec {
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"
  private def collection = queries.TsQueries.events(spark, Dir)
  private val grid = Grid(1704067200.0, 1704074400.0, 3600.0)

  test("parser: precedence and associativity") {
    // * binds tighter than +
    Parser.parse("1 + 2 * 3") match {
      case BinOp("+", ScalarLit(1.0), BinOp("*", ScalarLit(2.0), ScalarLit(3.0), _, _, _), _, _, _) => ()
      case other => fail(s"unexpected AST: $other")
    }
    // ^ is right-associative and binds tighter than unary minus
    Parser.parse("-2 ^ 2") match {
      case BinOp("-", ScalarLit(0.0), BinOp("^", ScalarLit(2.0), ScalarLit(2.0), _, _, _), _, _, _) => ()
      case other => fail(s"unexpected AST: $other")
    }
    Parser.parse("2 ^ 3 ^ 2") match {
      case BinOp("^", ScalarLit(2.0), BinOp("^", ScalarLit(3.0), ScalarLit(2.0), _, _, _), _, _, _) => ()
      case other => fail(s"unexpected AST: $other")
    }
    // parentheses override
    Parser.parse("(1 + 2) * 3") match {
      case BinOp("*", BinOp("+", _, _, _, _, _), ScalarLit(3.0), _, _, _) => ()
      case other => fail(s"unexpected AST: $other")
    }
    // comparison with bool + matching modifiers
    Parser.parse("""a{x="1"} > bool on (x) b""") match {
      case BinOp(">", _: VectorSel, _: VectorSel, Some(Seq("x")), None, true) => ()
      case other => fail(s"unexpected AST: $other")
    }
    Parser.parse("a / ignoring (host) b") match {
      case BinOp("/", _, _, None, Some(Seq("host")), false) => ()
      case other => fail(s"unexpected AST: $other")
    }
    // set-operator keywords
    Parser.parse("a and b or c unless d") match {
      case BinOp("or", BinOp("and", _, _, _, _, _), BinOp("unless", _, _, _, _, _), _, _, _) => ()
      case other => fail(s"unexpected AST: $other")
    }
    intercept[Parser.ParseException](Parser.parse("a + group_left b"))
    intercept[Parser.ParseException](Parser.parse("a + bool b")) // bool only on comparisons
  }

  test("scalar-scalar arithmetic folds to a scalar; comparisons need bool") {
    intercept[Eval.EvalException](Eval.run(collection, "1 + 2", grid)) // scalar result is not a range vector
    assert(operators.BinOps.scalarScalar("^", 2.0, 10.0, boolMod = false) == 1024.0)
    assert(operators.BinOps.scalarScalar(">", 2.0, 1.0, boolMod = true) == 1.0)
    intercept[Eval.EvalException](operators.BinOps.scalarScalar(">", 2.0, 1.0, boolMod = false))
  }

  test("vector-scalar arithmetic drops __name__; filter comparison keeps it") {
    val out = Eval.run(collection, """events{event_type="purchase"} * 2""", grid)
    val keys = out.select(map_keys(col("labels"))).as[Seq[String]].head()
    assert(!keys.contains(Model.NameLabel))
    val filtered = Eval.run(collection, """events{event_type="purchase"} > 0""", grid)
    val fkeys = filtered.select(map_keys(col("labels"))).as[Seq[String]].head()
    assert(fkeys.contains(Model.NameLabel))
    // bool comparison: all values in {0, 1}
    val b = Eval.run(collection, """events{event_type="purchase"} >= bool 0""", grid)
    assert(b.select("value").distinct().as[Double].collect().toSet.subsetOf(Set(0.0, 1.0)))
  }

  test("vector-vector: self-division is 1, scalar-left works, matching joins per instant") {
    val one = Eval.run(collection,
      """events{event_type="purchase"} / events{event_type="purchase"}""", grid)
    val vals = one.select("value").as[Double].collect()
    assert(vals.nonEmpty && vals.forall(v => v == 1.0 || v.isNaN)) // NaN only if 0/0
    val inv = Eval.run(collection, """100 / events{event_type="purchase"}""", grid)
    assert(inv.count() > 0)
  }

  test("set operators: and/unless/or row algebra") {
    val p = Eval.run(collection, """events{event_type="purchase"}""", grid).count()
    val r = Eval.run(collection, """events{event_type="signup"}""", grid).count()
    val andN = Eval.run(collection, """events{event_type="purchase"} and events{event_type="purchase"}""", grid).count()
    val unlessN = Eval.run(collection, """events{event_type="purchase"} unless events{event_type="purchase"}""", grid).count()
    val orN = Eval.run(collection, """events{event_type="purchase"} or events{event_type="signup"}""", grid).count()
    assert(andN == p)
    assert(unlessN == 0)
    assert(orN == p + r) // disjoint series sets
    val disjointAnd = Eval.run(collection, """events{event_type="purchase"} and events{event_type="signup"}""", grid).count()
    assert(disjointAnd == 0)
  }

  test("topk/bottomk keep k series per instant with original labels") {
    val t = Eval.run(collection, "topk(2, events)", grid)
    val instants = t.groupBy("ts").count().select("count").as[Long].collect()
    assert(instants.nonEmpty && instants.forall(_ <= 2))
    val keys = t.select(map_keys(col("labels"))).as[Seq[String]].head()
    assert(keys.contains(Model.NameLabel)) // survivors keep their own labels
    val b = Eval.run(collection, "bottomk(1, events)", grid)
    // bottomk(1) value <= topk's minimum at each instant
    val topMin = t.groupBy("ts").agg(min("value").as("tv"))
    val joined = b.join(topMin, "ts").where(col("value") > col("tv")).count()
    assert(joined == 0)
    intercept[Eval.EvalException](Eval.run(collection, "topk(0, events)", grid))
  }

  test("quantile by: q=1 equals max, q=0 equals min") {
    val qmax = Eval.run(collection, "quantile(1, events) by (event_type)", grid)
      .withColumnRenamed("value", "qv")
    val mx = Eval.run(collection, "max by (event_type) (events)", grid)
    val diff = qmax.select(col("skey"), col("ts"), col("qv"))
      .join(mx.select(col("skey"), col("ts"), col("value")), Seq("skey", "ts"))
      .where(col("qv") =!= col("value")).count()
    assert(diff == 0)
  }
  test("math functions: column-expression equivalence, name dropped; clamp; deriv slope") {
    import org.apache.spark.sql.functions._
    val base = Eval.run(collection, """events{event_type="purchase"}""", grid)
    for ((q, fn) <- Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
        ("abs", abs), ("sqrt", c => sqrt(c)), ("exp", c => exp(c)), ("ln", c => log(c)),
        ("log2", c => log2(c)), ("log10", c => log10(c)), ("sgn", c => signum(c)),
        ("ceil", c => ceil(c).cast("double")), ("floor", c => floor(c).cast("double")))) {
      val out = Eval.run(collection, s"""$q(events{event_type="purchase"})""", grid)
      val keys = out.select(map_keys(col("labels"))).as[Seq[String]].head()
      assert(!keys.contains(Model.NameLabel), s"$q kept __name__")
      val expected = base.select(col("labels")("props").as("p"), col("ts"), fn(col("value")).as("e"))
      val diff = out.select(col("labels")("props").as("p"), col("ts"), col("value"))
        .join(expected, Seq("p", "ts"))
        .where(col("value") =!= col("e")).count()
      assert(diff == 0, s"$q mismatch")
    }
    val cl = Eval.run(collection, """clamp(events{event_type="purchase"}, 50, 150)""", grid)
    val mm = cl.agg(min("value"), max("value")).head()
    assert(mm.getDouble(0) >= 50.0 && mm.getDouble(1) <= 150.0)
    // deriv: slope of a perfectly linear series == its coefficient
    val lin = Model.withSkey(
      Seq.tabulate(20)(i => (1704067200.0 + i * 600.0, 3.0 * i * 600.0))
        .toDF("ts", "value")
        .withColumn("labels", map(lit("__name__"), lit("m"))))
    val d = operators.Resample.kernel(lin, operators.Grid(1704067200.0, 1704074400.0, 3600.0),
      functions.RangeKernel.Deriv, 3600.0, 0.0)
    val vals = d.select("value").as[Double].collect()
    assert(vals.nonEmpty && vals.forall(v => math.abs(v - 3.0) < 1e-9), vals.mkString(","))
  }

  test("label_join/present/resets/stdvar and label_replace no-match/removal semantics") {
    import org.apache.spark.sql.functions._
    val j = Eval.run(collection,
      """label_join(events{event_type="purchase"}, "combo", "-", "event_type", "props")""", grid)
    val combo = j.select(col("labels")("combo")).distinct().as[String].collect()
    assert(combo.nonEmpty && combo.forall(_.startsWith("purchase-")))
    // label_replace: no-match leaves series untouched; empty replacement drops the label
    val untouched = Eval.run(collection,
      """label_replace(events{event_type="purchase"}, "etype", "$1", "event_type", "nomatch(.*)")""", grid)
    assert(untouched.select(col("labels")("etype")).filter(col("labels")("etype").isNotNull).count() == 0)
    val dropped = Eval.run(collection,
      """label_replace(events{event_type="purchase"}, "props", "", "event_type", "purchase")""", grid)
    assert(dropped.select(map_keys(col("labels"))).as[Seq[String]].head().forall(_ != "props"))
    // present_over_time: all ones; resets <= changes pointwise
    val pres = Eval.run(collection, """present_over_time(events{event_type="purchase"}[1d])""", grid)
    assert(pres.select("value").distinct().as[Double].collect().toSeq == Seq(1.0))
    val ch = Eval.run(collection, """changes(events{event_type="purchase"}[1d])""", grid)
      .withColumnRenamed("value", "ch")
    val rs = Eval.run(collection, """resets(events{event_type="purchase"}[1d])""", grid)
    val bad = rs.join(ch.select("skey", "ts", "ch"), Seq("skey", "ts"))
      .where(col("value") > col("ch")).count()
    assert(bad == 0)
    // stdvar == stddev^2 (same moments)
    val sv = Eval.run(collection, "stdvar by (event_type) (events)", grid).withColumnRenamed("value", "sv")
    val sd = Eval.run(collection, "stddev by (event_type) (events)", grid)
    val mism = sd.join(sv.select("skey", "ts", "sv"), Seq("skey", "ts"))
      .where(abs(col("value") * col("value") - col("sv")) > lit(1e-9)).count()
    assert(mism == 0)
  }

  test("absent/timestamp/count_values semantics") {
    import org.apache.spark.sql.functions._
    // absent of an existing selector: empty; of a never-matching one: 1 per instant with eq labels
    assert(Eval.run(collection, """absent(events{event_type="purchase"})""", grid).count() == 0)
    val ab = Eval.run(collection, """absent(events{event_type="nope", props="x"})""", grid)
    assert(ab.count() == grid.length)
    val lm = ab.select(col("labels")).head().getMap[String, String](0)
    assert(lm == Map("event_type" -> "nope", "props" -> "x"))
    assert(ab.select("value").distinct().as[Double].collect().toSeq == Seq(1.0))
    // timestamp(v): value == ts, name dropped
    val t = Eval.run(collection, """timestamp(events{event_type="purchase"})""", grid)
    assert(t.where(col("value") =!= col("ts")).count() == 0)
    // count_values: per-instant counts sum to the series count
    val cv = Eval.run(collection, """count_values("v", floor(events{event_type="purchase"}))""", grid)
    val perInstant = cv.groupBy("ts").agg(sum("value").as("n")).select("n").distinct().as[Double].collect()
    val nSeries = Eval.run(collection, """events{event_type="purchase"}""", grid)
      .select("skey").distinct().count()
    assert(perInstant.toSeq == Seq(nSeries.toDouble))
  }

  test("time-component functions over timestamp()") {
    import org.apache.spark.sql.functions._
    // 2024-01-01T00:00:00Z is a Monday; epoch-day formula must say 1
    val dow = Eval.run(collection, """day_of_week(timestamp(events{event_type="purchase"}))""", grid)
    assert(dow.filter(col("ts") === 1704067200.0).select("value").distinct()
      .as[Double].collect().toSeq == Seq(1.0))
    val h = Eval.run(collection, """hour(timestamp(events{event_type="purchase"}))""", grid)
      .filter(col("ts") === 1704070800.0) // T01:00Z
    assert(h.select("value").distinct().as[Double].collect().toSeq == Seq(1.0))
    val dim = Eval.run(collection, """days_in_month(timestamp(events{event_type="purchase"}))""", grid)
    assert(dim.select("value").distinct().as[Double].collect().toSeq == Seq(31.0)) // January
  }

  test("holt_winters: constant series is a fixed point; matches the scalar recurrence") {
    import org.apache.spark.sql.functions._
    // constant series → smoothed value is the constant
    val const = Model.withSkey(
      Seq.tabulate(10)(i => (1704067200.0 + i * 600.0, 42.0)).toDF("ts", "value")
        .withColumn("labels", map(lit("__name__"), lit("c"))))
    val hw = operators.Resample.kernel(const, operators.Grid(1704067200.0, 1704074400.0, 3600.0),
      functions.RangeKernel.HoltWinters(0.5, 0.3), 3600.0, 0.0)
    assert(hw.count() > 0)
    assert(hw.filter(abs(col("value") - 42.0) > 1e-12).count() == 0)
    // scalar reference recurrence (Prometheus funcHoltWinters shape)
    def ref(vs: Seq[Double], sf: Double, tf: Double): Double = {
      var (s0, s1, b) = (0.0, vs(0), vs(1) - vs(0))
      for (i <- 1 until vs.length) {
        val x = sf * vs(i)
        b = if (i - 1 == 0) b else tf * (s1 - s0) + (1 - tf) * b
        val y = (1 - sf) * (s1 + b)
        s0 = s1; s1 = x + y
      }
      s1
    }
    val vs = Seq(3.0, 7.0, 2.0, 9.0, 4.0)
    val lin = Model.withSkey(
      vs.zipWithIndex.map { case (v, i) => (1704067200.0 + 600.0 + i * 600.0, v) }
        .toDF("ts", "value")
        .withColumn("labels", map(lit("__name__"), lit("m"))))
    val out = operators.Resample.kernel(lin, operators.Grid(1704067200.0, 1704070800.0, 3600.0),
      functions.RangeKernel.HoltWinters(0.4, 0.2), 3600.0, 0.0)
      .filter(col("ts") === 1704070800.0)
      .select("value").as[Double].head()
    assert(math.abs(out - ref(vs, 0.4, 0.2)) < 1e-12, s"$out vs ${ref(vs, 0.4, 0.2)}")
    // <2 samples in window → no row
    intercept[Eval.EvalException](Eval.run(collection, "holt_winters(events[1h], 1.5, 0.3)", grid))
    // Prometheus 3.x rename is a strict alias (late grid so the 7d window
    // holds ≥2 samples per series at sf0.001 density)
    val lateGrid = operators.Grid(1704067200.0 + 20 * 86400.0,
      1704067200.0 + 20 * 86400.0 + 7200.0, 3600.0)
    val a = Eval.run(collection, "holt_winters(events[7d], 0.4, 0.2)", lateGrid)
      .select("skey", "ts", "value").collect().toSet
    val b = Eval.run(collection, "double_exponential_smoothing(events[7d], 0.4, 0.2)", lateGrid)
      .select("skey", "ts", "value").collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("group_left/group_right many-to-one matching") {
    // each series' share of its event_type total sums to 1 per (type, ts)
    val shares = Eval.run(collection,
      "events / on (event_type) group_left sum by (event_type) (events)", grid)
    val sums = shares
      .groupBy(col("labels").getItem("event_type"), col("ts"))
      .agg(org.apache.spark.sql.functions.sum("value").as("s"))
      .select("s").as[Double].collect()
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0) < 1e-9))
    // many side keeps its full label set (minus __name__)
    assert(shares.select("labels").head().getMap[String, String](0).keySet == Set("event_type", "props"))
    // group_right mirrors group_left with sides swapped
    val gr = Eval.run(collection,
      "sum by (event_type) (events) / on (event_type) group_right events", grid)
      .select("skey", "ts", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1), 1.0 / r.getDouble(2))).toSet
    val gl = shares.select("skey", "ts", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    def close(a: Set[(String, Double, Double)], b: Set[(String, Double, Double)]) = {
      val bm = b.groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.head._3 }
      a.forall(t => math.abs(bm((t._1, t._2)) - t._3) < 1e-9)
    }
    assert(gr.size == gl.size && close(gl, gr))
    // include labels are copied from the one side
    val inc = Eval.run(collection,
      """events{event_type="purchase"} / on (event_type) group_left (props) group by (event_type, props) (events{props="{\"k\": 0}"})""",
      grid)
    assert(inc.select("labels").head().getMap[String, String](0).get("props").contains("{\"k\": 0}"))
    // group_* without explicit matching is a parse error
    intercept[graft.promql.Parser.ParseException](
      Parser.parse("events / group_left sum by (event_type) (events)"))
  }

  test("limitk/limit_ratio: deterministic sample; ratio complement partitions the vector") {
    val base = Eval.run(collection, "events", grid)
    val nSteps = base.select("ts").distinct().count()
    // limitk: exactly 2 series per (event_type) group at every step
    val lk = Eval.run(collection, "limitk(2, events) by (event_type)", grid)
    val groups = base.select(col("labels").getItem("event_type")).distinct().count()
    assert(lk.count() == 2 * groups * nSteps)
    assert(lk.select("skey").distinct().count() == 2 * groups)
    // limit_ratio: r and r-1 complement each other exactly, no overlap
    val keep = Eval.run(collection, "limit_ratio(0.4, events)", grid)
      .select("skey").distinct().collect().map(_.getString(0)).toSet
    val rest = Eval.run(collection, "limit_ratio(-0.6, events)", grid)
      .select("skey").distinct().collect().map(_.getString(0)).toSet
    val all = base.select("skey").distinct().collect().map(_.getString(0)).toSet
    assert(keep.intersect(rest).isEmpty)
    assert(keep.union(rest) == all)
    intercept[Eval.EvalException](Eval.run(collection, "limit_ratio(1.5, events)", grid))
    intercept[Eval.EvalException](Eval.run(collection, "limitk(0, events)", grid))
  }

  test("IEEE zero-divisor semantics: x/0=±Inf, 0/0=NaN, x%0=NaN (no ANSI error)") {
    // (v - v) builds an all-zero vector with the same label sets as v.
    def vals(q: String): Seq[Double] =
      Eval.run(collection, q, grid).select("value").as[Double].collect().toSeq
    val div = vals("""events{event_type="purchase"} / (events{event_type="purchase"} - events{event_type="purchase"})""")
    assert(div.nonEmpty && div.forall(_ == Double.PositiveInfinity), s"x/0: $div")
    val div2 = vals("""(0 - events{event_type="purchase"}) / (events{event_type="purchase"} - events{event_type="purchase"})""")
    assert(div2.nonEmpty && div2.forall(_ == Double.NegativeInfinity), s"-x/0: $div2")
    val zz = vals("""(events - events) / (events - events)""")
    assert(zz.nonEmpty && zz.forall(_.isNaN), s"0/0: $zz")
    val mod = vals("""events % (events - events)""")
    assert(mod.nonEmpty && mod.forall(_.isNaN), s"x%0: $mod")
  }

  test("@ modifier: pinned value is constant across steps and equals the value at t") {
    val at = Eval.run(collection, """events{event_type="purchase"} @ 1704070800""", grid)
      .select("skey", "ts", "value").as[(String, Double, Double)].collect()
    // constant per series across all grid steps
    at.groupBy(_._1).foreach { case (k, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"series $k not constant")
      assert(rows.map(_._2).distinct.length == grid.length)
    }
    // and the constant is the un-pinned value at t
    val plain = Eval.run(collection, """events{event_type="purchase"}""", grid)
      .filter(col("ts") === 1704070800.0)
      .select("skey", "value").as[(String, Double)].collect().toMap
    at.groupBy(_._1).foreach { case (k, rows) => assert(rows.head._3 == plain(k)) }
    // start()/end() resolve to the grid edges
    val s = Eval.run(collection, """events{event_type="purchase"} @ start()""", grid)
      .select("skey", "value").as[(String, Double)].collect().toMap
    val plainStart = Eval.run(collection, """events{event_type="purchase"}""", grid)
      .filter(col("ts") === grid.start)
      .select("skey", "value").as[(String, Double)].collect().toMap
    assert(s == plainStart)
    // composes under aggregation + binops
    assert(Eval.run(collection, """sum by (event_type) (events @ 1704070800) * 2""", grid).count() > 0)
    intercept[graft.promql.Parser.ParseException](Parser.parse("events @ banana"))
  }

  test("time()/vector()/scalar() per-step scalars") {
    // time(): one labelless series, value == evaluation timestamp
    val t = Eval.run(collection, "time()", grid)
      .select("ts", "value").as[(Double, Double)].collect()
    assert(t.length == grid.length && t.forall(p => p._1 == p._2))
    // vector(5): constant labelless series across the grid
    val v5 = Eval.run(collection, "vector(5)", grid)
    assert(v5.count() == grid.length)
    assert(v5.select("value").as[Double].collect().forall(_ == 5.0))
    assert(v5.select("labels").head().getMap[String, String](0).isEmpty)
    // scalar(): NaN for a multi-series vector, the value for a 1-series one
    val nan = Eval.run(collection, "vector(scalar(events))", grid)
      .select("value").as[Double].collect()
    assert(nan.nonEmpty && nan.forall(_.isNaN))
    val one = Eval.run(collection, "vector(scalar(sum(events)))", grid)
      .select("value").as[Double].collect()
    val sums = Eval.run(collection, "sum(events)", grid)
      .select("value").as[Double].collect()
    assert(one.sorted.toSeq == sums.sorted.toSeq)
    // math family over a per-step scalar stays a per-step scalar
    val h = Eval.run(collection, "hour(time())", grid)
      .select("ts", "value").as[(Double, Double)].collect()
    assert(h.nonEmpty && h.forall(p => p._2 == math.floor(p._1 / 3600) % 24))
    // vector ⊗ step-scalar: labels survive, each row divided by the step total
    val norm = Eval.run(collection, "events / scalar(sum(events))", grid)
      .groupBy("ts").agg(org.apache.spark.sql.functions.sum("value").as("s"))
      .select("s").as[Double].collect()
    assert(norm.nonEmpty && norm.forall(s => math.abs(s - 1.0) < 1e-9))
    // step ⊗ step and step ⊗ literal
    val z = Eval.run(collection, "time() - time()", grid).select("value").as[Double].collect()
    assert(z.forall(_ == 0.0))
    val cmp = Eval.run(collection, "vector(time() >= bool 1704070800)", grid)
      .select("ts", "value").as[(Double, Double)].collect()
    assert(cmp.forall(p => p._2 == (if (p._1 >= 1704070800.0) 1.0 else 0.0)))
    intercept[Eval.EvalException](Eval.run(collection, "vector(time() > 5)", grid))
  }

  test("sort_by_label orders rows without changing content") {
    val plain = Eval.run(collection, "events", grid)
      .select("skey", "ts", "value").collect().toSet
    val sorted = Eval.run(collection, """sort_by_label(events, "event_type", "props")""", grid)
    assert(sorted.select("skey", "ts", "value").collect().toSet == plain)
    val heads = sorted.select(col("labels").getItem("event_type"))
      .collect().map(_.getString(0))
    assert(heads.head == heads.min) // first row carries the smallest label value
    val descHeads = Eval.run(collection, """sort_by_label_desc(events, "event_type")""", grid)
      .select(col("labels").getItem("event_type")).collect().map(_.getString(0))
    assert(descHeads.head == descHeads.max)
    intercept[Eval.EvalException](Eval.run(collection, "sort_by_label(events, 5)", grid))
  }

  test("bare aggregation (no by/without) collapses to one series; group yields 1") {
    val sumAll = Eval.run(collection, "sum(events)", grid)
    assert(sumAll.select("skey").distinct().count() == 1)
    val g = Eval.run(collection, "group by (event_type) (events)", grid)
    assert(g.select("value").as[Double].collect().forall(_ == 1.0))
  }

  test("rate_resets / increase_resets: counter-reset correction, raw endpoints") {
    def ctrOf(samples: Seq[(Double, Double)]) = Model.withSkey(
      samples.toDF("ts", "value")
        .withColumn("labels", map(lit("__name__"), lit("ctr"))))
    val g = Grid(0.0, 3600.0, 3600.0)
    // counter climbs 10→40, resets to 5, climbs to 35
    val ctr = ctrOf(Seq((600.0, 10.0), (1200.0, 25.0), (1800.0, 40.0),
      (2400.0, 5.0), (3000.0, 20.0), (3600.0, 35.0)))
    val inc = Eval.run(ctr, "increase_resets(ctr[1h])", g)
      .select("ts", "value").as[(Double, Double)].collect().toMap
    assert(inc.keySet == Set(3600.0)) // t=0 window holds no samples
    assert(math.abs(inc(3600.0) - 65.0) < 1e-9) // 35 - 10 + reset(40)
    val rate = Eval.run(ctr, "rate_resets(ctr[1h])", g)
      .select("value").as[Double].collect().head
    assert(math.abs(rate - 65.0 / 3600.0) < 1e-12)
    // reference-parity default has no reset logic: the reset is swallowed
    val plain = Eval.run(ctr, "increase(ctr[1h])", g)
      .filter(col("ts") === 3600.0).select("value").as[Double].collect().head
    assert(math.abs(plain - 25.0) < 1e-9) // interp(3600) - clamp(0) = 35 - 10
    // monotonic counter: reset mode == raw endpoint difference, no correction
    val mono = ctrOf(Seq((600.0, 1.0), (1800.0, 4.0), (3000.0, 9.0)))
    val incMono = Eval.run(mono, "increase_resets(ctr[1h])", g)
      .select("value").as[Double].collect().head
    assert(math.abs(incMono - 8.0) < 1e-12)
    // windows with fewer than two samples emit no row (Prometheus rule)
    val one = ctrOf(Seq((600.0, 7.0)))
    assert(Eval.run(one, "rate_resets(ctr[1h])", g).isEmpty)
    // irate_resets: last two samples are 20 → 35 (rising): (35-20)/600
    val ir = Eval.run(ctr, "irate_resets(ctr[1h])", g)
      .select("value").as[Double].collect().head
    assert(math.abs(ir - 15.0 / 600.0) < 1e-12)
    // reset on the LAST pair: 40 → 5 means instant increase = raw 5
    val tail = ctrOf(Seq((2400.0, 25.0), (3000.0, 40.0), (3600.0, 5.0)))
    val irr = Eval.run(tail, "irate_resets(ctr[1h])", g)
      .select("value").as[Double].collect().head
    assert(math.abs(irr - 5.0 / 600.0) < 1e-12)
  }

}
