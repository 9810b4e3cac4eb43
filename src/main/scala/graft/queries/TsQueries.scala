package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Model, PromEngine}
import graft.functions.{RangeKernel, TimeParse}
import graft.operators._
import graft.sources.TsIngest

/** Time-series / PromQL queries for the driver's correctness gate, each
  * paired with a DuckDB oracle that replicates the exact same arithmetic
  * expression trees (IEEE doubles are deterministic given the same tree; any
  * aggregation whose order can differ is rounded on both sides).
  */
object TsQueries {

  // Grid: hourly instants over the events table's 30-day span (2024-01).
  val GridStart = 1704067200.0 // 2024-01-01T00:00:00Z
  val GridSteps = 696 // hourly → 697 instants
  val Step = 3600.0
  def grid: Grid = Grid(GridStart, GridStart + GridSteps * Step, Step)

  /** events.parquet has shipped as TIMESTAMP(NANOS) (Spark 4 reads it as a
    * nanos long under the legacy flag) and as plain timestamp[us] (Spark
    * reads TIMESTAMP_NTZ); handle every encoding. Nanos: integer-divide to
    * µs (exact — the data is µs-granular), then /1e6: bit-identical to
    * DuckDB's `epoch(ts)`. (Nanos→double directly would lose precision:
    * 1.7e18 > 2^53.) NTZ: session timezone is UTC everywhere, so
    * NTZ→timestamp→double is the same epoch arithmetic DuckDB applies. */
  def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.withColumn("ts", epochSeconds(df.schema("ts").dataType))
  }

  /** Column expression converting a time column of the given type to epoch
    * seconds as double, matching DuckDB `epoch(ts)` bit-for-bit. */
  def epochSeconds(dt: org.apache.spark.sql.types.DataType,
                   name: String = "ts"): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) read as long
        expr(s"`$name` div 1000").cast(DoubleType) / lit(1000000.0)
      case org.apache.spark.sql.types.TimestampNTZType => // timestamp[us], UTC session tz
        col(name).cast(org.apache.spark.sql.types.TimestampType).cast(DoubleType)
      case _ => // native TIMESTAMP (µs/ms): epoch micros < 2^53, cast is exact
        col(name).cast(DoubleType)
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    TsIngest.fromDataFrame(rawEvents(spark, dir), "events")

  def engine(spark: SparkSession, dir: String): PromEngine =
    new PromEngine(events(spark, dir))

  /** `+ 0.0` collapses IEEE `-0.0` to `+0.0` (NaN unaffected): DuckDB's
    * round keeps the sign of zero, Spark's doesn't, and the driver hashes
    * raw values — so both sides normalize. */
  private def noNegZero(c: org.apache.spark.sql.Column) = c + lit(0.0)

  private def flat(df: DataFrame, roundDigits: Int = 6): DataFrame =
    df.select(
      col(Model.LabelsCol).getItem("event_type").as("event_type"),
      col(Model.LabelsCol).getItem("props").as("props"),
      round(col(Model.TsCol), 6).as("ts"),
      noNegZero(round(col(Model.ValueCol), roundDigits)).as("value"))

  // ---------------------------------------------------------------- queries

  def ingestEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col(Model.LabelsCol).getItem(Model.NameLabel).as("name"),
      col(Model.LabelsCol).getItem("event_type").as("event_type"),
      col(Model.LabelsCol).getItem("props").as("props"),
      round(col(Model.TsCol), 6).as("ts"),
      round(col(Model.ValueCol), 6).as("value"))

  def selectEq(spark: SparkSession, dir: String): DataFrame =
    flat(Selector.select(events(spark, dir), Seq(
      Selector.Eq(Model.NameLabel, "events"), Selector.Eq("event_type", "purchase"))))

  def selectRegex(spark: SparkSession, dir: String): DataFrame =
    flat(Selector.select(events(spark, dir), Seq(
      Selector.Eq(Model.NameLabel, "events"),
      Selector.Re("event_type", "^(purch|ref)"),
      Selector.Nre("props", "\"k\": 1"))))

  def resample1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events{event_type="purchase"}""", spark, dir))

  def offsetResample(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events{event_type="purchase"} offset 1h""", spark, dir))

  def rate1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""rate(events{event_type="purchase"}[1h])""", spark, dir))

  def increase1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""increase(events{event_type="purchase"}[1h])""", spark, dir))

  def irate1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""irate(events{event_type="purchase"}[1h])""", spark, dir))
      .filter(col("value").isNotNull && !isnan(col("value")))

  def avgOverTime1h(spark: SparkSession, dir: String): DataFrame = {
    val selected = Selector.select(Model.withSkey(events(spark, dir)), Seq(
      Selector.Eq(Model.NameLabel, "events"), Selector.Eq("event_type", "purchase")))
    RangeAgg.avgOverTime(selected, grid, 3600.0)
      .select(
        col(Model.LabelsCol).getItem("event_type").as("event_type"),
        col(Model.LabelsCol).getItem("props").as("props"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))
  }

  /** Rollup-store lifecycle ([[graft.sources.RollupStore]]): 5m rollups
    * built on the first 15 days, second half APPENDED as partial rows,
    * hourly 1h-window queries answered from the store — the
    * recording-rule/downsampling path a 100 TB metrics deployment serves
    * dashboards from. The 1h windows are exact unions of 5m buckets
    * (left-open bucketing), so the oracle is the RAW-sample window
    * replica: any drift in bucketing, partial-merge, or window mapping
    * hash-fails. */
  private def rollupStore(spark: SparkSession, dir: String): String = {
    // pinned: build's ≤mid filter and append's >mid filter would each
    // replay the whole ingest chain (classify → dedup groupBy → unpivot,
    // one full-events shuffle per consumer) — the semDedup shared-frame
    // rule, applied to the gate's two store mutations
    val s = Model.withSkey(events(spark, dir)).localCheckpoint()
    val mid = GridStart + 15 * 86400.0
    val store = java.nio.file.Files.createTempDirectory("graft-rollup").toString
    graft.sources.RollupStore.build(
      s.filter(col(Model.TsCol) <= mid), store, 300.0)
    graft.sources.RollupStore.append(store, s.filter(col(Model.TsCol) > mid))
    store
  }

  private def rollupOut(df: DataFrame): DataFrame =
    df.select(
      col(Model.LabelsCol).getItem("event_type").as("event_type"),
      col(Model.LabelsCol).getItem("props").as("props"),
      round(col(Model.TsCol), 6).as("ts"),
      noNegZero(round(col(Model.ValueCol), 6)).as("value"))

  def rollupAvg1h(spark: SparkSession, dir: String): DataFrame =
    rollupOut(graft.sources.RollupStore.overTime(spark,
      graft.sources.RollupStore.register(spark, rollupStore(spark, dir)),
      "events", grid, 3600.0, RangeKernel.AvgOverTime))

  def rollupLast1h(spark: SparkSession, dir: String): DataFrame =
    rollupOut(graft.sources.RollupStore.overTime(spark,
      graft.sources.RollupStore.register(spark, rollupStore(spark, dir)),
      "events", grid, 3600.0, RangeKernel.LastOverTime))

  /** The recording-rule SERVING path end-to-end: the PromQL string goes
    * through [[graft.promql.Eval]] with the rollup store REGISTERED, so
    * the aligned avg_over_time dispatches to the bucket store (matcher
    * pushed into the store scan) instead of raw samples — and must match
    * the raw-sample oracle ([[oracleAvgOverTime1h]]) bit-for-bit.
    * RollupSpec separately proves the plan really reads the store. */
  def rollupEval1h(spark: SparkSession, dir: String): DataFrame = {
    val store = rollupStore(spark, dir)
    val eng = engine(spark, dir).withRollups(
      Map("events" -> graft.sources.RollupStore.register(spark, store)))
    flat(eng.queryRangeRaw(
      """avg_over_time(events{event_type="purchase"}[1h])""", grid))
  }

  /** Subquery: inner instant vector on a 30m step-aligned grid, outer
    * max_over_time over 3h of those gridded samples. */
  def subqueryMax(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""max_over_time(events{event_type="purchase"}[3h:30m])""", spark, dir))

  def quantileOverTime1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""quantile_over_time(0.9, events{event_type="purchase"}[1h])""", spark, dir))

  def madOverTime1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""mad_over_time(events{event_type="purchase"}[1h])""", spark, dir))

  def idelta1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""idelta(events{event_type="purchase"}[1h])""", spark, dir))

  /** `[5m]` windows against hourly probes: most steps have a purchase
    * sample in the trailing 5 minutes, some don't — mixed present/absent. */
  def absentOverTimeQ(spark: SparkSession, dir: String): DataFrame =
    Eval("""absent_over_time(events{event_type="purchase"}[5m])""", spark, dir)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        col(Model.ValueCol).as("value"))

  def roundTo(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""round(events{event_type="purchase"}, 10)""", spark, dir))

  def sumBy(spark: SparkSession, dir: String): DataFrame =
    Eval("""sum by (event_type) (events)""", spark, dir)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))

  /** `without` grouping (extension; the reference rejects it,
    * query.rs:461-463): drops event_type and `__name__`, so the surviving
    * group key is props. */
  def sumWithout(spark: SparkSession, dir: String): DataFrame =
    Eval("""sum without (event_type) (events)""", spark, dir)
      .select(col(Model.LabelsCol).getItem("props").as("props"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))

  private def Eval(q: String, spark: SparkSession, dir: String): DataFrame =
    engine(spark, dir).queryRangeRaw(q, grid)

  // Binary operators + extended aggregations (extensions; the reference's
  // process_ast rejects Node::Operator, query.rs:549-551).

  def binopVs(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events{event_type="purchase"} * 2 - 100""", spark, dir))

  /** vector/vector one-to-one: current value over the value 1h ago. */
  def binopVv(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events{event_type="purchase"} / (events{event_type="purchase"} offset 1h)""", spark, dir))
      .filter(abs(col("value")) < lit(Double.PositiveInfinity)) // NaN/±Inf (0/0, x/0) out on both sides

  def binopCmp(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events{event_type="purchase"} > bool 120""", spark, dir))

  def binopOr(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events{event_type="purchase"} or events{event_type="refund"}""", spark, dir))

  def mathLn(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""ln(events{event_type="purchase"})""", spark, dir))

  def clampQ(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""clamp(events{event_type="purchase"}, 50, 150)""", spark, dir))

  /** Trig family + zero-arg pi() through the parser (Prometheus 2.31+
    * extensions): deg(atan(sin(v))) / pi() exercises three trig functions
    * and scalar-vector division in one expression. */
  def mathTrig(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""deg(atan(sin(events{event_type="purchase"}))) / pi()""", spark, dir))

  /** `@` timestamp pin (Prometheus 2.25+ extension): every series' value at
    * 1704153600 (day 2, 00:00 UTC) replicated across all grid steps, then
    * summed per event_type — exercises pin + replicate + aggregation. */
  def atModifier(spark: SparkSession, dir: String): DataFrame =
    Eval("""sum by (event_type) (events @ 1704153600)""", spark, dir)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))

  /** Per-step scalar composition: each purchase series normalized by the
    * all-series total at that step — `scalar()` over a bare `sum()`, then
    * vector ÷ step-scalar (broadcast ts-join, vector side unshuffled). */
  def scalarNorm(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events{event_type="purchase"} / scalar(sum(events{event_type="purchase"}))""", spark, dir))

  /** Many-to-one matching: each series divided by its event_type group
    * total — `group_left` against a `sum by` aggregate, the canonical
    * ratio-to-group idiom. */
  def groupRatio(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""events / on (event_type) group_left sum by (event_type) (events)""", spark, dir))

  /** `hour(time())` — the math family applied to the per-step scalar
    * `time()`; serialized as one labelless series. */
  def timeHour(spark: SparkSession, dir: String): DataFrame =
    Eval("""hour(time())""", spark, dir)
      .select(round(col(Model.TsCol), 6).as("ts"), col(Model.ValueCol).as("value"))

  /** `group by (...)` aggregator (Prometheus 2.31+): 1 for every group
    * present at each step. */
  def groupByQ(spark: SparkSession, dir: String): DataFrame =
    Eval("""group by (event_type) (events)""", spark, dir)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        col(Model.ValueCol).as("value"))

  /** Least-squares slope over the trailing 1h window (deriv extension). */
  def deriv1h(spark: SparkSession, dir: String): DataFrame = {
    val selected = Selector.select(Model.withSkey(events(spark, dir)), Seq(
      Selector.Eq(Model.NameLabel, "events"), Selector.Eq("event_type", "purchase")))
    Resample.kernel(selected, grid, RangeKernel.Deriv, 3600.0, 0.0)
      .select(
        col(Model.LabelsCol).getItem("event_type").as("event_type"),
        col(Model.LabelsCol).getItem("props").as("props"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))
  }

  def lastOverTime1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""last_over_time(events{event_type="purchase"}[1h])""", spark, dir))

  def changes1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""changes(events{event_type="purchase"}[1h])""", spark, dir))

  /** Opt-in counter-reset rate (see [[graft.functions.RangeKernel.IncreaseResets]]):
    * the events series is non-monotonic, so every adjacent drop exercises
    * the reset-correction path on real data. */
  def rateResets1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""rate_resets(events{event_type="purchase"}[1h])""", spark, dir))

  def irateResets1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""irate_resets(events{event_type="purchase"}[1h])""", spark, dir))

  def predictLinear1h(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""predict_linear(events{event_type="purchase"}[1h], 600)""", spark, dir))

  def stddevBy(spark: SparkSession, dir: String): DataFrame =
    Eval("""stddev by (event_type) (events)""", spark, dir)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))

  def labelReplaceQ(spark: SparkSession, dir: String): DataFrame =
    Eval("""label_replace(events{event_type="purchase"}, "etype", "$1X", "event_type", "purch(.*)")""",
      spark, dir)
      .select(
        col(Model.LabelsCol).getItem("etype").as("etype"),
        col(Model.LabelsCol).getItem("props").as("props"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))

  def hourOfTs(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""hour(timestamp(events{event_type="purchase"}))""", spark, dir))

  def monthOfTs(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""month(timestamp(events{event_type="purchase"}))""", spark, dir))

  /** Floor-based rounding on BOTH sides: with sf=0.5 the smoothing produces
    * dyadic combinations of 2-decimal inputs — values that land EXACTLY on
    * decimal rounding ties, where Spark's HALF_UP and DuckDB's round()
    * disagree by construction. floor(x*1e6 + 0.5)/1e6 is plain IEEE
    * arithmetic, bit-identical across engines. */
  def holtWinters1d(spark: SparkSession, dir: String): DataFrame =
    Eval("""holt_winters(events{event_type="purchase"}[1d], 0.5, 0.3)""", spark, dir)
      .select(
        col(Model.LabelsCol).getItem("event_type").as("event_type"),
        col(Model.LabelsCol).getItem("props").as("props"),
        round(col(Model.TsCol), 6).as("ts"),
        (floor(col(Model.ValueCol) * lit(1e6) + lit(0.5)) / lit(1e6)).as("value"))

  def countValuesQ(spark: SparkSession, dir: String): DataFrame =
    Eval("""count_values("v", floor(events{event_type="purchase"}))""", spark, dir)
      .select(col(Model.LabelsCol).getItem("v").as("v"),
        round(col(Model.TsCol), 6).as("ts"),
        round(col(Model.ValueCol), 6).as("value"))

  def avgBy(spark: SparkSession, dir: String): DataFrame =
    Eval("""avg by (event_type) (events)""", spark, dir)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))

  def topk3(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""topk(3, events)""", spark, dir))

  /** `limitk(2, v) by (event_type)` (Prometheus 3.x experimental): the two
    * smallest-skey series per group — a deterministic series sample. */
  def limitkQ(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""limitk(2, events) by (event_type)""", spark, dir))

  /** `limit_ratio(0.4, v)`: md5-bucket series sampling, the same decision
    * function style as [[graft.llm.Curation.sampleStratified]]. */
  def limitRatioQ(spark: SparkSession, dir: String): DataFrame =
    flat(Eval("""limit_ratio(0.4, events{event_type="purchase"})""", spark, dir))

  def quantileBy(spark: SparkSession, dir: String): DataFrame =
    Eval("""quantile(0.9, events) by (event_type)""", spark, dir)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))

  /** Cumulative histogram-bucket counter series synthesized from events:
    * per (event_type, le), sample at each matching event's ts with the
    * running count of events with value <= le. */
  def histCollection(spark: SparkSession, dir: String): DataFrame = {
    // Per-instant bucket increments in one partial-aggregated groupBy, then
    // all four cumulative counters in ONE running-window pass; a bucket
    // series keeps only the instants where it actually incremented (same
    // sample set as the naive crossJoin×buckets + range-window + distinct
    // formulation, which cost 4× the rows and an extra shuffle).
    val ev = rawEvents(spark, dir)
      .select(col("event_type"), col("ts").as("t"), col("value"))
    val inc = ev.groupBy("event_type", "t").agg(
      count(when(col("value") <= 50.0, 1)).as("i50"),
      count(when(col("value") <= 100.0, 1)).as("i100"),
      count(when(col("value") <= 200.0, 1)).as("i200"),
      count(lit(1)).as("iInf"))
    val w = Window.partitionBy("event_type").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = inc.select(col("event_type"), col("t"),
      sum("i50").over(w).as("c50"), sum("i100").over(w).as("c100"),
      sum("i200").over(w).as("c200"), sum("iInf").over(w).as("cInf"),
      col("i50"), col("i100"), col("i200"), col("iInf"))
    cum.select(col("event_type"), col("t"),
        stack(lit(4),
          lit("50"), col("c50").cast(DoubleType), col("i50"),
          lit("100"), col("c100").cast(DoubleType), col("i100"),
          lit("200"), col("c200").cast(DoubleType), col("i200"),
          lit("+Inf"), col("cInf").cast(DoubleType), col("iInf"))
          .as(Seq("le_str", "cum", "inc")))
      .filter(col("inc") > 0)
      .select(
        map(lit(Model.NameLabel), lit("events_hist_bucket"),
          lit("event_type"), col("event_type"),
          lit(Model.LeLabel), col("le_str")).as(Model.LabelsCol),
        col("t").as(Model.TsCol), col("cum").as(Model.ValueCol))
  }

  /** The reference's flagship query shape (main.rs:80) through the full
    * parse→select→rate→sum-by→histogram_quantile pipeline. */
  def histQuantile(spark: SparkSession, dir: String): DataFrame = {
    val eng = new PromEngine(histCollection(spark, dir))
    eng.queryRangeRaw(
      "histogram_quantile(0.95, sum by (Le, event_type) (rate(events_hist_bucket{}[1h])))", grid)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))
      .filter(col("value").isNotNull && !isnan(col("value")))
  }

  /** Native-histogram flagship (#55): synthesize per-(event_type, hour)
    * exponential histograms (schema 2, base 2^0.25) from RAW event values
    * via [[NativeHistogram.fromSamples]], then p90 through the MAP-ONLY
    * native quantile walk — no group-by-instant of bucket series, the
    * whole distribution rides in-row. */
  def nativeQuantileQ(spark: SparkSession, dir: String): DataFrame = {
    val samples = rawEvents(spark, dir).select(
      col("event_type"),
      (lit(GridStart) + floor((col("ts") - lit(GridStart)) / Step) * Step)
        .as(Model.TsCol),
      col("value").as(Model.ValueCol))
      .withColumn(Model.LabelsCol, map(
        lit(Model.NameLabel), lit("events_native"),
        lit("event_type"), col("event_type")))
      .drop("event_type")
    val nh = NativeHistogram.fromSamples(Model.withSkey(samples), sch = 2)
    NativeHistogram.quantile(nh, 0.9)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))
  }

  /** Signed native-histogram quantile: shifting values by -50 puts real
    * mass in BOTH spectra (and the occasional exact 50 in the zero
    * bucket), so the p50 walk crosses negative buckets (index DESCENDING
    * = ascending value), the zero bucket, and positive buckets in one
    * fold. */
  def nativeQuantileSignedQ(spark: SparkSession, dir: String): DataFrame = {
    val samples = rawEvents(spark, dir).select(
      col("event_type"),
      (lit(GridStart) + floor((col("ts") - lit(GridStart)) / Step) * Step)
        .as(Model.TsCol),
      (col("value") - 50.0).as(Model.ValueCol))
      .withColumn(Model.LabelsCol, map(
        lit(Model.NameLabel), lit("events_native_signed"),
        lit("event_type"), col("event_type")))
      .drop("event_type")
    val nh = NativeHistogram.fromSamples(Model.withSkey(samples), sch = 2)
    NativeHistogram.quantile(nh, 0.5)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))
  }

  /** histogram_stddev over signed synthesized histograms: bucket-midpoint
    * variance around the exact mean — the same signed frames as
    * [[nativeQuantileSignedQ]], so negative midpoints, the zero bucket's
    * mean² term, and both folds are all exercised. */
  def nativeStddevQ(spark: SparkSession, dir: String): DataFrame = {
    val samples = rawEvents(spark, dir).select(
      col("event_type"),
      (lit(GridStart) + floor((col("ts") - lit(GridStart)) / Step) * Step)
        .as(Model.TsCol),
      (col("value") - 50.0).as(Model.ValueCol))
      .withColumn(Model.LabelsCol, map(
        lit(Model.NameLabel), lit("events_native_signed"),
        lit("event_type"), col("event_type")))
      .drop("event_type")
    val nh = NativeHistogram.fromSamples(Model.withSkey(samples), sch = 2)
    NativeHistogram.stddevOf(nh)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 4)).as("value"))
  }

  /** NHCB custom buckets (#55f): synthesize classic Le-bucket series from
    * events — purchase at a FINER layout (50,100,200) than the rest
    * (100,200) — convert via [[NativeHistogram.fromClassic]], merge all
    * series per instant via [[NativeHistogram.mergeCustom]] (the mixed
    * layouts force the bound-INTERSECTION downscale to (100,200) — exact
    * re-bucketing, so the oracle computes the merged counts directly from
    * raw values), then the p90 custom-bucket quantile walk. */
  def nativeCustomQuantileQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = rawEvents(spark, dir).select(
      col("event_type"),
      (lit(GridStart) + floor((col("ts") - lit(GridStart)) / Step) * Step)
        .as("t"),
      col("value"))
    val cum = ev.groupBy("event_type", "t").agg(
      count(when(col("value") <= 50.0, 1)).cast(DoubleType).as("c50"),
      count(when(col("value") <= 100.0, 1)).cast(DoubleType).as("c100"),
      count(when(col("value") <= 200.0, 1)).cast(DoubleType).as("c200"),
      count(lit(1)).cast(DoubleType).as("cInf"))
    val classic = cum.select(col("event_type"), col("t"),
        explode(when(col("event_type") === "purchase",
          map(lit("50"), col("c50"), lit("100"), col("c100"),
            lit("200"), col("c200"), lit("+Inf"), col("cInf")))
          .otherwise(
            map(lit("100"), col("c100"), lit("200"), col("c200"),
              lit("+Inf"), col("cInf")))))
      .withColumnRenamed("key", "le_str")
      .withColumnRenamed("value", "cum")
      .select(
        map(lit(Model.NameLabel), lit("events_nhcb"),
          lit("event_type"), col("event_type"),
          lit(Model.LeLabel), col("le_str")).as(Model.LabelsCol),
        col("t").as(Model.TsCol), col("cum").as(Model.ValueCol))
    val nhcb = NativeHistogram.fromClassic(classic)
    NativeHistogram.quantile(NativeHistogram.mergeCustom(nhcb, Seq.empty), 0.9)
      .select(round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))
  }

  /** `histogram_quantile(0.9, rate(m[1h]))` — the flagship native-histogram
    * composition: per-MINUTE native histograms per event_type, the
    * bucket-wise last-minus-first window delta over each hourly instant's
    * 1h lookback, then the p90 walk over the delta distribution. Windows
    * where every bucket delta is ≤ 0 fall back to the zero bucket (0.0) or
    * NaN when the whole delta distribution is empty — both asserted by the
    * oracle. */
  private def nativeMinuteNh(spark: SparkSession, dir: String): DataFrame = {
    val samples = rawEvents(spark, dir).select(
      col("event_type"),
      (lit(GridStart) + floor((col("ts") - lit(GridStart)) / 60.0) * 60.0)
        .as(Model.TsCol),
      col("value").as(Model.ValueCol))
      .withColumn(Model.LabelsCol, map(
        lit(Model.NameLabel), lit("events_native_minute"),
        lit("event_type"), col("event_type")))
      .drop("event_type")
    NativeHistogram.fromSamples(Model.withSkey(samples), sch = 2)
  }

  def nativeRateQuantileQ(spark: SparkSession, dir: String): DataFrame =
    NativeHistogram.quantile(
        NativeHistogram.rate(nativeMinuteNh(spark, dir), grid, 3600.0), 0.9)
      .select(col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))

  /** `histogram_quantile(0.9, sum(rate(m[1h])))` — per-series window
    * deltas merged across every series per instant, then one walk. */
  def nativeSumRateQuantileQ(spark: SparkSession, dir: String): DataFrame =
    NativeHistogram.quantile(
        NativeHistogram.merge(
          NativeHistogram.rate(nativeMinuteNh(spark, dir), grid, 3600.0),
          Seq.empty), 0.9)
      .select(round(col(Model.TsCol), 6).as("ts"),
        noNegZero(round(col(Model.ValueCol), 6)).as("value"))

  /** Mixed-resolution native-histogram merge: purchase events synthesize
    * at schema 3 (base 2^0.125), everything else at schema 2 (base
    * 2^0.25); merging ALL series per instant downscales the fine half to
    * the group's coarsest schema (`ceil(i / 2^d)` bucket collapse —
    * Prometheus semantics) before bucket counts sum. Output: one row per
    * (instant, merged bucket) plus the distribution scalars. */
  def nativeMergeMixedQ(spark: SparkSession, dir: String): DataFrame = {
    val samples = rawEvents(spark, dir).select(
      col("event_type"),
      (lit(GridStart) + floor((col("ts") - lit(GridStart)) / Step) * Step)
        .as(Model.TsCol),
      col("value").as(Model.ValueCol))
      .withColumn(Model.LabelsCol, map(
        lit(Model.NameLabel), lit("events_native"),
        lit("event_type"), col("event_type")))
    val fine = NativeHistogram.fromSamples(
      Model.withSkey(samples.filter(col("event_type") === "purchase")
        .drop("event_type")), sch = 3)
    val coarse = NativeHistogram.fromSamples(
      Model.withSkey(samples.filter(col("event_type") =!= "purchase")
        .drop("event_type")), sch = 2)
    val merged = NativeHistogram.merge(fine.unionByName(coarse), by = Seq.empty)
    merged.select(round(col(Model.TsCol), 6).as("ts"), col("nh_schema"),
        round(col("nh_zero_count"), 6).as("zero_count"),
        round(col("nh_sum"), 6).as("hsum"),
        round(col("nh_count"), 6).as("hcount"),
        explode(arrays_zip(col("nh_pos_idx"), col("nh_pos_cnt"))).as("b"))
      .select(col("ts"), col("nh_schema"), col("zero_count"), col("hsum"),
        col("hcount"), col("b.nh_pos_idx").as("idx"),
        round(col("b.nh_pos_cnt"), 6).as("cnt"))
  }

  /** Histogram-layout ingestion (#2): a wide per-minute histogram table
    * (Le50/Le100/Le200/count/sum columns) derived from events is classified
    * by TsIngest — buckets get `Le` labels, `Le+Inf` is synthesized from
    * `count` (metricstore.rs:465-496). */
  def ingestHistogram(spark: SparkSession, dir: String): DataFrame = {
    val wide = rawEvents(spark, dir)
      .groupBy(col("event_type"),
        (floor((col("ts") - lit(GridStart)) / 60.0).cast(DoubleType) * 60.0 + lit(GridStart)).as("time"))
      .agg(
        count(when(col("value") <= 50.0, 1)).as("Le50"),
        count(when(col("value") <= 100.0, 1)).as("Le100"),
        count(when(col("value") <= 200.0, 1)).as("Le200"),
        count(lit(1)).as("count"),
        sum("value").as("sum"))
    TsIngest.fromDataFrame(wide, "perf")
      .select(
        col(Model.LabelsCol).getItem(Model.NameLabel).as("name"),
        col(Model.LabelsCol).getItem(Model.LeLabel).as("le"),
        col(Model.LabelsCol).getItem("event_type").as("event_type"),
        round(col(Model.TsCol), 6).as("ts"),
        round(col(Model.ValueCol), 6).as("value"))
  }

  /** Re-tag YAML config (#3): fixed labels from the mapping are attached at
    * ingest (config.rs, metricstore.rs:86-95). */
  val retagYaml: String =
    """config:
      |  skip-unmapped: true
      |mapping:
      |  events:
      |    tags:
      |      env: production
      |      dc: eu-1
      |""".stripMargin

  def retagConfig(spark: SparkSession, dir: String): DataFrame = {
    val conf = graft.config.ReTag.parse(retagYaml)
    val fixed = conf.mapping("events")
    val coll = TsIngest.fromDataFrame(rawEvents(spark, dir), "events",
      TsIngest.IngestOptions(fixedLabels = fixed))
    Selector.byName(coll, "events").select(
      col(Model.LabelsCol).getItem("event_type").as("event_type"),
      col(Model.LabelsCol).getItem("env").as("env"),
      col(Model.LabelsCol).getItem("dc").as("dc"),
      round(col(Model.TsCol), 6).as("ts"),
      round(col(Model.ValueCol), 6).as("value"))
  }

  def metadataLabels(spark: SparkSession, dir: String): DataFrame =
    engine(spark, dir).allLabelsDF

  def metadataSeries(spark: SparkSession, dir: String): DataFrame =
    engine(spark, dir).allSeriesNamesDF

  def labelValues(spark: SparkSession, dir: String): DataFrame =
    engine(spark, dir).labelValuesDF("event_type")

  /** Duration parsing parity: the set of inputs is fixed (query-time scalar
    * parsing, web.rs:185-215); each row carries our parsed seconds. */
  def parseDuration(spark: SparkSession, dir: String): DataFrame = {
    val inputs = Seq("1.5", "1s", "500ms", "1s500ms", "2m1s500ms", "1h2m1s500ms", "1d", "2w", "1y")
    import spark.implicits._
    inputs.map(s => (s, TimeParse.parseDurationOrThrow(s))).toDF("d", "secs")
  }

  // ---------------------------------------------------------------- oracles

  /** Deduped long-form samples of the events value series. */
  private def sCte(where: String): String =
    s"""s AS (
       |  SELECT event_type, props, epoch(ts) AS t, avg(value) AS v
       |  FROM events $where GROUP BY 1, 2, 3
       |)""".stripMargin

  private def gridCte(probes: Seq[(String, Double)]): String = {
    val rows = probes.map { case (kind, shift) =>
      s"SELECT event_type, props, (1704067200.0 + (i * 3600.0)) AS gt, '$kind' AS kind, (1704067200.0 + (i * 3600.0)) - ($shift) AS pr FROM series CROSS JOIN gi"
    }.mkString("\n  UNION ALL\n  ")
    s"""series AS (SELECT DISTINCT event_type, props FROM s),
       |gi AS (SELECT unnest(generate_series(0, $GridSteps)) AS i),
       |grid AS (
       |  $rows
       |)""".stripMargin
  }

  /** Probe-bracketing CTE: prev = last sample with t <= probe, next = first
    * with t > probe, plus prev's predecessor when `withLag` — the samples
    * [[graft.functions.RangeKernel]] indexes per probe. */
  private def bracketCte(withLag: Boolean): String = {
    val sampleLag = if (withLag)
      """s2 AS (
        |  SELECT *, lag(t) OVER (PARTITION BY event_type, props ORDER BY t) AS plt,
        |            lag(v) OVER (PARTITION BY event_type, props ORDER BY t) AS plv
        |  FROM s
        |),""".stripMargin
    else
      "s2 AS (SELECT *, NULL::DOUBLE AS plt, NULL::DOUBLE AS plv FROM s),"
    s"""$sampleLag
       |u AS (
       |  SELECT event_type, props, t, 0 AS ord, t AS st, v AS sv, plt, plv,
       |         NULL::DOUBLE AS gt, NULL::VARCHAR AS kind, NULL::DOUBLE AS pr
       |  FROM s2
       |  UNION ALL
       |  SELECT event_type, props, pr AS t, 1, NULL, NULL, NULL, NULL, gt, kind, pr FROM grid
       |),
       |w AS (
       |  SELECT event_type, props, gt, kind, pr,
       |    last_value(st IGNORE NULLS) OVER wp AS pt,
       |    last_value(sv IGNORE NULLS) OVER wp AS pv,
       |    last_value(plt IGNORE NULLS) OVER wp AS ppt,
       |    last_value(plv IGNORE NULLS) OVER wp AS ppv,
       |    first_value(st IGNORE NULLS) OVER wf AS nt,
       |    first_value(sv IGNORE NULLS) OVER wf AS nv,
       |    ord
       |  FROM u
       |  WINDOW
       |    wp AS (PARTITION BY event_type, props ORDER BY t, ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wf AS (PARTITION BY event_type, props ORDER BY t, ord ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |)""".stripMargin
  }

  /** Same expression tree as RangeKernel's `interpolated`. */
  private val interpExpr: String =
    """CASE
      |  WHEN pt IS NULL AND nt IS NULL THEN 'NaN'::DOUBLE
      |  WHEN pt IS NULL THEN nv
      |  WHEN nt IS NULL THEN pv
      |  ELSE ((pr - pt) * nv + (nt - pr) * pv) / (nt - pt)
      |END""".stripMargin

  def oracleIngestEvents: String =
    """WITH d AS (
      |  SELECT event_type, props, epoch(ts) AS t,
      |         avg(event_id) AS event_id, avg(user_id) AS user_id, avg(value) AS v
      |  FROM events GROUP BY 1, 2, 3
      |)
      |SELECT name, event_type, props, round(t, 6) AS ts, round(v, 6) AS value FROM (
      |  SELECT 'events' AS name, event_type, props, t, v FROM d
      |  UNION ALL SELECT 'events_event_id', event_type, props, t, event_id FROM d
      |  UNION ALL SELECT 'events_user_id', event_type, props, t, user_id FROM d
      |)""".stripMargin

  def oracleSelectEq: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")}
       |SELECT event_type, props, round(t, 6) AS ts, round(v, 6) AS value FROM s""".stripMargin

  def oracleSelectRegex: String =
    s"""WITH ${sCte("WHERE regexp_matches(event_type, '^(purch|ref)') AND NOT regexp_matches(props, '\"k\": 1')")}
       |SELECT event_type, props, round(t, 6) AS ts, round(v, 6) AS value FROM s""".stripMargin

  private def oracleResample(where: String, offset: Double): String =
    s"""WITH ${sCte(where)},
       |${gridCte(Seq(("i", offset)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts, round($interpExpr, 6) + 0.0 AS value
       |FROM w WHERE ord = 1""".stripMargin

  def oracleResample1h: String = oracleResample("WHERE event_type = 'purchase'", 0.0)
  def oracleOffsetResample: String = oracleResample("WHERE event_type = 'purchase'", 3600.0)

  def oracleRate1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("h", 0.0), ("l", 3600.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, kind, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  round((max(CASE WHEN kind = 'h' THEN v END) - max(CASE WHEN kind = 'l' THEN v END)) / 3600.0, 6) + 0.0 AS value
       |FROM iv GROUP BY event_type, props, gt""".stripMargin

  def oracleIncrease1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("h", 0.0), ("l", 3600.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, kind, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  round(max(CASE WHEN kind = 'h' THEN v END) - max(CASE WHEN kind = 'l' THEN v END), 6) + 0.0 AS value
       |FROM iv GROUP BY event_type, props, gt""".stripMargin

  def oracleAvgOverTime1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + 3600.0) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + 3600.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi)
       |SELECT event_type, props, round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(avg(v), 6) + 0.0 AS value
       |FROM x GROUP BY event_type, props, k""".stripMargin

  /** Rollup oracles replay the windows from RAW samples (the store is an
    * internal layout; exact bucket-union semantics mean raw-window math is
    * the contract). Same klo/khi half-open window mapping as
    * [[oracleAvgOverTime1h]], no series filter. */
  def oracleRollupAvg1h: String =
    s"""WITH ${sCte("")},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + 3600.0) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + 3600.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi)
       |SELECT event_type, props, round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(avg(v), 6) + 0.0 AS value
       |FROM x GROUP BY event_type, props, k""".stripMargin

  /** last_over_time from raw samples: the window's latest sample —
    * float-free, so the store path must match bit-for-bit. */
  def oracleRollupLast1h: String =
    s"""WITH ${sCte("")},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + 3600.0) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + 3600.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, t, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi)
       |SELECT event_type, props, round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(v, 6) + 0.0 AS value
       |FROM (SELECT *, row_number() OVER (
       |    PARTITION BY event_type, props, k ORDER BY t DESC) AS rn FROM x)
       |WHERE rn = 1""".stripMargin

  /** Subquery oracle: inner 30m-aligned grid (first instant = smallest
    * multiple of 1800 > start - 3h = 1704058200; 1398 instants through the
    * grid end), interpolated like resample, then the same window-explode
    * mapping as the Spark side for the outer 3h max. */
  def oracleSubqueryMax: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |series AS (SELECT DISTINCT event_type, props FROM s),
       |gi AS (SELECT unnest(generate_series(0, 1397)) AS i),
       |grid AS (
       |  SELECT event_type, props, (1704058200.0 + (i * 1800.0)) AS gt, 'i' AS kind,
       |         (1704058200.0 + (i * 1800.0)) AS pr FROM series CROSS JOIN gi
       |),
       |${bracketCte(withLag = false)},
       |iv AS (SELECT event_type, props, gt AS it, $interpExpr AS v FROM w WHERE ord = 1),
       |iw AS (SELECT event_type, props, v,
       |    CAST(ceil((it - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((it - 1704067200.0 + 10800.0) / 3600.0 -
       |      CASE WHEN (it - 1704067200.0 + 10800.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM iv),
       |x AS (SELECT event_type, props, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM iw WHERE greatest(klo, 0) <= khi)
       |SELECT event_type, props, round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(max(v), 6) + 0.0 AS value
       |FROM x GROUP BY event_type, props, k""".stripMargin

  def oracleQuantileOverTime1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + 3600.0) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + 3600.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi)
       |SELECT event_type, props, round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(quantile_cont(v, 0.9), 6) + 0.0 AS value
       |FROM x GROUP BY event_type, props, k""".stripMargin

  def oracleMadOverTime1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + 3600.0) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + 3600.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi)
       |SELECT event_type, props, round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(mad(v), 6) + 0.0 AS value
       |FROM x GROUP BY event_type, props, k""".stripMargin

  def oracleIdelta1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + 3600.0) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + 3600.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, t, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi),
       |r AS (SELECT event_type, props, k, v,
       |    row_number() OVER (PARTITION BY event_type, props, k ORDER BY t DESC) AS rn FROM x)
       |SELECT event_type, props, round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(max(CASE WHEN rn = 1 THEN v END) - max(CASE WHEN rn = 2 THEN v END), 6) + 0.0 AS value
       |FROM r WHERE rn <= 2 GROUP BY event_type, props, k HAVING count(*) = 2""".stripMargin

  def oracleAbsentOverTime: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |p AS (SELECT DISTINCT uk.k FROM (
       |    SELECT CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |      LEAST(CAST(floor((t - 1704067200.0 + 300.0) / 3600.0 -
       |        CASE WHEN (t - 1704067200.0 + 300.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |    FROM s) u, UNNEST(range(greatest(u.klo, 0), u.khi + 1)) AS uk(k)
       |  WHERE greatest(u.klo, 0) <= u.khi),
       |gi AS (SELECT unnest(generate_series(0, $GridSteps)) AS i)
       |SELECT 'purchase' AS event_type, round(1704067200.0 + (i * 3600.0), 6) AS ts, 1.0 AS value
       |FROM gi WHERE i NOT IN (SELECT k FROM p)""".stripMargin

  def oracleRoundTo: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  round(floor($interpExpr * 0.1 + 0.5) / 0.1, 6) + 0.0 AS value
       |FROM w WHERE ord = 1""".stripMargin

  def oracleIrate1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = true)},
       |iv AS (
       |  SELECT event_type, props, gt,
       |    CASE
       |      WHEN pt IS NULL OR nt IS NULL THEN 'NaN'::DOUBLE
       |      WHEN ppt IS NULL THEN
       |        CASE WHEN (nv - pv) < 0 THEN 'NaN'::DOUBLE ELSE (nv - pv) / (nt - pt) END
       |      ELSE
       |        CASE WHEN (((pr - pt) * nv + (nt - pr) * pv) / (nt - pt) - ppv) < 0 THEN 'NaN'::DOUBLE
       |             ELSE (((pr - pt) * nv + (nt - pr) * pv) / (nt - pt) - ppv) / (pr - ppt) END
       |    END AS v
       |  FROM w WHERE ord = 1
       |)
       |SELECT event_type, props, round(gt, 6) AS ts, round(v, 6) + 0.0 AS value
       |FROM iv WHERE NOT isnan(v)""".stripMargin

  def oracleSumBy: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, round(gt, 6) AS ts, round(sum(v), 4) + 0.0 AS value
       |FROM iv GROUP BY event_type, gt""".stripMargin

  def oracleSumWithout: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT props, round(gt, 6) AS ts, round(sum(v), 4) + 0.0 AS value
       |FROM iv GROUP BY props, gt""".stripMargin

  /** Shared sample→window CTE for the `*_over_time` oracle family. */
  private def windowCte(where: String, range: Double = 3600.0): String =
    s"""${sCte(where)},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + $range) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + $range) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, t, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi)""".stripMargin

  /** The Prometheus holt_winters recurrence as a list_reduce fold with
    * LIST state `[i, p, s, b]` — DuckDB's struct-state lambdas mutate `acc`
    * field-by-field mid-expression, lists don't. */
  def oracleHoltWinters1d: String = {
    val (sf, tf) = (0.5, 0.3)
    s"""WITH ${windowCte("WHERE event_type = 'purchase'", 86400.0)},
       |lv AS (SELECT event_type, props, k, list(v ORDER BY t) AS vs
       |       FROM x GROUP BY 1, 2, 3),
       |f AS (SELECT event_type, props, k,
       |    list_reduce(
       |      [[1.0::DOUBLE, 0.0::DOUBLE, vs[1]::DOUBLE, (vs[2] - vs[1])::DOUBLE]] ||
       |        list_transform(vs[2:], y -> [y::DOUBLE]),
       |      (acc, y) -> [
       |        acc[1] + 1.0,
       |        acc[3],
       |        $sf * y[1] + (1 - $sf) * (acc[3] + (CASE WHEN acc[1] = 1.0 THEN acc[4] ELSE $tf * (acc[3] - acc[2]) + (1 - $tf) * acc[4] END)),
       |        CASE WHEN acc[1] = 1.0 THEN acc[4] ELSE $tf * (acc[3] - acc[2]) + (1 - $tf) * acc[4] END
       |      ]
       |    )[3] AS hw
       |  FROM lv WHERE len(vs) >= 2)
       |SELECT event_type, props,
       |  round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  floor(hw * 1e6 + 0.5) / 1e6 AS value
       |FROM f""".stripMargin
  }

  def oracleLastOverTime1h: String =
    s"""WITH ${windowCte("WHERE event_type = 'purchase'")}
       |SELECT event_type, props,
       |  round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(max_by(v, t), 6) + 0.0 AS value
       |FROM x GROUP BY event_type, props, k""".stripMargin

  def oracleChanges1h: String =
    s"""WITH ${windowCte("WHERE event_type = 'purchase'")},
       |lg AS (SELECT event_type, props, k, v,
       |    lag(v) OVER (PARTITION BY event_type, props, k ORDER BY t) AS pv
       |  FROM x)
       |SELECT event_type, props,
       |  round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round(sum(CASE WHEN pv IS NOT NULL AND v != pv THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS value
       |FROM lg GROUP BY event_type, props, k""".stripMargin

  /** The native-histogram quantile walk, relationally: bucket index from
    * the same round-guarded log2, cumulative counts ordered by idx, first
    * bucket reaching rank, linear interpolation inside it. Counts are
    * integer-valued doubles, so every cumulative sum is exact regardless
    * of order; only the final pow-interpolation is rounded. */
  /** NHCB replica: the intersection downscale is EXACT re-bucketing, so
    * the merged distribution equals direct bucketing of all raw values at
    * the intersection bounds (100, 200); the walk mirrors the sparse
    * custom-bucket fold — `lo + (hi−lo)·((rank − cum_before)/cnt)`, zero
    * buckets skipped, overflow estimating the last finite bound. */
  def oracleNativeCustomQuantile: String =
    s"""WITH s AS (SELECT
       |    1704067200.0 + floor((epoch(ts) - 1704067200.0) / 3600.0) * 3600.0 AS gt,
       |    value AS v FROM events),
       |c AS (SELECT gt,
       |    CAST(count(CASE WHEN v <= 100.0 THEN 1 END) AS DOUBLE) AS c100,
       |    CAST(count(CASE WHEN v <= 200.0 THEN 1 END) AS DOUBLE) AS c200,
       |    CAST(count(*) AS DOUBLE) AS cInf
       |  FROM s GROUP BY 1)
       |SELECT round(gt, 6) AS ts,
       |  round(CASE
       |    WHEN c100 > 0 AND c100 >= 0.9 * cInf
       |      THEN 0.0 + (100.0 - 0.0) * ((0.9 * cInf - 0.0) / c100)
       |    WHEN c200 - c100 > 0 AND c200 >= 0.9 * cInf
       |      THEN 100.0 + (200.0 - 100.0) * ((0.9 * cInf - c100) / (c200 - c100))
       |    ELSE 200.0 END, 6) + 0.0 AS value
       |FROM c""".stripMargin

  def oracleNativeQuantile: String =
    s"""WITH s AS (SELECT event_type,
       |    1704067200.0 + floor((epoch(ts) - 1704067200.0) / 3600.0) * 3600.0 AS gt,
       |    value AS v FROM events),
       |i AS (SELECT event_type, gt,
       |    CASE WHEN v > 0 THEN CAST(ceil(round(log2(v) * 4, 9)) AS INT) END AS idx FROM s),
       |b AS (SELECT event_type, gt, idx, CAST(count(*) AS DOUBLE) AS cnt
       |  FROM i WHERE idx IS NOT NULL GROUP BY 1, 2, 3),
       |tot AS (SELECT event_type, gt,
       |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS zc,
       |    CAST(count(*) AS DOUBLE) AS total FROM i GROUP BY 1, 2),
       |c AS (SELECT b.*, sum(cnt) OVER (PARTITION BY event_type, gt ORDER BY idx) AS cum FROM b),
       |r AS (SELECT c.event_type, c.gt, c.idx, c.cnt, c.cum, tot.zc,
       |    0.9 * tot.total AS rk FROM c JOIN tot USING (event_type, gt)),
       |hit AS (SELECT *, row_number() OVER (PARTITION BY event_type, gt ORDER BY idx) AS rn
       |  FROM r WHERE zc + cum >= rk)
       |SELECT event_type, round(gt, 6) AS ts,
       |  round(CASE WHEN rk <= zc AND zc > 0 THEN 0.0
       |    ELSE pow(2.0, (idx - 1) * 0.25) +
       |      (pow(2.0, idx * 0.25) - pow(2.0, (idx - 1) * 0.25)) * ((rk - (zc + cum - cnt)) / cnt)
       |    END, 6) + 0.0 AS value
       |FROM hit WHERE rn = 1""".stripMargin

  /** Signed quantile replica: the zero bucket joins the spectra as an
    * injected `sg = 0` row, the cumulative walk orders by
    * (sg, sign-flipped idx) = ascending value, and interpolation picks
    * its bounds per sign. */
  def oracleNativeQuantileSigned: String =
    s"""WITH s AS (SELECT event_type,
       |    1704067200.0 + floor((epoch(ts) - 1704067200.0) / 3600.0) * 3600.0 AS gt,
       |    value - 50.0 AS v FROM events),
       |i AS (SELECT event_type, gt, v,
       |    CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sg,
       |    CASE WHEN v <> 0 THEN CAST(ceil(round(log2(abs(v)) * 4, 9)) AS INT) END AS idx FROM s),
       |b AS (SELECT event_type, gt, sg, idx, CAST(count(*) AS DOUBLE) AS cnt
       |  FROM i WHERE sg <> 0 GROUP BY 1, 2, 3, 4),
       |z AS (SELECT event_type, gt, 0 AS sg, NULL AS idx,
       |    CAST(sum(CASE WHEN sg = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS cnt
       |  FROM i GROUP BY 1, 2),
       |tot AS (SELECT event_type, gt, CAST(count(*) AS DOUBLE) AS total
       |  FROM i GROUP BY 1, 2),
       |u AS (SELECT * FROM b UNION ALL SELECT * FROM z),
       |c AS (SELECT u.*, tot.total, 0.5 * tot.total AS rk,
       |    sum(cnt) OVER (PARTITION BY u.event_type, u.gt
       |      ORDER BY sg, CASE WHEN sg = -1 THEN -idx ELSE idx END) AS cum
       |  FROM u JOIN tot USING (event_type, gt)),
       |hit AS (SELECT *, row_number() OVER (PARTITION BY event_type, gt
       |    ORDER BY sg, CASE WHEN sg = -1 THEN -idx ELSE idx END) AS rn
       |  FROM c WHERE cum >= rk AND cnt > 0)
       |SELECT event_type, round(gt, 6) AS ts,
       |  round(CASE WHEN sg = 0 THEN 0.0
       |    WHEN sg = 1 THEN pow(2.0, (idx - 1) * 0.25) +
       |      (pow(2.0, idx * 0.25) - pow(2.0, (idx - 1) * 0.25)) * ((rk - (cum - cnt)) / cnt)
       |    ELSE -pow(2.0, idx * 0.25) +
       |      (pow(2.0, idx * 0.25) - pow(2.0, (idx - 1) * 0.25)) * ((rk - (cum - cnt)) / cnt)
       |    END, 6) + 0.0 AS value
       |FROM hit WHERE rn = 1""".stripMargin

  /** Quantile-of-rate replica: bucket counts per (event_type, minute),
    * first/last minute per hourly lookback window, per-bucket
    * (last − first)/range deltas (positives kept, zero delta clamped),
    * then the cumulative walk. Zero-only and empty windows are emitted
    * explicitly (0.0 / NaN) to match the engine's quantile edges. */
  /** Shared CTE prefix for the native-rate oracles: per-minute bucket
    * counts, per-window first/last minutes, per-series bucket deltas
    * (`db`, positives kept) and clamped zero deltas (`dz`). */
  private def nativeRateCtes: String =
    s"""s AS (SELECT event_type,
       |    1704067200.0 + floor((epoch(ts) - 1704067200.0) / 60.0) * 60.0 AS mt,
       |    value AS v FROM events),
       |i AS (SELECT event_type, mt,
       |    CASE WHEN v > 0 THEN CAST(ceil(round(log2(v) * 4, 9)) AS INT) END AS idx FROM s),
       |bc AS (SELECT event_type, mt, idx, CAST(count(*) AS DOUBLE) AS cnt
       |  FROM i WHERE idx IS NOT NULL GROUP BY 1, 2, 3),
       |zc AS (SELECT event_type, mt,
       |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS z
       |  FROM i GROUP BY 1, 2),
       |gt AS (SELECT 1704067200.0 + unnest(generate_series(0, $GridSteps)) * 3600.0 AS t),
       |mm AS (SELECT d.event_type, gt.t, min(d.mt) AS mn, max(d.mt) AS mx
       |  FROM (SELECT DISTINCT event_type, mt FROM s) d
       |  JOIN gt ON d.mt > gt.t - 3600.0 AND d.mt <= gt.t
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |db AS (SELECT mm.event_type, mm.t, b.idx,
       |    sum(CASE WHEN b.mt = mm.mx THEN b.cnt ELSE -b.cnt END) / 3600.0 AS dc
       |  FROM mm JOIN bc b ON b.event_type = mm.event_type AND b.mt IN (mm.mn, mm.mx)
       |  GROUP BY 1, 2, 3
       |  HAVING sum(CASE WHEN b.mt = mm.mx THEN b.cnt ELSE -b.cnt END) > 0),
       |dz AS (SELECT mm.event_type, mm.t,
       |    greatest(sum(CASE WHEN z.mt = mm.mx THEN z.z ELSE -z.z END) / 3600.0, 0.0) AS z
       |  FROM mm JOIN zc z ON z.event_type = mm.event_type AND z.mt IN (mm.mn, mm.mx)
       |  GROUP BY 1, 2)""".stripMargin

  def oracleNativeRateQuantile: String =
    s"""WITH $nativeRateCtes,
       |tot AS (SELECT dz.event_type, dz.t, dz.z,
       |    coalesce(bs.bsum, 0) + dz.z AS total
       |  FROM dz LEFT JOIN (SELECT event_type, t, sum(dc) AS bsum
       |    FROM db GROUP BY 1, 2) bs USING (event_type, t)),
       |c AS (SELECT db.*, sum(dc) OVER (PARTITION BY event_type, t ORDER BY idx) AS cum FROM db),
       |r AS (SELECT c.event_type, c.t, c.idx, c.dc, c.cum, tot.z,
       |    0.9 * tot.total AS rk FROM c JOIN tot USING (event_type, t)),
       |hit AS (SELECT *, row_number() OVER (PARTITION BY event_type, t ORDER BY idx) AS rn
       |  FROM r WHERE z + cum >= rk AND dc > 0)
       |SELECT event_type, round(t, 6) AS ts,
       |  round(CASE WHEN rk <= z AND z > 0 THEN 0.0
       |    ELSE pow(2.0, (idx - 1) * 0.25) +
       |      (pow(2.0, idx * 0.25) - pow(2.0, (idx - 1) * 0.25)) * ((rk - (z + cum - dc)) / dc)
       |    END, 6) + 0.0 AS value
       |FROM hit WHERE rn = 1
       |UNION ALL
       |SELECT tot.event_type, round(tot.t, 6) AS ts,
       |  CASE WHEN tot.total > 0 THEN 0.0 ELSE CAST('nan' AS DOUBLE) END AS value
       |FROM tot LEFT JOIN (SELECT DISTINCT event_type, t FROM db) d USING (event_type, t)
       |WHERE d.t IS NULL""".stripMargin

  /** sum(rate(...)) replica: per-series deltas aggregated across series
    * per (instant, bucket), then the same walk with no event_type key. */
  def oracleNativeSumRateQuantile: String =
    s"""WITH $nativeRateCtes,
       |sdb AS (SELECT t, idx, sum(dc) AS dc FROM db GROUP BY 1, 2),
       |sdz AS (SELECT t, sum(z) AS z FROM dz GROUP BY 1),
       |stot AS (SELECT sdz.t, sdz.z, coalesce(bs.bsum, 0) + sdz.z AS total
       |  FROM sdz LEFT JOIN (SELECT t, sum(dc) AS bsum FROM sdb GROUP BY 1) bs USING (t)),
       |c AS (SELECT sdb.*, sum(dc) OVER (PARTITION BY t ORDER BY idx) AS cum FROM sdb),
       |r AS (SELECT c.t, c.idx, c.dc, c.cum, stot.z, 0.9 * stot.total AS rk
       |  FROM c JOIN stot USING (t)),
       |hit AS (SELECT *, row_number() OVER (PARTITION BY t ORDER BY idx) AS rn
       |  FROM r WHERE z + cum >= rk AND dc > 0)
       |SELECT round(t, 6) AS ts,
       |  round(CASE WHEN rk <= z AND z > 0 THEN 0.0
       |    ELSE pow(2.0, (idx - 1) * 0.25) +
       |      (pow(2.0, idx * 0.25) - pow(2.0, (idx - 1) * 0.25)) * ((rk - (z + cum - dc)) / dc)
       |    END, 6) + 0.0 AS value
       |FROM hit WHERE rn = 1
       |UNION ALL
       |SELECT round(stot.t, 6) AS ts,
       |  CASE WHEN stot.total > 0 THEN 0.0 ELSE CAST('nan' AS DOUBLE) END AS value
       |FROM stot LEFT JOIN (SELECT DISTINCT t FROM sdb) d USING (t)
       |WHERE d.t IS NULL""".stripMargin

  /** Bucket-midpoint stddev replica: per-(sign, idx) counts, arithmetic
    * midpoints (sign-mirrored), exact mean from the raw sums, zero bucket
    * contributing mean². */
  def oracleNativeStddev: String =
    s"""WITH s AS (SELECT event_type,
       |    1704067200.0 + floor((epoch(ts) - 1704067200.0) / 3600.0) * 3600.0 AS gt,
       |    value - 50.0 AS v FROM events),
       |i AS (SELECT event_type, gt, v,
       |    CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sg,
       |    CASE WHEN v <> 0 THEN CAST(ceil(round(log2(abs(v)) * 4, 9)) AS INT) END AS idx FROM s),
       |tot AS (SELECT event_type, gt, sum(v) / count(*) AS mean,
       |    CAST(count(*) AS DOUBLE) AS total,
       |    CAST(sum(CASE WHEN sg = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS zc
       |  FROM i GROUP BY 1, 2),
       |b AS (SELECT event_type, gt, sg, idx, CAST(count(*) AS DOUBLE) AS cnt
       |  FROM i WHERE sg <> 0 GROUP BY 1, 2, 3, 4),
       |sq AS (SELECT b.event_type, b.gt,
       |    sum(b.cnt * pow(b.sg * (pow(2.0, b.idx * 0.25) + pow(2.0, (b.idx - 1) * 0.25)) / 2 - tot.mean, 2)) AS sq
       |  FROM b JOIN tot USING (event_type, gt) GROUP BY 1, 2)
       |SELECT tot.event_type, round(tot.gt, 6) AS ts,
       |  round(sqrt((coalesce(sq.sq, 0) + tot.zc * tot.mean * tot.mean) / tot.total), 4) + 0.0 AS value
       |FROM tot LEFT JOIN sq USING (event_type, gt)""".stripMargin

  /** Mixed-schema merge replica: per-sample bucket index at the series'
    * own schema, per-instant target = min schema present, remap
    * `ceil(idx / 2^(s - tgt))`, then count per merged bucket. Counts are
    * integer-valued doubles (exact in any sum order); nh_sum rounds like
    * every cross-engine float sum. */
  def oracleNativeMergeMixed: String =
    s"""WITH s AS (SELECT event_type,
       |    1704067200.0 + floor((epoch(ts) - 1704067200.0) / 3600.0) * 3600.0 AS gt,
       |    value AS v,
       |    CASE WHEN event_type = 'purchase' THEN 3 ELSE 2 END AS sch
       |  FROM events),
       |i AS (SELECT event_type, gt, sch, v,
       |    CASE WHEN v > 0 THEN CAST(ceil(round(log2(v) * pow(2.0, sch), 9)) AS INT) END AS idx FROM s),
       |tgt AS (SELECT gt, CAST(min(sch) AS INT) AS stgt FROM i GROUP BY 1),
       |r AS (SELECT i.gt, tgt.stgt,
       |    CASE WHEN idx IS NOT NULL
       |      THEN CAST(ceil(CAST(idx AS DOUBLE) / pow(2.0, i.sch - tgt.stgt)) AS INT) END AS ri,
       |    v FROM i JOIN tgt USING (gt)),
       |b AS (SELECT gt, stgt, ri, CAST(count(*) AS DOUBLE) AS cnt
       |  FROM r WHERE ri IS NOT NULL GROUP BY 1, 2, 3),
       |sc AS (SELECT gt,
       |    CAST(sum(CASE WHEN ri IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS zc,
       |    sum(v) AS vs, CAST(count(*) AS DOUBLE) AS total FROM r GROUP BY 1)
       |SELECT round(b.gt, 6) AS ts, b.stgt AS nh_schema,
       |  round(sc.zc, 6) AS zero_count, round(sc.vs, 6) AS hsum,
       |  round(sc.total, 6) AS hcount, b.ri AS idx, round(b.cnt, 6) AS cnt
       |FROM b JOIN sc USING (gt)""".stripMargin

  def oracleRateResets1h: String =
    s"""WITH ${windowCte("WHERE event_type = 'purchase'")},
       |lg AS (SELECT event_type, props, k, t, v,
       |    lag(v) OVER (PARTITION BY event_type, props, k ORDER BY t) AS pv
       |  FROM x),
       |g AS (SELECT event_type, props, k,
       |    count(*) AS n,
       |    arg_min(v, t) AS fv, arg_max(v, t) AS lv,
       |    sum(CASE WHEN pv IS NOT NULL AND (pv - v) > abs(pv) * 1e-9
       |      THEN pv ELSE 0.0 END) AS corr
       |  FROM lg GROUP BY 1, 2, 3)
       |SELECT event_type, props,
       |  round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round((lv - fv + corr) / 3600.0, 6) + 0.0 AS value
       |FROM g WHERE n >= 2""".stripMargin

  def oracleIrateResets1h: String =
    s"""WITH ${windowCte("WHERE event_type = 'purchase'")},
       |lv AS (SELECT event_type, props, k,
       |    list(v ORDER BY t) AS vs, list(t ORDER BY t) AS tss
       |  FROM x GROUP BY 1, 2, 3)
       |SELECT event_type, props,
       |  round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round((CASE WHEN (vs[-2] - vs[-1]) > abs(vs[-2]) * 1e-9 THEN vs[-1]
       |    ELSE vs[-1] - vs[-2] END) / (tss[-1] - tss[-2]), 6) + 0.0 AS value
       |FROM lv WHERE len(vs) >= 2""".stripMargin

  def oraclePredictLinear1h: String =
    s"""WITH ${windowCte("WHERE event_type = 'purchase'")},
       |c AS (SELECT event_type, props, k,
       |    t - (1704067200.0 + (CAST(k AS DOUBLE) * 3600.0)) AS tc,
       |    min(v) OVER (PARTITION BY event_type, props) AS c0,
       |    v - min(v) OVER (PARTITION BY event_type, props) AS vc FROM x),
       |g AS (SELECT event_type, props, k, min(c0) AS c0,
       |    CAST(count(*) AS DOUBLE) AS n, sum(tc) AS st, sum(vc) AS sv,
       |    sum(tc * vc) AS stv, sum(tc * tc) AS stt
       |  FROM c GROUP BY 1, 2, 3),
       |r AS (SELECT *, (n * stv - st * sv) / (n * stt - st * st) AS slope
       |  FROM g WHERE n >= 2 AND (n * stt - st * st) > 1e-9 * (n * stt))
       |SELECT event_type, props,
       |  round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round((sv - slope * st) / n + slope * 600.0 + c0, 6) + 0.0 AS value
       |FROM r""".stripMargin

  def oracleStddevBy: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, round(gt, 6) AS ts,
       |  round(sqrt(sum(v * v) / count(*) - (sum(v) / count(*)) * (sum(v) / count(*))), 4) + 0.0 AS value
       |FROM iv GROUP BY event_type, gt""".stripMargin

  def oracleLabelReplace: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT regexp_replace(event_type, '^(?:purch(.*))$$', '\\1X') AS etype, props,
       |  round(gt, 6) AS ts, round($interpExpr, 6) + 0.0 AS value
       |FROM w WHERE ord = 1""".stripMargin

  /** Probe grid instants for a resampled purchase selector (series × grid),
    * for value-is-the-timestamp function oracles. */
  private def gtOnly(valueExpr: String): String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |series AS (SELECT DISTINCT event_type, props FROM s),
       |gi AS (SELECT unnest(generate_series(0, $GridSteps)) AS i),
       |g AS (SELECT event_type, props, (1704067200.0 + (i * 3600.0)) AS gt FROM series CROSS JOIN gi)
       |SELECT event_type, props, round(gt, 6) AS ts, $valueExpr AS value FROM g""".stripMargin

  def oracleHourOfTs: String =
    gtOnly("CAST(CAST(floor(gt / 3600.0) AS BIGINT) % 24 AS DOUBLE)")

  def oracleMonthOfTs: String =
    gtOnly("CAST(date_part('month', make_timestamp(CAST(gt AS BIGINT) * 1000000)) AS DOUBLE)")

  def oracleCountValues: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT CAST(CAST(floor($interpExpr) AS BIGINT) AS VARCHAR) AS v, gt
       |  FROM w WHERE ord = 1
       |)
       |SELECT v, round(gt, 6) AS ts, round(CAST(count(*) AS DOUBLE), 6) AS value
       |FROM iv GROUP BY v, gt""".stripMargin

  def oracleMathLn: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  round(ln($interpExpr), 6) + 0.0 AS value
       |FROM w WHERE ord = 1""".stripMargin

  def oracleClamp: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  round(least(greatest($interpExpr, 50.0), 150.0), 6) + 0.0 AS value
       |FROM w WHERE ord = 1""".stripMargin

  def oracleMathTrig: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  round(degrees(atan(sin($interpExpr))) / pi(), 6) + 0.0 AS value
       |FROM w WHERE ord = 1""".stripMargin

  /** Pinned-probe variant of the grid CTE: every output instant gt brackets
    * the SAME probe time (the @ timestamp), mirroring AtMod's pin+replicate. */
  def oracleAtModifier: String =
    s"""WITH ${sCte("")},
       |series AS (SELECT DISTINCT event_type, props FROM s),
       |gi AS (SELECT unnest(generate_series(0, $GridSteps)) AS i),
       |grid AS (
       |  SELECT event_type, props, (1704067200.0 + (i * 3600.0)) AS gt, 'i' AS kind, 1704153600.0 AS pr FROM series CROSS JOIN gi
       |),
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, round(gt, 6) AS ts, round(sum(v), 4) + 0.0 AS value
       |FROM iv GROUP BY event_type, gt""".stripMargin

  def oracleScalarNorm: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |),
       |tot AS (SELECT gt, sum(v) AS s FROM iv GROUP BY gt)
       |SELECT iv.event_type, iv.props, round(iv.gt, 6) AS ts,
       |  round(iv.v / tot.s, 6) + 0.0 AS value
       |FROM iv JOIN tot ON iv.gt = tot.gt""".stripMargin

  def oracleGroupRatio: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |),
       |tot AS (SELECT event_type, gt, sum(v) AS s FROM iv GROUP BY 1, 2)
       |SELECT iv.event_type, iv.props, round(iv.gt, 6) AS ts,
       |  round(iv.v / tot.s, 6) + 0.0 AS value
       |FROM iv JOIN tot ON iv.event_type = tot.event_type AND iv.gt = tot.gt""".stripMargin

  def oracleTimeHour: String =
    s"""SELECT round(1704067200.0 + (i * 3600.0), 6) AS ts,
       |  CAST(floor((1704067200.0 + (i * 3600.0)) / 3600.0) % 24 AS DOUBLE) AS value
       |FROM (SELECT unnest(generate_series(0, $GridSteps)) AS i)""".stripMargin

  def oracleGroupBy: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, round(gt, 6) AS ts, 1.0 AS value
       |FROM iv GROUP BY event_type, gt""".stripMargin

  /** Same centered sums as RangeKernel.Deriv. */
  def oracleDeriv1h: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |w AS (SELECT event_type, props, t, v,
       |    CAST(ceil((t - 1704067200.0) / 3600.0) AS INT) AS klo,
       |    LEAST(CAST(floor((t - 1704067200.0 + 3600.0) / 3600.0 -
       |      CASE WHEN (t - 1704067200.0 + 3600.0) % 3600.0 = 0 THEN 1 ELSE 0 END) AS INT), $GridSteps) AS khi
       |  FROM s),
       |x AS (SELECT event_type, props, t, v, unnest(range(greatest(klo, 0), khi + 1)) AS k
       |      FROM w WHERE greatest(klo, 0) <= khi),
       |c AS (SELECT event_type, props, k,
       |    t - (1704067200.0 + (CAST(k AS DOUBLE) * 3600.0)) AS tc,
       |    v - min(v) OVER (PARTITION BY event_type, props) AS vc FROM x),
       |g AS (SELECT event_type, props, k,
       |    CAST(count(*) AS DOUBLE) AS n, sum(tc) AS st, sum(vc) AS sv,
       |    sum(tc * vc) AS stv, sum(tc * tc) AS stt
       |  FROM c GROUP BY 1, 2, 3)
       |SELECT event_type, props,
       |  round(1704067200.0 + (CAST(k AS DOUBLE) * 3600.0), 6) AS ts,
       |  round((n * stv - st * sv) / (n * stt - st * st), 6) + 0.0 AS value
       |FROM g WHERE n >= 2 AND (n * stt - st * st) > 1e-9 * (n * stt)""".stripMargin

  def oracleBinopVs: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  round(($interpExpr) * 2.0 - 100.0, 6) + 0.0 AS value
       |FROM w WHERE ord = 1""".stripMargin

  def oracleBinopVv: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("h", 0.0), ("l", 3600.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, kind, $interpExpr AS v FROM w WHERE ord = 1
       |),
       |d AS (
       |  SELECT event_type, props, round(gt, 6) AS ts,
       |    round(max(CASE WHEN kind = 'h' THEN v END) / max(CASE WHEN kind = 'l' THEN v END), 6) + 0.0 AS value
       |  FROM iv GROUP BY event_type, props, gt
       |)
       |SELECT * FROM d WHERE isfinite(value)""".stripMargin

  def oracleBinopCmp: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts,
       |  CASE WHEN ($interpExpr) > 120.0 THEN 1.0 ELSE 0.0 END AS value
       |FROM w WHERE ord = 1""".stripMargin

  def oracleBinopOr: String = oracleResample("WHERE event_type IN ('purchase', 'refund')", 0.0)

  def oracleAvgBy: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, round(gt, 6) AS ts, round(avg(v), 4) + 0.0 AS value
       |FROM iv GROUP BY event_type, gt""".stripMargin

  /** limitk is a WHOLE-RANGE series sample (one global rank of the
    * distinct series set, not a per-instant rank — mirrors
    * Aggregate.limitk's distinct-(group, skey) selection exactly, so the
    * oracle stays aligned even if a chosen series were absent from part
    * of the grid). */
  def oracleLimitk: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |),
       |ser AS (
       |  SELECT event_type, props,
       |    row_number() OVER (PARTITION BY event_type ORDER BY
       |      '__name__=events,event_type=' || event_type || ',props=' || props) AS rn
       |  FROM (SELECT DISTINCT event_type, props FROM iv)
       |)
       |SELECT iv.event_type, iv.props, round(gt, 6) AS ts, round(v, 6) + 0.0 AS value
       |FROM iv JOIN ser ON iv.event_type = ser.event_type AND iv.props = ser.props
       |WHERE ser.rn <= 2""".stripMargin

  def oracleLimitRatio: String =
    s"""WITH ${sCte("WHERE event_type = 'purchase'")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)}
       |SELECT event_type, props, round(gt, 6) AS ts, round($interpExpr, 6) + 0.0 AS value
       |FROM w WHERE ord = 1
       |  AND ('0x' || substr(md5('__name__=events,event_type=' || event_type || ',props=' || props), 1, 6))::BIGINT / 16777216.0 < 0.4""".stripMargin

  def oracleTopk3: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |),
       |r AS (
       |  SELECT event_type, props, gt, v,
       |    row_number() OVER (PARTITION BY gt ORDER BY v DESC,
       |      '__name__=events,event_type=' || event_type || ',props=' || props) AS rn
       |  FROM iv
       |)
       |SELECT event_type, props, round(gt, 6) AS ts, round(v, 6) + 0.0 AS value
       |FROM r WHERE rn <= 3""".stripMargin

  def oracleQuantileBy: String =
    s"""WITH ${sCte("")},
       |${gridCte(Seq(("i", 0.0)))},
       |${bracketCte(withLag = false)},
       |iv AS (
       |  SELECT event_type, props, gt, $interpExpr AS v FROM w WHERE ord = 1
       |)
       |SELECT event_type, round(gt, 6) AS ts, round(quantile_cont(v, 0.9), 4) + 0.0 AS value
       |FROM iv GROUP BY event_type, gt""".stripMargin

  def oracleHistQuantile: String =
    s"""WITH b(le, le_str) AS (VALUES (50.0, '50'), (100.0, '100'), (200.0, '200'), ('inf'::DOUBLE, '+Inf')),
       |ev AS (SELECT event_type, epoch(ts) AS t, value FROM events),
       |s0 AS (
       |  SELECT DISTINCT ev.event_type, b.le, ev.t,
       |    CAST(count(*) OVER (PARTITION BY ev.event_type, b.le ORDER BY ev.t RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
       |  FROM ev JOIN b ON ev.value <= b.le
       |),
       |s AS (SELECT event_type, le, t, cum AS v FROM s0),
       |series AS (SELECT DISTINCT event_type, le FROM s),
       |gi AS (SELECT unnest(generate_series(0, $GridSteps)) AS i),
       |grid AS (
       |  SELECT event_type, le, (1704067200.0 + (i * 3600.0)) AS gt, 'h' AS kind, (1704067200.0 + (i * 3600.0)) - (0.0) AS pr FROM series CROSS JOIN gi
       |  UNION ALL
       |  SELECT event_type, le, (1704067200.0 + (i * 3600.0)) AS gt, 'l' AS kind, (1704067200.0 + (i * 3600.0)) - (3600.0) AS pr FROM series CROSS JOIN gi
       |),
       |u AS (
       |  SELECT event_type, le, t, 0 AS ord, t AS st, v AS sv, NULL::DOUBLE AS gt, NULL::VARCHAR AS kind, NULL::DOUBLE AS pr FROM s
       |  UNION ALL
       |  SELECT event_type, le, pr AS t, 1, NULL, NULL, gt, kind, pr FROM grid
       |),
       |w AS (
       |  SELECT event_type, le, gt, kind, pr,
       |    last_value(st IGNORE NULLS) OVER wp AS pt,
       |    last_value(sv IGNORE NULLS) OVER wp AS pv,
       |    first_value(st IGNORE NULLS) OVER wf AS nt,
       |    first_value(sv IGNORE NULLS) OVER wf AS nv,
       |    ord
       |  FROM u
       |  WINDOW
       |    wp AS (PARTITION BY event_type, le ORDER BY t, ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wf AS (PARTITION BY event_type, le ORDER BY t, ord ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |),
       |iv AS (
       |  SELECT event_type, le, gt, kind, $interpExpr AS v FROM w WHERE ord = 1
       |),
       |rate AS (
       |  SELECT event_type, le, gt,
       |    (max(CASE WHEN kind = 'h' THEN v END) - max(CASE WHEN kind = 'l' THEN v END)) / 3600.0 AS r
       |  FROM iv GROUP BY event_type, le, gt
       |),
       |finite AS (
       |  SELECT event_type, gt, le, r,
       |    lag(r, 1, 0.0) OVER wl AS pc, lag(le, 1, 0.0) OVER wl AS pl
       |  FROM rate WHERE le != 'inf'::DOUBLE
       |  WINDOW wl AS (PARTITION BY event_type, gt ORDER BY le)
       |),
       |tot AS (SELECT event_type, gt, 0.95 * r AS cutoff FROM rate WHERE le = 'inf'::DOUBLE),
       |walk AS (
       |  SELECT f.event_type, f.gt,
       |    coalesce(
       |      min_by(CASE WHEN (f.r - f.pc) = 0 THEN 'NaN'::DOUBLE
       |                  ELSE f.le - (f.le - f.pl) * (f.r - t.cutoff) / (f.r - f.pc) END, f.le)
       |        FILTER (WHERE f.r >= t.cutoff),
       |      200.0) AS est
       |  FROM finite f JOIN tot t ON f.event_type = t.event_type AND f.gt = t.gt
       |  GROUP BY f.event_type, f.gt
       |)
       |SELECT event_type, round(gt, 6) AS ts, round(est, 4) + 0.0 AS value
       |FROM walk WHERE NOT isnan(est)""".stripMargin

  def oracleIngestHistogram: String =
    """WITH m AS (
      |  SELECT event_type,
      |    floor((epoch(ts) - 1704067200.0) / 60.0) * 60.0 + 1704067200.0 AS t,
      |    count(*) FILTER (WHERE value <= 50.0) AS c50,
      |    count(*) FILTER (WHERE value <= 100.0) AS c100,
      |    count(*) FILTER (WHERE value <= 200.0) AS c200,
      |    count(*) AS cnt, sum(value) AS sm
      |  FROM events GROUP BY 1, 2)
      |SELECT name, le, event_type, round(t, 6) AS ts, round(v, 6) AS value FROM (
      |  SELECT 'perf_bucket' AS name, '50' AS le, event_type, t, CAST(c50 AS DOUBLE) AS v FROM m
      |  UNION ALL SELECT 'perf_bucket', '100', event_type, t, CAST(c100 AS DOUBLE) FROM m
      |  UNION ALL SELECT 'perf_bucket', '200', event_type, t, CAST(c200 AS DOUBLE) FROM m
      |  UNION ALL SELECT 'perf_bucket', '+Inf', event_type, t, CAST(cnt AS DOUBLE) FROM m
      |  UNION ALL SELECT 'perf_count', NULL, event_type, t, CAST(cnt AS DOUBLE) FROM m
      |  UNION ALL SELECT 'perf_sum', NULL, event_type, t, sm FROM m)""".stripMargin

  def oracleRetagConfig: String =
    """SELECT event_type, 'production' AS env, 'eu-1' AS dc,
      |  round(epoch(ts), 6) AS ts, round(avg(value), 6) AS value
      |FROM events GROUP BY event_type, props, epoch(ts)""".stripMargin

  def oracleMetadataLabels: String =
    """SELECT label FROM (
      |  SELECT column_name AS label FROM (DESCRIBE SELECT * FROM events) WHERE column_type = 'VARCHAR'
      |  UNION ALL SELECT '__name__'
      |) ORDER BY label""".stripMargin

  def oracleMetadataSeries: String =
    """SELECT name FROM (
      |  SELECT 'events' AS name
      |  UNION ALL
      |  SELECT 'events_' || column_name FROM (DESCRIBE SELECT * FROM events)
      |  WHERE column_type IN ('BIGINT', 'DOUBLE') AND column_name <> 'value'
      |) ORDER BY name""".stripMargin

  def oracleLabelValues: String =
    "SELECT DISTINCT event_type AS value FROM events ORDER BY value"

  def oracleParseDuration: String =
    """SELECT * FROM (VALUES
      |  ('1.5', 1.5), ('1s', 1.0), ('500ms', 0.5), ('1s500ms', 1.5),
      |  ('2m1s500ms', 121.5), ('1h2m1s500ms', 3721.5), ('1d', 86400.0),
      |  ('2w', 1209600.0), ('1y', 31536000.0)) t(d, secs)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_events" -> (ingestEvents _),
    "select_eq" -> (selectEq _),
    "select_regex" -> (selectRegex _),
    "resample_1h" -> (resample1h _),
    "offset_resample" -> (offsetResample _),
    "rate_1h" -> (rate1h _),
    "increase_1h" -> (increase1h _),
    "avg_over_time_1h" -> (avgOverTime1h _),
    "rollup_avg_1h" -> (rollupAvg1h _),
    "rollup_last_1h" -> (rollupLast1h _),
    "rollup_eval_1h" -> (rollupEval1h _),
    "quantile_over_time_1h" -> (quantileOverTime1h _),
    "mad_over_time_1h" -> (madOverTime1h _),
    "idelta_1h" -> (idelta1h _),
    "absent_over_time" -> (absentOverTimeQ _),
    "subquery_max" -> (subqueryMax _),
    "round_to" -> (roundTo _),
    "irate_1h" -> (irate1h _),
    "sum_by" -> (sumBy _),
    "sum_without" -> (sumWithout _),
    "binop_vs" -> (binopVs _),
    "binop_vv" -> (binopVv _),
    "binop_cmp" -> (binopCmp _),
    "binop_or" -> (binopOr _),
    "math_ln" -> (mathLn _),
    "math_trig" -> (mathTrig _),
    "group_by" -> (groupByQ _),
    "at_modifier" -> (atModifier _),
    "scalar_norm" -> (scalarNorm _),
    "time_hour" -> (timeHour _),
    "limitk" -> (limitkQ _),
    "limit_ratio" -> (limitRatioQ _),
    "group_ratio" -> (groupRatio _),
    "clamp" -> (clampQ _),
    "deriv_1h" -> (deriv1h _),
    "last_over_time_1h" -> (lastOverTime1h _),
    "changes_1h" -> (changes1h _),
    "rate_resets_1h" -> (rateResets1h _),
    "native_quantile" -> (nativeQuantileQ _),
    "native_custom_quantile" -> (nativeCustomQuantileQ _),
    "native_merge_mixed" -> (nativeMergeMixedQ _),
    "native_quantile_signed" -> (nativeQuantileSignedQ _),
    "native_stddev" -> (nativeStddevQ _),
    "native_rate_quantile" -> (nativeRateQuantileQ _),
    "native_sum_rate_quantile" -> (nativeSumRateQuantileQ _),
    "irate_resets_1h" -> (irateResets1h _),
    "predict_linear_1h" -> (predictLinear1h _),
    "stddev_by" -> (stddevBy _),
    "label_replace" -> (labelReplaceQ _),
    "count_values" -> (countValuesQ _),
    "hour_of_ts" -> (hourOfTs _),
    "month_of_ts" -> (monthOfTs _),
    "holt_winters_1d" -> (holtWinters1d _),
    "avg_by" -> (avgBy _),
    "topk" -> (topk3 _),
    "quantile_by" -> (quantileBy _),
    "hist_quantile" -> (histQuantile _),
    "ingest_histogram" -> (ingestHistogram _),
    "retag_config" -> (retagConfig _),
    "metadata_labels" -> (metadataLabels _),
    "metadata_series" -> (metadataSeries _),
    "label_values" -> (labelValues _),
    "parse_duration" -> (parseDuration _))

  val oracles: Map[String, String] = Map(
    "ingest_events" -> oracleIngestEvents,
    "select_eq" -> oracleSelectEq,
    "select_regex" -> oracleSelectRegex,
    "resample_1h" -> oracleResample1h,
    "offset_resample" -> oracleOffsetResample,
    "rate_1h" -> oracleRate1h,
    "increase_1h" -> oracleIncrease1h,
    "avg_over_time_1h" -> oracleAvgOverTime1h,
    "rollup_avg_1h" -> oracleRollupAvg1h,
    "rollup_last_1h" -> oracleRollupLast1h,
    "rollup_eval_1h" -> oracleAvgOverTime1h,
    "quantile_over_time_1h" -> oracleQuantileOverTime1h,
    "mad_over_time_1h" -> oracleMadOverTime1h,
    "idelta_1h" -> oracleIdelta1h,
    "absent_over_time" -> oracleAbsentOverTime,
    "subquery_max" -> oracleSubqueryMax,
    "round_to" -> oracleRoundTo,
    "irate_1h" -> oracleIrate1h,
    "sum_by" -> oracleSumBy,
    "sum_without" -> oracleSumWithout,
    "binop_vs" -> oracleBinopVs,
    "binop_vv" -> oracleBinopVv,
    "binop_cmp" -> oracleBinopCmp,
    "binop_or" -> oracleBinopOr,
    "math_ln" -> oracleMathLn,
    "math_trig" -> oracleMathTrig,
    "group_by" -> oracleGroupBy,
    "at_modifier" -> oracleAtModifier,
    "scalar_norm" -> oracleScalarNorm,
    "time_hour" -> oracleTimeHour,
    "limitk" -> oracleLimitk,
    "limit_ratio" -> oracleLimitRatio,
    "group_ratio" -> oracleGroupRatio,
    "clamp" -> oracleClamp,
    "deriv_1h" -> oracleDeriv1h,
    "last_over_time_1h" -> oracleLastOverTime1h,
    "changes_1h" -> oracleChanges1h,
    "rate_resets_1h" -> oracleRateResets1h,
    "native_quantile" -> oracleNativeQuantile,
    "native_custom_quantile" -> oracleNativeCustomQuantile,
    "native_merge_mixed" -> oracleNativeMergeMixed,
    "native_quantile_signed" -> oracleNativeQuantileSigned,
    "native_stddev" -> oracleNativeStddev,
    "native_rate_quantile" -> oracleNativeRateQuantile,
    "native_sum_rate_quantile" -> oracleNativeSumRateQuantile,
    "irate_resets_1h" -> oracleIrateResets1h,
    "predict_linear_1h" -> oraclePredictLinear1h,
    "stddev_by" -> oracleStddevBy,
    "label_replace" -> oracleLabelReplace,
    "count_values" -> oracleCountValues,
    "hour_of_ts" -> oracleHourOfTs,
    "month_of_ts" -> oracleMonthOfTs,
    "holt_winters_1d" -> oracleHoltWinters1d,
    "avg_by" -> oracleAvgBy,
    "topk" -> oracleTopk3,
    "quantile_by" -> oracleQuantileBy,
    "hist_quantile" -> oracleHistQuantile,
    "ingest_histogram" -> oracleIngestHistogram,
    "retag_config" -> oracleRetagConfig,
    "metadata_labels" -> oracleMetadataLabels,
    "metadata_series" -> oracleMetadataSeries,
    "label_values" -> oracleLabelValues,
    "parse_duration" -> oracleParseDuration)
}
