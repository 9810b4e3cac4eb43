package graft

import org.apache.spark.sql.{Column, DataFrame, GraftPlan, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, MapType, StringType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Grid, Resample}
import graft.promql.Eval

/** The engine facade — the Spark-native analogue of the reference's
  * `TimeSeriesCollection` + query entry points (timeseries.rs:389-484,
  * query.rs:583-596).
  *
  * A ''served'' engine — one whose collection is cached
  * (`collection.storageLevel != NONE`, as `graft.Serve` sets it up) —
  * answers from the reference's shape: one `(skey, labels, ts[], v[])` row
  * per series ([[graft.operators.Resample.Folded]]), collected by the first
  * request that needs it and kept in driver heap as a local relation
  * (5.1 MB at sf0.1). Range functions and implicit resamples then filter
  * series rows and run the kernel over it. Results come in two shapes
  * from one evaluation: one row per series ([[rangeRows]],
  * [[instantRows]]; what the HTTP server writes) and long rows
  * ([[queryRange]], [[queryInstant]]; what the gates compare). In the
  * series shape a plain panel or instant, a range kernel over one
  * selector's series, runs straight from the fold's heap rows: no
  * Dataset, no Catalyst planning, no Spark query per request. In the long
  * shape its plan is only filters, projections and the kernel's `inline`,
  * which Spark evaluates while it optimizes (`ConvertToLocalRelation`,
  * [[graft.operators.LocalGenerate]]) with no Spark job, while `sum by`,
  * `topk` and other plans that reduce the kernel's rows run them on
  * executors in either shape. `/api/v1/series` ([[seriesMatching]])
  * filters the heap rows too, and the other metadata calls read one
  * label-map list collected from the fold. Keeping the fold on the driver
  * assumes local mode, as `graft.Serve` runs. An engine over an uncached
  * collection (the gates, `graft.Query`) filters samples first, so the
  * selectors push into the parquet scan, and folds only what they keep.
  * Construction runs no Spark job either way; the `with*` variants share
  * their parent's fold.
  *
  * @param collection long-format samples (labels map incl __name__, ts, value)
  * @param queryStartTime when set, queries behave as if the data started at
  *        this instant (`--shift_to_midnight`, main.rs:110 / timeseries.rs:410-417):
  *        grid instants are shifted back by `queryTimeOffset` before
  *        evaluation and shifted forward again in the output.
  */
final class PromEngine private (val collection: DataFrame, val queryStartTime: Option[Double],
                                val nativeHistograms: Map[String, DataFrame],
                                val rollupStores: Map[String, graft.sources.RollupStore.Registered],
                                folded: Option[Resample.Folded]) {

  def this(collection: DataFrame, queryStartTime: Option[Double] = None,
           nativeHistograms: Map[String, DataFrame] = Map.empty,
           rollupStores: Map[String, graft.sources.RollupStore.Registered] = Map.empty) =
    this(collection, queryStartTime, nativeHistograms, rollupStores,
      if (collection.storageLevel == StorageLevel.NONE) None else Some(new Resample.Folded(collection)))

  /** Whether this engine answers from a resident per-series fold. */
  def served: Boolean = folded.isDefined

  private lazy val keyed = Model.withSkey(collection)
  private lazy val ctx = Eval.Ctx(keyed, nativeHistograms, rollupStores, folded)

  /** Register native-histogram frames ([[graft.operators.NativeHistogram]]
    * layout) by metric name; `histogram_quantile` over a registered name
    * dispatches to the map-only native walk. */
  def withNativeHistograms(m: Map[String, DataFrame]): PromEngine =
    new PromEngine(collection, queryStartTime, m, rollupStores, folded)

  /** Register [[graft.sources.RollupStore]] handles by metric name:
    * aligned avg/min/max/sum/count/last_over_time range queries are then
    * served from the downsampled store instead of raw samples (identical
    * results — see [[Eval.Ctx]]); everything else falls back to raw. */
  def withRollups(m: Map[String, graft.sources.RollupStore.Registered]): PromEngine =
    new PromEngine(collection, queryStartTime, nativeHistograms, m, folded)

  lazy val (minTime, maxTime): (Double, Double) = {
    val r: Row = collection.agg(min(Model.TsCol), max(Model.TsCol)).head()
    (r.getDouble(0), r.getDouble(1))
  }

  /** `set_query_start_time` (timeseries.rs:414-417). */
  def queryTimeOffset: Option[Double] = queryStartTime.map(_ - minTime)

  def withStartTime(t: Double): PromEngine =
    new PromEngine(collection, Some(t), nativeHistograms, rollupStores, folded)

  /** Run a PromQL range query; start/end/step in the *query* time frame.
    * Output (labels, ts, value) with ts back in the query time frame and
    * `value` a double, the wire type (`count_over_time` evaluates to a
    * long; [[queryRangeRaw]] keeps it). [[rangeRows]] is the same result
    * one row per series. */
  def queryRange(query: String, start: Double, end: Double, step: Double): DataFrame =
    long(Eval.run(ctx, query, rangeGrid(start, end, step)))

  /** [[queryRange]]'s result one row per series, as the HTTP writer takes
    * it: internal rows (labels, points: array<struct<ts, value: double>>),
    * ts in the query time frame ([[Eval.seriesRows]]). A served plain
    * panel comes straight from the fold's heap rows; anything else is
    * collected from its series-form frame. */
  def rangeRows(query: String, start: Double, end: Double, step: Double): Array[InternalRow] =
    edge(Eval.seriesRows(ctx, query, rangeGrid(start, end, step)))

  /** [[rangeRows]] as a driver-local frame of [[PromEngine.SeriesSchema]]. */
  def rangeSeries(query: String, start: Double, end: Double, step: Double): DataFrame =
    localFrame(rangeRows(query, start, end, step))

  /** Internal-frame variant used by the correctness harness. */
  def queryRangeRaw(query: String, grid: Grid): DataFrame = Eval.run(ctx, query, grid)

  /** Instant query (extension — the reference's /api/v1/query only evaluates
    * "1+1", main.rs:399-405): evaluate on a single-instant grid at `t`. */
  def queryInstant(query: String, t: Double): DataFrame = long(Eval.run(ctx, query, instantGrid(t)))

  /** [[queryInstant]]'s result one row per series, like [[rangeRows]]. */
  def instantRows(query: String, t: Double): Array[InternalRow] = edge(Eval.seriesRows(ctx, query, instantGrid(t)))

  /** [[instantRows]] as a driver-local frame, like [[rangeSeries]]. */
  def instantSeries(query: String, t: Double): DataFrame = localFrame(instantRows(query, t))

  private def offset: Double = queryTimeOffset.getOrElse(0.0)

  private def rangeGrid(start: Double, end: Double, step: Double): Grid =
    Grid(start - offset, end - offset, step)

  private def instantGrid(t: Double): Grid = Grid(t - offset, t - offset + 0.5, 1.0) // length 1 → the instant itself

  /** Long rows at the edge: the query-time offset added back, the value a
    * double. */
  private def long(out: DataFrame): DataFrame =
    out.select(col(Model.LabelsCol), (col(Model.TsCol) + lit(offset)).as(Model.TsCol),
      col(Model.ValueCol).cast(DoubleType).as(Model.ValueCol))

  /** [[long]]'s edge over (skey, labels, points) rows, point by point:
    * (labels, points) rows, the offset added to each ts and each value
    * cast to a double; the points are passed through when there is no
    * offset and the values are doubles already. */
  private def edge(series: Resample.SeriesRows): Array[InternalRow] = {
    val off = offset
    val value = Cast(BoundReference(1, series.valueType, nullable = true), DoubleType)
    val same = off == 0.0 && series.valueType == DoubleType
    series.rows.map { r =>
      val points = r.getArray(2)
      InternalRow(r.getMap(1),
        if (same || points == null) points
        else new GenericArrayData(Array.tabulate[Any](points.numElements()) { i =>
          val p = points.getStruct(i, 2)
          InternalRow(p.getDouble(0) + off, value.eval(p))
        }))
    }
  }

  private def localFrame(rows: Array[InternalRow]): DataFrame =
    GraftPlan.localFrame(collection.sparkSession, PromEngine.SeriesSchema, rows.toSeq)

  /** The label map of every series in the collection. A served engine
    * collects it from its fold once and keeps it; otherwise each call
    * groups the collection's samples. The metadata calls
    * below finish on the driver; their `*DF` forms return the same list
    * as a one-column local frame. */
  def seriesLabels(): Seq[Map[String, String]] = folded.fold(seriesLabels(collection))(_.labels)

  /** The label map of every series in `samples`, collected. One groupBy on
    * the map: exchange-free on the partitioned [[graft.sources.TsIngest]]
    * collection, so one Spark job that returns at most one row per series. */
  def seriesLabels(samples: DataFrame): Seq[Map[String, String]] =
    samples.groupBy(col(Model.LabelsCol)).count().collect()
      .map(_.getMap[String, String](0).toMap).toSeq

  /** The label map of every series whose labels satisfy `predicate` (a
    * condition on the `labels` column, e.g.
    * [[graft.operators.Selector.anyOf]] the selectors of
    * `/api/v1/series`). A served engine filters the fold's heap rows
    * ([[graft.operators.Resample.Folded.where]]), with no Spark query;
    * otherwise the samples are filtered and grouped. */
  def seriesMatching(predicate: Column): Seq[Map[String, String]] = folded match {
    case Some(f) =>
      val labels = f.rows.schema.fieldIndex(Model.LabelsCol)
      f.where(predicate).map(r => Model.labelPairs(r.getMap(labels)).toMap).toSeq
    case None => seriesLabels(collection.filter(predicate))
  }

  /** Sorted distinct label names (timeseries.rs:459-476). */
  def allLabels(): Seq[String] = seriesLabels().flatMap(_.keys).distinct.sorted(PromEngine.Utf8Order)

  def allLabelsDF: DataFrame = toDF(allLabels(), "label")

  /** Distinct metric names (timeseries.rs:478-483). */
  def allSeriesNames(): Seq[String] = labelValues(Model.NameLabel)

  def allSeriesNamesDF: DataFrame = toDF(allSeriesNames(), "name")

  /** Sorted distinct non-null values of one label (main.rs:407-416 supports
    * only __name__; we generalize to any label). */
  def labelValues(label: String): Seq[String] =
    seriesLabels().flatMap(_.get(label)).filter(_ != null).distinct.sorted(PromEngine.Utf8Order)

  def labelValuesDF(label: String): DataFrame = toDF(labelValues(label), "value")

  private def toDF(values: Seq[String], name: String): DataFrame = {
    import collection.sparkSession.implicits._
    values.toDF(name)
  }
}

object PromEngine {
  /** Spark's (and the oracles') string order: binary UTF-8, which differs
    * from `String`'s UTF-16 order beyond the Basic Multilingual Plane. */
  private val Utf8Order: Ordering[String] = Ordering.by(UTF8String.fromString)

  /** The series form's rows: (labels, points: array<struct<ts, value: double>>). */
  private val SeriesSchema: StructType = new StructType()
    .add(Model.LabelsCol, MapType(StringType, StringType))
    .add(Model.PointsCol, ArrayType(new StructType().add(Model.TsCol, DoubleType).add(Model.ValueCol, DoubleType)))
}
