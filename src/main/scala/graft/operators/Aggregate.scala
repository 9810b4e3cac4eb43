package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Model

/** `sum by (...)` and friends (reference query.rs:439-546).
  *
  * The reference groups resampled series on the retained label subset and sums
  * element-wise. Here that is a single `groupBy(groupKey, ts)` with map-side
  * partial aggregation — the natural Spark shape; NaN propagates through the
  * double sum exactly like the reference's `+=` loop (query.rs:525-540).
  *
  * Labels the series does not carry are silently dropped from the group key
  * (reference `LabelValueMap::retaining`, labels.rs:193-203).
  */
object Aggregate {

  /** The group-defining label subset: `by` RETAINS the listed labels
    * (reference `LabelValueMap::retaining`, labels.rs:193-203); `without`
    * DROPS them plus `__name__` (Prometheus semantics — the metric name never
    * survives a `without` aggregation). */
  private def retainedMap(labels: Seq[String], without: Boolean): Column =
    if (without) {
      val dropped = (labels :+ Model.NameLabel).distinct
      map_filter(col(Model.LabelsCol), (k, _) => !array_contains(lit(dropped.toArray), k))
    } else
      map_filter(col(Model.LabelsCol), (k, _) => array_contains(lit(labels.toArray), k))

  /** One `groupBy(group entries, ts)` with map-side partial aggregation.
    *
    * The group key is the SORTED `map_entries` array of the retained label
    * map, not a `first(map)` carry-along: a map-typed aggregation buffer
    * falls off HashAggregate onto SortAggregate (two extra full sorts, one
    * per partial/final stage — measured on the sum_by plan), while an
    * array-of-struct GROUPING key hashes fine. Both the canonical skey
    * string and the output label map are rebuilt from the entries array
    * after the agg, so the round-trip is exact (no string re-parsing). */
  def aggBy(df: DataFrame, by: Seq[String], without: Boolean, aggFn: Column => Column): DataFrame =
    df.withColumn("__gents__", array_sort(map_entries(retainedMap(by, without))))
      .groupBy(col("__gents__"), col(Model.TsCol))
      .agg(aggFn(col(Model.ValueCol)).as(Model.ValueCol))
      .select(
        Model.canonicalKeyFromEntries(col("__gents__")).as(Model.SkeyCol),
        map_from_entries(col("__gents__")).as(Model.LabelsCol),
        col(Model.TsCol), col(Model.ValueCol))

  /** `sum by (labels...)` — the reference's only implemented aggregation. */
  def sumBy(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, sum)

  /** Natural extensions with identical grouping semantics. */
  def avgBy(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, avg)
  def minBy(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, min)
  def maxBy(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, max)
  def countBy(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, count)
  /** `group by (...)`: constant 1 for every group with members (Prometheus
    * 2.31+) — the idiom for "which label combinations exist at each step". */
  def groupAgg(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, _ => max(lit(1.0)))

  /** Population variance/stddev via explicit moment sums (identical
    * expression tree in any engine; Welford implementations differ in final
    * ULPs, which the oracle hash would see). */
  def stdvarBy(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, v => sum(v * v) / count(lit(1)) - (sum(v) / count(lit(1))) * (sum(v) / count(lit(1))))
  def stddevBy(df: DataFrame, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, v => sqrt(sum(v * v) / count(lit(1)) - (sum(v) / count(lit(1))) * (sum(v) / count(lit(1)))))

  /** `quantile(q, v) by (...)`: exact linear-interpolated percentile per
    * group per instant. Implemented as `sort_array(collect_list)` + index
    * interpolation — the identical `lo + (hi - lo) * frac` formula as
    * Spark's `percentile` aggregate and DuckDB's `quantile_cont`, but ~2×
    * faster here (group sizes are series counts — collecting a small array
    * beats the generic ObjectHashAggregate percentile state).
    *
    * Out-of-range q follows Prometheus: q < 0 → -Inf, q > 1 → +Inf, NaN →
    * NaN for every group (guards Spark's negative-index `element_at`, which
    * would otherwise silently read from the END of the sorted array). */
  def quantileBy(df: DataFrame, q: Double, by: Seq[String], without: Boolean = false): DataFrame =
    aggBy(df, by, without, quantileAgg(q))

  /** The aggregation column for `quantile(...) by`: Prometheus
    * out-of-range guards + exact linear-interpolated percentile
    * (`quantile_over_time` is the same arithmetic in
    * [[graft.functions.RangeKernel]]). */
  private def quantileAgg(q: Double): Column => Column =
    if (q.isNaN) _ => min(lit(Double.NaN))
    else if (q < 0) _ => min(lit(Double.NegativeInfinity))
    else if (q > 1) _ => min(lit(Double.PositiveInfinity))
    else v => {
      val arr = sort_array(collect_list(v))
      val n = size(arr)
      val pos = (n - 1).cast(org.apache.spark.sql.types.DoubleType) * lit(q)
      val lo = floor(pos).cast(org.apache.spark.sql.types.IntegerType)
      val frac = pos - lo.cast(org.apache.spark.sql.types.DoubleType)
      val vlo = element_at(arr, lo + 1)
      val vhi = element_at(arr, least(lo + 2, n))
      vlo + (vhi - vlo) * frac
    }

  /** `count_values(label, v)`: per instant, one output series per distinct
    * value carrying that value (formatted like the wire format, integers
    * without ".0") under `label`; output value = occurrence count. */
  def countValues(df: DataFrame, label: String): DataFrame = {
    val vs = when(col(Model.ValueCol) === col(Model.ValueCol).cast("long").cast("double"),
        col(Model.ValueCol).cast("long").cast("string"))
      .otherwise(col(Model.ValueCol).cast("string"))
    df.withColumn("__vs__", vs)
      .groupBy(col("__vs__"), col(Model.TsCol))
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.DoubleType).as(Model.ValueCol))
      .select(
        Model.canonicalKey(map(lit(label), col("__vs__"))).as(Model.SkeyCol),
        map(lit(label), col("__vs__")).as(Model.LabelsCol),
        col(Model.TsCol), col(Model.ValueCol))
  }

  /** `topk(k, v)` / `bottomk(k, v)`: per instant (and per `by` group when
    * given), keep the k series with the largest/smallest value. Unlike the
    * grouping aggregations the survivors keep their own labels. Ties break
    * deterministically on the canonical series key. One window pass,
    * partitioned by (group, ts) — no global sort. */
  def topk(df: DataFrame, k: Int, by: Option[(Seq[String], Boolean)], bottom: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gkey = by match {
      case Some((b, without)) => Model.canonicalKey(retainedMap(b, without))
      case None => lit("")
    }
    val ord = if (bottom) col(Model.ValueCol).asc else col(Model.ValueCol).desc
    val w = Window.partitionBy(col("__gkey__"), col(Model.TsCol))
      .orderBy(ord, col(Model.SkeyCol).asc)
    df.withColumn("__gkey__", gkey)
      .withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= k)
      .select(col(Model.SkeyCol), col(Model.LabelsCol), col(Model.TsCol), col(Model.ValueCol))
  }

  /** `limitk(k, v) by (...)` (Prometheus 3.x experimental): up to k series
    * per group. Prometheus picks an arbitrary-but-stable subset; here the
    * choice is DETERMINISTIC — the k smallest skeys — so the sample is
    * reproducible across engines and runs.
    *
    * SEMANTICS: this is a WHOLE-RANGE series sample — ONE global rank of
    * the distinct (group, series) set decides the survivors for the whole
    * queried range, not a fresh rank per instant. A chosen series that
    * churns (contributes samples to only part of the range) stays chosen
    * wherever it has rows, and a series outside the k smallest skeys never
    * appears even at instants where fewer than k chosen series have data.
    * The DuckDB oracle (oracleLimitk) ranks the same global distinct set.
    *
    * The choice depends only on the distinct (group, series) set — NOT on
    * sample timestamps — so instead of ranking the full frame with a
    * `(group, ts)` window (a shuffle+sort of every sample, the topk
    * shape), rank the distinct (group, series) pairs — a frame bounded by
    * series count, shrunk map-side by partial dedup — and
    * broadcast-semi-join the ≤ k·groups keepers back. The samples
    * themselves never shuffle, and under the clamp-interpolating resample
    * the distinct series set is identical before and after gridding, so
    * the result is the same whether the input is raw samples or a
    * resampled grid (Eval exploits this by pushing the filter below the
    * resample). */
  def limitk(df: DataFrame, k: Int, by: Option[(Seq[String], Boolean)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gkey = by match {
      case Some((b, without)) => Model.canonicalKey(retainedMap(b, without))
      case None => lit("")
    }
    val keyed = df.withColumn("__gkey__", gkey)
    val keep = keyed.select(col("__gkey__"), col(Model.SkeyCol)).distinct()
      .withColumn("__rn__", row_number().over(
        Window.partitionBy(col("__gkey__")).orderBy(col(Model.SkeyCol).asc)))
      .filter(col("__rn__") <= k)
      .select(col("__gkey__"), col(Model.SkeyCol))
    keyed.join(broadcast(keep), Seq("__gkey__", Model.SkeyCol), "left_semi")
      .select(col(Model.SkeyCol), col(Model.LabelsCol), col(Model.TsCol), col(Model.ValueCol))
  }

  /** `limit_ratio(r, v)` (Prometheus 3.x experimental): a deterministic
    * hash-based fraction of series. r ∈ (0, 1] keeps series whose md5
    * bucket falls under r; r ∈ [-1, 0) keeps exactly the complement, so
    * `limit_ratio(0.3, v)` ∪ `limit_ratio(-0.7, v)` = v with no overlap.
    * Pure per-row arithmetic on the series key — zero shuffle. */
  def limitRatio(df: DataFrame, r: Double): DataFrame = {
    val bucket = conv(substring(md5(col(Model.SkeyCol).cast("binary")), 1, 6), 16, 10)
      .cast("long").cast("double") / 16777216.0 // 16^6: bucket ∈ [0, 1)
    val keep = if (r >= 0) bucket < r else bucket >= 1.0 + r
    df.filter(keep)
  }
}
