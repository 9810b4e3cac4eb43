package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.functions._

/** Core data model of the engine.
  *
  * A collection of labelled time series is ONE long DataFrame of samples:
  * {{{
  *   labels: map<string,string>   -- includes "__name__" (metric name)
  *   ts:     double               -- epoch seconds
  *   value:  double
  * }}}
  * This replaces the reference's in-memory `TimeSeriesCollection` of per-series
  * `Vec<f64>` (reference timeseries.rs:389-394) with a distributed, columnar
  * layout. The reference's label/string interning (labels.rs, stringuniverse.rs)
  * is a single-process optimization; the distributed analogue is parquet/Tungsten
  * dictionary encoding plus the canonical series key below. The per-series
  * fold (`Resample.series`) keys on the label map itself — Spark groups and
  * hash-partitions a map by its key-sorted form, and the cached
  * `TsIngest` collection is partitioned on it — and derives the key once
  * per series; binary operators, aggregations and outputs then use the key.
  *
  * A served [[PromEngine]] (cached collection) also keeps that fold of the
  * whole collection resident — the reference's shape, one
  * `(skey, labels, ts[], v[])` row per series ([[graft.operators.Resample.Folded]]) —
  * and answers selectors from it; the long frame stays the collection of
  * record, and what consumes samples reads it.
  */
object Model {
  val NameLabel = "__name__"
  val LeLabel = "Le"

  val LabelsCol = "labels"
  val TsCol = "ts"
  val ValueCol = "value"
  val SkeyCol = "skey"
  /** A series' evaluated points, array<struct<ts, value>>, in series form. */
  val PointsCol = "points"

  /** A label map's pairs, read from a row in Catalyst's internal form (a
    * null value stays null). */
  def labelPairs(m: MapData): Array[(String, String)] = {
    val (keys, vals) = (m.keyArray(), m.valueArray())
    Array.tabulate(m.numElements()) { i =>
      keys.getUTF8String(i).toString -> (if (vals.isNullAt(i)) null else vals.getUTF8String(i).toString)
    }
  }

  /** Canonical, deterministic string form of a label map: sorted `k=v` pairs
    * joined by commas. Used as the join and grouping key of operators that
    * match series across frames, and as the human-readable series identity
    * in query outputs.
    * Mirrors the reference's `LabelValueMap::display_string` ordering
    * (labels.rs:317-321, BTreeMap = sorted by key).
    *
    * The separator characters (`\`, `=`, `,`) are backslash-escaped inside
    * keys and values, making the encoding injective: two distinct label maps
    * can never collide into one skey, so every downstream skey equi-join
    * (binops) and groupBy sees exact series identity. Chained `replace` keeps
    * the escape inside whole-stage codegen (no regex engine).
    */
  def canonicalKey(labels: Column): Column =
    canonicalKeyFromEntries(array_sort(map_entries(labels)))

  /** Same encoding over an already-sorted `map_entries` array (shared with
    * `Aggregate.aggBy`, which groups on the entries array directly). */
  def canonicalKeyFromEntries(entries: Column): Column =
    array_join(transform(entries, e => concat(escapeLabel(e("key")), lit("="), escapeLabel(e("value")))), ",")

  private def escapeLabel(c: Column): Column =
    replace(replace(replace(c, lit("\\"), lit("\\\\")), lit("="), lit("\\=")), lit(","), lit("\\,"))

  /** Adds the canonical series key column to a samples DataFrame. */
  def withSkey(df: DataFrame): DataFrame =
    df.withColumn(SkeyCol, canonicalKey(col(LabelsCol)))

  /** Ports `make_metric_name_legal` (reference labels.rs:142-169): prefix a
    * digit-leading name with '_', replace every non [A-Za-z0-9_] byte with '_'.
    */
  def makeMetricNameLegal(original: String): String = {
    require(original.nonEmpty, "Cannot make empty strings meaningfully legal")
    val prefixed = if (original.head.isDigit) "_" + original else original
    prefixed.map(c => if (c.isLetterOrDigit && c < 128 || c == '_') c else '_')
  }
}
