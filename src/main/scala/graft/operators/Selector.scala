package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Model

/** PromQL label matchers `=`, `!=`, `=~`, `!~` (reference query.rs:176-218).
  *
  * Pure Catalyst expressions over the label map — equality/`rlike` on
  * `labels[name]`, so Catalyst can push the name-equality conjunct into the
  * parquet scan when the collection is stored long-form (Spark infers the
  * `IsNotNull` conjunct itself). The same predicates select series rows of
  * a served engine's per-series fold ([[Resample.Folded]]): a filter over
  * one row per series instead of one per sample.
  *
  * Reference quirks preserved:
  *  - a series lacking the matched label NEVER matches, whatever the operator
  *    (labels.rs:295-313);
  *  - the `__name__` matcher must be a single equality
  *    (timeseries.rs:491-519); enforced by [[graft.promql.Eval]], while this
  *    operator accepts any matcher combination for standalone use.
  *
  * Deliberate divergence from Prometheus: `=~`/`!~` use `rlike`, which
  * FINDS a match anywhere in the value, where Prometheus anchors label
  * regexes as `^(?:re)$`. The `select_regex` gate and its DuckDB
  * `regexp_matches` oracle (also unanchored) rely on it; write `^…$` for
  * an anchored match. One consequence: `m{l!~""}` matches no series that
  * carries `l`, since every value contains the empty string.
  */
object Selector {
  sealed trait Matcher { def label: String }
  final case class Eq(label: String, value: String) extends Matcher
  final case class Ne(label: String, value: String) extends Matcher
  final case class Re(label: String, pattern: String) extends Matcher
  final case class Nre(label: String, pattern: String) extends Matcher

  /** One matcher as a filter condition. A series lacking the label reads
    * `labels[name]` as null, so every operator's test is null there and a
    * filter drops the row: no separate `isNotNull` probe of the map. The
    * result is null, never false, for such a row — combine predicates only
    * with AND/OR inside a filter, never under a NOT. */
  def predicate(m: Matcher): Column = {
    val v = col(Model.LabelsCol).getItem(m.label)
    m match {
      case Eq(_, x) => v === x
      case Ne(_, x) => v =!= x
      case Re(_, p) => v.rlike(p)
      case Nre(_, p) => !v.rlike(p)
    }
  }

  /** One `Filter`: the AND of the matchers' predicates (null where a
    * label is missing, so such a row is dropped as before). */
  def select(df: DataFrame, matchers: Seq[Matcher]): DataFrame =
    matchers.map(predicate).reduceOption(_ && _).fold(df)(df.filter)

  /** Metric-name selector (reference timeseries.rs:447). */
  def byName(df: DataFrame, name: String): DataFrame =
    select(df, Seq(Eq(Model.NameLabel, name)))
}
