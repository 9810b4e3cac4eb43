package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftExpr}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GetMapValue, Literal, Not, Or, RLike}

import graft.Model

/** PromQL label matchers `=`, `!=`, `=~`, `!~` (reference query.rs:176-218).
  *
  * Pure Catalyst expressions over the label map — equality/`rlike` on
  * `labels[name]`, so Catalyst can push the name-equality conjunct into the
  * parquet scan when the collection is stored long-form (Spark infers the
  * `IsNotNull` conjunct itself). One builder writes them over the `labels`
  * column ([[predicate]], [[allOf]], [[anyOf]]): a frame filters on them,
  * and a served engine's per-series fold ([[Resample.Folded.where]]) binds
  * the same condition to its heap rows' layout, so a request filters one
  * row per series, in driver heap, with the same semantics.
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

  /** One matcher as a condition on the `labels` column: the one
    * definition of matcher semantics. A series lacking the label reads
    * `labels[name]` as null, so every operator's test is null there and a
    * filter drops the row: no separate `isNotNull` probe of the map. The
    * result is null, never false, for such a row — combine conditions only
    * with AND/OR inside a filter, never under a NOT. */
  def predicate(m: Matcher): Column = GraftExpr.column(condition(m))

  /** A selector: the AND of its matchers' conditions (true when it has
    * none). */
  def allOf(matchers: Seq[Matcher]): Column =
    GraftExpr.column(matchers.map(condition).reduceOption(And).getOrElse(Literal(true)))

  /** Series matched by any of `selectors` ([[allOf]] each): what
    * `/api/v1/series` selects. */
  def anyOf(selectors: Seq[Seq[Matcher]]): Column =
    GraftExpr.column(selectors.map(s => GraftExpr.expression(allOf(s))).reduceOption(Or).getOrElse(Literal(false)))

  private def condition(m: Matcher): Expression = {
    val v = GetMapValue(UnresolvedAttribute(Seq(Model.LabelsCol)), Literal(m.label))
    m match {
      case Eq(_, x) => EqualTo(v, Literal(x))
      case Ne(_, x) => Not(EqualTo(v, Literal(x)))
      case Re(_, p) => RLike(v, Literal(p))
      case Nre(_, p) => Not(RLike(v, Literal(p)))
    }
  }

  /** One `Filter`: [[allOf]] the matchers (null where a label is
    * missing, so such a row is dropped), none when there are none. */
  def select(df: DataFrame, matchers: Seq[Matcher]): DataFrame =
    if (matchers.isEmpty) df else df.filter(allOf(matchers))

  /** Metric-name selector (reference timeseries.rs:447). */
  def byName(df: DataFrame, name: String): DataFrame =
    select(df, Seq(Eq(Model.NameLabel, name)))
}
