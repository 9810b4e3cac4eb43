package graft.promql

import org.apache.spark.sql.DataFrame

import graft.Model
import graft.functions.RangeKernel
import graft.operators._
import graft.sources.RollupStore

/** PromQL evaluator over the long-format collection DataFrame. Mirrors the
  * reference's `QueryResult` state machine (query.rs:41-125) so the same
  * queries succeed/fail in the same ways, but every state carries a lazily
  * planned DataFrame: Catalyst fuses the whole pipeline (selector filters push
  * into the parquet scan; one shuffle per window/agg stage). On a served
  * engine selectors read the resident per-series fold instead ([[Ctx]]).
  *
  * One evaluation, two shapes at the edge: [[run]] returns the long
  * (skey, labels, ts, value) rows the gates and oracles compare, and
  * [[runSeries]] the same result one row per series, as the range kernel
  * leaves it, for the HTTP writer. A range kernel's result builds its long
  * form only when something reads it (an aggregation, a binary operator,
  * `topk`, `@`, [[run]]); see [[Processed]].
  */
object Eval {
  final case class EvalException(msg: String) extends RuntimeException(msg)

  sealed trait QR
  /** Selected samples `df` (skey, labels, ts, value), not yet folded into
    * series, built from `samples` on first read. `series` holds the same
    * selection as rows of the served engine's fold when a plain selector
    * made them; the kernels read those, and fold `df` only when it is
    * absent, so a served panel never builds `df` at all. */
  sealed trait Samples extends QR {
    protected def samples: () => DataFrame
    lazy val df: DataFrame = samples()
    def series: Option[DataFrame]
    /** One (skey, labels, ts[], v[]) row per selected series. */
    def folded: DataFrame = series.getOrElse(Resample.series(df))
  }
  /** filtered, not yet resampled (query.rs:44) */
  final case class Unprocessed(samples: () => DataFrame, offset: Option[Double],
                               series: Option[DataFrame] = None) extends Samples
  /** filtered + `[range]`-vectorized (query.rs:45) */
  final case class UnprocessedVector(samples: () => DataFrame, overRange: Double, offset: Option[Double],
                                     series: Option[DataFrame] = None) extends Samples
  /** resampled onto the grid (query.rs:46): long rows `df`
    * (skey, labels, ts, value), built on first read. `series`, set when a
    * range kernel made the result, builds the same result one row per
    * series, (skey, labels, points) ([[Resample.seriesPoints]]); `df` is
    * then that kernel's `inline`. Matching `Processed(df)` reads `df`. */
  final class Processed private (long: () => DataFrame, val series: Option[() => DataFrame]) extends QR {
    lazy val df: DataFrame = long()
  }
  object Processed {
    def apply(df: DataFrame): Processed = new Processed(() => df, None)
    def unapply(p: Processed): Some[DataFrame] = Some(p.df)

    /** `fn` over `folded` series rows: long form on first read, series form
      * on request. */
    def kernel(folded: DataFrame, grid: Grid, fn: RangeKernel.Fn, range: Double, offset: Double): Processed =
      new Processed(() => Resample.seriesKernel(folded, grid, fn, range, offset),
        Some(() => Resample.seriesPoints(folded, grid, fn, range, offset)))
  }
  final case class ScalarQ(value: Double) extends QR
  /** per-step scalar (extension): one (ts, value) row per grid instant —
    * `time()`, `scalar(v)`. Composes with vectors by a broadcast join on ts
    * alone; grid-length rows, so always the broadcast side. */
  final case class StepScalar(df: DataFrame) extends QR

  /** Evaluation context: the long sample collection plus optional
    * NATIVE-HISTOGRAM frames keyed by metric name
    * ([[graft.operators.NativeHistogram]] layout). `histogram_quantile`
    * dispatches on the selector's metric name: registered native metrics
    * take the map-only sparse-bucket walk; everything else takes the
    * classic Le-label path.
    *
    * `rollups` registers [[graft.sources.RollupStore]] handles by metric
    * name (the recording-rule contract): an
    * avg/min/max/sum/count/last_over_time over a registered metric whose
    * range AND grid align to the store's frozen resolution is answered
    * FROM THE STORE — reading ~range/res pre-aggregated buckets instead
    * of every raw sample — and is bit-identical to the raw-sample path
    * (the store's left-open buckets union exactly to the PromQL window;
    * EngineSpec pins equality). Misaligned queries, offsets, and every
    * other function fall back to raw samples transparently.
    *
    * `fold` is the per-series fold of `df` that a served engine keeps
    * ([[graft.operators.Resample.Folded]]). With it, a plain selector
    * also selects its series rows there, and every range function and
    * implicit resample over that selector runs the kernel on them: no
    * scan of sample rows, no aggregation per request. Without it (an
    * uncached collection) selectors filter the samples, so the filters
    * still push into a parquet scan, and the kernel folds what they
    * keep. `limitk`/`limit_ratio` on a selector consume samples and read
    * `df` either way; a subquery's input is an evaluated frame, folded
    * per request. */
  final case class Ctx(df: DataFrame, native: Map[String, DataFrame] = Map.empty,
                       rollups: Map[String, RollupStore.Registered] = Map.empty,
                       fold: Option[Resample.Folded] = None)

  /** Evaluate `query` against the collection and resample onto `grid`.
    * Output columns: (skey, labels, ts, value). */
  def run(collection: DataFrame, query: String, grid: Grid): DataFrame =
    run(Ctx(collection), query, grid)

  def run(ctx: Ctx, query: String, grid: Grid): DataFrame = long(evaluate(ctx, query, grid))

  /** Evaluate `query` like [[run]], one row per series: (skey, labels,
    * points: array<struct<ts, value>>), points in ts order. A range
    * kernel's result keeps the kernel's rows unexploded; a result that is
    * long already (an aggregation, a rollup read, a per-step scalar) gives
    * one single-point row per sample, which the writer groups on its label
    * map. A series whose kernel emits no point has an empty `points`. */
  def runSeries(ctx: Ctx, query: String, grid: Grid): DataFrame =
    evaluate(ctx, query, grid) match {
      case p: Processed => p.series.fold(onePoint(p.df))(_())
      case qr => onePoint(long(qr))
    }

  private def evaluate(ctx: Ctx, query: String, grid: Grid): QR = {
    val keyed =
      if (ctx.df.columns.contains(Model.SkeyCol)) ctx
      else ctx.copy(df = Model.withSkey(ctx.df))
    resampled(eval(Parser.parse(query), keyed, grid), grid)
  }

  private def onePoint(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col(Model.SkeyCol), col(Model.LabelsCol),
      array(struct(col(Model.TsCol), col(Model.ValueCol))).as(Model.PointsCol))
  }

  private def long(qr: QR): DataFrame = qr match {
    case Processed(df) => df
    case StepScalar(df) => // serialize like vector(...): one labelless series
      import org.apache.spark.sql.functions._
      val emptyLabels = map().cast(org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      df.withColumn(Model.LabelsCol, emptyLabels)
        .withColumn(Model.SkeyCol, Model.canonicalKey(col(Model.LabelsCol)))
        .select(Model.SkeyCol, Model.LabelsCol, Model.TsCol, Model.ValueCol)
    case ScalarQ(_) => throw EvalException("scalar result")
    case _ => throw EvalException("no processing")
  }

  /** Final/implicit resample (query.rs:109-124). */
  private def resampled(qr: QR, grid: Grid): QR = qr match {
    case u: Unprocessed =>
      Processed.kernel(u.folded, grid, RangeKernel.Resample, 0.0, u.offset.getOrElse(0.0))
    case p: Processed => p
    case s: ScalarQ => s
    case s: StepScalar => s // already one value per grid instant
    case _: UnprocessedVector => throw EvalException("Cannot resample a vectorized time series")
  }

  /** The grid instants as a tiny single-partition (ts, value=ts) frame —
    * the seed for `time()` and the spine for `scalar(v)`. Built from a
    * literal array: no scan, no shuffle. */
  private def timeFrame(collection: DataFrame, grid: Grid): DataFrame = {
    import org.apache.spark.sql.functions._
    collection.sparkSession.range(1)
      .select(explode(grid.pointsCol).as(Model.TsCol))
      .withColumn(Model.ValueCol, org.apache.spark.sql.functions.col(Model.TsCol))
  }

  private def eval(node: Node, collection: Ctx, grid: Grid): QR = node match {
    case ScalarLit(v) => ScalarQ(v)

    case VectorSel(matchers, range, offset) =>
      // The reference demands exactly one equality matcher on __name__
      // (timeseries.rs:491-519).
      val nameMatchers = matchers.filter(_.label == Model.NameLabel)
      nameMatchers match {
        case Seq(Selector.Eq(_, _)) => ()
        case Seq(_) => throw EvalException("The name filter must be an equals filter")
        case ms => throw EvalException(s"Having a single label name filter is mandatory, got ${ms.length}")
      }
      val filtered = () => Selector.select(collection.df, matchers)
      val series = collection.fold.map(f => Selector.select(f.rows, matchers))
      range match {
        case None => Unprocessed(filtered, offset, series)
        case Some(r) => UnprocessedVector(filtered, r, offset, series)
      }

    // Subquery `expr[range:step]`: evaluate the inner expression as an
    // instant vector on its own step-aligned grid (points are absolute
    // multiples of `step`, Prometheus-style) spanning the outer windows
    // `(outer_t - range, outer_t]`, then hand the gridded samples to the
    // enclosing range function as a range vector. Inner values follow this
    // engine's resample semantics (linear interpolation, edge extension —
    // Resample.scala); offset shifts the evaluated span like a range
    // selector's offset.
    case Subquery(inner, range, stepOpt, offsetOpt) =>
      val step = stepOpt.getOrElse(grid.step)
      if (step <= 0) throw EvalException("subquery step <= 0")
      val off = offsetOpt.getOrElse(0.0)
      val lo = grid.start - range - off // exclusive lower edge of the span
      val hi = grid.end - off
      val tFirst = (math.floor(lo / step) + 1) * step
      if (tFirst > hi) throw EvalException("empty subquery range")
      val innerGrid = Grid(tFirst, hi, step)
      resampled(eval(inner, collection, innerGrid), innerGrid) match {
        case p: Processed => UnprocessedVector(() => p.df, range, offsetOpt)
        case ScalarQ(_) => throw EvalException("subquery over a scalar is not meaningful")
        case _ => throw EvalException("subquery inner expression did not resample")
      }

    // `expr @ t`: evaluate the instant expression once on a single-point
    // grid pinned at t, then replicate that value across every output step
    // (a literal-array explode — no data motion, no shuffle).
    case AtMod(inner, spec) =>
      import org.apache.spark.sql.functions.explode
      val t = spec match {
        case AtTs(v) => v
        case AtStart => grid.start
        case AtEnd => grid.start + (grid.length - 1) * grid.step
      }
      val pinned = Grid(t, t + grid.step * 0.5, grid.step) // exactly one instant: t
      resampled(eval(inner, collection, pinned), pinned) match {
        case Processed(df) =>
          Processed(df.drop(Model.TsCol)
            .withColumn(Model.TsCol, explode(grid.pointsCol))
            .select(Model.SkeyCol, Model.LabelsCol, Model.TsCol, Model.ValueCol))
        case s: ScalarQ => s
        case _ => throw EvalException("'@' expects an instant expression")
      }

    case FuncCall(name, args, agg) if RangeFns.contains(name) =>
      val fn = RangeFns(name)
      rollupServed(fn, args, agg, collection, grid)
        .getOrElse(rangeFn(name, fn, args, agg, collection, grid))

    // absent_over_time: 1 at steps whose trailing window holds NO sample of
    // the selector (window-presence complement of absent()).
    case FuncCall("absent_over_time", args, agg) =>
      val present = rangeFn("absent_over_time", RangeKernel.PresentOverTime, args, agg, collection, grid)
      Processed(absentFrame(present.df, selectorLabels(args.head), grid))

    // double_exponential_smoothing is the Prometheus 3.x name for the same
    // function (holt_winters kept as the classic alias).
    case FuncCall("double_exponential_smoothing", args, agg) =>
      eval(FuncCall("holt_winters", args, agg), collection, grid)

    case FuncCall("holt_winters", args, agg) => args match {
      case Seq(inner, ScalarLit(sf), ScalarLit(tf)) =>
        if (sf <= 0 || sf >= 1 || tf <= 0 || tf >= 1)
          throw EvalException("holt_winters smoothing factors must be in (0, 1)")
        rangeFn("holt_winters", RangeKernel.HoltWinters(sf, tf), Seq(inner), agg, collection, grid)
      case _ => throw EvalException("'holt_winters' expects (range vector, scalar sf, scalar tf)")
    }

    case FuncCall("predict_linear", args, agg) => args match {
      case Seq(inner, ScalarLit(horizon)) =>
        rangeFn("predict_linear", RangeKernel.PredictLinear(horizon), Seq(inner), agg, collection, grid)
      case _ => throw EvalException("'predict_linear' expects (range vector, scalar horizon)")
    }

    case FuncCall("label_replace", args, agg) =>
      if (agg.isDefined) throw EvalException("'label_replace' expects no aggregation")
      args match {
        case Seq(v, StringLit(dst), StringLit(repl), StringLit(src), StringLit(regex)) =>
          resampled(eval(v, collection, grid), grid) match {
            case Processed(df) => Processed(Labels.labelReplace(df, dst, repl, src, regex))
            case _ => throw EvalException("'label_replace' expects an instant vector")
          }
        case _ => throw EvalException("'label_replace' expects (vector, dst, replacement, src, regex)")
      }

    case FuncCall("label_join", args, agg) =>
      if (agg.isDefined) throw EvalException("'label_join' expects no aggregation")
      args match {
        case (v +: StringLit(dst) +: StringLit(sep) +: rest) if rest.nonEmpty &&
            rest.forall(_.isInstanceOf[StringLit]) =>
          resampled(eval(v, collection, grid), grid) match {
            case Processed(df) => Processed(Labels.labelJoin(df, dst, sep,
              rest.map(_.asInstanceOf[StringLit].value)))
            case _ => throw EvalException("'label_join' expects an instant vector")
          }
        case _ => throw EvalException("'label_join' expects (vector, dst, sep, src...)")
      }

    case FuncCall("stddev", args, by) => evalAgg(args, by, collection, grid, Aggregate.stddevBy)
    case FuncCall("stdvar", args, by) => evalAgg(args, by, collection, grid, Aggregate.stdvarBy)

    case FuncCall("timestamp", args, agg) =>
      if (agg.isDefined) throw EvalException("'timestamp' expects no aggregation")
      if (args.length != 1) throw EvalException("'timestamp' expects a single argument")
      mapValuesWithTs(args.head, collection, grid)

    case FuncCall("count_values", args, agg) =>
      if (agg.isDefined) throw EvalException("'count_values' expects no aggregation")
      args match {
        case Seq(StringLit(label), v) =>
          resampled(eval(v, collection, grid), grid) match {
            case Processed(df) => Processed(Aggregate.countValues(df, label))
            case _ => throw EvalException("'count_values' expects an instant vector")
          }
        case _ => throw EvalException("'count_values' expects (string label, vector)")
      }

    case FuncCall("absent", args, agg) =>
      if (agg.isDefined) throw EvalException("'absent' expects no aggregation")
      if (args.length != 1) throw EvalException("'absent' expects a single argument")
      resampled(eval(args.head, collection, grid), grid) match {
        case Processed(df) => Processed(absentFrame(df, selectorLabels(args.head), grid))
        case _ => throw EvalException("'absent' expects an instant vector")
      }

    case StringLit(_) => throw EvalException("Not implemented yet") // Node::String, query.rs:568-570

    case b: BinOp => evalBinOp(b, collection, grid)

    // many-to-one matching: both sides must be instant vectors.
    // Fast path: `v op group_left agg by (L) (v)` with on(L) — the one
    // side is the many side's own group aggregate, so it becomes a window
    // over the single resampled frame (structural Node equality proves
    // applicability; saves the second resample and the join).
    case Grouped(b, g) =>
      val windowAgg: Option[String] = (g.include.isEmpty, b.matchOn) match {
        case (true, Some(onLs)) =>
          val (manyNode, oneNode) = if (g.leftIsMany) (b.lhs, b.rhs) else (b.rhs, b.lhs)
          oneNode match {
            case FuncCall(agg @ ("sum" | "avg" | "min" | "max" | "count"),
                          Seq(inner), Some(ByMod(ls)))
              if inner == manyNode && ls.sorted == onLs.sorted => Some(agg)
            case _ => None
          }
        case _ => None
      }
      windowAgg match {
        case Some(agg) =>
          resampled(eval(if (g.leftIsMany) b.lhs else b.rhs, collection, grid), grid) match {
            case Processed(df) =>
              Processed(BinOps.vectorGroupWindow(df, b.op, b.matchOn.get, agg,
                b.boolMod, g.leftIsMany))
            case _ => throw EvalException("group_left/group_right require vector operands")
          }
        case None =>
          (resampled(eval(b.lhs, collection, grid), grid),
            resampled(eval(b.rhs, collection, grid), grid)) match {
            case (Processed(l), Processed(r)) =>
              Processed(BinOps.vectorVectorGrouped(l, r, b.op, b.matchOn, b.matchIgnoring,
                b.boolMod, g.leftIsMany, g.include))
            case _ => throw EvalException("group_left/group_right require vector operands")
          }
      }

    case FuncCall("sum", args, by) => evalAgg(args, by, collection, grid, Aggregate.sumBy)
    case FuncCall("avg", args, by) => evalAgg(args, by, collection, grid, Aggregate.avgBy)
    case FuncCall("min", args, by) => evalAgg(args, by, collection, grid, Aggregate.minBy)
    case FuncCall("max", args, by) => evalAgg(args, by, collection, grid, Aggregate.maxBy)
    case FuncCall("count", args, by) => evalAgg(args, by, collection, grid, Aggregate.countBy)

    case FuncCall("group", args, by) => evalAgg(args, by, collection, grid, Aggregate.groupAgg)

    // pi() is the one zero-arg constant scalar function (Prometheus 2.31+).
    case FuncCall("pi", args, agg) =>
      if (agg.isDefined) throw EvalException("'pi' expects no aggregation")
      if (args.nonEmpty) throw EvalException("'pi' expects no arguments")
      ScalarQ(math.Pi)

    // time(): the evaluation timestamp as a per-step scalar.
    case FuncCall("time", args, agg) =>
      if (agg.isDefined) throw EvalException("'time' expects no aggregation")
      if (args.nonEmpty) throw EvalException("'time' expects no arguments")
      StepScalar(timeFrame(collection.df, grid))

    // vector(s): a scalar as a single labelless series.
    case FuncCall("vector", args, agg) =>
      if (agg.isDefined) throw EvalException("'vector' expects no aggregation")
      if (args.length != 1) throw EvalException("'vector' expects a single argument")
      val base = resampled(eval(args.head, collection, grid), grid) match {
        case ScalarQ(v) =>
          timeFrame(collection.df, grid)
            .withColumn(Model.ValueCol, org.apache.spark.sql.functions.lit(v))
        case StepScalar(df) => df
        case _ => throw EvalException("'vector' expects a scalar argument")
      }
      val emptyLabels = org.apache.spark.sql.functions.map()
        .cast(org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      Processed(base
        .withColumn(Model.LabelsCol, emptyLabels)
        .withColumn(Model.SkeyCol, Model.canonicalKey(org.apache.spark.sql.functions.col(Model.LabelsCol)))
        .select(Model.SkeyCol, Model.LabelsCol, Model.TsCol, Model.ValueCol))

    // scalar(v): the vector's value where it has exactly one series at a
    // step, NaN elsewhere (Prometheus semantics) — a groupBy on ts plus a
    // left join from the grid spine so missing steps surface as NaN.
    case FuncCall("scalar", args, agg) =>
      if (agg.isDefined) throw EvalException("'scalar' expects no aggregation")
      if (args.length != 1) throw EvalException("'scalar' expects a single argument")
      resampled(eval(args.head, collection, grid), grid) match {
        case Processed(df) =>
          import org.apache.spark.sql.functions._
          val perTs = df.groupBy(Model.TsCol).agg(
            when(count(lit(1)) === 1, max(Model.ValueCol))
              .otherwise(lit(Double.NaN)).as("__sv__"))
          StepScalar(timeFrame(collection.df, grid)
            .join(perTs, Seq(Model.TsCol), "left")
            .select(col(Model.TsCol),
              coalesce(col("__sv__"), lit(Double.NaN)).as(Model.ValueCol)))
        case _ => throw EvalException("'scalar' expects an instant vector")
      }

    // sort/sort_desc order an instant vector by value (presentation only —
    // row content is unchanged; like Prometheus, meaningful for table views).
    case FuncCall(sortName @ ("sort" | "sort_desc"), args, agg) =>
      if (agg.isDefined) throw EvalException(s"'$sortName' expects no aggregation")
      if (args.length != 1) throw EvalException(s"'$sortName' expects a single argument")
      resampled(eval(args.head, collection, grid), grid) match {
        case Processed(df) =>
          val v = df.col(graft.Model.ValueCol)
          Processed(df.orderBy(if (sortName == "sort") v.asc else v.desc))
        case _ => throw EvalException(s"'$sortName' expects an instant vector")
      }

    // sort_by_label/sort_by_label_desc (Prometheus 3.x experimental):
    // presentation ordering by the listed label values, then skey.
    case FuncCall(sortName @ ("sort_by_label" | "sort_by_label_desc"), args, agg) =>
      if (agg.isDefined) throw EvalException(s"'$sortName' expects no aggregation")
      if (args.isEmpty) throw EvalException(s"'$sortName' expects (vector, label, ...)")
      val labelNames = args.tail.map {
        case StringLit(l) => l
        case other => throw EvalException(s"'$sortName' label arguments must be strings, got $other")
      }
      resampled(eval(args.head, collection, grid), grid) match {
        case Processed(df) =>
          import org.apache.spark.sql.functions.col
          val keys = labelNames.map(l => df.col(Model.LabelsCol).getItem(l)) :+
            col(Model.SkeyCol)
          val ordered = keys.map(k => if (sortName == "sort_by_label") k.asc else k.desc)
          Processed(df.orderBy(ordered: _*))
        case _ => throw EvalException(s"'$sortName' expects an instant vector")
      }

    // limitk/limit_ratio (Prometheus 3.x experimental): series sampling.
    // Both select SERIES, not samples, and the series set (and every skey)
    // is invariant under resample — so when the inner expression is a bare
    // unresampled selector, the filter is PUSHED BELOW the resample: only
    // the surviving series pay the gridding windows. At 100 TB this is the
    // difference between resampling every series and resampling k·groups.
    case FuncCall("limitk", args, by) =>
      val (k, inner) = scalarAndVector("limitk", args)
      if (k != math.rint(k) || k < 1) throw EvalException(s"limitk k must be a positive integer, got $k")
      val group = by.map { case ByMod(ls) => (ls, false); case WithoutMod(ls) => (ls, true) }
      eval(inner, collection, grid) match {
        case u: Unprocessed => Unprocessed(() => Aggregate.limitk(u.df, k.toInt, group), u.offset)
        case other => resampled(other, grid) match {
          case Processed(df) => Processed(Aggregate.limitk(df, k.toInt, group))
          case _ => throw EvalException("'limitk' expects an instant vector")
        }
      }
    case FuncCall("limit_ratio", args, agg) =>
      val _ = agg // hash is per-series; grouping cannot change the result
      val (r, inner) = scalarAndVector("limit_ratio", args)
      if (r < -1.0 || r > 1.0) throw EvalException(s"limit_ratio must be in [-1, 1], got $r")
      eval(inner, collection, grid) match {
        case u: Unprocessed => Unprocessed(() => Aggregate.limitRatio(u.df, r), u.offset)
        case other => resampled(other, grid) match {
          case Processed(df) => Processed(Aggregate.limitRatio(df, r))
          case _ => throw EvalException("'limit_ratio' expects an instant vector")
        }
      }

    case FuncCall("topk", args, by) => evalTopk(args, by, collection, grid, bottom = false)
    case FuncCall("bottomk", args, by) => evalTopk(args, by, collection, grid, bottom = true)
    case FuncCall("quantile", args, by) =>
      val (q, inner) = scalarAndVector("quantile", args)
      val (labels, without) = aggLabels(by)
      resampled(eval(inner, collection, grid), grid) match {
        case Processed(df) => Processed(Aggregate.quantileBy(df, q, labels, without))
        case _ => throw EvalException("resampling failed")
      }

    case FuncCall(name, args, agg) if MathFns.contains(name) =>
      if (agg.isDefined) throw EvalException(s"'$name' expects no aggregation")
      if (args.length != 1) throw EvalException(s"'$name' expects a single argument, got ${args.length}")
      mapValues(args.head, collection, grid)(MathFns(name))

    case FuncCall("clamp", args, agg) =>
      if (agg.isDefined) throw EvalException("'clamp' expects no aggregation")
      args match {
        case Seq(v, ScalarLit(lo), ScalarLit(hi)) =>
          mapValues(v, collection, grid)(c =>
            org.apache.spark.sql.functions.least(
              org.apache.spark.sql.functions.greatest(c, org.apache.spark.sql.functions.lit(lo)),
              org.apache.spark.sql.functions.lit(hi)))
        case _ => throw EvalException("'clamp' expects (vector, scalar min, scalar max)")
      }
    case FuncCall("clamp_min", Seq(v, ScalarLit(m)), None) =>
      mapValues(v, collection, grid)(c =>
        org.apache.spark.sql.functions.greatest(c, org.apache.spark.sql.functions.lit(m)))
    case FuncCall("clamp_max", Seq(v, ScalarLit(m)), None) =>
      mapValues(v, collection, grid)(c =>
        org.apache.spark.sql.functions.least(c, org.apache.spark.sql.functions.lit(m)))

    // round(v[, to_nearest]): nearest multiple of to_nearest, ties UP —
    // Prometheus is floor(v/n + 0.5)*n (functions.go), not half-even.
    case FuncCall("round", args, agg) =>
      if (agg.isDefined) throw EvalException("'round' expects no aggregation")
      args match {
        case Seq(v) => mapValues(v, collection, grid)(c =>
          org.apache.spark.sql.functions.floor(
            c + org.apache.spark.sql.functions.lit(0.5)).cast(
            org.apache.spark.sql.types.DoubleType))
        // Prometheus computes via the INVERSE (functions.go funcRound:
        // floor(v*toNearestInverse+0.5)/toNearestInverse); v/n differs in the
        // last ULP at tie boundaries, so mirror the inverse form exactly.
        case Seq(v, ScalarLit(n)) if n != 0 =>
          val inv = 1.0 / n
          mapValues(v, collection, grid)(c =>
            org.apache.spark.sql.functions.floor(
              c * org.apache.spark.sql.functions.lit(inv) +
                org.apache.spark.sql.functions.lit(0.5)) / org.apache.spark.sql.functions.lit(inv))
        case _ => throw EvalException("'round' expects (vector[, non-zero scalar to_nearest])")
      }

    case FuncCall("quantile_over_time", args, agg) => args match {
      case Seq(ScalarLit(q), inner) =>
        rangeFn("quantile_over_time", RangeKernel.QuantileOverTime(q), Seq(inner), agg, collection, grid)
      case _ => throw EvalException("'quantile_over_time' expects (scalar q, range vector)")
    }

    case FuncCall("histogram_quantile", args, agg) =>
      if (args.length != 2)
        throw EvalException(s"'histogram_quantile' needs exactly 2 arguments, got ${args.length}")
      if (agg.isDefined)
        throw EvalException("'histogram_quantile' expects no aggregation")
      val q = eval(args.head, collection, grid) match {
        case ScalarQ(v) => v
        case _ => throw EvalException("Expected a scalar")
      }
      // Native-histogram dispatch: an instant selector — or rate() over a
      // range selector — whose metric name is registered in the context
      // takes the map-only sparse-bucket walk.
      nativeGridFrame(args(1), collection, grid) match {
        case Some(snapped) =>
          Processed(Model.withSkey(NativeHistogram.quantile(snapped, q)))
        case None =>
          resampled(eval(args(1), collection, grid), grid) match {
            case Processed(df) => Processed(HistogramQuantile.quantile(df, q))
            case _ => throw EvalException("resampling failed")
          }
      }

    // histogram_fraction(lo, hi, v) (Prometheus 2.40+) — native-only: the
    // estimated share of observations in [lo, hi], same CDF machinery as
    // the quantile walk; accepts the same inner shapes (selector, rate,
    // increase, sum by) as histogram_quantile.
    case FuncCall("histogram_fraction", args, agg) =>
      if (args.length != 3)
        throw EvalException(s"'histogram_fraction' needs exactly 3 arguments, got ${args.length}")
      if (agg.isDefined)
        throw EvalException("'histogram_fraction' expects no aggregation")
      def scalarArg(n: Node, which: String): Double = eval(n, collection, grid) match {
        case ScalarQ(v) => v
        case _ => throw EvalException(s"'histogram_fraction' $which bound must be a scalar")
      }
      val lo = scalarArg(args(0), "lower")
      val hi = scalarArg(args(1), "upper")
      nativeGridFrame(args(2), collection, grid) match {
        case Some(snapped) =>
          Processed(Model.withSkey(NativeHistogram.fraction(snapped, lo, hi)))
        case None => throw EvalException(
          "'histogram_fraction' requires a registered native-histogram metric selector (or rate/increase/sum over one)")
      }

    // Native-histogram scalar extracts (Prometheus 2.40+) — native-only:
    // classic histograms expose _sum/_count SERIES instead. Each also
    // accepts rate(m[range]) like histogram_quantile does.
    case FuncCall(fn @ ("histogram_sum" | "histogram_count" | "histogram_avg"
        | "histogram_stddev" | "histogram_stdvar"), args, agg) =>
      if (agg.isDefined) throw EvalException(s"'$fn' expects no aggregation")
      val snapped = args match {
        case Seq(node) => nativeGridFrame(node, collection, grid).getOrElse(
          throw EvalException(
            s"'$fn' requires a registered native-histogram metric selector (or rate over one)"))
        case _ => throw EvalException(s"'$fn' expects a single vector argument")
      }
      val out = fn match {
        case "histogram_sum" => NativeHistogram.sumOf(snapped)
        case "histogram_count" => NativeHistogram.countOf(snapped)
        case "histogram_stddev" => NativeHistogram.stddevOf(snapped)
        case "histogram_stdvar" => NativeHistogram.stdvarOf(snapped)
        case _ => NativeHistogram.avgOf(snapped)
      }
      Processed(Model.withSkey(out))

    case FuncCall(other, _, _) => throw EvalException(s"Cannot handle function '$other'")
  }

  /** The range functions whose single argument is a range vector, by
    * PromQL name (`delta` is `increase`: the reference has no reset logic). */
  private val RangeFns: Map[String, RangeKernel.Fn] = {
    import RangeKernel._
    Seq(Rate, Irate, Increase, Deriv, Idelta, Changes, Resets,
      RateResets, IncreaseResets, IrateResets,
      AvgOverTime, MinOverTime, MaxOverTime, SumOverTime, CountOverTime, LastOverTime,
      PresentOverTime, StddevOverTime, StdvarOverTime, MadOverTime)
      .map(fn => fn.name -> fn).toMap + ("delta" -> Increase)
  }

  /** A range function `fn` over its one range-vector argument, through the
    * per-series [[RangeKernel]]; the selector's `offset` goes to the kernel.
    * `name` is the function as the query spells it, for the errors. */
  private def rangeFn(name: String, fn: RangeKernel.Fn, args: Seq[Node], agg: Option[AggMod],
                      collection: Ctx, grid: Grid): Processed = {
    if (agg.isDefined) throw EvalException(s"'$name' expects no aggregation")
    if (args.length != 1) throw EvalException(s"'$name' expects a single argument, got ${args.length}")
    eval(args.head, collection, grid) match {
      case v: UnprocessedVector =>
        Processed.kernel(v.folded, grid, fn, v.overRange, v.offset.getOrElse(0.0))
      case _: Unprocessed => throw EvalException(s"'$name' requires a vectorized time series")
      case _: Processed => throw EvalException(s"'$name' cannot process the processed yet")
      case ScalarQ(_) | StepScalar(_) => throw EvalException(s"The $name over a scalar is not meaningful")
    }
  }

  /** Rollup-store dispatch (the recording-rule serving path): Some(result)
    * when the call is a supported `*_over_time` over a PLAIN range selector
    * whose metric has a registered [[graft.sources.RollupStore]] and whose
    * range, grid start and grid step are all multiples of the store's
    * frozen resolution — then the PromQL window `(t − range, t]` is an
    * exact union of store buckets and the store answer is bit-identical to
    * the raw-sample answer, at ~res/range of the read. None on ANY other
    * shape (offset, subquery argument, misaligned range/grid, unregistered
    * metric, aggregation modifier): the caller falls back to the raw path,
    * so registration is purely an optimization, never a semantics change.
    * Non-name matchers are pushed into the store scan as a series-level
    * bucket filter (bucket labels ARE the series labels). */
  private def rollupServed(fn: RangeKernel.Fn, args: Seq[Node], agg: Option[AggMod],
                           collection: Ctx, grid: Grid): Option[QR] = {
    if (agg.isDefined || collection.rollups.isEmpty || !RollupStore.OverTimeFns(fn)) return None
    args match {
      case Seq(VectorSel(ms, Some(range), None)) =>
        ms.filter(_.label == Model.NameLabel) match {
          case Seq(Selector.Eq(_, metric)) =>
            collection.rollups.get(metric)
              .filter(reg => range > 0 && range % reg.res == 0 &&
                grid.start % reg.res == 0 && grid.step % reg.res == 0)
              .map { reg =>
                val others = ms.filterNot(_.label == Model.NameLabel)
                Processed(RollupStore.overTime(
                  collection.df.sparkSession, reg, metric, grid, range, fn,
                  df => Selector.select(df, others)))
              }
          case _ => None
        }
      case _ => None
    }
  }

  /** Unary math functions (PromQL extension; Prometheus semantics — labels
    * keep everything but the metric name). All are plain codegen'd column
    * expressions. Spark's ceil/floor return LONG; cast back to double. */
  private val MathFns: Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    // Spark's log/log2/log10 return NULL for input <= 0; Prometheus (IEEE)
    // wants -Inf at 0 and NaN below — map explicitly so no NULL ever enters
    // the value column (the wire serializer is NaN-aware, not NULL-aware).
    def ieeeLog(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
               (c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c > 0, f(c))
        .when(c === 0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN))
    Map(
      "abs" -> (c => abs(c)),
      "ceil" -> (c => ceil(c).cast(DoubleType)),
      "floor" -> (c => floor(c).cast(DoubleType)),
      "sqrt" -> (c => sqrt(c)),
      "exp" -> (c => exp(c)),
      "ln" -> ieeeLog(log),
      "log2" -> ieeeLog(log2),
      "log10" -> ieeeLog(log10),
      "sgn" -> (c => signum(c)),
      // trig family (Prometheus 2.31+): straight IEEE pass-throughs —
      // Spark follows java.lang.Math, so out-of-domain inputs (asin(2),
      // acosh(0.5)) yield NaN exactly like Prometheus.
      "sin" -> (c => sin(c)), "cos" -> (c => cos(c)), "tan" -> (c => tan(c)),
      "asin" -> (c => asin(c)), "acos" -> (c => acos(c)), "atan" -> (c => atan(c)),
      "sinh" -> (c => sinh(c)), "cosh" -> (c => cosh(c)), "tanh" -> (c => tanh(c)),
      "asinh" -> (c => asinh(c)), "acosh" -> (c => acosh(c)), "atanh" -> (c => atanh(c)),
      "deg" -> (c => degrees(c)), "rad" -> (c => radians(c)),
      // time-component family: the VALUE is interpreted as an epoch (the
      // idiomatic call is e.g. hour(timestamp(v)), like Prometheus). The
      // first three are pure arithmetic (engine-portable); the calendar
      // ones go through UTC timestamp functions (session TZ is UTC).
      "minute" -> (c => (floor(c / 60) % 60).cast(DoubleType)),
      "hour" -> (c => (floor(c / 3600) % 24).cast(DoubleType)),
      "day_of_week" -> (c => ((floor(c / 86400) + 4) % 7).cast(DoubleType)), // epoch day 0 = Thursday
      "day_of_month" -> (c => dayofmonth(timestamp_seconds(c.cast("long"))).cast(DoubleType)),
      "month" -> (c => month(timestamp_seconds(c.cast("long"))).cast(DoubleType)),
      "year" -> (c => year(timestamp_seconds(c.cast("long"))).cast(DoubleType)),
      "days_in_month" -> (c => dayofmonth(last_day(timestamp_seconds(c.cast("long")))).cast(DoubleType)))
  }

  /** Resample the operand and transform the value column; metric name drops
    * from the labels (Prometheus math-function semantics). */
  private def mapValues(arg: Node, collection: Ctx, grid: Grid)(
      fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column): QR =
    resampled(eval(arg, collection, grid), grid) match {
      case Processed(df) =>
        Processed(BinOps.dropName(df.withColumn(Model.ValueCol,
          fn(org.apache.spark.sql.functions.col(Model.ValueCol)))))
      case StepScalar(df) => // hour(time()) and friends stay per-step scalars
        StepScalar(df.withColumn(Model.ValueCol,
          fn(org.apache.spark.sql.functions.col(Model.ValueCol))))
      case ScalarQ(_) => throw EvalException("math functions expect an instant vector")
      case _ => throw EvalException("resampling failed")
    }

  /** `timestamp(v)`: the sample timestamp as the value — on a resampled
    * grid that is the grid instant itself (name drops like other
    * value-transforming functions). */
  private def mapValuesWithTs(arg: Node, collection: Ctx, grid: Grid): QR =
    resampled(eval(arg, collection, grid), grid) match {
      case Processed(df) =>
        Processed(BinOps.dropName(df.withColumn(Model.ValueCol,
          org.apache.spark.sql.functions.col(Model.TsCol))))
      case _ => throw EvalException("'timestamp' expects an instant vector")
    }

  /** The labels `absent`/`absent_over_time` give their synthetic series:
    * like Prometheus, only a plain selector's equality matchers carry over. */
  private def selectorLabels(arg: Node): Map[String, String] = arg match {
    case VectorSel(ms, _, _) => ms.collect {
      case Selector.Eq(l, v) if l != graft.Model.NameLabel => l -> v
    }.toMap
    case _ => Map.empty
  }

  /** `absent(v)`: for each grid instant with NO row in `present` (an
    * instant vector, or absent_over_time's present_over_time windows), one
    * synthetic series (labels = the selector's equality matchers) with
    * value 1. Distributed shape: a literal grid frame anti-joined against
    * the input's distinct instants — no driver-side emptiness check. */
  private def absentFrame(present: DataFrame, labels: Map[String, String], grid: Grid): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = present.sparkSession
    import spark.implicits._
    val gridDf = Seq(1).toDF("__one__")
      .select(explode(grid.pointsCol).as(Model.TsCol))
    val labelPairs = labels.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    val labelMap =
      if (labelPairs.isEmpty)
        map().cast(org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      else map(labelPairs: _*)
    gridDf.join(present.select(col(Model.TsCol)).distinct(), Seq(Model.TsCol), "left_anti")
      .select(Model.canonicalKey(labelMap).as(Model.SkeyCol), labelMap.as(Model.LabelsCol),
        col(Model.TsCol), lit(1.0).as(Model.ValueCol))
  }

  /** Two-arg aggregations `topk(k, v)` / `quantile(q, v)`: first argument
    * must be a scalar literal. */
  private def scalarAndVector(name: String, args: Seq[Node]): (Double, Node) = args match {
    case Seq(ScalarLit(k), inner) => (k, inner)
    case _ => throw EvalException(s"'$name' expects (scalar, vector) arguments")
  }

  private def evalTopk(args: Seq[Node], by: Option[AggMod], collection: Ctx,
                       grid: Grid, bottom: Boolean): QR = {
    val (k, inner) = scalarAndVector(if (bottom) "bottomk" else "topk", args)
    if (k != math.rint(k) || k < 1) throw EvalException(s"topk/bottomk k must be a positive integer, got $k")
    val group = by.map { case ByMod(ls) => (ls, false); case WithoutMod(ls) => (ls, true) }
    resampled(eval(inner, collection, grid), grid) match {
      case Processed(df) => Processed(Aggregate.topk(df, k.toInt, group, bottom))
      case _ => throw EvalException("resampling failed")
    }
  }

  /** Binary operators (extension; reference query.rs:549-551 rejects them).
    * Both sides are resampled onto the grid first, so vector-vector matching
    * is an equi-join per instant. */
  /** Detects `scalar(agg(v))` where the aggregate's subtree IS `many` —
    * the normalization idiom `v / scalar(sum(v))`. A bare aggregate always
    * yields exactly one series per step, so scalar() is the aggregate value
    * and the whole thing is a window over the one resampled frame. */
  private def scalarSelfAgg(many: Node, other: Node): Option[String] = other match {
    case FuncCall("scalar", Seq(FuncCall(agg @ ("sum" | "avg" | "min" | "max" | "count"),
                                         Seq(inner), mod)), None)
      if inner == many && (mod.isEmpty || mod.contains(ByMod(Seq.empty))) => Some(agg)
    case _ => None
  }

  private def evalBinOp(b: BinOp, collection: Ctx, grid: Grid): QR = {
    def proc(n: Node): QR = resampled(eval(n, collection, grid), grid)
    if (!Ops.SetOps(b.op)) {
      val fast = scalarSelfAgg(b.lhs, b.rhs).map(a => (a, true))
        .orElse(scalarSelfAgg(b.rhs, b.lhs).map(a => (a, false)))
      fast match {
        case Some((agg, manyIsLeft)) =>
          proc(if (manyIsLeft) b.lhs else b.rhs) match {
            case Processed(df) =>
              return Processed(BinOps.vectorGroupWindow(df, b.op, Seq.empty, agg,
                b.boolMod, manyIsLeft))
            case _ => () // non-vector operand: fall through to the general paths
          }
        case None => ()
      }
    }
    (proc(b.lhs), proc(b.rhs)) match {
      case (ScalarQ(a), ScalarQ(c)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between scalars")
        ScalarQ(BinOps.scalarScalar(b.op, a, c, b.boolMod))
      case (Processed(df), ScalarQ(s)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between vector and scalar")
        Processed(BinOps.vectorScalar(df, b.op, s, scalarOnRight = true, b.boolMod))
      case (ScalarQ(s), Processed(df)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between vector and scalar")
        Processed(BinOps.vectorScalar(df, b.op, s, scalarOnRight = false, b.boolMod))
      case (Processed(l), Processed(r)) =>
        if (Ops.SetOps(b.op)) Processed(BinOps.setOp(l, r, b.op, b.matchOn, b.matchIgnoring))
        else Processed(BinOps.vectorVector(l, r, b.op, b.matchOn, b.matchIgnoring, b.boolMod))
      case (Processed(df), StepScalar(s)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between vector and scalar")
        Processed(BinOps.vectorStepScalar(df, b.op, s, scalarOnRight = true, b.boolMod))
      case (StepScalar(s), Processed(df)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between vector and scalar")
        Processed(BinOps.vectorStepScalar(df, b.op, s, scalarOnRight = false, b.boolMod))
      case (StepScalar(l), StepScalar(r)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between scalars")
        if (Ops.isCmp(b.op) && !b.boolMod)
          throw EvalException("comparisons between scalars must use BOOL modifier")
        StepScalar(BinOps.stepStep(l, r, b.op))
      case (StepScalar(l), ScalarQ(s)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between scalars")
        if (Ops.isCmp(b.op) && !b.boolMod)
          throw EvalException("comparisons between scalars must use BOOL modifier")
        StepScalar(stepLit(l, b.op, s, scalarOnRight = true))
      case (ScalarQ(s), StepScalar(r)) =>
        if (Ops.SetOps(b.op)) throw EvalException(s"set operator '${b.op}' not defined between scalars")
        if (Ops.isCmp(b.op) && !b.boolMod)
          throw EvalException("comparisons between scalars must use BOOL modifier")
        StepScalar(stepLit(r, b.op, s, scalarOnRight = false))
      case _ => throw EvalException("binary operands must be instant vectors or scalars")
    }
  }

  /** step-scalar ⊗ literal scalar: pure column arithmetic on the tiny frame
    * (`scalarOnRight` = the literal is the RIGHT operand). */
  private def stepLit(df: DataFrame, op: String, s: Double, scalarOnRight: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val v = col(Model.ValueCol)
    val sc = lit(s)
    def sided(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      if (scalarOnRight) f(v, sc) else f(sc, v)
    val out =
      if (Ops.isCmp(op)) when(sided(BinOps.cmp(op, _, _)), lit(1.0)).otherwise(lit(0.0))
      else sided(BinOps.arith(op, _, _))
    df.withColumn(Model.ValueCol, out).select(Model.TsCol, Model.ValueCol)
  }

  /** Unpacks an aggregation grouping modifier into (labels, without-flag). */
  private def aggLabels(mod: Option[AggMod]): (Seq[String], Boolean) = mod match {
    case Some(ByMod(ls)) => (ls, false)
    case Some(WithoutMod(ls)) => (ls, true)
    // bare `sum(m)` = aggregate everything into one series (Prometheus
    // semantics: equivalent to `by ()` — retain no labels). The reference
    // rejects this (query.rs:461-463); supporting it is an extension like
    // `without`.
    case None => (Seq.empty, false)
  }

  /** Resolve an expression into an ON-GRID native-histogram frame when its
    * underlying selector names a registered native metric: a bare instant
    * selector snaps to the grid (staleness lookback = one step);
    * `rate(sel[range])` produces the windowed bucket-delta rate, already
    * gridded. None → not native-addressable (callers fall back to the
    * classic path or raise). */
  private def nativeGridFrame(node: Node, collection: Ctx, grid: Grid): Option[DataFrame] = {
    def resolve(ms: Seq[Selector.Matcher]): Option[DataFrame] =
      ms.collectFirst { case Selector.Eq(l, n)
          if l == Model.NameLabel && collection.native.contains(n) => n }
        .map(name => Selector.select(Model.withSkey(collection.native(name)), ms))
    node match {
      case VectorSel(ms, None, offset) =>
        resolve(ms).map(NativeHistogram.snapToGrid(_, grid, offset.getOrElse(0.0)))
      case FuncCall("rate", Seq(VectorSel(ms, Some(r), offset)), None) =>
        resolve(ms).map(NativeHistogram.rate(_, grid, r, offset.getOrElse(0.0)))
      case FuncCall("increase", Seq(VectorSel(ms, Some(r), offset)), None) =>
        resolve(ms).map(NativeHistogram.increase(_, grid, r, offset.getOrElse(0.0)))
      // sum [by (...)] over a native frame merges whole distributions —
      // the canonical histogram_quantile(q, sum by (l) (rate(m[5m]))).
      case FuncCall("sum", Seq(inner), byMod) =>
        nativeGridFrame(inner, collection, grid).map { nhf =>
          val by = byMod match {
            case None => Seq.empty[String]
            case Some(ByMod(ls)) => ls
            case Some(WithoutMod(_)) => throw EvalException(
              "sum without (...) over native histograms is not supported; list the labels to keep with by (...)")
          }
          NativeHistogram.merge(nhf, by)
        }
      case _ => None
    }
  }

  private def evalAgg(args: Seq[Node], by: Option[AggMod], collection: Ctx,
                      grid: Grid, fn: (DataFrame, Seq[String], Boolean) => DataFrame): QR = {
    if (args.length != 1) throw EvalException(s"aggregation expects a single argument, got ${args.length}")
    val (labels, without) = aggLabels(by)
    resampled(eval(args.head, collection, grid), grid) match {
      case Processed(df) => Processed(fn(df, labels, without))
      case _ => throw EvalException("resampling failed")
    }
  }
}
