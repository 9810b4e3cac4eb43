package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Model
import graft.functions.RangeKernel
import graft.operators.{Grid, Resample}

/** Persistent downsampling store — recording rules / Thanos-compact-style
  * rollups for the time-series side: pre-aggregate raw samples into
  * fixed-resolution buckets ONCE, then answer `*_over_time`-shaped range
  * queries from the bucket store without ever rescanning raw samples. At
  * 100 TB of metrics this is the difference between a dashboard query
  * reading ~1/res of the data and re-reading a month of raw points: the
  * reference server re-reads its in-memory vectors per query
  * (timeseries.rs:57-191); the at-scale answer is a materialized rollup.
  *
  * Bucketing: bucket `wend` covers the LEFT-OPEN interval
  * `(wend − res, wend]`, i.e. `wend = ceil(ts / res) · res` — chosen so a
  * PromQL-convention window `(grid_t − range, grid_t]`
  * ([[graft.functions.RangeKernel]]'s half-open rule) is an
  * EXACT union of buckets whenever `grid_t` and `range` are multiples of
  * `res`. No partial-bucket edge correction exists or is needed.
  *
  * Layout under `dir`:
  *   - `meta.parquet` one row: (res) — frozen at build ([[DedupIndex]]
  *     convention: appended buckets stay mergeable forever).
  *   - `rollup.parquet` PARTITIONED BY `__metric__` ([[TsSink]]'s pruning
  *     contract): rows (skey, labels, wend, cnt, sum, min, max, first_ts,
  *     first_v, last_ts, last_v) — PARTIAL aggregates.
  *
  * Append never reads the store: each batch writes its own partial rows
  * (a bounded groupBy over the batch), and [[mergedBuckets]] re-aggregates
  * per (skey, wend) at read time — every merge is EXACT (count/sum add,
  * min/max idempotent, first/last = lexicographic struct min/max on the
  * unique-per-series ts), so build+append ≡ one-pass rollup bit-for-bit
  * (a periodic compaction can rewrite partials as merged rows with the
  * SAME semantics; correctness never depends on it).
  *
  * Read plan ([[overTime]]): a scan filtered on the metric partition, the
  * label matchers and the grid's bucket span; the (skey, wend) merge; one
  * fold per series into `wend[]` plus partial arrays; then one
  * [[graft.functions.RangeKernel]] pass per row — two aggregations, no
  * per-window rows.
  */
object RollupStore {

  private val MetricCol = "__metric__"

  /** A store handle with its frozen resolution pre-read — what
    * [[graft.promql.Eval]] keys its dispatch table on and [[overTime]]
    * reads (reading res per query would add a parquet round-trip, a Spark
    * job, to every read). */
  final case class Registered(dir: String, res: Double)

  def register(spark: SparkSession, dir: String): Registered =
    Registered(dir, readRes(spark, dir))

  /** Partial rollup rows for one batch of samples (the write-side shape). */
  def rollup(samples: DataFrame, res: Double): DataFrame = {
    // res == 0 would divide to null/infinite wend and silently corrupt the
    // store, surfacing only later as an overTime alignment failure
    require(res > 0, s"rollup resolution must be positive, got $res")
    val s = Model.withSkey(samples)
      .withColumn(MetricCol, col(Model.LabelsCol).getItem(Model.NameLabel))
      .withColumn("wend",
        ceil(col(Model.TsCol) / lit(res)) * lit(res))
    s.groupBy(col(MetricCol), col(Model.SkeyCol), col("wend"))
      .agg(
        first(Model.LabelsCol).as(Model.LabelsCol),
        count(lit(1)).cast(LongType).as("cnt"),
        sum(Model.ValueCol).as("sum"),
        min(Model.ValueCol).as("min"),
        max(Model.ValueCol).as("max"),
        min(struct(col(Model.TsCol).as("t"), col(Model.ValueCol).as("v"))).as("__f__"),
        max(struct(col(Model.TsCol).as("t"), col(Model.ValueCol).as("v"))).as("__l__"))
      .select(col(MetricCol), col(Model.SkeyCol), col(Model.LabelsCol),
        col("wend"), col("cnt"), col("sum"), col("min"), col("max"),
        col("__f__.t").as("first_ts"), col("__f__.v").as("first_v"),
        col("__l__.t").as("last_ts"), col("__l__.v").as("last_v"))
  }

  /** The schema of `rollup.parquet` as read back: [[rollup]]'s columns,
    * with the `__metric__` partition column last, where partition
    * discovery puts it. Reading with it skips the footer read that would
    * otherwise infer it, a Spark job on every read, compaction and
    * retention. */
  private[graft] val StoreSchema: StructType = StructType(
    Seq(Model.SkeyCol -> StringType, Model.LabelsCol -> MapType(StringType, StringType),
      "wend" -> DoubleType, "cnt" -> LongType, "sum" -> DoubleType, "min" -> DoubleType,
      "max" -> DoubleType, "first_ts" -> DoubleType, "first_v" -> DoubleType,
      "last_ts" -> DoubleType, "last_v" -> DoubleType, MetricCol -> StringType)
      .map { case (name, t) => StructField(name, t) })

  private val Meta = StoreOps.Table("meta")
  private[graft] val Rollup = StoreOps.Table("rollup", Seq(MetricCol), Some(StoreSchema))

  /** Roll `samples` up at `res` seconds and write the store. */
  def build(samples: DataFrame, dir: String, res: Double): Unit =
    StoreOps.Lease.withLease(samples.sparkSession, dir) {
    val spark = samples.sparkSession
    // meta and the rollup table are disjoint directories — concurrent
    // (guide §2.6; StoreOps.overlap)
    StoreOps.overlap(Seq(
      () => Meta.write(spark.createDataFrame(Seq(Tuple1(res))).toDF("res").coalesce(1), dir),
      () => Rollup.write(rollup(samples, res), dir)))
  }

  /** Roll a new batch up with the FROZEN resolution and append its partial
    * rows — a bounded aggregation over the batch; the store is never read
    * or reshuffled. `batchId` commits the partial files under batch-keyed
    * names ([[StoreOps.Table.append]]) so a replayed batch never
    * double-counts its partials (the streaming path always passes the
    * foreachBatch id). */
  def append(dir: String, samples: DataFrame,
             batchId: Option[Long] = None): Unit =
    StoreOps.Lease.withLease(samples.sparkSession, dir) {
    Rollup.append(rollup(samples, readRes(samples.sparkSession, dir)), dir, batchId)
  }

  def readRes(spark: SparkSession, dir: String): Double =
    Meta.read(spark, dir).head().getDouble(0)

  /** Compaction: rewrite the accumulated per-batch PARTIAL rows as fully
    * merged buckets — the Thanos/TSDB compaction job. Append never reads
    * the store, so after months of micro-batches each (series, bucket)
    * holds one partial row PER BATCH and [[mergedBuckets]] re-merges them
    * on every query; compaction pays that merge once and collapses each
    * metric directory to one file. The merge is the EXACT read-side merge
    * (count/sum add, min/max idempotent, first/last struct extrema), so
    * nothing observable changes — same rows, one partial each — and the
    * store stays append-compatible (compacted rows ARE partial rows).
    * Write-aside-and-swap: the rewrite reads the files it replaces. */
  def compact(dir: String): Unit =
    StoreOps.compact(dir, Seq(Rollup), _ => partials => merge(partials, col(MetricCol))
      .select(col(MetricCol) +: (Model.SkeyCol +: MergedCols).map(col): _*))

  /** Retention: drop every bucket with `wend` ≤ `cutoff` — the TSDB TTL
    * job. `cutoff` must be a multiple of the store resolution so the cut
    * falls on a bucket boundary; then (left-open bucketing) retention is
    * EXACTLY equivalent to having built the store from samples with
    * `ts > cutoff` — no bucket ever straddles the cut. RollupSpec pins
    * the equivalence, and that a misaligned cutoff is rejected with the
    * store left as it was. Write-aside-and-swap, same as [[compact]]. */
  def retention(dir: String, cutoff: Double): Unit =
    StoreOps.Lease.withLease(SparkSession.active, dir) {
    val res = readRes(SparkSession.active, dir)
    // integral-multiplicity with RELATIVE tolerance, not IEEE `%` (which is
    // exact only for integral operands — res = 0.1, cutoff = 0.3 is aligned
    // but 0.3 % 0.1 != 0 in doubles). Relative, because for large quotients
    // (epoch-second cutoffs over sub-second resolution, q ≳ 1e9) the
    // division's rounding error alone exceeds an absolute 1e-9 and would
    // reject legitimately aligned cutoffs.
    val q = cutoff / res
    require(math.abs(q - math.round(q)) < 1e-9 * math.max(1.0, math.abs(q)),
      s"retention cutoff $cutoff not aligned to rollup resolution $res")
    Rollup.rewrite(dir)(_.filter(col("wend") > cutoff))
  }

  /** Streaming rollup maintenance: [[append]] each micro-batch's partial
    * rows to an already-[[build]]t store — the state IS the parquet store
    * (the [[graft.llm.DedupIndex.streamingDedup]] construct), so the
    * stream holds nothing in the state store and batch readers see every
    * completed trigger. Because the store is merge-on-read partials, a
    * micro-batch append is exactly a batch append: stream-then-read ≡
    * one-pass rollup over the concatenation, bit-for-bit (RollupSpec +
    * StreamingSpec pin both laws). Each micro-batch commits its partial
    * files under the foreachBatch id ([[append]]'s `batchId` →
    * [[StoreOps.Table.append]]), so failure-recovery replays are
    * exactly-once at the store. Caller starts the writer. */
  def streamingBuild(stream: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StoreOps.streamingAppend(stream)((batch, bid) => append(dir, batch, Some(bid)))

  /** One metric's buckets with partials merged — the read-side contract.
    * The metric filter lands on the PARTITION column (TsSink's pruning
    * rule), and every merge below is exact (see object doc). `where` is a
    * SERIES-level filter (label matchers) applied to the raw partial rows
    * BEFORE the merge groupBy — every partial row carries the series
    * labels, so filtering partials ≡ filtering merged buckets, and the
    * predicate sits directly on the scan instead of above the aggregate. */
  def mergedBuckets(spark: SparkSession, dir: String, metric: String,
                    where: DataFrame => DataFrame = identity): DataFrame =
    merge(where(Rollup.read(spark, dir).filter(col(MetricCol) === metric)))
      .select((Model.SkeyCol +: MergedCols).map(col): _*)

  /** The partial columns after the series key, in store order. */
  private val MergedCols = Seq(Model.LabelsCol, "wend", "cnt", "sum", "min", "max",
    "first_ts", "first_v", "last_ts", "last_v")

  /** The exact merge of partial rows per (`keys`, skey, wend): count/sum
    * add, min/max idempotent, first/last struct extrema. Compaction and
    * every read run this one rule. */
  private def merge(partials: DataFrame, keys: Column*): DataFrame =
    partials.groupBy(keys ++ Seq(col(Model.SkeyCol), col("wend")): _*)
      .agg(
        first(Model.LabelsCol).as(Model.LabelsCol),
        sum("cnt").as("cnt"),
        sum("sum").as("sum"),
        min("min").as("min"),
        max("max").as("max"),
        min(struct(col("first_ts").as("t"), col("first_v").as("v"))).as("__f__"),
        max(struct(col("last_ts").as("t"), col("last_v").as("v"))).as("__l__"))
      .withColumn("first_ts", col("__f__.t")).withColumn("first_v", col("__f__.v"))
      .withColumn("last_ts", col("__l__.t")).withColumn("last_v", col("__l__.v"))

  /** The `*_over_time` functions [[overTime]] answers: exactly the ones
    * the partial rows (cnt/sum/min/max/last) determine. */
  val OverTimeFns: Set[RangeKernel.Fn] = {
    import RangeKernel._
    Set(AvgOverTime, SumOverTime, CountOverTime, MinOverTime, MaxOverTime, LastOverTime)
  }

  /** `fn(metric[range])` over `grid`, answered from the store: each
    * series' merged buckets fold into one row of ascending `wend[]` plus
    * one array per partial, and [[graft.functions.RangeKernel]] runs over
    * them with `ts = wend` — sum and count are `sum_over_time` of the
    * bucket sums and counts, avg their quotient (the exact sample mean,
    * never an average of bucket averages), min/max the extremes of the
    * bucket extremes, last the latest bucket's last sample. On a grid
    * aligned to `res`, the kernel's window `(t − range, t]` holds `wend`
    * exactly when the bucket `(wend − res, wend]` lies inside the window,
    * so the answer equals the raw-sample kernel's (checked: grid start,
    * step and range must be multiples of `res`). Only buckets that can
    * fall in a window are read: `grid.start − range < wend ≤ grid.end`
    * filters the scan beside `where`'s label matchers. Output (skey,
    * labels, ts, value), `value` typed as the raw kernel types it. */
  def overTime(spark: SparkSession, store: Registered, metric: String,
               grid: Grid, range: Double, fn: RangeKernel.Fn,
               where: DataFrame => DataFrame = identity): DataFrame = {
    import RangeKernel.{AvgOverTime, CountOverTime, LastOverTime, MaxOverTime, MinOverTime,
      SumOverTime}
    val res = store.res
    require(range > 0 && range % res == 0,
      s"range $range not a multiple of rollup resolution $res")
    require(grid.start % res == 0 && grid.step % res == 0,
      s"grid not aligned to rollup resolution $res")
    val span = col("wend") > grid.start - range && col("wend") <= grid.end
    val series = mergedBuckets(spark, store.dir, metric, df => where(df).filter(span))
      .groupBy(col(Model.SkeyCol))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        sort_array(collect_list(struct(col("wend"), col("sum"),
          col("cnt").cast(DoubleType).as("cnt"), col("min"), col("max"), col("last_v"))))
          .as("__b__"))
      .select(col(Model.SkeyCol), col(Model.LabelsCol),
        col("__b__.wend").as(Model.TsCol), col("__b__"))
    def over(partial: String, f: RangeKernel.Fn): Column =
      Resample.kernelCol(col(s"__b__.$partial"), grid, f, range, 0.0)
    def point(ts: Column, value: Column): Column =
      struct(ts.as(Model.TsCol), value.as(Model.ValueCol))
    val points = fn match {
      case AvgOverTime => zip_with(over("sum", SumOverTime), over("cnt", SumOverTime),
        (s, c) => point(s(Model.TsCol), s(Model.ValueCol) / c(Model.ValueCol)))
      case SumOverTime => over("sum", SumOverTime)
      case CountOverTime => transform(over("cnt", SumOverTime),
        c => point(c(Model.TsCol), c(Model.ValueCol).cast(LongType)))
      case MinOverTime => over("min", MinOverTime)
      case MaxOverTime => over("max", MaxOverTime)
      case LastOverTime => over("last_v", LastOverTime)
      case other => throw new IllegalArgumentException(
        s"${other.name} is not answerable from rollup partials")
    }
    series.select(col(Model.SkeyCol), col(Model.LabelsCol), inline(points))
  }
}
