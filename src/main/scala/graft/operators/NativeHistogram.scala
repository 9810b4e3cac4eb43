package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Model
import graft.functions.RangeKernel

/** Native (exponential/sparse) histograms — the Prometheus data model that
  * succeeds classic `Le`-bucket histograms: ONE sample per (series,
  * instant) carrying the whole distribution as sparse bucket arrays, with
  * resolution set by a `schema` integer (bucket i covers
  * `(base^(i-1), base^i]` where `base = 2^(2^-schema)`; higher schema =
  * finer buckets).
  *
  * The reference implements only classic histograms (metricstore.rs:389-524
  * — `Le<float>` columns exploded into `_bucket` series); this operator is
  * the forward-looking extension for stores written by Prometheus ≥ 2.40
  * remote-write or OTel exponential histograms.
  *
  * Frame layout (one row per series instant — see [[schema]]):
  *   labels, ts, nh_schema, nh_zero_count, nh_sum, nh_count,
  *   nh_pos_idx: array<int> (ascending), nh_pos_cnt: array<double>,
  *   nh_neg_idx: array<int> (ascending), nh_neg_cnt: array<double>
  *
  * The NEGATIVE spectrum mirrors the positive one: bucket `i` covers
  * `[-base^i, -base^(i-1))`, so a LARGER index is MORE negative and
  * ascending value order walks the negative indexes DESCENDING. Frames
  * without the two `nh_neg_*` columns are accepted everywhere and treated
  * as all-positive ([[normalized]] adds empty arrays), so pre-negative
  * producers keep working unchanged. The zero bucket sits between the
  * spectra. Scale story:
  *
  *  - [[quantile]] is MAP-ONLY: the whole distribution rides in-row, so
  *    the bucket walk is an `aggregate()` HOF over the sparse arrays —
  *    zero shuffles, fully codegen-compatible, embarrassingly parallel at
  *    any corpus size (contrast classic histogram_quantile, which must
  *    first group bucket SERIES by instant).
  *  - [[snapToGrid]], [[rate]] and [[increase]] take the float range
  *    functions' path: ONE groupBy folds each series' rows into an array
  *    sorted by ts, and [[graft.functions.RangeKernel]]'s window rule over
  *    the element indices picks each window's first/last histogram — no
  *    per-window rows, no second shuffle.
  *  - [[merge]] is the classic-shape aggregation (sum of histograms
  *    across series): explode the sparse arrays, ONE groupBy on
  *    (group-labels, ts, bucket-idx) — group size bounded by series
  *    count per bucket — then re-collect the sparse form. Mixed schemas
  *    within a group downscale to the coarsest member (Prometheus
  *    semantics); a strict mode raises instead.
  *
  * CUSTOM-bucket native histograms (NHCB, `nh_schema = -53` — the layout
  * Prometheus 3.x converts scraped classic histograms into) are carried
  * by one extra column, `nh_bounds: array<double>` (ascending FINITE
  * upper bounds): positive bucket index `i` (0-based) covers
  * `(bounds[i-1], bounds[i]]` with an implicit 0 lower edge for `i = 0`
  * (classic histogram_quantile semantics) and index `|bounds|` is the
  * +Inf overflow bucket. The negative spectrum and zero bucket are
  * unused (classic histograms have neither). [[quantile]]/[[fraction]]
  * branch per row on the schema sentinel — one frame can mix
  * exponential and custom series; [[fromClassic]] converts classic
  * `Le`-label bucket series in, and [[mergeCustom]] aggregates across
  * series with a bound-list-INTERSECTION downscale for mismatched
  * layouts (exact: the intersection is a subset of every member's
  * bounds, so each fine bucket lies entirely inside one coarse bucket).
  */
object NativeHistogram {

  /** `nh_schema` sentinel marking custom-bucket (NHCB) rows — the
    * Prometheus 3.x value (histogram.CustomBucketsSchema). */
  val CustomSchema: Int = -53

  /** The canonical column set; a frame is "native-histogram shaped" if it
    * carries these on top of (labels, ts). `nh_bounds` is empty for
    * exponential rows and holds the finite upper bounds for NHCB rows. */
  val Columns: Seq[String] = Seq("nh_schema", "nh_zero_count", "nh_sum",
    "nh_count", "nh_pos_idx", "nh_pos_cnt", "nh_neg_idx", "nh_neg_cnt",
    "nh_bounds")

  def schema: StructType = StructType(Seq(
    StructField(Model.LabelsCol, MapType(StringType, StringType)),
    StructField(Model.TsCol, DoubleType),
    StructField("nh_schema", IntegerType),      // resolution: base = 2^(2^-schema)
    StructField("nh_zero_count", DoubleType),   // observations in [-zt, zt]
    StructField("nh_sum", DoubleType),
    StructField("nh_count", DoubleType),        // zero + Σ pos + Σ neg counts
    StructField("nh_pos_idx", ArrayType(IntegerType)),  // ascending, sparse
    StructField("nh_pos_cnt", ArrayType(DoubleType)),
    StructField("nh_neg_idx", ArrayType(IntegerType)),  // ascending, sparse
    StructField("nh_neg_cnt", ArrayType(DoubleType)),
    StructField("nh_bounds", ArrayType(DoubleType))))   // NHCB upper bounds

  /** Accept frames predating (or not using) the negative spectrum: absent
    * `nh_neg_*` columns become empty arrays, and NULL bucket arrays (a
    * conforming producer may emit null instead of empty) coalesce to empty
    * — unguarded, a null array poisons `concat`/`array_union` downstream
    * and silently drops the row's OTHER spectrum too. Pure projection. */
  private def normalized(df0: DataFrame): DataFrame = {
    val df1 =
      if (df0.columns.contains("nh_neg_idx")) df0
      else df0
        .withColumn("nh_neg_idx", array().cast(ArrayType(IntegerType)))
        .withColumn("nh_neg_cnt", array().cast(ArrayType(DoubleType)))
    val df =
      if (df1.columns.contains("nh_bounds")) df1
      else df1.withColumn("nh_bounds", array().cast(ArrayType(DoubleType)))
    Seq("nh_pos_idx" -> IntegerType, "nh_neg_idx" -> IntegerType,
        "nh_pos_cnt" -> DoubleType, "nh_neg_cnt" -> DoubleType,
        "nh_bounds" -> DoubleType)
      .foldLeft(df) { case (d, (c, t)) =>
        d.withColumn(c, coalesce(col(c), array().cast(ArrayType(t))))
      }
  }

  /** Upper bound of bucket `idx` at resolution `sch`: `2^(idx * 2^-sch)`. */
  private def upperBound(idx: Column, sch: Column): Column =
    pow(lit(2.0), idx.cast(DoubleType) * pow(lit(2.0), -sch.cast(DoubleType)))

  /** Synthesize native histograms from raw value samples — the ingest path
    * for stores that only have classic per-observation rows: every
    * (series, ts) group becomes ONE native-histogram row. `|v| > 0` lands
    * in bucket `ceil(log2(|v|) * 2^sch)` of its sign's spectrum; `v = 0`
    * goes to the zero bucket (Prometheus's zero-threshold machinery
    * reduced to an exact-zero threshold, documented).
    *
    * The log2 product is rounded to 9 decimals before ceil so the bucket
    * index is reproducible across engines (libm vs JVM log differ in the
    * last ULP; exact powers of two are exact in both). Two groupBys, both
    * keyed on the bounded (series, ts[, sign, idx]) — the same shuffle
    * budget as any sum-by; the sparse arrays come out sorted. */
  def fromSamples(samples: DataFrame, sch: Int): DataFrame = {
    val idx = ceil(round(log2(abs(col(Model.ValueCol))) * lit(math.pow(2.0, sch)), 9))
      .cast(IntegerType)
    samples
      .withColumn("__sg__", signum(col(Model.ValueCol)).cast(IntegerType))
      .withColumn("__i__", when(col("__sg__") =!= 0, idx))
      .groupBy(col(Model.SkeyCol), col(Model.TsCol), col("__sg__"), col("__i__"))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        count(lit(1)).cast(DoubleType).as("cnt"),
        sum(Model.ValueCol).as("vsum"))
      .groupBy(col(Model.SkeyCol), col(Model.TsCol))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        sum(when(col("__sg__") === 0, col("cnt")).otherwise(lit(0.0)))
          .as("nh_zero_count"),
        sum("vsum").as("nh_sum"),
        sum("cnt").as("nh_count"),
        sort_array(collect_list(when(col("__sg__") === 1,
          struct(col("__i__").as("i"), col("cnt").as("c"))))).as("pbs"),
        sort_array(collect_list(when(col("__sg__") === -1,
          struct(col("__i__").as("i"), col("cnt").as("c"))))).as("nbs"))
      .select(col(Model.LabelsCol), col(Model.TsCol),
        lit(sch).as("nh_schema"), col("nh_zero_count"), col("nh_sum"),
        col("nh_count"),
        transform(col("pbs"), b => b("i")).as("nh_pos_idx"),
        transform(col("pbs"), b => b("c")).as("nh_pos_cnt"),
        transform(col("nbs"), b => b("i")).as("nh_neg_idx"),
        transform(col("nbs"), b => b("c")).as("nh_neg_cnt"),
        array().cast(ArrayType(DoubleType)).as("nh_bounds"))
  }

  /** Convert classic `Le`-label cumulative bucket series into NHCB rows
    * (what Prometheus 3.x does to scraped classic histograms so they
    * enter the native pipeline): group bucket series by labels-minus-Le
    * per instant, sort by numeric Le, take the FINITE les as `nh_bounds`,
    * de-cumulate counts (bucket i = cum_i − cum_{i−1}; the +Inf remainder
    * becomes the overflow bucket at index |bounds|), drop zero buckets to
    * keep the arrays sparse. Groups whose top bucket is not `+Inf` are
    * dropped (classic histogram_quantile yields NaN for them —
    * query.rs:318-320). `nh_sum` is 0 (classic `_sum` rides a separate
    * series; join it on if needed), the zero bucket and negative spectrum
    * are unused.
    *
    * Same plan shape as classic histogram_quantile's grouping: ONE
    * groupBy on (labels-minus-Le, ts) with a bounded collect_list (a
    * histogram has tens of buckets); everything after is in-row. The
    * de-cumulate → re-accumulate round trip is exact for counts
    * (integer-valued doubles < 2^53). */
  def fromClassic(buckets: DataFrame): DataFrame = {
    val leNum = when(lower(col(Model.LabelsCol).getItem(Model.LeLabel)) === "+inf",
      lit(Double.PositiveInfinity))
      .otherwise(col(Model.LabelsCol).getItem(Model.LeLabel).cast(DoubleType))
    val grouped = buckets
      .filter(col(Model.LabelsCol).getItem(Model.LeLabel).isNotNull)
      .withColumn("__gmap__",
        map_filter(col(Model.LabelsCol), (k, _) => k =!= Model.LeLabel))
      .withColumn("__le__", leNum)
      .groupBy(Model.canonicalKey(col("__gmap__")).as(Model.SkeyCol), col(Model.TsCol))
      .agg(first("__gmap__").as(Model.LabelsCol),
        sort_array(collect_list(struct(col("__le__").as("le"),
          col(Model.ValueCol).as("v")))).as("bs"))
      .filter(size(col("bs")) > 0 &&
        element_at(col("bs"), -1)("le") === lit(Double.PositiveInfinity))
    val bs = col("bs")
    val entries = filter(
      transform(sequence(lit(0), size(bs) - 1), i => struct(
        i.as("i"),
        (element_at(bs, i + 1)("v") -
          when(i === 0, lit(0.0)).otherwise(element_at(bs, i)("v"))).as("c"))),
      e => e("c") =!= 0.0)
    grouped.select(col(Model.SkeyCol), col(Model.LabelsCol), col(Model.TsCol),
      lit(CustomSchema).as("nh_schema"),
      lit(0.0).as("nh_zero_count"),
      lit(0.0).as("nh_sum"),
      element_at(bs, -1)("v").as("nh_count"),
      transform(entries, e => e("i").cast(IntegerType)).as("nh_pos_idx"),
      transform(entries, e => e("c")).as("nh_pos_cnt"),
      array().cast(ArrayType(IntegerType)).as("nh_neg_idx"),
      array().cast(ArrayType(DoubleType)).as("nh_neg_cnt"),
      transform(slice(bs, lit(1), size(bs) - 1), b => b("le")).as("nh_bounds"))
  }

  /** Each series' histogram rows folded into one row (skey, labels, ts,
    * `__h__`, v): `__h__` holds the rows' [[Columns]] as structs in ts
    * order, `ts` their timestamps and `v` each element's index as a double
    * — the value array [[RangeKernel]] windows, so a window's
    * `min_over_time`/`last_over_time` of `v` is the index of its first/last
    * histogram. One groupBy on skey. */
  private def folded(nh1: DataFrame): DataFrame = {
    val nh0 = normalized(nh1)
    val nh = if (nh0.columns.contains(Model.SkeyCol)) nh0 else Model.withSkey(nh0)
    nh.groupBy(col(Model.SkeyCol))
      .agg(first(Model.LabelsCol).as(Model.LabelsCol),
        sort_array(collect_list(struct((Model.TsCol +: Columns).map(col): _*))).as("__h__"))
      .select(col(Model.SkeyCol), col(Model.LabelsCol),
        col(s"__h__.${Model.TsCol}").as(Model.TsCol), col("__h__"),
        transform(col("__h__"), (_, i) => i.cast(DoubleType)).as("v"))
  }

  /** Snap native-histogram samples onto the query grid: for each (series,
    * grid instant), the LATEST histogram row whose ts falls in the
    * one-step lookback window `(grid_t - step, grid_t]` — Prometheus
    * staleness semantics with lookback = step. Linear interpolation (the
    * classic resample) is undefined between whole distributions, so
    * last-known-value is the correct snap. `offset` shifts the samples
    * like a selector's offset. */
  def snapToGrid(nh0: DataFrame, grid: Grid, offset: Double = 0.0): DataFrame =
    folded(nh0)
      .select(col(Model.SkeyCol), col(Model.LabelsCol), col("__h__"),
        inline(Resample.kernelCol(col("v"), grid, RangeKernel.LastOverTime, grid.step, offset)))
      .withColumn("__e__", col("__h__")(col(Model.ValueCol).cast(IntegerType)))
      .select(Seq(col(Model.SkeyCol), col(Model.TsCol), col(Model.LabelsCol)) ++
        Columns.map(c => col(s"__e__.$c").as(c)): _*)

  /** `rate(m[range])` over native-histogram series: for each (series, grid
    * instant), the BUCKET-WISE per-second delta between the LAST and FIRST
    * histogram samples in the lookback window — a histogram-valued result
    * that composes with [[quantile]]/[[fraction]]/the scalar extracts
    * exactly like a snapped selector (`histogram_quantile(q, rate(m[5m]))`,
    * the flagship native-histogram query).
    *
    * Semantics mirror this engine's classic `rate()` (reference
    * query.rs simple last-minus-first over the window, no counter-reset
    * correction — the resets family is the place for that): buckets whose
    * delta is ≤ 0 drop out of the sparse result, the zero-bucket delta
    * clamps at 0, `nh_sum` keeps the raw delta, and `nh_count` is rebuilt
    * as zero + Σ kept buckets so the output is a self-consistent
    * distribution for the downstream walks. Windows with fewer than two
    * samples, or whose first/last samples carry different schemas (a
    * resolution change mid-window), emit nothing. `offset` shifts the
    * samples like a selector's offset.
    *
    * The subtraction is in-row map arithmetic over the sparse arrays of
    * the two elements the window's indices pick — no shuffle beyond the
    * per-series fold. */
  def rate(nh1: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    windowDelta(nh1, grid, overRange, offset, overRange)

  /** `increase(m[range])`: the same bucket-wise window delta as [[rate]]
    * but un-normalized (counts, not counts/second) — rate × range. */
  def increase(nh1: DataFrame, grid: Grid, overRange: Double, offset: Double = 0.0): DataFrame =
    windowDelta(nh1, grid, overRange, offset, 1.0)

  private def windowDelta(nh1: DataFrame, grid: Grid, overRange: Double, offset: Double,
                          divisor: Double): DataFrame = {
    val paired = folded(nh1)
      .select(col(Model.SkeyCol), col(Model.LabelsCol), col("__h__"),
        inline(zip_with(
          Resample.kernelCol(col("v"), grid, RangeKernel.MinOverTime, overRange, offset),
          Resample.kernelCol(col("v"), grid, RangeKernel.LastOverTime, overRange, offset),
          (f, l) => struct(f(Model.TsCol).as(Model.TsCol),
            f(Model.ValueCol).cast(IntegerType).as("__lo__"),
            l(Model.ValueCol).cast(IntegerType).as("__hi__")))))
      .filter(col("__hi__") > col("__lo__"))
      .select(col(Model.SkeyCol), col(Model.LabelsCol), col(Model.TsCol),
        col("__h__")(col("__lo__")).as("f"), col("__h__")(col("__hi__")).as("l"))
      .filter(col("l.nh_schema") === col("f.nh_schema") &&
        col("l.nh_bounds") === col("f.nh_bounds")) // NHCB: bounds change = resolution change
    val r = lit(divisor)
    def spectrumDelta(li: Column, lc: Column, fi: Column, fc: Column): Column = {
      val lm = map_from_arrays(li, lc)
      val fm = map_from_arrays(fi, fc)
      val keys = array_sort(array_union(li, fi))
      filter(transform(keys, k => struct(k.as("i"),
        ((coalesce(element_at(lm, k), lit(0.0)) -
          coalesce(element_at(fm, k), lit(0.0))) / r).as("c"))),
        e => e("c") > 0)
    }
    def total(entries: Column): Column =
      coalesce(aggregate(entries, lit(0.0), (a, e) => a + e("c")), lit(0.0))
    val pos = spectrumDelta(col("l.nh_pos_idx"), col("l.nh_pos_cnt"),
      col("f.nh_pos_idx"), col("f.nh_pos_cnt"))
    val neg = spectrumDelta(col("l.nh_neg_idx"), col("l.nh_neg_cnt"),
      col("f.nh_neg_idx"), col("f.nh_neg_cnt"))
    val zero = greatest(
      (col("l.nh_zero_count") - col("f.nh_zero_count")) / r, lit(0.0))
    paired
      .withColumn("__p__", pos).withColumn("__ng__", neg)
      .select(
        col(Model.SkeyCol),
        col(Model.LabelsCol),
        col(Model.TsCol),
        col("l.nh_schema").as("nh_schema"),
        zero.as("nh_zero_count"),
        ((col("l.nh_sum") - col("f.nh_sum")) / r).as("nh_sum"),
        (zero + total(col("__p__")) + total(col("__ng__"))).as("nh_count"),
        transform(col("__p__"), e => e("i")).as("nh_pos_idx"),
        transform(col("__p__"), e => e("c")).as("nh_pos_cnt"),
        transform(col("__ng__"), e => e("i")).as("nh_neg_idx"),
        transform(col("__ng__"), e => e("c")).as("nh_neg_cnt"),
        col("l.nh_bounds").as("nh_bounds"))
  }

  /** `histogram_quantile(q, <native>)`: per row, locate the bucket whose
    * cumulative count reaches `rank = q * count` walking ascending VALUE
    * order — negative buckets (index DESCENDING: larger index = more
    * negative), then the zero bucket, then positive buckets ascending —
    * and interpolate linearly inside it (Prometheus native-histogram
    * interpolation; a negative bucket `i` spans `[-base^i, -base^(i-1))`).
    * Edges follow classic histogram_quantile: q < 0 → -Inf, q > 1 → +Inf,
    * empty → NaN; rank inside the zero bucket → 0.0; q = 1 → upper bound
    * of the last populated bucket.
    *
    * Map-only: no shuffle, no UDF — one `aggregate()` fold over the
    * in-row sparse arrays (the zero bucket rides as a width-0
    * pseudo-entry between the spectra). */
  private def isCustom: Column = col("nh_schema") === lit(CustomSchema)

  /** Last finite NHCB bound, 0.0 when there are none (classic
    * histogram_quantile's "no finite buckets" estimate). */
  private def lastBound: Column =
    when(size(col("nh_bounds")) === 0, lit(0.0))
      .otherwise(element_at(col("nh_bounds"), -1))

  /** The row's bucket list as ascending-value (lo, hi, c) entries — the
    * layout-independent form both [[quantile]] and [[fraction]] walk.
    * Exponential rows: negative spectrum (descending index = ascending
    * value), the zero bucket as a width-0 pseudo-entry, then positive
    * buckets. NHCB rows: index i covers (bounds[i-1], bounds[i]] with a
    * 0 lower edge at i = 0 (classic semantics); the overflow bucket
    * (i = |bounds|) is width-0 at the last bound, so a rank landing there
    * estimates the last finite bound — exactly classic
    * histogram_quantile's "no bucket qualifies" fallback. */
  private def entryList: Column = {
    val nB = size(col("nh_bounds"))
    val expEntries = concat(
      reverse(zip_with(col("nh_neg_idx"), col("nh_neg_cnt"), (i, c) => struct(
        (-upperBound(i, col("nh_schema"))).as("lo"),
        (-upperBound(i - 1, col("nh_schema"))).as("hi"),
        c.as("c")))),
      array(struct(lit(0.0).as("lo"), lit(0.0).as("hi"),
        col("nh_zero_count").as("c"))),
      zip_with(col("nh_pos_idx"), col("nh_pos_cnt"), (i, c) => struct(
        upperBound(i - 1, col("nh_schema")).as("lo"),
        upperBound(i, col("nh_schema")).as("hi"),
        c.as("c"))))
    val customEntries = zip_with(col("nh_pos_idx"), col("nh_pos_cnt"),
      (i, c) => struct(
        when(i >= nB, lastBound).when(i === 0, lit(0.0))
          .otherwise(element_at(col("nh_bounds"), i)).as("lo"),
        when(i >= nB, lastBound)
          .otherwise(element_at(col("nh_bounds"), i + 1)).as("hi"),
        c.as("c")))
    when(isCustom, customEntries).otherwise(expEntries)
  }

  def quantile(df0: DataFrame, q: Double): DataFrame = {
    val df = normalized(df0)
    val total = col("nh_zero_count") +
      coalesce(aggregate(col("nh_pos_cnt"), lit(0.0), (a, x) => a + x), lit(0.0)) +
      coalesce(aggregate(col("nh_neg_cnt"), lit(0.0), (a, x) => a + x), lit(0.0))
    val rank = lit(q) * total
    // fold state: (cum count so far, found result or NaN)
    val init = struct(lit(0.0).as("cum"), lit(Double.NaN).as("res"))
    val walked = aggregate(
      entryList,
      init,
      (acc, b) => {
        val within = (rank - acc("cum")) / b("c")
        struct(
          (acc("cum") + b("c")).as("cum"),
          when(isnan(acc("res")) && acc("cum") + b("c") >= rank && b("c") > 0,
            b("lo") + (b("hi") - b("lo")) * within)
            .otherwise(acc("res")).as("res"))
      },
      acc => acc("res"))
    // q = 1 lands exactly on the last cumulative count and is found by the
    // walk; rank beyond total (fp wobble) clamps to the maximum estimate:
    // last positive upper bound, else 0 if the zero bucket holds anything,
    // else the upper edge of the LEAST negative bucket (its first index).
    val expLast = when(size(col("nh_pos_idx")) > 0,
      upperBound(element_at(col("nh_pos_idx"), -1), col("nh_schema")))
      .when(col("nh_zero_count") > 0, lit(0.0))
      .when(size(col("nh_neg_idx")) > 0,
        -upperBound(element_at(col("nh_neg_idx"), 1) - 1, col("nh_schema")))
      .otherwise(lit(0.0))
    // NHCB clamp: overflow populated → last bound; else the last populated
    // bucket's own upper bound
    val customLast = when(size(col("nh_pos_idx")) === 0, lit(0.0))
      .when(element_at(col("nh_pos_idx"), -1) >= size(col("nh_bounds")), lastBound)
      .otherwise(element_at(col("nh_bounds"), element_at(col("nh_pos_idx"), -1) + 1))
    val lastUpper = when(isCustom, customLast).otherwise(expLast)
    val value =
      when(lit(q) < 0, lit(Double.NegativeInfinity))
        .when(lit(q) > 1, lit(Double.PositiveInfinity))
        .when(total === 0, lit(Double.NaN))
        .otherwise(coalesce(nullifNaN(walked), lastUpper))
    df.select(col(Model.LabelsCol), col(Model.TsCol), value.as(Model.ValueCol))
  }

  private def nullifNaN(c: Column): Column = when(!isnan(c), c)

  /** Estimated count of observations ≤ `x` over BOTH spectra plus the
    * zero bucket (point mass at 0): whole buckets below `x` count fully,
    * the straddling bucket linearly — each bucket's contribution is
    * independent, so this is an order-free transform + sum, no walk
    * needed. A negative bucket `i` spans value range
    * `[-base^i, -base^(i-1))`. */
  private def cdfCount(x: Column): Column = {
    val posContribs = transform(
      zip_with(col("nh_pos_idx"), col("nh_pos_cnt"),
        (i, c) => struct(i.as("i"), c.as("c"))),
      b => {
        val lower = upperBound(b("i") - 1, col("nh_schema"))
        val upper = upperBound(b("i"), col("nh_schema"))
        when(upper <= x, b("c"))
          .when(lower < x, b("c") * (x - lower) / (upper - lower))
          .otherwise(lit(0.0))
      })
    val negContribs = transform(
      zip_with(col("nh_neg_idx"), col("nh_neg_cnt"),
        (i, c) => struct(i.as("i"), c.as("c"))),
      b => {
        val valLo = -upperBound(b("i"), col("nh_schema"))
        val valHi = -upperBound(b("i") - 1, col("nh_schema"))
        when(valHi <= x, b("c"))
          .when(valLo < x, b("c") * (x - valLo) / (valHi - valLo))
          .otherwise(lit(0.0))
      })
    // NHCB: same per-bucket independence, bounds from the explicit list;
    // the overflow bucket spans (last_bound, +Inf) — it contributes only
    // at x = +Inf (the partial term (x-lo)/(hi-lo) is 0 against an
    // infinite width)
    val nB = size(col("nh_bounds"))
    val customContribs = transform(
      zip_with(col("nh_pos_idx"), col("nh_pos_cnt"),
        (i, c) => struct(i.as("i"), c.as("c"))),
      b => {
        val lower = when(b("i") >= nB, lastBound)
          .when(b("i") === 0, lit(0.0))
          .otherwise(element_at(col("nh_bounds"), b("i")))
        val upper = when(b("i") >= nB, lit(Double.PositiveInfinity))
          .otherwise(element_at(col("nh_bounds"), b("i") + 1))
        when(upper <= x, b("c"))
          .when(lower < x, b("c") * (x - lower) / (upper - lower))
          .otherwise(lit(0.0))
      })
    val expCdf =
      coalesce(aggregate(negContribs, lit(0.0), (a, v) => a + v), lit(0.0)) +
        when(x >= 0, col("nh_zero_count")).otherwise(lit(0.0)) +
        coalesce(aggregate(posContribs, lit(0.0), (a, v) => a + v), lit(0.0))
    val customCdf =
      coalesce(aggregate(customContribs, lit(0.0), (a, v) => a + v), lit(0.0))
    when(isCustom, customCdf).otherwise(expCdf)
  }

  /** `histogram_fraction(lo, hi, <native>)`: estimated fraction of
    * observations in `[lo, hi]` — the native-histogram sibling of
    * histogram_quantile (Prometheus 2.40+). Map-only like [[quantile]];
    * empty histograms yield NaN (guarded — Spark 4 ANSI would otherwise
    * raise DIVIDE_BY_ZERO). */
  def fraction(df0: DataFrame, lo: Double, hi: Double): DataFrame = {
    val df = normalized(df0)
    val total = col("nh_zero_count") +
      coalesce(aggregate(col("nh_pos_cnt"), lit(0.0), (a, x) => a + x), lit(0.0)) +
      coalesce(aggregate(col("nh_neg_cnt"), lit(0.0), (a, x) => a + x), lit(0.0))
    val frac = greatest(cdfCount(lit(hi)) - cdfCount(lit(lo)), lit(0.0)) / total
    df.select(col(Model.LabelsCol), col(Model.TsCol),
      when(total === 0, lit(Double.NaN)).otherwise(frac).as(Model.ValueCol))
  }

  /** `histogram_sum` / `histogram_count` / `histogram_avg` (Prometheus
    * 2.40+): scalar extracts of the in-row distribution — pure column
    * selects, map-only. */
  def sumOf(df: DataFrame): DataFrame = scalarOf(df, col("nh_sum"))
  def countOf(df: DataFrame): DataFrame = scalarOf(df, col("nh_count"))
  def avgOf(df: DataFrame): DataFrame =
    scalarOf(df, when(col("nh_count") > 0, col("nh_sum") / col("nh_count"))
      .otherwise(lit(Double.NaN)))
  private def scalarOf(df: DataFrame, v: Column): DataFrame =
    df.select(col(Model.LabelsCol), col(Model.TsCol), v.as(Model.ValueCol))

  /** Estimated population variance of the distribution (the
    * `histogram_stdvar` / `histogram_stddev` extracts, Prometheus 2.40+):
    * every observation in a bucket is assumed at the bucket's ARITHMETIC
    * midpoint (negative buckets at the mirrored midpoint, the zero bucket
    * at 0), the mean is the exact `sum/count`, and
    * `var = Σ cnt·(mid - mean)² / count`. Map-only like the other
    * extracts: two in-row folds over the sparse arrays, deterministic
    * order. Empty histograms yield NaN. */
  private def varianceCol: Column = {
    val mean = col("nh_sum") / col("nh_count")
    def contrib(idxs: Column, cnts: Column, sign: Double): Column =
      coalesce(aggregate(
        zip_with(idxs, cnts, (i, c) => struct(i.as("i"), c.as("c"))),
        lit(0.0),
        (acc, b) => {
          val mid = lit(sign) * (upperBound(b("i"), col("nh_schema")) +
            upperBound(b("i") - 1, col("nh_schema"))) / lit(2.0)
          acc + b("c") * (mid - mean) * (mid - mean)
        }), lit(0.0))
    val sq = contrib(col("nh_pos_idx"), col("nh_pos_cnt"), 1.0) +
      contrib(col("nh_neg_idx"), col("nh_neg_cnt"), -1.0) +
      col("nh_zero_count") * mean * mean
    when(col("nh_count") > 0, sq / col("nh_count")).otherwise(lit(Double.NaN))
  }
  def stdvarOf(df: DataFrame): DataFrame = scalarOf(normalized(df), varianceCol)
  def stddevOf(df: DataFrame): DataFrame = scalarOf(normalized(df), sqrt(varianceCol))

  /** Sum of native histograms across series, `by` retained label names —
    * the `sum by (...)` of the native world. One explode + one groupBy on
    * (group-labels, ts, bucket-idx) + one sorted re-collect.
    *
    * Mixed resolutions within a group follow Prometheus: every member is
    * DOWNSCALED to the group's coarsest schema before bucket counts merge
    * — `d = s - s_tgt` halvings map bucket `i` to `ceil(i / 2^d)` (each
    * coarse bucket `(base^(2^d·(j-1)), base^(2^d·j)]` absorbs exactly the
    * fine buckets with `2^d·(j-1) < i ≤ 2^d·j`; the division is dyadic and
    * the indexes small, so the double `ceil` is exact). The target schema
    * is a `min` window over the same (group, ts) partitioning the merge
    * shuffles on anyway. `downscaleMixed = false` restores the strict
    * pre-r10 guard: a mixed-schema group raises instead of merging —
    * for stores where a schema change signals a config error rather than
    * Prometheus's adaptive bucket scaling. */
  def merge(df0: DataFrame, by: Seq[String],
            downscaleMixed: Boolean = true): DataFrame = {
    // NHCB rows have no exponential base — their downscale rule is the
    // bound-list intersection in [[mergeCustom]]; route them there. The
    // guard rides the schema column every downstream stage reads.
    val df = normalized(df0).withColumn("nh_schema",
      when(col("nh_schema") =!= lit(CustomSchema), col("nh_schema"))
        .otherwise(raise_error(
          lit("custom-bucket (NHCB) rows in merge(): use mergeCustom"))
          .cast(IntegerType)))
    val groupLabels = map_from_arrays(
      array(by.map(lit(_)): _*),
      array(by.map(b => col(Model.LabelsCol).getItem(b)): _*))
    // maps can't be grouping keys — shuffle on the canonical skey of the
    // RETAINED label set (same trick as Aggregate.aggBy), labels ride along
    val base0 = df.withColumn("__gl__", groupLabels)
      .withColumn("__gk__", Model.canonicalKey(col("__gl__")))
    val groupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__gk__"), col(Model.TsCol))
    // strict mode checks schema homogeneity PER (group, ts) on the
    // pre-explode frame — a per-merged-bucket check would let two series
    // with different schemas but disjoint populated bucket indexes (or
    // empty arrays) merge silently with incompatible boundaries
    val base =
      if (downscaleMixed)
        base0.withColumn("__stgt__", min("nh_schema").over(groupW))
      else base0
        .withColumn("__smin__", min("nh_schema").over(groupW))
        .withColumn("__smax__", max("nh_schema").over(groupW))
        .withColumn("__stgt__",
          when(col("__smin__") === col("__smax__"), col("nh_schema"))
            .otherwise(raise_error(concat(
              lit("mixed nh_schema in merge group: "),
              col("__smin__").cast(StringType), lit(" vs "),
              col("__smax__").cast(StringType))).cast(IntegerType)))
    // both spectra ride one explode, tagged by sign; the downscale remap
    // ceil(i / 2^d) is the same index arithmetic on either side (negative
    // bucket magnitudes mirror the positive ones)
    val entries = concat(
      zip_with(col("nh_pos_idx"), col("nh_pos_cnt"),
        (i, c) => struct(lit(1).as("sg"), i.as("i"), c.as("c"))),
      zip_with(col("nh_neg_idx"), col("nh_neg_cnt"),
        (i, c) => struct(lit(-1).as("sg"), i.as("i"), c.as("c"))))
    val keyed = base.select(col("__gk__"), col("__gl__"), col(Model.TsCol),
        col("nh_schema"), col("__stgt__"), explode_outer(entries).as("b"))
      .withColumn("__ri__", ceil(col("b.i").cast(DoubleType) /
        pow(lit(2.0), (col("nh_schema") - col("__stgt__")).cast(DoubleType)))
        .cast(IntegerType))
    // __stgt__ carries the strict-mode guard (it IS the output schema
    // column, so column pruning can't drop the raise_error)
    val bucketAgg = keyed
      .groupBy(col("__gk__"), col(Model.TsCol), col("b.sg"), col("__ri__"))
      .agg(first("__gl__").as("__gl__"), sum(col("b.c")).as("cnt"),
        first("__stgt__").as("s_chk"))
    val buckets = bucketAgg
      .groupBy(col("__gk__"), col(Model.TsCol))
      .agg(first("__gl__").as(Model.LabelsCol), first("s_chk").as("nh_schema"),
        sort_array(collect_list(when(col("__ri__").isNotNull && col("sg") === 1,
          struct(col("__ri__").as("i"), col("cnt").as("c"))))).as("pbs"),
        sort_array(collect_list(when(col("__ri__").isNotNull && col("sg") === -1,
          struct(col("__ri__").as("i"), col("cnt").as("c"))))).as("nbs"))
    val scalars = base0
      .groupBy(col("__gk__"), col(Model.TsCol))
      .agg(sum("nh_zero_count").as("nh_zero_count"),
        sum("nh_sum").as("nh_sum"), sum("nh_count").as("nh_count"))
    buckets.join(scalars, Seq("__gk__", Model.TsCol))
      .select(col(Model.LabelsCol), col(Model.TsCol), col("nh_schema"),
        col("nh_zero_count"), col("nh_sum"), col("nh_count"),
        transform(col("pbs"), b => b("i")).as("nh_pos_idx"),
        transform(col("pbs"), b => b("c")).as("nh_pos_cnt"),
        transform(col("nbs"), b => b("i")).as("nh_neg_idx"),
        transform(col("nbs"), b => b("c")).as("nh_neg_cnt"),
        array().cast(ArrayType(DoubleType)).as("nh_bounds"))
  }

  /** Sum of CUSTOM-bucket (NHCB) histograms across series — [[merge]]'s
    * sibling for `nh_schema = -53` rows (exponential rows are rejected:
    * the two layouts have no common coarsening).
    *
    * Mixed bound lists within a (group, ts) downscale to the
    * INTERSECTION of all members' bound lists — the NHCB analogue of
    * merge's downscale-to-coarsest. This is EXACT, not approximate: the
    * target bounds are a subset of every member's bounds, so each member
    * bucket (bounds[i-1], bounds[i]] lies entirely inside one target
    * bucket, and counts re-bucket without splitting. Member bucket with
    * upper bound `u` maps to target index `|{t ∈ target : t < u}|` (the
    * overflow bucket when u exceeds every target bound; the member's own
    * overflow, u = +Inf, always does). An empty intersection degenerates
    * to a single overflow bucket — still well-formed, counts preserved.
    * `intersectMixed = false` raises on any bound-list mismatch instead
    * (the strict [[merge]] contract).
    *
    * Same plan shape as [[merge]]: the target-bounds window rides the
    * (group, ts) partitioning the merge shuffles on anyway (collect_set
    * of DISTINCT bound lists — bounded by the handful of layouts a
    * metric ever had), then one explode + one groupBy on (group, ts,
    * remapped index) + one sorted re-collect. */
  def mergeCustom(df0: DataFrame, by: Seq[String],
                  intersectMixed: Boolean = true): DataFrame = {
    val df = normalized(df0).withColumn("nh_schema",
      when(col("nh_schema") === lit(CustomSchema), col("nh_schema"))
        .otherwise(raise_error(
          lit("exponential rows in mergeCustom(): use merge"))
          .cast(IntegerType)))
    val groupLabels = map_from_arrays(
      array(by.map(lit(_)): _*),
      array(by.map(b => col(Model.LabelsCol).getItem(b)): _*))
    val base0 = df.withColumn("__gl__", groupLabels)
      .withColumn("__gk__", Model.canonicalKey(col("__gl__")))
    val groupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__gk__"), col(Model.TsCol))
    val layouts = collect_set(col("nh_bounds")).over(groupW)
    val tgt =
      if (intersectMixed)
        array_sort(aggregate(slice(layouts, lit(2), size(layouts) - 1),
          element_at(layouts, 1), (acc, b) => array_intersect(acc, b)))
      else
        when(size(layouts) === 1, col("nh_bounds"))
          .otherwise(raise_error(
            lit("mixed nh_bounds in mergeCustom group (strict mode)"))
            .cast(ArrayType(DoubleType)))
    val base = base0.withColumn("__tb__", tgt)
    // remap: member bucket upper bound u → |{t ∈ target : t < u}|; the
    // member overflow bucket (i = |bounds|, u = +Inf) lands on the target
    // overflow index |target|
    val nB = size(col("nh_bounds"))
    val entries = zip_with(col("nh_pos_idx"), col("nh_pos_cnt"),
      (i, c) => struct(i.as("i"), c.as("c")))
    val keyed = base.select(col("__gk__"), col("__gl__"), col(Model.TsCol),
        col("nh_bounds"), col("__tb__"), explode_outer(entries).as("b"))
      .withColumn("__u__", when(col("b.i") >= nB, lit(Double.PositiveInfinity))
        .otherwise(element_at(col("nh_bounds"), col("b.i") + 1)))
      .withColumn("__ri__", when(col("b.i").isNotNull, // null = empty member
        size(filter(col("__tb__"), t => t < col("__u__"))).cast(IntegerType)))
    val bucketAgg = keyed
      .groupBy(col("__gk__"), col(Model.TsCol), col("__ri__"))
      .agg(first("__gl__").as("__gl__"), sum(col("b.c")).as("cnt"),
        first("__tb__").as("__tb__"))
    val buckets = bucketAgg
      .groupBy(col("__gk__"), col(Model.TsCol))
      .agg(first("__gl__").as(Model.LabelsCol), first("__tb__").as("nh_bounds"),
        sort_array(collect_list(when(col("__ri__").isNotNull,
          struct(col("__ri__").as("i"), col("cnt").as("c"))))).as("pbs"))
    val scalars = base0
      .groupBy(col("__gk__"), col(Model.TsCol))
      .agg(sum("nh_zero_count").as("nh_zero_count"),
        sum("nh_sum").as("nh_sum"), sum("nh_count").as("nh_count"))
    buckets.join(scalars, Seq("__gk__", Model.TsCol))
      .select(col(Model.LabelsCol), col(Model.TsCol),
        lit(CustomSchema).as("nh_schema"),
        col("nh_zero_count"), col("nh_sum"), col("nh_count"),
        transform(col("pbs"), b => b("i")).as("nh_pos_idx"),
        transform(col("pbs"), b => b("c")).as("nh_pos_cnt"),
        array().cast(ArrayType(IntegerType)).as("nh_neg_idx"),
        array().cast(ArrayType(DoubleType)).as("nh_neg_cnt"),
        col("nh_bounds"))
  }
}
