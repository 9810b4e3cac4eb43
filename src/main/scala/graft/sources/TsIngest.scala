package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Model

/** Parquet → labelled-time-series ingestion.
  *
  * Re-expresses the reference's metric classification (metricstore.rs:104-186)
  * Spark-first: the schema inspection is driver-side metadata only; the data
  * path is a single projection with a `stack()` unpivot followed by one
  * hash repartition on the label map (plus the dedup aggregation's
  * label-column repartition when deduplication is requested); filters and
  * column pruning push through both to the scan.
  *
  * Classification per reference semantics:
  *  - exactly one of `time`/`timestamp`/`__time__` (we additionally accept
  *    `ts`) among numeric/timestamp columns is the time axis (metricstore.rs:162-166);
  *  - boolean columns are an error (metricstore.rs:138-141);
  *  - remaining numeric columns are value columns, string columns are labels
  *    (metricstore.rs:143-159);
  *  - multiple value columns: if they all look like histogram columns
  *    (`Le<float>`/`Le+Inf` buckets plus count/sum/max) the file is a histogram
  *    (metricstore.rs:389-436): buckets become `<name>_bucket` series carrying a
  *    `Le` label, the others `<name>_<col>`; a missing `Le+Inf` bucket is
  *    synthesized from `count` and a missing `count` from `Le+Inf`
  *    (metricstore.rs:465-519). A mix of bucket and non-histogram columns is an
  *    error (metricstore.rs:405-410). Otherwise each column becomes its own
  *    metric `<name>_<col>`, except a column literally named `value` which
  *    keeps the base name (metricstore.rs:446-462).
  */
object TsIngest {

  /** `^Le((\d*(\.\d*)?([eE][-+]?\d+)?)|\+[Ii]nf)$` (metricstore.rs:25) */
  private val BucketName = "^Le((\\d*(\\.\\d*)?([eE][-+]?\\d+)?)|\\+[Ii]nf)$".r
  private val TimeColumnNames = Seq("time", "timestamp", "__time__", "ts")
  private val LeInfBucket = "Le+Inf"

  def isBucketColumn(name: String): Boolean = BucketName.findFirstIn(name).isDefined
  private def isAlternateHistogramColumn(name: String): Boolean =
    name == "count" || name == "sum" || name == "max"

  final case class IngestOptions(
      metricName: Option[String] = None,
      timeColumn: Option[String] = None,
      labelColumns: Option[Seq[String]] = None,
      valueColumns: Option[Seq[String]] = None,
      fixedLabels: Map[String, String] = Map.empty,
      /** average duplicate samples per (series, ts) so each series is a
        * strictly monotonic time vector (reference timevectors.rs:82-97
        * rejects non-monotonic input; we repair instead of failing). */
      dedup: Boolean = true)

  /** One output metric: stack target name, source column, optional Le value. */
  private final case class MetricCol(metric: String, sourceCol: String, le: Option[String])

  def read(spark: SparkSession, path: String, opts: IngestOptions = IngestOptions()): DataFrame = {
    // tolerate TIMESTAMP(NANOS) members (Spark 4 rejects them by default);
    // the column arrives as a nanos long — callers with ns data normalize
    // (see TsQueries.rawEvents for the exact-epoch recipe)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = opts.metricName.getOrElse(cleanMetricName(
      path.split('/').last.stripSuffix(".parquet")))
    fromDataFrame(spark.read.parquet(path), base, opts)
  }

  /** Ingest an already-loaded DataFrame (also used for derived/streamed inputs). */
  def fromDataFrame(df0: DataFrame, baseName: String, opts: IngestOptions = IngestOptions()): DataFrame = {
    val (timeCol, labelCols, valueCols) = classify(df0.schema, opts)
    val metrics = planMetrics(baseName, valueCols)

    // TIMESTAMP_NTZ can't cast straight to double; route through TIMESTAMP
    // (session timezone is UTC everywhere, so the epoch arithmetic matches
    // DuckDB's epoch()).
    val df = df0.schema(timeCol).dataType match {
      case TimestampNTZType => df0.withColumn(timeCol, col(timeCol).cast(TimestampType))
      case _ => df0
    }

    // Every series lands whole in one of n partitions, n following the
    // cores and the scan, not spark.sql.shuffle.partitions: a cached
    // collection is scanned by about one task per core.
    val n = math.max(df.sparkSession.sparkContext.defaultParallelism, df.rdd.getNumPartitions)

    // The dedup aggregation runs on an explicit n-way hash repartition by
    // the label columns (a label-less input: one partition): its own
    // exchange would first partially aggregate in the scan's task(s),
    // where duplicates are rare, and then be coalesced into fewer tasks
    // than cores.
    val deduped =
      if (opts.dedup) {
        val clustered =
          if (labelCols.isEmpty) df.repartition(1) else df.repartition(n, labelCols.map(col): _*)
        clustered.groupBy(col(timeCol) +: labelCols.map(col): _*)
          .agg(avg(valueCols.head).as(valueCols.head),
               valueCols.tail.map(c => avg(c).as(c)): _*)
      } else df

    // Hash-partition the output on the label map so that the plan says the
    // collection is series-clustered: Spark partitions a map on its
    // key-sorted form, and a cached collection keeps this partitioning,
    // which the per-series fold (Resample.series, grouping on labels) then
    // satisfies without an exchange.
    unpivot(deduped, timeCol, labelCols, metrics, opts.fixedLabels).repartition(n, col(Model.LabelsCol))
  }

  private def classify(schema: StructType, opts: IngestOptions): (String, Seq[String], Seq[String]) = {
    def isNumericOrTime(dt: DataType): Boolean = dt match {
      case _: NumericType | _: TimestampType | TimestampNTZType | DateType => true
      case _ => false
    }
    schema.fields.foreach { f =>
      if (f.dataType == BooleanType)
        throw new IllegalArgumentException(s"Booleans are beyond me, column = ${f.name}")
    }

    val timeCol = opts.timeColumn.getOrElse {
      val candidates = schema.fields
        .filter(f => isNumericOrTime(f.dataType) && TimeColumnNames.contains(f.name))
        .map(_.name)
      candidates.length match {
        case 0 => throw new IllegalArgumentException("No possible time columns")
        case 1 => candidates.head
        case n => throw new IllegalArgumentException(s"Too many possible time columns: $n")
      }
    }

    val labelCols = opts.labelColumns.getOrElse(
      schema.fields.filter(_.dataType == StringType).map(_.name).toSeq)
    val valueCols = opts.valueColumns.getOrElse(
      schema.fields
        .filter(f => isNumericOrTime(f.dataType) && f.name != timeCol &&
          !f.dataType.isInstanceOf[TimestampType] &&
          f.dataType != TimestampNTZType && f.dataType != DateType)
        .map(_.name).toSeq)
    if (valueCols.isEmpty) throw new IllegalArgumentException("No value columns")
    (timeCol, labelCols, valueCols)
  }

  /** Decide the metric name (and Le label) for each value column; mirrors
    * `TaggedMetricType::from_value_columns` + `create_metric_builder`
    * (metricstore.rs:413-524). */
  private def planMetrics(base: String, valueCols: Seq[String]): Seq[MetricCol] = {
    if (valueCols.length == 1)
      return Seq(MetricCol(base, valueCols.head, None))

    val allHistogram = valueCols.forall(c => isBucketColumn(c) || isAlternateHistogramColumn(c))
    val anyBucket = valueCols.exists(isBucketColumn)

    if (allHistogram) {
      val (buckets, alternates) = valueCols.partition(isBucketColumn)
      val bucketMetric = Model.makeMetricNameLegal(s"${base}_bucket")
      val fromBuckets = buckets.map(c => MetricCol(bucketMetric, c, Some(c.drop(2))))
      val synthInf =
        if (!buckets.contains(LeInfBucket) && alternates.contains("count"))
          Seq(MetricCol(bucketMetric, "count", Some("+Inf")))
        else Nil
      val fromAlternates = alternates.map(c =>
        MetricCol(Model.makeMetricNameLegal(s"${base}_$c"), c, None))
      val synthCount =
        if (buckets.contains(LeInfBucket) && !alternates.contains("count"))
          Seq(MetricCol(Model.makeMetricNameLegal(s"${base}_count"), LeInfBucket, None))
        else Nil
      fromBuckets ++ synthInf ++ fromAlternates ++ synthCount
    } else if (anyBucket) {
      throw new IllegalArgumentException(
        s"This is a mixture of columns that is not a full histogram nor a simple set of independent columns : $valueCols")
    } else {
      valueCols.map { c =>
        val name = if (c == "value") base else Model.makeMetricNameLegal(s"${base}_$c")
        MetricCol(name, c, None)
      }
    }
  }

  /** Single-projection unpivot into the long model. */
  private def unpivot(df: DataFrame, timeCol: String, labelCols: Seq[String],
                      metrics: Seq[MetricCol], fixed: Map[String, String]): DataFrame = {
    // stack(n, name1, le1, value1, name2, le2, value2, ...)
    val stackArgs: Seq[Column] = metrics.flatMap { m =>
      Seq(lit(m.metric),
          m.le.map(lit(_)).getOrElse(lit(null).cast(StringType)),
          col(m.sourceCol).cast(DoubleType))
    }
    val selectCols: Seq[Column] =
      Seq(col(timeCol).cast(DoubleType).as(Model.TsCol)) ++
        labelCols.map(col) :+
        stack((lit(metrics.length) +: stackArgs): _*).as(Seq("__metric__", "__le__", Model.ValueCol))
    val stacked = df.select(selectCols: _*)

    val labelPairs: Seq[Column] =
      Seq(lit(Model.NameLabel), col("__metric__")) ++
        labelCols.flatMap(c => Seq(lit(c), col(c))) ++
        fixed.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }

    // When no metric carries an Le label, emit a plain CreateMap: Catalyst's
    // SimplifyExtractValueOps then rewrites labels['x'] back to the source
    // column, so selector predicates push through the unpivot into the
    // parquet scan. map_concat would block that simplification.
    val labelsCol =
      if (metrics.forall(_.le.isEmpty)) map(labelPairs: _*)
      else map_concat(
        map(labelPairs: _*),
        when(col("__le__").isNotNull, map(lit(Model.LeLabel), col("__le__")))
          .otherwise(map().cast(MapType(StringType, StringType))))

    stacked.select(labelsCol.as(Model.LabelsCol), col(Model.TsCol), col(Model.ValueCol))
  }

  /** Strip `.parquet` and legalize (metricstore.rs:191-201). */
  def cleanMetricName(name: String): String =
    Model.makeMetricNameLegal(name.stripSuffix(".parquet"))
}
