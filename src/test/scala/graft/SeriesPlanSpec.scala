package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftPlan}
import org.apache.spark.sql.catalyst.expressions.MapSort
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, LocalTableScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Selector
import graft.sources.TsIngest

/** Plan shape of the series-as-arrays evaluation over a cached,
  * series-clustered collection: ingest hash-partitions on the label map,
  * so the per-series fold needs no exchange and no window sort, and a
  * served engine keeps that fold in driver heap, so its plain panels
  * collect with no Spark job and its `sum by` panels run no fold
  * aggregation. An uncached collection still pushes the selector
  * into the parquet scan. */
class SeriesPlanSpec extends SparkSpec {
  import spark.implicits._

  /** 3 hosts × 2 jobs, one sample a minute for 6 h, plus duplicate rows
    * for the dedup to average; read back from parquet so ingest sees a
    * file scan. */
  private lazy val raw: DataFrame = {
    val rows = for (h <- 0 until 3; j <- 0 until 2; i <- 0 until 360)
      yield (s"h$h", s"j$j", 1704067200.0 + i * 60.0, (h * 10 + j + i).toDouble)
    val dir = java.nio.file.Files.createTempDirectory("series-plan").toString + "/m.parquet"
    (rows ++ rows.take(20)).toDF("host", "job", "ts", "value").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val collection: DataFrame = {
    val c = TsIngest.fromDataFrame(raw, "m").cache()
    c.count()
    c
  }

  /** Physical nodes of an executed frame, through AQE stages but not into
    * the cached relation. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  test("range panels and an instant rate over the cached collection: no Exchange") {
    val engine = new PromEngine(collection)
    val start = 1704067200.0 + 3600.0
    for (q <- Seq("""rate(m{host="h1"}[5m])""", """m{host="h1"}""", """irate(m{host="h1"}[5m])""",
                  """increase(m{host="h1"}[5m])""", """avg_over_time(m{host="h1"}[1h])""",
                  """quantile_over_time(0.9, m{host="h1"}[1h])""", """deriv(m{host="h1"}[1h])""",
                  """changes(m{host="h1"}[1h])""", """holt_winters(m{host="h1"}[1h], 0.5, 0.3)""",
                  """rate_resets(m{host="h1"}[5m])""", """idelta(m{host="h1"}[5m])""")) {
      val df = engine.queryRange(q, start, start + 4 * 3600.0, 300.0)
      assert(df.count() === 2 * 49, q)
      val plan = executed(df)
      assert(!plan.exists(_.isInstanceOf[WindowExecBase]), s"$q has a Window:\n$plan")
      assert(!plan.exists(_.isInstanceOf[Exchange]), s"$q has an Exchange:\n$plan")
    }
    val instant = engine.queryInstant("""rate(m{host="h1"}[5m])""", start)
    assert(instant.count() === 2)
    assert(!executed(instant).exists(_.isInstanceOf[Exchange]), "instant rate has an Exchange")
    val sumBy = engine.queryRange("""sum by (job) (rate(m[5m]))""", start, start + 3600.0, 300.0)
    assert(executed(sumBy).count(_.isInstanceOf[Exchange]) <= 1, "sum by has > 1 Exchange")
  }

  test("served panels: one leaf scan of the fold; no Aggregate, Exchange or AQE") {
    val engine = new PromEngine(collection)
    assert(engine.served)
    val start = 1704067200.0 + 3600.0
    def foldScans(plan: Seq[SparkPlan]) = plan.collect {
      case s: LocalTableScanExec if s.output.exists(_.name == "v") => s
    }
    /** Runs `body`: its Spark job count and the executed plan of every SQL
      * action it ran. */
    def traced(body: => Any): (Int, Seq[SparkPlan]) = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { plans.add(qe.executedPlan); () }
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val jobs = Harness.run(spark)(body).jobs
        (jobs, plans.asScala.toSeq)
      } finally spark.listenerManager.unregister(listener)
    }
    /** A plain panel, an instant or a metadata call: evaluated while Spark
      * optimizes it, so it collects from one local table scan of the
      * selected fold rows, with no adaptive wrapper and no Spark job. */
    def zeroJob(q: String)(body: => Any): Unit = {
      val (jobs, plans) = traced(body)
      assert(jobs === 0, q)
      assert(plans.nonEmpty, q)
      for (p <- plans) assert(p.isInstanceOf[LocalTableScanExec], s"$q:\n$p")
    }
    // the first read fills the fold: its one job, then a local scan
    val (fillJobs, fillPlans) = traced(engine.allLabels())
    assert(fillJobs === 1)
    assert(fillPlans.last.isInstanceOf[LocalTableScanExec], fillPlans.last)
    assert(Harness.run(spark)(engine.allLabels()).jobs === 0)
    zeroJob("seriesMatching")(engine.seriesMatching(
      Selector.predicate(Selector.Eq("host", "h1"))))
    val panels = Seq("""rate(m{host="h1"}[5m])""", """m{host="h1"}""", """irate(m{host="h1"}[5m])""",
      """increase(m{host="h1"}[1h])""", """avg_over_time(m{host="h1"}[1h])""")
    for (q <- panels) {
      val df = engine.queryRange(q, start, start + 4 * 3600.0, 300.0)
      zeroJob(q)(assert(df.collect().length === 2 * 49, q))
    }
    for (q <- Seq("""rate(m{host="h1"}[5m])""", """increase(m{host="h1"}[1h])""")) {
      val df = engine.queryInstant(q, start)
      zeroJob(q)(assert(df.collect().length === 2, q))
    }
    // sum by aggregates only its own sum (partial and final), topk none:
    // neither re-folds samples, and both run the kernel on executors
    val sumBy = executed(engine.queryRange("""sum by (job) (rate(m[5m]))""", start, start + 3600.0, 300.0))
    assert(foldScans(sumBy).length === 1)
    assert(sumBy.count(_.isInstanceOf[BaseAggregateExec]) === 2, sumBy.head)
    assert(sumBy.exists(_.isInstanceOf[GenerateExec]), sumBy.head)
    val topk = executed(engine.queryRange("""topk(2, rate(m[5m]))""", start, start + 3600.0, 300.0))
    assert(foldScans(topk).length === 1 && !topk.exists(_.isInstanceOf[BaseAggregateExec]), topk.head)
    assert(topk.exists(_.isInstanceOf[GenerateExec]), topk.head)
  }

  test("served series form: panels and instants run no job and plan no Generate") {
    val engine = new PromEngine(collection)
    engine.allLabels() // fills the fold: its one job
    val start = 1704067200.0 + 3600.0
    val panels = Seq("""rate(m{host="h1"}[5m])""", """m{host="h1"}""", """irate(m{host="h1"}[5m])""",
      """increase(m{host="h1"}[1h])""", """avg_over_time(m{host="h1"}[1h])""")
      .map(q => (q, engine.rangeSeries(q, start, start + 4 * 3600.0, 300.0), 49))
    val instants = Seq("""rate(m{host="h1"}[5m])""", """increase(m{host="h1"}[1h])""")
      .map(q => (q, engine.instantSeries(q, start), 1))
    for ((q, df, points) <- panels ++ instants) {
      val run = Harness.run(spark)(GraftPlan.collectInternal(df))
      assert(run.jobs === 0, q)
      assert(run.value.map(_.getArray(1).numElements()).toSeq === Seq(points, points), q)
      assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], s"$q:\n${df.queryExecution.executedPlan}")
      assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Generate]), s"$q:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("an uncached engine over raw parquet keeps the selector in PushedFilters") {
    // its own metric name: Spark reports a frame as cached when an equal
    // plan is, and the suite's cached collection ingests the same raw rows
    val engine = new PromEngine(TsIngest.fromDataFrame(raw, "g"))
    assert(!engine.served)
    val start = 1704067200.0 + 3600.0
    for (q <- Seq("""rate(g{host="h1"}[5m])""", """g{host="h1"}""")) {
      val scans = executed(engine.queryRange(q, start, start + 3600.0, 300.0))
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, q)
      for (s <- scans) {
        val pushed = s.metadata("PushedFilters")
        assert(pushed.contains("EqualTo(host,h1)") && pushed.contains("IsNotNull(host)"), s"$q: $pushed")
      }
    }
  }

  test("TsIngest output is hash-partitioned on the label map, with and without dedup") {
    val want = math.max(spark.sparkContext.defaultParallelism, raw.rdd.getNumPartitions)
    for (dedup <- Seq(true, false)) {
      val out = TsIngest.fromDataFrame(raw, "m", TsIngest.IngestOptions(dedup = dedup))
      // the physical plan before adaptive execution wraps it: what a
      // cached relation keeps
      out.queryExecution.sparkPlan.outputPartitioning match {
        case HashPartitioning(Seq(key), n) =>
          assert(key.references.map(_.name).toSet === Set(Model.LabelsCol), s"dedup=$dedup: $key")
          assert(key.isInstanceOf[MapSort], s"dedup=$dedup: $key")
          assert(n === want)
        case other => fail(s"dedup=$dedup: $other")
      }
    }
  }

  test("TsIngest clusters each series into one of max(defaultParallelism, scan) partitions") {
    val want = math.max(spark.sparkContext.defaultParallelism, raw.rdd.getNumPartitions)
    assert(collection.rdd.getNumPartitions === want)
    val placed = collection
      .select(col("labels")("__name__").as("n"), col("labels")("host").as("h"),
        col("labels")("job").as("j"), spark_partition_id().as("p"))
      .groupBy("n", "h", "j").agg(countDistinct("p").as("parts"), count(lit(1)).as("samples"))
      .as[(String, String, String, Long, Long)].collect()
    assert(placed.length === 6)
    assert(placed.forall(_._4 == 1L), placed.mkString(", "))
    assert(placed.map(_._5).sum === 6 * 360) // duplicates averaged away
  }
}
