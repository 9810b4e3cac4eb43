package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.expr

/** What every benchmark and diagnostic main shares: the one session
  * factory, the one timed-run helper and the one executed-plan walker. */
object Harness {

  /** Local-mode cores: `SPARK_GRAFT_CPUS`, else the JVM's processors. */
  def cores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_MASTER`, else `local[cores]`. */
  def master(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_MASTER", s"local[${cores(env)}]")

  /** Shuffle partitions of the serving mains (Serve, Query, Pipeline);
    * perfbench's `ServeBench.session` mirrors Serve's session. */
  val ServePartitions = 32

  /** The session every main runs in: [[master]], UTC, no UI, WARN. The
    * WARN each unpersist of a local checkpoint logs (under the RDD's own
    * class name, `MapPartitionsRDD` for a checkpointed Dataset) is
    * expected, so that one logger logs errors only. */
  def session(app: String, shufflePartitions: Int = cores()): SparkSession = {
    val spark = SparkSession.builder()
      .master(master())
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  /** JVM and codegen warm-up over the operators the gates use most (hash
    * aggregation with sum, avg and max), so the first timed run does not
    * pay the JIT for the rest. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("id % 97 as k", "id as v")
      .groupBy("k").agg(expr("sum(v)"), expr("avg(v)"), expr("max(v)"))
      .selectExpr("sum(`sum(v)`)").collect()

  /** One block's result and cost: wall seconds, Spark jobs started, JVM
    * GC milliseconds. */
  final case class Run[T](value: T, secs: Double, jobs: Int, gcMs: Long)

  private def gcMillis(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Runs `body` and measures it. The listener bus is drained before the
    * job listener attaches, so no earlier work is counted, and again
    * before it detaches, so every job `body` started is. */
  def run[T](spark: SparkSession)(body: => T): Run[T] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val value = body
      val secs = (System.nanoTime() - t0) / 1e9
      val gcMs = gcMillis() - gc0
      GraftListenerBus.drain(sc)
      Run(value, secs, jobs.get, gcMs)
    } finally sc.removeSparkListener(listener)
  }

  /** Every node of an executed plan that ran, read through adaptive plans,
    * query stages and subqueries. A cached relation's build plan is read
    * once however many scans read it, and a ReusedExchange contributes
    * nothing: its exchange ran, and is counted, where it first appears.
    * (A plan's printed tree repeats a cached subtree under every reader.) */
  def executedNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seenCaches = mutable.Set[AnyRef]()
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec =>
        out += m
        if (seenCaches.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }
}
