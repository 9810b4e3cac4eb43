package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, count, lit}

/** The one harness the mains share: its session rule, its run helper's
  * job count, its plan walker's cache rule, that no main builds a
  * session of its own, that only one shim adds optimizer rules, and that
  * the HTTP server collects results one row per series. */
class HarnessSpec extends SparkSpec {

  test("master and shuffle partitions follow the environment") {
    val nproc = Runtime.getRuntime.availableProcessors
    assert(Harness.cores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(Harness.master(Map("SPARK_GRAFT_CPUS" -> "3")) === "local[3]")
    assert(Harness.cores(Map.empty) === nproc)
    assert(Harness.master(Map.empty) === s"local[$nproc]")
    val remote = Map("SPARK_MASTER" -> "spark://head:7077", "SPARK_GRAFT_CPUS" -> "6")
    assert(Harness.master(remote) === "spark://head:7077")
    assert(Harness.cores(remote) === 6)
    assert(Harness.master(Map("SPARK_MASTER" -> "local[2]")) === "local[2]")
  }

  test("run counts the jobs a test-side listener sees, with no sleep") {
    val seen = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { seen.incrementAndGet(); () }
    }
    GraftListenerBus.drain(spark.sparkContext) // no earlier suite's events
    spark.sparkContext.addSparkListener(listener)
    val r = try Harness.run(spark) {
      spark.range(10000).groupBy((col("id") % 7).as("k")).agg(count(lit(1))).collect()
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(r.value.length === 7)
    assert(r.jobs >= 1)
    assert(r.jobs === seen.get)
    assert(r.secs > 0 && r.gcMs >= 0)
  }

  test("the walker counts a cached relation read twice as one scan") {
    val dir = Files.createTempDirectory("graft-harness").resolve("t.parquet").toString
    spark.range(100).write.parquet(dir)
    val cached = spark.read.parquet(dir).cache()
    try {
      val twice = cached.union(cached.filter(col("id") > 50))
      assert(twice.collect().length === 149)
      val nodes = Harness.executedNodes(twice.queryExecution.executedPlan)
      assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) === 2)
      assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) === 1)
    } finally cached.unpersist(blocking = true)
  }

  test("no main builds its own SparkSession: only Harness.scala calls the builder") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main))
    val files = Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val builders = files.filter((p: Path) => Files.readString(p).contains("SparkSession.builder"))
      .map(p => main.relativize(p).toString)
    assert(builders === Seq("graft/Harness.scala"))
  }

  test("only the GraftPlan shim assigns the session's extra optimizer rules") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main))
    val assigns = """extraOptimizations(\s*=(?!=)|_=)""".r
    val files = Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val writers = files.filter((p: Path) => assigns.findFirstIn(Files.readString(p)).isDefined)
      .map(p => main.relativize(p).toString)
    assert(writers === Seq("org/apache/spark/sql/GraftPlan.scala"))
  }

  test("PromApi collects series rows only: no long query, no collect()") {
    val api = Files.readString(Paths.get("src/main/scala/graft/server/PromApi.scala"))
    val long = """\b(queryRange|queryRangeRaw|queryInstant)\b|\.collect\(\)""".r
    val found = long.findAllIn(api).toSeq
    assert(found.isEmpty, found.mkString(", "))
    assert(api.contains("GraftPlan.collectInternal(series)"))
  }
}
