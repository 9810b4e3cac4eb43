package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExecBase

/** Per-query evidence dump for the optimization rounds: for each named
  * query, runs it once (noop sink), then writes
  * `<outDir>/<query>_<tag>.txt` holding the `.explain("formatted")` tree
  * (the [[Plans]] format) under a summary line: the number of Spark jobs
  * the whole gate executed (SparkListener count) — the observable a
  * lifecycle optimization moves when the plan shape of the declared query
  * is unchanged (store builds/appends are side effects outside the
  * returned frame's plan, so job count is where sequential-vs-overlapped
  * commits show) — and the shuffle Exchange, Window and Sort nodes of the
  * physical plan. The same summaries, one table row per gate, go to
  * `<outDir>/summary_<tag>.md`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, qcsv) = args.take(4)
    val queries = qcsv.split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))

    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    val rows = queries.map { name =>
      val fn = SparkEntry.queries(name)
      jobs.set(0)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; poll until the count settles
      var nJobs = jobs.get()
      var settled = false
      while (!settled) {
        Thread.sleep(200)
        val now = jobs.get()
        settled = now == nJobs
        nJobs = now
      }
      val physical = df.queryExecution.executedPlan
      def count(p: PartialFunction[SparkPlan, Unit]): Int = Nodes.collect(physical)(p).length
      val exchanges = count { case _: ShuffleExchangeExec => }
      val windows = count { case _: WindowExecBase => }
      val sorts = count { case _: SortExec => }
      val summary = f"$nJobs Spark jobs, $exchanges Exchange, $windows Window, $sorts Sort; $sec%.2f s"
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val lines = plan.split("\n")
      val treeEnd = lines.indexWhere(_.startsWith("(1) Scan"), 1)
      val tree = if (treeEnd > 0) lines.take(treeEnd) else lines
      val pushed = lines.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema"))
      // SPARK_GRAFT_PLAN_FULL=1 keeps every operator's detail block —
      // needed when the before/after claim is an EXPRESSION change
      // (e.g. interpreted HOF → native codegen'd function) that the
      // tree-only view cannot show
      val full = sys.env.get("SPARK_GRAFT_PLAN_FULL").contains("1")
      val shown = if (full) lines else tree
      val body = s"## $name ($tag)\n\n" +
        s"gate: $summary (end to end, single cold run)\n\n" +
        "```\n" + shown.mkString("\n").trim +
        (if (!full && pushed.nonEmpty) "\n\n" + pushed.mkString("\n") else "") +
        "\n```\n"
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), body)
      println(s"[plandump] $name ($tag): $summary")
      f"| `$name` | $nJobs | $exchanges | $windows | $sorts | $sec%.2f |"
    }
    Files.writeString(Paths.get(s"$outDir/summary_$tag.md"),
      ("| gate | jobs | Exchange | Window | Sort | s |" +: "| --- | --- | --- | --- | --- | --- |" +: rows)
        .mkString("", "\n", "\n"))
    spark.stop()
  }
}

/** Plan traversal through adaptive plans and their query stages. */
private object Nodes extends AdaptiveSparkPlanHelper
