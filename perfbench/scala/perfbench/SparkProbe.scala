package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the `spark` layer, seen from outside the program: one
  * SparkListener for jobs, stages and task metrics, one
  * QueryExecutionListener for Catalyst planning time (optimization plus
  * physical planning, read from the executing QueryExecution's tracker —
  * the frame a query returns has only analysis on its tracker). */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks = new LongAdder
  val execRunMs, gcMs, shuffleBytes, spillBytes = new LongAdder
  val stageSpanMs, jobSpanMs, planMs = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** A point-in-time copy of every counter (drains the bus first). */
  def snapshot(): Map[String, Long] = {
    drain()
    Map("jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
      "exec_run_ms" -> execRunMs.sum, "gc_ms" -> gcMs.sum,
      "shuffle_bytes" -> shuffleBytes.sum, "spill_bytes" -> spillBytes.sum,
      "stage_span_ms" -> stageSpanMs.sum, "job_span_ms" -> jobSpanMs.sum,
      "plan_ms" -> planMs.sum)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => jobSpanMs.add(e.time - t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stages.increment()
    for (s <- info.submissionTime; c <- info.completionTime) stageSpanMs.add(c - s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      execRunMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planMs.add(Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe {
  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}
