// Per-request Spark work and latency of a served engine, for plans/r23.
//
// Run in spark-shell with graft's compiled classes on the driver class path
// (for example the `.bench_build/classes-*` directory perfbench/build.py
// writes), against a TESTDATA-layout directory holding events.parquet:
//
//   SF_DIR=<sf0.1 dir> spark-shell --master local[4] \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --driver-class-path <graft classes> -i plans/r23/probe.scala
//
// It sets graft up as graft.Serve does (cached TsIngest collection, PromApi),
// sends the dashboard's request kinds over HTTP one at a time and prints,
// per kind, the Spark jobs, stages and tasks of one warm request (a
// SparkListener, as in plans/r21), the median of 15 HTTP round trips and
// of 15 direct engine calls, then the cached RDDs' sizes. The first request
// (a rate panel) is timed separately: on a served engine it fills the fold.
import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

import graft.PromEngine
import graft.server.PromApi

val dir = sys.env("SF_DIR")
sc.setLogLevel("WARN")
val cached = graft.queries.TsQueries.events(spark, dir).cache()
val samples = cached.count()
val engine = new PromEngine(cached)
val api = PromApi(engine, 0).start()

val jobs, stages, tasks = new AtomicLong
sc.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks); ()
  }
})

val http = HttpClient.newHttpClient()
def get(path: String): Int =
  http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}$path")).GET().build(),
    HttpResponse.BodyHandlers.ofByteArray()).statusCode
def enc(s: String) = URLEncoder.encode(s, "UTF-8")
def ms[A](f: => A): Double = { val t = System.nanoTime; f; (System.nanoTime - t) / 1e6 }
def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)

val sel = """events{event_type="purchase"}"""
val start = 1704067200.0 + 3 * 86400.0
val end = start + 6 * 3600.0
val instantT = start + 3 * 3600.0 + 60.0
def range(q: String) = (s"/api/v1/query_range?query=${enc(q)}&start=${start.toLong}&end=${end.toLong}&step=300",
  () => engine.queryRange(q, start, end, 300.0).collect().length)
def instant(q: String) = (s"/api/v1/query?query=${enc(q)}&time=${instantT.toLong}",
  () => engine.queryInstant(q, instantT).collect().length)
val kinds: Seq[(String, (String, () => Any))] = Seq(
  "range selector" -> range(sel),
  "range rate[5m]" -> range(s"rate($sel[5m])"),
  "range irate[5m]" -> range(s"irate($sel[5m])"),
  "range increase[1h]" -> range(s"increase($sel[1h])"),
  "range avg_over_time[1h]" -> range(s"avg_over_time($sel[1h])"),
  "range sum by rate[5m]" -> range(s"sum by (event_type) (rate($sel[5m]))"),
  "range topk rate[1h]" -> range(s"topk(3, rate($sel[1h]))"),
  "instant rate[5m]" -> instant(s"rate($sel[5m])"),
  "instant increase[1h]" -> instant(s"increase($sel[1h])"),
  "/api/v1/labels" -> ("/api/v1/labels", () => engine.allLabels()),
  "/api/v1/label/event_type/values" -> ("/api/v1/label/event_type/values", () => engine.labelValues("event_type")),
  "/api/v1/series" -> (s"/api/v1/series?match[]=${enc(sel)}", () => ()),
  "/" -> ("/", () => ()))

val first = ms(get(kinds(1)._2._1))
println(f"probe: $samples samples; first request (${kinds(1)._1}) $first%.0f ms")
kinds.foreach { case (_, (path, _)) => get(path) } // warm every kind once
println("| request | jobs | stages | tasks | HTTP p50 ms | direct p50 ms |")
println("| --- | --- | --- | --- | --- | --- |")
for ((name, (path, direct)) <- kinds) {
  Thread.sleep(300); jobs.set(0); stages.set(0); tasks.set(0)
  get(path)
  Thread.sleep(500) // listener events arrive asynchronously
  val counts = (jobs.get, stages.get, tasks.get)
  val viaHttp = median((1 to 15).map(_ => ms(get(path))))
  val viaCall = if (path.startsWith("/api/v1/series") || path == "/") "-"
    else f"${median((1 to 15).map(_ => ms(direct())))}%.1f"
  println(f"| $name | ${counts._1} | ${counts._2} | ${counts._3} | $viaHttp%.1f | $viaCall |")
}
for (i <- sc.getRDDStorageInfo)
  println(f"cached rdd ${i.id}: ${i.memSize / 1048576.0}%.2f MB in memory, ${i.diskSize / 1048576.0}%.2f MB on disk, " +
    s"${i.numCachedPartitions}/${i.numPartitions} partitions, ${i.name.take(60).replace('\n', ' ')}")
api.stop()
System.exit(0)
