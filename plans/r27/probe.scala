// Served-panel plans, resident bytes and per-request latency, for plans/r27.
//
// Run in spark-shell with graft's compiled classes on the driver class path
// (for example the `.bench_build/classes-*` directory perfbench/build.py
// writes), against a TESTDATA-layout directory holding events.parquet:
//
//   SF_DIR=<sf0.1 dir> OUT=<dir> TAG=<before|after> spark-shell --master local[4] \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --driver-class-path <graft classes> -i plans/r27/probe.scala
//
// It sets graft up as graft.Serve does (cached TsIngest collection, PromApi)
// and fills the served fold with one request. Then, for a rate panel, a
// `sum by` panel and an instant rate, it writes the executed plan's
// formatted explain string (the string Spark's SQLExecution builds for every
// query) to $OUT/<kind>_$TAG.txt and prints its length, the root node and
// the jobs of one warm request. Last come the median of 15 HTTP round trips
// per request kind and the cached RDDs' sizes.
import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode

import graft.PromEngine
import graft.server.PromApi

val dir = sys.env("SF_DIR")
val out = sys.env("OUT")
val tag = sys.env("TAG")
sc.setLogLevel("WARN")
val cached = graft.queries.TsQueries.events(spark, dir).cache()
cached.count()
val engine = new PromEngine(cached)
val api = PromApi(engine, 0).start()

val jobs = new AtomicLong
sc.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
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

val first = ms(engine.queryRange(s"rate($sel[5m])", start, end, 300.0).collect())
println(f"probe: first panel (fills the fold) $first%.0f ms")
val frames = Seq(
  "rate_panel" -> (() => engine.queryRange(s"rate($sel[5m])", start, end, 300.0)),
  "sum_by_panel" -> (() => engine.queryRange(s"sum by (event_type) (rate($sel[5m]))", start, end, 300.0)),
  "instant_rate" -> (() => engine.queryInstant(s"rate($sel[5m])", instantT)))
println("| frame | explain chars | root node | jobs |")
println("| --- | --- | --- | --- |")
for ((name, frame) <- frames) {
  val df = frame()
  Thread.sleep(300); jobs.set(0)
  df.collect()
  Thread.sleep(500) // listener events arrive asynchronously
  val plan = df.queryExecution.explainString(FormattedMode)
  Files.write(Paths.get(s"$out/${name}_$tag.txt"), plan.getBytes("UTF-8"))
  println(s"| $name | ${plan.length} | ${df.queryExecution.executedPlan.nodeName} | ${jobs.get} |")
}

def range(q: String) = s"/api/v1/query_range?query=${enc(q)}&start=${start.toLong}&end=${end.toLong}&step=300"
val kinds = Seq(
  "range rate[5m]" -> range(s"rate($sel[5m])"),
  "range sum by rate[5m]" -> range(s"sum by (event_type) (rate($sel[5m]))"),
  "instant rate[5m]" -> s"/api/v1/query?query=${enc(s"rate($sel[5m])")}&time=${instantT.toLong}",
  "/api/v1/labels" -> "/api/v1/labels",
  "/" -> "/")
kinds.foreach { case (_, path) => get(path) } // warm every kind once
println("| request | HTTP p50 ms |")
println("| --- | --- |")
for ((name, path) <- kinds)
  println(f"| $name | ${median((1 to 15).map(_ => ms(get(path))))}%.1f |")
for (i <- sc.getRDDStorageInfo)
  println(f"cached rdd ${i.id}: ${i.memSize / 1048576.0}%.2f MB in memory, ${i.diskSize / 1048576.0}%.2f MB on disk, " +
    s"${i.numCachedPartitions}/${i.numPartitions} partitions, ${i.name.take(60).replace('\n', ' ')}")
api.stop()
System.exit(0)
