package graft

import graft.server.PromApi

/** Spark jobs per `dashboard` request shape over HTTP on a served engine:
  * each of perfbench's dashboard shapes (6 h panels at 5 m, the two
  * instants, the four metadata calls) sent three times after one warm-up
  * pass, with the jobs each request started. Copy it into a checkout's
  * `src/test/scala/graft/` and run, with `SF` set to a testdata directory
  * (the counts in README.md are from sf0.01),
  *
  *     SF=<testdata>/sf0.01 sbt "testOnly graft.JobsPerShape"
  *
  * It prints one `jobs <shape> <counts>` line per shape. The shuffle
  * partitions are set to 32, as `graft.Serve` sets them. */
class JobsPerShape extends SparkSpec {
  test("jobs per dashboard request shape") {
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    val cached = queries.TsQueries.events(spark, sys.env("SF")).cache()
    cached.count()
    val api = PromApi(new PromEngine(cached), port = 0).start()
    val client = java.net.http.HttpClient.newHttpClient()
    def get(path: String): Int = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:${api.boundPort}$path")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val sel = """events{event_type="purchase"}"""
    val end = 1704067200L + 86400L + 7 * 3600L
    val panels = Seq("rate(S[5m])", "S", "sum by (event_type) (rate(S[5m]))", "irate(S[5m])",
      "avg_over_time(S[1h])", "increase(S[1h])", "topk(3, rate(S[1h]))")
    val shapes =
      panels.map(p => p -> s"/api/v1/query_range?query=${enc(p.replace("S", sel))}&start=${end - 6 * 3600}&end=$end&step=300") ++
      Seq("rate(S[5m])", "increase(S[1h])").map(p => s"instant $p" -> s"/api/v1/query?query=${enc(p.replace("S", sel))}&time=${end - 1800}") ++
      Seq("/api/v1/labels", "/api/v1/label/event_type/values", "/api/v1/label/__name__/values",
        s"/api/v1/series?match[]=${enc(sel)}").map(u => u.takeWhile(_ != '?') -> u)
    try {
      for ((_, path) <- shapes) assert(get(path) == 200, path)
      for ((shape, path) <- shapes) {
        val jobs = (1 to 3).map(_ => Harness.run(spark)(assert(get(path) == 200, path)).jobs)
        println(s"jobs $shape ${jobs.mkString(" ")}")
      }
    } finally {
      api.stop()
      cached.unpersist(blocking = true)
    }
  }
}
