package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row

import graft.server.PromApi

/** HTTP API shapes (reference main.rs:227-424). */
class PromApiSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def post(port: Int, path: String, form: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("labels, label values, query_range, instant query") {
    val engine = new PromEngine(queries.TsQueries.events(spark, "/root/testdata/sf0.001"))
    val api = PromApi(engine, port = 0).start()
    try {
      val port = api.boundPort

      // series, not samples: 440 (event_type, props) pairs × 3 metrics
      // hold 3,000 samples
      val (c0, root) = get(port, "/")
      assert(c0 == 200 && root == "Got 1320 time series", root)

      val (c1, labels) = get(port, "/api/v1/labels")
      assert(c1 == 200 && labels.contains("\"status\": \"success\""))
      assert(labels.contains("\"event_type\"") && labels.contains("\"__name__\""))

      val (c2, values) = get(port, "/api/v1/label/__name__/values")
      assert(c2 == 200 && values.contains("\"events_user_id\""))

      val (c3, qr) = get(port,
        "/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("""sum by (event_type) (events{event_type="purchase"})""", "UTF-8") +
          "&start=1704067200&end=1704070800&step=15m")
      assert(c3 == 200, qr.take(300))
      assert(qr.contains("\"resultType\": \"matrix\""))
      assert(qr.contains("\"event_type\": \"purchase\""))
      assert(qr.contains("[1704067200, "))

      val (c4, bad) = get(port, "/api/v1/query_range?query=bogus%7B&start=0&end=1&step=1")
      assert(c4 == 400 && bad.contains("queryError"))

      // the reference's instant-query easter egg (main.rs:399-405)
      val (c5, two) = post(port, "/api/v1/query", "query=1%2B1&time=0")
      assert(c5 == 200 && two.contains("2.0"))

      // round-8 surface over the wire: @ pin composed with per-step scalar
      // normalization, and a per-step scalar serialized as a labelless series
      val (c6, pin) = get(port,
        "/api/v1/query_range?query=" +
          java.net.URLEncoder.encode(
            """sum by (event_type) (events @ 1704070800) / scalar(sum(events))""", "UTF-8") +
          "&start=1704067200&end=1704070800&step=15m")
      assert(c6 == 200, pin.take(300))
      assert(pin.contains("\"resultType\": \"matrix\"") && pin.contains("\"event_type\""))

      val (c7, th) = get(port,
        "/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("hour(time())", "UTF-8") +
          "&start=1704067200&end=1704074400&step=1h")
      assert(c7 == 200 && th.contains("\"metric\": {}"), th.take(200))
      assert(th.contains("[1704070800, \"1\"]") || th.contains("[1704070800, \"1.0\"]"), th.take(400))

      // scalar-comparison bool rule surfaces as a query error, not a 500
      val (c8, sc) = get(port,
        "/api/v1/query_range?query=" +
          java.net.URLEncoder.encode("time() > 5", "UTF-8") +
          "&start=1704067200&end=1704070800&step=1h")
      assert(c8 == 400 && sc.contains("BOOL modifier"), sc.take(200))
    } finally api.stop()
  }
  test("instant query vector shape and /api/v1/series") {
    val engine = new PromEngine(queries.TsQueries.events(spark, "/root/testdata/sf0.001"))
    val api = PromApi(engine, port = 0).start()
    try {
      val port = api.boundPort
      val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")

      // real instant query → vector wire shape
      val (c1, iv) = get(port, "/api/v1/query?query=" +
        enc("""sum by (event_type) (events)""") + "&time=1704153600")
      assert(c1 == 200, iv.take(300))
      assert(iv.contains("\"resultType\": \"vector\""))
      assert(iv.contains("\"value\": [1704153600, "))

      // the reference's 1+1 quirk is preserved
      val (c2, quirk) = post(port, "/api/v1/query", "query=1%2B1")
      assert(c2 == 200 && quirk.contains("\"result\": 2.0"))

      // series: two selectors, distinct label sets
      val (c3, sr) = get(port, "/api/v1/series?match[]=" +
        enc("""events{event_type="purchase"}""") + "&match[]=" + enc("""events{event_type="click"}"""))
      assert(c3 == 200, sr.take(300))
      assert(sr.contains("\"event_type\": \"purchase\"") && sr.contains("\"event_type\": \"click\""))

      // overlapping selectors: each series once, the same answer
      val (c5, overlap) = get(port, "/api/v1/series?match[]=" +
        enc("""events{event_type="purchase"}""") + "&match[]=" + enc("""events{event_type=~"purchase|click"}"""))
      assert(c5 == 200 && overlap == sr, overlap.take(300))

      val (c4, _) = get(port, "/api/v1/series")
      assert(c4 == 400)
    } finally api.stop()
  }

  test("count_over_time serves as a double over query_range and query") {
    val engine = new PromEngine(queries.TsQueries.events(spark, "/root/testdata/sf0.001"))
    val api = PromApi(engine, port = 0).start()
    try {
      val q = java.net.URLEncoder.encode(
        """count_over_time(events{event_type="purchase"}[1h])""", "UTF-8")
      val (c1, range) = get(api.boundPort,
        s"/api/v1/query_range?query=$q&start=1704067200&end=1704078000&step=1h")
      assert(c1 == 200 && range.contains("\"resultType\": \"matrix\""), range.take(300))
      assert(range.contains("[1704070800, \"1\"]"), range.take(300))
      val (c2, inst) = get(api.boundPort, s"/api/v1/query?query=$q&time=1704070800")
      assert(c2 == 200 && inst.contains("\"value\": [1704070800, \"1\"]"), inst.take(300))
    } finally api.stop()
  }

  test("native-histogram quantile serves over query_range") {
    val nh = { // scoped: functions.get would shadow this suite's HTTP get
      import org.apache.spark.sql.functions.{lit, map}
      import spark.implicits._
      val obs = Seq((1704067200.0, 1.0), (1704067200.0, 3.0), (1704067200.0, 3.0))
        .toDF("ts", "value")
        .withColumn("labels", map(lit("__name__"), lit("lat_native")))
      graft.operators.NativeHistogram.fromSamples(Model.withSkey(obs), 0)
    }
    val engine = new PromEngine(
      queries.TsQueries.events(spark, "/root/testdata/sf0.001"))
      .withNativeHistograms(Map("lat_native" -> nh))
    val api = PromApi(engine, port = 0).start()
    try {
      val (c, body) = get(api.boundPort,
        "/api/v1/query_range?query=histogram_quantile(0.5,%20lat_native%7B%7D)" +
          "&start=1704067200&end=1704070800&step=1h")
      assert(c == 200 && body.contains("\"status\": \"success\""))
      // schema-0 buckets (0.5,1]=1, (2,4]=2; q=0.5 → rank 1.5 in (2,4]
      assert(body.contains("1704067200") && body.contains("2.5"))
    } finally api.stop()
  }

  test("favicon, POST body cap, error JSON shape (main.rs:104,300-318,349)") {
    val engine = new PromEngine(queries.TsQueries.events(spark, "/root/testdata/sf0.001"))
    val api = PromApi(engine, port = 0).start()
    try {
      val port = api.boundPort

      // embedded static favicon: 200 + image/x-icon + valid ICO magic
      val client = java.net.http.HttpClient.newHttpClient()
      val fav = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/favicon.ico")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(fav.statusCode() == 200)
      assert(fav.headers().firstValue("Content-Type").orElse("") == "image/x-icon")
      val ico = fav.body()
      assert(ico.length > 22 && ico(0) == 0 && ico(1) == 0 && ico(2) == 1 && ico(3) == 0)

      // labels POST: small body fine, >4096 bytes → 413 (ContentLengthLimit parity)
      val (cs, small) = post(port, "/api/v1/labels", "ignored=1")
      assert(cs == 200 && small.contains("\"__name__\""))
      val (cb, big) = post(port, "/api/v1/labels", "x=" + "a" * 5000)
      assert(cb == 413 && big.contains("payloadTooLarge"), s"$cb ${big.take(200)}")

      // error JSON shape: {"status": "error", "errorType": ..., "error": ...}
      val (ce, err) = get(port, "/api/v1/query_range?query=bogus%7B&start=0&end=1&step=1")
      assert(ce == 400)
      assert(err.contains("\"status\": \"error\""))
      assert(err.contains("\"errorType\": \"queryError\""))
      assert(err.contains("\"error\": "))
    } finally api.stop()
  }

  /** The `query_range` serializer before the one-pass rewrite (sort each
    * row's labels, group on the sorted pairs, interpolate, escape per
    * char), kept as the oracle the rewrite must match byte for byte. */
  private def referenceMatrix(rows: Array[Row]): String = {
    def fmt(d: Double): String =
      if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString else d.toString
    def jsonString(s: String): String =
      "\"" + Option(s).getOrElse("").flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val bySeries = rows.groupBy(r => r.getMap[String, String](0).toSeq.sorted)
    val series = bySeries.toSeq.sortBy(_._1.mkString(",")).map { case (labels, rs) =>
      val metric = labels.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ", ", "}")
      val values = rs.sortBy(_.getDouble(1))
        .map(r => s"[${fmt(r.getDouble(1))}, ${jsonString(fmt(r.getDouble(2)))}]")
        .mkString("[", ", ", "]")
      s"""{"metric": $metric, "values": $values}"""
    }
    series.mkString("[", ", ", "]")
  }

  test("query_range JSON: byte-identical to the reference serializer") {
    val odd = "q\"b\\s\nc\u0001e\uD83D\uDE00" // quote, backslash, newline, control, non-BMP
    val rows = Array(
      Row(Map("__name__" -> "m", "k" -> odd), 30.0, Double.NaN),
      Row(Map("k" -> odd, "__name__" -> "m"), 10.0, Double.PositiveInfinity),
      Row(Map("__name__" -> "m", "k" -> odd), 20.0, Double.NegativeInfinity),
      Row(Map("__name__" -> "m"), 5.0, -0.0),
      Row(Map("__name__" -> "m"), 1.0, 1e15),
      Row(Map("__name__" -> "m"), 3.0, 999999999999999.0),
      Row(Map("__name__" -> "m"), 2.0, 1e16),
      Row(Map("__name__" -> "m"), 4.0, -1e15),
      Row(Map("__name__" -> "m"), 6.0, 0.1),
      Row(Map("__name__" -> "m"), 1704067200.5, 42.0),
      Row(Map("a\"" -> "x\ty\r", "__name__" -> "m"), 1704067200.0, -7.0),
      Row(Map.empty[String, String], 7.0, 1.5),
      Row(Map.empty[String, String], -1.0, 2.5))
    val rnd = new scala.util.Random(7)
    for (order <- Seq(rows, rows.reverse) ++ Seq.fill(4)(rnd.shuffle(rows.toSeq).toArray)) {
      val got = PromApi.serializeMatrix(order)
      assert(got === referenceMatrix(order))
    }
    val got = PromApi.serializeMatrix(rows)
    assert(got.contains("\\u0001") && got.contains("\uD83D\uDE00") && got.contains("\"NaN\""), got)
    assert(PromApi.serializeMatrix(Array.empty) === "[]")
  }

  test("a response that runs no Spark job returns without a delayed-ACK stall") {
    val collection = { // scoped: functions.get would shadow this suite's HTTP get
      import org.apache.spark.sql.functions.{lit, map}
      import spark.implicits._
      Seq((1704067200.0, 1.0)).toDF("ts", "value")
        .select(map(lit("__name__"), lit("rtt")).as("labels"), $"ts", $"value").cache()
    }
    val api = PromApi(new PromEngine(collection), port = 0).start()
    try {
      // one keep-alive connection, as a dashboard client holds; the first
      // request fills the served engine's label list
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}/")).GET().build()
      assert(client.send(req, HttpResponse.BodyHandlers.ofString()).body() == "Got 1 time series")
      val ms = Seq.fill(11) {
        val t0 = System.nanoTime
        client.send(req, HttpResponse.BodyHandlers.ofString())
        (System.nanoTime - t0) / 1e6
      }.sorted
      assert(ms(5) < 20.0, ms.mkString(", "))
    } finally {
      api.stop()
      collection.unpersist()
    }
  }
}
