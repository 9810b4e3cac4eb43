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

  test("query_range refuses a non-finite or over-11,000-point grid before evaluating") {
    val engine = new PromEngine(queries.TsQueries.events(spark, "/root/testdata/sf0.001"))
    val api = PromApi(engine, port = 0).start()
    try {
      val q = java.net.URLEncoder.encode("""rate(events{event_type="purchase"}[5m])""", "UTF-8")
      for ((grid, why) <- Seq(
             "start=Infinity&end=1704070800&step=60" -> "not a finite number",
             "start=1704067200&end=NaN&step=60" -> "not a finite number",
             "start=1704067200&end=1e300&step=60" -> "maximum resolution of 11000 points",
             "start=-Infinity&end=Infinity&step=1" -> "not a finite number",
             "start=1704067200&end=1704067200.5&step=1e-300" -> "maximum resolution",
             "start=0&end=11000&step=1" -> "maximum resolution")) {
        val ((code, body), jobs) = {
          val r = Harness.run(spark)(get(api.boundPort, s"/api/v1/query_range?query=$q&$grid"))
          (r.value, r.jobs)
        }
        assert(code == 400 && body.contains("\"errorType\": \"queryError\"") && body.contains(why),
          s"$grid: $code ${body.take(300)}")
        assert(jobs === 0, grid)
      }
      // 11,000 points is the limit itself: answered
      val nope = java.net.URLEncoder.encode("""events{event_type="nope"}""", "UTF-8")
      val (ok, body) = get(api.boundPort, s"/api/v1/query_range?query=$nope&start=0&end=10999&step=1")
      assert(ok == 200 && body.contains("\"result\": []"), body.take(300))
    } finally api.stop()
  }

  test("a malformed percent-encoding is a 400 queryError, not a 500") {
    val engine = new PromEngine(queries.TsQueries.events(spark, "/root/testdata/sf0.001"))
    val api = PromApi(engine, port = 0).start()
    try {
      // form bodies: a client's URI parser refuses these in a query string
      for ((path, form) <- Seq("/api/v1/query_range" -> "query=%zz&start=0&end=1&step=1",
                               "/api/v1/query" -> "query=ok&time=%", "/api/v1/query" -> "query=%G1",
                               "/api/v1/series" -> "match%5B%5D=%e")) {
        val (code, body) = post(api.boundPort, path, form)
        assert(code == 400 && body.contains("\"errorType\": \"queryError\""), s"$form: $code ${body.take(300)}")
      }
    } finally api.stop()
  }

  /** The `query` vector body before the one-writer rewrite: long rows
    * ordered by their sorted label pairs, one entry per row. */
  private def referenceVector(rows: Array[Row]): String = {
    def fmt(d: Double): String =
      if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString else d.toString
    def str(s: String): String = {
      val sb = new StringBuilder
      sb.append('"')
      for (c <- Option(s).getOrElse("")) c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
    rows.sortBy(_.getMap[String, String](0).toSeq.sorted.mkString(",")).map { r =>
      val metric = r.getMap[String, String](0).toSeq.sorted
        .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
      s"""{"metric": $metric, "value": [${fmt(r.getDouble(1))}, ${str(fmt(r.getDouble(2)))}]}"""
    }.mkString("[", ", ", "]")
  }

  test("served engine: HTTP bodies equal the long path byte for byte") {
    val cached = queries.TsQueries.events(spark, "/root/testdata/sf0.001").cache()
    cached.count()
    val served = new PromEngine(cached)
    val shifted = served.withStartTime(1800000000.0)
    assert(served.served && shifted.served)
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val sel = """events{event_type="purchase"}"""
    val start = 1704067200.0 + 86400.0
    val end = start + 6 * 3600.0
    val apis = Seq(served, shifted).map(e => e -> PromApi(e, port = 0).start())
    try {
      def body(kind: String, result: String) =
        s"""{"status": "success", "data": {"resultType": "$kind", "result": $result}}"""
      def range(e: PromEngine, api: PromApi, q: String, s: Double, t: Double, step: Double): String = {
        val (code, got) = get(api.boundPort,
          s"/api/v1/query_range?query=${enc(q)}&start=$s&end=$t&step=$step")
        assert(code == 200, s"$q: ${got.take(300)}")
        assert(got === body("matrix", PromApi.serializeMatrix(e.queryRange(q, s, t, step).collect())), q)
        assert(!got.contains("\"values\": []"), q)
        got
      }
      val (e0, api0) = apis.head
      val panels = Seq(s"rate($sel[5m])", sel, s"sum by (event_type) (rate($sel[5m]))", s"irate($sel[5m])",
        s"avg_over_time($sel[1h])", s"increase($sel[1h])", s"topk(3, rate($sel[1h]))",
        s"rate($sel[1h] offset 2h)", s"count_over_time($sel[1h])", "time()", """events{event_type="nope"}""")
      for (q <- panels) range(e0, api0, q, start, end, 300.0)
      assert(range(e0, api0, "time()", start, end, 300.0).contains("\"metric\": {}"))
      assert(range(e0, api0, """events{event_type="nope"}""", start, end, 300.0).contains("\"result\": []"))
      // count_over_time evaluates to a long; the wire value is a double
      assert(e0.rangeSeries(s"count_over_time($sel[1h])", start, end, 300.0).schema.simpleString
        .contains("value:double"))
      // before the data every selected series' kernel emits no point: the
      // series rows are there with empty points, the answer holds none
      val early = s"max_over_time($sel[1m])"
      val empty = e0.rangeSeries(early, 1600000000.0, 1600003600.0, 300.0).collect()
      assert(empty.nonEmpty && empty.forall(_.getSeq[Row](1).isEmpty))
      assert(range(e0, api0, early, 1600000000.0, 1600003600.0, 300.0).contains("\"result\": []"))
      // query-time shift: the grid moves back by the offset, the answer forward
      val (e1, api1) = apis(1)
      val off = e1.queryTimeOffset.get
      for (q <- Seq(sel, s"rate($sel[5m])", s"count_over_time($sel[1h])", s"sum by (event_type) (rate($sel[5m]))"))
        assert(range(e1, api1, q, start + off, end + off, 300.0).contains("\"values\": [["), q)
      for ((e, api) <- apis; q <- Seq(s"rate($sel[5m])", s"increase($sel[1h])", s"count_over_time($sel[1d])")) {
        val t = start + 3 * 3600.0 + 60.0 + e.queryTimeOffset.getOrElse(0.0)
        val (code, got) = get(api.boundPort, s"/api/v1/query?query=${enc(q)}&time=$t")
        assert(code == 200 && got.contains("\"value\": ["), s"$q: ${got.take(300)}")
        assert(got === body("vector", referenceVector(e.queryInstant(q, t).collect())), q)
      }
    } finally {
      apis.foreach(_._2.stop())
      cached.unpersist(blocking = true)
    }
  }
}
