package graft.server

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow

import graft.PromEngine
import graft.functions.TimeParse

/** Prometheus-compatible HTTP API over a [[PromEngine]] (reference
  * main.rs:227-424): `/api/v1/query_range` (GET+POST), `/api/v1/query`
  * (POST), `/api/v1/labels` (GET+POST), `/api/v1/label/:name/values`.
  * Wire shapes follow the reference's serializers: matrix results as
  * `{"metric": {...}, "values": [[ts, "v"], ...]}` with the query-time
  * offset added back to the timestamps (timeseries.rs:227-249).
  *
  * Uses the JDK's built-in HttpServer — the engine is the Spark pipeline;
  * the API layer only reads the (grid-sized) query result, one internal
  * row per series ([[PromEngine.rangeRows]], [[PromEngine.instantRows]];
  * a served plain panel's straight from the fold's heap rows), and writes
  * each series' `values` straight from its points array, as the reference
  * writes a series from its value vector. A `query_range` grid must be
  * finite and hold at most [[PromApi.MaxPoints]] points per series; a
  * request that breaks that is refused before anything is evaluated.
  */
final class PromApi(engine: PromEngine, port: Int = 3003) {
  import PromApi.{jsonString, writeResult}

  private val server = PromApi.bind(port)

  def boundPort: Int = server.getAddress.getPort

  def start(): PromApi = {
    server.createContext("/", exchange => safely(exchange) {
      respond(exchange, 200, s"Got ${engine.seriesLabels().length} time series")
    })
    server.createContext("/favicon.ico", exchange => safely(exchange) {
      // static embedded icon (reference main.rs:104,235,255-257): 200 +
      // image/x-icon. The bytes are generated, not shipped — a valid 16×16
      // 32bpp ICO with a flat accent fill.
      exchange.getResponseHeaders.set("Content-Type", "image/x-icon")
      exchange.sendResponseHeaders(200, PromApi.Favicon.length)
      val os = exchange.getResponseBody
      os.write(PromApi.Favicon)
      os.close()
    })
    server.createContext("/api/v1/labels", exchange => safely(exchange) {
      // POST bodies are ignored but capped at 4096 bytes like the
      // reference's ContentLengthLimit extractor (main.rs:349) → 413
      if (exchange.getRequestMethod == "POST" && bodyTooLarge(exchange)) {
        // The body was only read up to limit+1 bytes; on a keep-alive
        // connection the JDK server would otherwise try to reuse the stream
        // with the unread remainder still in flight. Force a close.
        exchange.getResponseHeaders.set("Connection", "close")
        respondJson(exchange, 413, failure("payloadTooLarge", "body exceeds 4096 bytes"))
      }
      else
        respondJson(exchange, 200, success(jsonArray(engine.allLabels().map(jsonString))))
    })
    server.createContext("/api/v1/query_range", exchange => safely(exchange) {
      val params = parseParams(exchange)
      handleQueryRange(exchange, params)
    })
    server.createContext("/api/v1/query", exchange => safely(exchange) {
      val params = parseParams(exchange)
      // reference parity first: it special-cases "1+1" (main.rs:399-405)
      if (params.get("query").contains("1+1"))
        respondJson(exchange, 200, success(s"""{"resultType": "matrix", "result": 2.0}"""))
      else handleInstantQuery(exchange, params)
    })
    server.createContext("/api/v1/series", exchange => safely(exchange) {
      handleSeries(exchange, parseParamList(exchange))
    })
    server.createContext("/api/v1/label/", exchange => safely(exchange) {
      val path = exchange.getRequestURI.getPath
      path.split("/").filter(_.nonEmpty) match {
        case Array("api", "v1", "label", name, "values") =>
          respondJson(exchange, 200,
            success(jsonArray(engine.labelValues(name).map(jsonString))))
        case _ => respondJson(exchange, 400, failure("badPath", path))
      }
    })
    server.setExecutor(null)
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  private def handleQueryRange(exchange: HttpExchange, params: Map[String, String]): Unit = {
    val parsed = for {
      q <- params.get("query").toRight("missing 'query'")
      start <- params.get("start").toRight("missing 'start'").flatMap(TimeParse.parseTimestamp)
        .flatMap(finite("start"))
      end <- params.get("end").toRight("missing 'end'").flatMap(TimeParse.parseTimestamp)
        .flatMap(finite("end"))
      step <- params.get("step").toRight("missing 'step'").flatMap(TimeParse.parseDuration)
        .flatMap(finite("step"))
      _ <- PromApi.checkResolution(start, end, step)
    } yield (q, start, end, step)

    parsed match {
      case Left(err) => respondJson(exchange, 400, failure("queryError", err))
      case Right((q, start, end, step)) =>
        respondResult(exchange, vector = false, engine.rangeRows(q, start, end, step))
    }
  }

  /** Answer with `rows` (one row per series) as the `result` vector or
    * matrix; an evaluation error is a 400. */
  private def respondResult(exchange: HttpExchange, vector: Boolean, rows: => Array[InternalRow]): Unit =
    try {
      val result = writeResult(rows, vector)
      val resultType = if (vector) "vector" else "matrix"
      respondJson(exchange, 200, success(s"""{"resultType": "$resultType", "result": $result}"""))
    } catch {
      case e: Exception => respondJson(exchange, 400, failure("queryError", e.getMessage))
    }

  private def finite(name: String)(t: Double): Either[String, Double] =
    if (t.isFinite) Right(t) else Left(s"invalid parameter '$name': $t is not a finite number")

  /** Real instant query (extension beyond the reference's "1+1" quirk):
    * evaluate at `time` (default: the collection's max timestamp, moved
    * into the query time frame) and emit the Prometheus `vector` wire
    * shape. */
  private def handleInstantQuery(exchange: HttpExchange, params: Map[String, String]): Unit = {
    val parsed = for {
      q <- params.get("query").toRight("missing 'query'")
      t <- params.get("time").map(TimeParse.parseTimestamp)
        .getOrElse(Right(engine.maxTime + engine.queryTimeOffset.getOrElse(0.0))).flatMap(finite("time"))
    } yield (q, t)
    parsed match {
      case Left(err) => respondJson(exchange, 400, failure("queryError", err))
      case Right((q, t)) => respondResult(exchange, vector = true, engine.instantRows(q, t))
    }
  }

  /** `/api/v1/series?match[]=<selector>...`: distinct label sets of the
    * series matched by any selector (Prometheus metadata endpoint; extension
    * — the reference does not serve it). */
  private def handleSeries(exchange: HttpExchange, params: Seq[(String, String)]): Unit = {
    val matchers = params.collect { case (k, v) if k == "match[]" || k.startsWith("match") => v }
    if (matchers.isEmpty) {
      respondJson(exchange, 400, failure("queryError", "missing 'match[]'"))
      return
    }
    try {
      // one condition ORing the selectors, so a series matched by more
      // than one selector is listed once
      val selectors = matchers.map { sel =>
        graft.promql.Parser.parse(sel) match {
          case graft.promql.VectorSel(ms, None, None) => ms
          case _ => throw new IllegalArgumentException(s"not a plain selector: $sel")
        }
      }
      val sets = engine.seriesMatching(graft.operators.Selector.anyOf(selectors))
        .map(_.toSeq.sorted).sortBy(_.mkString(",")).map { labels =>
          labels.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
            .mkString("{", ", ", "}")
        }
      respondJson(exchange, 200, success(sets.mkString("[", ", ", "]")))
    } catch {
      case e: Exception => respondJson(exchange, 400, failure("queryError", e.getMessage))
    }
  }

  /** Reads (and discards) the request body, reporting whether it exceeds the
    * reference's 4096-byte POST cap (main.rs:349). Bounded read — a larger
    * body is never buffered past the limit. */
  private def bodyTooLarge(exchange: HttpExchange, limit: Int = 4096): Boolean = {
    val in = exchange.getRequestBody
    val buf = new Array[Byte](limit + 1)
    var total = 0
    var n = in.read(buf, total, buf.length - total)
    while (n > 0 && total <= limit) {
      total += n
      n = in.read(buf, total, math.max(buf.length - total, 0))
    }
    total > limit
  }

  /** All (key, value) pairs — repeated keys (e.g. `match[]`) preserved.
    * Bodies are bounded (1 MiB robustness cap — the reference's explicit
    * 4096-byte cap applies only to the labels endpoint; query bodies are
    * legitimate at a few KB but never megabytes). A malformed
    * percent-encoding is the client's error: [[PromApi.BadRequest]]. */
  private def parseParamList(exchange: HttpExchange): Seq[(String, String)] = {
    val maxBody = 1 << 20
    val fromQuery = Option(exchange.getRequestURI.getRawQuery).getOrElse("")
    val fromBody =
      if (exchange.getRequestMethod == "POST") {
        val bytes = exchange.getRequestBody.readNBytes(maxBody + 1)
        if (bytes.length > maxBody)
          throw new PromApi.PayloadTooLarge(maxBody)
        new String(bytes, StandardCharsets.UTF_8)
      }
      else ""
    (fromQuery + "&" + fromBody).split("&").filter(_.contains("=")).toSeq
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        try URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
        catch { case e: IllegalArgumentException => throw new PromApi.BadRequest(e.getMessage) }
      }
  }

  private def parseParams(exchange: HttpExchange): Map[String, String] =
    parseParamList(exchange).toMap

  private def success(dataJson: String): String =
    s"""{"status": "success", "data": $dataJson}"""
  private def failure(errorType: String, error: String): String =
    s"""{"status": "error", "errorType": ${jsonString(errorType)}, "error": ${jsonString(error)}}"""
  private def jsonArray(items: Seq[String]): String = items.mkString("[", ", ", "]")

  private def safely(exchange: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case e: PromApi.BadRequest =>
        try respondJson(exchange, 400, failure("queryError", e.getMessage))
        catch { case _: Exception => () }
      case e: PromApi.PayloadTooLarge =>
        try {
          exchange.getResponseHeaders.set("Connection", "close") // unread body remainder
          respondJson(exchange, 413, failure("payloadTooLarge", e.getMessage))
        } catch { case _: Exception => () }
      case e: Exception =>
        try respondJson(exchange, 500, failure("internal", e.toString))
        catch { case _: Exception => () }
    } finally exchange.close()

  private def respondJson(exchange: HttpExchange, code: Int, body: String): Unit = {
    exchange.getResponseHeaders.set("Content-Type", "application/json")
    respond(exchange, code, body)
  }

  private def respond(exchange: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.sendResponseHeaders(code, bytes.length)
    val os: OutputStream = exchange.getResponseBody
    os.write(bytes)
    os.close()
  }
}

object PromApi {
  // The JDK HttpServer writes a response's headers and body separately;
  // with Nagle's algorithm on, the body waits for the client's delayed
  // ACK of the headers (about 40 ms) on every small response. The server
  // reads this property once per JVM, when the first HttpServer is
  // created, so it is set here, before [[bind]] creates one.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Bind on an ephemeral port with port=0. */
  def apply(engine: PromEngine, port: Int = 3003): PromApi = new PromApi(engine, port)

  private def bind(port: Int): HttpServer = HttpServer.create(new InetSocketAddress(port), 0)

  /** Prometheus's fixed limit on the points of one series in a
    * `query_range` answer. */
  val MaxPoints = 11000

  /** Left(error) when `start`, `end` and `step` make a grid of more than
    * [[MaxPoints]] points per series; counted in doubles, without building
    * the grid. A grid that is not one at all (`end <= start`, `step <= 0`)
    * is left to the evaluator's own error. */
  private def checkResolution(start: Double, end: Double, step: Double): Either[String, Unit] =
    if (step > 0 && end > start && math.floor((end - start + step) / step) > MaxPoints)
      Left(s"exceeded maximum resolution of $MaxPoints points per timeseries. " +
        "Try decreasing the query resolution (?step=XX)")
    else Right(())

  /** One series, or one collected row's share of it: its label pairs,
    * sorted, and its points. */
  private final case class Part(labels: Seq[(String, String)], ts: Array[Double], values: Array[Double])

  /** A series row (labels, points: array<struct<ts, value: double>>). */
  private def part(row: InternalRow): Part = {
    val labels = graft.Model.labelPairs(row.getMap(0))
    val points = if (row.isNullAt(1)) null else row.getArray(1)
    val n = if (points == null) 0 else points.numElements()
    val ts = new Array[Double](n)
    val values = new Array[Double](n)
    for (i <- 0 until n) {
      val p = points.getStruct(i, 2)
      ts(i) = p.getDouble(0)
      values(i) = p.getDouble(1)
    }
    Part(labels.sorted.toSeq, ts, values)
  }

  /** The `result` array of a `query_range` (matrix) or `query` (vector)
    * answer, from series rows ([[PromEngine.rangeRows]]). */
  private[graft] def writeResult(rows: Array[InternalRow], vector: Boolean): String =
    write(rows.map(part), vector)

  /** The `query_range` result array of collected long (labels, ts, value)
    * rows: each row a one-point series, through the same writer. */
  private[graft] def serializeMatrix(rows: Array[Row]): String =
    write(rows.map(r => Part(r.getMap[String, String](0).toSeq.sorted,
      Array(r.getDouble(1)), Array(r.getDouble(2)))), vector = false)

  /** The one writer. Parts with the same labels are one series; series
    * order by their sorted label pairs, and points by ts (a stable sort,
    * skipped when they are in order already, as a kernel emits them). A
    * matrix series is `{"metric": {...}, "values": [[ts, "v"], ...]}`; a
    * vector holds one `{"metric": {...}, "value": [ts, "v"]}` per point.
    * A series with no point is left out, as the long form has no row for
    * it. One pass into one buffer. */
  private def write(parts: Array[Part], vector: Boolean): String = {
    val series = parts.groupBy(_.labels).iterator
      .map { case (labels, ps) =>
        val (ts, values) = (ps.flatMap(_.ts), ps.flatMap(_.values))
        if ((1 until ts.length).forall(i => java.lang.Double.compare(ts(i - 1), ts(i)) <= 0))
          Part(labels, ts, values)
        else {
          val order = ts.indices.sortBy(ts(_))
          Part(labels, order.map(ts(_)).toArray, order.map(values(_)).toArray)
        }
      }
      .filter(_.ts.nonEmpty).toArray
      .sortBy(_.labels.mkString(","))
    val sb = new StringBuilder(64 + parts.length * 32)
    def metric(labels: Seq[(String, String)]): Unit = {
      sb.append("{\"metric\": {")
      for (((k, v), j) <- labels.iterator.zipWithIndex) {
        if (j > 0) sb.append(", ")
        appendString(sb, k)
        sb.append(": ")
        appendString(sb, v)
      }
      sb.append("}, ")
    }
    def point(s: Part, i: Int): Unit =
      sb.append('[').append(fmt(s.ts(i))).append(", \"").append(fmt(s.values(i))).append("\"]")
    sb.append('[')
    for ((s, j) <- series.iterator.zipWithIndex) {
      if (vector)
        for (i <- s.ts.indices) {
          if (j > 0 || i > 0) sb.append(", ")
          metric(s.labels)
          sb.append("\"value\": ")
          point(s, i)
          sb.append('}')
        }
      else {
        if (j > 0) sb.append(", ")
        metric(s.labels)
        sb.append("\"values\": [")
        for (i <- s.ts.indices) {
          if (i > 0) sb.append(", ")
          point(s, i)
        }
        sb.append("]}")
      }
    }
    sb.append(']').toString
  }

  /** A sample's wire form: integral values below 1e15 without a fraction. */
  private def fmt(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private def jsonString(s: String): String = {
    val sb = new StringBuilder
    appendString(sb, s)
    sb.toString
  }

  /** Append `s` as a JSON string literal (null as `""`). */
  private def appendString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    if (s != null) {
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
    }
    sb.append('"')
  }

  final class PayloadTooLarge(limit: Int)
    extends RuntimeException(s"request body exceeds $limit bytes")

  /** A request the server cannot read (a malformed percent-encoding): 400. */
  final class BadRequest(msg: String) extends RuntimeException(msg)

  /** A valid 16×16 32bpp ICO, generated (NOT copied from the reference's
    * embedded asset — only the route behavior is parity: 200 + image/x-icon,
    * main.rs:104,255-257). ICONDIR + ICONDIRENTRY + BITMAPINFOHEADER +
    * BGRA pixels + AND mask. */
  lazy val Favicon: Array[Byte] = {
    val w = 16
    val bmpSize = 40 + w * w * 4 + w * 4 // header + XOR (BGRA) + AND mask
    val buf = java.nio.ByteBuffer.allocate(6 + 16 + bmpSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putShort(0).putShort(1).putShort(1)                  // ICONDIR: icon, 1 image
    buf.put(w.toByte).put(w.toByte).put(0.toByte).put(0.toByte) // 16x16, no palette
    buf.putShort(1).putShort(32).putInt(bmpSize).putInt(6 + 16) // planes, bpp, size, offset
    buf.putInt(40).putInt(w).putInt(w * 2)                   // BITMAPINFOHEADER, doubled height
    buf.putShort(1).putShort(32).putInt(0).putInt(w * w * 4).putInt(0).putInt(0).putInt(0).putInt(0)
    for (y <- 0 until w; x <- 0 until w) {                   // bottom-up BGRA: simple "G" block motif
      val on = x >= 2 && x < 14 && y >= 2 && y < 14 && !(x >= 8 && x < 11 && y >= 6 && y < 9)
      if (on) buf.put(0x5c.toByte).put(0x3c.toByte).put(0xc8.toByte).put(0xff.toByte)
      else buf.putInt(0)
    }
    for (_ <- 0 until w) buf.putInt(0)                       // AND mask: fully opaque rows
    buf.array()
  }
}
