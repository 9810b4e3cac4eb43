package graft.server

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit

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
  * the API layer only collects the (grid-sized) query result.
  */
final class PromApi(engine: PromEngine, port: Int = 3003) {
  import PromApi.{fmt, jsonString, serializeMatrix}

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
      end <- params.get("end").toRight("missing 'end'").flatMap(TimeParse.parseTimestamp)
      step <- params.get("step").toRight("missing 'step'").flatMap(TimeParse.parseDuration)
    } yield (q, start, end, step)

    parsed match {
      case Left(err) => respondJson(exchange, 400, failure("queryError", err))
      case Right((q, start, end, step)) =>
        try {
          val df = engine.queryRange(q, start, end, step)
          val rows = df.collect()
          respondJson(exchange, 200, success(
            s"""{"resultType": "matrix", "result": ${serializeMatrix(rows)}}"""))
        } catch {
          case e: Exception => respondJson(exchange, 400, failure("queryError", e.getMessage))
        }
    }
  }

  /** Real instant query (extension beyond the reference's "1+1" quirk):
    * evaluate at `time` (default: the collection's max timestamp) and emit
    * the Prometheus `vector` wire shape. */
  private def handleInstantQuery(exchange: HttpExchange, params: Map[String, String]): Unit = {
    val parsed = for {
      q <- params.get("query").toRight("missing 'query'")
      t <- params.get("time").map(TimeParse.parseTimestamp)
        .getOrElse(Right(engine.maxTime))
    } yield (q, t)
    parsed match {
      case Left(err) => respondJson(exchange, 400, failure("queryError", err))
      case Right((q, t)) =>
        try {
          val rows = engine.queryInstant(q, t).collect()
          val series = rows.sortBy(_.getMap[String, String](0).toSeq.sorted.mkString(","))
            .map { r =>
              val metric = r.getMap[String, String](0).toSeq.sorted
                .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
                .mkString("{", ", ", "}")
              s"""{"metric": $metric, "value": [${fmt(r.getDouble(1))}, ${jsonString(fmt(r.getDouble(2)))}]}"""
            }
          respondJson(exchange, 200, success(
            s"""{"resultType": "vector", "result": ${series.mkString("[", ", ", "]")}}"""))
        } catch {
          case e: Exception => respondJson(exchange, 400, failure("queryError", e.getMessage))
        }
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
      // one filter ORing the selectors, so the series grouping dedups
      // series matched by more than one selector
      val selected = matchers.map { sel =>
        graft.promql.Parser.parse(sel) match {
          case graft.promql.VectorSel(ms, None, None) =>
            ms.map(graft.operators.Selector.predicate).foldLeft(lit(true))(_ && _)
          case _ => throw new IllegalArgumentException(s"not a plain selector: $sel")
        }
      }.reduce(_ || _)
      val sets = engine.seriesMatching(selected)
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
    * legitimate at a few KB but never megabytes). */
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
        URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
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

  /** The `query_range` result array: collected (labels, ts, value) rows
    * grouped into one `{"metric": {...}, "values": [[ts, "v"], ...]}` per
    * series, series ordered by their sorted label pairs and values by ts.
    * One pass into one buffer: rows group on their label map, and each
    * series sorts its labels once. */
  private[graft] def serializeMatrix(rows: Array[Row]): String = {
    val series = rows.groupBy(_.getMap[String, String](0)).toArray
      .map { case (labels, rs) =>
        val sorted = labels.toSeq.sorted
        (sorted.mkString(","), sorted, rs.sortBy(_.getDouble(1)))
      }
      .sortBy(_._1)
    val sb = new StringBuilder(64 + rows.length * 32)
    sb.append('[')
    for (((_, labels, rs), i) <- series.iterator.zipWithIndex) {
      if (i > 0) sb.append(", ")
      sb.append("{\"metric\": {")
      for (((k, v), j) <- labels.iterator.zipWithIndex) {
        if (j > 0) sb.append(", ")
        appendString(sb, k)
        sb.append(": ")
        appendString(sb, v)
      }
      sb.append("}, \"values\": [")
      for ((r, j) <- rs.iterator.zipWithIndex) {
        if (j > 0) sb.append(", ")
        sb.append('[').append(fmt(r.getDouble(1))).append(", \"")
          .append(fmt(r.getDouble(2))).append("\"]")
      }
      sb.append("]}")
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
