package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.PromEngine
import graft.queries.TsQueries
import graft.server.PromApi

/** One benchmark run inside one JVM: set up graft the way `graft.Serve`
  * does (repeated, to report a median set-up time), warm up, check
  * outputs, then drive the workload's closed loop for the timed window. With
  * tracing on, a second window runs with Spark listeners attached and the
  * same requests are replayed by one client and by direct engine calls, so
  * the latency splits into server wait, server self time and engine time.
  *
  * Usage: ServeBench <workload> <work dir> <seconds> <trace 0|1>
  * The work dir holds data/, check/ and requests.json (see gen.py); the
  * run's measurements go to <work dir>/result.json.
  */
object ServeBench {
  val Setups = 3
  val mapper = new ObjectMapper()
  /** Time zero of the run; ops record their completion time from here. */
  val Origin: Long = System.nanoTime

  /** One completed operation of a closed loop. */
  final case class Op(cls: String, kind: String, client: Int, index: Int,
                      ms: Double, ok: Boolean, bytes: Long = 0L, jobs: Long = 0L,
                      parts: Map[String, Double] = Map.empty, endNs: Long = System.nanoTime) {
    def json(origin: Long): Map[String, Any] = Map("cls" -> cls, "kind" -> kind, "client" -> client,
      "index" -> index, "ms" -> ms, "ok" -> ok, "bytes" -> bytes, "jobs" -> jobs, "parts" -> parts,
      "end_s" -> (endNs - origin) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, trace) = args
    val reqs = mapper.readTree(new File(s"$work/requests.json"))
    val bench: Workload = workload match {
      case "dashboard" | "analyst" => new HttpWorkload(workload, work, reqs)
      case "store_churn" => new ChurnWorkload(work, reqs)
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    def put(k: String, v: Any): Unit = out.put(k, v)
    put("workload", workload)

    val phases = new java.util.LinkedHashMap[String, Any]()
    var mark = System.nanoTime
    def phase(name: String): Unit = {
      val now = System.nanoTime
      phases.put(name, (now - mark) / 1e9)
      mark = now
    }
    val setups = (0 until Setups).map { i =>
      if (i > 0) bench.teardown()
      bench.setup(i)
    }
    put("setups", setups)
    bench.account()
    put("env", Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> bench.spark.version))
    put("space", bench.space())
    phase("setup")
    bench.warmup()
    phase("warmup")
    put("checks", bench.check())
    phase("check")
    put("window", bench.window(seconds.toDouble, None))
    phase("window")
    if (trace == "1") {
      val probe = new SparkProbe(bench.spark).attach()
      put("traced", bench.tracedWindow(seconds.toDouble, probe))
      probe.detach()
      phase("traced")
    }
    put("final_checks", bench.finalCheck())
    put("space_end", bench.space())
    phase("final_check")
    bench.teardown()
    phase("teardown")
    put("phases_s", phases)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(s"$work/result.json"), toJava(out))
  }

  def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] => toJava(m.asScala.toMap)
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Op => toJava(o.json(Origin))
    case other => other
  }

  // ------------------------------------------------------------- helpers

  /** The SparkSession `graft.Serve` builds: `local[*]` (= nproc),
    * 32 shuffle partitions, UTC. Scratch and warehouse dirs stay under
    * the run's work dir. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Bytes of the in-memory column batches a cached frame holds. */
  def cachedBytes(df: DataFrame): Long = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder.sizeInBytesStats.value.longValue).getOrElse(0L)
  }

  /** User bytes of a samples frame: 8 + 8 for (ts, value) plus the UTF-8
    * bytes of every label name and value. */
  def sampleBytes(samples: DataFrame): Long =
    samples.agg(sum(rowBytes)).head().getLong(0)

  /** [[sampleBytes]] per value of `key` (an int column). */
  def sampleBytesBy(samples: DataFrame, key: Column): Map[Int, Long] =
    samples.groupBy(key).agg(sum(rowBytes)).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def rowBytes: Column = lit(16L) + expr(
    "aggregate(map_entries(labels), 0L, (a, e) -> a + octet_length(e.key) + octet_length(e.value))")

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, ms(t0, System.nanoTime))
  }

  /** Closed loop: each client sends its next request only after the
    * previous one completes. The clients take the requests of one sequence
    * in turn, as each becomes free: `send(client, i)` sends the sequence's
    * i-th. Clients send until `seconds` after the start; requests in flight
    * then complete and count. Returns the ops and the window's wall time. */
  def closedLoop(clients: Int, seconds: Double)(send: (Int, Int) => Op): (Seq[Op], Double) = {
    val ops = Array.fill(clients)(ArrayBuffer.empty[Op])
    val next = new java.util.concurrent.atomic.AtomicInteger
    val open = System.nanoTime
    val span = (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (System.nanoTime < open + span) ops(c) += send(c, next.getAndIncrement())
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (ops.toSeq.flatten, (System.nanoTime - open) / 1e9)
  }

  def windowJson(ops: Seq[Op], wallS: Double): Map[String, Any] =
    Map("wall_s" -> wallS, "ops" -> ops)

  /** (labels, ts, value) triples, order-free, for value-for-value checks. */
  type Triple = (String, Double, Double)

  def labelString(m: scala.collection.Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  def triples(rows: Array[Row]): Seq[Triple] =
    rows.toSeq.map(r => (labelString(r.getMap[String, String](0)), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))

  def sameTriples(a: Seq[Triple], b: Seq[Triple], relTol: Double = 0.0): Boolean =
    a.length == b.length && a.zip(b).forall { case ((la, ta, va), (lb, tb, vb)) =>
      la == lb && ta == tb && (va == vb || (va.isNaN && vb.isNaN) ||
        math.abs(va - vb) <= relTol * math.max(math.abs(va), math.abs(vb)))
    }
}

/** What the harness needs from a workload. */
trait Workload {
  def spark: SparkSession
  def setup(index: Int): Map[String, Double]
  def teardown(): Unit
  /** Counts the user bytes of the inputs, once, after the last set-up. */
  def account(): Unit
  /** Bytes graft holds for the workload and the user bytes they hold. */
  def space(): Map[String, Long]
  def check(): Map[String, Any]
  def warmup(): Unit
  def window(seconds: Double, probe: Option[SparkProbe]): Map[String, Any]
  def tracedWindow(seconds: Double, probe: SparkProbe): Map[String, Any]
  def finalCheck(): Map[String, Any]
}

/** `dashboard` and `analyst`: HTTP clients against PromApi over the cached
  * collection (analyst adds the bucket-histogram series). */
final class HttpWorkload(name: String, work: String, reqs: JsonNode) extends Workload {
  import ServeBench._

  var spark: SparkSession = _
  private var engine: PromEngine = _
  private var api: PromApi = _
  private var cacheBytes, userBytes = 0L

  private val requests: IndexedSeq[JsonNode] = reqs.get("requests").asScala.toIndexedSeq
  private val clients = reqs.get("clients").asInt
  private val warm: IndexedSeq[JsonNode] = reqs.get("warmup").asScala.toIndexedSeq
  private val warmupS = reqs.get("warmup_s").asDouble
  private var warmBody: Option[Array[Byte]] = None

  def setup(index: Int): Map[String, Double] = {
    val t0 = System.nanoTime
    spark = session(work)
    val t1 = System.nanoTime
    val events = TsQueries.events(spark, s"$work/data")
    val coll = if (name == "analyst")
      events.unionByName(TsQueries.histCollection(spark, s"$work/data")) else events
    val cached = coll.cache()
    cached.count()
    val t2 = System.nanoTime
    engine = new PromEngine(cached)
    api = new PromApi(engine, 0).start()
    val t3 = System.nanoTime
    cacheBytes = cachedBytes(cached)
    Map("session_ms" -> ms(t0, t1), "ingest_ms" -> ms(t1, t2), "store_build_ms" -> 0.0,
      "server_start_ms" -> ms(t2, t3), "total_s" -> (t3 - t0) / 1e9)
  }

  def teardown(): Unit = { api.stop(); stopSession(spark) }

  def account(): Unit = userBytes = sampleBytes(engine.collection)

  def space(): Map[String, Long] =
    Map("cache_bytes" -> cacheBytes, "store_bytes" -> 0L, "user_bytes" -> userBytes)

  private lazy val http: ThreadLocal[HttpClient] = ThreadLocal.withInitial(() =>
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

  private def get(url: String): (Int, Array[Byte]) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}$url")).GET().build()
    val resp = http.get.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode, resp.body)
  }

  private def success(code: Int, body: Array[Byte]): Boolean = code == 200 && {
    val head = new String(body, 0, math.min(body.length, 64), StandardCharsets.UTF_8)
    head.matches("""(?s)\{\s*"status"\s*:\s*"success".*""")
  }

  private def send(client: Int, index: Int, r: JsonNode, keep: Array[Byte] => Unit = _ => ()): Op = {
    val t0 = System.nanoTime
    val (ok, n) =
      try {
        val (code, body) = get(r.get("url").asText)
        if (success(code, body)) keep(body)
        (success(code, body), body.length.toLong)
      } catch { case _: Exception => (false, 0L) }
    Op("read", r.get("kind").asText, client, index, ms(t0, System.nanoTime), ok, n)
  }

  /** The sequence's i-th request; a run that exhausts it wraps round. */
  private def request(i: Int): JsonNode = requests(i % requests.length)

  private def loop(seconds: Double): (Seq[Op], Double) =
    closedLoop(clients, seconds)((c, i) => send(c, i, request(i)))

  /** An HTTP result against a direct `PromEngine.queryRange` call, value
    * for value, on a seeded sample (the warm-up's first request); and
    * the run's gate-grid probe, written out for the DuckDB oracle
    * (`SparkEntry.queries`/`oracleSql` are unions of these TsQueries maps). */
  def check(): Map[String, Any] = {
    val viaHttp = warmBody.map(b => httpTriples(mapper.readTree(b)))
    val direct = triples(directFrame(warm(0)).collect())
    val mismatches =
      if (viaHttp.exists(sameTriples(_, direct))) Nil
      else Seq(s"${warm(0).get("url").asText}: http ${viaHttp.map(_.length)} rows vs direct ${direct.length}")
    val gates = reqs.get("gates").asScala.map(_.asText).toSeq.map { g =>
      val path = s"$work/gates/$g"
      TsQueries.queries(g)(spark, s"$work/check").write.mode("overwrite").parquet(path)
      Map("name" -> g, "path" -> path, "sql" -> TsQueries.oracles(g))
    }
    Map("compared" -> 1, "mismatches" -> mismatches, "gates" -> gates)
  }

  def finalCheck(): Map[String, Any] = Map("compared" -> 0, "mismatches" -> Seq.empty[String])

  private def directFrame(r: JsonNode): DataFrame = r.get("kind").asText match {
    case "range" => engine.queryRange(r.get("query").asText, r.get("start").asDouble,
      r.get("end").asDouble, r.get("step").asDouble)
    case "instant" => engine.queryInstant(r.get("query").asText, r.get("time").asDouble)
  }

  private def httpTriples(resp: JsonNode): Seq[Triple] = {
    val data = resp.get("data")
    val out = data.get("result").asScala.toSeq.flatMap { s =>
      val labels = labelString(s.get("metric").properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      val points = if (data.get("resultType").asText == "matrix") s.get("values").asScala.toSeq
        else Seq(s.get("value"))
      points.map(p => (labels, p.get(0).asDouble, p.get(1).asText.toDouble))
    }
    out.sortBy(t => (t._1, t._2))
  }

  /** Warm-up outside the timed window: the workload's own closed loop for
    * `warmup_s` seconds, on a separate seeded sequence. The body of its
    * first request is kept for [[check]]. */
  def warmup(): Unit =
    closedLoop(clients, warmupS)((c, i) =>
      send(c, i, warm(i % warm.length), keep = b => if (i == 0) warmBody = Some(b)))

  def window(seconds: Double, probe: Option[SparkProbe]): Map[String, Any] =
    (windowJson _).tupled(loop(seconds))

  /** The traced window, then two replays of exactly the requests it
    * completed: one HTTP client (no queueing behind other clients) and
    * direct engine calls (no HTTP, no JSON). */
  def tracedWindow(seconds: Double, probe: SparkProbe): Map[String, Any] = {
    val before = probe.snapshot()
    val (ops, wall) = loop(seconds)
    val spark0 = SparkProbe.delta(probe.snapshot(), before)
    val replayed = ops.map(o => (o, request(o.index)))
    val oneClient = replayed.map { case (o, r) => send(o.client, o.index, r) }
    val direct = replayed.filter(_._2.get("kind").asText != "meta").map { case (o, r) =>
      val (_, parse) = timed(graft.promql.Parser.parse(r.get("query").asText))
      val jobs0 = probe.snapshot()("jobs")
      val (df, build) = timed(directFrame(r))
      val buildJobs = probe.snapshot()("jobs") - jobs0
      val (_, exec) = timed(df.collect())
      Map("client" -> o.client, "index" -> o.index, "parse_ms" -> parse,
        "build_ms" -> build, "build_jobs" -> buildJobs, "exec_ms" -> exec)
    }
    Map("window" -> windowJson(ops, wall), "spark" -> spark0,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "one_client" -> oneClient, "direct" -> direct)
  }
}
