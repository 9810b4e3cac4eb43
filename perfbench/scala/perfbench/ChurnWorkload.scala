package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Model, PromEngine}
import graft.llm.{Search, SearchIndex}
import graft.operators.{Grid, RangeAgg, Selector}
import graft.queries.TsQueries
import graft.sources.{RollupStore, StoreOps}

/** `store_churn`: one client alternating writes and reads on persistent
  * stores built at set-up — a RollupStore over the first 15 days of
  * `events` and a SearchIndex over half of `documents`. Writes append the
  * next event slice or a document batch, or remove the oldest live
  * documents and compact or vacuum the index; reads are
  * BM25 searches and rollup-served `avg_over_time` range queries. */
final class ChurnWorkload(work: String, reqs: JsonNode) extends Workload {
  import ServeBench._

  private val Mid = TsQueries.GridStart + 15 * 86400.0
  private val SliceS = 2 * 3600.0
  private val Batch = 50
  private val RemoveN = 25

  var spark: SparkSession = _
  private var events: DataFrame = _
  private var engine: PromEngine = _
  private var dir: String = _
  private var docs: IndexedSeq[(Long, String)] = _
  private var sliceBytes: Map[Int, Long] = _
  private var cacheBytes, collBytes, storeUserBytes = 0L

  // store state the transient checks replay
  private var nextSlice, searchCursor, nextOp = 0
  private val liveSearch = mutable.Queue.empty[(Long, String)]

  private val ops: IndexedSeq[JsonNode] = reqs.get("requests").asScala.toIndexedSeq
  private val warm: IndexedSeq[JsonNode] = reqs.get("warmup").asScala.toIndexedSeq

  private def rollupDir = s"$dir/rollup"
  private def searchDir = s"$dir/search"
  private def stores = Seq(rollupDir, searchDir)

  def setup(index: Int): Map[String, Double] = {
    dir = s"$work/stores-$index"
    nextSlice = 0; searchCursor = 0; nextOp = 0
    val t0 = System.nanoTime
    spark = session(work)
    val t1 = System.nanoTime
    docs = spark.read.parquet(s"$work/data/documents.parquet").select("doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val half = docs.take(docs.length / 2)
    // independent work runs concurrently: the search index builds while
    // the collection is ingested and cached, and the rollup store after it
    var t2 = 0L
    StoreOps.overlap(Seq(
      () => {
        events = TsQueries.events(spark, s"$work/data").cache()
        events.count()
        t2 = System.nanoTime
        RollupStore.build(events.filter(col(Model.TsCol) <= Mid), rollupDir, 300.0)
      },
      () => SearchIndex.build(docFrame(half), searchDir)))
    val t3 = System.nanoTime
    engine = new PromEngine(events).withRollups(Map("events" -> RollupStore.register(spark, rollupDir)))
    val t4 = System.nanoTime
    cacheBytes = cachedBytes(events)
    liveSearch.clear(); liveSearch ++= half
    Map("session_ms" -> ms(t0, t1), "ingest_ms" -> ms(t1, t2), "store_build_ms" -> ms(t2, t3),
      "server_start_ms" -> ms(t3, t4), "total_s" -> (t4 - t0) / 1e9)
  }

  def teardown(): Unit = stopSession(spark)

  def account(): Unit = {
    collBytes = sampleBytes(events)
    storeUserBytes = sampleBytes(events.filter(col(Model.TsCol) <= Mid)) +
      docBytes(docs.take(docs.length / 2))
    sliceBytes = sampleBytesBy(events.filter(col(Model.TsCol) > Mid),
      floor((col(Model.TsCol) - Mid) / SliceS).cast("int"))
  }

  def space(): Map[String, Long] = Map("cache_bytes" -> cacheBytes,
    "store_bytes" -> stores.map(dirBytes).sum, "user_bytes" -> (collBytes + storeUserBytes))

  private def docFrame(ds: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    ds.toDF("doc_id", "text")
  }

  private def docBytes(ds: Seq[(Long, String)]): Long =
    ds.map(_._2.getBytes("UTF-8").length + 8L).sum

  /** The next `Batch` held-out documents from `cursor`; past the end of the
    * pool the texts repeat under fresh ids. */
  private def heldOut(cursor: Int): Seq[(Long, String)] = {
    val pool = docs.drop(docs.length / 2)
    (cursor until cursor + Batch).map { k =>
      val (id, text) = pool(k % pool.length)
      (id + 100000L * (k / pool.length), text)
    }
  }

  private def queryFrame(q: String): DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, q)).toDF("query_id", "qtext")
  }

  private def clsOf(kind: String) = if (kind == "search" || kind == "rollup_read") "read" else "write"

  /** Run one operation; `parts` splits a maintenance write into its steps. */
  private def run(op: JsonNode, probe: Option[SparkProbe]): Op = {
    val kind = op.get("op").asText
    val parts = mutable.LinkedHashMap.empty[String, Double]
    def part[T](name: String)(body: => T): T = { val (r, t) = timed(body); parts(name) = t; r }
    val jobs0 = probe.map(_.snapshot()("jobs")).getOrElse(0L)
    val t0 = System.nanoTime
    kind match {
      case "rollup_append" =>
        val lo = Mid + nextSlice * SliceS
        RollupStore.append(rollupDir, events.filter(col(Model.TsCol) > lo && col(Model.TsCol) <= lo + SliceS))
        storeUserBytes += sliceBytes.getOrElse(nextSlice, 0L)
        nextSlice += 1
      case "search_append" =>
        val b = heldOut(searchCursor)
        SearchIndex.append(searchDir, docFrame(b))
        searchCursor += Batch
        liveSearch ++= b
        storeUserBytes += docBytes(b)
      case "search_remove" =>
        val gone = (0 until math.min(RemoveN, liveSearch.length - 1)).map(_ => liveSearch.dequeue()._1)
        val s = spark
        import s.implicits._
        part("remove")(SearchIndex.remove(searchDir, gone.toDF("doc_id")))
        part(op.get("then").asText) {
          if (op.get("then").asText == "compact") SearchIndex.compact(searchDir)
          else SearchIndex.vacuum(searchDir)
        }
      case "search" =>
        SearchIndex.search(spark, searchDir, queryFrame(op.get("q").asText), topK = 10).collect()
      case "rollup_read" =>
        engine.queryRange(op.get("query").asText, op.get("start").asDouble,
          op.get("end").asDouble, op.get("step").asDouble).collect()
    }
    val t1 = System.nanoTime
    val jobs = probe.map(_.snapshot()("jobs") - jobs0).getOrElse(0L)
    Op(clsOf(kind), kind, 0, nextOp, ms(t0, t1), ok = true, jobs = jobs, parts = parts.toMap)
  }

  private def runNext(probe: Option[SparkProbe]): Op = {
    val op = ops(nextOp % ops.length)
    val kind = op.get("op").asText
    val t0 = System.nanoTime
    val r = try run(op, probe)
      catch { case _: Exception => Op(clsOf(kind), kind, 0, nextOp, ms(t0, System.nanoTime), ok = false) }
    nextOp += 1
    r
  }

  def warmup(): Unit = warm.foreach(run(_, None))

  /** Store reads against the transient path on the live data, after the
    * timed window's mutations: `Search.bm25TopK` over the documents the
    * index should hold, or the raw-sample `RangeAgg.avgOverTime` over the
    * samples appended so far — the seed picks which. */
  def finalCheck(): Map[String, Any] = {
    val checked = reqs.get("store_check").asText
    val searches = ops.filter(_.get("op").asText == "search").take(1).filter(_ => checked == "search")
    val reads = ops.filter(_.get("op").asText == "rollup_read").take(1).filter(_ => checked == "rollup_read")
    val live = docFrame(liveSearch.toSeq)
    val searchMiss = searches.flatMap { s =>
      val q = queryFrame(s.get("q").asText)
      val stored = SearchIndex.search(spark, searchDir, q, topK = 10).collect().map(_.toString).sorted
      val transient = Search.bm25TopK(live, q, topK = 10).collect().map(_.toString).sorted
      if (stored.sameElements(transient)) None else Some(s"search '${s.get("q").asText}'")
    }
    // the day around the build/append boundary, so appended slices are read
    val frontier = Mid + nextSlice * SliceS
    val around = Grid(Mid - 43200, Mid + 43200, 3600)
    val rollupMiss = reads.flatMap { r =>
      val stored = triples(engine.queryRange(r.get("query").asText, around.start, around.end,
        around.step).collect())
      val raw = Selector.select(Model.withSkey(events.filter(col(Model.TsCol) <= frontier)),
        Seq(Selector.Eq(Model.NameLabel, "events"), Selector.Eq("event_type", r.get("event_type").asText)))
      val transient = triples(RangeAgg.avgOverTime(raw, around, 3600.0)
        .select(Model.LabelsCol, Model.TsCol, Model.ValueCol).collect())
      if (sameTriples(stored, transient, relTol = 1e-9)) None
      else Some(s"rollup '${r.get("query").asText}': ${stored.length} vs ${transient.length} rows")
    }
    Map("compared" -> (searches.length + reads.length), "mismatches" -> (searchMiss ++ rollupMiss),
      "gates" -> Seq.empty)
  }

  /** Store reads are checked once, after the timed window's mutations. */
  def check(): Map[String, Any] = Map("compared" -> 0, "mismatches" -> Seq.empty, "gates" -> Seq.empty)

  def window(seconds: Double, probe: Option[SparkProbe]): Map[String, Any] = {
    val (done, wall) = closedLoop(1, seconds)((_, _) => runNext(probe))
    windowJson(done, wall)
  }

  def tracedWindow(seconds: Double, probe: SparkProbe): Map[String, Any] = {
    val before = probe.snapshot()
    val bytes0 = stores.map(dirBytes).sum
    val user0 = storeUserBytes
    val w = window(seconds, Some(probe))
    Map("window" -> w, "spark" -> SparkProbe.delta(probe.snapshot(), before),
      "cores" -> Runtime.getRuntime.availableProcessors,
      "store_bytes_written" -> (stores.map(dirBytes).sum - bytes0),
      "user_bytes_appended" -> (storeUserBytes - user0),
      "files_per_store" -> stores.map(StoreOps.parquetFileCount(spark, _)).sum.toDouble / stores.length)
  }
}
