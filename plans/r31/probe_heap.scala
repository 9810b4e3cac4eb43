// Per-request cost of a served request on the HTTP server's result path,
// run unchanged against either checkout's classes: where `PromEngine` has
// `rangeRows`/`instantRows` (this change) the probe times them, else (the
// parent commit) `GraftPlan.collectInternal` of `rangeSeries`/`instantSeries`;
// both then write the JSON result through `PromApi.writeResult`. On a
// served engine over sf0.1, median of `RUNS` runs after 10 warm-up runs.
// Each line ends with the MD5 of the written result, so the two
// checkouts' bodies can be compared byte for byte.
// SHAPES=dashboard (default): the dashboard cycle's 7 panels (6 h at 5 m
// over one event type) and 2 instants, 30 runs. SHAPES=analyst: the two
// plain whole-span (30 d at 1 h) panels, 7 runs.
// Run: spark-shell --master "local[4]" --conf spark.sql.shuffle.partitions=32 --driver-class-path <graft classes> -I probe_heap.scala
// with SF01 set to the sf0.1 testdata directory.
import org.apache.spark.sql.GraftPlan
import org.apache.spark.sql.catalyst.InternalRow
val coll = graft.queries.TsQueries.events(spark, sys.env("SF01")).cache()
coll.count()
val engine = new graft.PromEngine(coll)
engine.allLabels()
// the writer is private[graft], and the row reads exist on one side only:
// reached by reflection
val api = graft.server.PromApi
val writer = api.getClass.getMethod("writeResult", classOf[Array[InternalRow]], classOf[Boolean])
def write(rows: Array[InternalRow], vector: Boolean): String =
  writer.invoke(api, rows, Boolean.box(vector)).asInstanceOf[String]
val methods = engine.getClass.getMethods.map(m => m.getName -> m).toMap
val heap = methods.contains("rangeRows")
def rows(q: String, instant: Boolean, start: Double, end: Double, step: Double): Array[InternalRow] =
  (heap, instant) match {
    case (true, false) => methods("rangeRows").invoke(engine, q, Double.box(start), Double.box(end), Double.box(step))
      .asInstanceOf[Array[InternalRow]]
    case (true, true) => methods("instantRows").invoke(engine, q, Double.box(end)).asInstanceOf[Array[InternalRow]]
    case (false, false) => GraftPlan.collectInternal(engine.rangeSeries(q, start, end, step))
    case (false, true) => GraftPlan.collectInternal(engine.instantSeries(q, end))
  }
val analyst = sys.env.get("SHAPES").contains("analyst")
val sel = """events{event_type="view"}"""
val (start, end, step, runs) = (
  if (analyst) (1704067200.0, 1704067200.0 + 30 * 86400.0 - 3600.0, 3600.0, 7)
  else (1704067200.0 + 86400.0 * 3 - 6 * 3600.0, 1704067200.0 + 86400.0 * 3, 300.0, 30))
val panels = Seq(s"rate($sel[5m])", sel, s"sum by (event_type) (rate($sel[5m]))",
  s"irate($sel[5m])", s"avg_over_time($sel[1h])", s"increase($sel[1h])", s"topk(3, rate($sel[1h]))")
val shapes = (
  if (analyst) Seq("quantile_over_time(0.9, events[1h])", """rate(events{event_type="purchase"}[5m])""").map(_ -> false)
  else panels.map(_ -> false) ++ Seq(s"rate($sel[5m])", s"increase($sel[1h])").map(_ -> true))
def ms(t: Long): Double = (System.nanoTime - t) / 1e6
def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
def md5(s: String): String = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
for ((q, instant) <- shapes) {
  def once(): (Double, Double, String) = {
    val t0 = System.nanoTime
    val rs = rows(q, instant, start, end, step)
    val read = ms(t0)
    val t1 = System.nanoTime
    val body = write(rs, instant)
    (read, ms(t1), body)
  }
  for (_ <- 0 until 10) once()
  val times = (0 until runs).map(_ => once())
  val (read, ser) = (median(times.map(_._1)), median(times.map(_._2)))
  val jobs = graft.Harness.run(spark)(once()).jobs
  println(f"PROBE ${if (heap) "heap" else "plan"}%-4s ${if (instant) "instant" else "range"}%-7s read ${read}%6.1f " +
    f"write ${ser}%5.1f total ${read + ser}%6.1f jobs $jobs md5 ${md5(times.head._3)}  $q")
}
System.exit(0)
