// Per-stage cost of one served request in its two shapes: the long
// (labels, ts, value) rows the gates read (and the parent commit's HTTP
// path: collect, then serializeMatrix), and the series rows the HTTP
// writer now reads (collectInternal, then writeResult). On a served
// engine over sf0.1, median of `RUNS` runs after 10 warm-up runs.
// SHAPES=dashboard (default): the dashboard cycle's 7 panels (6 h at 5 m
// over one event type) and 2 instants, 30 runs. SHAPES=analyst: the plain
// whole-span (30 d at 1 h) panels, 7 runs.
// Run: spark-shell --master "local[4]" --conf spark.sql.shuffle.partitions=32 --driver-class-path <graft classes> -I probe_series.scala
// with SF01 set to the sf0.1 testdata directory.
import org.apache.spark.sql.{GraftPlan, Row}
import org.apache.spark.sql.catalyst.InternalRow
val coll = graft.queries.TsQueries.events(spark, sys.env("SF01")).cache()
coll.count()
val engine = new graft.PromEngine(coll)
engine.allLabels()
// the writers are private[graft]: reached by reflection
val api = graft.server.PromApi
val writer = api.getClass.getMethod("writeResult", classOf[Array[InternalRow]], classOf[Boolean])
val matrix = api.getClass.getMethod("serializeMatrix", classOf[Array[Row]])
def writeSeries(rows: Array[InternalRow], vector: Boolean): String =
  writer.invoke(api, rows, Boolean.box(vector)).asInstanceOf[String]
def writeLong(rows: Array[Row]): String = matrix.invoke(api, rows).asInstanceOf[String]
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
for ((q, instant) <- shapes; form <- Seq("long", "series")) {
  def once(): Seq[Double] = {
    val t0 = System.nanoTime
    val df = (form, instant) match {
      case ("long", false) => engine.queryRange(q, start, end, step)
      case ("long", true) => engine.queryInstant(q, end)
      case (_, false) => engine.rangeSeries(q, start, end, step)
      case (_, true) => engine.instantSeries(q, end)
    }
    val build = ms(t0)
    val t1 = System.nanoTime
    df.queryExecution.executedPlan
    val plan = ms(t1)
    val t2 = System.nanoTime
    val (collect, ser) =
      if (form == "long") {
        val rows = df.collect()
        val c = ms(t2)
        val t3 = System.nanoTime
        writeLong(rows)
        (c, ms(t3))
      } else {
        val rows = GraftPlan.collectInternal(df)
        val c = ms(t2)
        val t3 = System.nanoTime
        writeSeries(rows, instant)
        (c, ms(t3))
      }
    Seq(build, plan, collect, ser)
  }
  for (_ <- 0 until 10) once()
  val times = (0 until runs).map(_ => once())
  val med = (0 until 4).map(i => median(times.map(_(i))))
  val jobs = graft.Harness.run(spark)(once()).jobs
  println(f"PROBE ${if (instant) "instant" else "range"}%-7s $form%-6s build ${med(0)}%5.1f plan ${med(1)}%5.1f " +
    f"collect ${med(2)}%5.1f serialize ${med(3)}%5.1f total ${med.sum}%6.1f jobs $jobs  $q")
}
System.exit(0)
