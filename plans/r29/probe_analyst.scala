// Per-shape service time of the analyst whole-span queries (no histogram) on a served engine.
// Run: spark-shell --master "local[4]" --conf spark.sql.shuffle.partitions=32 --driver-class-path <graft classes> -I probe_analyst.scala
// with SF01 set to the sf0.1 testdata directory.
val coll = graft.queries.TsQueries.events(spark, sys.env("SF01")).cache()
coll.count()
val engine = new graft.PromEngine(coll)
engine.allLabels()
val start = 1704067200.0
val end = start + 30 * 86400.0 - 3600.0
val qs = Seq("sum by (event_type) (rate(events[1h]))", "quantile_over_time(0.9, events[1h])",
  "max_over_time(sum by (event_type) (rate(events[1h]))[6h:30m])",
  "sum by (event_type) (rate(events[1h])) / sum by (event_type) (rate(events[1h] offset 1d))",
  """rate(events{event_type="purchase"}[5m])""")
for (q <- qs) {
  for (_ <- 0 until 3) engine.queryRange(q, start, end, 3600.0).collect()
  val ms = (0 until 7).map { _ =>
    val t = System.nanoTime; engine.queryRange(q, start, end, 3600.0).collect(); (System.nanoTime - t) / 1e6 }.sorted
  val r = graft.Harness.run(spark)(engine.queryRange(q, start, end, 3600.0).collect().length)
  println(f"PROBE $q%-90s rows ${r.value}%8d jobs ${r.jobs} p50 ${ms(3)}%.0f ms (min ${ms.head}%.0f max ${ms.last}%.0f)")
}
System.exit(0)
