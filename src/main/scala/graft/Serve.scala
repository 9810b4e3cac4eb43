package graft

import graft.server.PromApi
import graft.sources.MetricStore

/** Server entrypoint, mirroring the reference binary's run modes
  * (main.rs:64-113): serve a metric store over the Prometheus HTTP API.
  *
  * Usage: runMain graft.Serve <store> [port] [--config <yaml>] [--shift-to-midnight <epoch>] [--assume-deduped]
  *
  *  - `<store>.zip`  — the reference's storage artifact (zip of parquet
  *    members + YAML re-tag mapping); without `--config`, top-level members
  *    are accepted untagged.
  *  - directory      — demo mode: ingests `events.parquet` (epoch-seconds
  *    normalized) like the driver's testdata layout.
  *  - `--shift-to-midnight <epoch>` — maps the collection start onto the
  *    given query-time epoch (reference `--shift_to_midnight`, main.rs:110).
  *  - `--native-histograms <schema>` — (demo-dir mode) additionally
  *    registers per-(event_type, hour) NATIVE histograms synthesized from
  *    raw event values as metric `events_native`;
  *    `histogram_quantile(q, events_native{...})` then takes the map-only
  *    sparse-bucket walk over the wire.
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--")).toSeq
    def flagValue(name: String): Option[String] =
      args.indexOf(name) match { case -1 => None; case i => args.lift(i + 1) }

    val store = positional.headOption.getOrElse(sys.error(
      "usage: Serve <store.zip|dir> [port] [--config <yaml>] [--shift-to-midnight <epoch>] [--assume-deduped]"))
    val port = positional.lift(1).map(_.toInt).getOrElse(3003)

    val spark = Harness.session("graft-serve", Harness.ServePartitions)

    // --assume-deduped: trust the store to hold one row per (series, ts)
    // and skip the ingest dedup shuffle (curated/TsSink-produced archives)
    val dedup = !args.contains("--assume-deduped")
    val collection =
      if (store.endsWith(".zip")) flagValue("--config") match {
        case Some(yaml) => MetricStore.processFile(spark, store, yaml, dedup)
        case None => MetricStore.processFileWithMapping(spark, store,
          Map("__root__" -> Map.empty[String, String]), dedup)
      }
      else queries.TsQueries.events(spark, store)
    val cached = collection.cache()

    val engine0 = flagValue("--native-histograms") match {
      case Some(sch) if !store.endsWith(".zip") =>
        import org.apache.spark.sql.functions._
        val samples = queries.TsQueries.rawEvents(spark, store).select(
          col("event_type"),
          (floor(col("ts") / 3600.0) * 3600.0).as(Model.TsCol),
          col("value").as(Model.ValueCol))
          .withColumn(Model.LabelsCol, map(
            lit(Model.NameLabel), lit("events_native"),
            lit("event_type"), col("event_type")))
          .drop("event_type")
        val nh = operators.NativeHistogram
          .fromSamples(Model.withSkey(samples), sch.toInt).cache()
        new PromEngine(cached, nativeHistograms = Map("events_native" -> nh))
      case _ => new PromEngine(cached)
    }
    val engine = flagValue("--shift-to-midnight") match {
      case Some(t) => engine0.withStartTime(t.toDouble)
      case None => engine0
    }
    val api = new PromApi(engine, port).start()
    println(s"graft: serving ${cached.count()} samples on port ${api.boundPort}")
    Thread.currentThread().join() // serve until killed
  }
}
