package graft

import graft.functions.TimeParse
import graft.sources.MetricStore

/** Batch query runner: evaluate one PromQL range query against a store and
  * print or write the result — the spark-submit-able form of the server's
  * /api/v1/query_range for offline/batch analytics.
  *
  * Usage: runMain graft.Query <store.zip|dir> <promql> <start> <end> <step>
  *          [--config <yaml>] [--out <parquet path>]
  *
  * start/end accept epoch floats or RFC3339; step accepts `5m`-style
  * durations or plain seconds (web.rs parsing parity).
  */
object Query {
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--")).toSeq
    def flagValue(name: String): Option[String] =
      args.indexOf(name) match { case -1 => None; case i => args.lift(i + 1) }
    if (positional.length < 5)
      sys.error("usage: Query <store.zip|dir> <promql> <start> <end> <step> [--config <yaml>] [--out <path>]")
    val Seq(store, promql, startS, endS, stepS) = positional.take(5)
    def orDie[A](e: Either[String, A]): A = e.fold(msg => sys.error(msg), identity)
    val start = orDie(TimeParse.parseTimestamp(startS))
    val end = orDie(TimeParse.parseTimestamp(endS))
    val step = orDie(TimeParse.parseDuration(stepS))

    val spark = Harness.session("graft-query", Harness.ServePartitions)

    val collection =
      if (store.endsWith(".zip")) flagValue("--config") match {
        case Some(yaml) => MetricStore.processFile(spark, store, yaml)
        case None => MetricStore.processFileWithMapping(spark, store,
          Map("__root__" -> Map.empty[String, String]))
      }
      else queries.TsQueries.events(spark, store)

    // MAP columns cannot be sort keys; order on the canonical series key
    val out = new PromEngine(collection).queryRange(promql, start, end, step)
      .orderBy(Model.canonicalKey(org.apache.spark.sql.functions.col(Model.LabelsCol)),
        org.apache.spark.sql.functions.col(Model.TsCol))
    flagValue("--out") match {
      case Some(path) =>
        out.write.mode("overwrite").parquet(path)
        println(s"graft: wrote ${spark.read.parquet(path).count()} rows to $path")
      case None =>
        out.show(50, truncate = false)
    }
    spark.stop()
  }
}
