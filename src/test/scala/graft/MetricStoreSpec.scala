package graft

import java.io.{File, FileInputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._

import graft.sources.MetricStore

/** Zip-archive ingestion parity (`process_file`, metricstore.rs:548-568). */
class MetricStoreSpec extends SparkSpec {
  import spark.implicits._

  private def writeSingleParquet(df: org.apache.spark.sql.DataFrame, dir: File): File = {
    val out = new File(dir, "p")
    df.coalesce(1).write.mode("overwrite").parquet(out.getAbsolutePath)
    out.listFiles().find(_.getName.endsWith(".parquet")).get
  }

  test("process_file: prefix mapping, fixed labels, skip-unmapped, histogram member") {
    val tmp = Files.createTempDirectory("graft_ms_test").toFile

    // single-value metric (column literally named "value" keeps the base name)
    val m1 = Seq((60.0, "a", 1.0), (120.0, "a", 2.0), (60.0, "b", 5.0))
      .toDF("time", "host", "value")
    // histogram-shaped metric under a directory prefix
    val m2 = Seq((60.0, 1.0, 3.0, 4.0, 99.5)).toDF("time", "Le1", "Le5", "count", "sum")
    // unmapped prefix -> must be skipped
    val m3 = Seq((60.0, 7.0)).toDF("time", "value")

    val f1 = writeSingleParquet(m1, tmp)
    val f2 = writeSingleParquet(m2, new File(tmp, "a"))
    val f3 = writeSingleParquet(m3, new File(tmp, "b"))

    val zipFile = new File(tmp, "store.parquet.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipFile))
    def add(name: String, f: File): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      new FileInputStream(f).transferTo(zos)
      zos.closeEntry()
    }
    add("cpu_usage.parquet", f1)
    add("sub/req_duration.parquet", f2)
    add("other/ignored.parquet", f3)
    zos.close()

    val yaml = new File(tmp, "store.parquet.zip.yaml")
    Files.writeString(yaml.toPath,
      """config:
        |  skip-unmapped: true
        |mapping:
        |  __root__:
        |    tags:
        |      env: prod
        |  sub:
        |    tags:
        |      service: web
        |""".stripMargin)

    val eng = MetricStore.open(spark, zipFile.getAbsolutePath, yaml.getAbsolutePath)
    val names = eng.allSeriesNames()
    assert(names.contains("cpu_usage"))
    assert(names.contains("req_duration_bucket"))
    assert(names.contains("req_duration_count"))
    assert(names.contains("req_duration_sum"))
    assert(!names.exists(_.contains("ignored")))

    // fixed labels attached per prefix
    val cpu = eng.collection.filter(col(Model.LabelsCol)(Model.NameLabel) === "cpu_usage")
    assert(cpu.filter(col(Model.LabelsCol)("env") === "prod").count() == 3)
    val hist = eng.collection.filter(col(Model.LabelsCol)(Model.NameLabel) === "req_duration_bucket")
    assert(hist.filter(col(Model.LabelsCol)("service") === "web").count() == 3) // Le1, Le5, +Inf synth
    // +Inf synthesized from count
    assert(hist.filter(col(Model.LabelsCol)(Model.LeLabel) === "+Inf")
      .select("value").as[Double].head() == 4.0)

    // split_and_clean (metricstore.rs:648-659)
    assert(MetricStore.splitAndClean("a/b/metric-1.parquet") == ("a/b", "metric_1"))
    assert(MetricStore.splitAndClean("metric.parquet") == ("__root__", "metric"))
  }

  test("ingestion is source-format agnostic (CSV through the same classifier)") {
    val tmp = Files.createTempDirectory("graft_csv").toFile
    val csv = new File(tmp, "gauge.csv")
    Files.writeString(csv.toPath,
      "time,host,value\n60.0,a,1.5\n120.0,a,2.5\n60.0,b,9.0\n")
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csv.getAbsolutePath)
    val out = graft.sources.TsIngest.fromDataFrame(df, "gauge")
    assert(out.count() == 3)
    val names = out.select(col(Model.LabelsCol)(Model.NameLabel)).distinct().as[String].collect()
    assert(names.sameElements(Array("gauge")))
    assert(out.filter(col(Model.LabelsCol)("host") === "b")
      .select("value").as[Double].head() == 9.0)
  }
  test("TsSink round-trip preserves the collection; name selector prunes partitions") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val coll = queries.TsQueries.events(spark, "/root/testdata/sf0.001")
    sources.TsSink.write(coll, dir)
    val back = sources.TsSink.read(spark, dir)
    // exact round-trip (same rows, labels map incl. reconstructed __name__)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(Model.canonicalKey(col("labels")).as("k"), col("ts"), col("value"))
    assert(canon(back).exceptAll(canon(coll)).count() == 0)
    assert(canon(coll).exceptAll(canon(back)).count() == 0)
    // partition layout exists per metric
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("__metric__="))
    assert(parts.toSet == Set("__metric__=events", "__metric__=events_event_id", "__metric__=events_user_id"))
    // readMetric → REAL partition pruning: a non-empty PartitionFilters
    // entry (a generic labels['__name__'] filter cannot prune — Catalyst
    // can't fold the map_concat extraction onto the partition column)
    val sel = sources.TsSink.readMetric(spark, dir, "events")
    val plan = sel.queryExecution.executedPlan.toString
    val pf = plan.split("\\n").map(_.trim).find(_.startsWith("PartitionFilters"))
      .orElse(plan.split(", ").find(_.contains("PartitionFilters"))).getOrElse("")
    assert(pf.contains("__metric__") && !pf.contains("PartitionFilters: []"), pf)
    assert(sel.count() == coll.filter(col("labels")("__name__") === "events").count())
    // store reads are shuffle-free: readMetric is scan → filter → rebuild
    // projection, NO Exchange — already-deduped store data must not pay a
    // re-dedup re-partition on every open
    assert(!plan.contains("Exchange"), plan.linesIterator.take(12).mkString("\n"))
  }

  test("dedup=false ingest runs no dedup aggregation (trusted deduped source)") {
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("ts").cast("timestamp").cast("double").as("time"),
        col("event_type"), col("value").cast("double").as("value"))
    def exchanges(plan: String): Seq[String] =
      plan.linesIterator.filter(_.contains("Exchange ")).toSeq
    val out = sources.TsIngest.fromDataFrame(raw, "events",
      sources.TsIngest.IngestOptions(dedup = false))
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    // only the series clustering shuffles: the label-map repartition
    assert(!plan.contains("Aggregate"), plan.linesIterator.take(12).mkString("\n"))
    assert(exchanges(plan).length == 1 && exchanges(plan).head.contains("mapsort(labels"),
      plan.linesIterator.take(12).mkString("\n"))
    // the defensive default still dedups: one more exchange, the dedup's
    val dd = sources.TsIngest.fromDataFrame(raw, "events")
    dd.write.format("noop").mode("overwrite").save()
    val ddPlan = dd.queryExecution.executedPlan.toString
    assert(ddPlan.contains("Aggregate") && exchanges(ddPlan).length == 2, ddPlan)
  }

}
