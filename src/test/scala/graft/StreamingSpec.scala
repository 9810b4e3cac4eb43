package graft

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream

/** Batch/stream parity for the windowed event aggregation. */
class StreamingSpec extends SparkSpec {

  test("streaming windowed agg matches batch (AvailableNow, complete mode)") {
    val dir = "/root/testdata/sf0.001"
    // FileStreamSource wants a directory; stage the events file into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = EventStream.windowedStream(spark, streamDir.toString)
      .writeStream
      .format("memory")
      .queryName("ev_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT event_type, day, cnt, sum_value FROM ev_stream")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventStream.windowedBatch(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming quantile-sketch maintenance matches the one-pass batch sketch") {
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("graft_squant")
    // two files → two triggers with maxFilesPerTrigger=1: the second
    // batch must FOLD into the first's bin state, not replace it
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("d1.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("d2.parquet"))
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = streaming.StreamQuantile.bins(stream, "n_chars", "source")
      .writeStream.format("memory").queryName("squant")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected at least two non-empty micro-batches")
    val streamedBins = spark.sql("SELECT * FROM squant")
    val doubled = spark.read.parquet(streamDir.toString)
    val batchBins = graft.llm.Sketches.quantileBins(doubled, "n_chars", "source")
    def binSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(binSet(streamedBins) == binSet(batchBins))
    // estimates over the maintained state ≡ the batch one-call sketch
    val estStream = streaming.StreamQuantile.estimates(streamedBins, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val estBatch = graft.llm.Sketches.quantileSketch(doubled, "n_chars", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(estStream == estBatch && estStream.nonEmpty)
  }

  test("streaming retention: aggregated emissions equal the batch cohort matrix") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = "/root/testdata/sf0.001"
    val raw = queries.TsQueries.rawEvents(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type")).cache()
    val batch = graft.operators.Cohort.retention(raw, "signup", maxOffset = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet

    // time-split micro-batches preserve per-user order
    val cut = raw.agg(expr("percentile_approx(ts, 0.5)")).head().getDouble(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sret")
    raw.filter(col("ts") <= cut).coalesce(1)
      .write.parquet(streamDir.toString + "/f1")
    raw.filter(col("ts") > cut).coalesce(1)
      .write.parquet(streamDir.toString + "/f2")
    val stage = java.nio.file.Files.createTempDirectory("graft_sret2")
    def stageOne(sub: String, name: String, mtime: Long): Unit =
      java.nio.file.Files.list(java.nio.file.Path.of(streamDir.toString, sub))
        .filter(p => p.toString.endsWith(".parquet"))
        .forEach { p =>
          val t = stage.resolve(name)
          java.nio.file.Files.copy(p, t)
          java.nio.file.Files.setLastModifiedTime(t,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
    stageOne("f1", "a.parquet", 1000000000000L)
    stageOne("f2", "b.parquet", 1000000100000L)
    val schema = spark.read.parquet(stage.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString)
    val q = streaming.StreamRetention.streaming(spark, stream, "signup",
        maxOffset = 8)
      .writeStream.format("memory").queryName("sret")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // each (user, cohort, offset) cell is emitted exactly once — the
    // consumer aggregate below IS the retention matrix
    val cells = spark.sql("SELECT * FROM sret")
    assert(cells.count() == cells.distinct().count(), "cells emitted once")
    val streamed = spark.sql(
      """WITH sizes AS (SELECT cohort_week, count(*) AS cohort_size
        |               FROM sret WHERE week_offset = 0 GROUP BY 1),
        |m AS (SELECT cohort_week, week_offset, count(*) AS active_users
        |      FROM sret GROUP BY 1, 2)
        |SELECT m.cohort_week, m.week_offset, s.cohort_size, m.active_users,
        |  round(m.active_users / CAST(s.cohort_size AS DOUBLE), 6) AS retention
        |FROM m JOIN sizes s ON m.cohort_week = s.cohort_week""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    raw.unpersist()
  }

  test("streaming funnel: final state rows equal the batch first-touch funnel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = "/root/testdata/sf0.001"
    val raw = queries.TsQueries.rawEvents(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type")).cache()
    val steps = Seq("view", "click", "purchase")
    val batch = graft.operators.Funnel.firstTouch(raw, steps, window = 21600.0)
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        col("steps_reached"), col("converted"))
      .collect().map(r => (r.getLong(0),
        (0 to 2).map(i => if (r.isNullAt(1 + i)) None else Some(r.getDouble(1 + i))),
        r.getInt(4), r.getBoolean(5))).toSet

    // two time-split micro-batches: per-user order preserved across them
    val cut = raw.agg(expr("percentile_approx(ts, 0.5)")).head().getDouble(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sfun")
    raw.filter(col("ts") <= cut).coalesce(1)
      .write.parquet(streamDir.toString + "/f1")
    raw.filter(col("ts") > cut).coalesce(1)
      .write.parquet(streamDir.toString + "/f2")
    val stage = java.nio.file.Files.createTempDirectory("graft_sfun2")
    def stageOne(sub: String, name: String, mtime: Long): Unit =
      java.nio.file.Files.list(java.nio.file.Path.of(streamDir.toString, sub))
        .filter(p => p.toString.endsWith(".parquet"))
        .forEach { p =>
          val t = stage.resolve(name)
          java.nio.file.Files.copy(p, t)
          java.nio.file.Files.setLastModifiedTime(t,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
    stageOne("f1", "a.parquet", 1000000000000L)
    stageOne("f2", "b.parquet", 1000000100000L)
    val schema = spark.read.parquet(stage.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString)
    val q = streaming.StreamFunnel.streaming(spark, stream, steps, 21600.0)
      .writeStream.format("memory").queryName("sfun")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val cur = spark.sql(
      """SELECT user_id, steps_reached, converted, matched FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) rn
        |  FROM sfun) WHERE rn = 1""".stripMargin)
      .collect().map { r =>
        val m = r.getSeq[Double](3)
        (r.getLong(0), (0 to 2).map(i => m.lift(i)), r.getInt(1), r.getBoolean(2))
      }.toSet
    assert(cur == batch, s"stream ${cur.size} rows vs batch ${batch.size}")
    raw.unpersist()
  }

  test("streaming CDC merge: micro-batched upserts equal one batch merge; last-wins within batch") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_smerge").toString + "/store"
    graft.sources.MergeStore.init(
      (0L until 20L).map(i => (i, s"base $i")).toDF("id", "text"),
      store, "id", nBuckets = 4)
    // two micro-batch files; batch 2 overrides a batch-1 key (5) and the
    // in-batch dup on key 7 must resolve to the HIGHER version
    val feedDir = java.nio.file.Files.createTempDirectory("graft_feed")
    Seq((1L, 10L, "v1 one"), (5L, 10L, "v1 five"))
      .toDF("id", "ver", "text").coalesce(1)
      .write.parquet(feedDir.toString + "/b1")
    Seq((5L, 20L, "v2 five"), (7L, 21L, "late seven"), (7L, 22L, "new seven"),
        (30L, 20L, "insert thirty"))
      .toDF("id", "ver", "text").coalesce(1)
      .write.parquet(feedDir.toString + "/b2")
    // stage into ONE stream dir in order (file mtime drives trigger order
    // only loosely; maxFilesPerTrigger=1 + alphabetical staging is enough)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_feed2")
    java.nio.file.Files.list(java.nio.file.Path.of(feedDir.toString + "/b1"))
      .filter(p => p.toString.endsWith(".parquet"))
      .forEach(p => java.nio.file.Files.copy(p, streamDir.resolve("a.parquet")))
    java.nio.file.Files.list(java.nio.file.Path.of(feedDir.toString + "/b2"))
      .filter(p => p.toString.endsWith(".parquet"))
      .forEach(p => java.nio.file.Files.copy(p, streamDir.resolve("b.parquet")))
    // pin the source's oldest-first mtime order explicitly
    java.nio.file.Files.setLastModifiedTime(streamDir.resolve("a.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    java.nio.file.Files.setLastModifiedTime(streamDir.resolve("b.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(1000000100000L))
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = graft.sources.MergeStore.streamingMerge(stream, store, "ver")
    try q.processAllAvailable() finally q.stop()
    val got = graft.sources.MergeStore.read(spark, store)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0L until 20L).map(i => i -> s"base $i").toMap ++
      Map(1L -> "v1 one", 5L -> "v2 five", 7L -> "new seven",
        30L -> "insert thirty")
    assert(got == want)
  }

  test("streaming HLL and CMS maintenance match the one-pass batch sketches") {
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ssk")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("d1.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("d2.parquet"))
    val schema = spark.read.parquet(streamDir.toString).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val doubled = spark.read.parquet(streamDir.toString)

    val qh = streaming.StreamSketch.hllRegisters(stream(), "lang")
      .writeStream.format("memory").queryName("shll")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    qh.awaitTermination(120000)
    val regsStream = spark.sql("SELECT * FROM shll")
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(rset(regsStream) ==
      rset(graft.llm.Sketches.hllRegisters(doubled, "lang")))
    // estimates over the maintained registers ≡ register-only batch read
    val estS = streaming.StreamSketch.hllEstimates(regsStream, "lang")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val estB = graft.llm.Sketches.hllEstimateFromRegisters(
        graft.llm.Sketches.hllRegisters(doubled, "lang"), "lang")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(estS == estB && estS.nonEmpty)

    val qc = streaming.StreamSketch.cmsCounters(stream())
      .writeStream.format("memory").queryName("scms")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    qc.awaitTermination(120000)
    def cset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(cset(spark.sql("SELECT * FROM scms")) ==
      cset(graft.llm.Sketches.cmsCounters(doubled)))
  }

  test("streaming windowed rate matches batch (complete mode)") {
    val dir = "/root/testdata/sf0.001"
    val raw = queries.TsQueries.rawEvents(spark, dir)
    val batch = streaming.StreamRate.batch(raw, 86400L)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet

    val streamDir = java.nio.file.Files.createTempDirectory("graft_srate")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    val streamEvents = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", queries.TsQueries.epochSeconds(schema("ts").dataType))
    val q = streaming.StreamRate.streaming(streamEvents, 86400L)
      .writeStream.format("memory").queryName("srate")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT * FROM srate")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream attribution join matches the batch interval join") {
    val dir = "/root/testdata/sf0.001"
    val raw = queries.TsQueries.rawEvents(spark, dir)

    val batchPairs = streaming.Attribution.batch(raw, 86400.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSet

    // same finite input as two one-batch streams (clicks + purchases)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_attr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    def side(tpe: String) = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .withColumn("ts", queries.TsQueries.epochSeconds(schema("ts").dataType))
      .filter(org.apache.spark.sql.functions.col("event_type") === tpe)
    val q = streaming.Attribution.streaming(side("click"), side("purchase"), 86400L)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT * FROM attrib")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batchPairs)
  }

  test("stateful sessionization (flatMapGroupsWithState) matches the batch window op") {
    val dir = "/root/testdata/sf0.001"
    val raw = queries.TsQueries.rawEvents(spark, dir)

    val batchSessions = streaming.Sessionize.batch(raw, 1800.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3))).toSet

    // drive the stateful path on the same finite input via a one-batch stream
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    val streamEvents = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", queries.TsQueries.epochSeconds(schema("ts").dataType))
    val q = streaming.Sessionize.streaming(spark, streamEvents, 1800.0)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT * FROM sessions")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batchSessions)
  }

  test("streaming native-histogram build matches fromSamples batch twin, quantiles included") {
    val dir = "/root/testdata/sf0.001"
    val raw = queries.TsQueries.rawEvents(spark, dir)
    def key(r: org.apache.spark.sql.Row): (String, Double) =
      (r.getMap[String, String](0).get("event_type").get, r.getDouble(1))
    def flat(r: org.apache.spark.sql.Row) =
      (key(r), r.getInt(2), r.getDouble(3),
        math.rint(r.getDouble(4) * 1e6) / 1e6, // nh_sum: summation-order ULPs
        r.getDouble(5),
        r.getSeq[Int](6), r.getSeq[Double](7), r.getSeq[Int](8), r.getSeq[Double](9))
    val batchRows = streaming.StreamHistogram.batch(raw, "event_type", 2, 86400L)
      .collect().map(flat).toSet

    // stage the events + a strictly-later sentinel file whose single
    // far-future event advances the watermark past every real window, so
    // append mode emits them all (the sentinel's own window stays open
    // and is deliberately absent from both sides)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_shist")
    val sentDir = java.nio.file.Files.createTempDirectory("graft_shist_sent")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("a_events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    // same parquet schema as the source file (interval arithmetic keeps the
    // ts encoding); its event_type is distinct, so its own (label, window)
    // group simply never closes and appears on neither side
    // +60 days, in whichever encoding the testdata shipped: legacy
    // TIMESTAMP(NANOS) reads as a nanos long under nanosAsLong (interval
    // arithmetic doesn't apply to it), native timestamp takes the INTERVAL
    // — the test must run against BOTH encodings the production code
    // supports (r11 ADVICE)
    val bump = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr("ts + 5184000000000000") // 60d in ns
      case _ => org.apache.spark.sql.functions.expr("ts + INTERVAL 60 DAYS")
    }
    spark.read.parquet(streamDir.resolve("a_events.parquet").toString)
      .limit(1)
      .withColumn("ts", bump)
      .withColumn("event_type", org.apache.spark.sql.functions.lit("__sentinel__"))
      .coalesce(1).write.mode("overwrite")
      .parquet(sentDir.resolve("b_sentinel").toString)
    val fs = java.nio.file.Files.list(sentDir.resolve("b_sentinel"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(fs, streamDir.resolve("z_sentinel.parquet"))
    streamDir.resolve("a_events.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_sentinel.parquet").toFile.setLastModified(2000000000000L)

    val streamEvents = spark.readStream
      .schema(spark.read.parquet(streamDir.resolve("a_events.parquet").toString).schema)
      .option("maxFilesPerTrigger", 1) // events first, then the sentinel
      .parquet(streamDir.toString)
      .withColumn("ts", queries.TsQueries.epochSeconds(schema("ts").dataType))
      .withColumn("ets", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("ts")))
    val q = streaming.StreamHistogram
      .streaming(streamEvents, "event_type", 2, "1 day")
      .writeStream.format("memory").queryName("shist")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT * FROM shist").collect().map(flat).toSet
    assert(streamed.nonEmpty && streamed == batchRows)

    // and the native pipeline composes on the emitted frame: same p90s
    val qb = operators.NativeHistogram.quantile(
        streaming.StreamHistogram.batch(raw, "event_type", 2, 86400L), 0.9)
      .collect().map(r => (key(r), r.getDouble(2))).toSet
    val qs = operators.NativeHistogram.quantile(
        spark.sql("SELECT * FROM shist"), 0.9)
      .collect().map(r => (key(r), r.getDouble(2))).toSet
    assert(qs == qb)
  }

  test("streaming rolling-crawl near-dedup: micro-batches dedup against the persistent index") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val uniq1 = "one two three four five six seven eight"
    val uniq2 = "red orange yellow green blue indigo violet ultra"
    val idxDir = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    llm.DedupIndex.build(Seq((1L, base)).toDF("doc_id", "text"), idxDir)

    // b1: a twin of the indexed doc (drop) + a unique doc (keep);
    // b2: a twin of b1's SURVIVOR (drop — proves the cross-batch append is
    // probed), a unique doc (keep), and its exact twin at a later id
    // (drop — the within-batch first-occurrence rule). Twins are exact so
    // LSH candidate generation is guaranteed; near-dup recall itself is
    // pinned by the DedupIndex spec in LlmSpec.
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sdedup")
    Seq((2L, base), (3L, uniq1))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    Seq((4L, uniq1), (5L, uniq2), (6L, uniq2))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_b1.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_b2.parquet"))
    streamDir.resolve("a_b1.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_b2.parquet").toFile.setLastModified(2000000000000L)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // two micro-batches, oldest first
      .parquet(streamDir.toString)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = llm.DedupIndex.streamingDedup(stream, idxDir) { survivors =>
      got.synchronized { got ++= survivors.select("doc_id").as[Long].collect() }
      ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    assert(got.toSet == Set(3L, 5L))
    // and the index now holds the survivors: a fresh probe of uniq2 finds 5
    val probe = llm.DedupIndex.dedupAgainst(spark, idxDir,
      Seq((99L, uniq2)).toDF("doc_id", "text"))
    assert(probe.select("dup_id").as[Long].collect().toSet == Set(5L))
  }

  test("streaming rolling-crawl substring dedup: batches drop against the gram store") {
    import spark.implicits._
    def words(prefix: String) = (1 to 16).map(i => s"$prefix$i").mkString(" ")
    val base = words("b"); val uniq1 = words("u"); val uniq2 = words("v")
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ssubidx").toString
    llm.SubstrIndex.build(Seq((1L, base)).toDF("doc_id", "text"), idxDir)

    // the DedupIndex streaming scenario, substring-flavored: b1 = twin of
    // the indexed doc (all grams stored → kept_frac 0 → drop) + unique
    // (keep); b2 = twin of b1's survivor (cross-batch append probed →
    // drop), unique (keep), its later-id twin (within-batch rule → drop)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ssub")
    Seq((2L, base), (3L, uniq1))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    Seq((4L, uniq1), (5L, uniq2), (6L, uniq2))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_b1.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_b2.parquet"))
    streamDir.resolve("a_b1.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_b2.parquet").toFile.setLastModified(2000000000000L)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // two micro-batches, oldest first
      .parquet(streamDir.toString)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = llm.SubstrIndex.streamingDedup(stream, idxDir) { survivors =>
      got.synchronized {
        got ++= survivors.select("doc_id", "kept_frac").as[(Long, Double)].collect()
      }
      ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    assert(got.map(_._1).toSet == Set(3L, 5L))
    assert(got.forall(_._2 == 1.0)) // survivors here are fully novel
    // the store holds only survivors' grams: a fresh probe of uniq2 is
    // fully covered, while the DROPPED b2 twin's id never entered anything
    val probe = llm.SubstrIndex.dedupAgainst(spark, idxDir,
      Seq((99L, uniq2)).toDF("doc_id", "text"))
    val r = probe.select("doc_id", "kept_frac").as[(Long, Double)].collect()
    assert(r.toSeq == Seq((99L, 0.0)))
  }

  /** Stage rows as two single-file parquet micro-batches (oldest first). */
  private def stageBatches(prefix: String,
                           b1: org.apache.spark.sql.DataFrame,
                           b2: org.apache.spark.sql.DataFrame): String = {
    val streamDir = java.nio.file.Files.createTempDirectory(prefix)
    b1.coalesce(1).write.parquet(streamDir.resolve("b1").toString)
    b2.coalesce(1).write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_b1.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_b2.parquet"))
    streamDir.resolve("a_b1.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_b2.parquet").toFile.setLastModified(2000000000000L)
    streamDir.toString
  }

  test("streaming rollup maintenance: micro-batch appends equal the one-pass rollup") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def shaped(df: org.apache.spark.sql.DataFrame) = Model.withSkey(
      df.withColumn("labels", map(lit(Model.NameLabel), lit("m"), lit("et"), col("et")))
        .select("labels", "ts", "value"))
    val a = Seq((100.0, 1.0, "x"), (350.0, 2.0, "y")).toDF("ts", "value", "et")
    val b1 = Seq((600.0, 3.0, "x"), (950.0, 4.0, "x")).toDF("ts", "value", "et")
    val b2 = Seq((1200.0, 5.0, "y"), (1201.0, 6.0, "x")).toDF("ts", "value", "et")
    val dir = java.nio.file.Files.createTempDirectory("graft_sroll_store").toString
    sources.RollupStore.build(shaped(a), dir, 300.0)

    val streamDir = stageBatches("graft_sroll", b1, b2)
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = sources.RollupStore.streamingBuild(shaped(stream), dir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val onePass = java.nio.file.Files.createTempDirectory("graft_sroll_once").toString
    sources.RollupStore.build(shaped(a.union(b1).union(b2)), onePass, 300.0)
    def rows(d: String) = sources.RollupStore.mergedBuckets(spark, d, "m")
      .drop("labels").collect().map(_.toSeq).toSet
    assert(rows(dir).nonEmpty && rows(dir) == rows(onePass))
    val g = operators.Grid(300.0, 1500.0, 300.0)
    def avg(d: String) = sources.RollupStore.overTime(spark, sources.RollupStore.register(spark, d),
      "m", g, 300.0, functions.RangeKernel.AvgOverTime)
      .select("skey", "ts", "value").collect().map(_.toSeq).toSet
    assert(avg(dir) == avg(onePass))
  }

  test("streaming search-index maintenance: stream-then-search equals whole-corpus BM25") {
    import spark.implicits._
    val a = Seq((1L, "the quick brown fox"), (2L, "lazy dogs sleep daily"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "quick silver fox hunts")).toDF("doc_id", "text")
    val b2 = Seq((4L, "brown bears eat fish"), (5L, "fox and hound"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ssearch_store").toString
    llm.SearchIndex.build(a, dir)

    val streamDir = stageBatches("graft_ssearch", b1, b2)
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = llm.SearchIndex.streamingBuild(stream, dir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val qs = Seq((10L, "quick fox"), (11L, "brown")).toDF("query_id", "qtext")
    val fromStore = llm.SearchIndex.search(spark, dir, qs, topK = 5)
      .collect().map(_.toSeq).toSet
    val batch = llm.Search.bm25TopK(a.union(b1).union(b2), qs, topK = 5)
      .collect().map(_.toSeq).toSet
    assert(fromStore.nonEmpty && fromStore == batch)
  }

  test("streaming ANN-index maintenance: stream appends equal the transient rebuild") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val half = emb.agg(max("vec_id")).head().getLong(0) / 2
    val dir = java.nio.file.Files.createTempDirectory("graft_sann_store").toString
    // seeds + codebook in the build half → frozen model == full-rebuild model
    llm.AnnIndex.build(emb.filter(col("vec_id") <= half), dir,
      llm.AnnIndex.Params(nCentroids = 8, multiAssign = 1, codebookIters = 0))

    val third = half + (emb.count() - half) / 2
    val streamDir = stageBatches("graft_sann",
      emb.filter(col("vec_id") > half && col("vec_id") <= third),
      emb.filter(col("vec_id") > third))
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val q = llm.AnnIndex.streamingAppend(stream, dir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val qs = emb.filter(col("vec_id") < 3)
    val fromStore = llm.AnnIndex.query(spark, dir, qs, 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val batch = llm.Ann.ivfPqTopK(emb, qs, 5, nCentroids = 8, nprobe = 2,
      multiAssign = 1, codebookIters = 0).collect().map(_.toSeq).toSet
    assert(fromStore.nonEmpty && fromStore == batch)
  }

  test("streaming exact dedup: first batch matches Dedup.exact, second batch of dups emits nothing") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    val streamDir = java.nio.file.Files.createTempDirectory("graft_dedup")
    // batch 1: the corpus itself; batch 2 (strictly later mtime): the same
    // texts under shifted doc_ids — every row is a cross-batch duplicate
    docs.coalesce(1).write.parquet(streamDir.resolve("b1").toString)
    docs.selectExpr("doc_id + 1000000 AS doc_id", "text").coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_corpus.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_dups.parquet"))
    streamDir.resolve("a_corpus.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_dups.parquet").toFile.setLastModified(2000000000000L)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // force two micro-batches, oldest first
      .parquet(streamDir.toString)
    val q = streaming.StreamDedup.streaming(spark, stream)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val kept = spark.sql("SELECT doc_id FROM dedup_stream")
      .collect().map(_.getLong(0)).toSet
    val batchKeepers = llm.Dedup.exact(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // nothing from the dup batch survived, and batch 1 matches Dedup.exact
    assert(kept.nonEmpty && kept.forall(_ < 1000000L))
    assert(kept == batchKeepers)
  }

  test("streaming domain dedup: one-batch ≡ batch operator; recrawls and capped domains emit nothing") {
    import spark.implicits._
    // batch 1: a.com has 4 distinct URL keys (+1 www-variant dup), b.org 2
    val b1 = Seq(
      (0L, "https://www.a.com/p1#x"), (1L, "https://a.com/p1"), // same key
      (2L, "https://a.com/p2"), (3L, "https://news.a.com/p3"),
      (4L, "https://a.com/p4"),
      (10L, "https://b.org/q1"), (11L, "https://b.org/q2"))
      .toDF("doc_id", "url")
    // batch 2: a recrawl of an existing URL, a new URL on the CAPPED
    // domain, and a brand-new domain
    val b2 = Seq(
      (20L, "https://a.com/p1"),      // recrawl: first-seen filter drops
      (21L, "https://a.com/p9"),      // a.com already at cap: dropped
      (22L, "https://c.net/r1"))      // new domain: kept
      .toDF("doc_id", "url")

    val streamDir = java.nio.file.Files.createTempDirectory("graft_urldedup")
    b1.coalesce(1).write.parquet(streamDir.resolve("b1").toString)
    b2.coalesce(1).write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_crawl.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_feed.parquet"))
    streamDir.resolve("a_crawl.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_feed.parquet").toFile.setLastModified(2000000000000L)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val q = streaming.StreamDedup.streamingDomainDedup(spark, stream, cap = 2)
      .writeStream.format("memory").queryName("url_dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val kept = spark.sql("SELECT doc_id, url_key, domain FROM url_dedup_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // batch-1 keepers ≡ the batch operator on b1 (one-batch parity)
    val batch = llm.Curation.domainDedup(b1, "url", maxPerDomain = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(kept.filter(_._1 < 20L) == batch, s"stream $kept\nbatch $batch")
    // cross-batch: only the new domain emitted from batch 2
    assert(kept.filter(_._1 >= 20L) == Set((22L, "c.net/r1", "c.net")))
    // the www-variant collapsed: doc 0 won its key (min doc_id)
    assert(kept.exists(k => k._1 == 0L && k._2 == "a.com/p1"))
  }

  test("streaming domain dedup with a PSL: one-batch parity with the batch operator's table path") {
    import spark.implicits._
    // three .co.uk sites: without the table they'd all be ONE 'co.uk'
    // domain; with PublicSuffixes.Common each site caps separately —
    // the stream must group exactly like Curation.domainDedup(psl = …)
    val b1 = Seq(
      (0L, "https://alpha.co.uk/p1"), (1L, "https://alpha.co.uk/p2"),
      (2L, "https://alpha.co.uk/p3"), (3L, "https://news.alpha.co.uk/p4"),
      (4L, "https://beta.co.uk/q1"), (5L, "https://beta.co.uk/q2"),
      (6L, "https://user.github.io/r1"), (7L, "https://x.user.github.io/r2"))
      .toDF("doc_id", "url")
    val dir = java.nio.file.Files.createTempDirectory("graft_psl_stream")
    b1.coalesce(1).write.parquet(dir.resolve("b1").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.resolve("b1").toString)
    val psl = Some(llm.PublicSuffixes.Common)
    val q = streaming.StreamDedup.streamingDomainDedup(spark, stream, cap = 2,
        psl = psl)
      .writeStream.format("memory").queryName("url_psl_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val kept = spark.sql("SELECT doc_id, url_key, domain FROM url_psl_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batch = llm.Curation.domainDedup(b1, "url", maxPerDomain = 2, psl = psl)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(kept == batch, s"stream $kept\nbatch $batch")
    // the table took effect: alpha and beta capped separately
    assert(kept.map(_._3) == Set("alpha.co.uk", "beta.co.uk", "user.github.io"))
  }

  test("streaming chunk dedup: a prefix-edited recrawl stores only the pre-resync chunks") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val t = (0 until 3000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val b1 = Seq((0L, t)).toDF("doc_id", "text")
    val b2 = Seq((1000000L, "XYZ " + t)).toDF("doc_id", "text")

    val streamDir = java.nio.file.Files.createTempDirectory("graft_cdcdedup")
    b1.coalesce(1).write.parquet(streamDir.resolve("b1").toString)
    b2.coalesce(1).write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_crawl.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_recrawl.parquet"))
    streamDir.resolve("a_crawl.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_recrawl.parquet").toFile.setLastModified(2000000000000L)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val q = streaming.StreamChunkDedup.streaming(spark, stream)
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val emitted = spark.sql("SELECT doc_id, chunk_hash FROM cdc_stream").collect()
    val h1 = llm.Curation.chunkCdc(b1)
      .select("chunk_hash").collect().map(_.getString(0)).toSet
    val h2 = llm.Curation.chunkCdc(b2)
      .select("chunk_hash").collect().map(_.getString(0)).toSet
    val fromB1 = emitted.filter(_.getLong(0) == 0L).map(_.getString(1)).toSet
    val fromB2 = emitted.filter(_.getLong(0) == 1000000L).map(_.getString(1)).toSet
    // first crawl: every distinct chunk stored once
    assert(fromB1 == h1)
    // recrawl: ONLY the genuinely-new chunks — the resynced tail dedups away
    assert(fromB2 == (h2 -- h1))
    // and the resync law makes that O(1) chunks for a prefix edit, not O(doc)
    assert(h1.size > 20, s"fixture sanity: ${h1.size} chunks")
    assert(fromB2.size <= 2, s"prefix edit must cost <= 2 chunks, got ${fromB2.size}")
  }

  test("streaming heavy hitters: Misra-Gries bound holds against exact counts across micro-batches") {
    hhLaws(nShards = 2, qname = "hh_stream")
  }

  test("streaming heavy hitters: same laws at nShards=16 (the throughput knob moves, the guarantee doesn't)") {
    hhLaws(nShards = 16, qname = "hh_stream16")
  }

  private def hhLaws(nShards: Int, qname: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Zipf corpus with known skew (the testdata vocab is 31 tokens — too
    // small to ever trim a sketch): tok i appears max(1, 600/i) times,
    // packed into 50-token docs. ~3500 tokens, 200-token vocabulary;
    // ranks 1..7 exceed the per-shard N/(k+1) threshold.
    val occurrences = (1 to 200).flatMap(i =>
      Seq.fill(math.max(1, 600 / i))(f"tok$i%03d"))
    val docs = occurrences.grouped(50).zipWithIndex
      .map { case (chunk, i) => (i.toLong, chunk.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    // k stays well under the per-shard vocabulary so trimming happens at
    // BOTH shard counts (200-token vocab / 16 shards ≈ 12.5 per shard)
    val k = if (nShards >= 16) 8 else 20

    val streamDir = java.nio.file.Files.createTempDirectory("graft_hh")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(streamDir.resolve("b1").toString)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_even.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_odd.parquet"))
    streamDir.resolve("a_even.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_odd.parquet").toFile.setLastModified(2000000000000L)

    val schema = docs.select("doc_id", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val q = streaming.StreamHeavyHitters.streaming(spark, stream, k, nShards)
      .writeStream.format("memory").queryName(qname)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // current state = each shard's max-seq emission
    val summary = spark.sql(
      s"""SELECT shard, token, cnt FROM $qname h
        |WHERE seq = (SELECT max(seq) FROM $qname WHERE shard = h.shard)
        |""".stripMargin)
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap

    // exact whole-stream counts with the operator's own shard hash
    val exact = docs
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
      .select(pmod(xxhash64(col("token")), lit(nShards)).cast("int")
        .as("shard"), col("token"))
      .groupBy("shard", "token").agg(count(lit(1)).as("cnt"))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
    val nShard = exact.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val exactMap = exact.toMap

    // the sketch had to trim (otherwise the bound is vacuous) but stays ≤ k
    val perShard = summary.keys.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perShard.values.forall(_ <= k))
    assert(exact.groupBy(_._1._1).exists(_._2.size > k),
      "test corpus must exceed k per shard to exercise trimming")
    // MG guarantee, survives the cross-batch merge: never overcounts, and
    // undercounts by at most N_shard/(k+1)
    summary.foreach { case ((shard, token), est) =>
      val truth = exactMap((shard, token))
      assert(est <= truth, s"overcount: $token $est > $truth")
      assert(truth - est <= nShard(shard) / (k + 1),
        s"bound broken: $token $est vs $truth (N=${nShard(shard)})")
    }
    // completeness: every true heavy hitter is present
    exactMap.foreach { case ((shard, token), truth) =>
      if (truth > nShard(shard) / (k + 1))
        assert(summary.contains((shard, token)), s"missing heavy hitter $token")
    }
  }

  test("batch-keyed store appends are exactly-once: replaying a batch leaves every store bit-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.StoreOps
    def snap(path: String): (Int, Set[Seq[Any]]) =
      (StoreOps.parquetFileCount(spark, path),
        spark.read.parquet(path).collect().map(_.toSeq).toSet)

    // --- SearchIndex: crashed-attempt partial commit, then full replay ---
    val a = Seq((1L, "the quick brown fox"), (2L, "lazy dogs sleep daily"))
      .toDF("doc_id", "text")
    val b = Seq((3L, "quick silver fox hunts"), (4L, "brown bears eat fish"))
      .toDF("doc_id", "text")
    val sDir = java.nio.file.Files.createTempDirectory("graft_replay_s").toString
    llm.SearchIndex.build(a, sDir)
    // simulate an attempt of batch 7 that died after committing only part
    // of the batch's files: commit doc 3 alone under the same batch id
    llm.SearchIndex.append(sDir, b.filter($"doc_id" === 3L), Some(7L))
    // the recovery replay re-runs the WHOLE batch under the same id — the
    // partial commit must be undone, not added to
    llm.SearchIndex.append(sDir, b, Some(7L))
    val after1 = Seq(s"$sDir/postings.parquet", s"$sDir/doclens.parquet",
      s"$sDir/stats.parquet").map(snap)
    // a second replay (at-least-once delivery) changes nothing at all
    llm.SearchIndex.append(sDir, b, Some(7L))
    val after2 = Seq(s"$sDir/postings.parquet", s"$sDir/doclens.parquet",
      s"$sDir/stats.parquet").map(snap)
    assert(after1 == after2)
    // and the store equals whole-corpus BM25 — no double-counted doc
    val qs = Seq((10L, "quick fox"), (11L, "brown")).toDF("query_id", "qtext")
    assert(llm.SearchIndex.search(spark, sDir, qs, topK = 5)
      .collect().map(_.toSeq).toSet ==
      llm.Search.bm25TopK(a.union(b), qs, topK = 5)
        .collect().map(_.toSeq).toSet)

    // --- AnnIndex ---
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val half = emb.agg(max("vec_id")).head().getLong(0) / 2
    val aDir = java.nio.file.Files.createTempDirectory("graft_replay_a").toString
    llm.AnnIndex.build(emb.filter(col("vec_id") <= half), aDir,
      llm.AnnIndex.Params(nCentroids = 8, multiAssign = 1, codebookIters = 0))
    llm.AnnIndex.append(aDir, emb.filter(col("vec_id") > half), Some(2L))
    val annAfter1 = snap(s"$aDir/codes.parquet")
    llm.AnnIndex.append(aDir, emb.filter(col("vec_id") > half), Some(2L))
    assert(snap(s"$aDir/codes.parquet") == annAfter1)

    // --- RollupStore ---
    val rDir = java.nio.file.Files.createTempDirectory("graft_replay_r").toString
    val samples = Seq((1.0, 10.0, "m"), (2.0, 20.0, "m"), (700.0, 5.0, "m"))
      .toDF("ts", "value", "name")
      .select(col("ts"), col("value"), map(lit("__name__"), col("name")).as("labels"))
    sources.RollupStore.build(samples.filter($"ts" < 100), rDir, 300.0)
    sources.RollupStore.append(rDir, samples.filter($"ts" >= 100), Some(5L))
    val rollAfter1 = snap(s"$rDir/rollup.parquet")
    sources.RollupStore.append(rDir, samples.filter($"ts" >= 100), Some(5L))
    assert(snap(s"$rDir/rollup.parquet") == rollAfter1)

    // --- SketchStore (sum-merged sketches are where replays would have
    //     silently double-counted under read-merge-overwrite) ---
    val docs = Seq((1L, "en", 100L), (2L, "en", 200L), (3L, "de", 50L))
      .toDF("doc_id", "lang", "n_chars")
      .withColumn("text", lit("some text"))
    val kDir = java.nio.file.Files.createTempDirectory("graft_replay_k").toString
    llm.SketchStore.build(docs.filter($"doc_id" === 1L), kDir)
    llm.SketchStore.append(docs.filter($"doc_id" > 1L), kDir, batchId = Some(9L))
    val skAfter1 = Seq(s"$kDir/hll.parquet", s"$kDir/cms.parquet",
      s"$kDir/qbins.parquet").map(snap)
    llm.SketchStore.append(docs.filter($"doc_id" > 1L), kDir, batchId = Some(9L))
    assert(Seq(s"$kDir/hll.parquet", s"$kDir/cms.parquet",
      s"$kDir/qbins.parquet").map(snap) == skAfter1)
    // folded totals: qbins hold exactly the 3 docs, not 5
    assert(spark.read.parquet(s"$kDir/qbins.parquet")
      .agg(sum("cnt")).head().getLong(0) == 3L)
  }

  test("streaming next-event transitions: pair counts match the batch matrix minus __end__") {
    val dir = "/root/testdata/sf0.001"
    val raw = queries.TsQueries.rawEvents(spark, dir)

    val batchCounts = graft.operators.Cohort.transitions(raw)
      .filter(org.apache.spark.sql.functions.col("to_type") =!= "__end__")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val streamDir = java.nio.file.Files.createTempDirectory("graft_trans")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir.toString).schema
    val streamEvents = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", queries.TsQueries.epochSeconds(schema("ts").dataType))
    val q = graft.streaming.StreamTransitions.pairs(spark, streamEvents)
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.sql(
        "SELECT from_type, to_type, count(*) AS cnt FROM transitions GROUP BY 1, 2")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batchCounts)
  }

  test("streaming transitions: cross-batch late events are dropped, not stitched backwards") {
    import spark.implicits._
    val streamDir = java.nio.file.Files.createTempDirectory("graft_trans_late")
    // batch 1: user 1 sees a@10, b@20; batch 2 delivers c@15 LATE (older
    // than the stored last event b@20) plus d@30 on time. The late event
    // must be dropped: pairs are a->b (batch 1) and b->d (batch 2) — never
    // the wrong-direction b->c / c->d stitching.
    Seq((1L, 10.0, "a"), (1L, 20.0, "b")).toDF("user_id", "ts", "event_type")
      .coalesce(1).write.parquet(streamDir.resolve("b1").toString)
    Seq((1L, 15.0, "c"), (1L, 30.0, "d")).toDF("user_id", "ts", "event_type")
      .coalesce(1).write.parquet(streamDir.resolve("b2").toString)
    val f1 = java.nio.file.Files.list(streamDir.resolve("b1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val f2 = java.nio.file.Files.list(streamDir.resolve("b2"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(f1, streamDir.resolve("a_first.parquet"))
    java.nio.file.Files.copy(f2, streamDir.resolve("z_second.parquet"))
    streamDir.resolve("a_first.parquet").toFile.setLastModified(1000000000000L)
    streamDir.resolve("z_second.parquet").toFile.setLastModified(2000000000000L)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val q = graft.streaming.StreamTransitions.pairs(spark, stream)
      .writeStream.format("memory").queryName("trans_late")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val pairs = spark.sql("SELECT from_type, to_type FROM trans_late")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("a", "b"), ("b", "d")))
  }

  test("streaming crawl chain: warc → responses → extract is stateless, append-mode, batch-parity across triggers") {
    import spark.implicits._
    val CRLF = "\r\n"
    def rec(tpe: String, payload: String, extra: Seq[(String, String)] = Nil) = {
      val hdrs = Seq("WARC-Type" -> tpe) ++ extra ++
        Seq("Content-Length" -> payload.getBytes("UTF-8").length.toString)
      "WARC/1.0" + CRLF +
        hdrs.map { case (k, v) => s"$k: $v" }.mkString(CRLF) + CRLF + CRLF +
        payload
    }
    def stream200(id: Long, body: String): (Long, Array[Byte]) = {
      val page = s"<html><body><nav><a href='/'>Nav</a></nav><p>$body" +
        "</p></body></html>"
      (id, (rec("warcinfo", "software: x") + CRLF + CRLF +
        rec("response", "HTTP/1.1 200 OK" + CRLF +
          "Content-Type: text/html" + CRLF + CRLF + page,
          Seq("WARC-Target-URI" -> s"https://s$id.com/p")) + CRLF + CRLF)
        .getBytes("UTF-8"))
    }
    val b1 = Seq(stream200(0L, "first page words here"),
      stream200(1L, "second page other words"))
    val b2 = Seq(stream200(2L, "third page arrives later"))
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_stream")
    b1.toDF("doc_id", "warc").coalesce(1)
      .write.parquet(dir.resolve("b1").toString)
    b2.toDF("doc_id", "warc").coalesce(1)
      .write.parquet(dir.resolve("b2").toString)
    def firstFile(sub: String) = java.nio.file.Files.list(dir.resolve(sub))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(firstFile("b1"), dir.resolve("a_b1.parquet"))
    java.nio.file.Files.copy(firstFile("b2"), dir.resolve("z_b2.parquet"))
    dir.resolve("a_b1.parquet").toFile.setLastModified(1000000000000L)
    dir.resolve("z_b2.parquet").toFile.setLastModified(2000000000000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("warc",
        org.apache.spark.sql.types.BinaryType)))
    val sdf = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // two triggers: stateless ⇒ no cross-batch state
      .parquet(dir.toString)
    // the full crawl chain, APPEND mode — legal precisely because every
    // stage is a per-row map (mainContentRow, not the groupBy twin)
    val chain = graft.llm.Extract.mainContentRow(
      graft.llm.Warc.responses(sdf).select("doc_id", "url", "html"))
    val q = chain.writeStream.format("memory").queryName("crawl_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT doc_id, text, n_kept, n_dropped FROM crawl_stream")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchDocs = (b1 ++ b2).toDF("doc_id", "warc")
    val batch = graft.llm.Extract.mainContentRow(
      graft.llm.Warc.responses(batchDocs).select("doc_id", "url", "html"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed.size == 3 && streamed == batch)
    assert(streamed.forall { case (_, t, _, _) =>
      t.contains("page") && !t.contains("Nav") })
  }

  test("streaming robots verdicts: stream-static broadcast join, " +
    "append-mode, batch-parity across triggers") {
    import spark.implicits._
    // static policy: a.com blocks /private; b.com unlisted
    val rules = graft.llm.Robots.rules(Seq(
      ("a.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
      .toDF("host", "robots_txt"))
    val b1 = Seq((1L, "https://a.com/private/x"),
      (2L, "https://a.com/private/ok/y"))
    val b2 = Seq((3L, "https://a.com/pub"), (4L, "https://b.com/private"))
    val dir = java.nio.file.Files.createTempDirectory("graft_rob_stream")
    b1.toDF("doc_id", "url").coalesce(1)
      .write.parquet(dir.resolve("b1").toString)
    b2.toDF("doc_id", "url").coalesce(1)
      .write.parquet(dir.resolve("b2").toString)
    def firstFile(sub: String) = java.nio.file.Files.list(dir.resolve(sub))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(firstFile("b1"), dir.resolve("a_b1.parquet"))
    java.nio.file.Files.copy(firstFile("b2"), dir.resolve("z_b2.parquet"))
    dir.resolve("a_b1.parquet").toFile.setLastModified(1000000000000L)
    dir.resolve("z_b2.parquet").toFile.setLastModified(2000000000000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType)))
    val sdf = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    // the verdict is a stream-static broadcast join + per-row HOFs —
    // stateless, so the compliance stage streams in append mode
    val q = graft.llm.Robots.allowed(sdf, rules)
      .writeStream.format("memory").queryName("robots_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT doc_id, allowed, matched_allow, matched_disallow " +
        "FROM robots_stream").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.llm.Robots.allowed(
      (b1 ++ b2).toDF("doc_id", "url"), rules).collect()
      .map(r => (r.getLong(0), r.getBoolean(3), r.getLong(4), r.getLong(5)))
      .toSet
    assert(streamed == batch && streamed.size == 4)
    assert(streamed.map(v => v._1 -> v._2).toMap ==
      Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }
}
