package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.operators.Selector

/** A served engine (cached collection, answered from its per-series fold)
  * against the same collection uncached (filter the samples, then fold):
  * the same rows bit for bit, the same metadata, one fold per collection,
  * and no Spark job at construction. */
class ServedEngineSpec extends SparkSpec with BeforeAndAfterAll {
  private val Dir = "/root/testdata/sf0.001"

  /** Built before anything is cached: Spark matches cached data by plan,
    * so an engine made after the cache() below would be served too. */
  private lazy val unserved = new PromEngine(queries.TsQueries.events(spark, Dir))

  private lazy val cached: DataFrame = {
    unserved
    val c = queries.TsQueries.events(spark, Dir).cache()
    c.count()
    c
  }

  private lazy val served = new PromEngine(cached)

  override def afterAll(): Unit = {
    // the collection and its fold would otherwise serve every later
    // suite's identically planned events frame
    spark.catalog.clearCache()
    super.afterAll()
  }

  /** Rows as (skey, ts, value bits), sorted: bit-identical means equal. */
  private def rows(df: DataFrame): Seq[(String, Double, Long)] =
    Model.withSkey(df).select(col(Model.SkeyCol), col(Model.TsCol), col(Model.ValueCol)).collect()
      .map(r => (r.getString(0), r.getDouble(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .toSeq.sorted

  test("served and unserved engines: bit-identical rows for the panel shapes") {
    assert(served.served && !unserved.served)
    val sel = """events{event_type="purchase"}"""
    val start = 1704067200.0 + 86400.0
    val ranges = Seq(sel, s"rate($sel[5m])", s"irate($sel[5m])", s"increase($sel[1h])",
      s"avg_over_time($sel[1h])", s"topk(3, rate($sel[1h]))",
      s"rate($sel[1h] offset 2h)", s"$sel offset 30m", s"max_over_time(rate($sel[1h])[3h:30m])",
      s"""absent_over_time(events{event_type="nope"}[1h])""", s"absent_over_time($sel[10m])",
      s"limitk(2, $sel)", s"timestamp($sel)")
    for (q <- ranges) {
      val want = rows(unserved.queryRange(q, start, start + 6 * 3600.0, 300.0))
      assert(want.nonEmpty, q)
      assert(rows(served.queryRange(q, start, start + 6 * 3600.0, 300.0)) === want, q)
    }
    // A sum across series adds in the order its rows reach Spark's
    // partial sum: the fold's row order within a partition, which differs
    // between the two paths (the resident fold aggregated every series of
    // the partition, the per-request fold only the selected ones). The
    // addends are bit-identical (the per-series rates above); the sums
    // agree to rounding.
    for (q <- Seq(s"sum by (event_type) (rate($sel[5m]))",
                  """sum by (event_type) (rate(events{props=~".*: 1.*"}[1h]))""")) {
      val want = rows(unserved.queryRange(q, start, start + 6 * 3600.0, 300.0))
      val got = rows(served.queryRange(q, start, start + 6 * 3600.0, 300.0))
      assert(want.nonEmpty && got.map(r => (r._1, r._2)) === want.map(r => (r._1, r._2)), q)
      for (((_, t, a), (_, _, b)) <- got.zip(want)) {
        val (x, y) = (java.lang.Double.longBitsToDouble(a), java.lang.Double.longBitsToDouble(b))
        assert(math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y)), s"$q at $t: $x vs $y")
      }
    }
    for (q <- Seq(s"rate($sel[5m])", s"increase($sel[1h])")) {
      val want = rows(unserved.queryInstant(q, start + 3 * 3600.0 + 60.0))
      assert(want.nonEmpty, q)
      assert(rows(served.queryInstant(q, start + 3 * 3600.0 + 60.0)) === want, q)
    }
  }

  test("served metadata equals the unserved answers") {
    assert(served.allLabels() === unserved.allLabels())
    assert(served.allSeriesNames() === unserved.allSeriesNames())
    for (l <- Seq("event_type", "props", "__name__", "absent"))
      assert(served.labelValues(l) === unserved.labelValues(l), l)
    assert(served.seriesLabels().toSet === unserved.seriesLabels().toSet)
    assert(served.seriesLabels().length === 1320)
    val p = Selector.predicate(Selector.Eq("event_type", "purchase")) ||
      Selector.predicate(Selector.Re("props", ".*: 1.*"))
    val got = served.seriesMatching(p)
    assert(got.toSet === unserved.seriesMatching(p).toSet)
    assert(got.length === got.distinct.length && got.nonEmpty)
  }

  test("one fold per collection: derived engines share it; construction runs no job") {
    val base = queries.TsQueries.events(spark, Dir).filter(col(Model.ValueCol) >= 0).cache()
    base.count()
    val before = spark.sparkContext.getPersistentRDDs.size
    var engines: Seq[PromEngine] = Nil
    val constructionJobs = Harness.run(spark) {
      val e0 = new PromEngine(base)
      engines = Seq(e0, e0.withStartTime(2000000000.0), e0.withNativeHistograms(Map.empty),
        e0.withRollups(Map.empty))
    }.jobs
    assert(constructionJobs === 0)
    assert(spark.sparkContext.getPersistentRDDs.size === before) // nothing filled yet
    val q = """rate(events{event_type="purchase"}[1h])"""
    for (e <- engines) {
      val off = e.queryTimeOffset.getOrElse(0.0)
      assert(e.queryRange(q, 1704153600.0 + off, 1704160800.0 + off, 600.0).count() > 0)
      assert(e.labelValues("event_type").contains("purchase"))
    }
    assert(spark.sparkContext.getPersistentRDDs.size === before + 1)
    base.unpersist()
  }
}
