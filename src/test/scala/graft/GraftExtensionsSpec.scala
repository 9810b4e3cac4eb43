package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The config-route (`spark.sql.extensions=graft.GraftExtensions`) and
  * the programmatic route (registerAll) must expose the same SQL
  * functions with the same semantics. */
class GraftExtensionsSpec extends SparkSpec {

  /** The context's LIVE SparkConf (private[spark] in the API, public in
    * bytecode — test-only access; a real deployment sets the conf via
    * spark-submit before the context exists). */
  private def scConf(s: SparkSession): org.apache.spark.SparkConf =
    s.sparkContext.getClass.getMethod("conf").invoke(s.sparkContext)
      .asInstanceOf[org.apache.spark.SparkConf]

  test("registerAll exposes every graft_* function to SQL") {
    GraftExtensions.registerAll(spark)
    val cos = spark.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .head().getDouble(0)
    assert(cos == 1.0)
    val mh = spark.sql(
      "SELECT graft_minhash(array('a','b','c'), 4) AS s").head().getSeq[Long](0)
    assert(mh.length == 4)
    val wn = spark.sql("SELECT graft_winnow('abcdefghijklmnop') AS f")
      .head().getSeq[Long](0)
    assert(wn.nonEmpty)
    val sh = spark.sql("SELECT graft_simhash(array(1L, 2L, 3L)) AS h")
      .head().getLong(0)
    assert(sh >= 0L)
  }

  test("a second register call keeps the first registration") {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(functions.CosineSimilarity.FunctionName)
    functions.CosineSimilarity.register(spark)
    val first = registry.lookupFunction(id)
    functions.CosineSimilarity.register(spark)
    GraftExtensions.registerAll(spark)
    // a replacement stores a fresh ExpressionInfo; an unchanged entry is
    // the same instance
    assert(first.isDefined && (registry.lookupFunction(id).get eq first.get))
    assert(spark.sql("SELECT graft_cosine(array(3.0F, 4.0F), array(3.0F, 4.0F)) AS c")
      .head().getDouble(0) == 1.0)
  }

  test("session built with the extensions class resolves the functions at analysis") {
    // getOrCreate only applies extensions when it BUILDS a session: clear
    // the default/active handles (the SparkContext is reused), build one
    // with the config, then restore the shared session for later suites.
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf: getOrCreate reads it from
    // the (reused) SparkContext's conf, not from builder options — set it
    // where a real deployment would (spark-submit --conf puts it there)
    scConf(old).set("spark.sql.extensions", classOf[GraftExtensions].getName)
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(s2 ne old, "expected a freshly-built session")
      val r = s2.sql(
        "SELECT graft_cosine(array(3.0F, 4.0F), array(3.0F, 4.0F)) AS c, " +
          "graft_hash60s(array('x')) AS h")
        .head()
      assert(r.getDouble(0) == 1.0 && r.getSeq[Long](1).length == 1)
      // injected functions are CATALOG functions on this session, present
      // without any register() call — the config was the only wiring
      assert(s2.catalog.functionExists("graft_cosine"))
    } finally {
      scConf(old).remove("spark.sql.extensions")
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }
}
