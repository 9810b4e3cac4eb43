package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver-generated SF directory: replicates
  * every table `factor`× with a per-replica key offset (one shared stride
  * across each foreign-key domain, so customer↔orders↔lineitem etc. still
  * join), producing an sf1-shaped dataset from sf0.1 for scale evidence.
  *
  * Replication choices, chosen so the scaled data exercises — not breaks —
  * the operators:
  *  - `region`/`nation` stay as-is (dimensions; their keys are not offset
  *    anywhere, so FKs into them remain valid).
  *  - `events.value` gets a per-replica +r·1e-4 nudge: replica series are
  *    distinct, so topk/bottomk over the scaled metrics stay tie-free (a
  *    tie would make the DuckDB-vs-Spark hash compare nondeterministic).
  *    1e-4 and not smaller: the ingest dedup AVERAGES same-timestamp
  *    samples, and averaged 1e-6 nudges land exactly on the round-to-6
  *    half-way boundary where Spark and DuckDB split on the final ULP
  *    (38-22k rows per query did, in the first sf1 run).
  *  - `documents.text` is replicated VERBATIM: every doc becomes an exact
  *    10-way duplicate cluster — the realistic web-crawl shape for dedup at
  *    scale. (A per-replica suffix was tried first: it turns every doc into
  *    a 10-way NEAR-duplicate cluster instead, and the cross-product of
  *    suffix-variants × the corpus's own near-dup structure explodes
  *    simhash candidate pairs 100× into the maxBucket skew guard, which the
  *    SQL oracle deliberately does not replicate.)
  *  - `embeddings.embedding` gets a tiny deterministic per-(replica,dim)
  *    perturbation so cosine top-k has no cross-replica ties.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [factor] [tables]
  * `tables` (comma-separated, default all) restricts the derivation — the
  * sf10 lifecycle ledger only needs documents+embeddings, and a factor-100
  * run of the time-series fact tables would dwarf the queries under test.
  */
object ScaleUp {
  /** One stride for every surrogate-key domain; far above any sf0.1 max key
    * (largest is event_id ≤ 1e5) so replica ranges never collide. */
  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val tables: Set[String] = args.lift(3)
      .map(_.split(",").toSet)
      .getOrElse(Set("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
    val spark = Harness.session("graft-scaleup")
    derive(spark, src, dst, factor, tables)
    spark.stop()
  }

  /** The replication body, callable from other mains ([[StoreScale]] runs
    * it at factor 10 and 100 inside one session). */
  def derive(spark: SparkSession, src: String, dst: String, factor: Int,
             tables: Set[String]): Unit = {
    // events.parquet is TIMESTAMP(NANOS): read as long nanos, write back as
    // µs-granular native TIMESTAMP (readers are type-adaptive; DuckDB's
    // epoch() agrees on both encodings)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def replicate(table: String): DataFrame =
      spark.read.parquet(s"$src/$table.parquet")
        .withColumn("__r__", explode(sequence(lit(0), lit(factor - 1))))

    def off(c: String) = (col(c) + col("__r__") * Stride).as(c)

    def write(df: DataFrame, table: String, files: Int): Unit =
      if (tables(table))
        df.drop("__r__").repartition(files)
          .write.mode("overwrite").parquet(s"$dst/$table.parquet")

    for (t <- Seq("region", "nation") if tables(t))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    write(replicate("customer").withColumn("c_custkey", off("c_custkey")), "customer", 4)
    write(replicate("supplier").withColumn("s_suppkey", off("s_suppkey")), "supplier", 2)
    write(replicate("part").withColumn("p_partkey", off("p_partkey")), "part", 4)
    write(replicate("orders")
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")), "orders", 8)
    write(replicate("lineitem")
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey")), "lineitem", 16)
    if (tables("events")) {
      val events0 = replicate("events")
        .withColumn("event_id", off("event_id"))
        .withColumn("user_id", off("user_id"))
        .withColumn("value", col("value") + col("__r__") * lit(1e-4))
      // legacy TIMESTAMP(NANOS) arrives as a nanos long → rewrite as µs-granular
      // native TIMESTAMP; timestamp[us] (TIMESTAMP_NTZ) passes through verbatim
      val events = events0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          events0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => events0
      }
      write(events, "events", 16)
    }
    write(replicate("documents")
      .withColumn("doc_id", off("doc_id")), "documents", 8)
    write(replicate("embeddings")
      .withColumn("vec_id", off("vec_id"))
      .withColumn("embedding",
        expr("transform(embedding, (x, i) -> x + cast(__r__ * 1e-5 * (i % 7 - 3) as float))")),
      "embeddings", 4)

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")
         if tables(t)) {
      val n = spark.read.parquet(s"$dst/$t.parquet").count()
      println(s"$t: $n rows")
    }
  }
}
