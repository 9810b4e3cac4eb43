package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session-extension entry point: the config-based deployment path for
  * the library's native Catalyst expressions —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *
  * makes every `graft_*` function available to PURE-SQL users (BI tools,
  * `spark.sql(...)` notebooks, Thrift server sessions) on every session
  * the cluster builds, with no Scala call site anywhere. The per-object
  * `register(spark)` methods stay for library callers who own a session;
  * both routes share one builder per function
  * ([[GraftExtensions.functions]]), so the SQL surface cannot drift from
  * the programmatic one.
  *
  * Everything injected here is a native codegen'd expression — the SQL
  * user gets the same whole-stage-codegen plan the DataFrame user gets,
  * not a UDF wrapper.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftExtensions {
  /** (name, usage, builder) for every injectable native expression. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    (CosineSimilarity.FunctionName,
      "graft_cosine(a, b) - round-6 cosine similarity of two float arrays",
      CosineSimilarity.builder),
    (Hash60Array.FunctionName,
      "graft_hash60s(arr) - per-element 60-bit md5 hashes of a string array",
      Hash60Array.builder),
    (HyperplaneBucket.FunctionName,
      "graft_lsh_bucket(vec, planeOffset, nPlanes) - sign-pattern LSH bucket id",
      HyperplaneBucket.builder),
    (MinHash60.FunctionName,
      "graft_minhash(grams, k) - k-permutation 60-bit minhash signature",
      MinHash60.builder),
    (SimHash60.FunctionName,
      "graft_simhash(hashes) - 60-bit simhash of pre-hashed features",
      SimHash60.builder),
    (Winnow.FunctionName,
      "graft_winnow(text) - winnowed fingerprint set (MOSS)",
      Winnow.builder),
    (NormalizeText.FunctionName,
      "graft_normalize(s[, 'NFC'|'NFKC'|'NFD'|'NFKD']) - Unicode normalization",
      NormalizeText.builder),
    (ResizeNearestNN.FunctionName,
      "graft_resize_nn(payload, src_w, src_h, out_w, out_h) - NN-gather hex raster",
      ResizeNearestNN.builder))

  /** Register the same functions as temp functions on an EXISTING
    * session — the programmatic twin of the config route. */
  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) => register(spark, name, builder) }

  /** Registers `name` on `spark` unless the session already has it, so
    * the per-query `register(spark)` calls register each function once
    * per session instead of replacing it (and logging the replacement)
    * on every call. Every object in `graft.functions` registers here. */
  def register(spark: SparkSession, name: String,
               builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
