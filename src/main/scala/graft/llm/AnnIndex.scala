package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.StoreOps
import graft.sources.StoreOps.Table

/** Persistent IVF×PQ index: build once, store, append incrementally, query
  * from the store — the missing lifecycle around [[Ann.ivfPqTopK]], which
  * refits centroids and codebook from the corpus on every call. A real
  * 100 TB index is built once; new vectors are assigned and encoded against
  * the FROZEN model (the standard FAISS-style contract: the coarse
  * quantizer and codebook never move after training, so stored codes stay
  * comparable forever).
  *
  * Layout under `dir` (all parquet — readable by any engine):
  *   - `meta.parquet`      one row: (n_centroids, multi_assign, m,
  *                         codebook_size, normalize) — the frozen config.
  *   - `centroids.parquet` (cent_id, cent_emb) — the coarse quantizer.
  *   - `codebook.parquet`  (sub, code, cv) — the PQ codebook.
  *   - `codes.parquet`     (vec_id, codes[m]) PARTITIONED BY cent_id — the
  *                         only per-vector state (m bytes + list id).
  *
  * Partitioning codes by cent_id is the scale design: a query probes
  * `nprobe` lists, and the broadcast-hash scoring join on cent_id lets
  * dynamic partition pruning read ONLY the probed list directories —
  * at a billion vectors the scan touches nprobe/nCentroids of the store,
  * not the corpus, and raw embeddings are never read at all (exact
  * re-rank excepted, and that is hash-pruned to the shortlist).
  *
  * Determinism: build/append/query compose the same deterministic pieces
  * as the transient path ([[Ann.seedCentroids]] first-N seeding,
  * [[Ann.pqCodebook]], [[Ann.pqCodes]] one-aggregation encode), so a
  * build-then-append over a vec_id-ordered split equals a single build
  * over the union EXACTLY when the split point keeps the seed vectors in
  * the build half (LlmSpec pins this round-trip against
  * [[Ann.ivfPqTopK]]). */
object AnnIndex {

  private val Meta = Table("meta")
  private val Centroids = Table("centroids")
  private val Codebook = Table("codebook")
  private val Rotation = Table("rotation")
  private[graft] val Codes = Table("codes", Seq("cent_id"))

  /** Frozen index configuration. `codebookIters` only matters at [[build]]
    * time (the trained codebook is stored); gate callers pin 0 for oracle
    * reproducibility, the library default refines (see [[Ann.pqTopK]]).
    * `opq = true` fits an OPQ rotation ([[Pca.fitOpq]]) on the build
    * corpus and stores it WITH the model: every stored code and every
    * probe is computed in the rotated basis, so the recall gain of
    * variance-balanced subspaces persists across months of appends —
    * the rotation is as frozen as the centroids (re-fitting it would
    * silently invalidate every stored code). */
  case class Params(nCentroids: Int = 128, multiAssign: Int = 2, m: Int = 8,
                    codebookSize: Int = 16, normalize: Boolean = false,
                    codebookIters: Int = 3, opq: Boolean = false,
                    pcaIters: Int = 4)

  /** Fit the model on `corpus` and write model + codes to `dir`. */
  def build(corpus: DataFrame, dir: String, p: Params = Params()): Unit =
    StoreOps.Lease.withLease(corpus.sparkSession, dir) {
    graft.functions.CosineSimilarity.register(corpus.sparkSession)
    val corpusR =
      if (!p.opq) corpus
      else {
        val rot = Pca.fitOpq(corpus, p.m, p.pcaIters)
        writeRotation(corpus.sparkSession, dir, rot)
        Pca.rotate(corpus, rot)
      }
    val cents = Ann.seedCentroids(corpusR, p.nCentroids)
    val cb = Ann.pqCodebook(corpusR, p.m, p.codebookSize, p.normalize,
      p.codebookIters)
    // model tables, codes and the tombstone reset land in disjoint
    // directories — submit concurrently (guide §2.6; StoreOps.overlap):
    // the r18 audit measured ~2 s/gate of sequential small-file commit
    // latency here
    StoreOps.overlap(Seq(
      () => Meta.write(corpus.sparkSession.createDataFrame(Seq(
        (p.nCentroids, p.multiAssign, p.m, p.codebookSize, p.normalize, p.opq)))
        .toDF("n_centroids", "multi_assign", "m", "codebook_size", "normalize", "opq")
        .coalesce(1), dir),
      () => Centroids.write(cents.coalesce(1), dir),
      () => Codebook.write(cb.coalesce(1), dir),
      // one file per list (not tasks × lists): the repartition shuffles only
      // (vec_id, codes, cent_id) rows — m bytes + two ids each
      () => Codes.write(encode(corpusR, cents, cb, p), dir),
      () => StoreOps.clearTombstones(corpus.sparkSession, dir, "vec_id")))
  }

  /** Logically remove `vecIds` (a (vec_id) frame) from the index —
    * retention / right-to-be-forgotten for the vector store. A vector's
    * code lives in one cent_id directory, but WHICH one requires scoring
    * it against the quantizer, so eager deletion would re-assign every
    * removal batch and rewrite touched partitions per request; the
    * tombstone append is instead a model-sized pure write, [[query]]
    * anti-joins the list (broadcast — bounded by vacuum cadence), and
    * [[vacuum]] amortizes the physical rewrite. The frozen model keeps
    * every surviving code valid: remove-then-vacuum leaves codes.parquet
    * row-identical to an index whose appends never contained the removed
    * ids (the spec pins exactly that). */
  def remove(dir: String, vecIds: DataFrame): Unit =
    StoreOps.remove(dir, vecIds, "vec_id")

  /** Physically drop tombstoned codes and clear the tombstone list —
    * nothing observable changes ([[query]] already excluded them); the
    * per-list repartition doubles as small-file compaction of the append
    * history. Write-aside-and-swap ([[StoreOps.vacuum]]): the rewrite
    * reads the files it replaces, and the codes table is corpus-sized —
    * never materialized driver- or executor-side. */
  def vacuum(dir: String): Unit = StoreOps.vacuum(dir, "vec_id", Seq(Codes))

  /** Small-file compaction only: one file per inverted list, no logical
    * change — run it when append cadence outpaces removal cadence. */
  def compact(dir: String): Unit = StoreOps.compact(dir, Seq(Codes))

  /** Assign + encode `newVectors` against the FROZEN stored model and
    * append their codes. The model is never refit — append is a pure map
    * over the new vectors (one assignment window + one encode
    * aggregation), regardless of how large the existing index is.
    *
    * `batchId` commits the code files under batch-keyed names
    * ([[StoreOps.Table.append]]), making the append
    * idempotent on replay — the streaming path always passes the
    * foreachBatch id, so failure-recovery replays never double-index a
    * vector. */
  def append(dir: String, newVectors: DataFrame,
             batchId: Option[Long] = None): Unit =
    StoreOps.Lease.withLease(newVectors.sparkSession, dir) {
    val spark = newVectors.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    val (p, cents, cb) = readModel(spark, dir)
    Codes.append(encode(rotated(spark, dir, p, newVectors), cents, cb, p), dir, batchId)
  }

  /** Streaming index maintenance: [[append]] each micro-batch of vectors
    * to an already-[[build]]t index — the [[SearchIndex.streamingBuild]]
    * construct: state lives in the parquet store, every completed trigger
    * is visible to [[query]], and batch/stream ingestion compose freely
    * (append is a pure map against the frozen model either way, so
    * stream-then-query ≡ the same appends in batch, bit-for-bit —
    * StreamingSpec pins it). Each micro-batch commits its code files
    * under the foreachBatch id ([[append]]'s `batchId`), so the
    * at-least-once replays of failure recovery are exactly-once at the
    * store. Caller starts the writer. */
  def streamingAppend(stream: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StoreOps.streamingAppend(stream)((batch, bid) => append(dir, batch, Some(bid)))

  /** ADC top-k from the stored index — [[Ann.ivfPqTopK]]'s scoring join
    * with the corpus-side state read from the store.
    *
    * `allowed` is the metadata-filtered-search hook (the "top-k among
    * docs WHERE lang = 'en'" shape every retrieval deployment needs): a
    * (vec_id) frame of candidates the ranking is restricted to, applied
    * as a semi-join on the probed code slices BEFORE ranking — post-filter
    * pre-rank, so the top-k is exact over the filtered set rather than
    * "top-k then filter" (which under-fills k). The filter composes with
    * partition pruning: only probed lists are scanned either way. Spark
    * broadcasts a selective filter frame on its own; corpus-scale allow
    * lists shuffle-join, which is still bounded by the probed lists. */
  def query(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
            nprobe: Int = 4, allowed: Option[DataFrame] = None): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val (p, cents, cb) = readModel(spark, dir)
    val queriesR = rotated(spark, dir, p, queries)
    val codes = Codes.read(spark, dir)
    val probes = Ann.assignTo(queriesR, cents, nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id"))
    val qside = probes.join(
      Ann.pqQueryTable(queriesR, cb, p.m, p.codebookSize, p.normalize),
      "query_id")
    val scored0 = codes.as("c").join(broadcast(qside.as("q")),
        col("q.cent_id") === col("c.cent_id") &&
          col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id").as("neighbor_id"),
        Ann.adcDistance(col("q.dtab"), col("c.codes"), p.m, p.codebookSize)
          .as("dist"))
    // tombstone / allow-list filters apply AFTER the cent_id scoring join:
    // both filter on the neighbor's vec_id, so the result is identical to
    // filtering the codes first — but an intervening join between the
    // codes scan and the cent_id broadcast would block dynamic partition
    // pruning and re-open EVERY list instead of the nprobe probed ones.
    // Post-join, the frames are probed-slice-sized, and the top-k over the
    // filtered set is still exact (filter-then-rank, not rank-then-filter).
    // Whether tombstones exist is a marker-file metadata check, not a
    // per-query Spark job.
    val tombFree = if (!StoreOps.hasTombstones(spark, dir)) scored0
    else scored0.join(
        broadcast(StoreOps.tombstones(spark, dir, "vec_id").select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti")
    val inList = allowed.fold(tombFree)(a =>
      tombFree.join(a.select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi"))
    val scored = if (p.multiAssign <= 1) inList else inList.distinct()
    Ann.pqRank(scored, k)
  }

  /** IVFADC+R from the store: ADC shortlist of `rerank`, exact cosine
    * re-rank against `corpus` raw vectors (hash-pruned to the shortlist —
    * the only raw-embedding read in the query path). */
  def queryRerank(spark: SparkSession, dir: String, corpus: DataFrame,
                  queries: DataFrame, k: Int, rerank: Int = 50,
                  nprobe: Int = 4): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val shortlist = query(spark, dir, queries, rerank, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val qe = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qemb"))
    val sl = shortlist.join(qe, "query_id")
    val scored = corpus.as("c").join(broadcast(sl.as("s")),
        col("s.neighbor_id") === col("c.vec_id"))
      .select(col("s.query_id").as("query_id"),
        col("s.neighbor_id").as("neighbor_id"),
        Ann.nativeScore(corpus, "s.qemb", "c.embedding").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "score", "rn")
  }

  private def encode(vecs: DataFrame, cents: DataFrame, cb: DataFrame,
                     p: Params): DataFrame =
    Ann.assignTo(vecs, cents, p.multiAssign).select("vec_id", "cent_id")
      .join(Ann.pqCodes(vecs, cb, p.m, p.normalize), "vec_id")
      .select("vec_id", "codes", "cent_id")

  private def readModel(spark: SparkSession,
                        dir: String): (Params, DataFrame, DataFrame) = {
    val m = Meta.read(spark, dir).head()
    val p = Params(m.getAs[Int]("n_centroids"), m.getAs[Int]("multi_assign"),
      m.getAs[Int]("m"), m.getAs[Int]("codebook_size"),
      m.getAs[Boolean]("normalize"),
      opq = m.schema.fieldNames.contains("opq") && m.getAs[Boolean]("opq"))
    (p, Centroids.read(spark, dir), Codebook.read(spark, dir))
  }

  /** Rotation persistence: one row per component (ci, v) plus the means
    * row at ci = -1. Parquet doubles are lossless, so the read-back model
    * rotates bit-identically to the freshly fitted one. */
  private def writeRotation(spark: SparkSession, dir: String,
                            rot: Pca.Model): Unit = {
    val rows = (-1, rot.means.toSeq) +:
      rot.components.zipWithIndex.map { case (v, ci) => (ci, v.toSeq) }.toSeq
    Rotation.write(spark.createDataFrame(rows).toDF("ci", "v").coalesce(1), dir)
  }

  /** Apply the stored rotation when the index was built with one; no-op
    * otherwise. The eigenvalues are not needed to rotate (the stored
    * component ORDER already encodes the allocation). */
  private def rotated(spark: SparkSession, dir: String, p: Params,
                      vecs: DataFrame): DataFrame =
    if (!p.opq) vecs
    else {
      val rows = Rotation.read(spark, dir)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      val model = Pca.Model(rows(-1),
        Array.tabulate(Pca.Dims)(rows(_)), Array.fill(Pca.Dims)(0.0))
      Pca.rotate(vecs, model)
    }
}
