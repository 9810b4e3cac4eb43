package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.StoreOps
import graft.sources.StoreOps.Table

/** Persistent k-means centroid model: fit once, store, assign forever —
  * the frozen-model lifecycle around the two cluster-consuming operators,
  * [[Dedup.semDedup]] and [[Curation.mixByCluster]], which re-fit
  * centroids from the corpus on every call (r11 verdict item 7;
  * [[AnnIndex]] is the IVF×PQ sibling and the template). A real 100 TB
  * cluster model is fit once on a seed corpus; every later crawl batch is
  * assigned against the SAME centroids, so cluster ids stay comparable
  * across months of appends — exactly the contract the coarse quantizer
  * in [[AnnIndex]] already honors.
  *
  * Layout under `dir` (all parquet — readable by any engine):
  *   - `meta.parquet`      one row: (n_centroids) — the frozen config.
  *   - `centroids.parquet` (cent_id, cent_emb) — the model itself.
  *   - `members.parquet`   (vec_id, embedding) PARTITIONED BY cent_id —
  *                         every vector ever indexed, laid out by cluster.
  *
  * Partitioning members by cent_id is the scale design: a semantic-dedup
  * probe only ever compares a batch vector against SAME-cluster members,
  * so the members scan prunes to the (≤ batch-distinct-cluster) cent_id
  * directories the batch actually touches — at a billion stored vectors
  * the probe reads |touched clusters| / nCentroids of the store, and the
  * store itself is never reshuffled (the batch side broadcasts, the
  * [[DedupIndex.dedupAgainst]] rule).
  *
  * Determinism contract (LlmSpec pins it, the gate oracle replays it):
  * for a corpus split by vec_id with the seed vectors in the build half,
  * [[build]] + [[semDedupAgainst]] over the probe half equals
  * [[Dedup.semDedup]] over the WHOLE corpus restricted to probe-half
  * vectors, row for row — same centroids (first-K seeding), same
  * maxCluster guard measured on the TOTAL (store + batch) cluster size,
  * same lowest-id-earlier-duplicate verdict. */
object CentroidStore {

  private val Meta = Table("meta")
  private val Centroids = Table("centroids")
  private[graft] val Members = Table("members", Seq("cent_id"))

  /** Fit the model on `vecs` ((vec_id, embedding)) and write model +
    * members to `dir`. `lloydIters > 0` refines the first-K seed with
    * [[Ann.lloydCentroids]] (off the gate path — the oracle replays the
    * deterministic seed, the refined fit is measured by AnnSweep). */
  def build(vecs: DataFrame, dir: String, nCentroids: Int = 16,
            lloydIters: Int = 0): Unit =
    StoreOps.Lease.withLease(vecs.sparkSession, dir) {
    val spark = vecs.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    val seed = Ann.seedCentroids(vecs, nCentroids)
    val cents = if (lloydIters > 0) Ann.lloydCentroids(vecs, seed, lloydIters)
                else seed
    // four disjoint-directory writes — concurrent (guide §2.6)
    StoreOps.overlap(Seq(
      () => Meta.write(spark.createDataFrame(Seq(Tuple1(nCentroids))).toDF("n_centroids")
        .coalesce(1), dir),
      () => Centroids.write(cents.coalesce(1), dir),
      // one file per cluster (not tasks × clusters): the repartition moves
      // only (vec_id, embedding, cent_id) rows
      () => Members.write(Ann.assignTo(vecs, cents, 1), dir),
      () => StoreOps.clearTombstones(spark, dir, "vec_id")))
  }

  /** Logically remove `vecIds` (a (vec_id) frame) from the member store:
    * the vectors stop influencing [[semDedupAgainst]] (pair candidates AND
    * the maxCluster size guard) the moment remove returns; [[vacuum]]
    * reclaims the rows. Model-sized tombstone append — eager deletion
    * would re-assign the batch against the quantizer and rewrite touched
    * cluster partitions per request. The centroids stay FROZEN, so
    * remove-then-vacuum ≡ a store whose appends never contained the ids
    * (the [[AnnIndex.remove]] contract; RetentionSpec pins it). */
  def remove(dir: String, vecIds: DataFrame): Unit =
    StoreOps.remove(dir, vecIds, "vec_id")

  /** Physically drop tombstoned members and clear the list — observable
    * behaviour unchanged; per-cluster repartition doubles as small-file
    * compaction. Write-aside-and-swap. */
  def vacuum(dir: String): Unit = StoreOps.vacuum(dir, "vec_id", Seq(Members))

  /** Small-file compaction only: one file per cluster directory. */
  def compact(dir: String): Unit = StoreOps.compact(dir, Seq(Members))

  /** Assign `newVecs` against the FROZEN centroids and add them to the
    * member store — a pure map over the batch regardless of store size
    * (centroids broadcast; the store is never read, let alone
    * reshuffled). */
  def append(dir: String, newVecs: DataFrame): Unit =
    StoreOps.Lease.withLease(newVecs.sparkSession, dir) {
    Members.append(Ann.assignTo(newVecs, centroids(newVecs.sparkSession, dir), 1), dir)
  }

  /** (vec_id, cent_id) assignment of `vecs` under the stored model —
    * centroids broadcast, the batch streams (the [[Ann.assignTo]]
    * shape). */
  def assign(spark: SparkSession, dir: String, vecs: DataFrame): DataFrame =
    Ann.assignTo(vecs, centroids(spark, dir), 1)
      .select(col("vec_id"), col("cent_id"))

  /** The stored coarse model. Bounded: nCentroids × Dims floats. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    Centroids.read(spark, dir)

  /** SemDeDup a new batch against everything indexed plus the batch
    * itself: the (vec_id, cent_id, keep, min_dup, n_dups) contract of
    * [[Dedup.semDedup]], with stored same-cluster members playing the
    * role of earlier corpus vectors. "Earlier" keeps semDedup's id
    * convention — a duplicate pair is counted iff the earlier side has
    * the LOWER vec_id — so rolling-crawl callers should assign batch ids
    * above the stored range (the [[DedupIndex]] doc_id rule).
    *
    * Scale shape: batch assignment is one broadcast crossJoin + argmax
    * (map-only), materialized once for its three consumers; the member
    * store is scanned ONCE, pruned to the clusters the batch touches,
    * with the batch side broadcast into the pair join; batch-internal
    * pairs reuse the [[Dedup.semDedup]] groupBy(cent_id) explode. The
    * maxCluster guard is measured on TOTAL (store + batch) cluster size,
    * exactly as the whole-corpus run would see it. */
  def semDedupAgainst(spark: SparkSession, dir: String, batch: DataFrame,
                      tau: Double, maxCluster: Int = 10000): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val as0 = Ann.assignTo(batch, centroids(spark, dir), 1)
    val sc = spark.sparkContext
    val asg = if (sc.getCheckpointDir.isDefined) as0.checkpoint()
              else as0.localCheckpoint()

    val members = Members.read(spark, dir)
    val touched = asg.select("cent_id").distinct()
    // partition pruning: only the batch's cluster directories are read.
    // The tombstone anti-join sits AFTER the pruning join (so dynamic
    // pruning on the members scan survives) and is marker-gated —
    // removed vectors drop out of both the pair candidates and the
    // maxCluster size guard below, exactly as if never appended.
    val storeM0 = members.join(broadcast(touched), Seq("cent_id"))
    val storeM = if (!StoreOps.hasTombstones(spark, dir)) storeM0
    else storeM0.join(broadcast(StoreOps.tombstones(spark, dir, "vec_id")),
      Seq("vec_id"), "left_anti")

    // the semDedup guard on TOTAL cluster size (store + batch members)
    val sizes = storeM.groupBy("cent_id").agg(count(lit(1)).as("store_n"))
      .join(asg.groupBy("cent_id").agg(count(lit(1)).as("batch_n")),
        Seq("cent_id"), "full_outer")
      .withColumn("total",
        coalesce(col("store_n"), lit(0L)) + coalesce(col("batch_n"), lit(0L)))
    val ok = sizes.filter(col("total").between(2, maxCluster))
      .select("cent_id") // ≤ nCentroids rows — always broadcastable
    val batchOk = asg.join(broadcast(ok), Seq("cent_id"))

    // cross pairs: store streams once, batch broadcasts — the store is
    // never reshuffled no matter how large it grows
    val crossPairs = storeM.as("a")
      .join(broadcast(batchOk.as("b")),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Ann.nativeScore(batch, "a.embedding", "b.embedding").as("cos"))
    // batch-internal pairs: the semDedup cluster-explode, batch-scoped
    val batchPairs = batchOk.groupBy("cent_id")
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), explode(col("ds")).as("a"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Ann.nativeScore(batch, "a.embedding", "b.embedding").as("cos"))

    val dups = crossPairs.union(batchPairs)
      .filter(col("cos") >= tau)
      .groupBy("vec_b")
      .agg(min(col("vec_a")).as("min_dup"),
        count(lit(1)).cast(LongType).as("n_dups"))
    asg.select(col("vec_id"), col("cent_id"))
      .join(dups.withColumnRenamed("vec_b", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        col("min_dup").isNull.as("keep"), col("min_dup"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
  }

  /** [[Curation.mixByCluster]] under the stored model: new docs are
    * temperature-mixed across the FROZEN clusters instead of re-fitting
    * centroids per call — so the discovered "domains" (and therefore the
    * mixing policy) stay stable as the corpus rolls forward. */
  def mixByClusterStored(spark: SparkSession, dir: String, docs: DataFrame,
                         embeddings: DataFrame, alpha: Double, budget: Long,
                         tokenizer: String = "ws"): DataFrame = {
    val asg = assign(spark, dir, embeddings)
      .select(col("vec_id").as("doc_id"), col("cent_id"))
    val clustered = docs.drop("source").join(asg, "doc_id")
      .withColumn("source", concat(lit("cluster_"), col("cent_id")))
    Curation.mixByTemperature(clustered, alpha, budget, tokenizer)
  }
}
