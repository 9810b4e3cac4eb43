package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write keyed MERGE (upsert/delete) into a bucket-partitioned
  * parquet store — the storage op an INCREMENTAL corpus needs: recrawls
  * re-fetch a fraction of documents, takedowns remove a few, and a plain
  * parquet table answers both only with a full rewrite. Delta/Hudi/
  * Iceberg sell this as MERGE INTO; the mechanism under all of them is
  * the same two-step this module implements directly:
  *
  *  1. LAYOUT: rows live under `bkt = crc32(key) mod nBuckets` partition
  *     directories (the write-time contract, like [[Layout.writeBucketed]]).
  *  2. MERGE: the update batch's keys hash to a set of TOUCHED buckets
  *     (≤ min(nBuckets, |batch|)); only those directories are read,
  *     upserted (update wins, inserts appended), rewritten aside, and
  *     swapped in. Untouched buckets — at 100 TB, almost all of the
  *     store — are never opened: merge cost is O(touched data + batch),
  *     not O(store). The read side prunes the same way: the static
  *     `bkt IN (...)` filter on the partition column means only touched
  *     directories are even LISTED.
  *
  * Atomicity: each bucket swap is the [[StoreOps.swapWrite]] rename
  * dance (individually atomic on HDFS-class filesystems — see the §5
  * storage-layer contract; S3-class stores need the conditional-put
  * variant noted there). A crash mid-merge leaves a PREFIX of buckets
  * swapped — safe because upsert is IDEMPOTENT: re-running the same
  * merge converges to the same store (MergeStoreSpec pins twice ≡ once).
  * The swap itself is two renames, so a crash can also land BETWEEN
  * them (bucket parked in `.bkt=i.bak`, live dir absent); every merge
  * first runs [[recoverBaks]] under the lease to restore such buckets
  * before reading, so no crash point loses rows (MergeStoreSpec pins
  * the mid-swap crash state).
  *
  * Update batches must be key-unique (checked with one aggregate — the
  * multi-version "latest wins" policy belongs to the caller, who knows
  * which version column orders writes). */
object MergeStore {

  private def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(crc32(key.cast("string")), lit(nBuckets.toLong)).cast("int")

  private def dataPath(path: String) = s"$path/data"
  private def metaPath(path: String) = s"$path/meta"

  /** Create the store from an initial corpus. */
  def init(df: DataFrame, path: String, keyCol: String,
           nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    requireKeyUnique(df, keyCol)
    val spark = df.sparkSession
    df.withColumn("bkt", bucketOf(col(keyCol), nBuckets))
      .write.mode("errorifexists").partitionBy("bkt")
      .parquet(dataPath(path))
    import spark.implicits._
    Seq((keyCol, nBuckets)).toDF("key_col", "n_buckets")
      .write.mode("errorifexists").parquet(metaPath(path))
  }

  private def readMeta(spark: SparkSession, path: String): (String, Int) = {
    val r = spark.read.parquet(metaPath(path)).head()
    (r.getAs[String]("key_col"), r.getAs[Int]("n_buckets"))
  }

  /** The store's logical rows (bucket column dropped). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(dataPath(path)).drop("bkt")

  /** Upsert `updates` (key-unique): existing keys are replaced, new keys
    * inserted. Only the buckets the batch's keys hash into are read and
    * rewritten. */
  def merge(spark: SparkSession, path: String, updates: DataFrame): Unit =
    rewriteTouched(spark, path, updates, deleteOnly = false)

  /** Delete the given keys (a frame with the store's key column). Only
    * touched buckets are rewritten; absent keys are a no-op. */
  def delete(spark: SparkSession, path: String, keys: DataFrame): Unit =
    rewriteTouched(spark, path, keys, deleteOnly = true)

  /** CDC apply: maintain the store from a STREAM of upserts — each
    * micro-batch merges via foreachBatch, so a change-capture feed
    * (recrawl results, edits, late corrections) lands continuously with
    * batch-identical semantics. Failure-recovery replays are safe
    * without any journal: merge is idempotent (same batch twice ≡ once,
    * MergeStoreSpec-pinned), which is exactly the property foreachBatch's
    * at-least-once contract needs. Within one batch, duplicate keys
    * collapse LAST-WINS by `versionCol` (a CDC feed's change order) via
    * a map-side-combinable struct-max — version first, then the
    * remaining columns, so even a version tie resolves to ONE
    * deterministic row and batch boundaries cannot change an ordered
    * feed's outcome. Returns the started query. */
  def streamingMerge(stream: DataFrame, path: String, versionCol: String,
                     checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("update")
    // idempotence makes replays SAFE, but only a checkpoint makes them
    // HAPPEN: without one a restarted query re-reads the source from
    // scratch (or not at all, source-dependent) instead of resuming at
    // the last committed batch
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val (keyCol, _) = readMeta(spark, path)
        val others = batch.columns
          .filterNot(c => c == keyCol || c == versionCol).toSeq
        val latest = batch
          .groupBy(col(keyCol))
          .agg(max(struct((versionCol +: others).map(col): _*)).as("__m__"))
          .select(col(keyCol) +: others.map(c => col(s"__m__.$c").as(c)): _*)
        merge(spark, path, latest)
      }
      .start()
  }

  private def requireKeyUnique(df: DataFrame, keyCol: String): Unit = {
    val r = df.agg(count(lit(1)).as("n"),
      countDistinct(col(keyCol)).as("d")).head()
    require(r.getLong(0) == r.getLong(1),
      s"batch must be unique on '$keyCol': ${r.getLong(0)} rows, " +
        s"${r.getLong(1)} distinct keys")
  }

  private def rewriteTouched(spark: SparkSession, path: String,
                             batch: DataFrame, deleteOnly: Boolean): Unit =
    // single-maintainer lease (the sibling stores' contract): two
    // concurrent merges would race both the shared stage dir and the
    // per-bucket swaps; the lease serializes mutations, reads stay
    // lock-free (they never see a half-staged bucket — swaps are
    // rename-atomic per directory)
    StoreOps.Lease.withLease(spark, path) {
      rewriteLocked(spark, path, batch, deleteOnly)
    }

  /** Crash recovery (run under the lease, before any read): a crash
    * between a bucket's rename-aside and rename-in leaves the live dir
    * ABSENT and its content parked in the hidden `.bkt=i.bak` — which
    * Spark reads skip, so without this pass a re-run merge would read
    * the bucket as empty and silently drop every pre-existing row in
    * it. Every such backup goes through the shared swap-recovery rule
    * ([[StoreOps.finishSwap]]): restored when its live dir is missing,
    * deleted as a completed swap's leftover otherwise. After this pass
    * the prefix-of-buckets-swapped crash state really is safe, as the
    * idempotence contract requires. */
  private def recoverBaks(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    Option(fs.globStatus(new Path(s"${dataPath(path)}/.bkt=*.bak"))).toSeq.flatten
      .map(_.getPath).foreach { bak =>
        StoreOps.finishSwap(fs,
          new Path(bak.getParent, bak.getName.stripPrefix(".").stripSuffix(".bak")), bak)
      }

  private def rewriteLocked(spark: SparkSession, path: String,
                            batch: DataFrame, deleteOnly: Boolean): Unit = {
    val (keyCol, nBuckets) = readMeta(spark, path)
    recoverBaks(new Path(dataPath(path))
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path)
    requireKeyUnique(batch, keyCol)
    val b = batch.withColumn("bkt", bucketOf(col(keyCol), nBuckets))
    // touched-bucket list: model-bounded (≤ nBuckets ints), the one
    // driver-side collect — it becomes the static partition filter that
    // keeps every untouched directory unopened and unlisted
    val touched = b.select("bkt").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val existing = spark.read.parquet(dataPath(path))
      .filter(col("bkt").isin(touched.map(Integer.valueOf): _*))
    val kept = existing.join(b.select(col(keyCol)), Seq(keyCol), "left_anti")
    val merged = if (deleteOnly) kept else kept.unionByName(b)
    // stage all touched buckets in one write, then swap per bucket dir
    val stage = s"$path/stage"
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stage), true)
    merged.write.mode("overwrite").partitionBy("bkt").parquet(stage)
    touched.foreach { i =>
      val live = new Path(s"${dataPath(path)}/bkt=$i")
      val next = new Path(s"$stage/bkt=$i")
      val bak = new Path(s"${dataPath(path)}/.bkt=$i.bak")
      fs.delete(bak, true)
      if (fs.exists(live))
        require(Committer.current.publishRename(fs, live, bak),
          s"merge: rename-aside $live failed")
      // a bucket can become empty (delete of its every key): the staged
      // dir is then absent and the rename-aside alone is the rewrite
      if (fs.exists(next))
        require(Committer.current.publishRename(fs, next, live),
          s"merge: rename-in $next failed")
      fs.delete(bak, true)
    }
    fs.delete(new Path(stage), true)
  }
}
