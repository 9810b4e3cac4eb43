package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.StoreOps
import graft.sources.StoreOps.Table

/** Persistent MinHash-LSH dedup index: build once, store, append new
  * batches, dedup each incoming batch against everything already indexed —
  * the missing lifecycle around [[Dedup.minhashLsh]], which recomputes
  * signatures for the whole corpus on every call. This is the shape a
  * rolling web-crawl pipeline needs (CCNet-style): each new crawl snapshot
  * is deduplicated against all PRIOR snapshots without rescanning them.
  *
  * Layout under `dir` (all parquet — readable by any engine):
  *   - `meta.parquet`     one row: (n, k, bands, max_bucket) — the frozen
  *                        signature scheme. Like [[AnnIndex]]'s model, the
  *                        scheme never changes after build, so stored and
  *                        incoming signatures stay comparable forever.
  *   - `postings.parquet` (doc_id, bkey) PARTITIONED BY (band, bpfx) —
  *                        the LSH postings (bands rows per doc), bpfx =
  *                        crc32(bkey) mod [[NPfx]].
  *   - `grams.parquet`    (doc_id, gs) PARTITIONED BY gpfx = doc_id mod
  *                        [[NPfx]] — exact n-gram sets for candidate
  *                        verification (the minhashLsh convention: LSH
  *                        proposes, exact Jaccard disposes).
  *
  * Scale shape of [[dedupAgainst]]: the incoming batch is the SMALL side —
  * its band keys and gram sets broadcast into hash joins against one scan
  * of the postings/grams stores; the index is never shuffled and no
  * signature is ever recomputed. Candidate verification touches only the
  * gram sets of candidate pairs (hash-pruned by the broadcast join).
  *
  * The pfx partition keys exist for DYNAMIC PARTITION PRUNING (r15
  * storescale finding: the probe was scanning 100% of both stores —
  * including the heavy gram arrays — regardless of probe size): both
  * probe joins carry the partition column, so a probe reads only the
  * (band, bpfx) posting directories its band keys hash into and only the
  * gpfx gram directories its CANDIDATES live in. A serving-sized probe
  * (tens of docs) touches ≲ |probe keys| of the [[NPfx]] directories —
  * probe cost tracks the BATCH, not the store; a bulk probe degrades
  * gracefully to the full scan it genuinely needs, amortized over the
  * batch. Same design as [[AnnIndex]]'s cent_id codes layout and
  * [[SearchIndex]]'s 64 token prefixes (RetentionSpec pins the pruning
  * subquery in the executed plan).
  *
  * Stores built before the pfx layout (no bpfx/gpfx directories) still
  * PROBE correctly — [[dedupAgainst]] falls back to the unpruned joins —
  * but maintenance fails fast ([[requirePfxLayout]]): appending mixed
  * layouts into one parquet table would corrupt partition discovery.
  *
  * The `maxBucket` degenerate-bucket guard is applied at BUILD time (a
  * bucket that already holds > maxBucket docs is boilerplate, and its
  * postings are dropped exactly as [[Dedup.minhashLsh]] drops the bucket);
  * [[append]] adds postings without re-checking — the guard is a property
  * of the built index, re-applied on the periodic rebuild a production
  * rolling index does anyway (same contract as AnnIndex's frozen
  * centroids: drift is bounded by rebuild cadence, not per-batch work). */
object DedupIndex {

  /** Frozen signature scheme. */
  case class Params(n: Int = 3, k: Int = 12, bands: Int = 4,
                    maxBucket: Int = 10000)

  /** Pfx fan-out CAP for both stores — the 100 TB value: small enough
    * that a fresh build makes ~32 files per band, large enough that a
    * pruned probe skips ≳ 97% of the store's bytes. The per-store fan-out
    * is scale-ADAPTIVE below the cap (r18, guide §2): it targets
    * ≥ [[DocsPerPfx]] gram rows per prefix directory, because the fixed
    * 32 priced every gate-scale lifecycle at 4·32 + 32 directory commits
    * for ~150 rows a directory. The chosen modulus is frozen at build
    * into the `_layout` sidecar ([[graft.sources.StoreOps.readLayout]]),
    * because append and every probe must hash bkeys/doc_ids with the
    * build's modulus; stores without the sidecar read as 32 — their
    * on-disk layout, unchanged. */
  private val MaxPfx = 32

  private val Meta = Table("meta")
  private[graft] val Postings = Table("postings", Seq("band", "bpfx"))
  private val Grams = Table("grams", Seq("gpfx"))

  /** Gram rows are doc-count-sized and FAT (a doc's whole n-gram set in
    * one array cell, kilobytes a row), so the directory-sizing unit is
    * docs: 16 k docs ≈ tens of MB of gram payload per directory. */
  private val DocsPerPfx = 16 * 1024L

  private def layoutPfx(docs: Long): Int =
    StoreOps.adaptiveFanout(docs, DocsPerPfx, MaxPfx)

  private def layoutOf(spark: SparkSession, dir: String): Int =
    StoreOps.readLayout(spark, dir, MaxPfx)

  private def bpfxCol(npfx: Int): org.apache.spark.sql.Column =
    pmod(crc32(col("bkey")), lit(npfx)).cast(IntegerType)
  private def gpfxCol(id: org.apache.spark.sql.Column,
                      npfx: Int): org.apache.spark.sql.Column =
    pmod(id, lit(npfx)).cast(IntegerType)

  /** Are the postings laid out by (band, bpfx)? Two directory listings
    * (the table, then its first `band=` directory), no Spark job: a
    * `bpfx=` directory there means the pfx layout. */
  private[graft] def hasPfxLayout(spark: SparkSession, dir: String): Boolean = {
    val table = new Path(Postings.path(dir))
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(table).find(s => s.isDirectory && s.getPath.getName.startsWith("band="))
      .exists(band => fs.listStatus(band.getPath).exists(_.getPath.getName.startsWith("bpfx=")))
  }

  private def requirePfxLayout(spark: SparkSession, dir: String): Unit =
    require(hasPfxLayout(spark, dir),
      s"DedupIndex at $dir uses the legacy band-only layout — probes still " +
        "work, but maintenance would mix partition layouts in one table. " +
        "Rebuild the index (build on the vacuumed corpus) to migrate.")

  /** Sign `docs` and write postings + gram sets + meta to `dir`.
    * All mutators (build/append/remove/vacuum/compact) run under the
    * store's single-maintainer lease ([[graft.sources.StoreOps.Lease]]);
    * probes never take it. */
  def build(docs: DataFrame, dir: String, p: Params = Params()): Unit =
    StoreOps.Lease.withLease(docs.sparkSession, dir) {
    val spark = docs.sparkSession
    // the sizing count is one cheap column-pruned job over the batch;
    // it buys the scale-adaptive modulus for the store's whole life
    val npfx = layoutPfx(docs.count())
    StoreOps.writeLayout(spark, dir, npfx)
    // meta, postings, grams and the tombstone reset land in disjoint
    // directories — submit concurrently (guide §2.6; StoreOps.overlap)
    StoreOps.overlap(Seq(
      () => Meta.write(spark.createDataFrame(Seq((p.n, p.k, p.bands, p.maxBucket)))
        .toDF("n", "k", "bands", "max_bucket").coalesce(1), dir),
      () => {
        val banded = Dedup.bandKeys(docs, p.n, p.k, p.bands)
        // build-time degenerate-bucket guard (see scaladoc above)
        val keep = banded.groupBy("band", "bkey")
          .agg(count(lit(1)).as("__c__")).filter(col("__c__") <= p.maxBucket)
          .select("band", "bkey")
        // one file per (band, bpfx) partition (not tasks × partitions)
        Postings.write(banded.join(keep, Seq("band", "bkey"))
          .select(col("doc_id"), col("bkey"), col("band"), bpfxCol(npfx).as("bpfx")), dir)
      },
      () => Grams.write(Dedup.withGramSet(docs, p.n)
        .select(col("doc_id"), col("gs"), gpfxCol(col("doc_id"), npfx).as("gpfx")), dir),
      () => StoreOps.clearTombstones(spark, dir, "doc_id")))
  }

  /** Logically remove `docIds` (a (doc_id) frame) from the index —
    * retention / right-to-be-forgotten for the dedup store: a removed
    * doc stops being reported as anyone's duplicate the moment remove
    * returns ([[dedupAgainst]] anti-joins candidates on the tombstone
    * list), and [[vacuum]] later reclaims its postings and gram set.
    * The tombstone append is model-sized (bounded by vacuum cadence) —
    * eager deletion would rewrite every band partition per request.
    * remove-then-vacuum ≡ an index whose builds/appends never contained
    * the doc, EXCEPT for the build-time `maxBucket` guard, which was
    * measured with the doc present (same frozen-at-build contract as
    * append, which doesn't re-check the guard either; RetentionSpec pins
    * the equivalence on non-degenerate data). */
  def remove(dir: String, docIds: DataFrame): Unit =
    StoreOps.remove(dir, docIds, "doc_id")

  /** Physically drop tombstoned postings + gram sets and clear the list —
    * nothing observable changes ([[dedupAgainst]] already excluded them);
    * the per-band repartition doubles as small-file compaction.
    * Write-aside-and-swap: the rewrite reads the files it replaces. */
  def vacuum(dir: String): Unit =
    StoreOps.Lease.withLease(SparkSession.active, dir) {
      requirePfxLayout(SparkSession.active, dir)
      StoreOps.vacuum(dir, "doc_id", Seq(Postings, Grams))
    }

  /** Small-file compaction only (one file per partition dir) — run when
    * append cadence outpaces removals. */
  def compact(dir: String): Unit =
    StoreOps.Lease.withLease(SparkSession.active, dir) {
      requirePfxLayout(SparkSession.active, dir)
      StoreOps.compact(dir, Seq(Postings, Grams))
    }

  /** Sign `newDocs` with the FROZEN scheme and append their postings and
    * gram sets — a pure map over the batch regardless of index size. */
  def append(dir: String, newDocs: DataFrame): Unit =
    StoreOps.Lease.withLease(newDocs.sparkSession, dir) {
    val spark = newDocs.sparkSession
    requirePfxLayout(spark, dir)
    val p = readParams(spark, dir)
    // the BUILD's frozen modulus, not the batch's size (one-config rule)
    val npfx = layoutOf(spark, dir)
    // two pure appends into disjoint tables — concurrent (guide §2.6)
    StoreOps.overlap(Seq(
      () => Postings.append(Dedup.bandKeys(newDocs, p.n, p.k, p.bands)
        .select(col("doc_id"), col("bkey"), col("band"), bpfxCol(npfx).as("bpfx")), dir),
      () => Grams.append(Dedup.withGramSet(newDocs, p.n)
        .select(col("doc_id"), col("gs"), gpfxCol(col("doc_id"), npfx).as("gpfx")), dir)))
  }

  /** Near-duplicates of `newDocs` among everything already in the store:
    * (doc_id, dup_id, jaccard) with doc_id from the batch, dup_id from the
    * index, round-6 exact Jaccard ≥ `minJaccard`. Within-batch pairs are
    * out of scope — run [[Dedup.minhashLsh]] on the batch for those, then
    * [[append]] the survivors. */
  def dedupAgainst(spark: SparkSession, dir: String, newDocs: DataFrame,
                   minJaccard: Double = 0.5): DataFrame = {
    val p = readParams(spark, dir)
    val pfx = hasPfxLayout(spark, dir)
    val npfx = layoutOf(spark, dir)
    val postings = Postings.read(spark, dir)
    val storedGrams = Grams.read(spark, dir)
    val probe = Dedup.bandKeys(newDocs, p.n, p.k, p.bands)
      .select(col("doc_id").as("doc_id"), col("band"), col("bkey"),
        bpfxCol(npfx).as("bpfx"))
    // bpfx in the join key = dynamic partition pruning on the postings
    // scan: only the (band, bpfx) directories the probe's keys hash into
    // are read (legacy band-only stores fall back to the unpruned join)
    val candCond =
      col("s.band") === col("q.band") && col("s.bkey") === col("q.bkey") &&
        col("s.doc_id") =!= col("q.doc_id")
    val cand0 = postings.as("s").join(broadcast(probe.as("q")),
        if (pfx) col("s.bpfx") === col("q.bpfx") && candCond else candCond)
      .select(col("q.doc_id").as("doc_id"), col("s.doc_id").as("dup_id"))
      .distinct()
    // tombstoned docs stop being anyone's duplicate: the anti-join sits
    // AFTER the broadcast probe join (candidate-sized, and the postings
    // scan keeps its pruning), marker-gated so unremoved-from stores add
    // neither a plan node nor a Spark job
    val cand = if (!StoreOps.hasTombstones(spark, dir)) cand0
      else cand0.join(
        broadcast(StoreOps.tombstones(spark, dir, "doc_id").select(col("doc_id").as("dup_id"))),
        Seq("dup_id"), "left_anti")
    val newGrams = Dedup.withGramSet(newDocs, p.n)
      .select(col("doc_id"), col("gs").as("__ga__"))
    // the heavy side of the verify join is the STORED gram arrays: gpfx
    // in the join key lets dynamic partition pruning restrict the grams
    // scan to the directories holding actual candidates (the candidate
    // frame broadcasts — it is LSH-bounded by the probe batch)
    val candG =
      if (pfx) cand.withColumn("gpfx", gpfxCol(col("dup_id"), npfx)) else cand
    val verifyKeys = if (pfx) Seq("gpfx", "dup_id") else Seq("dup_id")
    val storedG =
      if (pfx) storedGrams.select(col("gpfx"), col("doc_id").as("dup_id"),
        col("gs").as("__gb__"))
      else storedGrams.select(col("doc_id").as("dup_id"),
        col("gs").as("__gb__"))
    storedG
      .join(broadcast(candG.join(broadcast(newGrams), "doc_id")),
        verifyKeys)
      .withColumn("common",
        size(array_intersect(col("__ga__"), col("__gb__"))).cast(LongType))
      .withColumn("jaccard",
        round(col("common").cast(DoubleType) /
          (size(col("__ga__")) + size(col("__gb__")) - col("common"))
            .cast(DoubleType), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_id", "dup_id", "jaccard")
  }

  /** Deduplicate one batch against the index AND within itself, append the
    * survivors to the index, and return them — the single rolling-crawl
    * step ([[streamingDedup]] runs it per micro-batch; a scheduled batch
    * pipeline calls it directly per snapshot).
    *
    * Drop rule, deterministic: a doc is dropped iff it near-dups ANYTHING
    * already indexed (the index is older by construction) or an
    * earlier (lower doc_id) batch member — first-occurrence-wins, the
    * [[Dedup.semDedup]] convention.
    *
    * The returned frame is PERSISTED and materialized BEFORE the append:
    * it has three consumers (the postings write and the gram-set write
    * inside [[append]], plus the caller's sink), and the lazy plan probes
    * the index — re-planning it after the append would dedup the
    * survivors against their own just-appended postings and return
    * nothing. Pinning the result first makes the step's ordering explicit
    * rather than dependent on parquet file-listing snapshot timing
    * (r11 ADVICE). Callers unpersist when done ([[streamingDedup]] does
    * after its sink returns). */
  def dedupStep(spark: SparkSession, dir: String, batch: DataFrame,
                minJaccard: Double = 0.5): DataFrame = {
    val p = readParams(spark, dir)
    val vsIndex = dedupAgainst(spark, dir, batch, minJaccard)
      .select("doc_id").distinct()
    val inBatch = Dedup.minhashLsh(batch, p.n, p.k, p.bands, minJaccard,
        p.maxBucket)
      .select(col("doc_b").as("doc_id")).distinct() // later twin drops
    val survivors = batch
      .join(vsIndex.union(inBatch).distinct(), Seq("doc_id"), "left_anti")
      .persist()
    survivors.count() // materialize against the PRE-append index snapshot
    append(dir, survivors)
    survivors
  }

  /** Streaming rolling-crawl dedup: wire a stream of document batches
    * through [[dedupStep]] via `foreachBatch` — each micro-batch is
    * deduplicated against everything indexed before it (all prior
    * batches + the initial build) and within itself, survivors are
    * appended to the index and handed to `sink`.
    *
    * foreachBatch is the right Structured Streaming construct here: the
    * operator's state IS the persistent parquet index — arbitrarily larger
    * than any state store budget, shared with batch callers, and readable
    * by any engine — so the stream holds ZERO state of its own; restarts
    * resume against whatever the index already holds. (The in-engine
    * alternative, flatMapGroupsWithState keyed by band, would pin every
    * posting in the state store forever — the wrong shape for an
    * unbounded crawl; [[graft.streaming.StreamDedup]] covers the
    * exact-hash variant where one boolean per key suffices.)
    *
    * Caller starts the returned writer (`.start()` + await). */
  def streamingDedup(stream: DataFrame, dir: String,
                     minJaccard: Double = 0.5)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // the step reads the batch several times (band keys, gram sets,
      // anti-join) — pin one snapshot instead of replaying the source
      batch.persist()
      try {
        val survivors = dedupStep(batch.sparkSession, dir, batch, minJaccard)
        try sink(survivors) finally { survivors.unpersist(); () }
      } finally { batch.unpersist(); () }
    }

  private def readParams(spark: SparkSession, dir: String): Params = {
    val m = Meta.read(spark, dir).head()
    Params(m.getAs[Int]("n"), m.getAs[Int]("k"), m.getAs[Int]("bands"),
      m.getAs[Int]("max_bucket"))
  }
}
