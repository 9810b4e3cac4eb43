package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.StoreOps
import graft.sources.StoreOps.Table

/** Persistent exact-substring dedup index: build once, store, append new
  * batches, score each incoming batch against everything already indexed —
  * the rolling-crawl lifecycle around [[Curation.dedupSubstr]], which
  * re-scans the whole corpus per call (r11 verdict item 5; [[DedupIndex]]
  * is the MinHash sibling and the template).
  *
  * Layout under `dir` (all parquet — readable by any engine):
  *   - `meta.parquet`     one row: (k, parts) — the frozen gram length and
  *                        hash-prefix partition count. Like the MinHash
  *                        scheme, k never changes after build, so stored
  *                        and incoming gram hashes stay comparable.
  *   - `postings.parquet` (h, cnt) rows over 60-bit gram hashes,
  *                        PARTITIONED BY `hp = h mod parts`. The index is
  *                        a COUNTED gram set, not an occurrence list:
  *                        `cnt` is the number of live indexed docs whose
  *                        distinct-gram set contains `h`, stored as
  *                        merge-on-read partials (the RollupStore rule —
  *                        build writes one row per gram, each append adds
  *                        its batch's per-gram doc counts, [[remove]] adds
  *                        NEGATIVE partials, [[vacuum]]/[[compact]] fold
  *                        them back to one row per gram). A gram is live
  *                        iff Σcnt > 0. The count is what makes removal
  *                        EXACT: a gram shared by a removed doc and a
  *                        surviving doc must stay probe-able, and a set
  *                        could never know. The store is still ~12 bytes
  *                        per distinct gram at steady state (compaction
  *                        cadence), and the probe stays "h present" —
  *                        the Σ>0 check is marker-gated to stores that
  *                        actually removed something.
  *   - `docids.parquet`   (doc_id) — one row per indexed doc: the removal
  *                        ledger ([[remove]] intersects with it so double
  *                        removes and never-indexed ids are no-ops).
  *   - `tombstones.parquet` (doc_id) removed ids (idempotence guard only —
  *                        the postings math lives in the negative
  *                        partials).
  *
  * Exactness contract (LlmSpec pins it, the gate oracle replays it): for
  * a corpus split into index + batch by doc_id, [[dedupAgainst]] equals
  * [[Curation.dedupSubstr]] over the WHOLE corpus restricted to the batch
  * docs, row for row — a batch position is duplicated iff its gram occurs
  * in the index (any stored occurrence is older) or earlier within the
  * batch (the same groupBy-min rule, batch-scoped).
  *
  * Scale shape of [[dedupAgainst]]: the batch's distinct gram hashes
  * BROADCAST into one scan of the postings store (the [[DedupIndex]]
  * probe shape — the index is never reshuffled); the surviving hit set is
  * batch-sized. For batches whose distinct-gram set outgrows the
  * broadcast budget (~a few GB of text per probe), flip the probe join to
  * a shuffle join on `h` — the store side then prunes to the `hp`
  * partitions the batch actually touches; the store never needs a rebuild
  * for correctness (the gram set only grows), only an occasional compact
  * of small append files — documented cadence, not per-batch work. */
object SubstrIndex {

  private val Meta = Table("meta")
  private[graft] val Postings = Table("postings", Seq("hp"))
  private val Docids = Table("docids")

  /** Per-gram doc counts for a batch: (h, cnt) with cnt = number of batch
    * docs whose distinct-gram set contains h — one groupBy over the
    * (doc_id, h)-distinct grams, map-side combinable. */
  private def gramDocCounts(docs: DataFrame, k: Int): DataFrame =
    Curation.substrGrams(Curation.substrToked(docs), k)
      .select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("cnt"))

  /** (h, cnt) rows keyed by their hash-prefix partition. */
  private def withHp(cnts: DataFrame, parts: Int): DataFrame =
    cnts.withColumn("hp", pmod(col("h"), lit(parts.toLong)))

  /** Gram rows (h, cnt) are 16 bytes: 1 M rows ≈ 16 MB per prefix
    * directory — the adaptive-fanout sizing unit ([[build]]). */
  private val GramsPerPart = 1024 * 1024L

  /** Build the counted gram store from `docs` and write meta to `dir`.
    * `parts = 0` (the default) derives the hash-prefix partition count
    * from the build's gram volume (≥ [[GramsPerPart]] rows per
    * directory, capped at 64 — the 100 TB fan-out; r18, guide §2): the
    * fixed 64 priced every gate-scale build at 64 directory commits for
    * a few thousand rows each. The chosen count is frozen into
    * meta.parquet exactly as an explicit one always was — append reads
    * it back, so layouts never mix. */
  def build(docs: DataFrame, dir: String, k: Int = 15,
            parts: Int = 0): Unit =
    StoreOps.Lease.withLease(docs.sparkSession, dir) {
    val spark = docs.sparkSession
    val cnts0 = gramDocCounts(docs, k)
    val (cnts, nparts) =
      if (parts > 0) (cnts0, parts)
      else {
        // pinned: the sizing count and the write share one computation
        val c = cnts0.localCheckpoint()
        (c, StoreOps.adaptiveFanout(c.count(), GramsPerPart, 64))
      }
    // four disjoint-directory writes — concurrent (guide §2.6)
    StoreOps.overlap(Seq(
      () => Meta.write(spark.createDataFrame(Seq((k, nparts))).toDF("k", "parts").coalesce(1), dir),
      () => Postings.write(withHp(cnts, nparts), dir),
      () => Docids.write(docs.select(col("doc_id")), dir),
      () => StoreOps.clearTombstones(spark, dir, "doc_id")))
  }

  /** Add `newDocs`' grams to the store under the FROZEN k — a pure map
    * over the batch (per-gram doc-count partials appended merge-on-read;
    * the store itself is never read, let alone reshuffled). Shared grams
    * accumulate one partial row per batch until [[compact]]/[[vacuum]]
    * folds them — the price of counts being exact enough to subtract on
    * [[remove]]. PRECONDITION ([[SearchIndex.append]]'s): batch doc_ids
    * must not already be indexed. */
  def append(dir: String, newDocs: DataFrame): Unit =
    StoreOps.Lease.withLease(newDocs.sparkSession, dir) {
    val spark = newDocs.sparkSession
    requireCountedLayout(spark, dir, "append")
    val (k, parts) = readParams(spark, dir)
    // two pure appends into disjoint tables — concurrent (guide §2.6)
    StoreOps.overlap(Seq(
      () => Postings.append(withHp(gramDocCounts(newDocs, k), parts), dir),
      () => Docids.append(newDocs.select(col("doc_id")), dir)))
  }

  /** Logically remove docs (full (doc_id, text) rows — the gram store
    * has no doc identity, so the removal must RECOMPUTE the doc's grams;
    * pass the text as indexed): appends NEGATIVE per-gram partials, so a
    * gram survives iff some live doc still contains it — removal is
    * exact, not approximate ([[dedupAgainst]] ≡ an index that never held
    * the doc; RetentionSpec pins it). Ids not in the docids ledger (or
    * already removed) are ignored, making remove idempotent. */
  def remove(dir: String, docs: DataFrame): Unit =
    StoreOps.Lease.withLease(docs.sparkSession, dir) {
    val spark = docs.sparkSession
    requireCountedLayout(spark, dir, "remove")
    val (k, parts) = readParams(spark, dir)
    val eligible = docs
      .join(Docids.read(spark, dir), Seq("doc_id"), "left_semi")
      .join(broadcast(StoreOps.tombstones(spark, dir, "doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint() // read twice (grams + tombstone ids), and the
                         // tombstone write below must not re-plan it
    Postings.append(withHp(gramDocCounts(eligible, k)
      .select(col("h"), (-col("cnt")).as("cnt")), parts), dir)
    StoreOps.remove(dir, eligible.select("doc_id"), "doc_id")
  }

  /** Fold the partial rows to one (h, cnt) row per LIVE gram (Σcnt > 0),
    * drop tombstoned ids from the ledger, clear the tombstone list —
    * nothing observable changes; the rewrite doubles as small-file
    * compaction. Write-aside-and-swap. */
  def vacuum(dir: String): Unit =
    StoreOps.Lease.withLease(SparkSession.active, dir) {
      requireCountedLayout(SparkSession.active, dir, "vacuum")
      Postings.rewrite(dir)(_.groupBy("h", "hp").agg(sum("cnt").as("cnt")).filter(col("cnt") > 0))
      StoreOps.vacuum(dir, "doc_id", Seq(Docids))
    }

  /** Compaction alias: with counted partials, folding the append/remove
    * history IS the compaction — [[vacuum]] already does both. */
  def compact(dir: String): Unit = vacuum(dir)

  /** Score `newDocs` against everything indexed plus the batch itself:
    * the (doc_id, n_tok, dup_tok, kept_frac) contract of
    * [[Curation.dedupSubstr]], with the index playing the role of every
    * earlier document. */
  def dedupAgainst(spark: SparkSession, dir: String,
                   newDocs: DataFrame): DataFrame = {
    val (k, _) = readParams(spark, dir)
    val postings = Postings.read(spark, dir)
    val toked = Curation.substrToked(newDocs)
    val grams = Curation.substrGrams(toked, k)
    val batchH = grams.select(col("h")).distinct()
    // which batch grams the index holds LIVE — result is batch-sized.
    // Only stores that actually removed something pay the Σcnt > 0 fold
    // (marker-gated; negative partials exist only after a remove) — the
    // usual store answers with the cheap presence check. Either way the
    // postings scan is the broadcast-pruned slice, never the store.
    val hit = postings.join(broadcast(batchH), Seq("h"))
    val inStore =
      if (StoreOps.hasTombstones(spark, dir))
        hit.groupBy("h").agg(sum("cnt").as("__c__"))
          .filter(col("__c__") > 0).select("h")
      else hit.select("h").distinct()
    val storeHits = grams.join(broadcast(inStore), Seq("h"))
      .select("doc_id", "p")
    // within-batch first-occurrence rule, batch-scoped (the dedupSubstr
    // map-side-combinable groupBy min)
    val firsts = grams.groupBy("h")
      .agg(min(struct(col("doc_id"), col("p"))).as("__first__"))
    val batchHits = grams.join(firsts, Seq("h"))
      .filter(struct(col("doc_id"), col("p")) =!= col("__first__"))
      .select("doc_id", "p")
    Curation.substrCoverage(toked,
      storeHits.union(batchHits).distinct(), k)
  }

  /** Score one batch against the index and itself, drop the mostly-
    * duplicated docs, append the SURVIVORS' grams, return the survivors
    * with their coverage stats — the single rolling-crawl step
    * ([[streamingDedup]] runs it per micro-batch). Drop rule,
    * deterministic: a doc survives iff `kept_frac >= minKeep` under the
    * [[dedupAgainst]] contract (within-batch positions are marked by the
    * order-based first-occurrence rule whether or not the earlier doc
    * itself survives — the whole-corpus [[Curation.dedupSubstr]]
    * semantics); only surviving docs' grams enter the index, so the
    * store holds exactly the retained text ([[DedupIndex.dedupStep]] is
    * the MinHash sibling).
    *
    * The survivor frame is EAGERLY LOCAL-CHECKPOINTED, not persist()ed,
    * before the append: the gram store carries no doc identity, so a
    * post-append re-evaluation of the probe plan would find the
    * survivors' own just-appended grams and return nothing — and Spark
    * DOES re-resolve it: the append's InsertIntoHadoopFsRelation refresh
    * invalidates any cached plan that reads the postings path
    * (observed: a persist()+count() survivor frame came back empty).
    * [[DedupIndex.dedupStep]] tolerates re-evaluation because its probe
    * join is identity-self-excluding (`s.doc_id =!= q.doc_id`); this
    * store has no identity to exclude, so the checkpoint severs the
    * lineage instead — the returned plan is a LogicalRDD with no file
    * dependency at all. */
  def dedupStep(spark: SparkSession, dir: String, batch: DataFrame,
                minKeep: Double = 0.5): DataFrame = {
    // eager: materialized against the PRE-append index snapshot
    val survivors = dedupAgainst(spark, dir, batch)
      .filter(col("kept_frac") >= minKeep)
      .localCheckpoint(true)
    append(dir, batch.join(survivors.select("doc_id"), Seq("doc_id")))
    survivors
  }

  /** Streaming rolling-crawl substring dedup: document micro-batches →
    * [[dedupStep]] via `foreachBatch` — the [[DedupIndex.streamingDedup]]
    * construct and rationale (the operator's state IS the parquet gram
    * store: bigger than any state-store budget, shared with batch
    * callers, restart-safe — resume probes whatever the index holds).
    * Caller starts the returned writer (`.start()` + await). */
  def streamingDedup(stream: DataFrame, dir: String,
                     minKeep: Double = 0.5)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // the step reads the batch several times (grams, coverage, the
      // append's re-derivation) — pin one snapshot
      batch.persist()
      try {
        val survivors = dedupStep(batch.sparkSession, dir, batch, minKeep)
        try sink(survivors) finally { survivors.unpersist(); () }
      } finally { batch.unpersist(); () }
    }

  /** Layout migration guard: a store built before the counted-partial
    * layout holds h-only postings and no `docids.parquet`. Its READ path
    * ([[dedupAgainst]]) still works — presence probes never touch `cnt`,
    * and no tombstones can exist on such a store — but every maintenance
    * op would silently corrupt it: append would mix (h) and (h, cnt)
    * schemas (vacuum's Σcnt then nulls out — and drops — every
    * pre-migration gram), and remove/vacuum need the docids ledger, which
    * cannot be reconstructed (the gram store carries no doc identity).
    * So maintenance FAILS FAST with the only exact migration: rebuild
    * from the retained corpus. Detection is one filesystem metadata op. */
  private def requireCountedLayout(spark: SparkSession, dir: String,
                                   op: String): Unit =
    require(Docids.exists(spark, dir),
      s"SubstrIndex.$op($dir): store predates the counted-partial layout " +
        "(no docids.parquet ledger). Reads still work, but maintenance on " +
        "the old layout would silently drop grams. Migrate by rebuilding: " +
        "SubstrIndex.build(<retained corpus>, dir) — exact, one corpus pass.")

  private def readParams(spark: SparkSession, dir: String): (Int, Int) = {
    val m = Meta.read(spark, dir).head()
    (m.getAs[Int]("k"), m.getAs[Int]("parts"))
  }
}
