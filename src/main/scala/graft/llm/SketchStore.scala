package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.StoreOps
import graft.sources.StoreOps.Table

/** Persistent corpus-statistics store — the [[Sketches]] quartet as a
  * rolling-crawl lifecycle ([[DedupIndex]] / [[CentroidStore]] are the
  * dedup/model siblings): build once, then fold every new crawl batch into
  * the SAME fixed-size summaries, so corpus-wide cardinality, frequency and
  * length-distribution questions stay answerable without ever rescanning
  * the corpus. Because every sketch merge is exact (register max, cell sum,
  * bin sum — the laws SketchSpec pins), a store maintained incrementally is
  * BIT-IDENTICAL to one built from the whole corpus in one pass: the gate
  * key runs build(half)+append(rest) against the whole-corpus SQL replica.
  *
  * Layout under `dir` (all parquet, model-sized — bounded by
  * register/cell/bin counts × batches-since-compact, never corpus size).
  * Each table holds MERGE-ON-READ PARTIALS, one batch's sketch per
  * build/append (the [[graft.sources.RollupStore]] rule):
  *   - `hll.parquet`   (group, idx, mreg)  folded by max(mreg)
  *   - `cms.parquet`   (j, c, cnt)         folded by sum(cnt)
  *   - `qbins.parquet` (group, bin, cnt)   folded by sum(cnt)
  *   - `kmv.parquet`   (group, h)          folded by per-group k-smallest
  *     distinct (r16 — [[Sketches.kmvSketch]] minima; KMV's merge law
  *     K(A∪B) = k-smallest(K(A)∪K(B)) makes the fold exact like the rest)
  *
  * Partials are what make [[append]] a PURE WRITE — the store is never
  * read-merge-overwritten, so a batch-keyed commit
  * ([[StoreOps.Table.append]]) makes appends idempotent on
  * streaming replay (the read-merge-overwrite alternative can never be:
  * replaying a fold after a crash between overwrite and checkpoint
  * double-counts the sum-merged sketches). Every fold is commutative,
  * associative and exact (max / long-sum), so fold order never matters
  * and [[compact]] can collapse the history back to one partial per key
  * with nothing observable changing.
  *
  * NO removal API, by design — unlike its tombstoning siblings
  * ([[DedupIndex.remove]], [[SubstrIndex.remove]],
  * [[CentroidStore.remove]], [[SearchIndex.remove]], [[AnnIndex.remove]]):
  * HLL registers are a MAX over hashed ranks and max is not invertible —
  * a departed doc's contribution to a register cannot be subtracted
  * because the register does not know whether a surviving doc produced
  * the same rank (CMS cell sums could be subtracted, quantile bins too,
  * but serving a mixed store where one sketch forgets and the others
  * cannot would misreport). Retention for sketches is therefore REBUILD:
  * re-run [[build]] over the surviving corpus — a single pass producing
  * the same bounded frames, scheduled at vacuum cadence. */
object SketchStore {

  private[graft] val Hll = Table("hll")
  private val Cms = Table("cms")
  private val Qbins = Table("qbins")
  private val Kmv = Table("kmv")

  /** Sketch `docs` and write a fresh store (one partial per table).
    * `groupCol` keys the HLL and quantile sketches; `valueCol`
    * (non-negative integer) feeds the quantile bins. */
  def build(docs: DataFrame, dir: String, groupCol: String = "lang",
            valueCol: String = "n_chars", d: Int = 4, w: Int = 1024): Unit =
    StoreOps.Lease.withLease(docs.sparkSession, dir) {
    // four disjoint-table folds off the one pinned frame — concurrent
    // (guide §2.6; StoreOps.overlap)
    StoreOps.overlap(partials(docs, groupCol, valueCol, d, w).map { case (t, df) =>
      () => t.write(df.coalesce(1), dir)
    })
  }

  /** One batch's partial sketch per table. */
  private def partials(docs: DataFrame, groupCol: String, valueCol: String,
                       d: Int, w: Int): Seq[(Table, DataFrame)] = {
    val toks = tokensOf(docs, groupCol)
    Seq(Hll -> Sketches.hllRegistersOf(toks, groupCol),
      Cms -> Sketches.cmsCountersOf(toks, d, w),
      Qbins -> Sketches.quantileBins(docs, valueCol, groupCol),
      Kmv -> kmvRows(toks, groupCol))
  }

  /** The batch's exploded (group, token) stream, PINNED: hll, cms and kmv
    * all fold from this one frame, so each mutation runs tokenize+explode
    * over the batch once instead of three times (the r18 shared-frame
    * rule — same results, one materialization; qbins reads plain columns
    * and needs no tokens). */
  private def tokensOf(docs: DataFrame, groupCol: String): DataFrame =
    docs.select(col(groupCol), explode(Dedup.tokens(col("text"))).as("token"))
      .localCheckpoint()

  /** A batch's per-group KMV minima as storable (group, h) rows, from the
    * shared token frame. */
  private def kmvRows(toks: DataFrame, groupCol: String): DataFrame =
    Sketches.kmvSketch(toks, groupCol, "token")
      .select(col("shard").as(groupCol), explode(col("hs")).as("h"))

  /** Fold a new batch into the store: appends the batch's OWN sketch as
    * partial rows — one batch scan per sketch, three bounded pure writes;
    * neither the store nor the batch is ever re-read. `batchId` commits
    * the partials under batch-keyed names so a replayed batch (streaming
    * failure recovery) never double-counts. */
  def append(docs: DataFrame, dir: String, groupCol: String = "lang",
             valueCol: String = "n_chars", d: Int = 4, w: Int = 1024,
             batchId: Option[Long] = None): Unit =
    StoreOps.Lease.withLease(docs.sparkSession, dir) {
    // four pure partial appends into disjoint tables — concurrent
    // (guide §2.6); per-table idempotency is the batch-keyed file name,
    // unaffected by submission order
    StoreOps.overlap(partials(docs, groupCol, valueCol, d, w).map { case (t, df) =>
      () => t.append(df.coalesce(1), dir, batchId)
    })
  }

  /** Streaming sketch maintenance: fold each micro-batch into an already-
    * [[build]]t store — state lives in the parquet store (the
    * [[SearchIndex.streamingBuild]] construct), every completed trigger is
    * visible to the read paths, and the batch-keyed commit makes
    * failure-recovery replays exactly-once. Caller starts the writer. */
  def streamingBuild(stream: DataFrame, dir: String,
                     groupCol: String = "lang", valueCol: String = "n_chars",
                     d: Int = 4, w: Int = 1024)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StoreOps.streamingAppend(stream)((batch, bid) =>
      append(batch, dir, groupCol, valueCol, d, w, Some(bid)))

  /** Collapse the per-batch partials back to one row per key (register
    * max / cell sum / bin sum — the exact merges, so nothing observable
    * changes) and one file per table. Write-aside-and-swap: the rewrite
    * reads the files it replaces. */
  def compact(dir: String, groupCol: String = "lang"): Unit =
    StoreOps.compact(dir, Seq(Hll, Cms, Qbins, Kmv), {
      case Hll => foldHll(_, groupCol)
      case Cms => foldCms
      case Qbins => foldQbins(_, groupCol)
      case _ => foldKmv(_, groupCol).select(col(groupCol), col("h")) // Kmv
    })

  // ---- the folds over stored partials (bounded: keys × batches-since-compact) ----
  private def foldHll(hll: DataFrame, groupCol: String): DataFrame =
    hll.groupBy(col(groupCol), col("idx")).agg(max("mreg").as("mreg"))

  private def foldCms(cms: DataFrame): DataFrame =
    cms.groupBy("j", "c").agg(sum("cnt").as("cnt"))

  private def foldQbins(qbins: DataFrame, groupCol: String): DataFrame =
    qbins.groupBy(col(groupCol), col("bin")).agg(sum("cnt").as("cnt"))

  /** Per-group k-smallest distinct stored minima (+ their rank). The
    * window frame is groups × k × batches-since-compact — store-bounded,
    * never corpus-bounded. */
  private def foldKmv(kmv: DataFrame, groupCol: String,
                      k: Int = Sketches.KmvK): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("h")
    kmv.distinct().withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Per-group distinct-count estimates from the stored registers. */
  def hllEstimates(spark: SparkSession, dir: String,
                   groupCol: String = "lang"): DataFrame =
    Sketches.hllEstimateFromRegisters(foldHll(Hll.read(spark, dir), groupCol), groupCol)

  /** Per-group distinct-count estimates from the stored KMV minima:
    * exact size when the whole set fit under k, else (k−1)·M / h_k —
    * the [[Sketches]] estimator over the folded store. */
  def kmvEstimates(spark: SparkSession, dir: String,
                   groupCol: String = "lang",
                   k: Int = Sketches.KmvK): DataFrame =
    foldKmv(Kmv.read(spark, dir), groupCol, k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_mins"),
        max(when(col("rk") === k, col("h"))).as("__hk__"))
      .select(col(groupCol), col("n_mins"),
        round(when(col("n_mins") < k, col("n_mins").cast("double"))
          .otherwise(lit(Sketches.KmvNumerator) / col("__hk__").cast("double")),
          6).as("est"))

  /** Per-group quantile estimates from the stored bins. */
  def quantiles(spark: SparkSession, dir: String, groupCol: String = "lang",
                qs: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    Sketches.quantileEstimates(foldQbins(Qbins.read(spark, dir), groupCol), groupCol, qs)

  /** Count-min estimates for a probe frame with a `token` column: min over
    * the d salted cells — counters broadcast, probe streams. */
  def freqLookup(spark: SparkSession, dir: String, probe: DataFrame,
                 d: Int = 4, w: Int = 1024): DataFrame = {
    val counters = foldCms(Cms.read(spark, dir))
    probe.select(col("token")).distinct()
      .select(col("token"), explode(array((0 until d).map(lit): _*)).as("j"))
      .select(col("token"), col("j"),
        Sketches.cmsCell(col("j"), col("token"), w).as("c"))
      .join(broadcast(counters), Seq("j", "c"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }
}
