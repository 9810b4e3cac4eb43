package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{AnnIndex, CentroidStore, DedupIndex, SearchIndex,
  SketchStore, SubstrIndex}
import graft.functions.RangeKernel
import graft.operators.Grid
import graft.sources.{MergeStore, RollupStore, StoreOps}

/** Store-scale lifecycle ledger — the artifact the sf0.01 gate and the sf1
  * correctness ledger cannot produce: WALL-TIME SLOPES for the seven
  * persistent stores as the corpus grows 10×, plus the physical
  * observables that first bite at scale (file counts after micro-batch
  * append litter, the biggest single partition a store directory holds).
  *
  * For each factor F (default 10 and 100 over sf0.1 → sf1- and
  * sf10-shaped corpora) and each store, the FULL lifecycle is timed
  * phase by phase:
  *
  *   build(60%) → append ×3 (10% each) → probe(10%) →
  *   remove(~1%) → probe-after-remove → vacuum → probe-after-vacuum →
  *   compact
  *
  * The splits key on `id % 10` (base 0–5, appends 6/7/8, probe 9), so
  * they are deterministic, disjoint, and replica-mixing — every append
  * batch carries its share of ScaleUp's exact-duplicate clusters, the
  * realistic crawl shape. RollupStore splits on TIME instead (the
  * recording-rule shape: history build + daily appends), and SketchStore
  * has no removal phases (rebuild-only by design — HLL register max is
  * not invertible; [[graft.llm.SketchStore]] Scaladoc).
  *
  * A healthy store shows: probe time ~flat in store size modulo the
  * partition-pruned slice it must read (sub-linear slope), build/append
  * ~linear (they scan their input once), vacuum ~linear in store size
  * (it rewrites the store), and file counts collapsing to one per
  * partition directory after compact. Super-linear anything = a skew or
  * fan-out bug this ledger exists to catch.
  *
  * Usage: runMain graft.StoreScale <srcSfDir> <workDir> [factors]
  * Emits one JSON line per (factor, store, phase) and writes the full
  * ledger to `<workDir>/storescale.json`.
  */
object StoreScale {

  private val results = scala.collection.mutable.ArrayBuffer
    .empty[(Int, String, String, Double, Long)] // factor, store, phase, sec, rows

  private def timed(factor: Int, store: String, phase: String)
                   (body: => Any): Unit = {
    val run = Harness.run(SparkSession.active) {
      body match {
        case df: Dataset[_] => df.count() // force lazy probes
        case _ => -1L
      }
    }
    val (sec, rows) = (run.secs, run.value)
    results += ((factor, store, phase, math.rint(sec * 1000) / 1000, rows))
    println(f"""{"factor":$factor,"store":"$store","phase":"$phase","sec":$sec%.3f,"rows":$rows,"jobs":${run.jobs}}""")
  }

  /** Physical observables after the lifecycle: total parquet files, store
    * bytes, and the largest single partition-key row count (the skew
    * gauge — one giant band/cluster/prefix is what melts an executor). */
  private def physicals(spark: SparkSession, factor: Int, store: String,
                        dir: String, t: StoreOps.Table): Unit =
    physicals(spark, factor, store, t.path(dir), t.partitionBy.headOption)

  private def physicals(spark: SparkSession, factor: Int, store: String,
                        table: String, partKey: Option[String]): Unit = {
    val files = StoreOps.parquetFileCount(spark, table)
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    val maxPart = partKey.map { k =>
      spark.read.parquet(table).groupBy(col(k))
        .agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
    }.getOrElse(-1L)
    results += ((factor, store, "files", files.toDouble, -1L))
    results += ((factor, store, "bytes", bytes.toDouble, -1L))
    results += ((factor, store, "max_partition_rows", maxPart.toDouble, -1L))
    println(s"""{"factor":$factor,"store":"$store","files":$files,"bytes":$bytes,"max_partition_rows":$maxPart}""")
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val factors = args.lift(2).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(10, 100))
    val spark = Harness.session("graft-storescale")
    Harness.warmUp(spark)

    for (f <- factors) {
      val data = s"$work/sf_x$f"
      println(s"== deriving factor-$f corpus under $data ==")
      ScaleUp.derive(spark, src, data, f,
        Set("documents", "embeddings", "events"))
      runLifecycles(spark, f, data, s"$work/stores_x$f")
    }

    // one JSON artifact for the ledger table
    val json = results.map { case (f, s, p, v, r) =>
      s"""{"factor":$f,"store":"$s","phase":"$p","value":$v,"rows":$r}"""
    }.mkString("[\n", ",\n", "\n]")
    val out = new java.io.PrintWriter(s"$work/storescale.json")
    out.write(json); out.close()
    println(s"ledger -> $work/storescale.json")
    spark.stop()
  }

  private def runLifecycles(spark: SparkSession, f: Int, data: String,
                            stores: String): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text", "lang", "n_chars")
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .select("vec_id", "embedding")

    def split(df: DataFrame, k: String, m: Seq[Int]) =
      df.filter(pmod(col(k), lit(10)).isin(m.map(Int.box): _*))
    val dBase = split(docs, "doc_id", 0 to 5)
    val dApp = (6 to 8).map(i => split(docs, "doc_id", Seq(i)))
    val dProbe = split(docs, "doc_id", Seq(9))
    // constant ABSOLUTE size across factors (base/10 rows whatever f is):
    // the store-scaling component of probe cost, separated from the
    // batch-scaling component — the plain `probe` phases use the
    // 10%-of-corpus split, which grows 10x per factor step, so their
    // slopes conflate the two (the r15 ledger read that conflation as a
    // store-scaling problem). Still a subset of the unindexed 9-split.
    val dProbeFixed = docs.filter(pmod(col("doc_id"), lit(10L * f)) === 9)
    val eProbeFixed = emb.filter(pmod(col("vec_id"), lit(10L * f)) === 9)
    // ~1% removal set, spread across replicas
    val dGone = docs.filter(pmod(col("doc_id"), lit(100)) === 3)
      .select("doc_id")
    val dGoneFull = docs.filter(pmod(col("doc_id"), lit(100)) === 3)
    val eBase = split(emb, "vec_id", 0 to 5)
    val eApp = (6 to 8).map(i => split(emb, "vec_id", Seq(i)))
    val eProbe = split(emb, "vec_id", Seq(9))
    val eGone = emb.filter(pmod(col("vec_id"), lit(100)) === 3)
      .select("vec_id")

    // cluster counts grow with the corpus so |cluster| stays bounded —
    // the SemDeDup/FAISS scaling rule, the knob a 100 TB run turns
    val nVecs = emb.count()
    val nCents = math.max(16, math.min(1024,
      math.ceil(math.sqrt(nVecs.toDouble)).toInt))

    { // ---- DedupIndex (MinHash-LSH postings + gram sets) ----
      val dir = s"$stores/dedup"
      timed(f, "DedupIndex", "build")(DedupIndex.build(dBase, dir))
      dApp.zipWithIndex.foreach { case (b, i) =>
        timed(f, "DedupIndex", s"append${i + 1}")(DedupIndex.append(dir, b)) }
      timed(f, "DedupIndex", "probe")(
        DedupIndex.dedupAgainst(spark, dir, dProbe))
      timed(f, "DedupIndex", "probe_fixed")(
        DedupIndex.dedupAgainst(spark, dir, dProbeFixed))
      timed(f, "DedupIndex", "remove")(DedupIndex.remove(dir, dGone))
      timed(f, "DedupIndex", "probe_removed")(
        DedupIndex.dedupAgainst(spark, dir, dProbe))
      timed(f, "DedupIndex", "vacuum")(DedupIndex.vacuum(dir))
      timed(f, "DedupIndex", "probe_vacuumed")(
        DedupIndex.dedupAgainst(spark, dir, dProbe))
      timed(f, "DedupIndex", "compact")(DedupIndex.compact(dir))
      physicals(spark, f, "DedupIndex", dir, DedupIndex.Postings)
    }

    { // ---- SubstrIndex (counted gram store) ----
      val dir = s"$stores/substr"
      timed(f, "SubstrIndex", "build")(SubstrIndex.build(dBase, dir))
      dApp.zipWithIndex.foreach { case (b, i) =>
        timed(f, "SubstrIndex", s"append${i + 1}")(SubstrIndex.append(dir, b)) }
      timed(f, "SubstrIndex", "probe")(
        SubstrIndex.dedupAgainst(spark, dir, dProbe))
      timed(f, "SubstrIndex", "probe_fixed")(
        SubstrIndex.dedupAgainst(spark, dir, dProbeFixed))
      timed(f, "SubstrIndex", "remove")(SubstrIndex.remove(dir, dGoneFull))
      timed(f, "SubstrIndex", "probe_removed")(
        SubstrIndex.dedupAgainst(spark, dir, dProbe))
      timed(f, "SubstrIndex", "vacuum")(SubstrIndex.vacuum(dir))
      timed(f, "SubstrIndex", "probe_vacuumed")(
        SubstrIndex.dedupAgainst(spark, dir, dProbe))
      physicals(spark, f, "SubstrIndex", dir, SubstrIndex.Postings)
    }

    { // ---- CentroidStore (frozen k-means membership) ----
      val dir = s"$stores/centroid"
      timed(f, "CentroidStore", "build")(
        CentroidStore.build(eBase, dir, nCentroids = nCents))
      eApp.zipWithIndex.foreach { case (b, i) =>
        timed(f, "CentroidStore", s"append${i + 1}")(
          CentroidStore.append(dir, b)) }
      timed(f, "CentroidStore", "probe")(
        CentroidStore.semDedupAgainst(spark, dir, eProbe, 0.95))
      timed(f, "CentroidStore", "probe_fixed")(
        CentroidStore.semDedupAgainst(spark, dir, eProbeFixed, 0.95))
      timed(f, "CentroidStore", "remove")(CentroidStore.remove(dir, eGone))
      timed(f, "CentroidStore", "probe_removed")(
        CentroidStore.semDedupAgainst(spark, dir, eProbe, 0.95))
      timed(f, "CentroidStore", "vacuum")(CentroidStore.vacuum(dir))
      timed(f, "CentroidStore", "probe_vacuumed")(
        CentroidStore.semDedupAgainst(spark, dir, eProbe, 0.95))
      timed(f, "CentroidStore", "compact")(CentroidStore.compact(dir))
      physicals(spark, f, "CentroidStore", dir, CentroidStore.Members)
    }

    { // ---- AnnIndex (IVF×PQ codes) ----
      val dir = s"$stores/ann"
      val p = AnnIndex.Params(nCentroids = nCents)
      val q = eProbe.limit(100).localCheckpoint()
      timed(f, "AnnIndex", "build")(AnnIndex.build(eBase, dir, p))
      eApp.zipWithIndex.foreach { case (b, i) =>
        timed(f, "AnnIndex", s"append${i + 1}")(AnnIndex.append(dir, b)) }
      timed(f, "AnnIndex", "probe")(
        AnnIndex.query(spark, dir, q, 10, nprobe = 8))
      timed(f, "AnnIndex", "remove")(AnnIndex.remove(dir, eGone))
      timed(f, "AnnIndex", "probe_removed")(
        AnnIndex.query(spark, dir, q, 10, nprobe = 8))
      timed(f, "AnnIndex", "vacuum")(AnnIndex.vacuum(dir))
      timed(f, "AnnIndex", "probe_vacuumed")(
        AnnIndex.query(spark, dir, q, 10, nprobe = 8))
      timed(f, "AnnIndex", "compact")(AnnIndex.compact(dir))
      physicals(spark, f, "AnnIndex", dir, AnnIndex.Codes)
    }

    { // ---- SketchStore (HLL/CMS/quantile quartet; rebuild-only) ----
      val dir = s"$stores/sketch"
      timed(f, "SketchStore", "build")(SketchStore.build(dBase, dir))
      dApp.zipWithIndex.foreach { case (b, i) =>
        timed(f, "SketchStore", s"append${i + 1}")(
          SketchStore.append(b, dir)) }
      timed(f, "SketchStore", "probe")(SketchStore.hllEstimates(spark, dir))
      timed(f, "SketchStore", "probe_quantiles")(
        SketchStore.quantiles(spark, dir))
      physicals(spark, f, "SketchStore", dir, SketchStore.Hll)
    }

    { // ---- SearchIndex (BM25 inverted index) ----
      val dir = s"$stores/search"
      val qs = Seq(1L -> "alpha beta gamma", 2L -> "data pipeline spark",
        3L -> "quick brown fox").toDF("query_id", "qtext")
      timed(f, "SearchIndex", "build")(SearchIndex.build(dBase, dir))
      dApp.zipWithIndex.foreach { case (b, i) =>
        timed(f, "SearchIndex", s"append${i + 1}")(
          SearchIndex.append(dir, b)) }
      timed(f, "SearchIndex", "probe")(
        SearchIndex.search(spark, dir, qs, topK = 10))
      timed(f, "SearchIndex", "remove")(SearchIndex.remove(dir, dGone))
      timed(f, "SearchIndex", "probe_removed")(
        SearchIndex.search(spark, dir, qs, topK = 10))
      timed(f, "SearchIndex", "vacuum")(SearchIndex.vacuum(dir))
      timed(f, "SearchIndex", "probe_vacuumed")(
        SearchIndex.search(spark, dir, qs, topK = 10))
      timed(f, "SearchIndex", "compact")(SearchIndex.compact(dir))
      physicals(spark, f, "SearchIndex", dir, SearchIndex.Postings)
    }

    { // ---- RollupStore (5m downsampling; time-split like production) ----
      val dir = s"$stores/rollup"
      val s = Model.withSkey(
        graft.queries.TsQueries.events(spark, data)).localCheckpoint()
      val bounds = s.agg(min(Model.TsCol), max(Model.TsCol)).head()
      val (t0, t1) = (bounds.getDouble(0), bounds.getDouble(1))
      val mid = t0 + (t1 - t0) * 0.6
      val day = (t1 - t0) * 0.1
      timed(f, "RollupStore", "build")(RollupStore.build(
        s.filter(col(Model.TsCol) <= mid), dir, 300.0))
      (1 to 3).foreach { i =>
        timed(f, "RollupStore", s"append$i")(RollupStore.append(dir,
          s.filter(col(Model.TsCol) > mid + (i - 1) * day &&
            col(Model.TsCol) <= mid + i * day))) }
      // probe grids must land on bucket boundaries (the store's documented
      // alignment contract — grid_t and range multiples of res): t0 is a
      // raw sample timestamp, so ceil it onto the 300 s lattice; the
      // 3600 s step keeps every later point aligned
      val g0 = math.ceil((t0 + 3600) / 300.0) * 300.0
      timed(f, "RollupStore", "probe")(
        RollupStore.overTime(spark, RollupStore.register(spark, dir), "events",
          Grid(g0, g0 + 3600 * 23, 3600.0), 3600.0, RangeKernel.AvgOverTime))
      timed(f, "RollupStore", "retention")(
        RollupStore.retention(dir, math.ceil((t0 + day) / 300.0) * 300.0))
      timed(f, "RollupStore", "compact")(RollupStore.compact(dir))
      val g1 = math.ceil((t0 + day + 3600) / 300.0) * 300.0
      timed(f, "RollupStore", "probe_compacted")(
        RollupStore.overTime(spark, RollupStore.register(spark, dir), "events",
          Grid(g1, g1 + 3600 * 23, 3600.0), 3600.0, RangeKernel.AvgOverTime))
      physicals(spark, f, "RollupStore", dir, RollupStore.Rollup)
    }

    { // ---- MergeStore (copy-on-write keyed upsert) ----
      val dir = s"$stores/merge"
      // buckets sized to ~constant rows each (the deployment rule), so
      // nBuckets grows with the corpus and single-bucket merge cost is
      // the law under test: FLAT across factors = O(touched), not O(store)
      val nBuckets = math.max(16, (dBase.count() / 2000L).toInt)
      timed(f, "MergeStore", "init")(
        MergeStore.init(dBase, dir, "doc_id", nBuckets))
      // growing batch: a 10%-of-corpus insert wave (disjoint split)
      timed(f, "MergeStore", "merge_grow")(MergeStore.merge(spark, dir,
        dApp.head.withColumn("text", concat(col("text"), lit(" v2")))))
      // single-bucket batch: every key hashing to bucket 0 — touched
      // data is ONE bucket (~constant bytes under the rows/bucket rule)
      val b0 = dBase.filter(
        pmod(crc32(col("doc_id").cast("string")), lit(nBuckets.toLong)) === 0)
      timed(f, "MergeStore", "merge_1bkt")(MergeStore.merge(spark, dir,
        b0.withColumn("text", concat(col("text"), lit(" v3")))))
      // constant-size takedown set (the probe_fixed convention)
      timed(f, "MergeStore", "delete_fixed")(MergeStore.delete(spark, dir,
        dProbeFixed.select("doc_id")))
      timed(f, "MergeStore", "read")(MergeStore.read(spark, dir))
      physicals(spark, f, "MergeStore", s"$dir/data", Some("bkt"))
    }
  }
}
