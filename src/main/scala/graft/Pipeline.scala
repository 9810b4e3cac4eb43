package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{AnnIndex, CentroidStore, Curation, Dedup, DedupIndex,
  SearchIndex, SketchStore, SubstrIndex, TextAnalysis}

/** End-to-end training-data curation runner: the spark-submit-able
  * composition of the library's LLM operators over a documents table —
  * what a user runs to turn a raw crawl dump into a training-ready corpus.
  *
  * Stages (each one a library operator; every intermediate is a lazy
  * DataFrame, so Catalyst plans the whole DAG together):
  *   0. Gopher rule battery    — optional boolean pre-filter (cheapest
  *                               first: zero-shuffle map, shrinks all
  *                               downstream stages)
  *   1. exact dedup            — keep-first on normalized content hash
  *   2. near-dup clustering    — MinHash+LSH pairs → connected components,
  *                               keep each cluster's smallest doc_id
  *   3. span dedup stats       — C4-style passage-removal accounting
  *   4. quality + language     — scores joined onto survivors
  *   5. PII redaction          — survivors' text scrubbed
  *   6. quality floor + mix    — drop the low-quality tail, then cap each
  *                               source at a token budget (banded cutoff)
  *   7. sequence packing       — block spans for the final keeper set
  *
  * Usage: runMain graft.Pipeline <docsDir> <outDir>
  *          [--budget <tokens-per-source>] [--min-quality <0..1>]
  *          [--benchmark <eval-set.jsonl>] [--chunks <size>,<stride>]
  *          [--gopher <minWords>,<minStop>]  (rule-battery pre-filter)
  *          [--state-dir <dir>]  (incremental mode — see below)
  *          [--embeddings]       (with --state-dir: also semantic-dedup
  *                                against the stored centroid model, using
  *                                `<docsDir>/embeddings.parquet`)
  *          [--serve-dir <dir>]  (retrieval serving — see below)
  *          [--warc]             (input rows are raw WARC streams — stage
  *                                -4 parses records, keeps intact HTTP-200
  *                                text/html responses, synthesizes doc ids
  *                                and urls, and forces --extract-html)
  *          [--normalize NFC|NFKC] (Unicode normalization as stage -1 —
  *                               run before any byte-keyed stage)
  *          [--link-prior <iters>] (PageRank host-rank prior over the
  *                                crawl's own link graph as stage -0.75;
  *                                host_rank_fp/host_rank ride into the
  *                                corpus — a prior, not a filter)
  *          [--no-stats]         (skip per-stage stats AND their
  *                                full-corpus localCheckpoint pins —
  *                                the at-scale setting)
  *
  * INCREMENTAL MODE (`--state-dir`): the rolling-crawl composition of the
  * persistent stores. The first run seeds `<state>/minhash`
  * ([[graft.llm.DedupIndex]]), `<state>/substr` ([[graft.llm.SubstrIndex]]),
  * `<state>/sketches` ([[graft.llm.SketchStore]]) and — with
  * `--embeddings` — `<state>/centroids` ([[graft.llm.CentroidStore]]) from
  * the batch's dedup survivors. Every later run dedups its batch against
  * everything those stores already hold (near-dup, substring and semantic,
  * each store probed with the batch broadcast — no prior crawl is ever
  * rescanned), appends the new survivors, and folds the kept docs into the
  * sketch store so corpus-wide stats stay one bounded read away. Batches
  * must arrive with monotonically increasing doc_ids (the store
  * first-occurrence convention: earlier id = earlier crawl).
  *
  * RETRIEVAL SERVING (`--serve-dir`): closes the loop from crawl to
  * QUERYABLE corpus. After each run, the released docs' REDACTED text
  * builds/extends `<serve>/search` ([[graft.llm.SearchIndex]] — BM25
  * inverted index) and, with `--embeddings`, their vectors build/extend
  * `<serve>/ann` ([[graft.llm.AnnIndex]] — IVF×PQ), so
  * [[graft.llm.Search.hybridFromStores]] answers hybrid queries over
  * every batch ever released without touching the raw crawls. Serving
  * from the redacted text keeps scrubbed PII out of retrieval results,
  * the same rule the chunked view follows. Both appends are pure maps
  * over the batch (frozen model / frozen tokenization) — serve-store
  * maintenance costs O(batch) regardless of corpus age.
  *
  * Writes `<outDir>/corpus` (doc_id, text_redacted, lang, quality_score,
  * source, first_block, last_block, block_offset, plus
  * host_rank_fp/host_rank under --link-prior) and prints one JSON
  * stats line per stage. Stage frames are localCheckpoint-pinned at each
  * stat boundary, so every stage runs its upstream exactly ONCE — the
  * stats are block-counts over the pinned partitions, not re-executions
  * of the DAG (and multiply-consumed stages like the dedup survivor set
  * are computed once instead of once per downstream branch). At corpus
  * scale those pins ARE a cost (N stage-copies of the survivors in
  * executor storage as a side effect of printing stats lines), so
  * `--no-stats` turns both off: no stage counts, and the only pin left in
  * one-shot mode is the near-dup LOSER ID SET (one long column — the
  * multiply-consumed dedup stage then re-reads parquet per branch but
  * never re-runs the LSH). Incremental mode keeps its pins either way:
  * there they sever lineage from stores the run appends to — a
  * correctness requirement, not a stats convenience. All pins are
  * unpersisted before run() returns (the returned frame re-reads the
  * written corpus, so it outlives them).
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--")).toSeq
    def flagValue(name: String): Option[String] =
      args.indexOf(name) match { case -1 => None; case i => args.lift(i + 1) }
    if (positional.length < 2)
      sys.error("usage: Pipeline <docsDir> <outDir> [--budget <n>] [--min-quality <q>] [--benchmark <jsonl>] [--chunks <size>,<stride>] [--gopher <minWords>,<minStop>] [--warc] [--extract-html] [--robots <parquet>] [--domain-cap <n>] [--psl builtin|<file>] [--boilerplate <minDocs>] [--link-prior <iters>] [--tokenizer ws|bpe|bpe_raw|unigram_raw] [--tokenizer-dir <store>]")
    val Seq(docsDir, outDir) = positional.take(2)
    val budget = flagValue("--budget").map(_.toLong).getOrElse(1000000L)
    val minQuality = flagValue("--min-quality").map(_.toDouble).getOrElse(0.2)
    val benchmarkPath = flagValue("--benchmark")
    val chunkSpec = flagValue("--chunks").map { s =>
      val Array(a, b) = s.split(","); (a.toInt, b.toInt)
    }
    val gopherSpec = flagValue("--gopher").map { s =>
      val Array(a, b) = s.split(","); (a.toLong, b.toInt)
    }
    val stateDir = flagValue("--state-dir")
    val warcMode = args.contains("--warc")
    val extractHtml = args.contains("--extract-html")
    val domainCap = flagValue("--domain-cap").map(_.toInt)
    // registrable-domain table for --domain-cap: 'builtin' = the curated
    // PublicSuffixes.Common subset, anything else = a local copy of the
    // full publicsuffix.org file; absent = last-two-labels fallback
    val psl = flagValue("--psl").map {
      case "builtin" => graft.llm.PublicSuffixes.Common
      case path      => graft.llm.PublicSuffixes.load(path)
    }
    val boilerplate = flagValue("--boilerplate").map(_.toInt)
    val linkPrior = flagValue("--link-prior").map(_.toInt)
    val robots = flagValue("--robots")
    // --tokenizer-dir <store> budgets/packs/chunks with a persisted
    // TokenizerStore model (trained once, frozen — the dir:<path>
    // tokenizer option); mutually exclusive with --tokenizer
    val tokenizer = (flagValue("--tokenizer"), flagValue("--tokenizer-dir")) match {
      case (Some(t), None)    => t
      case (None, Some(d))    => s"dir:$d"
      case (None, None)       => "ws"
      case (Some(_), Some(_)) =>
        sys.error("pass --tokenizer OR --tokenizer-dir, not both")
    }
    val normalize = flagValue("--normalize") // NFC | NFKC
    val serveDir = flagValue("--serve-dir")
    val withEmb = args.contains("--embeddings")
    val noStats = args.contains("--no-stats")

    val spark = Harness.session("graft-pipeline", Harness.ServePartitions)

    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    run(spark, docs, outDir, budget, minQuality,
      benchmark = benchmarkPath.map(p => Curation.loadBenchmark(spark, p)),
      chunks = chunkSpec, gopher = gopherSpec, stateDir = stateDir,
      serveDir = serveDir, stats = !noStats, tokenizer = tokenizer,
      warc = warcMode, extractHtml = extractHtml,
      domainCap = domainCap, psl = psl, boilerplate = boilerplate,
      linkPrior = linkPrior, robots = robots,
      normalize = normalize,
      embeddings = if (withEmb)
        Some(spark.read.parquet(s"$docsDir/embeddings.parquet")) else None)
    spark.stop()
  }

  /** The composition itself, separated from arg parsing so specs can drive
    * it on an in-memory frame. Returns the final curated corpus, re-read
    * from `<outDir>/corpus` — lineage-free, so it stays valid after the
    * run's pinned frames are unpersisted on return. */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
          budget: Long, minQuality: Double,
          benchmark: Option[DataFrame] = None,
          chunks: Option[(Int, Int)] = None,
          gopher: Option[(Long, Int)] = None,
          stateDir: Option[String] = None,
          serveDir: Option[String] = None,
          embeddings: Option[DataFrame] = None,
          minJaccard: Double = 0.8, minKeep: Double = 0.5,
          semTau: Double = 0.95, stats: Boolean = true,
          tokenizer: String = "ws",
          normalize: Option[String] = None,
          warc: Boolean = false,
          extractHtml: Boolean = false,
          domainCap: Option[Int] = None,
          psl: Option[graft.llm.PublicSuffixes] = None,
          boilerplate: Option[Int] = None,
          linkPrior: Option[Int] = None,
          robots: Option[String] = None,
          annParams: AnnIndex.Params = AnnIndex.Params()): DataFrame = {
    // pinned frames are freed in the finally below — run() is a library
    // entry point called repeatedly (specs, drivers); without the
    // unpersist every call would leak its stage copies into executor
    // storage for the life of the session
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      runPinned(spark, docs, outDir, budget, minQuality, benchmark, chunks,
        gopher, stateDir, serveDir, embeddings, minJaccard, minKeep, semTau,
        stats, tokenizer, normalize, warc, extractHtml, domainCap, psl,
        boilerplate, linkPrior, robots, annParams, pins)
    } finally pins.foreach { p => p.unpersist(); () }
  }

  private def runPinned(spark: SparkSession, docs: DataFrame, outDir: String,
          budget: Long, minQuality: Double, benchmark: Option[DataFrame],
          chunks: Option[(Int, Int)], gopher: Option[(Long, Int)],
          stateDir: Option[String], serveDir: Option[String],
          embeddings: Option[DataFrame], minJaccard: Double, minKeep: Double,
          semTau: Double, stats: Boolean, tokenizer: String,
          normalize: Option[String], warc: Boolean, extractHtml: Boolean,
          domainCap: Option[Int],
          psl: Option[graft.llm.PublicSuffixes], boilerplate: Option[Int],
          linkPrior: Option[Int], robots: Option[String],
          annParams: AnnIndex.Params,
          pins: scala.collection.mutable.ArrayBuffer[DataFrame]): DataFrame = {
    // n is by-name: with stats off the counts are never computed at all
    def stat(stage: String, n: => Long): Unit =
      if (stats) println(s"""{"stage":"$stage","rows":$n}""")
    // one scan per stage: pin the survivors, then count the pinned blocks
    // (an un-pinned stat would re-execute every upstream stage, and the
    // multiply-consumed frames below would re-execute once per branch).
    // With stats off, pin() is identity — no full-corpus frame is ever
    // materialized for bookkeeping (the 100 TB rule); only idPin below
    // and incremental mode's lineage pins remain.
    def pin(stage: String, df: DataFrame): DataFrame =
      if (!stats) df
      else {
        val p = df.localCheckpoint(true)
        pins += p
        stat(stage, p.count())
        p
      }
    // a doc_id-only pin (one long column — model-sized next to the docs):
    // bounds re-execution of the expensive dedup stage in no-stats mode
    def idPin(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(true)
      pins += p
      p
    }
    stat("input", docs.count()) // parquet metadata count — nothing upstream

    // -4 (optional): WARC record parsing — crawl BYTES in. Each input row
    // is one fetched WARC stream (a .warc file as a binary column); the
    // intact HTTP-200 text/html responses become the pipeline's documents.
    // doc_id = stream_id << 20 | rec_idx — deterministic and order-free
    // (no zipWithIndex), monotone whenever stream ids are, so the
    // incremental-mode first-occurrence convention survives the fan-out;
    // a stream with ≥2^20 records trips raise_error instead of silently
    // colliding keys. Stream-level `source` rides along by the stream key
    // (absent → the literal "warc"); url = WARC-Target-URI feeds the
    // domain cap, html feeds extraction (forced on below — the body IS
    // raw HTML, nothing downstream can consume it unextracted).
    val paged =
      if (!warc) docs
      else {
        require(docs.columns.contains("warc"),
          "--warc requires a 'warc' binary column in the input")
        val resp = graft.llm.Warc.responses(docs)
        val withSrc =
          if (docs.columns.contains("source"))
            resp.join(docs.select(col("doc_id"), col("source")), "doc_id")
          else resp.withColumn("source", lit("warc"))
        withSrc
          .withColumn("doc_id",
            when(col("rec_idx") >= lit(1L << 20), raise_error(concat(
              lit("--warc: rec_idx overflows the 20-bit record key: "),
              col("rec_idx"))))
              .otherwise(shiftleft(col("doc_id"), 20) + col("rec_idx")))
          .drop("rec_idx")
      }

    // -3 (optional): HTML main-content extraction — the crawl pipeline's
    // actual step 0: everything downstream assumes a `text` column, and
    // this is where it comes from when the input is raw pages. Before
    // the domain cap only by convention (the cap reads url, not text);
    // before EVERYTHING content-based by necessity.
    val texted =
      if (!extractHtml && !warc) paged
      else {
        require(paged.columns.contains("html"),
          "--extract-html requires an 'html' column in the input")
        require(warc || paged.filter(col("html").isNull).isEmpty,
          "--extract-html requires non-null html (found null rows)")
        // the ROW variant: spec-pinned ≡ mainContent, measured parity at
        // sf0.1 (SURVEY §6's ExtractBench table) — and it carries zero
        // shuffle, which is what matters on a real cluster where the
        // explode twin's groupBy(doc_id) re-join moves the whole corpus
        // over the network
        pin("after_extract_html",
          paged.drop("text").join(
            graft.llm.Extract.mainContentRow(paged)
              .select(col("doc_id"), col("text")), "doc_id"))
      }

    // -2.5 (optional): robots.txt compliance — the POLICY cut, before
    // any statistical one: a disallowed fetch must not be laundered into
    // the corpus by surviving the content stages. The robots table
    // (host, robots_txt) is hosts-sized; the verdict join broadcasts, so
    // this stage costs one corpus map + the pin.
    val complied = robots.fold(texted) { robotsPath =>
      require(texted.columns.contains("url"),
        "--robots requires a 'url' column in the input")
      val rules = graft.llm.Robots.rules(spark.read.parquet(robotsPath))
      pin("after_robots",
        texted.join(
          graft.llm.Robots.allowed(texted, rules)
            .filter(col("allowed")).select("doc_id"), "doc_id"))
    }

    // -2 (optional): per-URL dedup + per-domain cap — the RefinedWeb
    // FIRST filter; runs before anything content-based because it is
    // the cheapest cut (a key aggregate + a salted top-N over doc ids;
    // no text is ever touched) and crawl pipelines run it first
    val capped = domainCap.fold(complied) { cap =>
      require(complied.columns.contains("url"),
        "--domain-cap requires a 'url' column in the input")
      // NULL urls would all collapse onto ONE canonical key (min-keep
      // keeps one of them, the rest vanish without a stage stat) — a
      // crawl row without a URL is malformed input, so fail loudly
      // (one pruned single-column scan)
      require(complied.filter(col("url").isNull).isEmpty,
        "--domain-cap requires non-null urls (found null url rows)")
      pin("after_domain_cap",
        complied.join(Curation.domainDedup(complied, "url", cap, psl = psl)
          .select("doc_id"), "doc_id"))
    }

    // -1 (optional): Unicode normalization — a zero-shuffle per-row map
    // that must run before ANY byte-keyed stage (exact-dedup hashes,
    // gram sets, chunk hashes all treat e+◌́ and é as different bytes);
    // no pin: it changes no row count and fuses into the next stage
    val canon = normalize.fold(capped) { mode =>
      capped.withColumn("text",
        TextAnalysis.normalizeUnicode(col("text"), mode))
    }

    // -0.75 (optional): host-rank quality prior — PageRank over the
    // crawl's own host link graph ([[graft.llm.LinkGraph]]), attached as
    // host_rank_fp/host_rank columns riding through every later stage
    // into the written corpus (a PRIOR for downstream consumers, not a
    // filter: a fresh crawl's tail hosts are unranked, not bad). Runs on
    // the capped+normalized frame so discarded dup pages don't vote;
    // the rank join is broadcast by host — zero corpus shuffle.
    val priored = linkPrior.fold(canon) { iters =>
      require(canon.columns.contains("url") && canon.columns.contains("html"),
        "--link-prior requires 'url' and 'html' columns (the crawl frame)")
      val ranks = graft.llm.LinkGraph.pageRank(
        graft.llm.LinkGraph.hostEdges(canon), iters)
      stat("link_prior_hosts", ranks.count())
      graft.llm.LinkGraph.withDocPrior(canon, ranks)
    }

    // -0.5 (optional): cross-document boilerplate line removal — after
    // normalization (the line hash is byte-keyed) and BEFORE any content
    // scoring or dedup, so banners never count as shared content in the
    // near-dup stages or as quality signal; the doc's text is REWRITTEN
    val stripped = boilerplate.fold(priored) { minDocs =>
      require(priored.columns.contains("source"),
        "--boilerplate requires a 'source' column (the per-site scope)")
      // LEFT join + coalesce: a NULL-text doc explodes to no lines and
      // gets no clean_text row — it passes through unchanged instead of
      // silently vanishing from the corpus on the inner join
      pin("after_boilerplate",
        priored.join(
          Curation.removeBoilerplate(priored, minDocs)
            .select(col("doc_id"), col("clean_text")), Seq("doc_id"), "left")
          .withColumn("text", coalesce(col("clean_text"), col("text")))
          .drop("clean_text"))
    }

    // 0a (optional): the Gopher rule battery as a hard pre-filter — the
    // boolean gate runs BEFORE the scored stages (cheapest first: it is a
    // zero-shuffle map, and everything downstream shrinks with it)
    val ruled = gopher.fold(stripped) { case (minWords, minStop) =>
      pin("after_gopher_rules",
        stripped.join(TextAnalysis.gopherRules(stripped, minWords = minWords,
            minStop = minStop)
          .filter(col("pass")).select("doc_id"), "doc_id"))
    }

    // 0: benchmark decontamination — docs sharing any word 5-gram with the
    // held-out eval set never enter the training corpus (GPT-3 appendix C).
    val clean = benchmark.fold(ruled) { bench =>
      val keepers = Curation.decontaminateAgainst(ruled, bench)
        .filter(!col("contaminated")).select("doc_id")
      pin("after_decontamination", ruled.join(keepers, "doc_id"))
    }

    // 1-2: exact dedup, then near-dup resolution on the survivors —
    // batch-local (one-shot mode) or against the persistent crawl state
    // (incremental mode: the batch probes the stores, never the reverse)
    val exactKeepers = Dedup.exact(clean).select("doc_id")
    val afterExact = clean.join(exactKeepers, "doc_id")
    val deduped = stateDir match {
      case None =>
        if (stats) pin("after_dedup", dedupLocal(afterExact, minJaccard))
        else dedupLocal(afterExact, minJaccard, pinIds = idPin)
      case Some(sd) =>
        // dedupIncremental returns an already-pinned frame (its lineage
        // must be severed from the stores it appended to) — counting it
        // is a block count, no second checkpoint needed
        val d = dedupIncremental(spark, sd, afterExact,
          embeddings, minJaccard, minKeep, semTau, stats, pins)
        pins += d
        stat("after_dedup", d.count())
        d
    }

    // 3: passage-removal accounting rides along as columns
    val spanStats = Curation.dedupSpans(deduped)
      .select(col("doc_id"), col("kept_frac").as("span_kept_frac"))

    // 4-5: scores + language + redacted text
    val quality = TextAnalysis.quality(deduped).select("doc_id", "quality_score")
    val lang = TextAnalysis.languageId(deduped).select("doc_id", "pred_lang")
    val redacted = TextAnalysis.pii(deduped, col("text"))
      .select(col("doc_id"), col("redacted").as("text_redacted"))

    val scored = deduped
      .join(quality, "doc_id").join(lang, "doc_id")
      .join(redacted, "doc_id").join(spanStats, "doc_id")
      .filter(col("quality_score") >= minQuality)
    stat("after_quality_floor", scored.count())

    // 6: per-source token budget over the quality-floored survivors
    // the budget tokenizer is a knob: "ws" (gate default), "bpe",
    // "bpe_raw" (GPT-2 byte-level — every byte priced, lossless), or
    // "unigram_raw" (byte-fallback subword counts — case and multi-byte
    // chars priced, the budget a real training run wants)
    val mixed = Curation.mixByBudget(
      scored.select("doc_id", "text", "source"), budget, tokenizer)
      .select("doc_id")
    val kept = scored.join(mixed, "doc_id")
    stat("after_budget_mix", kept.count())

    // 7: pack the final keeper set into training blocks
    val packed = Curation.packSequences(kept.select("doc_id", "text"),
      blockSize = 2048L, tokenizer = tokenizer)
      .select("doc_id", "first_block", "last_block", "block_offset")

    // host_rank columns (when --link-prior ran) ride into the corpus —
    // the prior is FOR downstream consumers, so it must be in the output
    val outCols = Seq("doc_id", "text_redacted", "pred_lang",
      "quality_score", "span_kept_frac", "source") ++
      Seq("host_rank_fp", "host_rank").filter(kept.columns.contains)
    val corpus = kept
      .select(outCols.map(col): _*)
      .join(packed, "doc_id")
    corpus.write.mode("overwrite").parquet(s"$outDir/corpus")
    stat("corpus", spark.read.parquet(s"$outDir/corpus").count())

    // incremental mode: fold the RELEASED docs into the sketch store
    // (lang-keyed HLL/quantiles + token count-min), so corpus-wide stats
    // accumulate across crawls without ever rescanning a prior batch
    stateDir.foreach { sd =>
      val released = canon.join(
        spark.read.parquet(s"$outDir/corpus").select("doc_id"), "doc_id")
      val sk = s"$sd/sketches"
      if (storeExists(spark, s"$sk/qbins.parquet"))
        SketchStore.append(released, sk)
      else SketchStore.build(released, sk)
      stat("sketch_store_groups",
        SketchStore.hllEstimates(spark, sk).count())
    }

    // 7.5 (optional): RETRIEVAL SERVING — build-or-extend the queryable
    // stores from the docs this run RELEASED, so hybridFromStores answers
    // over every batch ever released without touching raw crawls. Lexical
    // from the REDACTED text (scrubbed PII never enters retrieval), dense
    // from the released docs' vectors against the frozen serve model.
    // Both appends are pure maps over the batch (frozen model / frozen
    // tokenization) — serve-store maintenance costs O(batch) regardless
    // of corpus age.
    serveDir.foreach { srv =>
      val released = spark.read.parquet(s"$outDir/corpus")
      val searchDocs = released
        .select(col("doc_id"), col("text_redacted").as("text"))
      val sp = s"$srv/search"
      if (storeExists(spark, s"$sp/stats.parquet"))
        SearchIndex.append(sp, searchDocs)
      else SearchIndex.build(searchDocs, sp)
      stat("serve_search_docs",
        spark.read.parquet(s"$sp/doclens.parquet").count())
      embeddings.foreach { emb =>
        val vecs = emb.select("vec_id", "embedding")
          .join(released.select(col("doc_id").as("vec_id")), "vec_id")
        val ap = s"$srv/ann"
        if (storeExists(spark, s"$ap/meta.parquet")) AnnIndex.append(ap, vecs)
        else AnnIndex.build(vecs, ap, annParams)
        stat("serve_ann_vecs", spark.read.parquet(s"$ap/codes.parquet")
          .select("vec_id").distinct().count())
      }
    }

    // 8 (optional): a RAG-ready chunked view of the curated corpus —
    // sliding windows over the REDACTED text, so chunks never resurface
    // PII the corpus itself scrubbed. Map-only over the emitted parquet.
    chunks.foreach { case (size, stride) =>
      Curation.chunkOverlap(
        spark.read.parquet(s"$outDir/corpus")
          .select(col("doc_id"), col("text_redacted").as("text")),
        size, stride)
        .write.mode("overwrite").parquet(s"$outDir/chunks")
      stat("chunks", spark.read.parquet(s"$outDir/chunks").count())
    }

    // 9: the data card — what a corpus release ships next to the parquet
    // (one aggregation job over the emitted corpus; approx percentiles are
    // the right tool at corpus scale, exactness buys nothing in a summary)
    writeDataCard(spark, outDir, docs.count())
    spark.read.parquet(s"$outDir/corpus")
  }

  /** One-shot near-dup stage: MinHash-LSH pairs → connected components,
    * keep each cluster's smallest doc_id (first-occurrence-wins).
    * `pinIds` (no-stats mode) pins the loser ID SET — the only part worth
    * materializing: downstream branches then re-read parquet + anti-join
    * instead of re-running the LSH pair generation per branch. */
  private def dedupLocal(afterExact: DataFrame, minJaccard: Double,
      pinIds: DataFrame => DataFrame = identity): DataFrame = {
    val pairs = Dedup.minhashLsh(afterExact, minJaccard = minJaccard)
      .select(col("doc_a"), col("doc_b"))
    val clusters = Dedup.duplicateClusters(pairs) // (doc_id, cluster)
    val nearDupLosers = pinIds(clusters.filter(col("doc_id") =!= col("cluster"))
      .select("doc_id"))
    afterExact.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** Incremental near-dup stage against the persistent crawl state.
    *
    * First run (no `<state>/minhash` yet): runs the one-shot stage
    * batch-locally (plus substring and — with embeddings — semantic
    * dedup, so every store starts from the same survivor set), then
    * SEEDS each store from the survivors.
    *
    * Later runs: each store's `dedupStep`/`semDedupAgainst` probe — the
    * batch dedups against everything indexed before it AND within itself
    * under that store's own first-occurrence rule, and only survivors'
    * postings/grams/vectors are appended. Store order is cheapest-
    * strongest first (MinHash drops whole near-dup docs before the
    * substring probe prices partial overlap; the semantic probe sees only
    * what survived both). Every probe broadcasts the batch side — prior
    * crawls are never rescanned or reshuffled ([[graft.llm.DedupIndex]]
    * scaladoc has the full scale argument).
    *
    * Returns the surviving batch docs (all columns). The semantic stage
    * keys `embeddings.vec_id` to `doc_id`. */
  private def dedupIncremental(spark: SparkSession, sd: String,
      afterExact: DataFrame, embeddings: Option[DataFrame],
      minJaccard: Double, minKeep: Double, semTau: Double,
      stats: Boolean,
      pins: scala.collection.mutable.ArrayBuffer[DataFrame]): DataFrame = {
    def stat(stage: String, n: => Long): Unit =
      if (stats) println(s"""{"stage":"$stage","rows":$n}""")
    val mh = s"$sd/minhash"; val sub = s"$sd/substr"; val cen = s"$sd/centroids"
    if (!storeExists(spark, s"$mh/meta.parquet")) {
      // first crawl: batch-local dedup, then seed the stores
      val d1 = dedupLocal(afterExact, minJaccard)
      val cov = Curation.dedupSubstr(d1).filter(col("kept_frac") >= minKeep)
      val d2 = d1.join(cov.select("doc_id"), "doc_id")
      val d3 = embeddings.fold(d2) { emb =>
        val vecs = emb.select("vec_id", "embedding")
          .join(d2.select(col("doc_id").as("vec_id")), "vec_id")
        val keep = Dedup.semDedup(vecs, semTau).filter(col("keep"))
          .select(col("vec_id").as("doc_id"))
        CentroidStore.build(
          vecs.join(keep.select(col("doc_id").as("vec_id")), "vec_id"), cen)
        d2.join(keep, "doc_id")
      }
      // the stores hold exactly the retained text/vectors; localCheckpoint
      // pins the survivor set (the SubstrIndex lineage rule) before the
      // seed writes it three ways
      val seed = d3.localCheckpoint(true)
      pins += seed
      DedupIndex.build(seed, mh)
      SubstrIndex.build(seed, sub)
      stat("state_seeded", seed.count())
      seed
    } else {
      val s1 = DedupIndex.dedupStep(spark, mh, afterExact, minJaccard)
      stat("after_minhash_state", s1.count())
      val s2 = s1.join(
        SubstrIndex.dedupStep(spark, sub, s1, minKeep).select("doc_id"),
        "doc_id")
      stat("after_substr_state", s2.count())
      val out = embeddings.fold(s2) { emb =>
        val vecs = emb.select("vec_id", "embedding")
          .join(s2.select(col("doc_id").as("vec_id")), "vec_id")
        // eager: the verdicts must pin against the PRE-append member store
        val sem = CentroidStore.semDedupAgainst(spark, cen, vecs, semTau)
          .localCheckpoint(true)
        pins += sem
        val keep = sem.filter(col("keep")).select(col("vec_id"))
        CentroidStore.append(cen, vecs.join(keep, "vec_id"))
        s2.join(keep.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      }
      // pin the survivors BEFORE releasing s1: out's lazy plan reads both
      // the persisted s1 and the just-appended stores, so only a severed
      // lineage is safe to hand downstream
      val pinned = out.localCheckpoint(true)
      s1.unpersist() // dedupStep's contract: caller unpersists when done
      pinned
    }
  }

  private def storeExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Aggregate release metadata over `<outDir>/corpus`: language/source
    * mix, token-count percentiles (of the emitted text), quality-score
    * quartiles, span-dedup survival, block span. Written as
    * `<outDir>/datacard.json` (single driver-side JSON — the aggregate is
    * a handful of rows by construction). */
  private[graft] def writeDataCard(spark: SparkSession, outDir: String,
                                   inputRows: Long): Unit = {
    val c = spark.read.parquet(s"$outDir/corpus")
      .withColumn("__tok__", Curation.tokCount(col("text_redacted")))
    val summary = c.agg(
      count(lit(1)).as("rows"),
      sum("__tok__").as("total_tokens"),
      expr("approx_percentile(__tok__, array(0.1, 0.5, 0.9))")
        .as("tok_p10_p50_p90"),
      expr("approx_percentile(quality_score, array(0.25, 0.5, 0.75))")
        .as("quality_quartiles"),
      avg("span_kept_frac").as("avg_span_kept"),
      max("last_block").as("max_block")).head()
    def arr(a: Seq[Any]): String = a.mkString("[", ",", "]")
    val mixes = Seq("pred_lang", "source").map { dim =>
      val rows = c.groupBy(dim).count().orderBy(col(dim))
        .collect().map(r => s""""${r.get(0)}": ${r.getLong(1)}""")
      s""""${dim}_mix": {${rows.mkString(", ")}}"""
    }
    val json =
      s"""{"input_rows": $inputRows, "rows": ${summary.getLong(0)},
         |"total_tokens": ${summary.getLong(1)},
         |"tok_p10_p50_p90": ${arr(summary.getSeq[Any](2))},
         |"quality_quartiles": ${arr(summary.getSeq[Any](3))},
         |"avg_span_kept": ${summary.getDouble(4)},
         |"max_block": ${summary.getLong(5)},
         |${mixes.mkString(",\n")}}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "datacard.json"), json + "\n")
    println(s"""{"stage":"datacard","path":"$outDir/datacard.json"}""")
  }
}
