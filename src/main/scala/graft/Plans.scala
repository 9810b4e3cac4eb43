package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Regenerates PLANS.md: `.explain("formatted")` evidence for the headline
  * queries plus executed-plan scan/exchange counts (post-AQE, after one run).
  *
  * Usage: runMain graft.Plans [sfDir]
  */
object Plans {
  /** Every query whose plan shape PLANS.md documents. PlansSpec asserts a
    * `## name` section exists for each, so adding a headline query without
    * regenerating the file fails `sbt test` — the file can't silently go
    * stale again. */
  val Headline = Seq(
    "select_eq", "resample_1h", "rate_1h", "increase_1h", "hist_quantile",
    "sum_by", "avg_by", "sum_without", "subquery_max", "quantile_over_time_1h",
    "binop_vv", "topk", "quantile_by", "q3_join",
    "dedup_minhash", "dedup_simhash", "dedup_ngram", "dedup_embed",
    "dedup_clusters", "ann_lsh", "ann_ivf", "corpus_curate",
    // round 8 additions
    "decontaminate", "mix_budget", "sample_stratified", "embed_project",
    "at_modifier", "scalar_norm", "text_repetition", "text_pii",
    "group_ratio", "mad_over_time_1h", "dedup_spans", "limitk", "pack_blocks",
    // round 9 additions
    "rate_resets_1h", "native_quantile", "irate_resets_1h", "ann_pq",
    "decontaminate_embed",
    // round 10 additions
    "ann_ivfpq", "events_asof", "events_asof_near", "native_rate_quantile",
    "native_sum_rate_quantile", "mix_temperature", "span_corrupt",
    "chunk_overlap", "dsir_weight", "events_attrib", "ann_ivfpq_rr",
    "events_rate_window",
    // round 11 additions
    "dedup_substr", "native_custom_quantile", "dedup_semdedup",
    "dedup_incremental", "text_tokens_bpe", "text_classifier",
    "text_perplexity", "mix_cluster", "ann_index", "predict_linear_1h",
    // round 12 additions
    "classifier_train", "dedup_substr_incremental", "dedup_media",
    "dedup_semdedup_incremental", "vocab_build", "text_tfidf",
    "shard_assign", "bpe_roundtrip", "ann_sq", "mix_perplexity",
    "text_gopher", "dedup_winnow",
    "decontaminate_bloom", "sketch_hll", "sketch_cms", "sketch_quantile",
    "sketch_store",
    "search_bm25", "search_index", "dedup_keep_best", "rollup_avg_1h",
    "rollup_last_1h", "embed_pca",
    // round 13 additions
    "rollup_eval_1h", "search_hybrid", "mine_negatives",
    "search_hybrid_index",
    // round 15 additions
    "ann_filtered", "ann_mmr", "ann_sign", "ann_sign_mih", "events_funnel",
    "events_retention", "events_transitions", "q1_cube", "sample_weighted",
    "search_ql", "search_rm3", "search_sdm", "search_retention",
    "shard_balanced", "split_leakage", "text_perplexity_kn",
    "tokenize_unigram", "tokenize_wordpiece", "tokenize_fertility",
    "zorder_key", "q22_antijoin", "events_rolling", "events_pivot",
    "text_blocklist", "q14_promo", "q5_region",
    // round 16 additions
    "tokenize_raw_unigram", "tokenize_raw_wordpiece", "dedup_allpairs",
    "media_frames", "media_resize",
    "q4_priority", "q6_forecast", "q7_volume", "q10_returns", "q17_smallqty",
    "sketch_kmv", "chunk_cdc", "bucketed_join",
    "dedup_editdist", "text_collocations", "skew_salted_join",
    "q8_share", "q9_profit", "q13_distribution", "q15_topsupplier",
    "q19_disjunct", "q21_waiting", "merge_upsert",
    "text_nfc", "dedup_editdist_lookup",
    // round 17 additions
    "bpe_raw", "pack_ffd", "dedup_domain", "text_boilerplate",
    // round 18 additions
    "dedup_domain_psl", "tokenizer_store", "text_extract_html",
    "warc_parse", "search_rm3_index", "search_ql_index", "search_sdm_index",
    "extract_links", "link_pagerank", "link_prior", "robots_filter",
    "link_harmonic",
    "search_bm25f")

  /** Every PARTITION-LESS WindowExec allowed in a headline plan, keyed by
    * (query, window output columns) — with WHY its single-task window is
    * safe (the frame it sorts is MODEL-bounded, never the corpus). The
    * generator enumerates the occurrences it finds into the
    * "## partition-less windows" section; any occurrence missing from
    * this map is rendered UNEXPLAINED, and PlansSpec fails on it (the
    * r14 "bench tail warnings" pin: a global window over a corpus-sized
    * frame is a one-task sort that melts at scale and must never slip in
    * silently). */
  val BoundedGlobalWindows: Map[(String, String), String] = Map(
    ("pack_blocks", "_we0") ->
      ("decomposed global offset: the single-task window sums the " +
        "per-bucket token-mass aggregate (one row per doc_id/bucketWidth " +
        "bucket), the corpus-sized cumulative offset is bucket-local"),
    ("pack_ffd", "_we0") ->
      ("bucket bin-count bases: the single-task window prefix-sums the " +
        "one-row-per-bucket packed aggregate (N/bucketWidth rows); the " +
        "FFD walk itself is in-row per bucket"),
    ("shard_balanced", "_we0") ->
      ("decomposed global rank: the window runs over the per-band " +
        "summary aggregate, not the corpus-sized token frame"),
    ("vocab_build", "_we0") ->
      ("band bases over the (cnt, prefix) aggregate — distinct band " +
        "keys, far fewer rows than the vocabulary, itself minCount-bounded"),
    ("mix_temperature", "_we0") ->
      ("share normalization over the per-source token-mass frame " +
        "(one row per source — a model frame)"),
    ("mix_cluster", "_we0") ->
      ("share normalization over the per-cluster mass frame " +
        "(one row per centroid — nCentroids-bounded)"),
    ("dsir_weight", "tr,tt") ->
      ("corpus/target totals over the hash-bucket count frame " +
        "(one row per bucket, bounded by the buckets knob, 4096)"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // Optional 2nd arg: comma-separated query names — print their executed
    // scan/exchange counts to stdout WITHOUT rewriting PLANS.md (targeted
    // plan iteration; the committed file only regenerates on a full run).
    val only = args.lift(1).map(_.split(",").toSet)
    val spark = Harness.session("graft-plans")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the headline queries\n\n")
    sb.append(s"Generated by `runMain graft.Plans` at $sfDir. What to look for:\n")
    sb.append("pushed filters at the scans, broadcast joins for dimensions, running\n")
    sb.append("window frames on the series key, partial aggregation before shuffles,\n")
    sb.append("WholeStageCodegen spans over the arithmetic. The `executed:` line\n")
    sb.append("counts parquet scans and exchanges in the POST-RUN adaptive plan —\n")
    sb.append("the number of passes over the input and of shuffles actually paid.\n")
    sb.append("\n## Findings that postdate the plans below\n\n")
    sb.append("- **avg_by vs sum_by (re-opened r9, closed r10 with stronger evidence)**:\n")
    sb.append("  the physical plans are node-for-node identical (24 nodes, zero type\n")
    sb.append("  diffs — diffed via explainString(formatted) at sf0.1). Interleaved A/B\n")
    sb.append("  in one JVM converges to equal steady states in BOTH orders (sum-first:\n")
    sb.append("  1.42/1.47s; avg-first: 1.43/1.45s). Across four alternating solo-JVM\n")
    sb.append("  benches the gap FLIPS SIGN (sum 1.50 vs avg 1.91, then sum 2.11 vs avg\n")
    sb.append("  1.76) — so the r9 artifact gap is ambient-load + per-JVM warmup\n")
    sb.append("  variance, not the Average aggregate. Any future re-open needs an\n")
    sb.append("  interleaved same-JVM A/B showing a gap, not two solo numbers.\n")
    sb.append("- **limitk measurement history**: the r9 'regression' (1.67s SURVEY\n")
    sb.append("  snapshot to 4.30s fleet median) was measurement, not code: at the\n")
    sb.append("  snapshot commit 2573c40 itself, a 6-run solo bench measures 2.71s\n")
    sb.append("  median — SLOWER than the unmodified HEAD (2.29s) back-to-back on the\n")
    sb.append("  same machine. The 1.67s claim was a lucky run; no regressing commit\n")
    sb.append("  exists. r10 then made limitk actually fast (next bullet).\n")
    sb.append("- **limitk/limit_ratio push below the resample**: both select SERIES, a\n")
    sb.append("  choice invariant under resample, so Eval now applies them to the raw\n")
    sb.append("  selector frame and resamples only survivors. limitk also swaps its\n")
    sb.append("  full-frame (group, ts) rank window for a distinct-(group, series) rank\n")
    sb.append("  + broadcast semi-join (samples never shuffle). Solo-bench medians:\n")
    sb.append("  limitk 2.29s -> 1.03s, limit_ratio ~1.19s -> 0.65s, both gate-exact.\n")
    sb.append("- **Trusted-store read is shuffle-free**: `MetricStore.readMetric` over a\n")
    sb.append("  `TsSink`-partitioned store plans zero Exchange nodes; the regression is\n")
    sb.append("  pinned by MetricStoreSpec (\"no Exchange in the readMetric plan\").\n")

    val globalWindows = scala.collection.mutable.ArrayBuffer[(String, String)]()

    Headline.filter(n => only.forall(_.contains(n))).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      // count over the walked post-run plan, not its printed string: a
      // cached frame (InMemoryTableScan) PRINTS its child plan under every
      // consumer, so string counting would bill a once-materialized
      // subtree once per consumer (mix_perplexity's shared perplexity
      // frame showed 2× its real scans)
      val nodes = Harness.executedNodes(df.queryExecution.executedPlan)
      // every WindowExec with NO partition spec: a single-task sort whose
      // input must be model-bounded to survive scale
      nodes.collect { case w: WindowExec if w.partitionSpec.isEmpty =>
        w.windowExpression.map(_.name).mkString(",") }.distinct
        .foreach(cols => globalWindows += ((name, cols)))
      val scans = nodes.count {
        case s: FileSourceScanExec => s.relation.fileFormat.toString.contains("Parquet")
        case _ => false }
      val broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
      val exchanges = broadcasts + nodes.count(_.isInstanceOf[ShuffleExchangeExec])
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n")
      sb.append(s"executed: $scans parquet scan(s), $exchanges exchange(s) " +
        s"($broadcasts broadcast)\n\n```\n")
      // the operator tree + scan details; drop the long per-node I/O listings
      val lines = plan.split("\n")
      val treeEnd = lines.indexWhere(_.startsWith("(1) Scan"), 1)
      val tree = if (treeEnd > 0) lines.take(treeEnd) else lines
      sb.append(tree.mkString("\n").trim)
      val pushed = lines.filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
      if (pushed.nonEmpty) sb.append("\n\n" + pushed.mkString("\n"))
      sb.append("\n```\n")
      if (only.isDefined)
        println(s"[plans] $name: $scans parquet scan(s), $exchanges exchange(s) " +
          s"($broadcasts broadcast)")
    }
    if (only.isDefined) { spark.stop(); return }
    sb.append("\n## partition-less windows\n\n")
    sb.append("Every WindowExec with no PARTITION BY across all headline plans —\n")
    sb.append("each is a single-task sort, safe ONLY because its input frame is\n")
    sb.append("model-bounded (PlansSpec fails any occurrence not explained in\n")
    sb.append("`Plans.BoundedGlobalWindows`):\n\n")
    if (globalWindows.isEmpty) sb.append("(none)\n")
    globalWindows.distinct.sortBy(identity).foreach { case (q, cols) =>
      val why = BoundedGlobalWindows.getOrElse((q, cols), "UNEXPLAINED")
      sb.append(s"- `$q` [$cols]: $why\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${Headline.length} queries)")
    spark.stop()
  }
}
