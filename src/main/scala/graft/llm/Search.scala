package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.StoreOps
import graft.sources.StoreOps.Table

/** Lexical retrieval over the document corpus: BM25 scoring plus the
  * persistent inverted-index lifecycle ([[SearchIndex]]). This is the
  * sparse half of the retrieval stack — [[Ann]] covers the dense half —
  * and the workhorse behind retrieval-based data selection (select
  * pretraining docs relevant to a target task), RAG corpus serving, and
  * contamination forensics ("which corpus docs does this eval question
  * retrieve?").
  *
  * Scoring is Okapi BM25 (Robertson et al., TREC-3) with the Lucene
  * non-negative IDF: for query term t and document d,
  *
  *   idf(t)     = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
  *   w(t, d)    = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   score(q,d) = Σ_{t ∈ distinct(q)} w(t, d)
  *
  * with the Robertson defaults k1=1.2, b=0.75. Query-side term frequency
  * is ignored (distinct query terms — the Lucene practice; repeated query
  * words are vanishingly rare and keeping the query side a SET keeps the
  * probe broadcast minimal).
  *
  * Scale shape: ONE corpus scan → token explode → (doc, token) partial
  * counts (map-side combinable, fan-out bounded by doc length); df is a
  * vocabulary-keyed aggregate over QUERY TERMS ONLY (the broadcast query
  * join prunes first, so the df shuffle is bounded by |query terms| ·
  * matching docs, not corpus vocabulary); corpus stats (N, Σdl) ride a
  * one-row broadcast crossJoin; the final top-k is a per-query window
  * whose frame is that query's candidate set. Nothing is keyed on corpus
  * size; the query table is always the broadcast side.
  *
  * Determinism: per-term weights are IEEE double chains evaluated with
  * the SAME expression tree in the DuckDB oracle; the per-(query, doc)
  * sum is rounded to 6 decimals (the [[Curation.dsirWeights]] rule) and
  * ties rank by (score desc, doc_id asc) in both engines.
  */
object Search {

  /** The corpus tokenization convention ([[Vocab]]/[[TextAnalysis.tfidf]]):
    * maximal `[a-z0-9]+` runs over the lowercased text. */
  private[llm] def toks(c: String = "text") =
    expr(s"regexp_extract_all(lower($c), '[a-z0-9]+', 0)")

  /** Pin a frame shared by several scoring passes: reliable `checkpoint`
    * when a checkpoint dir is configured (cluster), else `localCheckpoint`
    * (the single-JVM tools) — the [[Dedup.semDedup]] / dsir_weight
    * shared-frame rule. Catalyst replays a lazy frame's whole subtree once
    * PER CONSUMER, so before this rule was applied here the r17
    * `search_rm3` plan read `documents.parquet` SEVENTEEN times (each of
    * the two scoring passes, the RM1 join and the stats frames re-derived
    * the tokenize + explode + groupBy chain) — at 100 TB that is ~6
    * redundant full-corpus tokenize passes traded here for ONE
    * materialization of the tokenized frame. */
  private[llm] def pin(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
  }

  /** (doc_id, __tk__): the tokenized corpus — the single shared root every
    * postings/stats derivation (unigram AND bigram) folds from, so a
    * ranker that pins THIS frame tokenizes the corpus exactly once no
    * matter how many features it scores. */
  private[llm] def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks().as("__tk__"))

  /** (doc_id, token, tf, dl) from a [[tokenized]] frame: term frequencies
    * with the doc's token length carried inline — the posting-list row.
    * dl rides the groupBy key (it is functionally dependent on doc_id),
    * saving a corpus-sized join. */
  private[llm] def postingsOf(tk: DataFrame): DataFrame =
    tk.select(col("doc_id"), size(col("__tk__")).cast(LongType).as("dl"),
        explode(col("__tk__")).as("token"))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).cast(LongType).as("tf"))
      .select("token", "doc_id", "tf", "dl")

  /** [[postingsOf]] straight from the document frame (single-consumer
    * callers — the persistent-index write paths share [[tokenized]]
    * instead). */
  private[llm] def postings(docs: DataFrame): DataFrame =
    postingsOf(tokenized(docs))

  /** One-row (n_docs, sum_dl) corpus stats from a [[tokenized]] frame — N
    * counts EVERY doc including token-less ones (they contribute 0 to
    * sum_dl), matching the oracle's `count(*)` over the corpus split. */
  private[llm] def corpusStatsOf(tk: DataFrame): DataFrame =
    tk.select(size(col("__tk__")).cast(LongType).as("__dl__"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        coalesce(sum("__dl__"), lit(0L)).as("sum_dl"))

  /** [[corpusStatsOf]] straight from the document frame. */
  private[llm] def corpusStats(docs: DataFrame): DataFrame =
    corpusStatsOf(tokenized(docs))

  /** (query_id, token): distinct query terms, the broadcast probe side. */
  private[llm] def queryTerms(queries: DataFrame): DataFrame =
    queries.select(col("query_id"),
      explode(array_distinct(toks("qtext"))).as("token"))

  /** Score `postings` (token, doc_id, tf, dl) against `qterms`
    * (query_id, token) given one-row `stats` — the shared scoring tail of
    * [[bm25TopK]] and [[SearchIndex.search]]. `df` must cover every
    * posting of each probed token (true for both callers: the batch path
    * computes it below, the store path's partition-pruned scan retains
    * whole token groups).
    *
    * `maxDfFrac` is the stopword guard: a query term whose df exceeds
    * `maxDfFrac · N` is dropped from scoring entirely (the Lucene
    * stopword / common-terms practice — its idf ≈ ln(1 + ~0) contributes
    * noise, while its posting list is corpus-sized). Without the cap, a
    * query containing "the" drags that term's ENTIRE posting list through
    * the (query, doc) aggregate and into ONE top-k window partition; with
    * it, the high-df term is eliminated by the broadcast df join before
    * the candidate set forms, bounding both the aggregate and the window
    * partition by the rarest-term posting sizes. The df COUNT itself
    * still scans the hot posting list, but as a map-side-combinable
    * constant-size counter — never a candidate-set buffer. Default 1.0
    * (off): scoring is then bit-identical to the capless definition. */
  private[llm] def scoreBm25(post: DataFrame, qterms: DataFrame,
                             stats: DataFrame, topK: Int,
                             k1: Double, b: Double,
                             maxDfFrac: Double = 1.0): DataFrame = {
    val agg = scoreBm25Agg(post, qterms, stats, k1, b, maxDfFrac)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    agg.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select("query_id", "doc_id", "n_hit", "score", "rk")
  }

  /** [[scoreBm25]]'s per-(query, doc) aggregate WITHOUT the top-k window —
    * for callers ([[sdmTopK]]) that fuse several feature scores before
    * ranking. Bounded by the probed posting sizes, never the corpus. */
  private[llm] def scoreBm25Agg(post: DataFrame, qterms: DataFrame,
                                stats: DataFrame,
                                k1: Double, b: Double,
                                maxDfFrac: Double = 1.0): DataFrame = {
    val probed = post.join(broadcast(qterms), "token")
    // df over DISTINCT probe tokens straight from `post` — exact because
    // the probe keeps whole token groups AND post is unique on
    // (token, doc_id) (postingsOf groups by them; the store paths append
    // disjoint doc batches and anti-join tombstones), so df(token) is a
    // plain per-token row count: one map-side-combinable aggregate over
    // Σ_t df(t) rows. The previous `probed.select(token, doc_id)
    // .distinct().groupBy(token)` shape paid TWO exchanges over the
    // query-multiplied frame (Σ_t df(t)·q(t) rows) for the same numbers —
    // measured 1.5 → 1.1 s per scoreBm25 pass at sf0.1 (r18 §scoreBm25),
    // and on the store path the df pass now column-prunes to `token`
    // alone. The qlScore ctf probe has used this shape all along.
    val dfAll = post
      .join(broadcast(qterms.select("token").distinct()), "token")
      .groupBy("token").agg(count(lit(1)).cast(DoubleType).as("df"))
    val dfT =
      if (maxDfFrac >= 1.0) dfAll
      else dfAll.crossJoin(broadcast(stats.select("n_docs")))
        .filter(col("df") <= lit(maxDfFrac) * col("n_docs").cast(DoubleType))
        .select("token", "df")
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType)
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    val tfD = col("tf").cast(DoubleType)
    val norm = tfD + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("dl").cast(DoubleType) / avgdl)
    val contrib0 = idf * (tfD * (lit(k1) + lit(1.0))) / norm
    // weighted-query extension ([[rm3TopK]]): a `w` column on qterms
    // scales each term's contribution; absent (every other caller) the
    // expression tree is unchanged
    val contrib =
      if (qterms.columns.contains("w")) contrib0 * col("w") else contrib0
    // dfT is ≤ |query terms| rows — broadcast, so out-of-cap terms'
    // postings are discarded map-side, never shuffled into the aggregate
    probed
      .join(broadcast(dfT), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("__w__", contrib)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_hit"),
        round(sum("__w__"), 6).as("score"))
  }

  /** BM25 top-`topK` corpus docs per query. `queries` is a small
    * (query_id, qtext) table — always broadcast. `maxDfFrac < 1` drops
    * stopword-grade query terms (df > frac·N) from scoring — see
    * [[scoreBm25]].
    *
    * The tokenized frame and the postings it folds to are [[pin]]ned: the
    * stats frame shares the one tokenize pass, and [[scoreBm25Agg]]'s two
    * postings consumers (df count + scoring join) read the materialized
    * aggregate instead of replaying the explode + groupBy chain. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, topK: Int = 5,
               k1: Double = 1.2, b: Double = 0.75,
               maxDfFrac: Double = 1.0): DataFrame = {
    val tk = pin(tokenized(docs))
    scoreBm25(pin(postingsOf(tk)), pin(queryTerms(queries)),
      broadcast(corpusStatsOf(tk)), topK, k1, b, maxDfFrac)
  }

  /** BM25F field-weighted ranking (Robertson, Zaragoza & Taylor CIKM
    * 2004, the "simple BM25F" form — what Lucene/Elasticsearch field
    * boosts approximate, done right: per-field LENGTH normalization
    * happens BEFORE the term-frequency saturation, so a hit in a short
    * title field saturates on title statistics, where a post-hoc score
    * boost would let one body hit in a long doc drown it):
    *
    *   tfn(t,d,f) = w_f · tf(t,d,f) / (1 − b_f + b_f · dl_f(d)/avdl_f)
    *   wtf(t,d)   = Σ_f tfn(t,d,f)
    *   score(q,d) = Σ_{t ∈ q} idf(t) · wtf / (k1 + wtf)
    *
    * idf is the [[bm25TopK]] probabilistic form over DOCUMENT df — a doc
    * counts once per term no matter how many of its fields match (the
    * paper's point: weights live inside the saturation, never outside).
    * `fields` = (column, weight w_f, length-norm b_f); with a single
    * (f, 1.0, b) entry the ranking is EXACTLY [[bm25TopK]]'s (scores
    * scale by 1/(k1+1) — spec-pinned). Scale shape: one pinned tokenize
    * pass PER FIELD (fields are few and fixed), broadcast query probes,
    * every aggregate on (query, doc, token)-bounded keys; NULL field =
    * empty field. Ranks (score desc, doc_id asc), round-6 — the BM25
    * conventions. */
  def bm25fTopK(docs: DataFrame, queries: DataFrame,
                fields: Seq[(String, Double, Double)] =
                  Seq(("title", 2.0, 0.75), ("text", 1.0, 0.75)),
                topK: Int = 5, k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "bm25f needs at least one field")
    val qterms = pin(queryTerms(queries))
    val tfns = fields.map { case (f, w, bf) =>
      val tk = pin(docs.select(col("doc_id"), toks(f).as("__tk__")))
      val post = postingsOf(tk)
      val st = corpusStatsOf(tk) // (n_docs, sum_dl) of THIS field
      post.join(broadcast(qterms), "token")
        .crossJoin(broadcast(st))
        .select(col("query_id"), col("doc_id"), col("token"),
          (lit(w) * col("tf").cast(DoubleType) /
            (lit(1.0 - bf) + lit(bf) * col("dl").cast(DoubleType) /
              (col("sum_dl").cast(DoubleType) /
                col("n_docs").cast(DoubleType)))).as("tfn"))
    }
    val wtf = tfns.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id", "token")
      .agg(sum("tfn").as("wtf"))
    // document df over the probed union: each field's probe keeps whole
    // token groups, so a doc containing the term in ANY field appears —
    // distinct-count is the across-field document frequency, exact
    val dfT = wtf.select("token", "doc_id").distinct()
      .groupBy("token").agg(count(lit(1)).cast(DoubleType).as("df"))
    val nd = docs.agg(count(lit(1)).cast(LongType).as("n_docs"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    val scored = wtf.join(broadcast(dfT), "token").crossJoin(broadcast(nd))
      .withColumn("__w__", idf * col("wtf") / (lit(k1) + col("wtf")))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_hit"),
        round(sum("__w__"), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select("query_id", "doc_id", "n_hit", "score", "rk")
  }

  /** (doc_id, token, tf, dl) postings over adjacent-token BIGRAMS from a
    * [[tokenized]] frame, each bigram encoded as the composite token
    * "lt rt" (tokens are [a-z0-9]+ runs, so the space never collides with
    * a unigram). dl = bigram count = tokens − 1 — [[postingsOf]]'s shape
    * exactly, so the BM25 scoring tail applies verbatim. */
  private[llm] def postings2Of(tk: DataFrame): DataFrame =
    tk.select(col("doc_id"),
        expr("""transform(slice(__tk__, 1, greatest(size(__tk__) - 1, 0)),
               |  (x, i) -> concat(x, ' ', __tk__[i + 1]))""".stripMargin)
          .as("__bg__"))
      .select(col("doc_id"), size(col("__bg__")).cast(LongType).as("dl"),
        explode(col("__bg__")).as("token"))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).cast(LongType).as("tf"))
      .select("token", "doc_id", "tf", "dl")

  /** One-row (n_docs, sum_dl) bigram-corpus stats from a [[tokenized]]
    * frame (sum_dl = Σ max(tokens − 1, 0)). */
  private[llm] def corpusStats2Of(tk: DataFrame): DataFrame =
    tk.select(greatest(size(col("__tk__")) - lit(1), lit(0)).cast(LongType)
        .as("__dl__"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        coalesce(sum("__dl__"), lit(0L)).as("sum_dl"))

  /** Sequential-dependence proximity ranking (Metzler & Croft, SIGIR
    * 2005, the two-feature variant): the query's unigrams and its
    * adjacent ORDERED bigrams each score through the standard BM25
    * machinery over their own posting stream, fused linearly,
    *
    *   score(q, d) = λT · bm25_uni(q, d) + λO · bm25_bi(q, d)
    *
    * (λT = 0.85, λO = 0.15 — the paper's defaults with the unordered-
    * window mass folded into the ordered feature). Phrase-aware ranking
    * without positional postings: a doc containing "new york" as a phrase
    * outranks one containing "new" and "york" apart, because only the
    * former carries the bigram row.
    *
    * Scale shape: ONE corpus tokenize pass — the [[pin]]ned [[tokenized]]
    * frame feeds both posting streams and both stats frames, and each
    * stream's aggregate is pinned for its [[scoreBm25Agg]]'s two
    * consumers; fusion is a full-outer join of the two
    * per-(query, doc) aggregates BEFORE the single top-k window, both
    * sides bounded by the probed posting sizes (the rarest-term rule),
    * never the corpus. Feature scores are round-6; the fused score rounds
    * at 8 decimals — λT·s1 + λO·s2 over round-6 inputs lands exactly on
    * the 5e-8 grid (the [[graft.llm.Ann.mmrTopK]] lesson), so rounding at
    * 6 would sit on the half-up boundary every ~20th value and flip with
    * engine fp noise, while round-8 recovers the grid point
    * deterministically. Ties (score desc, doc_id asc). */
  def sdmTopK(docs: DataFrame, queries: DataFrame, topK: Int = 5,
              lambdaT: Double = 0.85, lambdaO: Double = 0.15,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tk = pin(tokenized(docs))
    // the query-side frames are tiny (queries·terms rows) but each is read
    // twice through [[scoreBm25Agg]]'s probed frame — pinned, the
    // [[SearchIndex.search]] qterms rule
    val uni = scoreBm25Agg(pin(postingsOf(tk)), pin(queryTerms(queries)),
      broadcast(corpusStatsOf(tk)), k1, b)
      .select(col("query_id"), col("doc_id"), col("score").as("s_uni"))
    val bi = scoreBm25Agg(pin(postings2Of(tk)), pin(queryBigrams(queries)),
      broadcast(corpusStats2Of(tk)), k1, b)
      .select(col("query_id"), col("doc_id"), col("score").as("s_bi"))
    sdmFuse(uni, bi, topK, lambdaT, lambdaO)
  }

  /** (query_id, token) distinct adjacent-bigram probe terms — the bigram
    * twin of [[queryTerms]] (composite "lt rt" spelling). */
  private[llm] def queryBigrams(queries: DataFrame): DataFrame =
    queries.select(col("query_id"), toks("qtext").as("__tk__"))
      .select(col("query_id"),
        explode(array_distinct(expr(
          """transform(slice(__tk__, 1, greatest(size(__tk__) - 1, 0)),
            |  (x, i) -> concat(x, ' ', __tk__[i + 1]))""".stripMargin)))
          .as("token"))

  /** The SDM fusion tail shared by [[sdmTopK]] and
    * [[SearchIndex.searchSdm]]: full-outer join of the two feature
    * aggregates, λ-weighted round-8 fusion (the round-6-grid lesson in
    * the class doc), (score desc, doc_id asc) ranks. */
  private[llm] def sdmFuse(uni: DataFrame, bi: DataFrame, topK: Int,
                           lambdaT: Double, lambdaO: Double): DataFrame = {
    val fused = uni.join(bi, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("s_uni"), lit(0.0)).as("s_uni"),
        coalesce(col("s_bi"), lit(0.0)).as("s_bi"))
      .withColumn("score", round(lit(lambdaT) * col("s_uni") +
        lit(lambdaO) * col("s_bi"), 8))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select("query_id", "doc_id", "s_uni", "s_bi", "score", "rk")
  }

  /** Query-likelihood ranking with Dirichlet smoothing (Zhai & Lafferty,
    * SIGIR 2001; Lucene's LMDirichletSimilarity) — the language-model
    * counterpart to [[bm25TopK]]. Scored in the rank-equivalent
    * matched-term decomposition,
    *
    *   score(q, d) = Σ_{t ∈ q∩d} qtf_t · ln(1 + tf_td / (μ·P(t|C)))
    *                 + |q| · ln(μ / (dl_d + μ))
    *
    * with P(t|C) = ctf_t / Σ dl (collection term frequency over total
    * tokens): the Σ term needs only matching postings, and the length
    * penalty only the candidate's dl — no per-(doc, absent-term) work, so
    * the plan is exactly the BM25 probe shape (broadcast query terms into
    * one postings scan; ctf per probed token is exact because the probe
    * keeps whole token groups). Candidates are docs matching ≥ 1 query
    * term — the standard top-k practice (zero-match docs differ only in
    * the dl-monotone penalty). Scores round-6 before ranking, ties
    * (score desc, doc_id asc). */
  def qlTopK(docs: DataFrame, queries: DataFrame, topK: Int = 5,
             mu: Double = 2000.0): DataFrame = {
    // one tokenize pass, postings read by TWO consumers (probe + ctf) and
    // the query-term frame by THREE (probe, |q|, distinct-token ctf probe)
    // — all pinned (shared-frame rule, see [[pin]])
    val tk = pin(tokenized(docs))
    qlScore(pin(postingsOf(tk)), pin(qlQueryTerms(queries)),
      broadcast(corpusStatsOf(tk)), topK, mu)
  }

  /** (query_id, token, qtf) — QL keeps query-side term FREQUENCY (unlike
    * [[queryTerms]]' distinct set: repeated query terms multiply their
    * log contribution in the likelihood). */
  private[llm] def qlQueryTerms(queries: DataFrame): DataFrame =
    queries.select(col("query_id"), explode(toks("qtext")).as("token"))
      .groupBy("query_id", "token")
      .agg(count(lit(1)).cast(DoubleType).as("qtf"))

  /** The Dirichlet-QL scoring tail shared by [[qlTopK]] and
    * [[SearchIndex.searchQl]]: `post` must retain WHOLE token groups for
    * every probed token (true for the batch frame and for the
    * prefix-pruned store scan), because ctf is derived from it — exact
    * under that invariant, like df in [[scoreBm25Agg]]. */
  private[llm] def qlScore(post: DataFrame, qn: DataFrame, stats: DataFrame,
                           topK: Int, mu: Double): DataFrame = {
    val qlen = qn.groupBy("query_id").agg(sum("qtf").as("qlen"))
    val probed = post.join(broadcast(qn), "token")
    // collection term frequency over DISTINCT probe tokens — probing with
    // qn directly would duplicate a token's postings once per query that
    // shares it, inflating ctf; a map-side-combinable counter either way
    val ctfT = post
      .join(broadcast(qn.select("token").distinct()), "token")
      .groupBy("token").agg(sum("tf").cast(DoubleType).as("ctf"))
    val matched = probed.join(broadcast(ctfT), Seq("token"))
      .crossJoin(stats)
      .withColumn("__w__", col("qtf") * log(lit(1.0) +
        col("tf").cast(DoubleType) /
          (lit(mu) * (col("ctf") / col("sum_dl").cast(DoubleType)))))
      .groupBy("query_id", "doc_id", "dl")
      .agg(count(lit(1)).cast(LongType).as("n_hit"), sum("__w__").as("__s__"))
    val scored = matched.join(broadcast(qlen), "query_id")
      .withColumn("score", round(col("__s__") +
        col("qlen") * log(lit(mu) / (col("dl").cast(DoubleType) + lit(mu))), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select("query_id", "doc_id", "n_hit", "score", "rk")
  }

  /** RM3 pseudo-relevance feedback (Lavrenko & Croft, SIGIR 2001; the
    * Anserini/Indri default expansion): run BM25, treat the top-`fbDocs`
    * docs as relevant, estimate a relevance model over their terms,
    *
    *   P(t|RM1) ∝ Σ_{d ∈ F} (tf_td / |d|) · w_d,   w_d = score_d / Σ score
    *
    * keep the `fbTerms` heaviest terms (renormalized), interpolate with
    * the original query's term distribution at `alpha`,
    *
    *   w(t) = α · P(t|q) + (1−α) · P(t|RM1)
    *
    * and re-score the corpus with the weighted query. Expansion recovers
    * relevant docs that share the feedback set's vocabulary but none of
    * the original query's exact terms — the classic lexical-gap fix that
    * needs no training data.
    *
    * Scale shape: ONE corpus tokenize pass — the [[tokenized]] frame, the
    * postings aggregate it folds to, and the one-row stats are all
    * [[pin]]ned, because the postings feed THREE passes (the feedback
    * ranking, the RM1 join and the weighted re-scoring) and the stats
    * two; without the pins each consumer replayed the whole subtree and
    * the executed plan read the corpus 17 times (the r17 verdict's one
    * plan defect). The RM1 step is one broadcast join of the
    * queries·fbDocs-row feedback set against the pinned postings; the
    * relevance-model arithmetic happens on queries·fbTerms-row model
    * frames (per-query window partitions are fbDocs/fbTerms-bounded).
    * Term weights and RM1 masses rank on round-6 doubles (ties: token
    * asc), so the expansion set is engine-exact. */
  def rm3TopK(docs: DataFrame, queries: DataFrame, topK: Int = 5,
              fbDocs: Int = 5, fbTerms: Int = 10, alpha: Double = 0.5,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tk = pin(tokenized(docs))
    val post = pin(postingsOf(tk))
    val stats = broadcast(pin(corpusStatsOf(tk)))
    val wq = Window.partitionBy("query_id")
    // 1. feedback set: plain BM25 top-fbDocs, doc weights = normalized
    // scores (qterms pinned: tiny, read twice through the probed frame)
    val fbw = scoreBm25(post, pin(queryTerms(queries)), stats, fbDocs, k1, b)
      .withColumn("wd", col("score") / sum("score").over(wq))
      .select("query_id", "doc_id", "wd")
    // 2-4. relevance model + interpolation over the shared postings;
    // pinned here (the re-scoring pass reads it twice)
    val wterms = pin(rm3Wterms(post, fbw, queries, fbTerms, alpha))
    // 5. weighted re-scoring against the SAME corpus stats
    scoreBm25(post, wterms, stats, topK, k1, b)
  }

  /** RM3 steps 2-4, shared by [[rm3TopK]] and the store-served
    * [[SearchIndex.searchRm3]] (which feeds the feedback docs' term
    * vectors from its doc-keyed postings twin instead of the transient
    * frame): RM1 masses over the feedback docs' terms (broadcast `fbw`:
    * queries·fbDocs rows joined into `fbPost`), top-`fbTerms` by
    * (wt desc, token asc) renormalized, interpolated with the query's
    * own term distribution at `alpha`. Returns the LAZY weighted-query
    * frame (query_id, token, w) — the re-scoring pass reads it twice, so
    * callers materialize it once each their own way: [[rm3TopK]] [[pin]]s
    * it (corpus-side consumers), [[SearchIndex.searchRm3]] collects it to
    * a driver-local relation (it also needs the terms' prefix values for
    * the second store prune — one collect serves both). */
  private[llm] def rm3Wterms(fbPost: DataFrame, fbw: DataFrame,
                             queries: DataFrame, fbTerms: Int,
                             alpha: Double): DataFrame = {
    val wq = Window.partitionBy("query_id")
    val rm1 = fbPost.join(broadcast(fbw), "doc_id")
      .groupBy("query_id", "token")
      .agg(round(sum(col("tf").cast(DoubleType) / col("dl").cast(DoubleType) *
        col("wd")), 6).as("wt"))
    val byWt = Window.partitionBy("query_id")
      .orderBy(col("wt").desc, col("token").asc)
    val prm = rm1.withColumn("rk", row_number().over(byWt))
      .filter(col("rk") <= fbTerms)
      .withColumn("prm", col("wt") / sum("wt").over(wq))
      .select("query_id", "token", "prm")
    val pq = queries.select(col("query_id"), explode(toks("qtext")).as("token"))
      .groupBy("query_id", "token").agg(count(lit(1)).cast(DoubleType).as("qtf"))
      .withColumn("pq", col("qtf") / sum("qtf").over(wq))
      .select("query_id", "token", "pq")
    pq.join(prm, Seq("query_id", "token"), "full_outer")
      .select(col("query_id"), col("token"),
        round(lit(alpha) * coalesce(col("pq"), lit(0.0)) +
          (lit(1.0) - lit(alpha)) * coalesce(col("prm"), lit(0.0)), 6).as("w"))
  }

  /** Hybrid retrieval: the sparse (BM25) and dense (embedding-cosine)
    * stacks fused by reciprocal-rank fusion (Cormack, Clarke & Büttcher,
    * SIGIR 2009) — the standard zero-training way to combine
    * incomparable scores:
    *
    *   rrf(q, d) = Σ_systems 1 / (kRrf + rank_sys(q, d))
    *
    * over each system's top-`kRetrieve` (absent docs contribute 0), with
    * the Cormack kRrf = 60 default. Rank fusion beats score fusion here
    * because BM25 sums and cosines live on unrelated scales; ranks are
    * also exactly reproducible across engines (integers), so the fused
    * ordering is deterministic wherever the two constituent rankings are.
    *
    * `queries` is (query_id, qtext); `qvecs` is (query_id, embedding) in
    * the same id space. Scale shape: each constituent ranking is its
    * operator's own shape (one corpus scan each — [[bm25TopK]]'s
    * broadcast-probe aggregate, [[Ann.bruteTopK]]'s broadcast crossJoin,
    * swappable for [[Ann.ivfPqTopK]] at corpus scale); the fusion itself
    * joins two ≤ queries·kRetrieve-row frames — model-sized, never
    * corpus-sized. The per-query window partitions hold ≤ 2·kRetrieve
    * rows by construction. */
  def hybridRrf(docs: DataFrame, emb: DataFrame,
                queries: DataFrame, qvecs: DataFrame,
                topK: Int = 5, kRetrieve: Int = 10, kRrf: Int = 60,
                k1: Double = 1.2, b: Double = 0.75,
                maxDfFrac: Double = 1.0): DataFrame = {
    val lex = bm25TopK(docs, queries, kRetrieve, k1, b, maxDfFrac)
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_lex"))
    val sem = Ann.bruteTopK(emb,
        qvecs.select(col("query_id").as("vec_id"), col("embedding")),
        kRetrieve)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rn").as("rk_sem"))
    fuseRrf(lex, sem, topK, kRrf)
  }

  /** The RRF fusion tail shared by [[hybridRrf]] and
    * [[SearchIndex.hybridFromStores]]: full-outer join of the two rank
    * lists (model-sized frames), lex-first coalesce sum, round-6,
    * (rrf desc, doc_id asc) final ranks. */
  private[llm] def fuseRrf(lex: DataFrame, sem: DataFrame, topK: Int,
                           kRrf: Int): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("rk_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rk_sem")), lit(0.0)), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select("query_id", "doc_id", "rk_lex", "rk_sem", "rrf", "rk")
  }
}

/** Persistent inverted index for [[Search]] — the rolling-crawl lifecycle
  * ([[DedupIndex]]/[[AnnIndex]]/[[SketchStore]] pattern) for lexical
  * retrieval: build once, append new crawl batches as a pure map, answer
  * queries from the store without rescanning or re-tokenizing the corpus.
  *
  * Layout under `dir` (plain parquet, readable by any engine):
  *   - `postings.parquet` (token, doc_id, tf, dl) PARTITIONED BY `pfx`
  *     (= crc32(token) mod 64): a query's terms touch at most
  *     |distinct terms| of the 64 prefix directories, so the probe reads
  *     ~terms/64 of the store via partition pruning — the [[AnnIndex]]
  *     cent_id contract, applied to the token axis.
  *   - `stats.parquet` (n_docs, sum_dl) PARTIAL rows, one per
  *     build/append, summed on read (the [[graft.sources.RollupStore]]
  *     merge-on-read rule): exact LONG sums, so N/avgdl/df after any
  *     append sequence are IDENTICAL to a from-scratch build, and
  *     [[search]] is bit-equal to [[Search.bm25TopK]] on the same
  *     accumulated corpus (the gate pins exactly that, via the batch
  *     oracle SQL). Partials make append PURE WRITES — no table in the
  *     store is ever read-merge-overwritten, which is what lets the
  *     batch-keyed append commit ([[StoreOps.Table.append]])
  *     make the whole postings+doclens+stats triple idempotent on
  *     streaming replay.
  *   - `doclens.parquet` (doc_id, dl): one row per indexed doc — what
  *     makes REMOVAL exact. Postings alone cannot un-count a doc: a
  *     token-less doc has no postings rows yet is counted in n_docs, so
  *     stats could not be decremented from postings. Two longs per doc.
  *   - `tombstones.parquet` (doc_id): docs logically removed but not yet
  *     physically rewritten out ([[remove]] / [[vacuum]]).
  *
  * df is NOT stored: it is derived per query from the pruned postings
  * scan (whole token groups survive pruning, so the count is exact).
  * Storing it would turn append into a read-merge-overwrite of a
  * vocabulary-sized table; deriving it keeps append a pure map over the
  * batch plus a one-row stats merge.
  *
  * Removal (retention / right-to-be-forgotten) is tombstone-first: a doc's
  * tokens hash into ALL 64 prefix partitions, so deleting its postings
  * eagerly would rewrite the whole store per request. [[remove]] instead
  * appends the ids to a tombstone list (a pure map, independent of store
  * size); [[search]] subtracts tombstoned docs exactly (anti-join on the
  * query-pruned postings slice, stats decremented from their doclens
  * rows), so a removed doc stops influencing scores — including df and
  * avgdl — the moment remove returns. A periodic [[vacuum]] rewrites the
  * store without the tombstoned rows (one full-store pass, amortized over
  * many removals) and provably changes nothing observable. */
object SearchIndex {

  /** Prefix-partition cap — the 100 TB value: a store big enough to hit
    * the cap gets the full 64-way pruning/write-parallelism the layout
    * always had. */
  private val MaxPfx = 64

  /** Scale-ADAPTIVE prefix-partition count (r18, guide §2 "derive the
    * partitioning from input size, not a constant tuned for one scale"):
    * the fixed mod-64 layout priced every gate-scale store lifecycle at
    * 64 task launches + 64 directory commits PER TABLE for ~2 k rows a
    * directory (measured: the 115 k-row sf0.1 postings write costs
    * 1.2–3.0 s at 64 dirs vs 0.15–0.45 s right-sized — and the serve
    * probes pay the 64-dir listing again on every read). The count now
    * targets ≥ [[RowsPerPfx]] postings rows per prefix directory
    * (≈ 15–20 MB parquet — pruning granularity stays meaningful),
    * capped at [[MaxPfx]] so corpus-scale stores keep the exact layout
    * they had. The chosen modulus is FROZEN at build into the `_layout`
    * sidecar (one FS metadata read per probe, no Spark job — the
    * tombstone-marker rule) because append and every probe must hash
    * with the build's modulus (the bigram one-config rule, applied to
    * the layout). Legacy stores without the sidecar read as 64 — their
    * on-disk layout, unchanged. */
  private val RowsPerPfx = 512 * 1024L

  private def layoutPfx(rows: Long): Int =
    StoreOps.adaptiveFanout(rows, RowsPerPfx, MaxPfx)

  /** The store's frozen prefix modulus: `_layout` sidecar if present,
    * else 64 (every store written before the adaptive layout). */
  private def layoutOf(spark: SparkSession, dir: String): Int =
    StoreOps.readLayout(spark, dir, MaxPfx)

  private[graft] val Postings = Table("postings", Seq("pfx"))
  private val Docvecs = Table("docvecs", Seq("dpfx"))
  private val Stats = Table("stats")
  private val Doclens = Table("doclens")
  private val Postings2 = Table("postings2", Seq("pfx"))
  private val Stats2 = Table("stats2")
  private val Doclens2 = Table("doclens2")

  private def withPfx(post: DataFrame, npfx: Int): DataFrame =
    post.withColumn("pfx", pmod(crc32(col("token")), lit(npfx)).cast(IntegerType))

  /** The DOC-keyed partition key for the postings twin: token-pfx
    * partitioning serves term probes ([[search]]) but cannot prune a
    * doc_id probe — and [[searchRm3]]'s relevance model needs exactly
    * that (the feedback docs' full term vectors). `docvecs.parquet` is
    * the same rows laid out by dpfx = crc32(doc_id) mod npfx — the
    * classic dual row/column layout, storage doubled on purpose so BOTH
    * access axes prune (the [[graft.sources.Layout]] z-order trade,
    * stated for postings). */
  private def withDpfx(post: DataFrame, npfx: Int): DataFrame =
    post.withColumn("dpfx",
      pmod(crc32(col("doc_id").cast(StringType)), lit(npfx)).cast(IntegerType))

  /** Driver-side replica of `pmod(crc32(s), npfx)` — the prefix a token
    * (or doc_id rendered as its decimal string) hashes to. Spark's crc32
    * is zlib CRC32 over the UTF-8 bytes; the value is in [0, 2³²) so the
    * plain % is already the pmod. Serve paths compute their pruning
    * lists from ALREADY-COLLECTED model-sized frames with this, instead
    * of paying one distinct+collect Spark job per probe. */
  private def pfxOf(s: String, npfx: Int): Int = {
    val c = new java.util.zip.CRC32()
    val b = s.getBytes("UTF-8")
    c.update(b, 0, b.length)
    (c.getValue % npfx).toInt
  }

  /** Re-wrap collected rows as a driver-LOCAL relation: downstream plans
    * embed the rows (broadcast builds become trivial, nothing re-plans
    * the source) — the [[Ann.lloydCentroids]] bounded-parameter rule.
    * Only ever called on model-sized frames (query terms, feedback sets,
    * expansion terms: ≤ queries·max(fbTerms + terms) rows by
    * construction). */
  private def localized(spark: SparkSession, rows: Array[org.apache.spark.sql.Row],
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def hasDocvecs(spark: SparkSession, dir: String): Boolean =
    Docvecs.exists(spark, dir)

  private def hasBigrams(spark: SparkSession, dir: String): Boolean =
    Postings2.exists(spark, dir)

  /** The row tables vacuum filters and compact rewrites as they are, in
    * maintenance order: the docvecs twin and the bigram family only where
    * the build made them (the store's table set is FROZEN at build — the
    * one-config rule). The unigram doclens ledger and the stats follow. */
  private def rowTables(spark: SparkSession, dir: String): Seq[Table] =
    Seq(Postings) ++ (if (hasDocvecs(spark, dir)) Seq(Docvecs) else Nil) ++
      (if (hasBigrams(spark, dir)) Seq(Postings2, Doclens2) else Nil)

  /** Sum stored per-append stats partials to the one-row total. */
  private def sumStats(partials: DataFrame): DataFrame =
    partials.agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
      coalesce(sum("sum_dl"), lit(0L)).as("sum_dl"))

  /** The one-row stats of a (doc_id, dl) ledger. */
  private def lensStats(doclens: DataFrame): DataFrame =
    doclens.agg(count(lit(1)).cast(LongType).as("n_docs"),
      coalesce(sum("dl"), lit(0L)).as("sum_dl"))

  /** (doc_id, dl) from a [[Search.tokenized]] frame — the removal ledger
    * rows ([[remove]]). */
  private def doclensOf(tk: DataFrame): DataFrame =
    tk.select(col("doc_id"),
      size(col("__tk__")).cast(LongType).as("dl"))

  /** Tokenize `docs` and write postings + corpus stats to `dir`. The
    * tokenized frame is [[Search.pin]]ned: postings, stats, the doclens
    * ledger — and, with `bigrams = true`, the whole bigram table family —
    * all fold from the ONE tokenize pass instead of re-deriving it per
    * table written.
    *
    * `bigrams` is OPT-IN on purpose: the bigram postings stream is
    * larger than the unigram one and only [[searchSdm]] reads it —
    * stores that serve BM25/QL/RM3 alone should not pay its write or
    * its bytes (the docvecs twin, by contrast, is always written: RM3
    * is the family default expansion and its twin is the same row count
    * as the postings). */
  def build(docs: DataFrame, dir: String, bigrams: Boolean = false): Unit =
    StoreOps.Lease.withLease(docs.sparkSession, dir) {
    val spark = docs.sparkSession
    val tk = Search.pin(Search.tokenized(docs))
    val post = Search.pin(Search.postingsOf(tk)) // written twice (two layouts)
    // post is pinned, so the sizing count reads cached blocks — one cheap
    // job buys the scale-adaptive modulus for the store's whole life
    val npfx = layoutPfx(post.count())
    StoreOps.writeLayout(spark, dir, npfx)
    // the 4-7 table writes all fold from the two pinned frames into
    // DISJOINT directories — submit them concurrently so each write's
    // job-launch/commit latency overlaps its siblings' work instead of
    // serializing 4-7 job gaps (guide §2.6; StoreOps.overlap)
    val writes = Seq[() => Unit](
      () => Postings.write(withPfx(post, npfx), dir),
      () => Docvecs.write(withDpfx(post, npfx), dir),
      () => Stats.write(Search.corpusStatsOf(tk).coalesce(1), dir),
      () => Doclens.write(doclensOf(tk), dir),
      () => StoreOps.clearTombstones(spark, dir, "doc_id")
    ) ++ (if (!bigrams) Nil else Seq[() => Unit](
      () => Postings2.write(withPfx(Search.postings2Of(tk), npfx), dir),
      () => Stats2.write(Search.corpusStats2Of(tk).coalesce(1), dir),
      () => Doclens2.write(doclens2Of(tk), dir)))
    StoreOps.overlap(writes)
  }

  /** (doc_id, dl) over the BIGRAM stream (dl = max(tokens − 1, 0)) —
    * the removal ledger for the bigram stats, like [[doclensOf]]. */
  private def doclens2Of(tk: DataFrame): DataFrame =
    tk.select(col("doc_id"),
      greatest(size(col("__tk__")) - lit(1), lit(0)).cast(LongType).as("dl"))

  /** Append a new batch: three PURE WRITES — postings and doclens rows
    * plus one stats PARTIAL row (summed on read; the store is never read,
    * let alone read-merge-overwritten).
    *
    * PRECONDITION: the batch's doc_ids must not already be in the store —
    * appending a doc twice writes duplicate postings rows (inflating its
    * per-term tf contribution and double-counting it in df/n_docs/sum_dl).
    * The caller owns that invariant on the batch AND the streaming paths
    * (run the store's dedup step, or key batches by crawl snapshot).
    *
    * `batchId` makes the triple IDEMPOTENT: each table's files commit
    * under batch-keyed names via [[StoreOps.Table.append]],
    * so a replay (the Structured Streaming at-least-once recovery, or any
    * caller re-running a crawl snapshot) first undoes whatever the crashed
    * attempt committed and then re-commits — append twice ≡ append once,
    * whichever write the first attempt died between (StreamingSpec pins
    * it). Without `batchId` the writes are plain appends: a crash between
    * them leaves the store internally inconsistent until the batch is
    * re-driven, so streaming paths always pass the foreachBatch id. */
  def append(dir: String, newDocs: DataFrame,
             batchId: Option[Long] = None): Unit =
    StoreOps.Lease.withLease(newDocs.sparkSession, dir) {
    val spark = newDocs.sparkSession
    // the BUILD's frozen modulus, not the batch's size — probes hash with
    // one modulus per store (the one-config rule)
    val npfx = layoutOf(spark, dir)
    val tk = Search.pin(Search.tokenized(newDocs))
    val post0 = Search.pin(Search.postingsOf(tk))
    // the docvecs twin (absent from legacy pre-docvecs builds, which stay
    // legal for [[search]]) and the bigram family append only where the
    // build created them — the store's table set is FROZEN at build
    val tables = Seq(Postings -> withPfx(post0, npfx), Doclens -> doclensOf(tk),
        Stats -> Search.corpusStatsOf(tk).coalesce(1)) ++
      (if (!hasDocvecs(spark, dir)) Nil else Seq(Docvecs -> withDpfx(post0, npfx))) ++
      (if (!hasBigrams(spark, dir)) Nil else Seq(
        Postings2 -> withPfx(Search.postings2Of(tk), npfx), Doclens2 -> doclens2Of(tk),
        Stats2 -> Search.corpusStats2Of(tk).coalesce(1)))
    // the 3-7 per-table appends are pure writes into disjoint directories
    // (partials; nothing reads the store) — concurrent like build's
    // (guide §2.6). Idempotency is per (table, batchId) file name, so the
    // batch-keyed commits stay replayable submitted in any order.
    StoreOps.overlap(tables.map { case (t, df) => () => t.append(df, dir, batchId) })
  }

  /** Logically remove `docIds` (a (doc_id) frame) from the index: appends
    * them to the tombstone list — a model-sized write, independent of
    * store size. [[search]] excludes tombstoned docs EXACTLY (scores, df,
    * N and avgdl all behave as if the docs were never indexed — the spec
    * pins remove ≡ build-without); [[vacuum]] later reclaims the space.
    * Removing an id that was never indexed (or removing twice) is a
    * no-op: the read paths intersect tombstones with doclens first. */
  def remove(dir: String, docIds: DataFrame): Unit =
    StoreOps.remove(dir, docIds, "doc_id")

  /** Fold the stored per-append stats partials to the one-row total —
    * exact LONG sums, a bounded read (one row per build/append until
    * vacuum re-collapses them). */
  private def storedStats(spark: SparkSession, dir: String): DataFrame =
    sumStats(Stats.read(spark, dir))

  /** The one-row stats frame for the docs that actually participate in
    * scoring: the doclens ledger minus tombstones, restricted to the allow
    * list when one is given — exact LONG sums, so the result is identical
    * to the stats of a store built from exactly that sub-corpus. doclens
    * is two longs per doc; scanning it is the honest price of EXACT
    * filtered/tombstone-aware BM25 (df, N and avgdl all must reflect the
    * effective corpus, or scores drift from the sub-corpus definition). */
  private def effectiveStats(spark: SparkSession, dir: String,
                             tomb: Option[DataFrame],
                             allowed: Option[DataFrame]): DataFrame = {
    val dl0 = Doclens.read(spark, dir)
    val dl1 = tomb.fold(dl0)(t =>
      dl0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    lensStats(allowed.fold(dl1)(a =>
      dl1.join(a.select(col("doc_id")), Seq("doc_id"), "left_semi")))
  }

  /** Physically rewrite the store without the tombstoned rows and clear
    * the tombstone list. Observable behaviour is UNCHANGED (tombstones
    * were already subtracted at read time — the spec pins
    * vacuum ≡ identity on [[search]]); what changes is cost: the
    * tombstone anti-join and stats adjustment disappear from every later
    * query, and the per-prefix `repartition` makes this double as a
    * small-file compaction of the append history. One full-store pass,
    * written aside and swapped in ([[StoreOps.vacuum]] — the rewrite
    * plan reads the files it replaces); the stats are then re-derived
    * from the vacuumed ledgers — LONG sums, so identical to subtracting
    * the removed rows from the stored stats. */
  def vacuum(dir: String): Unit = {
    val spark = SparkSession.active
    StoreOps.Lease.withLease(spark, dir) {
      val bigrams = hasBigrams(spark, dir)
      StoreOps.vacuum(dir, "doc_id", rowTables(spark, dir) :+ Doclens, rederive = {
        if (bigrams)
          Stats2.write(lensStats(Doclens2.read(spark, dir)).localCheckpoint().coalesce(1), dir)
        Stats.write(lensStats(Doclens.read(spark, dir)).localCheckpoint().coalesce(1), dir)
      })
    }
  }

  /** Small-file compaction: rewrite postings (and doclens) so each prefix
    * directory holds ONE file instead of one per append — months of
    * micro-batch appends otherwise leave the probe reading thousands of
    * footer-dominated files — and fold the per-append stats partials back
    * to one row. Pure rewrite, nothing observable changes. */
  def compact(dir: String): Unit = {
    val spark = SparkSession.active
    StoreOps.Lease.withLease(spark, dir) {
      val ledgers = if (hasBigrams(spark, dir)) Seq(Stats2, Doclens, Stats) else Seq(Doclens, Stats)
      StoreOps.compact(dir, rowTables(spark, dir) ++ ledgers, {
        case Stats | Stats2 => sumStats
        case _ => identity
      })
    }
  }

  /** Streaming index maintenance: [[append]] each micro-batch of documents
    * to an already-[[build]]t index — state lives in the parquet store, not
    * the state store (the [[DedupIndex.streamingDedup]] construct), so
    * [[search]] sees every completed trigger and batch/stream ingestion
    * compose freely. Postings appends are pure batch maps; the one-row
    * stats merge is exact, so stream-then-search ≡ whole-corpus
    * [[Search.bm25TopK]] bit-for-bit (StreamingSpec pins it). Every
    * micro-batch commits under its foreachBatch id
    * ([[append]]'s `batchId` → [[StoreOps.Table.append]]),
    * so the at-least-once replays of failure recovery are EXACTLY-ONCE at
    * the store: a replayed batch undoes its own partial commit and
    * re-commits, leaving the store identical to a single run. Caller
    * starts the writer. */
  def streamingBuild(stream: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StoreOps.streamingAppend(stream)((batch, bid) => append(dir, batch, Some(bid)))

  /** BM25 top-`topK` over everything indexed, answered FROM THE STORE:
    * the query's distinct terms pick their prefix partitions (static
    * pruning via an `isin` on the ≤|terms| prefix values — a model-sized
    * driver-side list, the [[Ann.lloydCentroids]] bounded-parameter
    * rule), the pruned scan joins the broadcast terms, and the shared
    * [[Search.scoreBm25]] tail does the rest. The index is never
    * reshuffled and nothing is re-tokenized.
    *
    * `allowed` is the metadata-filtered-search hook ([[AnnIndex.query]]'s
    * contract, lexical leg): a (doc_id) frame the ranking is restricted
    * to. Semantics are EXACT sub-corpus BM25 — the semi-join prunes the
    * candidate postings AND the stats derive from the filtered doclens
    * ledger, so `search(allowed = A)` ≡ [[Search.bm25TopK]] over a corpus
    * containing only A's docs (df, N, avgdl included; the spec pins the
    * equivalence). Whether tombstones exist is a marker-file metadata
    * check, not a per-query Spark job. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             topK: Int = 5, k1: Double = 1.2, b: Double = 0.75,
             maxDfFrac: Double = 1.0,
             allowed: Option[DataFrame] = None): DataFrame = {
    // ONE job collects the model-sized term frame; the local relation
    // feeds the scoring joins and the prefix list is derived driver-side
    // (was: a localCheckpoint job + a distinct+collect job per probe)
    val qtF = Search.queryTerms(queries)
    val qtRows = qtF.collect()
    val qterms = localized(spark, qtRows, qtF.schema)
    val npfx = layoutOf(spark, dir)
    val tokIdx = qtF.schema.fieldIndex("token")
    val pfxs = qtRows.map(r => pfxOf(r.getString(tokIdx), npfx)).distinct.toSeq
    val tomb = readTombstones(spark, dir)
    val post = postSlice(spark, dir, pfxs, tomb, allowed)
    val stats = broadcast(statsOf(spark, dir, tomb, allowed))
    Search.scoreBm25(post, qterms, stats, topK, k1, b, maxDfFrac)
  }

  private def readTombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    if (StoreOps.hasTombstones(spark, dir)) Some(StoreOps.tombstones(spark, dir, "doc_id"))
    else None

  /** The pruned-postings slice for a DRIVER-COMPUTED prefix list — shared
    * by [[search]] and both of [[searchRm3]]'s scoring passes: the
    * terms' prefix values prune the partitioned scan statically (a
    * model-sized driver-side `isin`, the list computed in Scala from the
    * already-collected term rows via [[pfxOf]] — no per-probe Spark job),
    * tombstoned docs drop out of the pruned slice (their full posting
    * lists are never touched). */
  private def postSlice(spark: SparkSession, dir: String, pfxs: Seq[Int],
                        tomb: Option[DataFrame],
                        allowed: Option[DataFrame]): DataFrame = {
    val post0 = Postings.read(spark, dir)
      .filter(col("pfx").isin(pfxs.map(Integer.valueOf): _*))
      .select("token", "doc_id", "tf", "dl")
    val post1 = tomb.fold(post0)(t =>
      post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    allowed.fold(post1)(a =>
      post1.join(a.select(col("doc_id")), Seq("doc_id"), "left_semi"))
  }

  /** The one-row stats frame for the effective corpus — exact under
    * tombstones and allow lists via the doclens ledger. HOISTED out of
    * the probe so [[searchRm3]]'s two scoring passes share ONE broadcast
    * build (the stats are identical by construction). */
  private def statsOf(spark: SparkSession, dir: String,
                      tomb: Option[DataFrame],
                      allowed: Option[DataFrame]): DataFrame =
    if (tomb.isEmpty && allowed.isEmpty) storedStats(spark, dir)
    else effectiveStats(spark, dir, tomb, allowed)

  /** RM3 pseudo-relevance feedback SERVED FROM THE STORE — the transient
    * [[Search.rm3TopK]]'s production twin, and what the doc-keyed
    * `docvecs.parquet` twin exists for: the feedback ranking and the
    * weighted re-scoring are two [[probe]]d prefix-pruned passes
    * (NOTHING rescans or re-tokenizes the corpus), and the relevance
    * model reads the feedback docs' FULL term vectors from the
    * dpfx-pruned docvecs slice — ≤ queries·fbDocs of 64 partition
    * directories, a static `isin` prune like the term axis. Results are
    * bit-equal to [[Search.rm3TopK]] over the accumulated corpus (the
    * [[search]] ≡ bm25TopK law extended through the whole expansion
    * chain — same shared [[Search.rm3Wterms]] arithmetic, same round-6
    * grids; the gate replays the transient oracle verbatim). Tombstones
    * subtract exactly: the feedback set, the probed slices and the
    * stats all exclude removed docs (the RM1 join only ever reads
    * feedback docs, which are post-tombstone by construction).
    * Stores built before the docvecs twin fail fast — rebuild to serve
    * RM3 (the [[DedupIndex]] legacy-store rule). */
  def searchRm3(spark: SparkSession, dir: String, queries: DataFrame,
                topK: Int = 5, fbDocs: Int = 5, fbTerms: Int = 10,
                alpha: Double = 0.5, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(hasDocvecs(spark, dir),
      s"$dir predates the doc-keyed docvecs twin — rebuild the index to " +
        "serve store-side RM3 (plain search() still works)")
    val npfx = layoutOf(spark, dir)
    val qtF = Search.queryTerms(queries)
    val qtRows = qtF.collect() // model-sized; prefix list + scoring joins
    val qterms = localized(spark, qtRows, qtF.schema)
    val qTokIdx = qtF.schema.fieldIndex("token")
    val tomb = readTombstones(spark, dir)
    // stats shared by BOTH scoring passes — identical by construction,
    // so one broadcast build instead of two
    val stats = broadcast(statsOf(spark, dir, tomb, None))
    val post1 = postSlice(spark, dir,
      qtRows.map(r => pfxOf(r.getString(qTokIdx), npfx)).distinct.toSeq,
      tomb, None)
    val wq = Window.partitionBy("query_id")
    // 1. feedback set from the pruned store probe — COLLECTED
    // (queries·fbDocs rows by construction): the one job feeds the RM1
    // broadcast join AND the driver-side dpfx prune list
    val fbwF = Search.scoreBm25(post1, qterms, stats, fbDocs, k1, b)
      .withColumn("wd", col("score") / sum("score").over(wq))
      .select("query_id", "doc_id", "wd")
    val fbwRows = fbwF.collect()
    val fbw = localized(spark, fbwRows, fbwF.schema)
    val fbDocIdx = fbwF.schema.fieldIndex("doc_id")
    val dpfxs = fbwRows
      .map(r => pfxOf(r.getLong(fbDocIdx).toString, npfx)).distinct.toSeq
    val dvs = Docvecs.read(spark, dir)
      .filter(col("dpfx").isin(dpfxs.map(Integer.valueOf): _*))
      .select("token", "doc_id", "tf", "dl")
    // 2-4. the shared relevance-model arithmetic over the stored vectors —
    // COLLECTED (queries·(fbTerms + |q|) rows): one job feeds the
    // re-scoring joins and the second prefix prune list
    val wtF = Search.rm3Wterms(dvs, fbw, queries, fbTerms, alpha)
    val wtRows = wtF.collect()
    val wterms = localized(spark, wtRows, wtF.schema)
    val wTokIdx = wtF.schema.fieldIndex("token")
    // 5. weighted re-scoring through a second pruned slice (the expanded
    // term set picks its own prefix partitions)
    val post2 = postSlice(spark, dir,
      wtRows.map(r => pfxOf(r.getString(wTokIdx), npfx)).distinct.toSeq,
      tomb, None)
    Search.scoreBm25(post2, wterms, stats, topK, k1, b)
  }

  /** Dirichlet query likelihood SERVED FROM THE STORE — the
    * [[Search.qlTopK]] production twin, and the cheapest of the served
    * rankers: the existing unigram tables already carry everything QL
    * needs (tf, dl, one-row stats), and ctf is exact over the pruned
    * scan because pruning keeps whole token groups (the df rule).
    * Bit-equal to the transient ranker over the accumulated corpus;
    * tombstones subtract exactly (anti-joined slice + doclens-ledger
    * stats, ctf over the anti-joined slice — removed docs stop
    * contributing to collection frequencies the moment remove
    * returns). */
  def searchQl(spark: SparkSession, dir: String, queries: DataFrame,
               topK: Int = 5, mu: Double = 2000.0): DataFrame = {
    val qnF = Search.qlQueryTerms(queries)
    val qnRows = qnF.collect() // model-sized; read 3× as a local relation
    val qn = localized(spark, qnRows, qnF.schema)
    val npfx = layoutOf(spark, dir)
    val tokIdx = qnF.schema.fieldIndex("token")
    val tomb = readTombstones(spark, dir)
    val post = postSlice(spark, dir,
      qnRows.map(r => pfxOf(r.getString(tokIdx), npfx)).distinct.toSeq,
      tomb, None)
    val stats = broadcast(statsOf(spark, dir, tomb, None))
    Search.qlScore(post, qn, stats, topK, mu)
  }

  /** Sequential-dependence ranking SERVED FROM THE STORE — needs the
    * OPT-IN bigram table family ([[build]]`(bigrams = true)`): the
    * unigram feature probes the standard tables, the ordered-bigram
    * feature probes `postings2.parquet` (composite "lt rt" tokens, same
    * crc32-mod-64 prefix pruning) with its own merge-on-read stats, and
    * the shared [[Search.sdmFuse]] tail fuses — bit-equal to
    * [[Search.sdmTopK]] over the accumulated corpus. Stores built
    * without the bigram family fail fast (the [[searchRm3]] legacy
    * rule); everything else keeps serving them. */
  def searchSdm(spark: SparkSession, dir: String, queries: DataFrame,
                topK: Int = 5, lambdaT: Double = 0.85,
                lambdaO: Double = 0.15, k1: Double = 1.2,
                b: Double = 0.75): DataFrame = {
    require(hasBigrams(spark, dir),
      s"$dir has no bigram table family — rebuild with " +
        "SearchIndex.build(bigrams = true) to serve store-side SDM")
    val npfx = layoutOf(spark, dir)
    val tomb = readTombstones(spark, dir)
    val qtF = Search.queryTerms(queries)
    val qtRows = qtF.collect()
    val qterms = localized(spark, qtRows, qtF.schema)
    val qTokIdx = qtF.schema.fieldIndex("token")
    val post = postSlice(spark, dir,
      qtRows.map(r => pfxOf(r.getString(qTokIdx), npfx)).distinct.toSeq,
      tomb, None)
    val stats = broadcast(statsOf(spark, dir, tomb, None))
    val uni = Search.scoreBm25Agg(post, qterms, stats, k1, b)
      .select(col("query_id"), col("doc_id"), col("score").as("s_uni"))
    val qbF = Search.queryBigrams(queries)
    val qbRows = qbF.collect()
    val qbg = localized(spark, qbRows, qbF.schema)
    val bTokIdx = qbF.schema.fieldIndex("token")
    val (post2, stats2) = probe2(spark, dir,
      qbRows.map(r => pfxOf(r.getString(bTokIdx), npfx)).distinct.toSeq, tomb)
    val bi = Search.scoreBm25Agg(post2, qbg, stats2, k1, b)
      .select(col("query_id"), col("doc_id"), col("score").as("s_bi"))
    Search.sdmFuse(uni, bi, topK, lambdaT, lambdaO)
  }

  /** [[postSlice]] + stats over the bigram table family: same static
    * prefix prune from a driver-computed list, same exact tombstone
    * subtraction — stats from the summed `stats2.parquet` partials, or
    * re-derived from the `doclens2` ledger when tombstones exist. */
  private def probe2(spark: SparkSession, dir: String, pfxs: Seq[Int],
                     tomb: Option[DataFrame]): (DataFrame, DataFrame) = {
    val post0 = Postings2.read(spark, dir)
      .filter(col("pfx").isin(pfxs.map(Integer.valueOf): _*))
      .select("token", "doc_id", "tf", "dl")
    val post = tomb.fold(post0)(t =>
      post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val stats = tomb match {
      case None => sumStats(Stats2.read(spark, dir))
      case Some(t) =>
        lensStats(Doclens2.read(spark, dir).join(broadcast(t), Seq("doc_id"), "left_anti"))
    }
    (post, broadcast(stats))
  }

  /** [[Search.hybridRrf]] served entirely FROM the persistent stores —
    * the production retrieval endpoint shape: the sparse ranking comes
    * from this inverted index ([[search]]: prefix-pruned postings scan,
    * bit-equal to whole-corpus BM25 after any append sequence) and the
    * dense ranking from a [[AnnIndex]] IVF×PQ store ([[AnnIndex.query]]:
    * cent_id-pruned m-bytes-per-vector codes, frozen model), fused by the
    * same RRF tail. NOTHING rescans or re-tokenizes the corpus at query
    * time: both probes read partition-pruned slices of their stores, and
    * the fusion joins two model-sized rank lists. The dense ranks are the
    * compressed index's (ADC) ranks — at corpus scale that is the point;
    * swap in [[AnnIndex.queryRerank]] upstream when exact top ranks are
    * worth the shortlist re-read.
    *
    * `allowed` (a (doc_id) frame; doc ids and vector ids share the id
    * space) makes the FILTERED hybrid exact on both legs: the lexical
    * ranking is sub-corpus BM25 over the allow list and the dense ranking
    * restricts the probed code slices to it — so fused ranks are the ranks
    * a store built from only the allowed docs would produce (modulo the
    * dense model being trained on the full corpus, which is the frozen-
    * model contract, not an approximation of the filter). */
  def hybridFromStores(spark: SparkSession, searchDir: String,
                       annDir: String, queries: DataFrame, qvecs: DataFrame,
                       topK: Int = 5, kRetrieve: Int = 10, kRrf: Int = 60,
                       nprobe: Int = 4, k1: Double = 1.2, b: Double = 0.75,
                       maxDfFrac: Double = 1.0,
                       allowed: Option[DataFrame] = None): DataFrame = {
    val lex = search(spark, searchDir, queries, kRetrieve, k1, b, maxDfFrac,
        allowed)
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_lex"))
    val sem = AnnIndex.query(spark, annDir,
        qvecs.select(col("query_id").as("vec_id"), col("embedding")),
        kRetrieve, nprobe,
        allowed = allowed.map(_.select(col("doc_id").as("vec_id"))))
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rn").as("rk_sem"))
    Search.fuseRrf(lex, sem, topK, kRrf)
  }
}
