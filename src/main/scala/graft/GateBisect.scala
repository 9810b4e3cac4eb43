package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase-level bisect for the two store gates the r14 bench flagged
  * (`ann_index` +28%, `search_index` +31%): times build / append / query
  * SEPARATELY, median of N, so a gate-total regression can be pinned to
  * the lifecycle phase that actually moved — the gate itself only reports
  * the sum. Prints one markdown table per store.
  *
  * Usage: runMain graft.GateBisect [sfDir] [runs]
  */
object GateBisect {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench — phase 1 must not absorb the fleet's JIT cost
    spark.range(1000000).selectExpr("id % 97 as k", "id as v")
      .groupBy("k").agg(expr("sum(v)"), expr("avg(v)"), expr("max(v)"))
      .selectExpr("sum(`sum(v)`)").collect()

    def time[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def fresh(): String =
      java.nio.file.Files.createTempDirectory("graft-bisect").toString

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    emb.count(); docs.count()
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val dhalf = docs.agg(max(col("doc_id"))).head().getLong(0) / 2

    // ann_index gate phases (LlmQueries.annIndex, exact params)
    val annP = graft.llm.AnnIndex.Params(nCentroids = 16, multiAssign = 1,
      codebookIters = 0)
    val ann = (0 until runs).map { _ =>
      val idx = fresh()
      val (tb, _) = time(graft.llm.AnnIndex.build(
        emb.filter(col("vec_id") <= half), idx, annP))
      val (ta, _) = time(graft.llm.AnnIndex.append(
        idx, emb.filter(col("vec_id") > half)))
      val (tq, _) = time(graft.llm.AnnIndex.query(spark, idx,
        emb.filter(col("vec_id") < 5), k = 5, nprobe = 2)
        .write.format("noop").mode("overwrite").save())
      (tb, ta, tq)
    }
    println(f"| ann_index | build ${median(ann.map(_._1))}%.2f " +
      f"| append ${median(ann.map(_._2))}%.2f " +
      f"| query ${median(ann.map(_._3))}%.2f |")

    // search_index gate phases (LlmQueries.searchIndexQ, exact shape)
    val corpus = docs.filter(col("doc_id") % 101 =!= 5)
    val qs = docs.filter(col("doc_id") % 101 === 5)
      .select(col("doc_id").as("query_id"),
        array_join(slice(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"), 1, 5), " ")
          .as("qtext")).cache()
    qs.count()
    val chalf = corpus.agg(max(col("doc_id"))).head().getLong(0) / 2
    val search = (0 until runs).map { _ =>
      val idx = fresh()
      val (tb, _) = time(graft.llm.SearchIndex.build(
        corpus.filter(col("doc_id") <= chalf), idx))
      val (ta, _) = time(graft.llm.SearchIndex.append(
        idx, corpus.filter(col("doc_id") > chalf)))
      val (tq, _) = time(graft.llm.SearchIndex.search(spark, idx, qs, topK = 5)
        .write.format("noop").mode("overwrite").save())
      (tb, ta, tq)
    }
    println(f"| search_index | build ${median(search.map(_._1))}%.2f " +
      f"| append ${median(search.map(_._2))}%.2f " +
      f"| query ${median(search.map(_._3))}%.2f |")

    // search_hybrid_index gate phases (LlmQueries.searchHybridIndexQ,
    // exact shape: THREE store mutations + the fused query — the r15
    // fleet flagged the gate total; this separates fixed per-mutation
    // lifecycle cost (lease + marker + staged rename) from the query)
    val hCorpus = docs.filter(col("doc_id") % 101 =!= 97)
    val hqs = docs.filter(col("doc_id") % 101 === 97)
      .select(col("doc_id").as("query_id"),
        array_join(slice(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"), 1, 5), " ")
          .as("qtext")).cache()
    hqs.count()
    val eCorpus = emb.filter(col("vec_id") % 101 =!= 97)
    val hqv = emb.filter(col("vec_id") % 101 === 97)
      .select(col("vec_id").as("query_id"), col("embedding")).cache()
    hqv.count()
    val hhalf = hCorpus.agg(max(col("doc_id"))).head().getLong(0) / 2
    val hybP = graft.llm.AnnIndex.Params(nCentroids = 16, multiAssign = 1,
      m = 8, codebookSize = 16, codebookIters = 0)
    val hybrid = (0 until runs).map { _ =>
      val sIdx = fresh(); val aIdx = fresh()
      val (tb, _) = time(graft.llm.SearchIndex.build(
        hCorpus.filter(col("doc_id") <= hhalf), sIdx))
      val (ta, _) = time(graft.llm.SearchIndex.append(
        sIdx, hCorpus.filter(col("doc_id") > hhalf)))
      val (tab, _) = time(graft.llm.AnnIndex.build(eCorpus, aIdx, hybP))
      val (tq, _) = time(graft.llm.SearchIndex.hybridFromStores(
        spark, sIdx, aIdx, hqs, hqv, topK = 5, kRetrieve = 10, nprobe = 2)
        .write.format("noop").mode("overwrite").save())
      (tb, ta, tab, tq)
    }
    println(f"| search_hybrid_index | sbuild ${median(hybrid.map(_._1))}%.2f " +
      f"| sappend ${median(hybrid.map(_._2))}%.2f " +
      f"| abuild ${median(hybrid.map(_._3))}%.2f " +
      f"| query ${median(hybrid.map(_._4))}%.2f |")

    // mine_negatives solo (no store lifecycle — a pure query; the r15
    // fleet number moved +69%, outside the ambient band)
    val mine = (0 until runs).map { _ =>
      val (t, _) = time(graft.queries.LlmQueries.queries("mine_negatives")(
        spark, sfDir).write.format("noop").mode("overwrite").save())
      t
    }
    println(f"| mine_negatives | query ${median(mine)}%.2f |")

    // merge_upsert gate phases (LlmQueries.mergeUpsertQ, exact params):
    // separates the one-time init write from the bucket-pruned merge /
    // delete rewrites and the pruned read-back
    val mdocs = docs
    val merge = (0 until runs).map { _ =>
      val store = fresh() + "/store"
      val (ti, _) = time(graft.sources.MergeStore.init(
        mdocs.filter(col("doc_id") % 2 === 0), store, "doc_id", 16))
      val (tm, _) = time(graft.sources.MergeStore.merge(spark, store,
        mdocs.filter(col("doc_id") % 3 === 0)
          .withColumn("text", concat(col("text"), lit(" v2")))))
      val (td, _) = time(graft.sources.MergeStore.delete(spark, store,
        mdocs.filter(col("doc_id") % 10 === 5).select("doc_id")))
      val (tr, _) = time(graft.sources.MergeStore.read(spark, store)
        .write.format("noop").mode("overwrite").save())
      (ti, tm, td, tr)
    }
    println(f"| merge_upsert | init ${median(merge.map(_._1))}%.2f " +
      f"| merge ${median(merge.map(_._2))}%.2f " +
      f"| delete ${median(merge.map(_._3))}%.2f " +
      f"| read ${median(merge.map(_._4))}%.2f |")

    // dedup_editdist solo (pure query, no lifecycle): the SymDelete path
    val ed = (0 until runs).map { _ =>
      val (t, _) = time(graft.queries.LlmQueries.queries("dedup_editdist")(
        spark, sfDir).write.format("noop").mode("overwrite").save())
      t
    }
    println(f"| dedup_editdist | query ${median(ed)}%.2f |")

    // rollup_{avg,last,eval}_1h phases (TsQueries.rollupStore, exact
    // shape): the r16 verdict asked whether the trio's ~6-7 s gate cost
    // is the store LIFECYCLE (build on 15 days + append of the rest —
    // paid once per store in production, per-gate here) or the EVAL
    // path dashboards would actually pay per query
    val ts = graft.Model.withSkey(
      graft.queries.TsQueries.events(spark, sfDir)).cache()
    ts.count()
    val mid = graft.queries.TsQueries.GridStart + 15 * 86400.0
    val grid = graft.queries.TsQueries.grid
    val roll = (0 until runs).map { _ =>
      val store = fresh()
      val (tb, _) = time(graft.sources.RollupStore.build(
        ts.filter(col(graft.Model.TsCol) <= mid), store, 300.0))
      val (ta, _) = time(graft.sources.RollupStore.append(store,
        ts.filter(col(graft.Model.TsCol) > mid)))
      val (tq, _) = time(graft.sources.RollupStore.overTime(
        spark, store, "events", grid, 3600.0, graft.functions.RangeKernel.AvgOverTime)
        .write.format("noop").mode("overwrite").save())
      val (tl, _) = time(graft.sources.RollupStore.overTime(
        spark, store, "events", grid, 3600.0, graft.functions.RangeKernel.LastOverTime)
        .write.format("noop").mode("overwrite").save())
      (tb, ta, tq, tl)
    }
    println(f"| rollup_1h | build ${median(roll.map(_._1))}%.2f " +
      f"| append ${median(roll.map(_._2))}%.2f " +
      f"| avg_query ${median(roll.map(_._3))}%.2f " +
      f"| last_query ${median(roll.map(_._4))}%.2f |")

    // served-ranker gate phases (search_{rm3,ql,sdm}_index, exact shape:
    // ONE store lifecycle + each ranker's serve path — the r18 fleet
    // priced search_rm3_index at ~19 s honest, and this separates the
    // build/append lifecycle every *_index gate re-pays from the pruned
    // query a production endpoint actually runs; sdm's store builds the
    // opt-in bigram family, so its build prices the second table set)
    val served = (0 until runs).map { _ =>
      val idx = fresh(); val bIdx = fresh()
      val (tb, _) = time(graft.llm.SearchIndex.build(
        corpus.filter(col("doc_id") <= chalf), idx))
      val (ta, _) = time(graft.llm.SearchIndex.append(
        idx, corpus.filter(col("doc_id") > chalf)))
      val (trm, _) = time(graft.llm.SearchIndex.searchRm3(spark, idx, qs,
        topK = 5, fbDocs = 5, fbTerms = 10, alpha = 0.5)
        .write.format("noop").mode("overwrite").save())
      val (tql, _) = time(graft.llm.SearchIndex.searchQl(spark, idx, qs,
        topK = 5).write.format("noop").mode("overwrite").save())
      val (tbb, _) = time(graft.llm.SearchIndex.build(
        corpus.filter(col("doc_id") <= chalf), bIdx, bigrams = true))
      val (tba, _) = time(graft.llm.SearchIndex.append(
        bIdx, corpus.filter(col("doc_id") > chalf)))
      val (tsdm, _) = time(graft.llm.SearchIndex.searchSdm(spark, bIdx, qs,
        topK = 5).write.format("noop").mode("overwrite").save())
      (tb, ta, trm, tql, tbb, tba, tsdm)
    }
    println(f"| served_rankers | build ${median(served.map(_._1))}%.2f " +
      f"| append ${median(served.map(_._2))}%.2f " +
      f"| rm3_query ${median(served.map(_._3))}%.2f " +
      f"| ql_query ${median(served.map(_._4))}%.2f " +
      f"| bigram_build ${median(served.map(_._5))}%.2f " +
      f"| bigram_append ${median(served.map(_._6))}%.2f " +
      f"| sdm_query ${median(served.map(_._7))}%.2f |")

    spark.stop()
  }
}
