package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Ann

/** Recall/cost sweep for the ANN operators: recall@5 of LSH (tables ×
  * planes) and IVF (centroids × nprobe) against the exact brute-force
  * top-5, plus the scored-candidate count — the cost that actually scales
  * (each candidate is one cosine at corpus scale; wall time at sf0.1 is
  * dominated by fixed overheads). Prints a markdown table for SURVEY.md.
  *
  * Usage: runMain graft.AnnSweep [sfDir] [nQueries] [phases]
  * where phases is a comma list of lsh,ivf,pq,opq,aniso,ivfpq,rerank
  * (default: all) — re-measuring one family doesn't pay for the rest.
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQ = args.lift(1).map(_.toInt).getOrElse(100)
    val phases = args.lift(2).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("all"))
    def phase(p: String): Boolean = phases("all") || phases(p)
    val spark = Harness.session("graft-annsweep")
    Harness.warmUp(spark)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val corpusN = emb.count()
    val queries = emb.filter(col("vec_id") < nQ).cache()
    val truth = Ann.bruteTopK(emb, queries, 5)
      .select(col("query_id"), col("neighbor_id")).cache()
    truth.count()

    def recallAndTime(approx: => DataFrame): (Double, Double, Long) = {
      val r = Harness.run(spark) {
        truth.join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id")).count()
      }
      (r.value.toDouble / (nQ * 5.0), r.secs, r.value)
    }

    // candidate counts: the work a 100 TB run would actually pay per query
    def lshCand(t: Int, p: Int): Long = {
      val b = Ann.bucketTables(emb, t, p)
      val qb = Ann.bucketTables(queries, t, p)
        .select(col("vec_id").as("qid"), col("tbl"), col("bucket"))
      b.join(broadcast(qb), Seq("tbl", "bucket"))
        .filter(col("qid") =!= col("vec_id"))
        .select("qid", "vec_id").distinct().count()
    }

    println(s"corpus=$corpusN queries=$nQ ground truth = brute top-5")
    println("| scheme | params | recall@5 | scored candidates/query | secs |")
    println("|---|---|---|---|---|")
    if (phase("lsh")) for ((t, p) <- Seq((4, 4), (8, 4), (16, 4), (8, 6), (16, 6), (8, 8))) {
      val (r, s, _) = recallAndTime(Ann.lshTopK(emb, queries, 5, t, p))
      val cand = lshCand(t, p)
      println(f"| LSH | $t tables × $p planes | $r%.3f | ${cand / nQ} | $s%.1f |")
    }
    // (centroids, nprobe, lloydIters, spreadSeed, multiAssign)
    if (phase("ivf")) for ((c, np, ll, sp, ma) <- Seq(
        (16, 2, 0, false, 1), (16, 4, 0, false, 1), (64, 2, 0, false, 1),
        (64, 4, 0, false, 1), (64, 8, 0, false, 1), // first-N seeds (oracle path)
        (64, 4, 0, true, 1), (64, 4, 1, true, 1), (64, 4, 2, true, 1), // seeding/refinement
        (64, 2, 0, false, 2), (64, 4, 0, false, 2), (128, 4, 0, false, 2),
        (64, 2, 1, false, 2), (128, 4, 1, false, 2))) { // replicated lists
      val (r, s, _) = recallAndTime(Ann.ivfTopK(emb, queries, 5, c, np,
        lloydIters = ll, spreadSeed = sp, multiAssign = ma))
      // IVF cost: probed-list sizes ≈ corpus × nprobe × multiAssign / centroids
      println(f"| IVF | $c cents, nprobe=$np, lloyd=$ll, spread=$sp, assign=$ma " +
        f"| $r%.3f | ~${corpusN * np * ma / c} | $s%.1f |")
    }
    // PQ: recall vs compression (every candidate scored — the pruning
    // comes from composing with IVF; the dial here is codebook size).
    // "Candidates" column shows bytes/vector instead: the 100 TB lever.
    if (phase("pq")) for ((m, cbk, it) <- Seq((8, 16, 0), (8, 64, 0), (8, 256, 0),
        (16, 64, 0), (16, 256, 0),
        (8, 64, 3), (8, 256, 3), (16, 64, 3), (16, 256, 3))) {
      val (r, s, _) = recallAndTime(
        Ann.pqTopK(emb, queries, 5, m, cbk, codebookIters = it))
      println(f"| PQ | m=$m subspaces, $cbk codes, lloyd=$it (${Ann.Dims * 4 / m}x compression) " +
        f"| $r%.3f | $m bytes/vec | $s%.1f |")
    }
    // OPQ: the same PQ budgets with the eigenvalue-allocated PCA rotation
    // ahead of quantization — the recall delta at FIXED bytes/vector is
    // the whole point of the rotation.
    if (phase("opq")) for ((m, cbk, it) <- Seq((8, 16, 0), (8, 64, 0), (8, 256, 0),
        (8, 64, 3), (16, 256, 3))) {
      val (r, s, _) = recallAndTime(
        Ann.opqPqTopK(emb, queries, 5, m, cbk, codebookIters = it))
      println(f"| OPQ×PQ | m=$m subspaces, $cbk codes, lloyd=$it " +
        f"| $r%.3f | $m bytes/vec | $s%.1f |")
    }
    // PQ vs OPQ on a CORRELATED corpus. The synthetic embeddings above are
    // near-isotropic by construction (variance already balanced across
    // axes), which pins OPQ at parity with PQ — the regime the rotation
    // exists for is ANISOTROPIC, correlated data (real text/image
    // embeddings; Ge et al., CVPR 2013). Derive a deterministic correlated
    // twin of the corpus: mix every vector through a fixed full-rank
    // linear map whose components carry a decaying spectrum (0.82^i), so
    // variance concentrates in ~15 effective directions that are NOT
    // axis-aligned and every PQ subspace chunk is cross-correlated.
    if (phase("aniso")) {
    val mix = {
      var seed = 0x5DEECE66DL
      def nxt(): Double = {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        (seed >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
      val comps = Array.tabulate(Ann.Dims) { i =>
        val v = Array.fill(Ann.Dims)(nxt())
        val s = math.pow(0.82, i) / math.sqrt(v.map(x => x * x).sum)
        v.map(_ * s)
      }
      graft.llm.Pca.Model(Array.fill(Ann.Dims)(0.0), comps,
        Array.fill(Ann.Dims)(0.0))
    }
    val aniso = graft.llm.Pca.rotate(emb, mix).cache()
    val anisoQ = aniso.filter(col("vec_id") < nQ).cache()
    // Ground truth here is exact L2, not cosine: ADC ranks by L2 over
    // UNNORMALIZED vectors, and the mix does not preserve norms (row i
    // carries scale 0.82^i), so a cosine GT saturates recall at the
    // L2-vs-cosine agreement ceiling (~0.33 measured on this corpus at
    // 256 codes — PQ and OPQ both pinned to it, masking any quantization
    // difference). L2 GT isolates quantization error — the Ge et al.
    // CVPR'13 protocol (their recall is L2 recall on SIFT/GIST).
    val anisoTruth = {
      val q = anisoQ.select(col("vec_id").as("query_id"),
        col("embedding").as("qemb"))
      val d2 = aggregate(
        zip_with(col("qemb"), col("c.embedding"), (a, b) =>
          (a.cast("double") - b.cast("double")) *
            (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("d2").asc, col("neighbor_id").asc)
      aniso.as("c").join(broadcast(q), col("query_id") =!= col("c.vec_id"))
        .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
          d2.as("d2"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= 5)
        .select("query_id", "neighbor_id")
    }.cache()
    anisoTruth.count()
    def recallAniso(approx: => DataFrame): (Double, Double) = {
      val r = Harness.run(spark) {
        anisoTruth.join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id")).count()
      }
      (r.value.toDouble / (nQ * 5.0), r.secs)
    }
    // pit = PCA power-iteration count: the 0.82-decay spectrum has
    // adjacent-eigenvalue ratio 0.82, so per-deflation convergence goes
    // like 0.82^pit — 4 (0.45/deflation) leaves the basis approximate,
    // 24 (0.009) resolves it; the fit is driver-side over one 64x64
    // covariance, so iterations are microseconds and never touch the
    // cluster. Both are swept to price the knob.
    for ((m, cbk, it, pit) <- Seq(
        (8, 16, 0, 4), (8, 64, 0, 4), (8, 256, 0, 4),
        (8, 64, 3, 4), (8, 256, 3, 4),
        (8, 64, 0, 24), (8, 256, 0, 24),
        (8, 64, 3, 24), (8, 256, 3, 24))) {
      val (rp, tp) = recallAniso(
        Ann.pqTopK(aniso, anisoQ, 5, m, cbk, codebookIters = it))
      val (ro, to) = recallAniso(
        Ann.opqPqTopK(aniso, anisoQ, 5, m, cbk, pcaIters = pit,
          codebookIters = it))
      println(f"| PQ vs OPQ, ANISO corpus | m=$m, $cbk codes, lloyd=$it, pca=$pit " +
        f"| PQ $rp%.3f → OPQ $ro%.3f | $m bytes/vec | ${tp + to}%.1f |")
    }
    }
    // IVF×PQ: list pruning AND compressed scoring — recall vs the candidate
    // fraction an ADC lookup actually sees (the production shape).
    if (phase("ivfpq")) for ((c, np, ma, m, cbk, it) <- Seq(
        (64, 4, 2, 8, 64, 0), (64, 4, 2, 8, 256, 0), (128, 4, 2, 8, 256, 0),
        (64, 8, 2, 8, 256, 0), (64, 4, 2, 8, 256, 3), (128, 4, 2, 16, 256, 3))) {
      val (r, s, _) = recallAndTime(Ann.ivfPqTopK(emb, queries, 5, c, np, ma,
        m, cbk, codebookIters = it))
      println(f"| IVF×PQ | $c cents, nprobe=$np, assign=$ma; m=$m, $cbk codes, lloyd=$it " +
        f"| $r%.3f | ~${corpusN * np * ma / c} @ $m B/vec | $s%.1f |")
    }
    // IVF×PQ + exact re-rank (IVFADC+R): the compressed shortlist's top-R
    // re-scored on raw vectors — how much recall the rerank recovers.
    if (phase("rerank")) for ((c, np, ma, m, cbk, rr) <- Seq(
        (128, 4, 2, 8, 256, 25), (128, 4, 2, 8, 256, 50),
        (128, 4, 2, 8, 64, 50), (128, 4, 2, 8, 16, 100))) {
      val (r, s, _) = recallAndTime(Ann.ivfPqRerankTopK(emb, queries, 5, rr,
        c, np, ma, m, cbk))
      println(f"| IVF×PQ+R | $c cents, nprobe=$np, assign=$ma; m=$m, $cbk codes, rerank=$rr " +
        f"| $r%.3f | ~${corpusN * np * ma / c} @ $m B + $rr exact | $s%.1f |")
    }
    spark.stop()
  }
}
