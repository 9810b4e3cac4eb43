package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR with a
  * noop-sink write (forces full materialization — `.count()` would let parquet
  * scans short-circuit to row-group metadata). Emits ONE JSON line on stdout
  * (unprefixed — build.sbt sets OutputStrategy.StdoutOutput for forked runs)
  * and mirrors it to bench_out.json for file-based pickup.
  *
  * Load defenses (each added after a real corrupted artifact): pre-run
  * calibration with backoff, MID-FLEET calibration every 15 queries
  * (r16: a 42-minute fleet's loaded middle hid between two quiet
  * endpoint probes), per-query median-of-N with spread-triggered
  * reruns, and a post-fleet SOLO re-run of the slowest 10 published as
  * a second column — a load-inflated fleet median self-corrects inside
  * one artifact, and any fleet/solo ratio > 1.5 self-flags it.
  *
  * r18 — RECOVERY, not just detection (r17 shipped two consecutive
  * rounds with no comparable total because the box never calmed):
  * every calibration probe is IDLE-GATED (a dirty reading backs off and
  * re-probes before the next span starts, so one loaded stretch stops
  * poisoning everything after it); after the fleet, the queries of any
  * span whose bracketing probes read dirty are RE-RUN under their own
  * probe bracket (span-driven — a mid-tier query inflated ×3 no longer
  * keeps its dirty fleet median as its only number); and the artifact
  * publishes a per-query `honest` column = min over the columns whose
  * bracketing calibrations were BOTH clean (fleet median, span re-run,
  * slow-10 solo), plus `honest_total` when every non-failed query has
  * one — the round-over-round comparable. calib_solo now participates
  * in load_warning, and a dirty solo bracket disables the fleet/solo
  * ratio flag instead of silently validating the fleet (r17 advice).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")
    Harness.warmUp(spark)

    // Queries must not inherit each other's heap: operators that checkpoint
    // (duplicateClusters) leave their final frame persisted, and 50+ queries
    // of leftovers turn into GC stalls attributed to whichever query runs
    // when the heap finally fills. Drop everything between queries.
    def clearState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c limits the run (local iteration); the
    // driver never sets it, so the published line always covers every query.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val runsN = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)

    // Machine-load calibration: a fixed reference computation timed before
    // and after the fleet. If the two disagree wildly, or either is far off
    // its historical ~0.1-0.2 s, the whole artifact was taken under load
    // and totals should not be compared round-over-round.
    def calibrate(): Double = Harness.run(spark) {
      spark.range(20000000).selectExpr("id % 1021 as k", "id as v")
        .groupBy("k").agg(org.apache.spark.sql.functions.expr("sum(v)"))
        .selectExpr("sum(`sum(v)`)").collect()
    }.secs
    // Clean-machine historical band for the probe is ~0.48-0.66 s
    // (r8-r12 quiet runs). A probe beyond 2× that ceiling means the next
    // span would be timed under external load (r12 published three ×7-8
    // phantom "regressions" exactly this way). EVERY probe is idle-gated:
    // a dirty first reading backs off and re-probes up to 3× before the
    // run continues — the first reading is what brackets the span just
    // finished (honesty), the settled reading is what brackets the span
    // about to start (recovery). If the machine never calms, continue
    // anyway and let the bracket bookkeeping mark what it saw.
    val CalibClean = 0.66
    def dirty(c: Double): Boolean = c > CalibClean * 2
    def probeGated(tag: String): (Double, Double) = {
      val first = calibrate()
      var settled = first
      var tries = 0
      while (dirty(settled) && tries < 3) {
        System.err.println(f"[bench] $tag probe $settled%.3f s exceeds 2x the " +
          f"clean band (${CalibClean}%.2f s) - machine under load; waiting 30 s " +
          s"(retry ${tries + 1}/3)")
        Thread.sleep(30000)
        tries += 1
        settled = math.min(settled, calibrate())
      }
      (first, settled)
    }
    val (_, calibPre) = probeGated("pre-fleet")

    val gcPerQuery = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      clearState()
      try {
        val r = Harness.run(spark)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        gcPerQuery(name) = gcPerQuery.getOrElse(name, 0.0) + r.gcMs / 1e3
        r.secs
      } catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1.0 }
    }
    def median(rs: Seq[Double]): Double =
      if (rs.exists(_ < 0)) -1.0 else rs.sorted.apply(rs.size / 2)

    // Mid-fleet calibration (r16 postmortem): the pre/post-only probes
    // bracketed a 42-minute fleet whose MIDDLE ran ×3-110 under ambient
    // load and read clean on both ends — the r16 artifact published
    // pack_blocks at 88.7 s (solo: 0.8 s) with load_warning:false. The
    // probe now ALSO runs every `CalibEvery` queries; any mid-probe
    // beyond 2× the clean band flags the artifact and records which
    // query span was dirty, so a loaded stretch can never again hide
    // between two quiet endpoints.
    val CalibEvery = 15
    val calibMid = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var sinceProbe = 0
    // span bookkeeping for the honest column: each query belongs to the
    // span between two probes; a span is CLEAN iff the settled reading
    // that opened it and the first reading that closed it are both inside
    // the band. spanStart carries the settled reading forward.
    var spanId = 0
    var spanStart = calibPre
    val spanBracket = scala.collection.mutable.Map.empty[Int, (Double, Double)]
    val spanOf = scala.collection.mutable.Map.empty[String, Int]

    val fleet = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = fleet.map { case (name, fn) =>
      // runsN timed runs per query; the published per-query number is the
      // MEDIAN (stable against one lucky or unlucky run), with min/max
      // alongside so a stall recurrence is visible in the artifact itself.
      // A spread of max/min > 3 means a run was hit by external load or a
      // GC stall, not the query — rerun the whole set (≤2 retries) and
      // publish the tightest attempt, so no published row carries a >3×
      // spread unless the machine never calmed down. GC time is attributed
      // across all runs so a stall shows up next to the query it hit.
      def attempt(): Seq[Double] = Seq.fill(runsN)(timeOne(name, fn))
      var runs = attempt()
      var retries = 0
      def spread(rs: Seq[Double]): Double =
        if (rs.exists(_ <= 0)) Double.MaxValue else rs.max / rs.min
      while (spread(runs) > 3.0 && !runs.exists(_ < 0) && retries < 2) {
        retries += 1
        System.err.println(f"[bench] $name spread ${spread(runs)}%.1fx - rerunning (attempt ${retries + 1})")
        val next = attempt()
        if (spread(next) < spread(runs)) runs = next
      }
      val secs = median(runs)
      System.err.println("[bench] " + name + " runs: " +
        runs.map(r => f"$r%.3f").mkString(","))
      spanOf(name) = spanId
      sinceProbe += 1
      if (sinceProbe >= CalibEvery) {
        sinceProbe = 0
        val (first, settled) = probeGated(s"mid-fleet (after $name)")
        calibMid += name -> first
        if (dirty(first)) System.err.println(
          f"[bench] mid-fleet calibration $first%.3f s after $name exceeds the " +
          f"clean band (≤${CalibClean}%.2f s) - this span ran under load")
        spanBracket(spanId) = (spanStart, first)
        spanId += 1
        spanStart = settled
      }
      (name, secs, if (secs < 0) -1.0 else runs.min, if (secs < 0) -1.0 else runs.max)
    }
    val (calibPost, calibPostSettled) = probeGated("post-fleet")
    spanBracket(spanId) = (spanStart, calibPost)
    def spanClean(name: String): Boolean = spanBracket.get(spanOf(name))
      .exists { case (a, b) => !dirty(a) && !dirty(b) }

    // Span-driven re-runs (r18): every query whose fleet span had a dirty
    // bracket gets re-timed AFTER the fleet under its own probe bracket —
    // not just the slowest 10, so a mid-tier query inflated ×3 no longer
    // keeps its dirty fleet median as its only number. The re-run block
    // opens on the post-fleet SETTLED reading (idle-gated) and closes on
    // its own probe; its numbers count as honest only if both are clean.
    val fnByName = fleet.toMap
    val dirtySpanQueries = results
      .filter(r => r._2 >= 0 && !spanClean(r._1)).map(_._1)
    val spanRerun = dirtySpanQueries.map { name =>
      name -> median(Seq.fill(runsN)(timeOne(name, fnByName(name))))
    }
    val (rerunEnd, rerunEndSettled) =
      if (dirtySpanQueries.isEmpty) (calibPost, calibPostSettled)
      else probeGated("post-rerun")
    val rerunClean = !dirty(calibPostSettled) && !dirty(rerunEnd)

    // Post-fleet solo column (r16 postmortem, part 2): re-time the
    // slowest 10 back-to-back AFTER the fleet, bracketed by their own
    // probes. A genuinely heavy query reads ~equal in both columns; a
    // load-inflated one collapses (r16's pack_blocks: 88.7 fleet vs
    // 0.8 solo would have self-corrected inside one artifact). Any
    // fleet/solo ratio > 1.5 flags the artifact.
    val slow10 = results.filter(_._2 >= 0).sortBy(-_._2).take(10).map(_._1)
    val slow10Solo = slow10.map { name =>
      name -> median(Seq.fill(runsN)(timeOne(name, fnByName(name))))
    }
    val calibSolo = calibrate()
    val soloClean = !dirty(rerunEndSettled) && !dirty(calibSolo)
    val fleetByName = results.map(r => r._1 -> r._2).toMap
    // ratio check only meaningful at runsN >= 3 (a single-run fleet median
    // IS the cold-codegen run, and the warm solo re-run would read as a
    // phantom 2-3× "inflation" on every query) AND under a clean solo
    // bracket — a loaded solo pass inflates solo times, shrinks the
    // ratios, and would silently validate a dirty fleet (r17 advice)
    val soloDirty = if (runsN < 3 || !soloClean) Seq.empty[String]
      else slow10Solo.filter { case (n, s) =>
        s > 0 && fleetByName(n) / s > 1.5 }.map(_._1)
    if (soloDirty.nonEmpty) System.err.println(
      "[bench] fleet/solo ratio > 1.5x for: " + soloDirty.mkString(", ") +
      " - fleet medians for these queries were load-inflated")

    // The honest column: per query, the MIN over the measurement columns
    // whose bracketing calibrations were BOTH clean (fleet median under a
    // clean span, span re-run under a clean re-run bracket, slow-10 solo
    // under a clean solo bracket). honest_total sums it when EVERY
    // non-failed query has one — the only total worth comparing
    // round-over-round; honest_missing names the queries that never got
    // a clean measurement (machine never calmed).
    val spanRerunMap = spanRerun.toMap
    val soloMap = slow10Solo.toMap
    val honest = results.flatMap { case (name, secs, _, _) =>
      if (secs < 0) None
      else {
        // solo values join only at runsN >= 3 (the soloDirty rule: a
        // single-run fleet median is the cold-codegen run, and the warm
        // solo would win the min on warmth, not cleanliness)
        val cands = Seq(
          if (spanClean(name)) Some(secs) else None,
          spanRerunMap.get(name).filter(v => v >= 0 && rerunClean),
          soloMap.get(name).filter(v => v >= 0 && soloClean && runsN >= 3))
          .flatten
        if (cands.isEmpty) None else Some(name -> cands.min)
      }
    }
    val honestMissing = results.filter(_._2 >= 0).map(_._1)
      .filterNot(honest.map(_._1).toSet)
    val honestTotal =
      if (honestMissing.isEmpty && results.forall(_._2 >= 0))
        honest.map(_._2).sum
      else -1.0
    if (honestMissing.nonEmpty) System.err.println(
      "[bench] no clean-bracketed measurement for: " +
        honestMissing.mkString(", "))
    def jmap(vs: Seq[(String, Double)]): String =
      vs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val qs = jmap(results.map(r => r._1 -> r._2))
    val qsMin = jmap(results.map(r => r._1 -> r._3))
    val qsMax = jmap(results.map(r => r._1 -> r._4))
    val total = results.map(_._2).filter(_ >= 0).sum
    val gcTotal = gcPerQuery.values.sum
    val gcHot = gcPerQuery.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => f"$k=$v%.2fs" }.mkString(", ")
    System.err.println(f"[bench] gc total $gcTotal%.2fs; top: $gcHot")
    // The stdout line is what the driver captures into BENCH_r{N}.json, and
    // the capture proved lossy for long lines TWICE (r10 lost the first 16
    // queries, r11 — after a first "compact line" pass — still lost 30: the
    // capture keeps only a ~4 KB tail). A full 115-query map cannot fit, so
    // stdout now carries totals + calibration + the SLOWEST 15 medians only
    // (~0.6 KB — always inside the tail window, always parseable), plus the
    // query count so a truncated fleet is detectable. bench_out.json is the
    // canonical full artifact: every median plus min/max spread.
    val slow15 = jmap(results.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map(r => r._1 -> r._2))
    val nQueries = results.size
    val nFailed = results.count(_._2 < 0)
    val dirtySpans = calibMid.filter(c => dirty(c._2)).map(_._1)
    // load_warning = some published column was taken under load: the
    // fleet bracket (pre/post/mid), a fleet median exposed by the solo
    // ratio, OR the solo bracket itself (calib_solo participates now —
    // r17 advice: a loaded solo pass must not silently validate a dirty
    // fleet). The honest column is the recovery: it only carries
    // clean-bracketed numbers, so honest_total stays comparable even
    // when load_warning is true — as long as honest_missing is empty.
    val loadWarn = dirty(calibPre) || dirty(calibPost) ||
      dirtySpans.nonEmpty || soloDirty.nonEmpty || dirty(calibSolo)
    if (loadWarn) System.err.println(f"[bench] LOAD WARNING: calibration " +
      f"pre/post/solo $calibPre%.3f/$calibPost%.3f/$calibSolo%.3f s vs clean " +
      f"band ≤${CalibClean}%.2f s, " +
      s"dirty mid-fleet spans: [${dirtySpans.mkString(",")}], " +
      s"fleet/solo>1.5x: [${soloDirty.mkString(",")}] - " +
      "raw totals are not comparable round-over-round; use honest_total")
    val calibMidJson = jmap(calibMid.toSeq.map { case (n, c) => s"after_$n" -> c })
    val soloJson = jmap(slow10Solo)
    val rerunJson = jmap(spanRerun)
    val honestJson = jmap(honest)
    val dirtyJson = dirtySpans.map("\"" + _ + "\"").mkString("[", ",", "]")
    val missingJson = honestMissing.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":$nQueries,"n_failed":$nFailed,"queries":$slow15,"queries_note":"slowest 15 of $nQueries fleet medians; solo column in slow10_solo; full map + honest column in bench_out.json","slow10_solo":$soloJson,"honest_total":$honestTotal%.3f,"n_honest_missing":${honestMissing.size},"calib_pre":$calibPre%.3f,"calib_post":$calibPost%.3f,"calib_solo":$calibSolo%.3f,"calib_mid_dirty":$dirtyJson,"load_warning":$loadWarn,"sf":"$sfDir"}"""
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_min":$qsMin,"queries_max":$qsMax,"slow10_solo":$soloJson,"span_rerun":$rerunJson,"rerun_clean":$rerunClean,"solo_clean":$soloClean,"honest":$honestJson,"honest_total":$honestTotal%.3f,"honest_missing":$missingJson,"calib_pre":$calibPre%.3f,"calib_post":$calibPost%.3f,"calib_solo":$calibSolo%.3f,"calib_mid":$calibMidJson,"calib_mid_dirty":$dirtyJson,"load_warning":$loadWarn,"sf":"$sfDir"}"""
    println(line)
    Files.writeString(Paths.get("bench_out.json"), full + "\n")
    spark.stop()
  }
}
