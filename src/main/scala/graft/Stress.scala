package graft

import org.apache.spark.sql.functions._

import graft.functions.RangeKernel
import graft.operators.{Grid, Resample}

/** Scale-stress sweep: blow the collection up by replica factors (a `replica`
  * label multiplies the series count; samples per series stay fixed) and run
  * the full unfiltered rate() pipeline over the whole collection at each
  * factor. Wall-clock growing sub-linearly in the factor is the signature of
  * the partition-parallel design (more series = more parallelism; per-series
  * work is bounded by samples-per-series + grid length).
  *
  * Two axes: `series` (default) multiplies the series count with replica
  * labels — the horizontal-scale axis (expect sub-linear wall-clock);
  * `samples` time-shifts whole copies of the collection so each series gets
  * factor× more samples — the per-partition-depth axis (expect ~linear,
  * bounded by samples-per-series; a cluster cannot parallelize inside one
  * series beyond the sort).
  *
  * Usage: runMain graft.Stress [sfDir] [factors csv, default 1,8,32] [series|samples]
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,8,32").split(",").map(_.trim.toInt).toSeq
    val axis = args.lift(2).getOrElse("series")
    val spark = Harness.session("graft-stress")
    Harness.warmUp(spark)

    val base = queries.TsQueries.events(spark, sfDir)
    val grid = queries.TsQueries.grid

    val span = 30 * 86400.0 // the testdata's one-month window
    val results = factors.map { f =>
      val blown =
        if (f == 1) base
        else if (axis == "samples")
          // time-shifted copies: same series keys, f× samples per series
          base.crossJoin(spark.range(f).select(col("id").cast("double").as("__s__")))
            .withColumn(Model.TsCol, col(Model.TsCol) + col("__s__") * span)
            .drop("__s__")
        else
          base.crossJoin(spark.range(f).select(col("id").cast("string").as("__r__")))
            .withColumn("labels",
              map_concat(col("labels"), map(lit("replica"), col("__r__"))))
            .drop("__r__")
      val samples = Model.withSkey(blown)
      def once(): Double = Harness.run(spark) {
        Resample.kernel(samples, grid, RangeKernel.Rate, 3600.0, 0.0).write.format("noop").mode("overwrite").save()
      }.secs
      val secs = math.min(once(), once()) // best-of-2: first run pays codegen warmup
      val nSeries = samples.select("skey").distinct().count()
      val nSamples = samples.count()
      println(f"STRESS axis=$axis%s factor=$f%d series=$nSeries%d samples=$nSamples%d rate_full=$secs%.1f s")
      (f, nSeries, nSamples, secs)
    }
    val line = results.map { case (f, se, sa, s) =>
      s"""{"axis":"$axis","factor":$f,"series":$se,"samples":$sa,"secs":$s}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("stress_out.json"), line + "\n")
    spark.stop()
  }
}
