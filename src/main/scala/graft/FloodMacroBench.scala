package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.FloodPipeline

/** Macro benchmark: the flood `forecast` job at the reference's REAL
  * working-set shape (BASELINE.md): Central-Africa ROI 23°×70° at 0.05°
  * (460×1400 = 644k cells), ~51 ensemble members, 30 lead-times
  * ≈ 985M forecast rows — generated distributed, run through the full
  * composed pipeline (threshold join, exceedance flags, grouped exact
  * quantiles, control/peak/tendency/intensity, WKT), both sinks counted.
  *
  * The reference's only hard number is the 43 000 s job ceiling
  * (jobs.py:16-21); this prints the wall-clock for direct comparison.
  * Usage: FloodMacroBench [members] [steps] (defaults 51 30).
  */
object FloodMacroBench {
  def main(args: Array[String]): Unit = {
    val members = args.headOption.map(_.toInt).getOrElse(51)
    val steps = args.drop(1).headOption.map(_.toInt).getOrElse(30)
    // at full size the quantile groupBy shuffles ~40 GB through an
    // 8 GB heap: more, smaller partitions keep each sort run in memory
    // (spill-aware sizing)
    val spark = Session(partitionsPerCpu = 12)

    val nLat = 460; val nLon = 1400 // 23° × 70° @ 0.05° (config.py:5-15)
    // read the ROI grid through the custom DSv2 source (partition-planned)
    val grid = spark.read.format("graft-grid")
      .option("latMax", 17.0).option("lonMin", -18.0).option("res", 0.05)
      .option("nLat", nLat).option("nLon", nLon)
      .option("partitions", Session.cpus * 2)
      .load()

    // Deterministic pseudo-random discharge per (cell, member, step):
    // positive, heavy-tailed-ish, ~5% of cells flooding.
    val forecast = grid
      .withColumn("number", explode(sequence(lit(1), lit(members))))
      .withColumn("step", explode(sequence(lit(1), lit(steps))))
      .withColumn("issued_on", lit("2023-10-01").cast("date"))
      .withColumn("valid_for", expr("date_add(DATE'2023-10-01', step)"))
      .withColumn("h", abs(xxhash64(col("latitude"), col("longitude"),
        col("number"), col("step"))))
      .withColumn("flood_cell",
        (abs(xxhash64(col("latitude"), col("longitude"))) % 20 === 0))
      .withColumn("dis24",
        when(col("flood_cell"),
          lit(80.0) + (col("h") % 1000).cast("double") / 10.0)
          .otherwise(lit(10.0) + (col("h") % 400).cast("double") / 10.0))
      .drop("h", "flood_cell")

    val thresholds = grid
      .withColumn("threshold_2y", lit(50.0))
      .withColumn("threshold_5y", lit(90.0))
      .withColumn("threshold_20y", lit(140.0))

    val t0 = System.nanoTime()
    val (detailed, summary) = FloodPipeline.run(forecast, thresholds)
    val nSummary = summary.count()
    val nDetailed = detailed.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = nLat.toLong * nLon * members * steps
    println(f"""{"metric":"flood_macro","value":$secs%.1f,"unit":"sec","input_rows":$rows,"summary_rows":$nSummary,"detailed_rows":$nDetailed,"members":$members,"steps":$steps,"reference_ceiling_sec":43000}""")
    spark.stop()
  }
}
