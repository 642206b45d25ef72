package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.DeforestationPipeline

/** Macro benchmark for the deforestation pipeline at a GFC-tile-like
  * working set: an nPx×nPx loss raster (default 14142² ≈ 200M pixels —
  * the reference processes 40000² tiles in 4096² dask chunks,
  * global_forest_watch.py:66,156) through BOTH outputs: per-year block
  * coarsen and per-basin dense zonal counts with first-cell areas.
  * Usage: DeforestationMacroBench [nPx] [nBasinsPerSide]
  */
object DeforestationMacroBench {
  def main(args: Array[String]): Unit = {
    val nPx = args.headOption.map(_.toInt).getOrElse(14142)
    val basinsPerSide = args.drop(1).headOption.map(_.toInt).getOrElse(30)
    val spark = Session(partitionsPerCpu = 4)

    val res = 0.00025 // GFC ~30m pixels in degrees
    // pixel raster: x/y coordinates on a 10°-tile-like grid, lossyear 0..22
    // (~80% zero = no loss, like real GFC tiles)
    val px = spark.range(nPx.toLong)
      .select((col("id") * res + res / 2).as("y"),
        explode(expr(s"sequence(0, ${nPx - 1})")).as("j"))
      .select(col("y"), (col("j") * res + res / 2).as("x"))
      .withColumn("h", abs(xxhash64(col("x"), col("y"))))
      .withColumn("lossyear",
        when(col("h") % 5 === 0, (col("h") % 22 + 1).cast("int"))
          .otherwise(0))
      .drop("h")

    val span = nPx * res
    val basinSize = span / basinsPerSide
    val basins = spark.range(basinsPerSide.toLong * basinsPerSide)
      .select(col("id").as("HYBAS_ID"),
        ((col("id") % basinsPerSide) * basinSize).as("lat_min"),
        ((col("id") % basinsPerSide) * basinSize + basinSize).as("lat_max"),
        (floor(col("id") / basinsPerSide) * basinSize).as("lon_min"),
        (floor(col("id") / basinsPerSide) * basinSize + basinSize).as("lon_max"))
      .withColumn("basin_area", col("HYBAS_ID").cast("double") * 1.5)

    val t0 = System.nanoTime()
    val perYear = DeforestationPipeline.treeLossPerYear(px, 200 * res, 1, 22).count()
    val t1 = System.nanoTime()
    val perBasin = DeforestationPipeline
      .treeLossPerBasin(px, basins, res / 2, res / 2, res, 1, 22,
        indexCellSize = basinSize).count()
    val secs1 = (t1 - t0) / 1e9
    val secs2 = (System.nanoTime() - t1) / 1e9
    println(f"""{"metric":"deforestation_macro","value":${secs1 + secs2}%.1f,"unit":"sec","pixels":${nPx.toLong * nPx},"per_year_sec":$secs1%.1f,"per_year_rows":$perYear,"per_basin_sec":$secs2%.1f,"per_basin_rows":$perBasin}""")
    spark.stop()
  }
}
