package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, count, isnan, lit, sum}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.sources.grib.Grib2Writer
import graft.sources.nc.Hdf5Writer
import graft.sources.tiff.TiffWriter
import graft.sources.v2.{GridInputPartition, GridReaderFactory, GridSpec}
import graft.sources.zarr.ZarrStore

/** Every `graft-*` raster scan reads columnar batches: it plans as a
  * columnar `BatchScanExec` under `ColumnarToRow`, also when pushdown
  * prunes it to no partition, and a read of no column (a bare count)
  * or of the value alone counts the cells the full read returns.
  */
class ColumnarScanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = Files.createTempDirectory("graft-columnar")
  private val lats = Array.tabulate(30)(i => 42.0 - i * 0.5)
  private val lons = Array.tabulate(70)(j => 3.0 + j * 0.5)
  private def hole(i: Int, j: Int) = (i * 3 + j) % 11 == 0
  private def v(i: Int, j: Int) = ((i * 13 + j * 5) % 97 + 1).toDouble
  private val present = for {
    i <- lats.indices; j <- lons.indices if !hole(i, j)
  } yield (lats(i), lons(j), v(i, j))
  private val all = lats.length * lons.length

  /** (name, reader, cells a full read returns, cells with a value that
    * is not NaN, the sum of those values)
    */
  private lazy val sources: Seq[(String, () => DataFrame, Long, Long, Double)] = {
    val grid = present.toDF("latitude", "longitude", "value")
    val nc = dir.resolve("g.nc").toString
    // NetCDF cells are dense: a hole reads as the writer's fill value
    Hdf5Writer.writeGrid(
      (for (i <- lats.indices; j <- lons.indices) yield (lats(i), lons(j), v(i, j).toFloat))
        .toDF("latitude", "longitude", "value"),
      nc, "v", "latitude", "longitude", "value", lats, lons, chunkRows = 8)
    val zarr = dir.resolve("z").toString
    ZarrStore.writeGrid(grid, zarr, "v", "latitude", "longitude", "value",
      lats, lons, chunkRows = 8, chunkCols = 32)
    val cog = dir.resolve("g.tif").toString
    TiffWriter.writeGrid(
      present.map { case (la, lo, x) => (lo, la, x.toInt) }.toDF("x", "y", "value"),
      cog, "x", "y", "value", 2.75, 42.25, 0.5, 0.5, lons.length, lats.length,
      tileW = 32, tileH = 16, bits = 16)
    val grib = dir.resolve("g.grib2").toString
    Grib2Writer.writeEnsemble(
      present.map { case (la, lo, x) => (0, la, lo, x) }
        .toDF("number", "latitude", "longitude", "value"),
      grib, lats, lons)
    val sumPresent = present.map(_._3).sum
    val sumAll = (for (i <- lats.indices; j <- lons.indices) yield v(i, j)).sum
    val r = spark.read
    val (dense, holed) = (all.toLong, present.size.toLong)
    Seq(
      ("netcdf", () => r.format("graft-netcdf").option("path", nc).option("var", "v")
        .option("partitions", "3").load(), dense, dense, sumAll),
      ("zarr", () => r.format("graft-zarr").option("path", zarr).option("var", "v").load(),
        holed, holed, sumPresent),
      ("cog", () => r.format("graft-cog").option("path", cog).option("nodata", "0").load(),
        holed, holed, sumPresent),
      // GRIB keeps every grid point: a hole is a NaN value
      ("grib", () => r.format("graft-grib").option("path", grib).load(),
        dense, holed, sumPresent),
      // the grid has no value: its one-column read is of longitude
      ("grid", () => r.format("graft-grid").option("latMax", 42.0).option("lonMin", 3.0)
        .option("res", 0.5).option("nLat", lats.length).option("nLon", lons.length)
        .option("partitions", "3").load(), dense, dense, lons.sum * lats.length))
  }

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }

  test("every graft raster scan plans columnar, pruned to nothing or not") {
    for ((name, load, _, _, _) <- sources) {
      val coord = if (name == "cog") "y" else "latitude"
      for (df <- Seq(load(), load().filter(col(coord) > 1e6))) {
        val bs = scans(df)
        assert(bs.size == 1 && bs.forall(_.supportsColumnar), s"$name: $bs")
        assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          s"$name: ${df.queryExecution.executedPlan}")
      }
      assert(load().filter(col(coord) > 1e6).count() == 0, name)
    }
  }

  test("a read of no column and a read of the value alone count every cell") {
    for ((name, load, cells, valid, total) <- sources) {
      val counted = load().groupBy().count()
      assert(scans(counted).map(_.output.size) == Seq(0), s"$name: count() reads columns")
      assert(counted.head().getLong(0) == cells, s"$name: count()")
      val c = if (name == "grid") "longitude" else "value"
      val x = col(c).cast("double")
      val one = load().filter(!isnan(x)).agg(count(lit(1)), sum(x))
      assert(scans(one).map(_.output.map(_.name)) == Seq(Seq(c)), s"$name: $c-only read")
      val row = one.head()
      assert(row.getLong(0) == valid, s"$name: $c-only count")
      assert(row.getDouble(1) == total, s"$name: $c sum")
    }
  }

  test("the row reader fails with a message") {
    val f = new GridReaderFactory(GridSpec(0, 0, 1, 1, 1, 1), new StructType(), 0, 1)
    val e = intercept[UnsupportedOperationException](f.createReader(GridInputPartition(0, 1)))
    assert(e.getMessage.contains("columnar batches only"), e.getMessage)
  }
}
