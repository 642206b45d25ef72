package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared DSv2 skeleton (`sources/v2/GraftSource`): every `graft-*`
  * option is one key whatever its case, `=` on a coordinate prunes like a
  * closed range, and pushdown never decides which rows come back.
  */
class SourceOptionsSpec extends SparkSpec {

  private val data = "data"

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** The rows read with option `key` spelled as given, after checking
    * that they equal the rows read with it lowercased.
    */
  private def sameRows(fmt: String, key: String, value: String)(
      base: DataFrameReader => DataFrameReader): Seq[Row] = {
    def read(k: String) = rows(base(spark.read.format(fmt)).option(k, value).load())
    val (mixed, lower) = (read(key), read(key.toLowerCase))
    if (mixed != lower)
      fail(s"$fmt: $key=$value read ${mixed.size} rows, ${key.toLowerCase} ${lower.size}")
    mixed
  }

  private def planned(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions.size }.sum

  test("graft-cog noData drops the sentinel like nodata") {
    val mixed = sameRows("graft-cog", "noData", "0")(
      _.option("path", s"$data/lossyear_tiled.tif"))
    assert(mixed.size == 3673)
  }

  test("graft-zarr keepNaN and latVar read like their lowercase spellings") {
    val base = (r: DataFrameReader) => r.option("path", s"$data/uparea.zarr").option("var", "uparea")
    assert(sameRows("graft-zarr", "keepNaN", "true")(base).size == 3840)
    // the lon vector as latitudes: a value unlike the default proves the key is read
    val differsFromDefault =
      sameRows("graft-zarr", "latVar", "lon")(base) != rows(base(spark.read.format("graft-zarr")).load())
    assert(differsFromDefault)
  }

  test("graft-netcdf latVar reads like latvar") {
    assert(sameRows("graft-netcdf", "latVar", "time")(
      _.option("path", s"$data/classic_rec.nc").option("var", "v").option("lonvar", "cell"))
      .nonEmpty)
  }

  test("graft-grib WITHSTEP adds step_hours like withstep") {
    val mixed = sameRows("graft-grib", "WITHSTEP", "true")(
      _.option("path", s"$data/e2e_pf.grib2"))
    assert(mixed.head.schema.fieldNames.contains("step_hours"))
  }

  test("graft-shp idField reads like idfield") {
    assert(sameRows("graft-shp", "idField", "HYBAS_ID")(
      _.option("path", s"$data/basins.shp")).size == 25)
  }

  test("graft-grid LATMAX reads like latmax") {
    val mixed = sameRows("graft-grid", "LATMAX", "2.0")(
      _.option("lonMin", 10.0).option("res", 0.5).option("nLat", 6).option("nLon", 4))
    assert(mixed.map(_.getDouble(0)).max == 2.0)
  }

  test("graft-zarr latitude = max(latitude) plans 3 of 9 chunks") {
    val df = spark.read.format("graft-zarr")
      .option("path", s"$data/uparea.zarr").option("var", "uparea").load()
    val top = df.agg(max("latitude")).head().getDouble(0)
    val pruned = df.filter(col("latitude") === top)
    assert(planned(df) == 9)
    assert(planned(pruned) == 3)
    val sameAsPostFilter = rows(pruned) == rows(df).filter(_.getDouble(0) == top)
    assert(sameAsPostFilter)
  }

  test("graft-cog x = min(x) AND y = max(y) plans 1 of 9 tiles") {
    val df = spark.read.format("graft-cog").option("path", s"$data/lossyear_tiled.tif").load()
    val corner = df.agg(min("x"), max("y")).head()
    val (x0, y0) = (corner.getDouble(0), corner.getDouble(1))
    val pruned = df.filter(col("x") === x0 && col("y") === y0)
    assert(planned(df) == 9)
    assert(planned(pruned) == 1)
    val sameAsPostFilter =
      rows(pruned) == rows(df).filter(r => r.getDouble(0) == x0 && r.getDouble(1) == y0)
    assert(sameAsPostFilter)
    assert(rows(pruned).size == 1)
  }

  test("graft-netcdf latitude = v plans fewer row bands") {
    val df = spark.read.format("graft-netcdf").option("path", s"$data/classic_rec.nc")
      .option("var", "v").option("latVar", "time").option("lonVar", "cell").load()
    val first = df.agg(min("latitude")).head().getDouble(0)
    val pruned = df.filter(col("latitude") === first)
    assert(planned(pruned) < planned(df))
    val sameAsPostFilter = rows(pruned) == rows(df).filter(_.getDouble(0) == first)
    assert(sameAsPostFilter)
  }

  test("graft-grid: an extreme literal does not overflow the index window") {
    val grid = spark.read.format("graft-grid").option("latMax", 2.0).option("lonMin", 10.0)
      .option("res", 0.5).option("nLat", 6).option("nLon", 4).load()
    assert(grid.filter(col("latitude") >= -1e300 && col("longitude") <= 1e300).count() == 24)
  }

  test("graft-netcdf: a NaN literal prunes nothing") {
    // Spark orders NaN above every value: `<= NaN` holds on every row
    val nc = spark.read.format("graft-netcdf").option("path", s"$data/classic_rec.nc")
      .option("var", "v").option("latvar", "time").option("lonvar", "cell").load()
    val from = nc.filter(col("latitude") >= 1000.0)
    assert(from.count() > 0)
    assert(from.filter(col("latitude") <= lit(Double.NaN)).count() == from.count())
  }
}
