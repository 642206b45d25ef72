package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.grib.Grib2Writer
import graft.sources.nc.Hdf5Writer
import graft.sources.tiff.TiffWriter
import graft.sources.zarr.ZarrStore

/** The raster readers refill one reused columnar batch per partition.
  * These specs read every column of a written grid along three paths
  * that hold on to rows differently — whole-stage codegen off,
  * `cache()`, and `df.rdd` — and check that no row aliases another: the
  * rows are exactly the expected (coordinates, value) set, and all
  * distinct. The small grids fit one batch; the large ones put more
  * than one 4096-cell batch in every partition, split rows across
  * batches, and put holes on both sides of a batch boundary.
  */
class RasterRowReuseSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-reuse").resolve(name).toString

  private def assertReadsBack(load: () => DataFrame, expected: Set[Seq[Any]]): Unit = {
    val key = "spark.sql.codegen.wholeStage"
    val ways: Seq[(String, () => Array[org.apache.spark.sql.Row])] = Seq(
      "codegen off" -> { () =>
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "false")
        try load().collect()
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      },
      "cache" -> { () =>
        val df = load().cache()
        try df.collect() finally df.unpersist(blocking = true)
      },
      "rdd" -> { () => load().rdd.collect() })
    for ((way, read) <- ways) {
      // NaN is no value equal to itself: compare its cells by name
      val rows = read().map(_.toSeq.map {
        case d: Double if d.isNaN => "NaN"
        case x => x
      }).toSeq
      assert(rows.distinct.size == rows.size,
        s"$way: ${rows.size - rows.distinct.size} duplicated rows")
      assert(rows.size == expected.size, s"$way: ${rows.size} of ${expected.size} rows")
      assert(rows.toSet == expected, s"$way: rows differ from the written grid")
    }
  }

  private val lats = Array.tabulate(9)(i => 42.0 - i * 0.5)
  private val lons = Array.tabulate(14)(j => 3.0 + j * 0.5)

  test("graft-netcdf: single and aligned multi-variable scans") {
    def f(k: Int)(i: Int, j: Int): Float = ((i * 13 + j * 5 + k * 7) % 41) * 0.25f
    val paths = (0 until 2).map { k =>
      val cells = for (i <- lats.indices; j <- lons.indices)
        yield (lats(i), lons(j), f(k)(i, j))
      val out = tmp(s"v$k.nc")
      Hdf5Writer.writeGrid(cells.toDF("latitude", "longitude", "value"), out, "v",
        "latitude", "longitude", "value", lats, lons, chunkRows = 4)
      out
    }
    val grid = for (i <- lats.indices; j <- lons.indices) yield (i, j)
    assertReadsBack(
      () => spark.read.format("graft-netcdf").option("path", paths(0))
        .option("var", "v").option("partitions", "3").load(),
      grid.map { case (i, j) => Seq(lats(i), lons(j), f(0)(i, j)) }.toSet)
    assertReadsBack(
      () => spark.read.format("graft-netcdf").option("paths", paths.mkString(","))
        .option("vars", "v").option("cols", "a,b").option("partitions", "3").load(),
      grid.map { case (i, j) => Seq(lats(i), lons(j), f(0)(i, j), f(1)(i, j)) }.toSet)
  }

  test("graft-cog: x, y and value of a tiled raster with nodata holes") {
    val (w, h, ox, oy, sx, sy) = (50, 40, 500000.0, 7000000.0, 30.0, 30.0)
    val px = for {
      r <- 0 until h; c <- 0 until w
      v = if ((c + r) % 9 == 0) 0 else (c * 13 + r * 7) % 997 + 1
      if v != 0
    } yield (ox + (c + 0.5) * sx, oy - (r + 0.5) * sy, v)
    val out = tmp("g.tif")
    TiffWriter.writeGrid(px.toDF("x", "y", "value"), out, "x", "y", "value",
      ox, oy, sx, sy, w, h, tileW = 32, tileH = 32, bits = 16)
    assertReadsBack(
      () => spark.read.format("graft-cog").option("path", out)
        .option("nodata", "0").load(),
      px.map { case (x, y, v) => Seq(x, y, v) }.toSet)
  }

  test("graft-zarr: a written 2-D store and the 3-D (t, lat, lon) fixture") {
    val cells = for {
      i <- lats.indices; j <- lons.indices if (i + j) % 4 != 0
    } yield (lats(i), lons(j), ((i * 11 + j * 3) % 89).toDouble)
    val store = tmp("z")
    ZarrStore.writeGrid(cells.toDF("latitude", "longitude", "value"), store, "v",
      "latitude", "longitude", "value", lats, lons, chunkRows = 4, chunkCols = 8)
    assertReadsBack(
      () => spark.read.format("graft-zarr").option("path", store)
        .option("var", "v").load(),
      cells.map { case (la, lo, v) => Seq(la, lo, v) }.toSet)

    // tools/zarr3_fixture.py: dis(t, lat, lon), t = 24 (t + 1) h
    val dis = for {
      t <- 0 until 6; r <- 0 until 40; c <- 0 until 64 if (t + r + c) % 7 != 0
    } yield Seq(24.0 * (t + 1), 55.0 - r * 0.05, 5.0 + c * 0.05,
      ((t * 101 + r * 13 + c * 7) % 419).toDouble)
    assertReadsBack(
      () => spark.read.format("graft-zarr").option("path", "data/uparea_v3.zarr")
        .option("var", "dis").load(),
      dis.toSet)
  }

  test("graft-grid: latitude and longitude of a banded grid") {
    assertReadsBack(
      () => spark.read.format("graft-grid").option("latMax", 42.0).option("lonMin", 3.0)
        .option("res", 0.5).option("nLat", lats.length).option("nLon", lons.length)
        .option("partitions", "3").load(),
      (for (i <- lats.indices; j <- lons.indices) yield Seq(lats(i), lons(j))).toSet)
  }

  test("graft-grib: every column, withStep, over members and steps") {
    val cells = for {
      s <- Seq(24, 48); m <- 0 until 3; i <- lats.indices; j <- lons.indices
    } yield (s, m, lats(i), lons(j), ((s * 5 + m * 31 + i * 7 + j * 3) % 997).toDouble)
    val out = tmp("e.grib2")
    Grib2Writer.writeEnsemble(
      cells.toDF("step", "number", "latitude", "longitude", "value"),
      out, lats, lons, stepCol = Some("step"))
    assertReadsBack(
      () => spark.read.format("graft-grib").option("path", out)
        .option("withStep", "true").load(),
      cells.map { case (s, m, la, lo, v) =>
        Seq(if (m == 0) "cf" else "pf", m, s, la, lo, v)
      }.toSet)
  }

  private val bigLats = Array.tabulate(90)(i => 60.0 - i * 0.25)
  private val bigLons = Array.tabulate(130)(j => 5.0 + j * 0.25)

  /** Holes of a tile or chunk of `cols` columns, by its local cell
    * index: 4090 cells, six holes, six cells (the first batch ends
    * there), eight holes, and past 4200 a scattered seventh.
    */
  private def hole(cols: Int)(r: Int, c: Int): Boolean = {
    val l = r * cols + c
    (l >= 4090 && l < 4096) || (l >= 4102 && l < 4110) || (l > 4200 && (r + c) % 7 == 0)
  }

  test("graft-netcdf: bands of several batches, split mid-row") {
    def f(k: Int)(i: Int, j: Int): Float = ((i * 13 + j * 5 + k * 7) % 41) * 0.25f
    val paths = (0 until 2).map { k =>
      val cells = for (i <- bigLats.indices; j <- bigLons.indices)
        yield (bigLats(i), bigLons(j), f(k)(i, j))
      val out = tmp(s"big$k.nc")
      Hdf5Writer.writeGrid(cells.toDF("latitude", "longitude", "value"), out, "v",
        "latitude", "longitude", "value", bigLats, bigLons, chunkRows = 16)
      out
    }
    // two bands of 45 rows: 5850 cells each
    val grid = for (i <- bigLats.indices; j <- bigLons.indices) yield (i, j)
    assertReadsBack(
      () => spark.read.format("graft-netcdf").option("path", paths(0))
        .option("var", "v").option("partitions", "2").load(),
      grid.map { case (i, j) => Seq(bigLats(i), bigLons(j), f(0)(i, j)) }.toSet)
    assertReadsBack(
      () => spark.read.format("graft-netcdf").option("paths", paths.mkString(","))
        .option("vars", "v").option("cols", "a,b").option("partitions", "2").load(),
      grid.map { case (i, j) => Seq(bigLats(i), bigLons(j), f(0)(i, j), f(1)(i, j)) }.toSet)
  }

  test("graft-cog: 128x128 tiles with nodata holes across batch boundaries") {
    val (w, h, ox, oy, sx, sy) = (150, 140, 500000.0, 7000000.0, 30.0, 30.0)
    val holeAt = hole(128) _
    val px = for {
      r <- 0 until h; c <- 0 until w if !holeAt(r % 128, c % 128)
    } yield (ox + (c + 0.5) * sx, oy - (r + 0.5) * sy, (c * 13 + r * 7) % 997 + 1)
    val out = tmp("big.tif")
    TiffWriter.writeGrid(px.toDF("x", "y", "value"), out, "x", "y", "value",
      ox, oy, sx, sy, w, h, tileW = 128, tileH = 128, bits = 16)
    assertReadsBack(
      () => spark.read.format("graft-cog").option("path", out)
        .option("nodata", "0").load(),
      px.map { case (x, y, v) => Seq(x, y, v) }.toSet)
  }

  test("graft-zarr: 64x96 chunks with NaN holes across batch boundaries") {
    val holeAt = hole(96) _
    val cells = for {
      i <- bigLats.indices; j <- bigLons.indices if !holeAt(i % 64, j % 96)
    } yield (bigLats(i), bigLons(j), ((i * 11 + j * 3) % 89).toDouble)
    val store = tmp("bigz")
    ZarrStore.writeGrid(cells.toDF("latitude", "longitude", "value"), store, "v",
      "latitude", "longitude", "value", bigLats, bigLons, chunkRows = 64, chunkCols = 96)
    assertReadsBack(
      () => spark.read.format("graft-zarr").option("path", store)
        .option("var", "v").load(),
      cells.map { case (la, lo, v) => Seq(la, lo, v) }.toSet)
  }

  test("graft-grid: bands of several batches, split mid-row") {
    assertReadsBack(
      () => spark.read.format("graft-grid").option("latMax", 60.0).option("lonMin", 5.0)
        .option("res", 0.25).option("nLat", bigLats.length).option("nLon", bigLons.length)
        .option("partitions", "2").load(),
      (for (i <- bigLats.indices; j <- bigLons.indices)
        yield Seq(60.0 - i * 0.25, 5.0 + j * 0.25)).toSet)
  }

  test("graft-grib: messages of several batches with bitmap holes at the boundary") {
    val lats = bigLats.take(40) // 40 x 130 = 5200 points per message
    val holeAt = hole(bigLons.length) _
    val cells = for {
      s <- Seq(24, 48); m <- 0 until 2; i <- lats.indices; j <- bigLons.indices
    } yield (s, m, lats(i), bigLons(j),
      if (holeAt(i, j)) Double.NaN else ((s * 5 + m * 31 + i * 7 + j * 3) % 997).toDouble)
    val out = tmp("big.grib2")
    Grib2Writer.writeEnsemble(
      cells.filterNot(_._5.isNaN).toDF("step", "number", "latitude", "longitude", "value"),
      out, lats, bigLons, stepCol = Some("step"))
    assertReadsBack(
      () => spark.read.format("graft-grib").option("path", out)
        .option("withStep", "true").load(),
      cells.map { case (s, m, la, lo, v) =>
        Seq(if (m == 0) "cf" else "pf", m, s, la, lo, if (v.isNaN) "NaN" else v)
      }.toSet)
  }
}
