package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.sources.nc.Hdf5Writer
import graft.sources.tiff.TiffWriter

/** Raster SINK macro: writes a 4000x4000 (16M-cell) grid through the
  * distributed NetCDF and COG sinks and reads each back through its
  * DSv2 source — the write-side counterpart of the source macros. The
  * grid is ~50x the real GloFAS threshold raster's per-file cell count
  * (644k), so the staged-chunk shuffle, per-task deflate, and driver
  * streaming pass all operate well above the harness SF.
  */
object RasterSinkMacroBench {
  def main(args: Array[String]): Unit = {
    val withOverviews = args.contains("--overviews")
    val n = args.filterNot(_.startsWith("--"))
      .headOption.map(_.toInt).getOrElse(4000)
    val spark = Session()

    val lats = Array.tabulate(n)(i => 80.0 - i * 0.025)
    val lons = Array.tabulate(n)(j => -100.0 + j * 0.025)
    // 16M cells from range — value f4-exact, ~3% NaN holes
    val cells = spark.range(n.toLong * n).select(
      (lit(80.0) - (col("id") / n).cast("int") * 0.025).as("latitude"),
      (lit(-100.0) + (col("id") % n) * 0.025).as("longitude"),
      when((col("id") % 31) === 0, lit(null))
        .otherwise((col("id") % 8191).cast("float")).as("v"))
      .filter(col("v").isNotNull)
    cells.cache().count()

    val tmp = sys.props("java.io.tmpdir")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val ncPath = s"$tmp/sink_macro.nc"
    val (_, ncSec) = time {
      Hdf5Writer.writeGrid(cells, ncPath, "v",
        "latitude", "longitude", "v", lats, lons, chunkRows = 64)
    }
    val (ncRows, ncReadSec) = time {
      spark.read.format("graft-netcdf")
        .option("path", ncPath).option("var", "v")
        .option("partitions", Session.cpus).load()
        .filter(!isnan(col("value"))).count()
    }

    val tifPath = s"$tmp/sink_macro.tif"
    val px = cells.select(
      (lit(500000.0) + ((col("longitude") + 100.0) / 0.025) * 30.0 + 15.0).as("x"),
      (lit(7000000.0) - ((lit(80.0) - col("latitude")) / 0.025) * 30.0 - 15.0).as("y"),
      (col("v").cast("int") % 65535 + 1).as("value"))
    val (_, tifSec) = time {
      TiffWriter.writeGrid(px, tifPath, "x", "y", "value",
        500000.0, 7000000.0, 30.0, 30.0, n, n,
        tileW = 256, tileH = 256, bits = 16)
    }
    val (tifRows, tifReadSec) = time {
      spark.read.format("graft-cog")
        .option("path", tifPath).option("nodata", "0").load().count()
    }

    // Zarr v3 sharded sink: one shard object per 512x512 outer chunk of
    // 128x128 gzip inner chunks — the object-count shape at scale
    val zarrPath = s"$tmp/sink_macro_v3.zarr"
    val (_, zSec) = time {
      graft.sources.zarr.ZarrStore.writeGridV3(cells, zarrPath, "v",
        "latitude", "longitude", "v", lats, lons,
        chunkRows = 512, chunkCols = 512, innerRows = 128, innerCols = 128)
    }
    val (zRows, zReadSec) = time {
      spark.read.format("graft-zarr")
        .option("path", zarrPath).option("var", "v").load()
        .filter(!isnan(col("value"))).count()
    }

    // opt-in arm: the same COG with a 2x/4x/8x overview pyramid — one
    // distributed block-mean groupBy per level on top of the base
    // staging; read back the 8x level (the web-map/preview path)
    val ovField = if (withOverviews) {
      val ovPath = s"$tmp/sink_macro_ov.tif"
      val (_, ovSec) = time {
        TiffWriter.writeGrid(px, ovPath, "x", "y", "value",
          500000.0, 7000000.0, 30.0, 30.0, n, n,
          tileW = 256, tileH = 256, bits = 16, overviews = Seq(2, 4, 8))
      }
      val (ovRows, ovReadSec) = time {
        spark.read.format("graft-cog")
          .option("path", ovPath).option("nodata", "0").option("level", "3")
          .load().count()
      }
      val lvl8 = (n + 7) / 8
      require(ovRows <= lvl8.toLong * lvl8,
        s"overview level 3 returned $ovRows rows for a ${lvl8}x$lvl8 image")
      f""","cog_ov_write_sec":$ovSec%.1f,"cog_ov_read8x_sec":$ovReadSec%.1f,"cog_ov_rows":$ovRows"""
    } else ""

    val expected = cells.count()
    println(
      f"""{"metric":"raster_sink_macro","value":${ncSec + tifSec + zSec}%.1f,"unit":"sec","cells":$expected,"nc_write_sec":$ncSec%.1f,"nc_read_sec":$ncReadSec%.1f,"nc_rows":$ncRows,"cog_write_sec":$tifSec%.1f,"cog_read_sec":$tifReadSec%.1f,"cog_rows":$tifRows,"zarr3_write_sec":$zSec%.1f,"zarr3_read_sec":$zReadSec%.1f,"zarr3_rows":$zRows$ovField}""")
    spark.stop()
  }
}
