package graft

import graft.core.Session
import graft.sources.nc.Hdf5Writer

/** Writes the in-repo GloFAS return-period threshold fixture that q72,
  * q130 and the e2e chain (q140/q141) read: `data/rp_nc/RP{n}ythresholds_
  * GloFASv40.nc`, variable `{n}yRP_GloFASv4`, for n in 2, 5, 20. Each grid
  * comes from the committed independent python parse of the real files
  * (`data/rp_{n}y_thresh.parquet`, 460 × 1400 cells), through
  * `Hdf5Writer.writeGrid` at `chunkRows = 20` (23 full row bands, no
  * padded edge chunk). Coordinates are the parquet's own doubles and
  * values are written verbatim, the netCDF default fill 9.96921e36 of the
  * land cells included. FIXTURES.md §10 records each file's md5 and the
  * cross-check with `tools/nc_to_parquet.py`.
  *
  * Usage: tools/run.sh graft.RpNcFixture [dataDir]  (default: data)
  */
object RpNcFixture {
  private val ChunkRows = 20

  def main(args: Array[String]): Unit = {
    val dataDir = new java.io.File(args.headOption.getOrElse("data")).getAbsoluteFile
    val outDir = new java.io.File(dataDir, "rp_nc")
    outDir.mkdirs()
    val spark = Session()
    try Seq(2, 5, 20).foreach { n =>
      val varName = s"${n}yRP_GloFASv4"
      val df = spark.read.parquet(s"$dataDir/rp_${n}y_thresh.parquet")
      def axis(c: String): Array[Double] =
        df.select(c).distinct().collect().map(_.getDouble(0)).sorted
      // the GloFAS file order: latitude descending, longitude ascending
      val lats = axis("latitude").reverse
      val lons = axis("longitude")
      val name = s"RP${n}ythresholds_GloFASv40.nc"
      Hdf5Writer.writeGrid(df, s"$outDir/$name", varName,
        "latitude", "longitude", varName, lats, lons, ChunkRows)
      println(s"$outDir/$name: ${lats.length} x ${lons.length}, $varName")
    } finally spark.stop()
  }
}
