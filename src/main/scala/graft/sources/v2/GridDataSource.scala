package graft.sources.v2

import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DataSource V2 implementing the dense-grid raster surface virtually
  * (SURVEY §7.3 stretch goal: custom DSv2 for raster sources): a regular
  * (latitude, longitude) grid materializes directly as InternalRows, with
  *
  *  - partition planning: the latitude dimension splits into `partitions`
  *    bands, so a 1000-executor cluster reads the grid in parallel with
  *    no driver materialization;
  *  - column pruning: SupportsPushDownRequiredColumns — a projection of
  *    one column reads/creates only that column.
  *
  * Usage:
  * {{{
  * spark.read.format("graft-grid")
  *   .option("latMax", 17.0).option("lonMin", -18.0)
  *   .option("res", 0.05).option("nLat", 460).option("nLon", 1400)
  *   .load()
  * }}}
  *
  * Real binary raster codecs (GRIB/NetCDF/COG) would slot into the same
  * skeleton with one InputPartition per file chunk (the converter
  * contract of graft.sources.RasterContract).
  */
class GridDataSource extends GraftSource("grid") {
  override protected def schema(o: GraftOptions): StructType = StructType(Seq(
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false)))
  override protected def table(o: GraftOptions, schema: StructType): GraftTable = {
    val spec = GridSpec.fromOptions(o)
    new GraftTable("graft_grid", schema)(new GridScanBuilder(spec, schema))
  }
}

case class GridSpec(latMax: Double, lonMin: Double, res: Double,
    nLat: Int, nLon: Int, partitions: Int)

object GridSpec {
  def fromOptions(o: GraftOptions): GridSpec = GridSpec(
    latMax = o.getOrElse("latMax", "0").toDouble,
    lonMin = o.getOrElse("lonMin", "0").toDouble,
    res = o.getOrElse("res", "0.05").toDouble,
    nLat = o.int("nLat", 1),
    nLon = o.int("nLon", 1),
    partitions = o.int("partitions", 8))
}

/** Index-space bounds derived from pushed coordinate filters:
  * rows are generated only for i in [iLo, iHi), j in [jLo, jHi).
  */
case class GridBounds(iLo: Int, iHi: Int, jLo: Int, jHi: Int)

/** Range predicates on latitude/longitude shrink the generated index
  * window — the source-side image of the reference's area restriction
  * (SURVEY P3): a bbox query on a 1000-executor cluster plans only the
  * bands inside the box instead of generating the globe and filtering.
  * The window keeps one whole cell of slack on each side (the
  * one-cell-slack rule in GraftSource).
  */
class GridScanBuilder(spec: GridSpec, full: StructType)
    extends BoundsScanBuilder(full, "latitude", "longitude") {

  override def build(): Scan = {
    val (latLo, latHi) = bounds("latitude")
    val (lonLo, lonHi) = bounds("longitude")
    // latitude = latMax - i*res (descending in i); longitude = lonMin + j*res.
    // The arithmetic stays in doubles up to the clip: an open side is
    // infinite, and an extreme literal must not overflow an Int.
    new GridScan(spec, required, GridBounds(
      iLo = math.max(0, (math.ceil((spec.latMax - latHi) / spec.res) - 1).toInt),
      iHi = math.min(spec.nLat, (math.floor((spec.latMax - latLo) / spec.res) + 2).toInt),
      jLo = math.max(0, (math.ceil((lonLo - spec.lonMin) / spec.res) - 1).toInt),
      jHi = math.min(spec.nLon, (math.floor((lonHi - spec.lonMin) / spec.res) + 2).toInt)))
  }
}

class GridScan(spec: GridSpec, required: StructType, bounds: GridBounds)
    extends RasterScan(required) {
  override def description(): String =
    s"graft-grid pruned=[i ${bounds.iLo}..${bounds.iHi}, j ${bounds.jLo}..${bounds.jHi}]"

  /** Latitude bands as input partitions, clipped to the pushed bounds. */
  override def planInputPartitions(): Array[InputPartition] =
    if (bounds.jHi <= bounds.jLo) Array.empty
    else GraftSource.bands(bounds.iLo, bounds.iHi, spec.partitions)
      .map { case (lo, hi) => GridInputPartition(lo, hi): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GridReaderFactory(spec, required, bounds.jLo, bounds.jHi)
}

case class GridInputPartition(latLo: Int, latHi: Int) extends InputPartition

class GridReaderFactory(
    spec: GridSpec, required: StructType, jLo: Int, jHi: Int)
    extends CellBatchReaderFactory {
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val gp = p.asInstanceOf[GridInputPartition]
    new CellBatchReader(required) {
      private val (latV, lonV) = (column("latitude"), column("longitude"))
      // the next cell (i, j)
      private var i = if (jHi > jLo) gp.latLo else gp.latHi
      private var j = jLo

      override protected def fill(): Int = {
        var k = 0
        // one run per latitude row, as far as the batch holds it
        while (k < CellBatch.Capacity && i < gp.latHi) {
          val run = math.min(jHi - j, CellBatch.Capacity - k)
          if (latV != null) latV.putDoubles(k, run, spec.latMax - i * spec.res)
          if (lonV != null) {
            var q = 0
            while (q < run) { lonV.putDouble(k + q, spec.lonMin + (j + q) * spec.res); q += 1 }
          }
          k += run
          j += run
          if (j == jHi) { j = jLo; i += 1 }
        }
        k
      }
    }
  }
}
