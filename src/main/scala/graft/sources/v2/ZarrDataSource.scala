package graft.sources.v2

import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.SeekableInput
import graft.sources.zarr.ZarrStore

/** DataSource V2 over Zarr stores (graft.sources.zarr, v2 and v3),
  * unpivoting a 2-D `var(lat, lon)` array to long rows
  * `(latitude, longitude, value)` — or a 3-D `var(t, lat, lon)` array
  * (the reference's `dis24(step, lat, lon)` shape, data_generation.py:
  * 28-36) to `(t, latitude, longitude, value)` with `t` taken from the
  * `tvar` coordinate — the xarray→dataframe shape (io_managers.py:
  * 119-129, raster_converter.py:24-37).
  *
  * Scale design: zarr's CHUNK layout exists precisely for parallel IO —
  * one InputPartition per chunk; each task reads + inflates exactly its
  * chunk file (one object GET at cluster scale). Latitude range
  * predicates prune whole chunk ROWS at planning from the (tiny)
  * coordinate vector; every filter stays residual. NaN fills are
  * dropped at the scan (the converter contract's NaN→absent rule).
  */
class ZarrDataSource extends GraftSource("zarr") {
  // Spark makes one provider per load() and calls `schema`, then `table`,
  // with equal options: both get one spec, so the array metadata is read
  // once per load
  private var lastSpec: ZarrSpec = _

  private def specOf(o: GraftOptions): ZarrSpec = {
    val s = ZarrSpec(o)
    if (s != lastSpec) lastSpec = s
    lastSpec
  }

  /** 3-D variables carry the leading coordinate as `t`. */
  override protected def schema(o: GraftOptions): StructType = {
    val spec = specOf(o)
    val latLon = Seq(
      StructField("latitude", DoubleType, nullable = false),
      StructField("longitude", DoubleType, nullable = false),
      StructField("value", DoubleType, nullable = false))
    spec.meta.shape.length match {
      case 2 => StructType(latLon)
      case 3 => StructType(StructField("t", DoubleType, nullable = false) +: latLon)
      case n => sys.error(s"${spec.varName}: $n-D arrays unsupported (need 2 or 3)")
    }
  }
  override protected def table(o: GraftOptions, schema: StructType): GraftTable = {
    val spec = specOf(o)
    new GraftTable(s"graft_zarr(${spec.store}#${spec.varName})", schema)(
      new BoundsScanBuilder(schema, "latitude", "t") {
        override def build(): Scan = {
          val ((latLo, latHi), (tLo, tHi)) = (bounds("latitude"), bounds("t"))
          new ZarrScan(spec, required, latLo, latHi, tLo, tHi)
        }
      })
  }
}

case class ZarrSpec(store: String, varName: String, latVar: String,
    lonVar: String, tVar: String, keepNaN: Boolean) {
  /** The variable's metadata, read at planning: it fixes the schema
    * (rank) and travels with every input partition.
    */
  @transient lazy val meta: ZarrStore.ArrayMeta = ZarrStore.readMeta(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration,
    s"$store/$varName")
}

object ZarrSpec {
  def apply(o: GraftOptions): ZarrSpec = ZarrSpec(
    store = o("path"),
    varName = o("var"),
    latVar = o.getOrElse("latVar", "lat"),
    lonVar = o.getOrElse("lonVar", "lon"),
    tVar = o.getOrElse("tVar", "time"),
    keepNaN = o.bool("keepNaN", false))
}

class ZarrScan(spec: ZarrSpec, required: StructType,
    latLo: Double, latHi: Double, tLo: Double, tHi: Double)
    extends RasterScan(required) {

  override def description(): String = s"graft-zarr ${spec.store}#${spec.varName}"

  private def meta = spec.meta

  private def sc = org.apache.spark.sql.SparkSession.active.sparkContext

  override def planInputPartitions(): Array[InputPartition] = {
    val is3 = meta.shape.length == 3
    require(meta.shape.length == 2 || is3,
      s"${spec.varName} must be 2-D (lat, lon) or 3-D (t, lat, lon)")
    val latDim = if (is3) 1 else 0
    val lonDim = latDim + 1
    val nChunkT = if (is3) (meta.shape(0) + meta.chunks(0) - 1) / meta.chunks(0) else 1
    val nChunkRows = (meta.shape(latDim) + meta.chunks(latDim) - 1) / meta.chunks(latDim)
    val nChunkCols = (meta.shape(lonDim) + meta.chunks(lonDim) - 1) / meta.chunks(lonDim)
    // chunk pruning along axis `dim`: the chunks that overlap the index
    // window of its coordinate vector `coord` (GraftSource.window)
    def keep(dim: Int, coord: String, lo0: Double, hi0: Double): Int => Boolean = {
      val (lo, hi) = GraftSource.window(meta.shape(dim), lo0, hi0)(
        ZarrStore.readVector(sc.hadoopConfiguration, s"${spec.store}/$coord"))
      c => c * meta.chunks(dim) < hi && (c + 1) * meta.chunks(dim) > lo
    }
    val keepRow = keep(latDim, spec.latVar, latLo, latHi)
    val keepT: Int => Boolean =
      if (is3) keep(0, spec.tVar, tLo, tHi) else _ => true
    (for {
      ct <- 0 until nChunkT
      if keepT(ct)
      cr <- 0 until nChunkRows
      if keepRow(cr)
      cc <- 0 until nChunkCols
    } yield ZarrInputPartition(if (is3) Seq(ct, cr, cc) else Seq(cr, cc), meta)
      : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ZarrReaderFactory(spec, required)
}

case class ZarrInputPartition(chunkIdx: Seq[Int], meta: ZarrStore.ArrayMeta)
    extends InputPartition

/** Opens the store through the executor's own Hadoop conf
  * (`SeekableInput.defaultConf()`, built once per executor from its
  * SparkConf), as the other raster readers do: a conf shipped with the
  * scan costs a broadcast per scan, or a deserialization per task.
  */
class ZarrReaderFactory(spec: ZarrSpec, required: StructType)
    extends CellBatchReaderFactory {
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[ZarrInputPartition]
    val meta = part.meta
    new CellBatchReader(required) {
      private val hconf = SeekableInput.defaultConf()
      private val (tV, latV, lonV, vV) = (column("t"),
        column("latitude"), column("longitude"), column("value"))
      // a coordinate vector is read only when its column is required
      private def coord(v: OnHeapColumnVector, name: String): Array[Double] =
        if (v != null) ZarrStore.readVector(hconf, s"${spec.store}/$name") else null
      private val ts = coord(tV, spec.tVar)
      private val lats = coord(latV, spec.latVar)
      private val lons = coord(lonV, spec.lonVar)
      private val is3 = meta.shape.length == 3
      private val latDim = if (is3) 1 else 0
      private val chunk = ZarrStore.readChunk(hconf,
        s"${spec.store}/${spec.varName}", meta, part.chunkIdx)
      private val tLo = if (is3) part.chunkIdx(0) * meta.chunks(0) else 0
      private val rowLo = part.chunkIdx(latDim) * meta.chunks(latDim)
      private val colLo = part.chunkIdx(latDim + 1) * meta.chunks(latDim + 1)
      private val tClip =
        if (is3) math.min(meta.chunks(0), meta.shape(0) - tLo) else 1
      private val hClip = math.min(meta.chunks(latDim),
        meta.shape(latDim) - rowLo)
      private val wClip = math.min(meta.chunks(latDim + 1),
        meta.shape(latDim + 1) - colLo)
      private val (chunkRows, chunkCols) =
        (meta.chunks(latDim), meta.chunks(latDim + 1))
      private val keepNaN = spec.keepNaN
      // the next cell (t, r, c) of the clipped chunk; its flat offset is
      // taken in the chunk's own (possibly larger-than-clip) extents
      private var t = if (hClip > 0 && wClip > 0) 0 else tClip
      private var r = 0
      private var c = 0

      override protected def fill(): Int = {
        var k = 0
        while (k < CellBatch.Capacity && t < tClip) {
          val v = chunk((t * chunkRows + r) * chunkCols + c)
          if (keepNaN || !v.isNaN) {
            if (tV != null) tV.putDouble(k, ts(tLo + t))
            if (latV != null) latV.putDouble(k, lats(rowLo + r))
            if (lonV != null) lonV.putDouble(k, lons(colLo + c))
            if (vV != null) vV.putDouble(k, v)
            k += 1
          }
          c += 1
          if (c == wClip) {
            c = 0; r += 1
            if (r == hClip) { r = 0; t += 1 }
          }
        }
        k
      }
    }
  }
}
