package graft.sources.v2

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DataSource V2 over real NetCDF-4/HDF5 raster files (graft.sources.nc),
  * unpivoting a 2-D `var(lat, lon)` grid to long-form rows
  * `(latitude, longitude, value)` — the exact shape the reference produces
  * with `xr.Dataset.to_dataframe().reset_index()` before every pipeline
  * join (reference: raster_converter.py:24-37, rp_thresholds.py:37-49).
  *
  * Scale design:
  *  - one InputPartition per latitude row-band; a contiguous-layout
  *    variable turns each partition into a single positional byte-range
  *    read of exactly its band (no shared state, no driver
  *    materialization) — on a 1000-executor cluster each task reads only
  *    its slice of the (shared-filesystem/object-store) file;
  *  - latitude range predicates push down to row-band pruning (the lat
  *    coordinate array is tiny and monotonic); every filter stays
  *    residual so pushdown only prunes work, never decides correctness;
  *  - column pruning: projecting `value` alone skips building coordinate
  *    columns entirely.
  *
  * Usage:
  * {{{
  * spark.read.format("graft-netcdf")
  *   .option("path", "/data/RP2ythresholds_GloFASv40.nc")
  *   .option("var", "2yRP_GloFASv4")
  *   .load()  // latitude double, longitude double, value float
  * }}}
  *
  * ALIGNED MULTI-SCAN (`paths`/`vars`, optional `cols`): several
  * variables — from one file or from several files sharing the SAME
  * grid — read in ONE pass, one column per variable. This is the
  * source-side image of `xr.open_dataset` aligning variables on shared
  * dims: each InputPartition reads the same row band from every input,
  * so an N-way same-grid combine (rp_thresholds.py:108-131 joining
  * RP2/RP5/RP20) needs ZERO shuffles — the join that q72 does in one
  * union+pivot exchange becomes free at the scan. Planning verifies the
  * coordinate arrays are IDENTICAL across files (exact, tiny vectors)
  * and fails loudly otherwise — alignment is the correctness premise,
  * never an assumption.
  * {{{
  * spark.read.format("graft-netcdf")
  *   .option("paths", "/d/RP2.nc,/d/RP5.nc,/d/RP20.nc")
  *   .option("vars", "2yRP_GloFASv4,5yRP_GloFASv4,20yRP_GloFASv4")
  *   .option("cols", "threshold_2y,threshold_5y,threshold_20y")
  *   .load()  // latitude, longitude, threshold_2y, threshold_5y, threshold_20y
  * }}}
  */
class NetcdfDataSource extends GraftSource("netcdf") {
  override protected def schema(o: GraftOptions): StructType = {
    val spec = NetcdfSpec.fromOptions(o)
    StructType(
      StructField("latitude", DoubleType, nullable = false) +:
        StructField("longitude", DoubleType, nullable = false) +:
        spec.outCols.map(c => StructField(c, FloatType, nullable = false)))
  }
  override protected def table(o: GraftOptions, schema: StructType): GraftTable = {
    val spec = NetcdfSpec.fromOptions(o)
    new GraftTable(s"graft_netcdf(${o.get("path").getOrElse(o("paths"))})", schema)(
      new NetcdfScanBuilder(spec, schema))
  }
}

/** `paths`, `varNames`, `outCols` are equal-length and row-aligned:
  * output column i is variable varNames(i) read from paths(i).
  */
case class NetcdfSpec(paths: Seq[String], varNames: Seq[String],
    outCols: Seq[String], latVar: String, lonVar: String, partitions: Int)

object NetcdfSpec {
  private def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def fromOptions(o: GraftOptions): NetcdfSpec = {
    val paths0 = o.get("paths").map(csv).getOrElse(Seq(o("path")))
    val vars0 = o.get("vars").map(csv).getOrElse(Seq(o("var")))
    // one file with many vars, many files with one var each, or a
    // fully explicit pairing — anything else is ambiguous
    val (paths, vars) =
      if (paths0.length == vars0.length) (paths0, vars0)
      else if (paths0.length == 1) (Seq.fill(vars0.length)(paths0.head), vars0)
      else if (vars0.length == 1) (paths0, Seq.fill(paths0.length)(vars0.head))
      else sys.error(s"graft-netcdf: ${paths0.length} paths vs " +
        s"${vars0.length} vars — provide equal counts, or one of either")
    val cols = o.get("cols").map(csv).getOrElse {
      if (vars.length == 1) Seq("value") // single-scan back-compat
      else if (vars.distinct.length == vars.length) vars
      else vars.indices.map(i => s"value_$i")
    }
    require(cols.length == vars.length,
      s"graft-netcdf: ${cols.length} cols for ${vars.length} vars")
    NetcdfSpec(paths, vars, cols,
      latVar = o.getOrElse("latVar", "lat"),
      lonVar = o.getOrElse("lonVar", "lon"),
      partitions = o.int("partitions", 8))
  }
}

/** Latitude bounds shrink the planned row bands (one whole row of slack
  * on each side, per the one-cell-slack rule in GraftSource).
  */
class NetcdfScanBuilder(spec: NetcdfSpec, full: StructType)
    extends BoundsScanBuilder(full, "latitude") {
  override def build(): Scan = {
    val (latLo, latHi) = bounds("latitude")
    new NetcdfScan(spec, required, latLo, latHi)
  }
}

class NetcdfScan(spec: NetcdfSpec, required: StructType,
    latLo: Double, latHi: Double)
    extends RasterScan(required) {

  // Planning-time metadata read: dims + (when pruning) the tiny lat
  // coordinate array — from EVERY distinct input file, verifying the
  // aligned-scan premise (same dims, bit-identical coordinate vectors).
  // The data variables themselves are never touched here.
  @transient private lazy val planned: (Int, Int) = {
    val byPath = spec.paths.zip(spec.varNames)
    val distinctPaths = spec.paths.distinct
    var dims0: Seq[Long] = null
    var lats0: Array[Double] = null
    var lons0: Array[Double] = null
    for (p <- distinctPaths) {
      val f = graft.sources.nc.NcFormat.open(p)
      try {
        for ((_, v) <- byPath.filter(_._1 == p)) {
          val d = f.varDims(v)
          require(d.length == 2, s"$p#$v must be 2-D (lat, lon)")
          if (dims0 == null) dims0 = d
          else require(d == dims0,
            s"aligned scan: $p#$v dims $d != ${dims0} of ${spec.paths.head}")
        }
        if (distinctPaths.length > 1) {
          val (la, lo) = (f.readDoubles(spec.latVar), f.readDoubles(spec.lonVar))
          if (lats0 == null) { lats0 = la; lons0 = lo }
          else require(java.util.Arrays.equals(la, lats0) &&
            java.util.Arrays.equals(lo, lons0),
            s"aligned scan: $p coordinate vectors differ from " +
              s"${distinctPaths.head} — inputs are not on the same grid")
        }
      } finally f.close()
    }
    GraftSource.window(dims0(0).toInt, latLo, latHi) {
      if (lats0 != null) lats0 else {
        val f = graft.sources.nc.NcFormat.open(spec.paths.head)
        try f.readDoubles(spec.latVar) finally f.close()
      }
    }
  }

  override def description(): String = {
    val (lo, hi) = planned
    s"graft-netcdf ${spec.paths.mkString(",")}#${spec.varNames.mkString(",")} rows=[$lo..$hi)"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (lo, hi) = planned
    GraftSource.bands(lo, hi, spec.partitions)
      .map { case (b0, b1) => NetcdfInputPartition(b0, b1): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NetcdfReaderFactory(spec, required)
}

case class NetcdfInputPartition(rowLo: Int, rowHi: Int) extends InputPartition

class NetcdfReaderFactory(spec: NetcdfSpec, required: StructType)
    extends CellBatchReaderFactory {
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val band = p.asInstanceOf[NetcdfInputPartition]
    new CellBatchReader(required) {
      private val (latV, lonV) = (column("latitude"), column("longitude"))
      // one open handle per DISTINCT file (multi-var single-file scans
      // share one); column pruning skips whole variables AND whole files
      private val neededIdx: Seq[Int] =
        spec.outCols.indices.filter(k => column(spec.outCols(k)) != null)
      private val files =
        scala.collection.mutable.LinkedHashMap.empty[String, graft.sources.nc.NcFormat.Reader]
      private def fileFor(p0: String) =
        files.getOrElseUpdate(p0, graft.sources.nc.NcFormat.open(p0))
      private def coordFile = fileFor(spec.paths.head)
      private val lats: Array[Double] =
        if (latV != null) coordFile.readDoubles(spec.latVar) else null
      private val lons: Array[Double] =
        if (lonV != null) coordFile.readDoubles(spec.lonVar) else null
      private val nLon = coordFile.varDims(spec.varNames.head)(1).toInt
      private val nCells = (band.rowHi - band.rowLo) * nLon
      // the same row band from every needed input, read once, aligned:
      // value column v goes to vVec(v) from the raw band vBand(v)
      private val vVec = neededIdx.map(k => column(spec.outCols(k))).toArray
      private val vBand = neededIdx.map { k =>
        val f = fileFor(spec.paths(k))
        new NetcdfBand(f.readRowBand(spec.varNames(k), band.rowLo, band.rowHi),
          f.littleEndian, f.varElemSize(spec.varNames(k)) == 4)
      }.toArray
      private var cell = 0 // (i - rowLo) * nLon + j of the next cell

      override protected def fill(): Int = {
        val n = math.min(CellBatch.Capacity, nCells - cell)
        var k = 0
        // coordinates in runs of one latitude row
        while (k < n) {
          val c = cell + k
          val j = c % nLon
          val run = math.min(nLon - j, n - k)
          if (latV != null) latV.putDoubles(k, run, lats(band.rowLo + c / nLon))
          if (lonV != null) lonV.putDoubles(k, run, lons, j)
          k += run
        }
        var v = 0
        while (v < vVec.length) { vBand(v).copy(vVec(v), cell, n); v += 1 }
        cell += n
        n
      }

      override def close(): Unit = {
        files.values.foreach(_.close())
        super.close()
      }
    }
  }
}

/** One variable's raw row band: elements are floats when `f4`, doubles
  * otherwise, in the file's byte order; read out as float cells.
  */
private final class NetcdfBand(bytes: Array[Byte], littleEndian: Boolean, f4: Boolean) {
  private val buf = ByteBuffer.wrap(bytes)
    .order(if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)

  /** Cells `[cell, cell + n)` into rows `[0, n)` of `out`. */
  def copy(out: OnHeapColumnVector, cell: Int, n: Int): Unit =
    if (f4 && littleEndian) out.putFloatsLittleEndian(0, n, bytes, cell * 4)
    else {
      var k = 0
      while (k < n) {
        out.putFloat(k,
          if (f4) buf.getFloat((cell + k) * 4) else buf.getDouble((cell + k) * 8).toFloat)
        k += 1
      }
    }
}
