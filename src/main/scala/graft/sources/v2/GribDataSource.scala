package graft.sources.v2

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.grib.Grib2File

/** DataSource V2 over real GRIB2 ensemble files (graft.sources.grib),
  * unpivoting each message's grid to long-form rows
  * `(data_type, number, latitude, longitude, value)` — the shape the
  * reference produces with cfgrib + `to_dataframe()` before analytics
  * (io_managers.py:193-210).
  *
  * Scale design:
  *  - the MESSAGE is the work unit: planning walks only section headers
  *    (the standard GRIB index pass), then one InputPartition decodes one
  *    message's packed payload — on a 1000-executor cluster each task
  *    positional-reads only its message's byte range;
  *  - `data_type` / `number` equality predicates prune whole MESSAGES at
  *    planning (the engine image of cfgrib's `filter_by_keys`
  *    cf/pf split); every filter stays residual, so pruning only skips
  *    work, never decides correctness;
  *  - column pruning: projecting `value` alone still decodes the payload
  *    but skips coordinate synthesis.
  *
  * Usage:
  * {{{
  * spark.read.format("graft-grib")
  *   .option("path", "/data/forecast.grib2")   // comma-separated ok
  *   .load()
  * }}}
  */
class GribDataSource extends GraftSource("grib") {

  /** `withStep=true` adds the forecast lead time (hours) — the `step`
    * coordinate cfgrib exposes. Opt-in so existing readers keep their
    * audited schema/plans.
    */
  override protected def schema(o: GraftOptions): StructType = {
    val keys = Seq(
      StructField("data_type", StringType, nullable = false),
      StructField("number", IntegerType, nullable = false))
    val step =
      if (o.bool("withStep", false)) Seq(StructField("step_hours", IntegerType, nullable = false))
      else Nil
    StructType(keys ++ step ++ Seq(
      StructField("latitude", DoubleType, nullable = false),
      StructField("longitude", DoubleType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
  }

  override protected def table(o: GraftOptions, schema: StructType): GraftTable = {
    val paths = o("path").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    new GraftTable(s"graft_grib(${paths.mkString(",")})", schema)(
      new GribScanBuilder(paths, schema))
  }
}

/** Message-level pruning on the ensemble keys (cfgrib filter_by_keys
  * image), under the residual-filter rule in GraftSource.
  */
class GribScanBuilder(paths: Seq[String], full: StructType)
    extends GraftScanBuilder(full) {
  private var wantType: Option[String] = None
  private var wantNumbers: Option[Set[Int]] = None

  private def int(v: Any): Option[Int] = v match {
    case i: Int => Some(i)
    case l: Long => Some(l.toInt)
    case _ => None
  }

  override protected def accept(f: sources.Filter): Boolean = f match {
    case sources.EqualTo("data_type", s: String) =>
      wantType = Some(s); true
    case sources.EqualTo("number", v) =>
      int(v).exists { n => wantNumbers = Some(Set(n)); true }
    case sources.In("number", vs) =>
      val ns = vs.flatMap(int).toSet
      if (ns.size == vs.length) { wantNumbers = Some(ns); true } else false
    case _ => false
  }

  override def build(): Scan = new GribScan(paths, required, wantType, wantNumbers)
}

class GribScan(paths: Seq[String], required: StructType,
    wantType: Option[String], wantNumbers: Option[Set[Int]])
    extends RasterScan(required) {

  @transient private lazy val planned: Seq[(String, Grib2File.MessageInfo)] =
    for {
      p <- paths
      m <- Grib2File.index(p)
      if wantType.forall(_ == m.dataType)
      if wantNumbers.forall(_.contains(m.number))
    } yield (p, m)

  override def description(): String =
    s"graft-grib ${paths.mkString(",")} messages=${planned.size}"

  override def planInputPartitions(): Array[InputPartition] =
    planned.map { case (p, m) => GribInputPartition(p, m) }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GribReaderFactory(required)
}

case class GribInputPartition(path: String, info: Grib2File.MessageInfo)
    extends InputPartition

class GribReaderFactory(required: StructType) extends CellBatchReaderFactory {
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[GribInputPartition]
    new CellBatchReader(required) {
      private val info = part.info
      private val (latV, lonV, vV) =
        (column("latitude"), column("longitude"), column("value"))
      private val values: Array[Double] =
        if (vV != null) Grib2File.read(part.path, info).values else null
      private val nCells = info.ni * info.nj
      // the message's keys are the same for every cell, and no batch
      // writes their vectors: set every row once
      locally {
        val (dtV, nV, sV) =
          (column("data_type"), column("number"), column("step_hours"))
        if (dtV != null) {
          val key = info.dataType.getBytes(StandardCharsets.UTF_8)
          val at = dtV.arrayData().appendBytes(key.length, key, 0)
          var k = 0
          while (k < CellBatch.Capacity) { dtV.putArray(k, at, key.length); k += 1 }
        }
        if (nV != null) nV.putInts(0, CellBatch.Capacity, info.number)
        if (sV != null) sV.putInts(0, CellBatch.Capacity, info.stepHours)
      }
      private var cell = 0 // the next grid point, row-major

      override protected def fill(): Int = {
        val n = math.min(CellBatch.Capacity, nCells - cell)
        var k = 0
        if (latV != null || lonV != null) while (k < n) {
          val c = cell + k
          if (latV != null) latV.putDouble(k, info.la1 - (c / info.ni) * info.dj)
          if (lonV != null) lonV.putDouble(k, info.lo1 + (c % info.ni) * info.di)
          k += 1
        }
        if (vV != null) vV.putDoubles(0, n, values, cell)
        cell += n
        n
      }
    }
  }
}
