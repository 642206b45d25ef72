package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.tiff.TiffFile

/** DataSource V2 over GeoTIFF/COG rasters (graft.sources.tiff),
  * unpivoting a single-band grid to long rows `(x, y, value)` — the
  * shape the reference produces from its GFC lossyear tiles with
  * rioxarray + `to_dataframe()` (global_forest_watch.py:66,156,
  * raster_converter.py:24-77).
  *
  * Scale design — the reason COG exists:
  *  - the TILE is the work unit: planning parses only the IFD (a few
  *    hundred bytes), then one InputPartition inflates one tile's byte
  *    range (on object storage that is one ranged GET per task);
  *  - x/y range predicates prune whole TILES at planning from the
  *    georeferencing alone (pixel scale × tile grid — no data touched);
  *    all filters stay residual so pruning never decides correctness;
  *  - padded edge tiles are clipped by the reader, and a `nodata` option
  *    drops the sentinel at the scan (P20's source-side image).
  */
class CogDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CogDataSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CogTable(properties.asScala.toMap)
}

object CogDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("value", IntegerType, nullable = false)))
}

class CogTable(props: Map[String, String]) extends Table with SupportsRead {
  private val path =
    props.getOrElse("path", sys.error("graft-cog: 'path' option required"))
  override def name(): String = s"graft_cog($path)"
  override def schema(): StructType = CogDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CogScanBuilder(path, props.get("nodata").map(_.toInt),
      props.get("level").map(_.toInt).getOrElse(0))
}

class CogScanBuilder(path: String, nodata: Option[Int], level: Int)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = CogDataSource.Schema
  private var xLo = Double.NegativeInfinity
  private var xHi = Double.PositiveInfinity
  private var yLo = Double.NegativeInfinity
  private var yHi = Double.PositiveInfinity
  private var accepted: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    def num(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case _ => None
    }
    accepted = filters.filter {
      case sources.GreaterThan("x", v) => num(v).exists { d => xLo = math.max(xLo, d); true }
      case sources.GreaterThanOrEqual("x", v) => num(v).exists { d => xLo = math.max(xLo, d); true }
      case sources.LessThan("x", v) => num(v).exists { d => xHi = math.min(xHi, d); true }
      case sources.LessThanOrEqual("x", v) => num(v).exists { d => xHi = math.min(xHi, d); true }
      case sources.GreaterThan("y", v) => num(v).exists { d => yLo = math.max(yLo, d); true }
      case sources.GreaterThanOrEqual("y", v) => num(v).exists { d => yLo = math.max(yLo, d); true }
      case sources.LessThan("y", v) => num(v).exists { d => yHi = math.min(yHi, d); true }
      case sources.LessThanOrEqual("y", v) => num(v).exists { d => yHi = math.min(yHi, d); true }
      case _ => false
    }
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = accepted

  override def build(): Scan =
    new CogScan(path, required, nodata, level, xLo, xHi, yLo, yHi)
}

class CogScan(path: String, required: StructType, nodata: Option[Int],
    level: Int, xLo: Double, xHi: Double, yLo: Double, yHi: Double)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** `level` 0 = full resolution; 1.. = the COG's reduced-resolution
    * overview IFDs (planning still touches only IFD bytes).
    */
  @transient private lazy val info: TiffFile.TiffInfo = {
    val all = TiffFile.levels(path)
    require(level >= 0 && level < all.size,
      s"graft-cog: level $level out of range (file has ${all.size} level(s))")
    all(level)
  }

  /** Tile envelope vs the pushed bbox, with one whole pixel of slack on
    * each side (magnitude-safe, per the grid-source epsilon lesson).
    */
  @transient private lazy val planned: Seq[TiffFile.BlockInfo] =
    info.blocks.filter { b =>
      val bx0 = info.originX + (b.colLo - 1) * info.scaleX
      val bx1 = info.originX + (b.colLo + b.width + 1) * info.scaleX
      val by1 = info.originY - (b.rowLo - 1) * info.scaleY
      val by0 = info.originY - (b.rowLo + b.height + 1) * info.scaleY
      bx1 >= xLo && bx0 <= xHi && by1 >= yLo && by0 <= yHi
    }

  override def description(): String =
    s"graft-cog $path tiles=${planned.size}/${info.blocks.size}"

  override def planInputPartitions(): Array[InputPartition] =
    planned.map(b => CogInputPartition(path, info, b)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new CogReaderFactory(required, nodata)
}

case class CogInputPartition(path: String, info: TiffFile.TiffInfo,
    block: TiffFile.BlockInfo) extends InputPartition

class CogReaderFactory(required: StructType, nodata: Option[Int])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[CogInputPartition]
    val info = part.info
    val b = part.block
    new PartitionReader[InternalRow] {
      private val samples: Array[Int] =
        TiffFile.readBlock(part.path, info, b)
      // clip right/bottom padding of edge tiles
      private val wClip = math.min(b.width, info.width - b.colLo)
      private val hClip = math.min(b.height, info.height - b.rowLo)
      private val bad = nodata.getOrElse(Int.MinValue)
      private val cells = new CellRow(required)
      private val (xO, yO, vO) =
        (cells.ordinal("x"), cells.ordinal("y"), cells.ordinal("value"))
      // the current cell (row, col) of the clipped tile
      private var row = if (wClip > 0) 0 else hClip
      private var col = -1

      override def next(): Boolean = {
        do {
          col += 1
          if (col == wClip) { col = 0; row += 1 }
        } while (row < hClip && samples(row * b.width + col) == bad)
        row < hClip
      }

      override def get(): InternalRow = {
        val out = cells.row
        if (xO >= 0) out.setDouble(xO, info.originX + (b.colLo + col + 0.5) * info.scaleX)
        if (yO >= 0) out.setDouble(yO, info.originY - (b.rowLo + row + 0.5) * info.scaleY)
        if (vO >= 0) out.setInt(vO, samples(row * b.width + col))
        out
      }

      override def close(): Unit = ()
    }
  }
}
