package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

import graft.sources.shp.Shapefile

/** DataSource V2 over ESRI shapefiles (graft.sources.shp): polygon
  * rings as long rows `(record, zone, part, xs, ys)` — the vertex-array
  * shape [[graft.operators.GridOps.polygonZonalAssign]] consumes, with
  * the zone id pulled from a named numeric `.dbf` attribute (the
  * reference's HYBAS_ID, hydrobasins.py:77-99).
  *
  * Scale design: the `.shx` index (8 bytes/record) is the planning
  * input — records split into ranged partitions, each task seeks
  * straight to its records; a `bbox` option skips records from their
  * header envelope without parsing points (geopandas
  * `read_file(bbox=)` reproduced, global_forest_watch.py:160-163).
  */
class ShapefileDataSource extends GraftSource("shp") {
  override protected def schema(o: GraftOptions): StructType = StructType(Seq(
    StructField("record", IntegerType, nullable = false),
    StructField("zone", LongType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("xs", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("ys", ArrayType(DoubleType, containsNull = false), nullable = false)))
  override protected def table(o: GraftOptions, schema: StructType): GraftTable = {
    val spec = ShapefileSpec(
      shp = o("path"),
      idField = o("idField"),
      bbox = o.get("bbox").map { s =>
        val p = s.split(",").map(_.trim.toDouble)
        require(p.length == 4, "bbox must be 'xlo,ylo,xhi,yhi'")
        (p(0), p(1), p(2), p(3))
      },
      partitions = o.int("partitions", 8))
    new GraftTable(s"graft_shp(${spec.shp})", schema)(() => new ShapefileScan(spec, schema))
  }
}

case class ShapefileSpec(shp: String, idField: String,
    bbox: Option[(Double, Double, Double, Double)], partitions: Int) {
  def shx: String = shp.stripSuffix(".shp") + ".shx"
  def dbf: String = shp.stripSuffix(".shp") + ".dbf"
}

class ShapefileScan(spec: ShapefileSpec, schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  @transient private lazy val locs = Shapefile.index(spec.shx)

  override def description(): String =
    s"graft-shp ${spec.shp} records=${locs.size}" +
      spec.bbox.map(b => s" bbox=$b").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] =
    GraftSource.bands(0, locs.size, spec.partitions)
      .map { case (lo, hi) => ShapefilePartition(lo, hi): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ShapefileReaderFactory(spec, locs)
}

case class ShapefilePartition(recLo: Int, recHi: Int) extends InputPartition

class ShapefileReaderFactory(spec: ShapefileSpec, locs: Seq[Shapefile.RecordLoc])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ShapefilePartition]
    new PartitionReader[InternalRow] {
      private val zones = Shapefile.dbfNumericField(spec.dbf, spec.idField)
      private val rings = Shapefile.readRange(
        spec.shp, locs, part.recLo, part.recHi, spec.bbox)
      private var k = -1

      override def next(): Boolean = { k += 1; k < rings.size }

      override def get(): InternalRow = {
        val r = rings(k)
        InternalRow.fromSeq(Seq(
          r.recordNo, zones(r.recordNo), r.part,
          ArrayData.toArrayData(r.xs), ArrayData.toArrayData(r.ys)))
      }

      override def close(): Unit = ()
    }
  }
}
