package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The one read path of every raster scan: columnar batches of cells.
  * A raster reader produces cells in long runs of one type per column,
  * so it fills column vectors in bulk, and Spark's `ColumnarToRow`
  * turns them into rows in generated code, instead of one DSv2
  * iterator step per cell.
  */
object CellBatch {

  /** Cells per batch: Spark's own vectorized-reader batch size. */
  val Capacity = 4096
}

/** A scan whose every partition reads columnar batches. Columnar
  * support is decided per scan, never per partition, so an empty scan
  * plans the same `ColumnarToRow` as a full one.
  */
abstract class RasterScan(required: StructType) extends Scan with Batch {
  final override def readSchema(): StructType = required
  final override def toBatch: Batch = this
  final override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
}

/** A raster reader factory: columnar reads only, the row path fails. */
abstract class CellBatchReaderFactory extends PartitionReaderFactory {
  final override def supportColumnarReads(p: InputPartition): Boolean = true

  final override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} reads columnar batches only")
}

/** One partition's reader over one reused batch of on-heap vectors, one
  * per required column. Each `next()` calls `fill`, which writes the
  * partition's next cells (at most [[CellBatch.Capacity]]) from row 0
  * of the vectors `column` returns, and says how many it wrote; 0 ends
  * the partition. Reusing the batch is safe because Spark consumes a
  * batch fully before it asks for the next one.
  */
abstract class CellBatchReader(required: StructType) extends PartitionReader[ColumnarBatch] {
  private val vectors = OnHeapColumnVector.allocateColumns(CellBatch.Capacity, required)
  private val batch = new ColumnarBatch(vectors.toArray[ColumnVector])

  /** The vector of column `name`, or null when the scan does not need it. */
  protected final def column(name: String): OnHeapColumnVector = {
    val i = required.fieldNames.indexOf(name)
    if (i >= 0) vectors(i) else null
  }

  /** Writes the next cells from row 0; returns their count, 0 at the end. */
  protected def fill(): Int

  final override def next(): Boolean = {
    val n = fill()
    batch.setNumRows(n)
    n > 0
  }

  final override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close()
}
