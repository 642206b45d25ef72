package graft.sources.v2

import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types.StructType

/** The one row a raster reader hands out for every cell: the scan's
  * required columns resolved to ordinals once, and one mutable row of
  * their types that each `get()` refills with typed setters (no boxing,
  * no per-cell `Seq` or row). Reusing it is safe: Spark plans an unsafe
  * projection over every row-based DSv2 scan, which copies the row out
  * before the next `next()`.
  */
private[v2] final class CellRow(required: StructType) {
  val row = new SpecificInternalRow(required.fields.map(_.dataType).toIndexedSeq)

  /** The ordinal of column `name` in the row, or -1 when the scan does
    * not need it.
    */
  def ordinal(name: String): Int = required.fieldNames.indexOf(name)
}
