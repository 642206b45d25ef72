package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The planning skeleton every `graft-<fmt>` DataSource V2 source is built
  * on: the provider/table pair, the pushed-filter rule, the pushed-bounds
  * parser, the coordinate-to-index window and the band planner. What stays
  * in each source is its own schema, its own mapping from bounds to rows,
  * tiles, chunks or messages, and its reader. The five raster sources
  * (grid, netcdf, grib, cog, zarr) read through `CellBatch`: every scan is
  * columnar, and each partition refills one reused batch of column
  * vectors.
  *
  * The residual-filter rule: every pushed filter is returned to Spark as
  * residual, so Spark re-applies the exact predicate above the scan.
  * Pushdown prunes work; it never decides correctness, and a source may
  * over-plan freely.
  *
  * `format` is the `<fmt>` of the short name `graft-<fmt>`.
  *
  * The one-cell-slack rule: a source that maps a coordinate bound to an
  * index clips conservatively by ONE WHOLE CELL on each side. An absolute
  * epsilon breaks once index magnitudes grow (FP error scales as
  * |index|·ulp, so fine-resolution global grids would lose boundary rows),
  * while a cell of slack is correct at any magnitude and free — the
  * residual filter drops the extra cells.
  */
abstract class GraftSource(format: String) extends TableProvider with DataSourceRegister {

  /** The source's one schema function: `inferSchema` returns it, and
    * Spark hands the result back to `getTable`, whose table reports it.
    */
  protected def schema(o: GraftOptions): StructType

  /** The table over these options, reporting `schema`. */
  protected def table(o: GraftOptions, schema: StructType): GraftTable

  final override def shortName(): String = s"graft-$format"

  final override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schema(new GraftOptions(format, options))

  /** `properties` are the reader's `.option`s, with their keys as given. */
  final override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    table(new GraftOptions(format, new CaseInsensitiveStringMap(properties)), schema)
}

/** A source's options, read through Spark's case-insensitive map:
  * `noData`, `nodata` and `NODATA` are one key.
  */
final class GraftOptions(format: String, m: CaseInsensitiveStringMap) {
  def get(key: String): Option[String] = Option(m.get(key))
  def getOrElse(key: String, default: => String): String = get(key).getOrElse(default)
  def apply(key: String): String =
    getOrElse(key, sys.error(s"graft-$format: '$key' option required"))
  def int(key: String, default: Int): Int = get(key).fold(default)(_.toInt)
  def bool(key: String, default: Boolean): Boolean = get(key).fold(default)(_.toBoolean)
}

/** The one batch-read table of every source: a name, the schema the
  * provider computed, and the source's scan builder.
  */
final class GraftTable(tableName: String, tableSchema: StructType)(
    builder: => ScanBuilder) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = builder
}

/** Column pruning plus the residual-filter rule: a source says which
  * pushed filters narrow its plan; Spark re-applies all of them.
  */
abstract class GraftScanBuilder(full: StructType)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  protected var required: StructType = full
  private var accepted: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Whether `f` narrows what this scan plans (recording how it does). */
  protected def accept(f: sources.Filter): Boolean

  final override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    accepted = filters.filter(accept)
    filters
  }

  final override def pushedFilters(): Array[sources.Filter] = accepted
}

/** The pushed-bounds parser: one closed `[lo, hi]` per named column from
  * `>`, `>=`, `<`, `<=` and `=` on a numeric literal. Strict comparisons
  * close to their bound, and `=` narrows both sides — over-planning only,
  * which the residual filter corrects. Open sides stay infinite, never
  * NaN.
  */
abstract class BoundsScanBuilder(full: StructType, cols: String*)
    extends GraftScanBuilder(full) {
  private val lo = cols.map(_ -> Double.NegativeInfinity).to(scala.collection.mutable.Map)
  private val hi = cols.map(_ -> Double.PositiveInfinity).to(scala.collection.mutable.Map)

  /** The pushed closed bounds of column `c`. */
  protected def bounds(c: String): (Double, Double) = (lo(c), hi(c))

  private def narrow(c: String, v: Any, atLeast: Boolean, atMost: Boolean): Boolean =
    lo.contains(c) && (v match {
      // a NaN literal narrows nothing: Spark orders NaN above every value
      case d: Double if !d.isNaN => narrowTo(c, d, atLeast, atMost)
      case f: Float if !f.isNaN => narrowTo(c, f.toDouble, atLeast, atMost)
      case i: Int => narrowTo(c, i.toDouble, atLeast, atMost)
      case l: Long => narrowTo(c, l.toDouble, atLeast, atMost)
      case _ => false
    })

  private def narrowTo(c: String, d: Double, atLeast: Boolean, atMost: Boolean): Boolean = {
    if (atLeast) lo(c) = math.max(lo(c), d)
    if (atMost) hi(c) = math.min(hi(c), d)
    true
  }

  override protected def accept(f: sources.Filter): Boolean = f match {
    case sources.GreaterThan(c, v) => narrow(c, v, atLeast = true, atMost = false)
    case sources.GreaterThanOrEqual(c, v) => narrow(c, v, atLeast = true, atMost = false)
    case sources.LessThan(c, v) => narrow(c, v, atLeast = false, atMost = true)
    case sources.LessThanOrEqual(c, v) => narrow(c, v, atLeast = false, atMost = true)
    case sources.EqualTo(c, v) => narrow(c, v, atLeast = true, atMost = true)
    case _ => false
  }
}

object GraftSource {

  /** The half-open index window `[a, b)` of a coordinate axis of `n`
    * cells that holds every cell whose coordinate lies in `[lo, hi]`,
    * widened by one cell on each side (the one-cell-slack rule); `(0, 0)`
    * when no cell does. The coordinate vector (any order) is read only
    * when a side is bounded; with both open the window is `(0, n)`.
    */
  def window(n: Int, lo: Double, hi: Double)(coord: => Array[Double]): (Int, Int) =
    if (!lo.isFinite && !hi.isFinite) (0, n)
    else {
      val xs = coord
      val idx = xs.indices.filter(i => xs(i) >= lo && xs(i) <= hi)
      if (idx.isEmpty) (0, 0)
      else (math.max(idx.min - 1, 0), math.min(idx.max + 2, xs.length))
    }

  /** `[lo, hi)` cut into at most `n` contiguous bands of one step (the
    * last may be shorter); none when the range is empty.
    */
  def bands(lo: Int, hi: Int, n: Int): Seq[(Int, Int)] =
    if (hi <= lo) Nil
    else {
      val step = math.ceil((hi - lo).toDouble / math.min(n, hi - lo).max(1)).toInt
      (lo until hi by step).map(b => (b, math.min(b + step, hi)))
    }
}
