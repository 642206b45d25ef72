package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** `xxhash64` of every shingle in one unboxed pass: bit-identical to
  * `transform(sh, s -> xxhash64(s))` (Spark's seed 42; a null element
  * hashes to the seed, as the builtin does), without the interpreted
  * lambda and its boxed longs.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ShingleHashes.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$cls.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  /** Spark's `xxhash64` seed. */
  val Seed = 42L

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = if (arr.isNullAt(i)) Seed else XXH64.hashUTF8String(arr.getUTF8String(i), Seed)
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column): Column =
    GraftColumnBridge.toColumn(ShingleHashes(GraftColumnBridge.toExpression(c)))
}

/** LSH band hashes of a MinHash signature in one pass: band b (of
  * `bands`, each `k / bands` rows) becomes the struct (band_id = b,
  * band_hash = xxhash64(concat_ws(',', slice(sig, b·rows + 1, rows)), b)).
  * Bit-identical to the builtin chain it replaces — the decimal longs
  * joined by ',', XXH64 with seed 42, then Spark's seed chaining into the
  * int band id — so LSH buckets, and with them the candidate sets, do not
  * move. A null signature element is skipped, as `concat_ws` skips it.
  */
case class BandHashes(child: Expression, k: Int, bands: Int)
    extends UnaryExpression {
  require(bands >= 1, s"BandHashes needs bands >= 1, got $bands")

  override def dataType: DataType = BandHashes.Type
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    BandHashes.compute(input.asInstanceOf[ArrayData], k / bands, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = BandHashes.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$cls.compute($c, ${k / bands}, $bands)")
  }

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

object BandHashes {

  val Type: DataType = ArrayType(StructType(Seq(
    StructField("band_id", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = false))), containsNull = false)

  def compute(sig: ArrayData, rows: Int, bands: Int): ArrayData = {
    val n = sig.numElements()
    // 20 digits and a sign per long, one separator between
    val buf = new Array[Byte](math.max(rows, 1) * 21)
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val end = math.min(b * rows + rows, n)
      var len = 0
      var i = b * rows
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (len > 0) { buf(len) = ','; len += 1 }
          // what a long → string cast prints; ASCII, one byte per char
          val d = java.lang.Long.toString(sig.getLong(i))
          var c = 0
          while (c < d.length) { buf(len) = d.charAt(c).toByte; len += 1; c += 1 }
        }
        i += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, ShingleHashes.Seed)
      out(b) = new GenericInternalRow(Array[Any](b, XXH64.hashInt(b, h)))
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(sig: Column, k: Int, bands: Int): Column =
    GraftColumnBridge.toColumn(
      BandHashes(GraftColumnBridge.toExpression(sig), k, bands))
}
