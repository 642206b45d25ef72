package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a token array in ONE unboxed pass:
  * every run of n consecutive tokens joined by ' ', duplicates dropped,
  * first occurrence kept in order. Bit-identical to the higher-order
  * chain it replaces,
  * `array_distinct(filter(when(size(t) >= n, transform(sequence(1,
  * size(t) - n + 1), i -> concat_ws(' ', slice(t, i, n))))
  * .otherwise(array()), s -> length(s) > 0))`, which Spark evaluates
  * interpreted inside a pushed Filter: there it re-evaluated the whole
  * token array once per shingle. Fewer than n tokens, and a null array,
  * give an empty array, as the `when(...).otherwise(array())` did.
  *
  * Tokens must be non-null (`Tok.words` never yields null or empty
  * tokens); the input type enforces it.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"WordShingles needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles needs array<string> without nulls, got $other")
  }

  override def eval(input: InternalRow): Any =
    WordShingles.compute(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = WordShingles.getClass.getName.stripSuffix("$")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $cls.compute(${c.isNull} ? null : ${c.value}, $n);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {

  private val Empty = new GenericArrayData(Array.empty[Any])

  def compute(toks: ArrayData, n: Int): ArrayData = {
    val m = if (toks == null) 0 else toks.numElements() - n + 1
    if (m <= 0) return Empty
    val t = Array.tabulate(toks.numElements())(toks.getUTF8String)
    val seen = new java.util.HashSet[UTF8String](m * 2)
    val out = new java.util.ArrayList[UTF8String](m)
    var i = 0
    while (i < m) {
      var len = n - 1
      var j = i
      while (j < i + n) { len += t(j).numBytes; j += 1 }
      if (len > 0) {
        val buf = new Array[Byte](len)
        var pos = 0
        j = i
        while (j < i + n) {
          if (j > i) { buf(pos) = ' '; pos += 1 }
          t(j).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += t(j).numBytes
          j += 1
        }
        val g = UTF8String.fromBytes(buf)
        if (seen.add(g)) out.add(g)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def apply(tokens: Column, n: Int): Column =
    GraftColumnBridge.toColumn(
      WordShingles(GraftColumnBridge.toExpression(tokens), n))
}
