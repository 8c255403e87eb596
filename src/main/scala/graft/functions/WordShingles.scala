package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram shingling over a single-space-tokenized text
  * column: `word_shingles("a b c d", 3) = ["a b c", "b c d"]`.
  *
  * The composable form — `transform(sequence(...), i -> concat_ws(" ",
  * element_at(tk, i), ...))` over `split(text, " ")` — allocates the
  * token array, then a lambda evaluation and a string concat per
  * shingle. Because the delimiter is one space, every shingle is a
  * CONTIGUOUS byte span of the original string (joining consecutive
  * tokens with " " reproduces the exact original bytes, empty tokens
  * from doubled spaces included), so this expression just records
  * space offsets and slices — one byte scan per row, no per-shingle
  * assembly, fused into whole-stage codegen via a static kernel call.
  * Semantics are byte-identical to the HOF form for every input, which
  * the q22/q23/q47 DuckDB oracles and WordShinglesSpec both pin.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument and n >= 1, got ${child.dataType.sql}, n=$n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {

  /** Shingling kernel, also called from generated code. Space is
    * ASCII, so byte offsets of ' ' are always character boundaries in
    * UTF-8 — multi-byte text slices safely.
    */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // word start offsets: 0 and every byte after a space
    var words = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') words += 1; i += 1 }
    val nShingles = words - n + 1
    if (nShingles <= 0) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)   // end offset (exclusive) per word
    var w = 0
    starts(0) = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = bytes.length
    val out = new Array[Any](nShingles)
    var k = 0
    while (k < nShingles) {
      val from = starts(k)
      val until = ends(k + n - 1)
      out(k) = UTF8String.fromBytes(bytes, from, until - from)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column handle: array of word `n`-grams of `c`. */
  def apply(c: Column, n: Int): Column =
    GraftPlanBridge.column(WordShingles(GraftPlanBridge.expression(c), n))
}
