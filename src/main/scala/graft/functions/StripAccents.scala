package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Accent/diacritic removal: NFD-decompose, drop combining marks
  * (Unicode category Mn), keep the base letters — `"séance Çafé"` →
  * `"seance Cafe"`. The text-normalization primitive every
  * training-data cleaning pipeline applies before dedup/language-id
  * (accented and unaccented spellings of the same word must collide),
  * reproducing the cleaner's normalization intent
  * (reference `src/transformation/cleaners.py:63-88`, which lowercases
  * and canonicalizes categorical text) at the character level.
  *
  * Spark has no built-in for this (the usual fallback is a Scala UDF —
  * opaque to codegen); this is a native `Expression` whose kernel is
  * called straight from generated code. ASCII input short-circuits
  * before any Normalizer work, so the common case costs one byte scan.
  * Semantics match DuckDB's `strip_accents` (utf8proc: NFD + strip
  * marks) on Latin text, which the q98 oracle pins.
  */
case class StripAccents(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "strip_accents"

  override protected def nullSafeEval(input: Any): Any =
    StripAccents.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.StripAccents.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StripAccents {
  /** Kernel, also called from generated code. */
  def compute(s: UTF8String): UTF8String = {
    // ASCII fast path: no byte has the high bit set → nothing to strip
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { if (bytes(i) < 0) ascii = false; i += 1 }
    if (ascii) return s
    val norm = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(norm.length)
    var j = 0
    while (j < norm.length) {
      val ch = norm.charAt(j)
      if (Character.getType(ch) != Character.NON_SPACING_MARK) sb.append(ch)
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Column handle: `c` with diacritics removed. */
  def apply(c: Column): Column =
    GraftPlanBridge.column(StripAccents(GraftPlanBridge.expression(c)))
}
