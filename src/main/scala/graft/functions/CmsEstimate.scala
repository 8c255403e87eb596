package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Probe a serialized count-min sketch (the binary produced by Spark's
  * `count_min_sketch(col, eps, confidence, seed)` aggregate) for a
  * string item's estimated count.
  *
  * Spark ships the mergeable CMS aggregate but no probe function — the
  * sketch binary is a dead end in pure SQL. This expression closes the
  * loop: build the sketch in ONE pass (partial sketches merge
  * associatively across partitions/batches, the same contract as the
  * engine's HLL/Bloom/MinHash sketches), then probe it per candidate.
  * Estimates are deterministic for a fixed seed and never undercount
  * (CMS guarantees `exact ≤ estimate ≤ exact + eps·N` with the
  * configured confidence) — `CmsSketchSpec` pins both bounds and
  * partitioning-invariance; gate `q160_cms_heavy_hitters`.
  *
  * The probe side is always tiny (a handful of candidate rows against
  * one broadcast sketch row), so this is eval-mode only
  * (CodegenFallback) with a same-buffer memoized deserialization — the
  * scan-side work is all in the codegen'd aggregate.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary sketch, string item), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "cms_estimate"

  // memoize the deserialized sketch per task instance: every probe row
  // carries the same broadcast sketch bytes, deserializing once not O(rows)
  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedSketch: CountMinSketch = _

  override protected def nullSafeEval(sketchBytes: Any, item: Any): Any = {
    val bytes = sketchBytes.asInstanceOf[Array[Byte]]
    if (!(bytes eq cachedBytes)) {
      cachedSketch = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
      cachedBytes = bytes
    }
    // CountMinSketchAgg adds strings as their UTF-8 bytes; probe the same way
    cachedSketch.estimateCount(item.asInstanceOf[UTF8String].getBytes)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {

  /** Column handle: estimated count of `item` in `sketch`. */
  def apply(sketch: Column, item: Column): Column =
    GraftPlanBridge.column(CmsEstimate(
      GraftPlanBridge.expression(sketch), GraftPlanBridge.expression(item)))
}
