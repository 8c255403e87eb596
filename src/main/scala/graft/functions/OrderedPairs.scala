package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd ordered-pair expansion of a posting list — the
  * inverted-index "emit every co-occurring pair" hot loop shared by
  * the exact-Jaccard pipelines (q22, q105 containment,
  * [[graft.pipelines.CorpusCuration]], [[graft.dedup.PrefixFilterJoin]]).
  *
  * `ordered_pairs(ds)` returns all `n·(n-1)/2` pairs
  * `struct(a, b) = (ds(i), ds(j)), i < j` of an `array<bigint>`
  * posting list, preserving element order — identical output to the
  * interpreted nested-HOF form
  * `flatten(transform(sequence(1, n-1), i => transform(sequence(i+1, n),
  * j => struct(ds(i), ds(j)))))` it replaces, which paid a lambda
  * dispatch and two intermediate sequence arrays per element (~1.3 M
  * pair emissions per sf0.1 q22 run was the query's dominant CPU).
  * Pair counts stay bounded because every caller caps its posting
  * lists (boilerplate shingles are dropped) — the cap is the scale
  * contract, this expression is just the fast inner loop.
  */
case class OrderedPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "ordered_pairs"

  override protected def nullSafeEval(input: Any): Any = {
    val ds = input.asInstanceOf[ArrayData]
    val n = ds.numElements()
    val out = new Array[Any](OrderedPairs.pairCount(n))
    var idx = 0
    var i = 0
    while (i < n - 1) {
      val a = ds.getLong(i)
      var j = i + 1
      while (j < n) {
        out(idx) = new GenericInternalRow(Array[Any](a, ds.getLong(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val idx = ctx.freshName("idx")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val a = ctx.freshName("a")
      s"""
        int $n = $v.numElements();
        Object[] $out = new Object[
          graft.functions.OrderedPairs.pairCount($n)];
        int $idx = 0;
        for (int $i = 0; $i < $n - 1; $i++) {
          long $a = $v.getLong($i);
          for (int $j = $i + 1; $j < $n; $j++) {
            $out[$idx++] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              new Object[] { $a, $v.getLong($j) });
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object OrderedPairs {
  /** Pair count n·(n-1)/2 computed in Long arithmetic — `Int`
    * arithmetic overflows (negative allocation size) from n ≈ 46 341,
    * and caller-side posting-list caps are a convention, not a bound.
    * Fails with an actionable message instead of a JVM array error.
    */
  def pairCount(n: Int): Int = {
    val pairs = n.toLong * (n - 1L) / 2L
    if (pairs > Int.MaxValue) throw new IllegalArgumentException(
      s"ordered_pairs: posting list of $n elements expands to $pairs " +
        "pairs (> Int.MaxValue); cap the posting list before pairing")
    pairs.toInt
  }

  /** Column handle: array<struct<a, b>> of all ordered (i < j) pairs. */
  def apply(ds: Column): Column =
    GraftPlanBridge.column(OrderedPairs(GraftPlanBridge.expression(ds)))
}
