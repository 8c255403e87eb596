package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Ordered left fold of an `array<struct<key: bigint, v: double>>`:
  * sorts by the (unique) key ascending and accumulates
  * `acc = acc + v` (or `acc + v*v` when `squared`) sequentially from
  * a 0.0 seed — bit-identical to the interpreted
  * `aggregate(transform(array_sort(collect_list(struct(k, v)))), 0.0D,
  * (acc, x) -> acc + x)` stack it replaces, and to DuckDB's
  * `list_reduce(list(v ORDER BY k), (a, b) -> a + b)`: `array_sort`
  * on structs with a unique first field is exactly key-ascending
  * order, and double addition is performed in that sequence.
  *
  * Why an Expression (preference order (b)): the HOF stack runs one
  * interpreted comparator call per sort comparison and one
  * interpreted lambda per element, and allocates two intermediate
  * arrays per group — per half-step of an iterative gate like
  * q472_hits that is |E| interpreted dispatches. Here the sort and
  * the fold are a single compiled loop (dual-array quicksort, no
  * boxing) entered once per group from within whole-stage codegen.
  *
  * Elements must be non-null structs with non-null fields (the
  * `collect_list(struct(k, v))` producer guarantees this).
  */
case class KeyOrderedFold(child: Expression, squared: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == LongType &&
          st(1).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct<bigint, double>>, got ${other.sql}")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String =
    if (squared) "key_ordered_sumsq" else "key_ordered_sum"

  /** Compiled sort+fold entered once per group (also the interpreted
    * eval path). Public: called from generated code via a reference
    * to this expression instance.
    */
  def fold(arr: ArrayData): Double = {
    val n = arr.numElements()
    val keys = new Array[Long](n)
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      keys(i) = row.getLong(0)
      vals(i) = row.getDouble(1)
      i += 1
    }
    KeyOrderedFold.sortByKey(keys, vals, 0, n - 1)
    var acc = 0.0d
    i = 0
    while (i < n) {
      val v = vals(i)
      acc += (if (squared) v * v else v)
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(input: Any): Any =
    fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("keyOrderedFold", this, classOf[KeyOrderedFold].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.fold($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KeyOrderedFold {

  /** In-place dual-array quicksort by `keys` ascending (keys unique
    * at every call site, so no stability concern); insertion sort
    * below 16 elements.
    */
  private[functions] def sortByKey(
      keys: Array[Long], vals: Array[Double], lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    while (hi - lo >= 16) {
      // median-of-three pivot against sorted-input worst cases
      val mid = lo + (hi - lo) / 2
      if (keys(mid) < keys(lo)) swap(keys, vals, lo, mid)
      if (keys(hi) < keys(lo)) swap(keys, vals, lo, hi)
      if (keys(hi) < keys(mid)) swap(keys, vals, mid, hi)
      val pivot = keys(mid)
      var i = lo
      var j = hi
      while (i <= j) {
        while (keys(i) < pivot) i += 1
        while (keys(j) > pivot) j -= 1
        if (i <= j) { swap(keys, vals, i, j); i += 1; j -= 1 }
      }
      // recurse into the smaller side, loop on the larger
      if (j - lo < hi - i) {
        sortByKey(keys, vals, lo, j); lo = i
      } else {
        sortByKey(keys, vals, i, hi); hi = j
      }
    }
    var i = lo + 1
    while (i <= hi) {
      val k = keys(i)
      val v = vals(i)
      var j = i - 1
      while (j >= lo && keys(j) > k) {
        keys(j + 1) = keys(j); vals(j + 1) = vals(j); j -= 1
      }
      keys(j + 1) = k
      vals(j + 1) = v
      i += 1
    }
  }

  @inline private def swap(
      keys: Array[Long], vals: Array[Double], i: Int, j: Int): Unit = {
    val tk = keys(i); keys(i) = keys(j); keys(j) = tk
    val tv = vals(i); vals(i) = vals(j); vals(j) = tv
  }

  /** Σ v in ascending-key order over `array<struct<bigint, double>>`. */
  def sum(arr: Column): Column =
    GraftPlanBridge.column(KeyOrderedFold(GraftPlanBridge.expression(arr), squared = false))

  /** Σ v² in ascending-key order (caller applies sqrt for norms). */
  def sumSq(arr: Column): Column =
    GraftPlanBridge.column(KeyOrderedFold(GraftPlanBridge.expression(arr), squared = true))
}
