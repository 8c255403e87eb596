package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native codegen'd quantized squared L2 distance over two
  * float-vector columns: Σ_i (⌊a_i·Q⌋ − ⌊b_i·Q⌋)² as an exact LONG,
  * with Q fixed at 2²⁰ (the lattice the DBSCAN census gate and its
  * DuckDB oracle share — integer distances mean not one float
  * compare decides a density threshold).
  *
  * Replaces a per-dimension `posexplode` → 64-key shuffle join →
  * 11.5 M-row hash aggregate (the previous q473 shape) with one
  * fused loop per candidate pair inside whole-stage codegen: the
  * pair join becomes a broadcast nested-loop over the bounded pool
  * and the distance evaluation never leaves the operator. Same
  * preference-order (b) path as [[CosineSimilarity]].
  *
  * Bit-exactness: elements are promoted float→double, scaled by Q,
  * floored to LONG — identical to the oracle's
  * `CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT)`
  * and to the explode form this replaces; summation order over i is
  * fixed but irrelevant (exact integer adds).
  */
case class QuantizedL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "quantized_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val qa = math.floor(x.getFloat(i).toDouble * QuantizedL2.Q).toLong
      val qb = math.floor(y.getFloat(i).toDouble * QuantizedL2.Q).toLong
      val d = qa - qb
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val qa = ctx.freshName("qa")
      val qb = ctx.freshName("qb")
      val d = ctx.freshName("d")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          long $qa = (long) java.lang.Math.floor(
            ((double) $a.getFloat($i)) * ${QuantizedL2.Q}D);
          long $qb = (long) java.lang.Math.floor(
            ((double) $b.getFloat($i)) * ${QuantizedL2.Q}D);
          long $d = $qa - $qb;
          $acc += $d * $d;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantizedL2 {
  /** 2²⁰ — the shared quantization lattice. */
  val Q: Double = 1048576.0d

  /** Column handle: squared L2 distance of `a` and `b` on the lattice. */
  def apply(a: Column, b: Column): Column =
    GraftPlanBridge.column(QuantizedL2(
      GraftPlanBridge.expression(a), GraftPlanBridge.expression(b)))
}
