package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native codegen'd per-subspace nearest-centroid assignment — the
  * vector-quantization hot loop shared by IVF assignment and PQ
  * encoding ([[graft.similarity.IvfIndex]], [[graft.similarity.PqIndex]]).
  *
  * `nearest_centroids(vec, book)` cuts `vec` (array<float>) into
  * `m = book.length` subvectors of `subDim = book(j)(c).length` floats
  * and returns, per subspace, the 0-based index of the closest
  * centroid by squared L2 (ties → lowest index). `book` must be a
  * foldable literal (`m × k × subDim` doubles) — the driver-side
  * model shipped into the expression, matching the IVF/PQ design of
  * broadcasting the model instead of shuffling the corpus.
  *
  * The composable form (`transform(typedLit(book), c => sqDist(...))`
  * + `array_min` + `array_position`) interprets a lambda per centroid
  * element and allocates an intermediate distance array per row —
  * measured as the dominant cost of `q106_pq_ann` (encode + train
  * assignment scan ~3 s of its 4.6 s at sf0.1). This expression is
  * one fused Java loop inside whole-stage codegen, bit-identical in
  * semantics: elements promoted float→double, sequential
  * accumulation, strict `<` keeps the first (lowest-index) minimum —
  * exactly `array_position(dists, array_min(dists)) - 1` over
  * identical doubles. A vector shorter than `m·subDim` yields NULL
  * (the HOF form nulls out through zip_with padding the same way).
  */
case class NearestCentroids(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val bookOk = right.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => right.foldable
      case _ => false
    }
    if (vecOk && bookOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, foldable array<array<array<double>>>), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "nearest_centroids"

  /** (m, k, subDim, row-major flattened book) — evaluated once on the
    * driver from the foldable literal; `flat(((j·k)+c)·subDim + i)` is
    * centroid c's component i in subspace j.
    */
  @transient private lazy val model: (Int, Int, Int, Array[Double]) = {
    val bookData = right.eval(null).asInstanceOf[ArrayData]
    val m = bookData.numElements()
    require(m > 0, s"$prettyName: empty codebook")
    val sub0 = bookData.getArray(0)
    val k = sub0.numElements()
    require(k > 0, s"$prettyName: empty subspace 0")
    val subDim = sub0.getArray(0).numElements()
    val flat = new Array[Double](m * k * subDim)
    var j = 0
    while (j < m) {
      val subspace = bookData.getArray(j)
      require(subspace.numElements() == k,
        s"$prettyName: subspace $j has ${subspace.numElements()} centroids, expected $k")
      var c = 0
      while (c < k) {
        val cent = subspace.getArray(c)
        require(cent.numElements() == subDim,
          s"$prettyName: centroid ($j,$c) has ${cent.numElements()} dims, expected $subDim")
        var i = 0
        while (i < subDim) {
          flat(((j * k) + c) * subDim + i) = cent.getDouble(i)
          i += 1
        }
        c += 1
      }
      j += 1
    }
    (m, k, subDim, flat)
  }

  override protected def nullSafeEval(vec: Any, bookIgnored: Any): Any = {
    val (m, k, subDim, flat) = model
    val v = vec.asInstanceOf[ArrayData]
    if (v.numElements() < m * subDim) return null
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0
        val base = ((j * k) + c) * subDim
        var i = 0
        while (i < subDim) {
          val x = v.getFloat(j * subDim + i).toDouble - flat(base + i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (m, k, subDim, flat) = model
    val flatRef = ctx.addReferenceObj("centroids", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val base = ctx.freshName("base")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      s"""
        if ($v.numElements() < ${m * subDim}) {
          ${ev.isNull} = true;
        } else {
          int[] $out = new int[$m];
          for (int $j = 0; $j < $m; $j++) {
            int $best = 0; double $bestD = Double.MAX_VALUE;
            for (int $c = 0; $c < $k; $c++) {
              double $d = 0.0;
              int $base = (($j * $k) + $c) * $subDim;
              for (int $i = 0; $i < $subDim; $i++) {
                double $x = (double) $v.getFloat($j * $subDim + $i) - $flatRef[$base + $i];
                $d += $x * $x;
              }
              if ($d < $bestD) { $bestD = $d; $best = $c; }
            }
            $out[$j] = $best;
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroids {

  /** Column handle: 0-based per-subspace nearest-centroid indices of
    * `vec` against `book` (m × k × subDim), which travels as a literal
    * argument.
    */
  def apply(vec: Column, book: Seq[Seq[Seq[Double]]]): Column =
    GraftPlanBridge.column(NearestCentroids(
      GraftPlanBridge.expression(vec), GraftPlanBridge.expression(typedLit(book))))
}
