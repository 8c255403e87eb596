package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}

/** MinHash signature as a single declarative aggregate: one buffer
  * holds all `nHashes` running minima of the salted md5 hashes.
  *
  * The buffer keeps each minimum as a LONG — the first 15 hex chars
  * (60 bits) of the salted md5, numerically equal to the hex-prefix
  * string order. Fixed-width buffers matter more than they look:
  * string minima demote the whole aggregation to SortAggregate
  * (HashAggregate requires mutable fixed-width buffer fields), which
  * SORTS the full postings table per pass — measured 4-5× slower on
  * the q88 profile gate and exactly the shape that dies on a 100 TB
  * shingle table. With long minima the signature build stays a
  * hash aggregate with map-side partial combine.
  *
  * `evaluateExpression` re-encodes each minimum as the 15-char
  * lower-hex string (zero-padded), so the public contract — array of
  * hex strings, min over `substr(md5(salt || s), 1, 15)` — is directly
  * reproducible in oracle SQL.
  *
  * `DeclarativeAggregate` means every phase — init, per-row update,
  * partial merge, final evaluate — is a pure Catalyst expression, so
  * the aggregate participates in whole-stage codegen and map-side
  * partial aggregation like a built-in: the extension path for custom
  * aggregation semantics without an ImperativeAggregate's per-row
  * virtual calls.
  */
case class MinHashSignature(child: Expression, nHashes: Int)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_signature"

  private lazy val minima: Seq[AttributeReference] =
    (0 until nHashes).map(i => AttributeReference(s"minh$i", LongType)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] = minima

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(nHashes)(Literal(null, LongType))

  // 60-bit prefix of the salted md5 as a LONG: hex-prefix order and
  // numeric order agree, so Least is the correct running minimum.
  private def saltedHash(i: Int): Expression =
    Cast(
      Conv(
        Substring(Md5(Cast(Concat(Seq(Literal(s"$i:"), child)), BinaryType)),
          Literal(1), Literal(15)),
        Literal(16), Literal(10)),
      LongType)

  // Least skips nulls: a null buffer takes the first hash, a null
  // input row leaves the buffer unchanged.
  override lazy val updateExpressions: Seq[Expression] =
    (0 until nHashes).map(i => Least(Seq(minima(i), saltedHash(i))))

  override lazy val mergeExpressions: Seq[Expression] =
    (0 until nHashes).map(i => Least(Seq(minima(i).left, minima(i).right)))

  // back to the oracle-reproducible 15-char lower-hex form
  override lazy val evaluateExpression: Expression =
    CreateArray(minima.map(m =>
      StringLPad(Lower(Hex(m)), Literal(15), Literal("0"))))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MinHashSignature {

  /** Aggregate Column: array of `nHashes` minhash hex strings. */
  def apply(c: Column, nHashes: Int): Column =
    GraftPlanBridge.column(
      MinHashSignature(GraftPlanBridge.expression(c), nHashes).toAggregateExpression())
}
