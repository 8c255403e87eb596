package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (k-minimum-values) theta sketch: the `k` smallest DISTINCT
  * hash values of a group as ONE mergeable bounded-memory aggregate.
  *
  * Complements the engine's HLL path (`q96_hll_incremental_distinct`):
  * HLL unions but cannot intersect; a KMV sketch supports union AND
  * intersection estimates through plain theta-sketch algebra on its
  * output array ([[Kmv.intersectEstimate]]) — the "how many users do
  * these two audiences share" question at 100 TB without an exact
  * distinct-pair join. State is a `k`-bounded sorted set (~8·k bytes
  * per group); each partition ships at most `k` longs per group.
  *
  * Everything is DETERMINISTIC: callers hash with [[Kmv.hash60]]
  * (md5-based, 60-bit) so the k-th order statistic — and therefore
  * every estimate — is reproducible bit-for-bit by an independent
  * SQL engine. `q424_kmv_distinct` / `q425_kmv_intersection`
  * hash-match DuckDB oracles that re-derive the same sketches with
  * window order statistics; `KmvSketchSpec` bounds estimator error
  * vs exact counts and pins batch-fold == one-shot mergeability.
  *
  * Reference capability: the reference keeps exact COUNT(DISTINCT …)
  * per station (`aggregators.py:83`) — fine at 125 rows, a full
  * shuffle of every distinct value at corpus scale. This is the
  * sublinear path for the same question.
  */
case class KmvMinK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  require(k >= 2, s"kmv needs k >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_mink"

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  private def push(set: mutable.TreeSet[Long], v: Long): Unit =
    if (set.size < k) set += v
    else if (v < set.lastKey && !set.contains(v)) {
      set -= set.lastKey
      set += v
    }

  override def update(
      set: mutable.TreeSet[Long],
      input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) push(set, v.asInstanceOf[Long])
    set
  }

  override def merge(
      a: mutable.TreeSet[Long],
      b: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    b.foreach(push(a, _))
    a
  }

  // ascending: element k-1 (if present) is the theta threshold
  override def eval(set: mutable.TreeSet[Long]): Any =
    new GenericArrayData(set.toArray)

  override def serialize(set: mutable.TreeSet[Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(set.size)
    set.foreach(out.writeLong)
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val set = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach(_ => set += in.readLong())
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object Kmv {

  /** 2^60 — the hash domain size [[hash60]] draws from. */
  val Domain: Double = 1152921504606846976.0d

  /** Deterministic 60-bit hash (15 hex digits of md5) of any column,
    * as a non-negative LONG — reproducible in any engine with md5.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** Aggregate Column: the `k` smallest distinct hashes of `hashed`
    * (a [[hash60]] column), ascending.
    */
  def sketch(hashed: Column, k: Int): Column =
    GraftPlanBridge.column(
      KmvMinK(GraftPlanBridge.expression(hashed), k).toAggregateExpression())

  /** Distinct-count estimate from a sketch array: exact size below
    * `k` (the sketch IS the distinct set), else (k−1)·2^60/h_k.
    */
  def estimate(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(Domain)
        / element_at(sk, k).cast("double"))

  /** Union distinct-count estimate of two sketch arrays: merge,
    * dedupe, keep the k smallest, estimate.
    */
  def unionEstimate(a: Column, b: Column, k: Int): Column = {
    val merged = slice(array_sort(array_union(a, b)), 1, k)
    estimate(merged, k)
  }

  private def theta(sk: Column, k: Int): Column =
    when(size(sk) < k, lit(Domain))
      .otherwise(element_at(sk, k).cast("double"))

  /** Intersection estimate via theta-sketch algebra: θ = min of the
    * two thresholds (each sketch's max retained hash when full, else
    * the open domain), count shared hashes below θ, scale by 2^60/θ.
    * Exact when both sides are below `k` (sketches are the sets).
    */
  def intersectEstimate(a: Column, b: Column, k: Int): Column = {
    val th = least(theta(a, k), theta(b, k))
    val shared = size(filter(array_intersect(a, b),
      h => h.cast("double") < th))
    shared.cast("double") * lit(Domain) / th
  }

  /** Difference estimate |A \ B| by the same algebra: count hashes of
    * A below the common θ that B does not contain, scale by 2^60/θ.
    * Exact when both sides are below `k`.
    */
  def differenceEstimate(a: Column, b: Column, k: Int): Column = {
    val th = least(theta(a, k), theta(b, k))
    val only = size(filter(array_except(a, b),
      h => h.cast("double") < th))
    only.cast("double") * lit(Domain) / th
  }
}
