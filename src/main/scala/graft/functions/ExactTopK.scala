package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact top-`k` largest LONG values per group as ONE mergeable
  * aggregate — the `TypedImperativeAggregate` extension point, for
  * aggregation state that no fixed-width row can hold (here: a
  * bounded min-heap of up to `k` values).
  *
  * Complements the engine's other per-group-top-k shapes: the
  * window `row_number ≤ k` form (`q58_topk_per_key`, whole rows, one
  * sort) and the planner-level `TopKPerKeyStrategy`. As a true
  * aggregate the heap combines map-side — each partition ships at
  * most `k` values per group, never its rows — which is the shape
  * that wins when groups are huge and k is small (the 100 TB
  * "top-5 per key over a trillion rows" query). VALUES, not rows:
  * duplicates count separately, output sorts descending.
  *
  * State is a `k+1`-bounded min-heap; `serialize` writes the raw
  * longs (shuffle format), `eval` heap-drains to a descending array.
  * Every phase — partial update, partial merge across partitions,
  * final evaluate — is exercised by `ExactTopKSpec` and the
  * `q212_topk_aggregate` gate (hash-matched against DuckDB's sorted
  * list slice).
  */
case class ExactTopK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[Long]] {

  require(k >= 1, s"topk needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "exact_topk"

  // min-heap: the smallest retained value is the eviction candidate
  override def createAggregationBuffer(): mutable.PriorityQueue[Long] =
    mutable.PriorityQueue.empty[Long](Ordering[Long].reverse)

  private def push(heap: mutable.PriorityQueue[Long], v: Long): Unit =
    if (heap.size < k) heap.enqueue(v)
    else if (v > heap.head) { heap.dequeue(); heap.enqueue(v) }

  override def update(
      heap: mutable.PriorityQueue[Long],
      input: InternalRow): mutable.PriorityQueue[Long] = {
    val v = child.eval(input)
    if (v != null) push(heap, v.asInstanceOf[Long])
    heap
  }

  override def merge(
      a: mutable.PriorityQueue[Long],
      b: mutable.PriorityQueue[Long]): mutable.PriorityQueue[Long] = {
    b.foreach(push(a, _))
    a
  }

  // evaluate from a clone: dequeueAll drains the queue, and eval must
  // leave the buffer intact for contexts that evaluate it repeatedly
  // (e.g. a running window frame)
  override def eval(heap: mutable.PriorityQueue[Long]): Any =
    new GenericArrayData(heap.clone().dequeueAll.reverse.toArray)

  override def serialize(heap: mutable.PriorityQueue[Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(heap.size)
    heap.foreach(out.writeLong)
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val heap = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach(_ => heap.enqueue(in.readLong()))
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object ExactTopK {

  /** Aggregate Column: the `k` largest values of `c`, descending. */
  def apply(c: Column, k: Int): Column =
    GraftPlanBridge.column(
      ExactTopK(GraftPlanBridge.expression(c), k).toAggregateExpression())
}
