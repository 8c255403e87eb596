package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Per-key top-k as a first-class operator: logical node → planner
  * strategy → two physical operators, registered like any native
  * Spark operator.
  *
  * The built-in way to take the k best rows per key is
  * `row_number().over(Window.partitionBy(key).orderBy(ord)) <= k`,
  * which SORTS EVERY ROW of every key after the shuffle — O(n log n)
  * work and full materialization of each partition, for output that
  * keeps only k rows per key. This operator instead:
  *
  *  - [[TopKPerKeyPartialExec]] runs BEFORE the exchange: a bounded
  *    heap per key per input partition caps map output at k rows per
  *    (key, partition) — the top-k analogue of map-side partial
  *    aggregation, and the piece that matters at 100 TB (shuffle
  *    bytes drop from |input| to ≤ k·|keys|·|partitions|);
  *  - [[TopKPerKeyExec]] declares `ClusteredDistribution(keys)` so
  *    EnsureRequirements inserts the hash exchange, merges the
  *    partials with the same bounded heap, and emits each key's rows
  *    rank-numbered 1..k.
  *
  * Heap memory is O(k) per key — never a full partition sort buffer.
  * Ranks match `row_number` exactly when the ordering is total per
  * key (give a tiebreak column, as with any row_number use).
  */
object TopKPerKey {

  /** The k best rows per key with a `rankName` column (1..k), ordered
    * by `order` — semantics identical to a row_number window filter.
    */
  def perKey(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      k: Int,
      rankName: String = "rk"): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed

    def resolve(e: Expression): Expression = e.transformUp {
      case u: UnresolvedAttribute =>
        analyzed.output.find(_.name == u.name).getOrElse(
          throw new IllegalArgumentException(
            s"TopKPerKey: column ${u.name} not in ${analyzed.output.map(_.name)}"))
    }
    val keyExprs: Seq[Expression] = keys.map(n => resolve(UnresolvedAttribute(n)))
    val sortOrders: Seq[SortOrder] = order.map(GraftPlanBridge.expression).map {
      case so: SortOrder => so.copy(child = resolve(so.child))
      case e => SortOrder(resolve(e), Ascending)
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    GraftPlanBridge.ofRows(spark,
      TopKPerKeyPlan(keyExprs, sortOrders, k, rankAttr, analyzed))
  }
}

/** Logical node: output = child's columns plus the rank. */
case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rk is born here, not consumed from the child
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Plans the logical node as partial-then-final, mirroring the
  * two-phase shape of hash aggregation. Installed in every engine
  * session by [[GraftExtensions]] (through [[graft.SessionDefaults]]).
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, rankAttr, child) =>
      TopKPerKeyExec(keys, order, k, rankAttr,
        TopKPerKeyPartialExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared bounded-heap routine: consume a partition, keep the first
  * `k` rows per key under `ord`, return (key → rows ascending).
  */
private[plans] object BoundedTopK {
  def perKey(
      iter: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ord: Ordering[InternalRow],
      k: Int): Iterator[(UnsafeRow, Array[InternalRow])] = {
    // PriorityQueue dequeues the MAX under `ord` = the worst kept row;
    // a new row replaces it when strictly better.
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case Some(q) =>
          if (q.size < k) q.enqueue(row.copy())
          else if (ord.compare(row, q.head) < 0) { q.dequeue(); q.enqueue(row.copy()) }
        case None =>
          val q = mutable.PriorityQueue.empty[InternalRow](ord)
          q.enqueue(row.copy())
          heaps.put(key.copy(), q)
      }
    }
    heaps.iterator.map { case (key, q) => key -> q.dequeueAll.reverse.toArray }
  }
}

/** Map-side phase: no distribution requirement, caps every input
  * partition at k rows per key before the shuffle.
  */
case class TopKPerKeyPartialExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(orderExprs, childOutput)
      BoundedTopK.perKey(iter, keyProj, ord, kLocal).flatMap(_._2)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)
}

/** Reduce-side phase: requires clustering on the keys (the planner
  * inserts the hash exchange), merges partial winners, emits ranks.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    val outputAttrs = output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(orderExprs, childOutput)
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      BoundedTopK.perKey(iter, keyProj, ord, kLocal).flatMap { case (_, rows) =>
        rows.iterator.zipWithIndex.map { case (r, i) =>
          rankRow.update(0, (i + 1).toLong)
          resultProj(joined(r, rankRow))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
