package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, ShortType}

import graft.store.AggTable

/** Optimizer rule: answer aggregates over a base table from its
  * incrementally-maintained [[graft.store.AggTable]] state instead of
  * rescanning the corpus — automatic materialized-view rewrite.
  *
  * The reference recomputes its `daily_stats` rollup from the full
  * cleaned table on every run (`src/pipeline.py:236-298`); [[graft.store.AggTable]]
  * already maintains the O(touched groups) incremental state, but a
  * user's ad-hoc `base.groupBy(keys).agg(...)` still rescans the base.
  * At 100 TB that rescan is the difference between seconds (state is
  * group-count-sized) and hours (corpus-sized scan) — this rule makes
  * the state transparent: queries keep targeting the base table and
  * Catalyst substitutes the state when it can answer exactly.
  *
  * A query is rewritten when ALL hold (else left untouched — an
  * optimizer rule must never change semantics):
  *  - its scan reaches a registered base path through only
  *    column-pruning Projects and Filters whose predicates reference
  *    GROUP KEYS only (key predicates partition the state exactly);
  *  - every grouping expression is a bare key column of the spec;
  *  - every aggregate is `count(constant)` → Σcnt, `sum(m)` → Σsum_m,
  *    `min(m)` → min(min_m), or `max(m)` → max(max_m) over spec
  *    measures — the algebraic set the state closes over (avg and
  *    count(col) are NOT rewritten: the state keeps no per-measure
  *    null counts, and [[graft.store.AggSpec]] sums null-skip like SQL
  *    only when the measure is never-null; count(DISTINCT …) is never
  *    derivable);
  *  - `sum` measures are integral or DECIMAL(≤18, ≤2) at the base, so
  *    the DECIMAL(18,2) state sum is bit-identical to the base sum
  *    (float sums would change by partial-aggregation order; min/max
  *    are order-free and stay unrestricted).
  *
  * Output attribute ids are preserved (each rewritten column is
  * re-aliased under its original `exprId`), so parent operators —
  * sorts, joins, further projections — resolve unchanged.
  */
object MatViewRewrite extends Rule[LogicalPlan] {

  private val registry = new ConcurrentHashMap[String, AggTable]()

  private def canon(p: String): String =
    p.stripSuffix("/").replaceFirst("^file:", "")

  /** Route aggregates over `basePath` to the state of `view`. */
  def register(basePath: String, view: AggTable): Unit =
    registry.put(canon(basePath), view)

  def clear(): Unit = registry.clear()

  /** The registration whose base path backs this scan, if any. */
  private def registered(lr: LogicalRelation): Option[AggTable] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.iterator
          .map(p => registry.get(canon(p.toString)))
          .collectFirst { case r if r != null => r }
      case _ => None
    }

  /** Unwrap pruning Projects / Filters down to the base relation,
    * collecting filter predicates on the way.
    */
  private def strip(plan: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    plan match {
      case lr: LogicalRelation => Some((lr, Nil))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        strip(child)
      case Filter(cond, child) => strip(child).map { case (lr, fs) => (lr, cond +: fs) }
      case _ => None
    }

  private def exactSumType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ShortType | IntegerType | LongType => true
    case d: DecimalType => d.precision <= 18 && d.scale <= 2
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
        (for {
          (lr, filters) <- strip(child)
          view <- registered(lr)
          rewritten <- tryRewrite(groupExprs, aggExprs, filters, view)
        } yield rewritten).getOrElse(agg)
    }
  }

  private def tryRewrite(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      filters: Seq[Expression],
      view: AggTable): Option[LogicalPlan] = {
    val keys = view.spec.keys.toSet
    val measures = view.spec.measures.toSet

    // analyzed scan of the committed state (built from its manifest:
    // no listing, no inference job); bail quietly if none yet
    val state = view.state.getOrElse(return None).queryExecution.analyzed
    val stateAttr = state.output.map(a => a.name -> a).toMap
    def s(name: String): Option[AttributeReference] =
      stateAttr.get(name).collect { case a: AttributeReference => a }

    // grouping: bare key columns only
    val groupKeys = groupExprs.map {
      case a: AttributeReference if keys.contains(a.name) => a
      case _ => return None
    }
    // filters may reference group keys only; remap them onto the state
    val attrByExpr = scala.collection.mutable.HashMap[ExprId, AttributeReference]()
    groupKeys.foreach(a => attrByExpr(a.exprId) = a)
    def remapKeyExpr(e: Expression): Option[Expression] = {
      var ok = true
      val out = e.transform {
        case a: AttributeReference =>
          if (keys.contains(a.name)) s(a.name).getOrElse { ok = false; a }
          else { ok = false; a }
      }
      if (ok) Some(out) else None
    }
    val stateFilters = filters.map(f => remapKeyExpr(f).getOrElse(return None))

    def agged(fn: AggregateFunction): Expression =
      fn.toAggregateExpression()

    // each output column re-aliased under its original exprId
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if keys.contains(a.name) =>
        Alias(s(a.name).getOrElse(return None), a.name)(exprId = a.exprId)
      // filter position must be None: an aggregate with a FILTER
      // (WHERE ...) clause counts a predicate-dependent subset the
      // state never kept, so it must stay on the base scan
      case al @ Alias(AggregateExpression(fn, _, false, None, _), name) =>
        val rewrittenFn: Expression = fn match {
          // non-nullable constants only: count(NULL) is always 0,
          // not the group row count the state's cnt would report
          case Count(exprs) if exprs.forall(e => e.foldable && !e.nullable) =>
            Cast(agged(Sum(s("cnt").getOrElse(return None))), LongType)
          case Sum(m: AttributeReference, _) if measures.contains(m.name) &&
              exactSumType(m.dataType) =>
            val src = s(s"sum_${m.name}").getOrElse(return None)
            Cast(agged(Sum(src)), al.dataType)
          // sum(cast(m AS DECIMAL(18,2))) is the state's OWN sum
          // definition (AggSpec.partial casts every measure to exactly
          // this type), so re-summing the state is bit-identical for
          // ANY base type — including floats the bare-attribute arm
          // must refuse
          case Sum(Cast(m: AttributeReference, d: DecimalType, _, _), _)
              if measures.contains(m.name) && d.precision == 18 && d.scale == 2 =>
            val src = s(s"sum_${m.name}").getOrElse(return None)
            Cast(agged(Sum(src)), al.dataType)
          case Min(m: AttributeReference) if measures.contains(m.name) =>
            agged(Min(s(s"min_${m.name}").getOrElse(return None)))
          case Max(m: AttributeReference) if measures.contains(m.name) =>
            agged(Max(s(s"max_${m.name}").getOrElse(return None)))
          case _ => return None
        }
        Alias(rewrittenFn, name)(exprId = al.exprId)
      case _ => return None
    }

    val filtered = stateFilters.foldLeft(state)((p, f) => Filter(f, p))
    val newGroup = groupKeys.map(a => s(a.name).getOrElse(return None))
    Some(Aggregate(newGroup, newAggs, filtered))
  }
}
