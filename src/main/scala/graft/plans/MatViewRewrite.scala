package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project}
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
  *
  * Registrations are held by the session: [[MatViewRewrite.register]]
  * records one in the session's catalog, as a temp view, and the rule
  * (built per session by [[GraftExtensions]]) reads only the catalog
  * of the session it optimizes for. A registration is therefore seen
  * by no other session, ends with its session, and the rule is inert
  * in a session that has none.
  */
final class MatViewRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  import MatViewRewrite._

  /** The registration whose base path backs this scan, if any. */
  private def registered(lr: LogicalRelation): Option[AggTable] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        val catalog = session.sessionState.catalog
        fs.location.rootPaths.iterator
          .flatMap(p => catalog.getRawTempView(viewName(p.toString)))
          .flatMap(_.plan.flatMap(_.collectFirst { case Registration(view) => view }))
          .nextOption()
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

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
        (for {
          (lr, filters) <- strip(child)
          view <- registered(lr)
          rewritten <- tryRewrite(groupExprs, aggExprs, filters, view)
        } yield rewritten).getOrElse(agg)
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
    val newGroup = groupExprs.map {
      case a: AttributeReference if keys.contains(a.name) => s(a.name).getOrElse(return None)
      case _ => return None
    }
    def agged(fn: AggregateFunction): Expression =
      fn.toAggregateExpression()

    // one aggregate of the base as one over the state; None if the
    // state cannot answer it
    def stateAgg(ae: AggregateExpression): Option[Expression] = ae match {
      // filter position must be None: an aggregate with a FILTER
      // (WHERE ...) clause counts a predicate-dependent subset the
      // state never kept, so it must stay on the base scan
      case AggregateExpression(fn, _, false, None, _) => fn match {
        // non-nullable constants only: count(NULL) is always 0,
        // not the group row count the state's cnt would report
        case Count(exprs) if exprs.forall(e => e.foldable && !e.nullable) =>
          s("cnt").map(c => Cast(agged(Sum(c)), LongType))
        case Sum(m: AttributeReference, _) if measures.contains(m.name) &&
            exactSumType(m.dataType) =>
          s(s"sum_${m.name}").map(src => Cast(agged(Sum(src)), ae.dataType))
        // sum(cast(m AS DECIMAL(18,2))) is the state's OWN sum
        // definition (AggSpec.partial casts every measure to exactly
        // this type), so re-summing the state is bit-identical for
        // ANY base type — including floats the bare-attribute arm
        // must refuse
        case Sum(Cast(m: AttributeReference, d: DecimalType, _, _), _)
            if measures.contains(m.name) && d.precision == 18 && d.scale == 2 =>
          s(s"sum_${m.name}").map(src => Cast(agged(Sum(src)), ae.dataType))
        case Min(m: AttributeReference) if measures.contains(m.name) =>
          s(s"min_${m.name}").map(src => agged(Min(src)))
        case Max(m: AttributeReference) if measures.contains(m.name) =>
          s(s"max_${m.name}").map(src => agged(Max(src)))
        case _ => None
      }
      case _ => None
    }
    // an expression over aggregates and group keys (a filter on keys,
    // or a cast or an arithmetic the optimizer folded into the
    // Aggregate) keeps its shape, with each aggregate and key taken
    // from the state; any other column fails it
    def overState(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => stateAgg(ae)
      case a: AttributeReference if keys.contains(a.name) => s(a.name)
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(overState)
        if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.flatten)) else None
    }
    val stateFilters = filters.map(f => overState(f).getOrElse(return None))

    // each output column keeps its original exprId
    val newAggs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference => Alias(overState(a).getOrElse(return None), a.name)(exprId = a.exprId)
      case al: Alias =>
        al.withNewChildren(Seq(overState(al.child).getOrElse(return None))).asInstanceOf[NamedExpression]
      case _ => return None
    }

    val filtered = stateFilters.foldLeft(state)((p, f) => Filter(f, p))
    Some(Aggregate(newGroup, newAggs, filtered))
  }
}

object MatViewRewrite {

  /** A registration as the session catalog holds it: the plan of its
    * temp view. It is never planned; [[MatViewRewrite]] reads it.
    */
  private final case class Registration(view: AggTable) extends LeafNode {
    override def output: Seq[Attribute] = Nil
  }

  /** The temp view name of the registration for `basePath`. */
  private def viewName(basePath: String): String = {
    val canon = basePath.stripSuffix("/").replaceFirst("^file:", "")
    "graft_matview_" + UUID.nameUUIDFromBytes(canon.getBytes(UTF_8)).toString.replace("-", "")
  }

  /** Route aggregates over `basePath`, in session `s` only, to the
    * state of `view`, read afresh at each optimization.
    */
  def register(s: SparkSession, basePath: String, view: AggTable): Unit =
    GraftPlanBridge.ofRows(s, Registration(view)).createOrReplaceTempView(viewName(basePath))
}
