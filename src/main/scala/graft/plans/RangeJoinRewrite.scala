package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: rewrite interval-overlap theta joins into binned
  * equi-joins.
  *
  * An inner join whose condition is only `a.start < b.end AND a.end >
  * b.start` (no cross-side equality) can reach the physical planner
  * solely as a BroadcastNestedLoop/Cartesian join — O(|L|·|R|), the
  * one scale hazard SURVEY §4.2 flags. This rule inserts a time-bin
  * `Generate` (explode of the bin range) on both sides and joins on
  * bin equality, so `ExtractEquiJoinKeys` later finds a hash/sort-merge
  * key; a dedup predicate keeps exactly the bin holding the later
  * interval start, making the rewrite pair-exact (same algorithm as
  * [[graft.operators.RangeJoin]], proven in RangeJoinSpec — this rule
  * applies it automatically to any matching logical join).
  *
  * Inner-join-safe with null timestamps: a null endpoint makes the
  * original predicate non-true (row never matches), and here makes
  * the bin array null so `Generate` emits nothing — same result.
  *
  * Opt-in by key: every session built through [[graft.SessionDefaults]]
  * carries the rule (via [[GraftExtensions]]), and it rewrites only
  * in a session where `spark.graft.rangeJoin.enabled=true` (default
  * false; the gate q531 declares it, so it runs in a session of its
  * own). Left on in every session it would rewrite the paper's own Q6
  * overlap join (`NsQueries.overlapping`), where one interval longer
  * than the fan-out bound below would fail the query.
  *
  * Bins are [[BinMinutes]] (120) minutes wide, and each row may
  * explode into at most [[MaxBins]] (2048) bins, so one corrupt or
  * open-ended interval (an end_time years after start) cannot
  * generate millions of rows. An optimizer rule must never silently
  * change results, so an interval that EXCEEDS the bound (about 170
  * days) fails the query with a runtime error that says so; within
  * the bound the rewrite is pair-exact.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val enabledKey = "spark.graft.rangeJoin.enabled"

  /** Bin width. */
  val BinMinutes = 120L

  /** Fan-out bound: the most bins one row's interval may span. */
  val MaxBins = 2048L

  private val binMicros = BinMinutes * 60000000L

  /** (aStart, aEnd, bStart, bEnd): a.start < b.end && a.end > b.start
    * with `a` side referencing only `left` and `b` only `right`.
    */
  private def findOverlap(
      conjuncts: Seq[Expression],
      left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression, Expression)] = {
    def leftOnly(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(left.outputSet) &&
        e.dataType == TimestampType && e.deterministic
    def rightOnly(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(right.outputSet) &&
        e.dataType == TimestampType && e.deterministic

    // normalize every strict comparison to (leftSideExpr op rightSideExpr)
    val lt = conjuncts.collect {                      // aStart < bEnd
      case LessThan(l, r) if leftOnly(l) && rightOnly(r) => (l, r)
      case GreaterThan(l, r) if leftOnly(r) && rightOnly(l) => (r, l)
    }
    val gt = conjuncts.collect {                      // aEnd > bStart
      case GreaterThan(l, r) if leftOnly(l) && rightOnly(r) => (l, r)
      case LessThan(l, r) if leftOnly(r) && rightOnly(l) => (r, l)
    }
    for ((aStart, bEnd) <- lt.headOption; (aEnd, bStart) <- gt.headOption)
      yield (aStart, aEnd, bStart, bEnd)
  }

  private def hasCrossSideEquality(
      conjuncts: Seq[Expression],
      left: LogicalPlan,
      right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(l, r) =>
        (l.references.subsetOf(left.outputSet) && r.references.subsetOf(right.outputSet)) ||
          (l.references.subsetOf(right.outputSet) && r.references.subsetOf(left.outputSet))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(enabledKey, "false") != "true") return plan
    plan.transform {
      case j @ Join(left, right, Inner | Cross, Some(cond), hint) =>
        val conjuncts = splitConjunctivePredicates(cond)
        if (hasCrossSideEquality(conjuncts, left, right)) j
        else findOverlap(conjuncts, left, right) match {
          case None => j
          case Some((aStart, aEnd, bStart, bEnd)) =>
            def binOf(e: Expression) =
              new IntegralDivide(UnixMicros(e), Literal(binMicros))
            def binned(child: LogicalPlan, s: Expression, e: Expression) = {
              val attr = AttributeReference("__graft_bin", LongType)()
              // Bound the explode to MaxBins bins per row, failing
              // loudly where the bound would truncate (doc above).
              // Sequence is TimeZoneAwareExpression; the analyzer
              // that normally fills timeZoneId has already run, so
              // set it.
              val rawEnd = binOf(e)
              val endBin = If(GreaterThan(rawEnd, Add(binOf(s), Literal(MaxBins))),
                Cast(new RaiseError(Literal(
                  s"graft range-join rewrite: interval spans more than $MaxBins " +
                    s"bins of $BinMinutes minutes")), LongType),
                rawEnd)
              val gen = Explode(Sequence(binOf(s), endBin, None,
                Some(conf.sessionLocalTimeZone)))
              (Generate(gen, Nil, outer = false, None, Seq(attr), child), attr)
            }
            val (lGen, lBin) = binned(left, aStart, aEnd)
            val (rGen, rBin) = binned(right, bStart, bEnd)
            val dedup = EqualTo(lBin,
              new IntegralDivide(
                Greatest(Seq(UnixMicros(aStart), UnixMicros(bStart))),
                Literal(binMicros)))
            val newCond = (EqualTo(lBin, rBin) +: conjuncts :+ dedup).reduce(And)
            Project(j.output.toSeq, Join(lGen, rGen, Inner, Some(newCond), hint))
        }
    }
  }
}

/** The engine's session extensions: the overlap-join rewrite and the
  * materialized-view rewrite (optimizer rules) and the per-key top-k
  * planner strategy. [[graft.SessionDefaults]] installs them in every
  * session it builds; elsewhere bind them with
  * `spark.sql.extensions=graft.plans.GraftExtensions` at submit time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectOptimizerRule(new MatViewRewrite(_))
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
