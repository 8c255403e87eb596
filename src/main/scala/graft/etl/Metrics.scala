package graft.etl

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, Observation}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions._

/** Pipeline observability via `Dataset.observe` (CollectMetrics):
  * quality counters computed INSIDE whatever job already runs — no
  * second scan, exact even under retries, and streaming-safe (per
  * micro-batch). The runtime twin of the q110 constraint suite: q110
  * audits a table at rest, these metrics watch rows as they flow
  * through a load, which is how the reference's per-run record counts
  * (`src/pipeline.py:304-342`) scale without re-reading the input.
  */
object Metrics {

  /** Attach row/null/violation counters to `df` through `obs`.
    * `checks` are predicate columns counted when FALSE (violations).
    * `obs.get` returns them once the first action over the result ends
    * (see PipelineMetricsSpec).
    */
  def observeQuality(
      df: DataFrame,
      obs: Observation,
      nullCols: Seq[String],
      checks: Map[String, Column] = Map.empty): DataFrame = {
    val nullCounters = nullCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c"))
    val checkCounters = checks.toSeq.sortBy(_._1).map { case (n, pred) =>
      sum(when(pred, 0L).otherwise(1L)).as(s"n_bad_$n")
    }
    // the optimizer folds `df`'s constant columns through projections
    // and filters, not through the observation: re-state them above it,
    // so plans over the result still fold them (an upsert then prunes
    // the stored side of its probe by a constant batch version)
    def constants(p: LogicalPlan): Map[String, Column] = p match {
      case Filter(_, child) => constants(child)
      case Project(list, _) => list.collect { case a: Alias if a.child.foldable => a.name -> GraftPlanBridge.column(a.child) }.toMap
      case _ => Map.empty
    }
    df.observe(obs, count(lit(1)).as("n_rows"), nullCounters ++ checkCounters: _*)
      .withColumns(constants(df.queryExecution.analyzed))
  }
}
