package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Mergeable partial-aggregate state for incremental aggregate
  * maintenance ("materialized view" refresh): per group the stored
  * state is (row count, per-measure DECIMAL sum / min / max) — all
  * algebraic, so batches combine by re-aggregating the union of
  * partials. Derived finals (avg) are computed only at read time.
  *
  * The reference recomputes its `daily_stats` rollup from the full
  * cleaned table on every run (`src/pipeline.py:236-298`); at 100 TB
  * the only refresh that survives is O(new batch + touched groups),
  * which is exactly what [[partial]] + [[merge]] cost — the corpus is
  * never rescanned. Sums are exact DECIMAL(18,2) (the engine-wide
  * determinism rule), so the incrementally-maintained result is
  * bit-identical to a from-scratch aggregation regardless of how the
  * data was batched — gated as `q94_incremental_agg`.
  *
  * Append-only: count/sum subtract, but min/max are not invertible,
  * so deletes require recomputing the touched groups (or a CDC-driven
  * per-group rebuild) — the same restriction every incremental-view
  * engine documents for MIN/MAX.
  */
final case class AggSpec(keys: Seq[String], measures: Seq[String]) {

  private val dec = DecimalType(18, 2)
  private def stateAggs(sumOf: String => Column): Seq[Column] =
    measures.flatMap { m =>
      Seq(
        // re-cast per level so the state schema is closed under merge
        // (Spark widens sum(DECIMAL) precision each aggregation)
        sum(sumOf(m)).cast(dec).as(s"sum_$m"),
        min(col(s"min_$m")).as(s"min_$m"),
        max(col(s"max_$m")).as(s"max_$m"))
    }

  /** Aggregate one batch of raw rows to mergeable per-group state. */
  def partial(batch: DataFrame): DataFrame =
    batch
      .select(keys.map(col) ++ measures.flatMap(m =>
        Seq(col(m).cast(dec).as(s"sum_$m"), col(m).as(s"min_$m"), col(m).as(s"max_$m"))): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), stateAggs(m => col(s"sum_$m")): _*)

  /** Combine two partial states (associative + commutative). */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"), stateAggs(m => col(s"sum_$m")): _*)

  /** Final aggregates from a state: exact sums surface as double, avg
    * from one shared IEEE tree (sum-as-double / count).
    */
  def finish(state: DataFrame): DataFrame =
    state.select(keys.map(col) ++ Seq(col("cnt").as("n_rows")) ++ measures.flatMap { m =>
      val sumD = col(s"sum_$m").cast("double")
      Seq(
        sumD.as(s"sum_$m"),
        (sumD / col("cnt")).as(s"avg_$m"),
        col(s"min_$m").as(s"min_$m"),
        col(s"max_$m").as(s"max_$m"))
    }: _*)
}

/** Store-backed incrementally-maintained aggregate table. Each
  * `accumulate(batchId, batch)` folds one batch's [[AggSpec.partial]]
  * into the persisted state; already-applied batch ids are skipped, so
  * re-running a batch (the reference's "safe to re-run" contract) is a
  * no-op. The state and the applied-ids ledger are two parts of one
  * table (`<table>/state`, `<table>/ledger`) written by ONE
  * [[TableStore.commit]], so a crash can never persist one without the
  * other — on retry the batch either replays cleanly (neither landed)
  * or is skipped (both landed).
  */
final class AggTable(store: TableStore, table: String, val spec: AggSpec) {

  def state: Option[DataFrame] = store.read(s"$table/state")

  // The version this instance builds on and a driver-side mirror of
  // its ledger (O(batches) ids), seeded once and advanced by this
  // instance's commits: an accumulate pays no ledger-scan job, and
  // once another writer commits, the next accumulate fails instead of
  // trusting the stale mirror. A fresh instance re-reads the ledger.
  private var mirror: Option[(TableStore.Snapshot, Set[String])] = None

  private def current: (TableStore.Snapshot, Set[String]) = mirror.getOrElse {
    val base = store.snapshot(table)
    val ids = store.ledger(base)
    mirror = Some((base, ids))
    (base, ids)
  }

  /** Fold one batch into the state; false if batchId was already
    * applied (nothing happens).
    */
  def accumulate(batchId: String, batch: DataFrame): Boolean = {
    val (base, applied) = current
    if (applied.contains(batchId)) false
    else {
      val p = spec.partial(batch)
      val next = store.commit(base, Seq(
        TableStore.Write("state", store.read(base, "state").fold(p)(spec.merge(_, p))),
        store.ledgerWrite(applied + batchId)))
      mirror = Some((next, applied + batchId))
      true
    }
  }
}
