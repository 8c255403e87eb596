package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The engine's baseline session configuration, in ONE place so every
  * entry point — Bench, Verify, dev/Probe and the pipeline Main —
  * plans queries the same way. Round-11's review flagged that
  * `preferSortMergeJoin=false` lived only in the bench harness, which
  * made the engine's join strategy differ by entry point; it is engine
  * policy, not a bench setting.
  *
  * Everything here is scale-safe policy, not local-mode tuning:
  *  - AQE + partition coalescing: the adaptive baseline
  *    (optimization guide §9). `parallelismFirst` stays at its default
  *    (true): an in-session A/B (OPTIMIZATION_r12.md, "Tiny-shuffle
  *    partitioning") measured byte-based coalescing (`parallelismFirst=false`, advisory 1m or
  *    64m) at −50..−69% on the CPU-dense gates (q288 pair expansion,
  *    q472 ordered folds) whose shuffles are byte-small but
  *    compute-heavy — bytes are the wrong proxy for work in this
  *    engine, so the floor stays at the core count.
  *  - `preferSortMergeJoin=false`: lets the planner pick shuffled-hash
  *    where its build-side-fits conditions hold (guide §3.1/§9);
  *    plan-gated, converts nothing the size checks reject.
  *  - codegen cache 2000: 535 queries × several codegen'd stages far
  *    exceed the default 100-entry cache; eviction re-pays Janino
  *    compilation mid-run (any long-lived session hits this, not just
  *    the bench).
  *  - UTC session timezone: the engine-wide determinism contract.
  *  - `parquet.nanosAsLong`: INT64 `TIMESTAMP(NANOS)` columns read as
  *    raw longs, which [[Tables]] converts to micros (`events.ts`).
  *    A session-wide conf, so how a session decodes such a file never
  *    depends on whether some earlier call loaded `events`.
  *
  * The engine's optimizer rules and planner strategy are installed
  * here too, once per session: [[apply]] adds
  * [[graft.plans.GraftExtensions]] (`RangeJoinRewrite`, inert unless
  * `spark.graft.rangeJoin.enabled=true`; `MatViewRewrite`, inert in a
  * session that holds no registration; `TopKPerKeyStrategy`, which
  * plans only its own node). The `graft.functions` handles build
  * their expressions directly and need no registration, so no gate or
  * Column handle changes the session it runs on. A gate that needs
  * other confs declares them (`QueryDef.confs`) and runs in a clone
  * of the caller's session that carries them (`QueryDef.session`);
  * the clone keeps these confs and extensions.
  */
object SessionDefaults {

  /** The baseline SQL confs, applicable to any builder. */
  val sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Apply [[sqlConfs]] and the engine extensions to a builder the
    * caller already shaped (master, app name, extra confs).
    */
  def apply(builder: SparkSession.Builder): SparkSession.Builder =
    sqlConfs.foldLeft(builder.withExtensions(new GraftExtensions())) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The standard local entry-point builder: `local[cpus]` with the
    * shuffle fan-out sized to the core count (the driver's
    * SPARK_GRAFT_CPUS contract) and the baseline confs applied.
    */
  def builder(cpus: String): SparkSession.Builder =
    apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
}
