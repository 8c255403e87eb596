package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.store.TableStore

/** Streaming operators over the `events` shape: watermarked windowed
  * aggregation and custom-state sessionization — the two Structured
  * Streaming patterns a disruption feed would need beyond the file
  * ingest (SURVEY §2.10 notes the reference has none; these are the
  * scale-path extensions).
  */
object EventStreams {

  case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  case class SessionState(
      startMs: Long, lastMs: Long, nEvents: Int, totalValue: Double)

  case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Int,
      total_value: Double)

  /** Tumbling-window counts per event type with a watermark: late rows
    * beyond `lateness` are dropped, and closed windows emit exactly
    * once in Append mode.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "10 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming dedup with BOUNDED state: duplicate (user_id, ts)
    * resends inside the watermark horizon collapse to one row, and —
    * unlike plain `dropDuplicates`, whose key state grows forever —
    * each key's state is dropped once the watermark passes it. The
    * only dedup shape that survives an unbounded stream.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("user_id", "ts")

  /** Stream-stream inner interval join: each click joins the same
    * user's purchases that happen within `withinMinutes` AFTER it.
    * Both sides carry watermarks and the time-bound condition is
    * two-sided, so Spark can bound the join state and evict rows as
    * the watermark passes — the only stream-stream join shape that
    * doesn't grow state forever.
    */
  def clickToPurchase(
      clicks: DataFrame,
      purchases: DataFrame,
      withinMinutes: Int,
      lateness: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val p = purchases.select(col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", lateness)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(col("user_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-stream LEFT OUTER interval join: like [[clickToPurchase]],
    * but a click with NO purchase inside its window still emits (with
    * null purchase columns) once the watermark proves no match can
    * arrive — the abandoned-click feed. Same bounded state as the
    * inner form; the two-sided event-time bound is what lets the
    * engine decide "no match will ever come" and emit the null row at
    * eviction instead of holding the click forever.
    */
  def clickToPurchaseOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      withinMinutes: Int,
      lateness: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val p = purchases.select(col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", lateness)
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $withinMinutes MINUTES"),
        "leftOuter")
      .select(col("user_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))
  }

  /** Continuously maintain a queryable per-(window, event_type) counts
    * table from a stream: Update-mode windowed aggregation delivered
    * through `foreachBatch` into a [[TableStore]] latest-wins upsert.
    *
    * End-to-end exactly-once without a transactional sink: the
    * checkpoint makes batch ids stable across restarts, and the upsert
    * keyed on (window_start, event_type) with the batch id as the
    * version is idempotent — replaying a batch after a crash rewrites
    * the same keys with the same values, and a newer batch's refined
    * aggregate for a still-open window supersedes the older row. This
    * is the pattern for landing streaming results anywhere only
    * idempotent writes exist (JDBC, object stores, search indexes).
    */
  def countsToStore(
      events: DataFrame,
      store: TableStore,
      table: String,
      checkpointDir: String,
      windowLength: String = "10 minutes",
      lateness: String = "30 minutes"): StreamingQuery =
    windowedCounts(events, windowLength, lateness)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertCountsBatch(store, table, batch, batchId)
      }
      .start()

  /** The foreachBatch body of [[countsToStore]], callable directly so
    * replay idempotency is testable without forcing a crash.
    */
  def upsertCountsBatch(
      store: TableStore, table: String, batch: DataFrame, batchId: Long): Unit =
    store.upsert(table,
      batch.withColumn("__batch_id", lit(batchId)),
      keys = Seq("window_start", "event_type"),
      versionCol = "__batch_id")

  /** Stream-static dimension enrichment: every micro-batch hash-joins
    * the small static dimension, broadcast so the stream side never
    * shuffles and no streaming state exists at all (unmatched rows
    * keep NULL dimension columns — enrichment must not drop events).
    * The static side is re-resolvable per batch, so a dimension
    * backed by a mutable store reflects updates without restarting
    * the query — the streaming twin of the batch fact×dim broadcast
    * join (q11).
    */
  def enrich(events: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes when `gapMinutes` pass without an event for that user
    * (tracked with event-time timeouts against the watermark).
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int,
      lateness: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def update(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, new Timestamp(s.startMs),
          new Timestamp(s.lastMs), s.nEvents, s.totalValue))
      } else {
        var closed = List.empty[Session]
        var cur = state.getOption
        rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.lastMs <= gapMs =>
              cur = Some(s.copy(lastMs = math.max(s.lastMs, t),
                nEvents = s.nEvents + 1, totalValue = s.totalValue + e.value))
            case Some(s) =>
              closed ::= Session(userId, new Timestamp(s.startMs),
                new Timestamp(s.lastMs), s.nEvents, s.totalValue)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          // A timeout at or before the current watermark throws
          // (late rows reach this function when gapMinutes < the
          // allowed lateness) — clamp to watermark + 1 so the session
          // closes on the next watermark advance instead of killing
          // the query.
          val wm = state.getCurrentWatermarkMs()
          state.update(s)
          state.setTimeoutTimestamp(math.max(wm + 1, s.lastMs + gapMs))
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** An admitted event plus its position in the key's quota. */
  case class Admitted(user_id: Long, ts: Timestamp, event_type: String,
      value: Double, n_admitted: Long)

  /** Per-key quota admission on the Spark 4 `transformWithState`
    * arbitrary-state API (the successor of flatMapGroupsWithState:
    * typed composite state, TTL, timers — and REQUIRES the RocksDB
    * state store backend): each user admits at most `limit` events
    * over the stream's lifetime; the rest drop. State per key is one
    * counter — O(keys), never O(events) — which is what keeps a
    * 100 TB firehose's admission state in check; the same shape with
    * a TTLConfig turns lifetime quotas into rolling ones without
    * touching the processor logic.
    */
  private final class QuotaProcessor(limit: Long)
      extends StatefulProcessor[Long, Event, Admitted] {
    @transient private var admitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long]("admitted",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timers: TimerValues): Iterator[Admitted] = {
      var n = if (admitted.exists()) admitted.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
        .iterator.takeWhile(_ => n < limit)
        .map { e => n += 1; Admitted(e.user_id, e.ts, e.event_type, e.value, n) }
        .toVector
      admitted.update(n)
      out.iterator
    }
  }

  /** First-`limit`-per-user admission over a stream (Append mode). */
  def admitQuota(events: Dataset[Event], limit: Long): Dataset[Admitted] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new QuotaProcessor(limit),
        TimeMode.None(), OutputMode.Append())
  }

  /** State rows per store instance per micro-batch at which one
    * instance's single-threaded state work starts to dominate its
    * fixed commit/maintenance cost — PROVENANCE: the dev/StreamScale
    * keys-decade rung on this box (32-core/128 GiB, RocksDB provider;
    * SCALING.md round 11). Measured healthy at ~3.1·10⁴
    * rows/instance/batch (10⁶ keys on 32 instances: every stateful
    * shape sublinear per decade, tskew ≤ 1.9) and degrading ×2.0–3.1
    * at ~2.5·10⁵ rows/instance/batch (the same rung on 4 instances) —
    * so the constant sits at the measured-healthy point, a decade
    * below the measured-degrading point. A cluster with different
    * per-task state throughput should re-run dev/StreamScale with
    * `STREAM_SCALE_PARTITIONS` rather than inherit this blindly.
    */
  val MeasuredHealthyStateRowsPerInstance: Long = 30000L

  /** Recommended `spark.sql.shuffle.partitions` (= state-store
    * INSTANCE count) for a stateful streaming deployment expected to
    * hold `peakStateRows` at its largest micro-batch.
    *
    * Streaming is the one family where the engine's Auto doctrine
    * (probe the input, pick the regime at run time) CANNOT apply: the
    * partition count is pinned into the checkpoint at first start and
    * changing it means a state rebuild. This function is the
    * deployer-facing equivalent — the measured sizing rule applied
    * BEFORE the first checkpoint, to the PEAK (not initial) expected
    * state, because under-sizing cannot be corrected in place.
    *
    * The measured rule (SCALING.md round 11, dev/StreamScale): wall
    * cost is per-batch-per-instance fixed bookkeeping until an
    * instance's state share reaches ~[[MeasuredHealthyStateRowsPerInstance]]
    * rows, after which fewer instances lose ×2.0–3.1; constant-state
    * shapes (e.g. a windowed agg whose state is windows × types) never
    * reach it and always prefer few instances. Hence: instances =
    * ceil(peakStateRows / healthy-rows-per-instance), floored at
    * `minInstances` (default 1 — callers with parallel-recovery or
    * multi-executor layout constraints pass their own floor).
    */
  def recommendedStatePartitions(
      peakStateRows: Long,
      minInstances: Int = 1,
      rowsPerInstance: Long = MeasuredHealthyStateRowsPerInstance): Int = {
    require(peakStateRows >= 0L, "peakStateRows must be non-negative")
    require(minInstances >= 1, "minInstances must be positive")
    require(rowsPerInstance >= 1L, "rowsPerInstance must be positive")
    val byState = (peakStateRows + rowsPerInstance - 1L) / rowsPerInstance
    math.max(minInstances.toLong, byState).min(Int.MaxValue.toLong).toInt
  }
}
