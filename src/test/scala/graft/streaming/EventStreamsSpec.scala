package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.streaming.EventStreams.{Event, Session}

class EventStreamsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("sessionize closes a session after the gap and aggregates within it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.sessionize(input.toDS(), gapMinutes = 10,
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()

    // user 1: events at 10:00, 10:05 (one session), then 10:30 (new one).
    input.addData(
      Event(1L, ts(0), "click", 1.0),
      Event(1L, ts(5), "view", 2.0))
    query.processAllAvailable()
    input.addData(Event(1L, ts(30), "click", 5.0))
    query.processAllAvailable()
    // advance watermark far enough to time the second session out
    input.addData(Event(2L, Timestamp.valueOf("2026-01-01 12:00:00"), "view", 0.0))
    query.processAllAvailable()
    query.stop()

    val sessions = spark.table("sessions").as[Session].collect()
      .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
    assert(sessions.length == 2)
    assert(sessions(0).n_events == 2 && sessions(0).total_value == 3.0)
    assert(sessions(0).session_start == ts(0) && sessions(0).session_end == ts(5))
    assert(sessions(1).n_events == 1 && sessions(1).total_value == 5.0)
  }

  test("late event with gap smaller than lateness does not kill the query") {
    // gap 5 min < lateness 30 min: if a late row reached the update
    // function its lastMs+gap could land at or before the watermark
    // and an unclamped setTimeoutTimestamp would throw, failing the
    // whole stream. Two layers prevent that: Spark 4.x drops
    // watermark-late rows before flatMapGroupsWithState, and
    // sessionize clamps the timeout to watermark+1 regardless.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.sessionize(input.toDS(), gapMinutes = 5,
        lateness = "30 minutes")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append()).start()

    input.addData(Event(1L, ts(0), "click", 1.0))
    query.processAllAvailable()
    // push the watermark to 10:30
    input.addData(Event(2L, Timestamp.valueOf("2026-01-01 11:00:00"), "view", 0.0))
    query.processAllAvailable()
    // late user-1 row at 10:20: 10:20 + 5 min = 10:25 <= watermark 10:30
    input.addData(Event(1L, ts(20), "click", 2.0))
    query.processAllAvailable()
    // advance far enough to flush everything
    input.addData(Event(3L, Timestamp.valueOf("2026-01-01 13:00:00"), "view", 0.0))
    query.processAllAvailable()
    query.stop()

    // the query survived; the late row itself was dropped by the
    // watermark filter, so user 1 keeps exactly the 10:00 session
    val sessions = spark.table("late_sessions").as[Session].collect()
      .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
    assert(sessions.length == 1)
    assert(sessions(0).session_start == ts(0) && sessions(0).total_value == 1.0)
  }

  test("dedupWithinWatermark collapses resends and bounds state by the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.dedupWithinWatermark(input.toDF(), lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode(OutputMode.Append()).start()

    // same (user_id, ts) resent three times in-horizon → one row
    input.addData(
      Event(1L, ts(0), "click", 1.0),
      Event(1L, ts(0), "click", 1.0),
      Event(2L, ts(1), "view", 2.0))
    query.processAllAvailable()
    input.addData(Event(1L, ts(0), "click", 1.0))
    query.processAllAvailable()
    // push the watermark far past ts(0) so its key state expires...
    input.addData(Event(3L, Timestamp.valueOf("2026-01-01 11:00:00"), "view", 0.0))
    query.processAllAvailable()
    // ...then a late replay of the same key arrives after expiry: it
    // is watermark-late and dropped by the operator's late-row filter
    input.addData(Event(1L, ts(0), "click", 1.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("dedup_wm").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts")))
    assert(rows.count(_ == (1L, ts(0))) == 1)
    assert(rows.count(_._1 == 2L) == 1)
  }

  test("stream-stream interval join matches clicks to in-window purchases") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = EventStreams.clickToPurchase(
        clicks.toDF(), purchases.toDF(), withinMinutes = 10,
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("cp_join")
      .outputMode(OutputMode.Append()).start()

    clicks.addData(Event(1L, ts(0), "click", 0.0), Event(2L, ts(0), "click", 0.0))
    purchases.addData(
      Event(1L, ts(5), "purchase", 42.0),   // within 10 min of user 1's click
      Event(1L, ts(25), "purchase", 7.0),   // outside the window
      Event(3L, ts(5), "purchase", 9.0))    // no matching click
    query.processAllAvailable()
    // advance both watermarks so joined rows flush in Append mode
    clicks.addData(Event(9L, Timestamp.valueOf("2026-01-01 12:00:00"), "click", 0.0))
    purchases.addData(Event(9L, Timestamp.valueOf("2026-01-01 12:00:00"), "purchase", 0.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("cp_join").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("purchase_value")))
    assert(rows.count(_ == (1L, 42.0)) == 1)
    assert(!rows.exists(_._2 == 7.0))   // outside interval
    assert(!rows.exists(_._1 == 3L))    // unmatched user
  }

  test("left-outer interval join emits unmatched clicks with nulls after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = EventStreams.clickToPurchaseOuter(
        clicks.toDF(), purchases.toDF(), withinMinutes = 10,
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("cp_outer")
      .outputMode(OutputMode.Append()).start()

    clicks.addData(
      Event(1L, ts(0), "click", 0.0),   // will match
      Event(2L, ts(0), "click", 0.0))   // will NOT match
    purchases.addData(Event(1L, ts(5), "purchase", 42.0))
    query.processAllAvailable()
    // advance both watermarks far past the join window so the engine
    // can prove user 2's click is unmatched and emit its null row
    clicks.addData(Event(9L, Timestamp.valueOf("2026-01-01 12:00:00"), "click", 0.0))
    purchases.addData(Event(9L, Timestamp.valueOf("2026-01-01 12:00:00"), "purchase", 0.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("cp_outer").collect()
      .map(r => (r.getAs[Long]("user_id"), Option(r.get(3))))
    assert(rows.count(_ == (1L, Some(42.0))) == 1, "matched click missing")
    assert(rows.count(_ == (2L, None)) == 1, "unmatched click did not emit null row")
  }

  test("transformWithState quota admits the first N per user across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store backend
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val query = EventStreams.admitQuota(input.toDS(), limit = 3L)
        .writeStream.format("memory").queryName("quota")
        .outputMode(OutputMode.Append()).start()

      input.addData(
        Event(1L, ts(0), "a", 1.0), Event(1L, ts(1), "b", 1.0),
        Event(2L, ts(0), "a", 1.0))
      query.processAllAvailable()
      // second batch: user 1 exceeds the quota, user 2 stays under
      input.addData(
        Event(1L, ts(2), "c", 1.0), Event(1L, ts(3), "d", 1.0),
        Event(2L, ts(5), "b", 1.0))
      query.processAllAvailable()
      query.stop()

      val rows = spark.table("quota").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_admitted")))
      assert(rows.count(_._1 == 1L) == 3, s"user 1 quota violated: ${rows.toSeq}")
      assert(!rows.exists(r => r._1 == 1L && r._2 == "d"), "4th event admitted")
      assert(rows.count(_._1 == 2L) == 2)
      // n_admitted is the running per-key position, continuous across batches
      assert(rows.filter(_._1 == 1L).map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("countsToStore lands windowed counts in the store; batch replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("fb_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fb_ckpt").toString
    val store = new graft.store.TableStore(spark, root)
    val input = MemoryStream[Event]
    val query = EventStreams.countsToStore(input.toDF(), store, "wc_live",
      ckpt, windowLength = "10 minutes", lateness = "0 seconds")

    input.addData(Event(1L, ts(1), "click", 1.0), Event(2L, ts(3), "click", 2.0))
    query.processAllAvailable()
    // same still-open window refined by a later batch → row superseded
    input.addData(Event(3L, ts(7), "click", 4.0))
    query.processAllAvailable()
    query.stop()

    def counts() = store.read("wc_live").get.collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
    val before = counts()
    assert(before((ts(0), "click")) == (3L, 7.0)) // refined, not duplicated

    // crash-replay: re-applying the last batch id with the same rows
    // must leave the table unchanged (upsert keyed on window+type).
    val replay = Seq((ts(0), ts(10), "click", 3L, 7.0))
      .toDF("window_start", "window_end", "event_type", "n_events", "total_value")
    EventStreams.upsertCountsBatch(store, "wc_live", replay, batchId = 1L)
    assert(counts() == before)
  }

  test("countsToStore restarts from the checkpoint without duplication") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("rs_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rs_ckpt").toString
    val store = new graft.store.TableStore(spark, root)

    val in1 = MemoryStream[Event]
    val q1 = EventStreams.countsToStore(in1.toDF(), store, "wc_rs",
      ckpt, windowLength = "10 minutes", lateness = "0 seconds")
    in1.addData(Event(1L, ts(1), "click", 1.0), Event(2L, ts(2), "view", 2.0))
    q1.processAllAvailable()
    q1.stop() // "crash"

    // a NEW query over the SAME checkpoint resumes batch numbering —
    // a fresh source continues the stream, nothing lands twice
    val in2 = MemoryStream[Event]
    val q2 = EventStreams.countsToStore(in2.toDF(), store, "wc_rs",
      ckpt, windowLength = "10 minutes", lateness = "0 seconds")
    in2.addData(Event(3L, ts(5), "click", 4.0))
    q2.processAllAvailable()
    q2.stop()

    val rows = store.read("wc_rs").get.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[String]("event_type")) -> r.getAs[Long]("n_events")).toMap
    // restart produced a refined single row per (window, type), no dups
    assert(rows.size == 2)
    assert(rows((ts(0), "view")) == 1L)
    assert(rows((ts(0), "click")) >= 1L)
  }

  test("enrich joins each micro-batch to the broadcast static dim; misses keep NULLs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", "engagement"), ("view", "passive"))
      .toDF("event_type", "category")
    val input = MemoryStream[Event]
    val query = EventStreams.enrich(input.toDF(), dim, Seq("event_type"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Event(1L, ts(1), "click", 1.0),
      Event(2L, ts(2), "purchase", 9.0)) // no dim row
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("enriched").collect()
      .map(r => r.getAs[String]("event_type") -> Option(r.getAs[String]("category"))).toMap
    assert(rows == Map("click" -> Some("engagement"), "purchase" -> None))
  }

  /** A stream that folds each micro-batch into `agg` under the
    * engine's replay-stable batch id, so the AggTable ledger makes the
    * fold exactly-once across restarts.
    */
  private def foldInto(agg: graft.store.AggTable, events: DataFrame, ckpt: String): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        agg.accumulate(s"stream_$batchId", batch)
        ()
      }
      .start()

  test("a stream folds its micro-batches into an AggTable exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("agg_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("agg_ckpt").toString
    val store = new graft.store.TableStore(spark, root)
    val spec = graft.store.AggSpec(Seq("event_type"), Seq("value"))
    val input = MemoryStream[Event]
    val query = foldInto(new graft.store.AggTable(store, "ev_stats", spec), input.toDF(), ckpt)

    input.addData(Event(1L, ts(1), "click", 1.50), Event(2L, ts(2), "view", 4.00))
    query.processAllAvailable()
    input.addData(Event(3L, ts(3), "click", 2.50))
    query.processAllAvailable()
    query.stop()

    def result() = new graft.store.AggTable(store, "ev_stats", spec).result.get
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val before = result()
    // two batches folded: click = both rows, view = one
    assert(before("click") == (2L, 4.00) && before("view") == (1L, 4.00))

    // crash-replay: the engine re-runs a batch id it already committed;
    // the ledger recognizes it and the view is unchanged
    new graft.store.AggTable(store, "ev_stats", spec)
      .accumulate("stream_1", Seq(("click", 2.50)).toDF("event_type", "value"))
    assert(result() == before)
  }

  test("one AggTable folding a stream reads its ledger once, not once per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("agg_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("agg_ckpt").toString
    val store = new graft.store.TableStore(spark, root)
    val spec = graft.store.AggSpec(Seq("event_type"), Seq("value"))
    val input = MemoryStream[Event]
    val query = foldInto(new graft.store.AggTable(store, "ev_stats", spec), input.toDF(), ckpt)
    try {
      input.addData(Event(1L, ts(1), "click", 1.50))
      query.processAllAvailable()
      // the table and its ledger exist now: a fresh AggTable per batch
      // would collect the ledger again before folding the second batch
      val actions = actionsDuring {
        input.addData(Event(2L, ts(2), "view", 4.00))
        query.processAllAvailable()
      }
      assert(actions.nonEmpty, "the second batch ran no action")
      val ledgerReads = actions.filter(_ == ("collect" -> Seq("batch_id")))
      assert(ledgerReads.isEmpty, s"the second batch re-read the ledger: $actions")
    } finally query.stop()
    val res = new graft.store.AggTable(store, "ev_stats", spec).result.get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == Map("click" -> 1L, "view" -> 1L))
  }

  /** (action, output columns) of every Dataset action run on `spark`
    * while `f` runs, on any thread. Events reach a listener in the
    * order they were posted, so once a sentinel action run after `f`
    * has been seen, every action `f` ran has been seen too.
    */
  private def actionsDuring(f: => Unit): Seq[(String, Seq[String])] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(action -> qe.analyzed.output.map(_.name))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).toDF("sentinel").collect()
      val sentinel = "collect" -> Seq("sentinel")
      val deadline = System.currentTimeMillis() + 20000
      while (!seen.contains(sentinel) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains(sentinel), "sentinel action never seen")
      seen.asScala.toSeq.filterNot(_ == sentinel)
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming state runs on the RocksDB state store backend") {
    // The default in-memory (HDFS-backed) state store caps state at
    // executor heap; RocksDB spills to local disk, the backend for
    // unbounded-key workloads (sessionization over millions of users).
    // Same query, same results — state backend is a config, not code.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val input = MemoryStream[Event]
      val query = EventStreams.windowedCounts(input.toDF(),
          windowLength = "10 minutes", lateness = "0 seconds")
        .writeStream.format("memory").queryName("wc_rocks")
        .outputMode(OutputMode.Append()).start()
      input.addData(Event(1L, ts(1), "click", 1.0), Event(2L, ts(3), "click", 2.0))
      query.processAllAvailable()
      input.addData(Event(4L, ts(25), "view", 1.0))
      query.processAllAvailable()
      query.stop()
      val rows = spark.table("wc_rocks").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events")))
      assert(rows.contains(("click", 2L)))
    } finally spark.conf.set(key, old)
  }

  test("windowedCounts emits closed tumbling windows once (append + watermark)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.windowedCounts(input.toDF(),
        windowLength = "10 minutes", lateness = "0 seconds")
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      Event(1L, ts(1), "click", 1.0),
      Event(2L, ts(3), "click", 2.0),
      Event(3L, ts(4), "view", 4.0))
    query.processAllAvailable()
    // watermark passes 10:10 → first window closes
    input.addData(Event(4L, ts(25), "view", 1.0))
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("wc").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))).toSet
    assert(rows.contains(("click", 2L, 3.0)))
    assert(rows.contains(("view", 1L, 4.0)))
  }
}
