package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

import graft.Tables.{load => t}
import graft.store.TableStore
import graft.streaming.EventStreams

import QueryDef.dec

/** Streaming gates: the Structured Streaming execution path folded into
  * the batch oracle gate, and event-time analyses of the stream's
  * inputs (lateness, gaps, state sizing). q520–q528 run REAL streaming
  * queries — file source, micro-batches, stateful operators,
  * foreachBatch upsert sinks — and hash-compare the final landed table
  * against DuckDB's one-shot aggregate of the same events.
  */
object StreamGates {

  // ------------------------------------------------- DAU/MAU
  // Product-analytics stickiness: per day, distinct active users
  // (DAU) over distinct users active in the trailing 28 days (MAU),
  // one exact division. The MAU window is materialized by fanning
  // each user-day out to the 28 days it keeps the user "monthly
  // active" — exact at gate scale; the sketch path at 100 TB is the
  // same query with the KMV aggregate replacing count_distinct.
  private val q441 = QueryDef(
    "q441_dau_mau_stickiness",
    (s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val mau = ud
        .select(col("user_id"),
          explode(sequence(col("day"),
            date_add(col("day"), 27))).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("mau"))
      dau.join(mau, Seq("day"))
        .select(col("day"), col("dau"), col("mau"),
          (col("dau").cast("double") / col("mau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
          CAST(ts AS DATE) AS day FROM events),
      dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ud GROUP BY day),
      fan AS (SELECT DISTINCT user_id, day + CAST(off AS INTEGER) AS day
        FROM ud, (SELECT unnest(range(0, 28)) AS off)),
      mau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS mau
        FROM fan GROUP BY day)
      SELECT d.day, d.dau, m.mau,
        CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
      FROM dau d JOIN mau m ON m.day = d.day
      ORDER BY d.day"""),
    covers = Seq("STREAM-dau-mau"))

  // ------------------------------------------------- growth accounting
  // Weekly active-user growth accounting: every week's actives split
  // into new (first week ever), retained (also active last week),
  // and resurrected (returning after a gap); churned counts last
  // week's actives who went silent. The quick ratio
  // (new+resurrected)/churned is the one division. All sets are
  // exact distinct (user, week) memberships — two self-joins at
  // user-week grain.
  private val q451 = QueryDef(
    "q451_growth_accounting",
    (s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")),
            lit("2024-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"))
        .distinct()
      val first = uw.groupBy("user_id").agg(min("wk").as("first_wk"))
      val prev = uw.select(col("user_id"), (col("wk") + 1L).as("wk"),
        lit(true).as("was_active"))
      val cur = uw.join(broadcast(first), Seq("user_id"))
        .join(prev, Seq("user_id", "wk"), "left")
        .withColumn("was_active", coalesce(col("was_active"), lit(false)))
      val flows = cur.groupBy("wk")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("wk") > col("first_wk") && col("was_active"), 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when(col("wk") > col("first_wk") && !col("was_active"), 1L)
            .otherwise(0L)).as("n_resurrected"))
      val churn = uw.select(col("user_id"), (col("wk") + 1L).as("wk"))
        .join(uw, Seq("user_id", "wk"), "left_anti")
        .groupBy("wk").agg(count(lit(1)).as("n_churned"))
      flows.join(churn, Seq("wk"), "left")
        .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
        .withColumn("quick_ratio",
          (col("n_new") + col("n_resurrected")).cast("double") /
            when(col("n_churned") === 0L, lit(null))
              .otherwise(col("n_churned")).cast("double"))
        .select(col("wk"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"), col("n_churned"),
          col("quick_ratio"))
        .orderBy("wk")
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id,
          CAST(floor(date_diff('day', DATE '2024-01-01',
            CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk
        FROM events),
      fw AS (SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY 1),
      cur AS (SELECT u.user_id, u.wk, f.first_wk,
          (p.user_id IS NOT NULL) AS was_active
        FROM uw u JOIN fw f ON f.user_id = u.user_id
        LEFT JOIN uw p ON p.user_id = u.user_id AND p.wk = u.wk - 1),
      flows AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_active,
          CAST(COUNT(*) FILTER (WHERE wk = first_wk) AS BIGINT) AS n_new,
          CAST(COUNT(*) FILTER (WHERE wk > first_wk AND was_active)
            AS BIGINT) AS n_retained,
          CAST(COUNT(*) FILTER (WHERE wk > first_wk AND NOT was_active)
            AS BIGINT) AS n_resurrected
        FROM cur GROUP BY wk),
      churn AS (SELECT u.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT)
            AS n_churned
        FROM uw u LEFT JOIN uw nxt
          ON nxt.user_id = u.user_id AND nxt.wk = u.wk + 1
        WHERE nxt.user_id IS NULL
        GROUP BY u.wk + 1)
      SELECT f.wk, f.n_active, f.n_new, f.n_retained, f.n_resurrected,
        COALESCE(c.n_churned, 0) AS n_churned,
        CAST(f.n_new + f.n_resurrected AS DOUBLE) /
          CAST(NULLIF(COALESCE(c.n_churned, 0), 0) AS DOUBLE)
          AS quick_ratio
      FROM flows f LEFT JOIN churn c ON c.wk = f.wk
      ORDER BY f.wk"""),
    covers = Seq("STREAM-growth-accounting"))

  // ------------------------------------------------- lateness audit
  // Watermark-delay evidence: treating event_id as arrival order,
  // how far behind the running event-time high-water mark do events
  // arrive? Share late plus P50/P99/max lateness (exact microsecond
  // picks) — the table that justifies a withWatermark("X minutes")
  // choice instead of folklore. Global arrival order ⇒ one ordered
  // window at gate scale; at 100 TB the same audit runs per ingest
  // shard and takes the max.
  private val q498 = QueryDef(
    "q498_watermark_lateness",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), expr("unix_micros(ts)").as("us"))
      // running high-watermark over ALL EVENTS — row-scale on the
      // fact feed, converted from the single-partition window to the
      // two-phase value-bucketed form (round-12 window audit;
      // bit-identical by GlobalOrderSpec)
      val late = graft.operators.GlobalOrder.prefixMax(
          ev, col("event_id"), leadDesc = false,
          Seq(col("event_id")), col("us"), "hwm")
        .withColumn("late_us",
          greatest(lit(0L), col("hwm") - col("us")))
        .filter(col("hwm").isNotNull)
      late.agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY late_us)")
            .cast(LongType).as("p50_us"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY late_us)")
            .cast(LongType).as("p99_us"),
          max("late_us").as("max_us"))
        .select(col("n_events"), col("n_late"),
          (col("n_late").cast("double") / col("n_events").cast("double"))
            .as("late_share"),
          (col("p50_us").cast("double") / lit(1000000.0)).as("p50_sec"),
          (col("p99_us").cast("double") / lit(1000000.0)).as("p99_sec"),
          (col("max_us").cast("double") / lit(1000000.0)).as("max_sec"))
    },
    Some("""WITH ev AS (SELECT event_id,
          CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
      late AS (SELECT event_id, us,
          GREATEST(0, MAX(us) OVER (ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us)
            AS late_us,
          MAX(us) OVER (ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        FROM ev)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(*) FILTER (WHERE late_us > 0) AS BIGINT) AS n_late,
        CAST(COUNT(*) FILTER (WHERE late_us > 0) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS late_share,
        CAST(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY late_us)
          AS BIGINT) AS DOUBLE) / 1000000.0 AS p50_sec,
        CAST(CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_us)
          AS BIGINT) AS DOUBLE) / 1000000.0 AS p99_sec,
        CAST(MAX(late_us) AS DOUBLE) / 1000000.0 AS max_sec
      FROM late WHERE hwm IS NOT NULL"""),
    covers = Seq("STREAM-lateness-audit"))

  // ------------------------------------------------- gap sensitivity
  // How much does the session count depend on the inactivity
  // threshold? Sessions at 10/30/60-minute gaps from ONE lag pass:
  // a session starts where the user's gap exceeds the threshold —
  // exact integer micros compares, one division for events/session.
  private val q499 = QueryDef(
    "q499_session_gap_sensitivity",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("gap_us", col("us") - col("prev_us"))
      // all three thresholds fold into ONE conditional aggregation
      // over one pass of the gap stream (was: a checkpoint plus a
      // separate count job per threshold), then unpivot via stack —
      // no driver action in the gate at all
      def starts(g: Long): Column =
        sum(when(col("prev_us").isNull ||
          col("gap_us") > g * 1000000L, 1L).otherwise(0L))
      gaps.agg(count(lit(1)).as("n"), starts(600L).as("s600"),
          starts(1800L).as("s1800"), starts(3600L).as("s3600"))
        .select(expr("stack(3, CAST(600 AS BIGINT), s600, " +
          "CAST(1800 AS BIGINT), s1800, CAST(3600 AS BIGINT), s3600)")
          .as(Seq("gap_seconds", "n_sessions")), col("n").as("n_events"))
        .withColumn("events_per_session",
          col("n_events").cast("double") / col("n_sessions").cast("double"))
        .orderBy("gap_seconds")
    },
    Some("""WITH gaps AS (SELECT user_id,
          CAST(epoch_us(ts) AS BIGINT) AS us,
          lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events),
      gs AS (SELECT CAST(unnest([600, 1800, 3600]) AS BIGINT)
          AS gap_seconds),
      stats AS (SELECT g.gap_seconds,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM gaps
            WHERE prev_us IS NULL
              OR us - prev_us > g.gap_seconds * 1000000) AS n_sessions,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM gaps) AS n_events
        FROM gs g)
      SELECT gap_seconds, n_sessions, n_events,
        CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE)
          AS events_per_session
      FROM stats ORDER BY gap_seconds"""),
    covers = Seq("STREAM-gap-sensitivity"))

  private def rmTree(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
  }

  /** The confs every `withGateDir` gate declares: its micro-batches'
    * shuffle-partition count. For stateful streaming,
    * `spark.sql.shuffle.partitions` (pinned into the checkpoint at
    * first start) fixes the number of STATE STORE instances per
    * stateful operator — and every micro-batch pays per-instance
    * commit/maintenance cost whether or not a partition holds data. At
    * gate scale (tens of rows per partition, 4–8 micro-batches, each
    * gate run 3× per bench) the session's 32 instances are pure fixed
    * overhead; the landed result is partition-count invariant, so the
    * same hashes pass at any value. Production keeps the session
    * default — this is the gate-harness twin of sizing shuffle
    * partitions to the data, the exact tuning a real deployment
    * applies per stream. Declared, so the gate runs in its own
    * session (`SparkEntry.queries`) and the caller's keeps its count.
    */
  private val StreamGateConfs = Seq("spark.sql.shuffle.partitions" -> "4")

  /** Run a streaming gate body in its own temp dir and delete the dir
    * EAGERLY once the result is materialized: the returned frame reads
    * lazily from parquet inside the dir, so the body's result is
    * pinned off-disk with an eager localCheckpoint (gate outputs are
    * aggregate/result-sized, O(windows) or O(matches), never the raw
    * corpus copy) before the finally removes the files. The shutdown
    * hook is a backstop for abnormal exits (a killed run mid-gate)
    * and is deregistered on the normal path so hooks don't
    * accumulate across the bench's ~27 gate executions. Its gates
    * declare [[StreamGateConfs]].
    */
  private def withGateDir(prefix: String)(
      body: java.nio.file.Path => DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory(prefix)
    val hook = new Thread(() => rmTree(tmp))
    Runtime.getRuntime.addShutdownHook(hook)
    try body(tmp).localCheckpoint()
    finally {
      rmTree(tmp)
      // throws IllegalStateException if shutdown already started —
      // in which case the hook itself is doing the cleanup
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () }
    }
  }

  /** Session-lifetime cache of the streaming gates' SOURCE slice
    * dirs, keyed by (gate, sf-dir): the bench executes every gate
    * three times (untimed warm pass + two timed passes), and the
    * source slices are a pure function of the input tables — so
    * re-writing them per execution paid ~27 redundant write jobs per
    * bench run for byte-identical files. First execution writes into
    * a fresh temp dir; later executions re-read it. Checkpoint /
    * store / output dirs stay per-execution inside `withGateDir`
    * (streaming exactly-once state must never be reused across
    * runs). A single shutdown hook per cached dir removes it at JVM
    * exit; high-water disk is O(#gates) gate-sized slice sets, not
    * O(#executions).
    */
  private val srcCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.nio.file.Path]

  private def cachedSrc(gate: String, dir: String)(
      write: java.nio.file.Path => Unit): java.nio.file.Path =
    srcCache.computeIfAbsent((gate, dir), { _ =>
      val root = Files.createTempDirectory(s"graft-src-$gate")
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root)))
      val data = root.resolve("data")
      write(data)
      data
    })

  /** Write `ev` as up to `n` chronological slice files — equal-width
    * EVENT-TIME intervals between the global min and max of `timeCol`
    * — with deterministic, strictly-increasing mtimes (a fixed base,
    * 1 s apart; the file stream source orders new files by
    * modification time, so the stamps make micro-batch delivery order
    * reproducible). Value-based cuts have three properties the
    * earlier global-`ntile` slicer lacked: the boundaries depend only
    * on the DATA (min/max), not on partitioning or parallelism, so
    * batch contents reproduce across environments; rows sharing a
    * millisecond never straddle a slice, so cross-batch arrival stays
    * chronological and the processors' in-batch sorts yield the
    * oracle's total order; and the slice id is a narrow per-row
    * expression — no single-partition window sort of the whole table
    * per gate (the one non-scalable shape left in the scaffolding).
    *
    * All `n` slice files land in ONE write job (`partitionBy` over the
    * slice id on a coalesced frame — gate inputs are small by
    * construction), not `n` filtered jobs that each re-scan the
    * source; the stage's `slice=i` part files are then renamed into
    * the flat mtime-stamped layout. A slice with no rows writes no
    * file — batch boundaries shift by one, which the gates are
    * insensitive to by design (batching-invariance is the property
    * under test).
    */
  private def writeChronoSlices(
      ev: DataFrame,
      src: java.nio.file.Path,
      timeCol: org.apache.spark.sql.Column,
      n: Int): Unit = {
    val ms = unix_millis(timeCol)
    // bounded-collect: O(1) — the global (min, max) pair for the cuts
    val bounds = ev.agg(min(ms), max(ms)).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max((mx - mn) / n + 1, 1L)
    val sliced = ev.withColumn("slice",
      least(lit(n), (floor((ms - lit(mn)) / lit(width)) + 1).cast("int")))
    val stage = Files.createTempDirectory("graft-slices")
    sliced.coalesce(1).write.partitionBy("slice")
      .mode("overwrite").parquet(stage.toString)
    Files.createDirectories(src)
    val baseMs = 1700000000000L // fixed stamp: only the ORDER matters
    (1 to n).foreach { i =>
      val sliceDir = stage.resolve(s"slice=$i")
      if (Files.isDirectory(sliceDir)) {
        val part = sliceDir.toFile.listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file in $sliceDir"))
        val dest = src.resolve(f"slice-$i%02d.parquet")
        Files.move(part.toPath, dest)
        dest.toFile.setLastModified(baseMs + i * 1000L)
      }
    }
    rmTree(stage)
  }

  /** Write each frame as one parquet file under `src`, stamped with
    * deterministic strictly-increasing mtimes so the file stream
    * source delivers them in sequence order.
    */
  private def writeOrderedSlices(
      frames: Seq[DataFrame],
      src: java.nio.file.Path): Unit = {
    Files.createDirectories(src)
    val baseMs = 1700000000000L // fixed stamp: only the ORDER matters
    frames.zipWithIndex.foreach { case (f, i0) =>
      val i = i0 + 1
      val stage = Files.createTempDirectory("graft-slice")
      f.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $stage"))
      val dest = src.resolve(f"slice-$i%02d.parquet")
      Files.move(part.toPath, dest)
      dest.toFile.setLastModified(baseMs + i * 1000L)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(stage.toFile)
    }
  }

  // ------------------------------------------------- streaming fold
  // End-to-end streaming correctness: the events table lands as a
  // multi-file parquet source, streams through
  // EventStreams.countsToStore (Update-mode 10-minute tumbling
  // windowed aggregation + latest-wins upsert keyed on
  // (window_start, event_type), versioned by batch id) in several
  // micro-batches (maxFilesPerTrigger=2 over 4 range-partitioned
  // files — TWO batches, the minimum that still exercises cross-batch
  // window re-emission + latest-wins upsert; per-micro-batch state
  // commit/maintenance is the gate family's dominant fixed cost, so
  // batch counts sit at each semantic's floor), and the FINAL store
  // state must equal the one-shot
  // aggregate: update mode re-emits a window's full accumulated
  // aggregate whenever a batch touches it, and the upsert keeps the
  // latest version, so the landed table is batching-invariant.
  // Lateness is effectively infinite for the gate (no late drops —
  // batching must not change the answer; production tunes it down
  // to bound state). Sums are DECIMAL in-state (exact, order-free),
  // cast to double only at the end — the engine-wide float rule.
  private val q520 = QueryDef(
    "q520_stream_windowed_fold",
    (s, dir) => withGateDir("graft-stream-gate") { tmp =>
      val ev = t(s, dir, "events")
        .select(col("ts"), col("event_type"),
          dec(col("value")).as("value"))
      // range-partition by ts so the stream sees roughly
      // chronological micro-batches, like a real feed
      val src = cachedSrc("stream", dir) { p =>
        ev.repartitionByRange(4, col("ts")).write.parquet(p.toString)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
      val store = new TableStore(s, tmp.resolve("store").toString)
      val q = EventStreams.countsToStore(stream, store, "stream_counts",
        tmp.resolve("ckpt").toString,
        windowLength = "10 minutes", lateness = "3650 days")
      try q.processAllAvailable() finally q.stop()
      store.read("stream_counts").get
        .select(
          unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("window_start_us", "event_type")
    },
    Some("""SELECT
        (epoch_us(ts) // (10*60*1000000)) * (10*60*1000000)
          AS window_start_us,
        event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start_us, event_type"""),
    covers = Seq("STREAM-windowed-fold", "§2.10a", "§2.10b"), confs = StreamGateConfs)

  // ------------------------------------------------- sessionize fold
  // The CUSTOM-STATE streaming operator (flatMapGroupsWithState)
  // under the oracle gate. Batching-invariance here comes from
  // successor-closure: with an effectively-infinite watermark delay
  // no event-time timeout ever fires, so a session emits exactly
  // when a later event of the same user arrives more than `gap`
  // after it — WHICH batch that successor rides in cannot change the
  // emitted set, only when it emits. Each user's final session stays
  // open (never emitted); the oracle reproduces that by dropping the
  // last session per user. Two determinism guards: (1) the source is
  // written as sequential ts-sliced appends, so file mtimes make
  // micro-batch delivery chronological per user (out-of-order
  // cross-batch delivery would change session splits); (2) values
  // stream as integer CENTS carried in the double field, so the
  // per-session sum is exact whatever the accumulation order.
  // Session bounds are MILLISECOND-resolution (the processor keeps
  // epoch-ms state); the oracle truncates its micros to match.
  private val q521 = QueryDef(
    "q521_stream_sessionize_fold",
    (s, dir) => withGateDir("graft-sess-gate") { tmp =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          (dec(col("value")) * 100)
            .cast("long").cast("double").as("value"))
      // 4 chronological slices with deterministic mtime order (2
      // micro-batches at maxFilesPerTrigger=2 — the emitted session
      // set is slice-count invariant by successor-closure, so the
      // batch count sits at the floor that still exercises both
      // in-batch and cross-batch session emission): the file source
      // replays the feed in event-time order
      val src = cachedSrc("sess", dir) { p =>
        writeChronoSlices(ev, p, col("ts"), 4)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .as[EventStreams.Event]
      val out = tmp.resolve("out").toString
      val q = EventStreams.sessionize(stream, gapMinutes = 30,
          lateness = "3650 days")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStreams.Session], _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events").cast("long").as("n_events"),
          col("total_value").cast("long").as("total_cents"))
        .orderBy("user_id", "session_start_us")
    },
    Some("""WITH ev AS (SELECT user_id, ts, event_id,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      ordered AS (SELECT *,
          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev
        FROM ev),
      flagged AS (SELECT *, CASE WHEN prev IS NULL OR
            (epoch_us(ts) // 1000) - (epoch_us(prev) // 1000)
              > 30*60*1000
          THEN 1 ELSE 0 END AS new_s
        FROM ordered),
      numbered AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
          ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged),
      sessions AS (SELECT user_id, sid,
          (epoch_us(MIN(ts)) // 1000) * 1000 AS session_start_us,
          (epoch_us(MAX(ts)) // 1000) * 1000 AS session_end_us,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM numbered GROUP BY user_id, sid)
      SELECT user_id, session_start_us, session_end_us, n_events,
        total_cents
      FROM sessions
      WHERE sid < (SELECT MAX(sid) FROM sessions s2
        WHERE s2.user_id = sessions.user_id)
      ORDER BY user_id, session_start_us"""),
    covers = Seq("STREAM-sessionize-fold", "§2.10c"), confs = StreamGateConfs)

  // ------------------------------------------- stream-stream join fold
  // Stream-stream inner interval join under the oracle gate: clicks
  // and purchases stream as two file sources through
  // EventStreams.clickToPurchase (symmetric stateful join, both
  // sides watermarked), every match appends to parquet via
  // foreachBatch. With an effectively-infinite lateness no state is
  // ever evicted, so the drained output is exactly the BATCH join —
  // a cross-batch match emits when its later side arrives, and
  // batching can only reorder emission, never change the set. The
  // oracle is the plain SQL interval join.
  private val q522 = QueryDef(
    "q522_stream_interval_join",
    (s, dir) => withGateDir("graft-ssj-gate") { tmp =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          (dec(col("value")) * 100)
            .cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("cents").cast("double").as("value"))
      // 2 files per side at maxFilesPerTrigger=1 → two batches per
      // side: with infinite lateness the drained output equals the
      // batch join at ANY batching, so two (one cross-batch arrival
      // per side) is the discriminating minimum
      val both = cachedSrc("ssj", dir) { p =>
        clicks.repartition(2).write.parquet(p.resolve("clicks").toString)
        purch.repartition(2).write.parquet(p.resolve("purch").toString)
      }
      val srcC = both.resolve("clicks").toString
      val srcP = both.resolve("purch").toString
      val cStream = s.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcC)
      val pStream = s.readStream.schema(purch.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcP)
      val out = tmp.resolve("out").toString
      val q = EventStreams.clickToPurchase(cStream, pStream,
          withinMinutes = 30, lateness = "3650 days")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value").cast("long").as("purchase_cents"))
        .orderBy("user_id", "click_us", "purchase_us", "purchase_cents")
    },
    Some("""SELECT c.user_id,
        epoch_us(c.ts) AS click_us,
        epoch_us(p.ts) AS purchase_us,
        CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS purchase_cents
      FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      JOIN (SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
        AND p.ts >= c.ts
        AND epoch_us(p.ts) <= epoch_us(c.ts) + 30*60*1000000
      ORDER BY c.user_id, click_us, purchase_us, purchase_cents"""),
    covers = Seq("STREAM-interval-join-fold"), confs = StreamGateConfs)

  // --------------------------------------------- quota admission fold
  // transformWithState (the Spark 4 arbitrary-state API, RocksDB
  // backend) under the oracle gate: per-user first-5 admission over
  // the chronologically-sliced stream. The per-key counter makes the
  // admitted SET equal to "first 5 by (ts, event_type) per user"
  // whenever delivery is chronological per user — which the
  // mtime-ordered slices guarantee — so the oracle is a plain
  // row_number() window. The value column is deliberately dropped
  // (zeroed) before streaming: rows identical up to the sort key make
  // same-key tie order unobservable in both engines, keeping the
  // admission boundary deterministic. Its declared confs add the
  // RocksDB state store provider to the stream gates' partition count.
  private val q523 = QueryDef(
    "q523_stream_quota_admission",
    (s, dir) => withGateDir("graft-quota-gate") { tmp =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          lit(0.0).as("value"))
      // slices ordered by MILLISECOND time + type — the same order
      // the processor sorts by (its state keys on epoch-ms), so
      // cross-batch arrival order and in-batch sort order agree and
      // both match the oracle's window ordering. 4 slices → 2
      // micro-batches: the admitted set only needs per-user
      // chronological delivery plus at least one cross-batch quota
      // carry, and every extra batch pays a RocksDB commit per state
      // instance
      val src = cachedSrc("quota", dir) { p =>
        writeChronoSlices(ev, p, col("ts"), 4)
      }.toString
      val out = tmp.resolve("out").toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .as[EventStreams.Event]
      val q = EventStreams.admitQuota(stream, limit = 5L)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStreams.Admitted], _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      // ts reported at MILLISECOND resolution: the processor orders
      // by ms, so same-ms rows are interchangeable — reporting µs
      // would re-expose the unobservable tie order
      s.read.parquet(out)
        .select(col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("event_type"), col("n_admitted"))
        .orderBy("user_id", "n_admitted", "ts_ms", "event_type")
    },
    Some("""WITH r AS (SELECT user_id,
          epoch_us(ts) // 1000 AS ts_ms, event_type,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) // 1000, event_type) AS n_admitted
        FROM events)
      SELECT user_id, ts_ms, event_type,
        CAST(n_admitted AS BIGINT) AS n_admitted
      FROM r WHERE n_admitted <= 5
      ORDER BY user_id, n_admitted, ts_ms, event_type"""),
    covers = Seq("STREAM-quota-admission"),
    confs = StreamGateConfs :+ ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  // --------------------------------------------- streaming dedup fold
  // dropDuplicatesWithinWatermark under the oracle: with infinite
  // lateness no key state is ever evicted, so the emitted set is
  // exactly one row per distinct (user_id, ts) — WHICH duplicate
  // survives is arrival-order-dependent, so the gate projects the
  // KEY columns only, making the surviving-row ambiguity
  // unobservable; the oracle is SELECT DISTINCT. (Production tunes
  // lateness down and the state stays watermark-bounded — the whole
  // point of the operator over plain dropDuplicates.)
  private val q524 = QueryDef(
    "q524_stream_dedup",
    (s, dir) => withGateDir("graft-dedup-gate") { tmp =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          lit(0.0).as("value"))
      // 4 files / 2 batches: the surviving KEY set is batching-
      // invariant, so one cross-batch duplicate arrival discriminates
      val src = cachedSrc("dedup", dir) { p =>
        ev.repartition(4).write.parquet(p.toString)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
      val out = tmp.resolve("out").toString
      val q = EventStreams.dedupWithinWatermark(stream, lateness = "3650 days")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("user_id", "ts_us")
    },
    Some("""SELECT DISTINCT user_id, epoch_us(ts) AS ts_us
      FROM events ORDER BY user_id, ts_us"""),
    covers = Seq("STREAM-dedup-fold"), confs = StreamGateConfs)

  // --------------------------------------------- stream-static enrich
  // The stream-static broadcast dimension join under the oracle:
  // every micro-batch left-joins the static customer dimension
  // (re-resolved per batch, broadcast, zero streaming state), so the
  // drained output is row-for-row the batch left join — streaming
  // enrichment must never drop or duplicate events whatever the
  // batching. Purchases carry exact cents; unmatched users keep NULL
  // segment (outer semantics preserved through the stream).
  private val q525 = QueryDef(
    "q525_stream_enrich",
    (s, dir) => withGateDir("graft-enrich-gate") { tmp =>
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          (dec(col("value")) * 100)
            .cast("long").as("cents"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      // 4 files / 2 batches: per-batch dimension re-resolution (the
      // property under test) needs ≥2 batches, no more
      val src = cachedSrc("enrich", dir) { p =>
        ev.repartition(4).write.parquet(p.toString)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
      val out = tmp.resolve("out").toString
      val q = EventStreams.enrich(stream, dim, Seq("user_id"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("cents"), col("segment"))
        .orderBy("user_id", "ts_us", "cents", "segment")
    },
    Some("""SELECT e.user_id, epoch_us(e.ts) AS ts_us,
        CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        c.c_mktsegment AS segment
      FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
      WHERE e.event_type = 'purchase'
      ORDER BY e.user_id, ts_us, cents, segment"""),
    covers = Seq("STREAM-static-enrich"), confs = StreamGateConfs)

  // ---------------------------------- outer stream-stream join fold
  // The LEFT OUTER interval join — the only streaming join whose
  // output depends on the WATERMARK, not just the data: a click with
  // no purchase in its window emits (with null purchase columns)
  // only once the watermark proves no match can arrive. Determinism
  // needs two things. (1) Chronological delivery per source
  // (writeChronoSlices): the global watermark then lags every
  // arriving event, so no row is ever late-dropped and every
  // cross-batch match is found — the inner part of the output is
  // exactly the batch join. (2) The null rows are decided by the
  // FINAL watermark alone (eviction is monotone in wm):
  // wm = min(max click ts, max purchase ts) − 30 min lateness, and a
  // matchless click emits iff its whole window sits below it, i.e.
  // click_ts + 30 min (window) < wm. The oracle computes the same
  // closure predicate; clicks still inside the horizon are withheld
  // by BOTH sides. Purchase cents exact; ms/µs is moot (timestamps
  // pass through untouched).
  private val q526 = QueryDef(
    "q526_stream_outer_interval_join",
    (s, dir) => withGateDir("graft-ssoj-gate") { tmp =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          (dec(col("value")) * 100)
            .cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("cents").cast("double").as("value"))
      // 4 chrono slices per side → 2 data batches per side: the null
      // rows depend on the FINAL watermark alone and the inner rows
      // on chronological delivery — both hold at any slice count, so
      // the batch count sits at the floor that still advances the
      // watermark mid-stream (this gate led the whole bench before
      // the diet)
      val both = cachedSrc("ssoj", dir) { p =>
        writeChronoSlices(clicks, p.resolve("clicks"), col("ts"), 4)
        writeChronoSlices(purch, p.resolve("purch"), col("ts"), 4)
      }
      val cStream = s.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 2).parquet(both.resolve("clicks").toString)
      val pStream = s.readStream.schema(purch.schema)
        .option("maxFilesPerTrigger", 2).parquet(both.resolve("purch").toString)
      val out = tmp.resolve("out").toString
      val q = EventStreams.clickToPurchaseOuter(cStream, pStream,
          withinMinutes = 30, lateness = "30 minutes")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value").cast("long").as("purchase_cents"))
        .orderBy("user_id", "click_us", "purchase_us", "purchase_cents")
    },
    Some("""WITH c AS (SELECT user_id, ts FROM events
          WHERE event_type = 'click'),
      p AS (SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase'),
      wm AS (SELECT LEAST((SELECT MAX(ts) FROM c),
          (SELECT MAX(ts) FROM p))
          - INTERVAL 30 MINUTES AS w),
      inner_m AS (SELECT c.user_id, c.ts AS click_ts,
          p.ts AS purchase_ts,
          CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS purchase_cents
        FROM c JOIN p ON p.user_id = c.user_id
          AND p.ts >= c.ts
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 30*60*1000000),
      no_match AS (SELECT c.user_id, c.ts AS click_ts,
          CAST(NULL AS TIMESTAMP) AS purchase_ts,
          CAST(NULL AS BIGINT) AS purchase_cents
        FROM c CROSS JOIN wm
        WHERE NOT EXISTS (SELECT 1 FROM p
            WHERE p.user_id = c.user_id AND p.ts >= c.ts
              AND epoch_us(p.ts) <= epoch_us(c.ts) + 30*60*1000000)
          AND epoch_us(c.ts) + 30*60*1000000 < epoch_us(wm.w))
      SELECT user_id, epoch_us(click_ts) AS click_us,
        epoch_us(purchase_ts) AS purchase_us, purchase_cents
      FROM (SELECT * FROM inner_m UNION ALL SELECT * FROM no_match)
      ORDER BY user_id, click_us, purchase_us, purchase_cents"""),
    covers = Seq("STREAM-outer-interval-join"), confs = StreamGateConfs)

  // ------------------------------------------------- late-drop gate
  // The watermark's DROP side, the one §2.10 behavior not yet under
  // the gate. Spark (3.4+) filters late events against the PREVIOUS
  // batch's watermark, so a drop needs the stale data to arrive two
  // triggers after the max: slice 1 is the on-time stream (everything
  // at or above an exact integer cutoff = min_us + span DIV 5,
  // including the global max, so the watermark jumps to max − 10 min
  // after it), slice 2 is the old tail — still ACCEPTED, its
  // late-filter watermark is one batch behind — and slice 3 REPLAYS
  // the tail, which by then must drop (its windows sit ≫ 20 min
  // under the watermark at every SF, so no boundary sensitivity).
  // The upserted table therefore equals the one-shot aggregate with
  // every event counted ONCE — if the engine failed to drop the
  // replay, the tail windows would double-count and the hash would
  // go red. (The one-batch-lag assumption is pinned by
  // LateDropSemanticsSpec, which asserts the per-batch emissions —
  // tail accepted in batch 1, replay emits nothing in batch 2 — so a
  // Spark upgrade that changes the filter watermark fails THERE by
  // name, not here as an apparent aggregation bug.)
  private val q527 = QueryDef(
    "q527_stream_late_drop",
    (s, dir) => withGateDir("graft-late-gate") { tmp =>
      val ev = t(s, dir, "events")
        .select(col("ts"), col("event_type"),
          dec(col("value")).as("value"))
      val bounds = ev.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      val withCut = ev.crossJoin(broadcast(bounds))
        .withColumn("cut", expr("mn + (mx - mn) DIV 5"))
      val onTime = withCut.filter(unix_micros(col("ts")) >= col("cut"))
        .select("ts", "event_type", "value")
      val lateTail = withCut.filter(unix_micros(col("ts")) < col("cut"))
        .select("ts", "event_type", "value")
      val src = cachedSrc("late", dir) { p =>
        writeOrderedSlices(Seq(onTime, lateTail, lateTail), p)
      }
      val stream = s.readStream
        .schema(onTime.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.toString)
      val store = new TableStore(s, tmp.resolve("store").toString)
      val q = EventStreams.countsToStore(stream, store, "late_counts",
        tmp.resolve("ckpt").toString,
        windowLength = "10 minutes", lateness = "10 minutes")
      try q.processAllAvailable() finally q.stop()
      store.read("late_counts").get
        .select(
          unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("window_start_us", "event_type")
    },
    Some("""SELECT
        (epoch_us(ts) // (10*60*1000000)) * (10*60*1000000)
          AS window_start_us,
        event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start_us, event_type"""),
    covers = Seq("STREAM-late-drop", "§2.10d"), confs = StreamGateConfs)

  // --------------------------------- AvailableNow disruption clean
  // The reference's daily-batch contract (§2.10a) under the oracle:
  // the SAME synthetic raw disruptions q46 cleans in batch are
  // written as a JSONL directory, drained by DisruptionStream.runOnce
  // — file source + checkpoint + Trigger.AvailableNow, the exact
  // scheduled-ingest path — into a parquet sink, and the landed
  // table's per-type report must hash-match q46's DuckDB oracle
  // VERBATIM (same builder, same clock, same aggregate, same SQL).
  // One cleaner definition, two execution modes, one oracle.
  private val q528 = QueryDef(
    "q528_stream_available_now_clean",
    (s, dir) => withGateDir("graft-avnow-gate") { tmp =>
      val raw = NsGates.rawFromEvents(s, dir)
      val src = cachedSrc("avnow", dir) { p =>
        raw.repartition(4).write.mode("overwrite").json(p.toString)
      }
      val q = graft.streaming.DisruptionStream.runOnce(
        s,
        src.toString,
        tmp.resolve("out").toString,
        tmp.resolve("ckpt").toString,
        NsGates.clock)
      q.awaitTermination()
      NsGates.cleanedReport(
        s.read.parquet(tmp.resolve("out").toString))
    },
    Some(NsGates.parityOracle),
    covers = Seq("STREAM-available-now", "§2.10a"), confs = StreamGateConfs)

  // The streaming state-sizing census. The one streaming regime the
  // engine's Auto doctrine cannot reach at run time is the state-store
  // instance count: it is pinned into the checkpoint at first start, so the
  // choice must be made BEFORE any data flows, from batch history. q533 IS
  // that pre-deployment step as a first-class oracle-gated operator: over
  // the `events` table, for a ladder of watermark horizons, the peak number
  // of rows any in-horizon state (watermarked dedup / stream-stream join
  // buffer) would ever hold per event type — a RANGE-framed sliding count
  // over event-time seconds, maxed per (type, horizon) — and the instance
  // count [[EventStreams.recommendedStatePartitions]] recommends for that
  // peak. The recommendation function executes LIVE on the driver over the
  // census result (bounded: one row per type × horizon — the Auto-probe
  // collect shape), so a regression in the sizing rule itself breaks this
  // gate's hash, not just a spec.
  //
  // Determinism: event timestamps carry sub-second micros, so both engines
  // bucket to FLOOR seconds before the RANGE frame (Spark's timestamp→long
  // cast is floorDiv(micros, 1e6); the oracle uses integer
  // `epoch_us // 1000000`) — a round-to-nearest cast on either side would
  // shift frame membership and break the hash. Rows within the same
  // floored second are RANGE peers in both engines.
  //
  // `gateRowsPerInstance` = 64 is a GATE-SCALE divisor so the sf0.01 census
  // discriminates (peaks 7–506 → 1/2/8 instances across the horizon
  // ladder); production callers keep the measured default
  // [[EventStreams.MeasuredHealthyStateRowsPerInstance]] (provenance:
  // SCALING.md round 11, the dev/StreamScale partition crossover).
  /** Watermark horizons the census sizes for: 30 min (the gates'
    * production lateness), one day, one week.
    */
  private val HorizonsSec = Seq(1800L, 86400L, 604800L)

  private val gateRowsPerInstance = 64L

  private def stateSizing(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      // floor-seconds bucketing (see scaladoc: cast = floorDiv micros)
      .select(col("event_type"), col("ts").cast("long").as("sec"))
    // The 100 TB shape: the heavy lifting is a shuffle-parallel
    // per-(type, second) pre-aggregation; the RANGE window then runs
    // over AT MOST one row per distinct second per type — bounded by
    // the feed's time span, not its volume (and rows in the same
    // floored second are RANGE peers, so summing per-second counts is
    // value-identical to the oracle's per-row sliding count). If the
    // span itself outgrows one task, coarsen the bucket toward the
    // horizon resolution — the census's one tunable.
    val perSec = ev.groupBy("event_type", "sec").agg(count(lit(1)).as("n"))
    // Sliding sum as a DIFFERENCE of two cumulative sums, not a bounded
    // RANGE frame: Spark's sliding-frame processor re-aggregates the
    // whole buffered frame for every output row, so a horizon that
    // spans most of the feed (one week here) makes the window
    // O(rows × frame) per type — measured 11.4 s at sf0.1 (r11
    // baseline), the single most expensive gate. Both frames below are
    // (UNBOUNDED PRECEDING, x) shapes, which Spark evaluates
    // incrementally (add-only) in O(rows) total. Equivalence is exact
    // integer arithmetic over the per-second pre-aggregate, whose `sec`
    // is DISTINCT within each type partition: for integer seconds,
    //   sum over RANGE [s-h, s]
    //     = sum over RANGE (-inf, s]          (c1)
    //     - sum over RANGE (-inf, s-(h+1)]    (c2: rows with sec < s-h)
    // with an empty c2 frame summing to null -> coalesce 0. All three
    // horizons (plus c1) share one (partitionBy type, orderBy sec)
    // sort, so the whole census is ONE exchange + ONE WindowExec pass
    // instead of three sliding-frame branches unioned (3 exchanges,
    // 3 sorts, O(rows × frame) each) — measured 11.42 -> 0.72 s.
    val byType = Window.partitionBy("event_type").orderBy("sec")
    val c1 = sum("n").over(
      byType.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    def inHorizon(h: Long) = c1 - coalesce(
      sum("n").over(byType.rangeBetween(Window.unboundedPreceding, -(h + 1))),
      lit(0L))
    val withSums = perSec.select(
      col("event_type") +:
        HorizonsSec.map(h => inHorizon(h).as(s"__ih_$h")): _*)
    val peakPerType = withSums.groupBy("event_type")
      .agg(max(col(s"__ih_${HorizonsSec.head}")).as(s"__peak_${HorizonsSec.head}"),
        HorizonsSec.tail.map(h => max(col(s"__ih_$h")).as(s"__peak_$h")): _*)
    // unpivot to the census's (event_type, horizon_sec, peak) rows
    val stackArgs = HorizonsSec
      .map(h => s"${h}L, __peak_$h").mkString(", ")
    val peaks = peakPerType.select(col("event_type"),
      expr(s"stack(${HorizonsSec.size}, $stackArgs) " +
        "AS (horizon_sec, peak_state_rows)"))
    // bounded-collect: O(types × horizons) model-sized census rows —
    // the sizing rule runs LIVE on each, like q532's in-gate probe
    val sized = peaks.collect().toSeq.map { r =>
      val peak = r.getAs[Long]("peak_state_rows")
      (r.getAs[String]("event_type"), r.getAs[Long]("horizon_sec"), peak,
        EventStreams.recommendedStatePartitions(
          peak, rowsPerInstance = gateRowsPerInstance).toLong)
    }
    import s.implicits._
    sized.toDF("event_type", "horizon_sec", "peak_state_rows",
        "recommended_instances")
      .orderBy("event_type", "horizon_sec")
  }

  // ---------------------------------------- streaming state sizing
  private val q533 = QueryDef(
    "q533_state_sizing",
    stateSizing,
    Some(s"""
      WITH h AS (
        SELECT event_type, hz.horizon_sec,
               count(*) OVER (
                 PARTITION BY event_type, hz.horizon_sec
                 ORDER BY epoch_us(ts) // 1000000
                 RANGE BETWEEN hz.horizon_sec PRECEDING AND CURRENT ROW
               ) AS in_horizon
        FROM events
        CROSS JOIN (SELECT unnest([${HorizonsSec.mkString(", ")}]) AS horizon_sec) hz)
      SELECT event_type, horizon_sec,
             max(in_horizon) AS peak_state_rows,
             greatest(1, CAST(ceil(max(in_horizon) / $gateRowsPerInstance.0) AS BIGINT))
               AS recommended_instances
      FROM h
      GROUP BY event_type, horizon_sec
      ORDER BY event_type, horizon_sec"""),
    covers = Seq("STREAM-state-sizing"))

  val all: Seq[QueryDef] = Seq(q441, q451, q498, q499, q520, q521, q522,
    q523, q524, q525, q526, q527, q528, q533)
}
