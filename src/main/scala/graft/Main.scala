package graft

import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Future, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.NsQueries
import graft.etl.{Clock, DisruptionCleaner, NsSchemas}
import graft.sources.RawSource
import graft.store.TableStore

/** End-to-end pipeline wiring (reference `src/pipeline.py:52-79`,
  * SURVEY §3.1): extract (archived raw JSON) → transform (lazy cleaner
  * plan) → load (idempotent bronze append + silver upsert) → gold
  * daily_stats → report. One logical-plan chain per stage; the only
  * wide operations are the load-path dedups and the report aggregates.
  *
  * A run is a small stage graph. The extract count runs first (and
  * ends an empty run). Then three stages that write unrelated tables
  * run at once, each writing only its own: the bronze append, the
  * silver upsert with its gold refresh, and the stations seed. Each
  * SQL execution carries a fixed cost (analysis, planning, dispatch)
  * that serial stages would add up, so the silver stage fans out too:
  *
  * {{{
  * probe → silver files → report       → silver manifest
  *                        ↘
  * probe → touched days  → gold refresh → silver manifest
  * }}}
  *
  *  - the touched-days query reads only the probe's change set, so it
  *    runs beside the silver file write;
  *  - the gold refresh and the report both read the staged silver
  *    files, and neither reads the other's output, so they run side by
  *    side;
  *  - gold commits before the silver manifest (inside the upsert), so a
  *    crash between the two leaves the same change set to re-do;
  *  - every reader of the change set or the staged files finishes
  *    before the silver commit, which retires the stored files (and,
  *    losing to a rival writer, deletes the staged ones).
  * With nothing changed nothing is committed: the report reads the
  * stored silver table once the upsert has returned, and the stored
  * `daily_stats` count runs beside it. `run` waits for every stage it
  * started before it returns or throws; a failed stage fails the run
  * with its own exception.
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Main <rawJsonPathOrGlob> <storeRoot> [clockInstant]")
    val clock = if (args.length > 2) Clock(Instant.parse(args(2))) else Clock.system
    // the shared engine baseline (join strategy, AQE, UTC) applied to
    // the pipeline's own master/app shape — the "real consumer" path
    // plans like Bench and Verify do
    val spark = SessionDefaults(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counts = run(spark, args(0), args(1), clock)
    counts.foreach { case (k, v) => println(s"[pipeline] $k=$v") }
    spark.stop()
  }

  /** Stages that run at once: bronze, silver with gold, stations, and
    * the silver stage's touched-days query and report.
    */
  private val Stages = 5

  /** Name prefix of the threads that run a pipeline's stages. */
  private[graft] val StageThread = "graft-pipeline-stage"

  /** One run's stage threads: a fixed pool whose threads are all
    * created up front, from the calling thread, so each inherits the
    * caller's Spark local properties (job tags, an op id a caller set)
    * and active session. A pool shared across runs would carry a past
    * caller's. The first stage to fail is the run's failure: once one
    * has failed, [[result]] waits for every started stage and throws
    * that stage's own exception, the later failures suppressed in it.
    */
  private final class StagePool {
    private val threads = new ConcurrentLinkedQueue[Thread]()
    private val pool = new ThreadPoolExecutor(Stages, Stages, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"$StageThread-${threads.size + 1}")
        threads.add(t)
        t
      })
    pool.prestartAllCoreThreads()
    private val failures = new ConcurrentLinkedQueue[Throwable]()

    /** Starts `body` as a stage. */
    def apply[A](body: => A): Future[A] =
      pool.submit[A](() => try body catch { case e: Throwable => failures.add(e); throw e })

    /** The stage's result, unless a stage has failed. */
    def result[A](f: Future[A]): A = {
      val a = try Some(f.get()) catch { case _: ExecutionException => None }
      if (!failures.isEmpty) {
        close()
        // a stage that awaited a failed one fails with the same exception
        val first +: rest = failures.asScala.toSeq.distinct: @unchecked
        rest.foreach(first.addSuppressed)
        throw first
      }
      a.get
    }

    /** Within a stage: the result of a stage it started, or that
      * stage's own exception.
      */
    def await[A](f: Future[A]): A =
      try f.get() catch { case e: ExecutionException => throw e.getCause }

    /** Lets every started stage finish, then ends the threads. */
    def close(): Unit = {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Runs the full pipeline; returns stage counts for reporting. */
  def run(
      spark: SparkSession,
      rawPath: String,
      storeRoot: String,
      clock: Clock): Seq[(String, Long)] = {
    val store = new TableStore(spark, storeRoot)

    // Extract: archived raw snapshots with the explicit API schema —
    // or, with an `api:` prefix, the S1 live path: fetch the URL with
    // the retry/backoff client (API key from NS_API_KEY as the
    // reference's Ocp-Apim-Subscription-Key header), archive the
    // snapshot under the store, and read the archive back, so both
    // extract paths converge on the same raw frame.
    val raw =
      if (rawPath.startsWith("api:")) {
        val url = rawPath.stripPrefix("api:")
        val headers = sys.env.get("NS_API_KEY")
          .map(k => Map("Ocp-Apim-Subscription-Key" -> k))
          .getOrElse(Map.empty[String, String])
        graft.sources.ApiClient.extract(
          spark, url, store.path("raw_archive"), headers, clock)
      } else RawSource.readRawJsonArray(spark, rawPath)
    // one count serves both the P13 short-circuit and the report
    val extracted = raw.count()
    if (extracted == 0) return Seq("extracted" -> 0L) // P13 short-circuit

    // Load 1 (bronze): raw JSON kept verbatim, insert-if-absent on the
    // natural key (`raw_disruptions`, schema.sql:7-12).
    val bronze = raw.select(
      col("id").as("disruption_id"),
      to_json(struct(raw.columns.map(col): _*)).as("raw_json"),
      clock.ts.as("fetched_at"))
      .filter(col("disruption_id").isNotNull)

    // Transform: the zero-UDF cleaning plan. Quality counters
    // (observe/CollectMetrics) ride the silver upsert's probe job (its
    // write job on a first load), which reads every cleaned row once
    // per run: the reference's per-run record accounting without a
    // second scan.
    val quality = Observation("silver_load")
    val cleaned = graft.etl.Metrics.observeQuality(DisruptionCleaner.clean(raw, clock), quality,
      nullCols = Seq("end_time", "duration_minutes"),
      checks = Map("impact_range" -> col("impact_level").between(1, 5)))

    // Dimension seed (ON CONFLICT DO NOTHING ≡ append-if-absent).
    val stations = spark.createDataFrame(NsSchemas.stationSeed)
      .toDF("station_code", "station_name", "latitude", "longitude", "country")
      .withColumn("last_updated", clock.ts)

    // Report (pipeline.py:304-342) on silver as the upsert leaves it;
    // its row count is observed on the report's own scan.
    def report(silver: DataFrame): (Long, Long) = {
      val silverRows = Observation()
      // bounded-collect: todaysReport is a global O(1)-row aggregate
      val total = NsQueries.todaysReport(silver.observe(silverRows, count(lit(1)).as("n")), clock)
        .collect()(0).getAs[Long]("total")
      (silverRows.get("n").asInstanceOf[Long], total)
    }

    val stages = new StagePool
    try {
      val bronzeLoad = stages(store.appendIfAbsent("raw_disruptions", bronze, "disruption_id"))
      // Load 2 (silver): latest-wins upsert — re-running the same batch
      // commits nothing, later batches update ongoing disruptions.
      // Gold: materialize the daily_stats table the reference declared
      // but never populated, refreshed ONLY for the days the upsert's
      // change set touches: those of the rows it writes and of the
      // stored rows they replace (an upsert can move a disruption across
      // days). The reference recomputes from the full table every run,
      // which at 100 TB rescans the corpus; per-day stats depend only on
      // that day's rows, so a partition-grain replaceWhere is exact. A
      // day's `calculated_at` is the clock of the last run that changed
      // it. Gold commits inside the upsert, before silver, so a crash
      // between the two commits leaves the upsert undone, and its re-run
      // (same change set) refreshes gold again. Returns, when the upsert
      // commits, gold's rows after the refresh and the report.
      val silverLoad = stages {
        var touchedDays: Future[Seq[Option[java.sql.Date]]] = null
        var refreshed = Option.empty[(Long, (Long, Long))]
        store.upsert("disruptions", cleaned, Seq("disruption_id"), "updated_at",
          // bounded-collect: distinct() calendar dates — O(days touched
          // by one batch), not rows
          changes = changed => touchedDays = stages(changed.select(to_date(col("start_time"))).distinct()
            .collect().map(r => Option(r.getDate(0))).toSeq),
          before = silver => {
            val todays = stages(report(silver))
            val touched = stages.await(touchedDays)
            // a NULL start_time is its own refreshable "day": the stats
            // table carries a null-date group and it must stay in sync too
            def touchedCond(day: Column): Column =
              day.isInCollection(touched.flatten) || (if (touched.contains(None)) day.isNull else lit(false))
            val goldRows =
              if (touched.isEmpty) store.rowCount("daily_stats")
              else store.replaceWhere("daily_stats",
                NsQueries.dailyStats(silver.filter(touchedCond(to_date(col("start_time")))), clock),
                touchedCond(col("date")))
            refreshed = Some((goldRows, stages.await(todays)))
          })
        refreshed
      }
      val stationsLoad = stages(store.appendIfAbsent("stations", stations, "station_code"))

      // no row changed, nothing committed: the report on the stored
      // silver table, and the stored daily_stats table's row count
      val (dailyStatsRows, (silverRows, reportTotal)) = stages.result(silverLoad).getOrElse {
        val todays = stages(report(store.read("disruptions").get))
        val goldRows = stages(store.rowCount("daily_stats"))
        (stages.result(goldRows), stages.result(todays))
      }
      stages.result(stationsLoad)
      Seq(
        "extracted" -> extracted,
        "bronze_inserted" -> stages.result(bronzeLoad),
        "silver_rows" -> silverRows,
        "daily_stats_rows" -> dailyStatsRows,
        "report_total_today" -> reportTotal) ++
        quality.get.toSeq.sortBy(_._1).map { case (k, v) => s"quality_$k" -> v.asInstanceOf[Long] }
    } finally stages.close()
  }
}
