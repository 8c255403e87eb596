package graft

import java.time.Instant

import org.apache.spark.sql.{Observation, SparkSession}
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
    val bronzeInserted = store.appendIfAbsent("raw_disruptions", bronze, "disruption_id")

    // Transform: the zero-UDF cleaning plan.
    val cleaned = DisruptionCleaner.clean(raw, clock)

    // Days whose gold stats this batch invalidates: the incoming rows'
    // days plus the days of any stored versions they replace (an
    // upsert can move a disruption across days), in one query.
    // Collected BEFORE the upsert's commit retires the files the
    // stored-side plan reads; the set is small (days per batch), so a
    // driver-side collect is free. Quality counters (observe/
    // CollectMetrics) ride this job, which reads every cleaned row once
    // per run — the reference's per-run record accounting without a
    // second scan; a QueryExecutionListener (or StreamingQueryListener)
    // drains them.
    val observed = graft.etl.Metrics.observeQuality(cleaned, "silver_load",
      nullCols = Seq("end_time", "duration_minutes"),
      checks = Map("impact_range" -> col("impact_level").between(1, 5)))
    def day(df: org.apache.spark.sql.DataFrame) =
      df.select(to_date(col("start_time")).as("d"))
    val dayRows = store.read("disruptions").foldLeft(day(observed)) { (acc, ex) =>
      acc.union(day(ex.join(cleaned.select("disruption_id"), Seq("disruption_id"), "left_semi")))
    }
    // bounded-collect: distinct() calendar dates — O(days touched by
    // one batch), not rows
    val touched = dayRows.distinct().collect().map(r => Option(r.getDate(0))).toSeq
    val touchedDays = touched.flatten
    // a NULL start_time is its own refreshable "day": the stats table
    // carries a null-date group and it must stay in sync too
    val touchedNull = touched.contains(None)

    // Gold: materialize the daily_stats table the reference declared
    // but never populated — refreshed ONLY for the touched days (the
    // reference recomputes from the full table every run, which at
    // 100 TB rescans the corpus; per-day stats depend only on that
    // day's rows, so a partition-grain replaceWhere is exact).
    def touchedCond(day: org.apache.spark.sql.Column): Option[org.apache.spark.sql.Column] = {
      val inDays = if (touchedDays.nonEmpty) Some(day.isInCollection(touchedDays)) else None
      val isNull = if (touchedNull) Some(day.isNull) else None
      (inDays.toSeq ++ isNull.toSeq).reduceOption(_ || _)
    }
    def refreshGold(silver: org.apache.spark.sql.DataFrame): Long =
      touchedCond(to_date(col("start_time"))) match {
        case Some(silverCond) =>
          store.replaceWhere("daily_stats",
            NsQueries.dailyStats(silver.filter(silverCond), clock),
            touchedCond(col("date")).get)
        case None => store.read("daily_stats").map(_.count()).getOrElse(0L)
      }
    var dailyStatsRows = 0L

    // Load 2 (silver): latest-wins upsert — re-running the same batch
    // writes nothing, later batches update ongoing disruptions. Gold is
    // refreshed from the upserted rows before they commit, so a crash
    // between the two commits leaves the upsert undone, and its re-run
    // (same touched days) refreshes gold again; the refresh runs even
    // when silver does not change.
    store.upsert("disruptions", cleaned, Seq("disruption_id"), "updated_at",
      before = silver => dailyStatsRows = refreshGold(silver))

    // Dimension seed (ON CONFLICT DO NOTHING ≡ append-if-absent).
    val stations = spark.createDataFrame(NsSchemas.stationSeed)
      .toDF("station_code", "station_name", "latitude", "longitude", "country")
      .withColumn("last_updated", clock.ts)
    store.appendIfAbsent("stations", stations, "station_code")

    // Report (pipeline.py:304-342); the silver row count is observed on
    // the report's own scan.
    val silver = store.read("disruptions").get
    val silverRows = Observation()
    // bounded-collect: todaysReport is a global O(1)-row aggregate
    val report = NsQueries.todaysReport(
      silver.observe(silverRows, count(lit(1)).as("n")), clock).collect()(0)
    Seq(
      "extracted" -> extracted,
      "bronze_inserted" -> bronzeInserted,
      "silver_rows" -> silverRows.get("n").asInstanceOf[Long],
      "daily_stats_rows" -> dailyStatsRows,
      "report_total_today" -> report.getAs[Long]("total"))
  }
}
