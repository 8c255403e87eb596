package graft.analytics

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.etl.Clock

/** Hand-computed assertions for the six analytics queries over a small
  * synthetic disruptions frame.
  */
class NsQueriesSpec extends SparkSpec {

  private val clock = Clock(Instant.parse("2026-03-10T12:00:00Z"))

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  private lazy val disruptions: DataFrame = {
    import spark.implicits._
    // (id, type, start, end, duration, impact, stations)
    Seq(
      ("d1", "disruption",   "2026-03-09T08:00:00Z", "2026-03-09T09:30:00Z",  90.0, 3, "ASD,UTR"),
      ("d2", "disruption",   "2026-03-09T08:30:00Z", "2026-03-09T10:30:00Z", 120.0, 3, "ASD"),
      ("d3", "maintenance",  "2026-03-09T22:00:00Z", "2026-03-10T04:00:00Z", 360.0, 4, "RTD"),
      ("d4", "calamity",     "2026-03-10T06:00:00Z", "2026-03-10T07:00:00Z",  60.0, 5, null),
      ("d5", "cancellation", "2026-03-10T06:30:00Z", "2026-03-10T06:45:00Z",  15.0, 5, "ASD,GVC"),
      ("d6", "disruption",   "2026-03-10T09:00:00Z", "2026-03-10T09:20:00Z",  20.0, 2, "UTR"),
      ("d7", "maintenance",  "2026-01-01T00:00:00Z", "2026-01-01T08:00:00Z", 480.0, 4, "EHV"))
      .map { case (id, t, s0, e0, dur, imp, st) =>
        (id, t, s"Title $id", s"Desc $id", ts(s0), ts(e0), dur, imp, st,
          false, ts("2026-03-10T11:00:00Z"), ts("2026-03-10T11:00:00Z"))
      }
      .toDF("disruption_id", "type", "title", "description", "start_time",
        "end_time", "duration_minutes", "impact_level", "affected_stations",
        "is_resolved", "created_at", "updated_at")
  }

  private lazy val stations: DataFrame = {
    import spark.implicits._
    graft.etl.NsSchemas.stationSeed
      .map { case (c, n, la, lo, co) => (c, n, la, lo, co) }
      .toDF("station_code", "station_name", "latitude", "longitude", "country")
  }

  test("Q1 rolling trend: 30-day filter drops d7; per-type daily counts") {
    val rows = NsQueries.rollingTrend(disruptions, clock).collect()
    // 2026-03-09: disruption×2, maintenance×1; 03-10: calamity, cancellation, disruption
    assert(rows.length == 5)
    val d9disr = rows.find(r =>
      r.getAs[java.sql.Date]("disruption_date").toString == "2026-03-09" &&
      r.getAs[String]("type") == "disruption").get
    assert(d9disr.getAs[Long]("incident_count") == 2L)
    assert(d9disr.getAs[Double]("avg_duration_minutes") == 105.0)
    assert(d9disr.getAs[Long]("rolling_7day_total") == 2L)
  }

  test("Q2 station severity: ASD worst with 3 distinct disruptions") {
    val rows = NsQueries.stationSeverity(disruptions, stations).collect()
    val top = rows.head
    assert(top.getAs[String]("station_code") == "ASD")
    assert(top.getAs[Long]("total_disruptions") == 3L)
    assert(top.getAs[String]("station_name") == "Amsterdam Centraal")
    assert(top.getAs[Int]("severity_rank") == 1)
    // 6 station codes appear: ASD, UTR, RTD, GVC, EHV
    assert(rows.length == 5)
  }

  test("Q3 day-over-day: LAG/LEAD deltas and pct change") {
    val rows = NsQueries.dayOverDay(disruptions).collect()
    // Dates desc: 03-10 (3), 03-09 (3), 01-01 (1)
    assert(rows.map(_.getAs[Long]("total_disruptions")).toSeq == Seq(3L, 3L, 1L))
    val d10 = rows(0)
    assert(d10.getAs[Long]("prev_day_total") == 3L)
    assert(d10.getAs[Long]("dod_delta") == 0L)
    assert(d10.getAs[Double]("dod_pct_change") == 0.0)
    val d9 = rows(1)
    assert(d9.getAs[Long]("prev_day_total") == 1L)
    assert(d9.getAs[Double]("dod_pct_change") == 200.0)
    assert(d9.getAs[Long]("rolling_7day") == 4L) // d7 is outside the 6-row frame? no: rows asc 01-01(1),03-09(3) → 1+3
  }

  test("Q4 peak hour: Sunday=0 convention and ranking flavors") {
    val rows = NsQueries.peakHour(disruptions).collect()
    // 2026-03-09 is a Monday, 2026-03-10 a Tuesday, 2026-01-01 a Thursday.
    assert(rows.forall(r => Set("Monday", "Tuesday", "Thursday")
      .contains(r.getAs[String]("day_name"))))
    assert(rows.head.getAs[Int]("row_num") == 1)
    // Ties: several buckets have count 1 → rank has gaps, dense doesn't.
    val counts = rows.map(_.getAs[Long]("disruption_count")).toSeq
    assert(counts == counts.sorted.reverse)
  }

  test("Q5 complex analytics: cancellation rate via FILTER-rewrite window") {
    val rows = NsQueries.complexAnalytics(disruptions, clock).collect()
    val d10 = rows.filter(_.getAs[java.sql.Date]("disruption_date").toString == "2026-03-10")
    // 03-10 has calamity 1, cancellation 1, disruption 1 → rate 33.33
    assert(d10.forall(_.getAs[Double]("cancellation_rate_pct") == 33.33))
    val d9 = rows.filter(_.getAs[java.sql.Date]("disruption_date").toString == "2026-03-09")
    // No cancellation on 03-09 → FILTER over empty set → NULL (not 0)
    assert(d9.forall(r => r.isNullAt(r.fieldIndex("cancellation_rate_pct"))))
  }

  test("Q6 overlapping: d1×d2 and d4×d5 overlap, minutes computed") {
    val rows = NsQueries.overlapping(disruptions, clock).collect()
    val pairs = rows.map(r => (r.getAs[String]("disruption_a"),
      r.getAs[String]("disruption_b"), r.getAs[Int]("overlap_minutes"))).toSet
    // d1 [08:00,09:30) ∩ d2 [08:30,10:30) = 60 min;
    // d4 [06:00,07:00) ∩ d5 [06:30,06:45) = 15 min.
    assert(pairs == Set(("d1", "d2", 60), ("d4", "d5", 15)))
  }

  test("daily_stats gold table: modal station and peak hour") {
    val rows = NsQueries.dailyStats(disruptions, clock).collect()
    val d10 = rows.find(_.getAs[java.sql.Date]("date").toString == "2026-03-10").get
    assert(d10.getAs[Long]("total_disruptions") == 3L)
    assert(d10.getAs[Long]("total_cancellations") == 1L)
    // stations on 03-10: ASD, GVC (d5), UTR (d6) → tie broken to 'ASD'
    assert(d10.getAs[String]("most_affected_station") == "ASD")
    // hours 06 (d4, d5), 09 (d6) → peak 06
    assert(d10.getAs[String]("peak_hour") == "06")
  }

  /** The two-window formulation `dailyStats` replaced: per-day base
    * aggregates left-joined with a `row_number` pick of the modal
    * station and hour (count desc, then value asc). Kept as the oracle
    * for the one-aggregation `mode` form.
    */
  private def windowDailyStats(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val base = d.groupBy(to_date(col("start_time")).as("date"))
      .agg(
        count(lit(1)).as("total_disruptions"),
        sum(when(col("type") === "cancellation", 1).otherwise(0)).as("total_cancellations"),
        avg(col("duration_minutes")).as("avg_duration_minutes"),
        max(col("duration_minutes")).as("max_duration_minutes"))
    def modal(df: DataFrame, keyCol: Column, out: String): DataFrame = {
      val g = df.groupBy(to_date(col("start_time")).as("date"), keyCol.as(out))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("date").orderBy(desc("cnt"), asc(out))
      g.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("date"), col(out))
    }
    val topStation = modal(
      d.filter(col("affected_stations").isNotNull)
        .select(col("start_time"), explode(split(col("affected_stations"), ",")).as("sc")),
      col("sc"), "most_affected_station")
    val topHour = modal(d.filter(col("start_time").isNotNull),
      date_format(col("start_time"), "HH"), "peak_hour")
    base.join(topStation, Seq("date"), "left").join(topHour, Seq("date"), "left")
  }

  test("daily_stats mode rewrite matches the window formulation on ties and null days") {
    import spark.implicits._
    // 03-09: stations UTR and ASD tie at 2 (ASD wins), hours 14 and 09
    // tie at 1 (09 wins); 03-10: no stations at all, repeated codes in
    // one row, an empty code; null start_time: its own group, stations
    // but no modal station or hour
    val tie = Seq(
      ("t1", "disruption",   Some("2026-03-09T14:00:00Z"), 30.0,  Some("UTR,ASD")),
      ("t2", "cancellation", Some("2026-03-09T09:00:00Z"), 45.5,  Some("ASD,UTR")),
      ("t3", "maintenance",  Some("2026-03-10T11:00:00Z"), 12.25, None),
      ("t4", "disruption",   Some("2026-03-10T11:30:00Z"), 7.0,   None),
      ("t5", "disruption",   Some("2026-03-11T05:00:00Z"), 3.0,   Some("GVC,GVC,,RTD")),
      ("t6", "disruption",   Some("2026-03-11T06:00:00Z"), 4.0,   Some("RTD")),
      ("t7", "cancellation", None,                         1.0,   Some("EHV,ASD")),
      ("t8", "disruption",   None,                         2.0,   Some("EHV")))
      .map { case (id, t, st, dur, sc) => (id, t, st.map(ts), dur, sc) }
      .toDF("disruption_id", "type", "start_time", "duration_minutes", "affected_stations")
    val got = NsQueries.dailyStats(tie, clock).drop("calculated_at")
    val want = windowDailyStats(tie)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
    val byDate = got.collect().map(r => Option(r.getAs[java.sql.Date]("date")).map(_.toString) -> r).toMap
    assert(byDate(Some("2026-03-09")).getAs[String]("most_affected_station") == "ASD")
    assert(byDate(Some("2026-03-09")).getAs[String]("peak_hour") == "09")
    assert(byDate(Some("2026-03-10")).isNullAt(5))
    assert(byDate(Some("2026-03-11")).getAs[String]("most_affected_station") == "GVC")
    assert(byDate(None).getAs[Long]("total_disruptions") == 2L)
    assert(byDate(None).isNullAt(5) && byDate(None).isNullAt(6))
  }

  test("today's report counts only rows created today") {
    val r = NsQueries.todaysReport(disruptions, clock).collect()(0)
    assert(r.getAs[Long]("total") == 7L)
    assert(r.getAs[Long]("calamities") == 1L)
    assert(r.getAs[Int]("max_impact") == 5)
  }
}
