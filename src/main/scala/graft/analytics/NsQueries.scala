package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

import graft.etl.Clock

/** The reference's six analytics queries
  * (`src/transformation/aggregators.py`) as DataFrame plans over the
  * cleaned `disruptions` (+ `stations`) tables. These are the only
  * definitions: gates q31–q35 and q531 call them on their events-derived
  * disruptions, and each gate's oracle is the query's SQL form, checked
  * against DuckDB.
  *
  * SQLite-dialect translations (SURVEY §7.4.2):
  *  - `DATE(ts)` → `to_date`; `date('now','-N days')` → injected clock;
  *  - `STRFTIME('%w')` Sunday=0 → `dayofweek - 1`;
  *  - `julianday` diffs → `unix_micros` arithmetic (exact fractional
  *    minutes);
  *  - `json_each` CSV unnest → `explode(split(...))`;
  *  - FILTER-clause window → `sum(when(cond, x))` with no otherwise
  *    (preserves FILTER's empty-set → NULL);
  *  - two-arg `MIN/MAX` → `least/greatest`.
  *
  * Deviations from the reference text, for determinism across engines
  * (documented per SURVEY §7.4.2):
  *  - presentation ROUND() dropped (Spark rounds the shortest decimal
  *    string, DuckDB the binary value — they disagree on halfway
  *    points); averages are exact decimal-sum / count divisions;
  *  - every ORDER BY gets a unique tiebreak suffix;
  *  - ranks are BIGINT, and Q4's day of week is an int;
  *  - Q5's `SUM(COUNT(*)) OVER (ORDER BY date ROWS 6 PRECEDING)` is
  *    ill-defined with multiple rows per date (frame order within a
  *    date is engine-internal); replaced by the query's stated intent:
  *    rolling over per-date totals, joined back;
  *  - Q6's CAST(x AS INTEGER) → floor() first (SQLite/Spark truncate,
  *    DuckDB rounds).
  */
object NsQueries {

  /** exact average: decimal sum cast double / count. */
  private def avgDec(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double") / count(lit(1))

  /** Q1 ROLLING_TREND (`aggregators.py:20-57`): per-type daily counts
    * with a 7-row sliding sum/avg over the last 30 days.
    */
  def rollingTrend(d: DataFrame, clock: Clock): DataFrame = {
    val daily = d
      .filter(col("start_time") >= date_sub(clock.date, 30))
      .groupBy(to_date(col("start_time")).as("disruption_date"), col("type"))
      .agg(count(lit(1)).as("incident_count"),
        avgDec(col("duration_minutes")).as("avg_duration_minutes"))
    val w = Window.partitionBy("type").orderBy("disruption_date")
      .rowsBetween(-6, Window.currentRow)
    daily.select(
        col("disruption_date"), col("type"), col("incident_count"),
        col("avg_duration_minutes"),
        sum(col("incident_count")).over(w).as("rolling_7day_total"),
        (sum(col("incident_count")).over(w).cast("double") /
          count(lit(1)).over(w)).as("rolling_7day_avg"))
      .orderBy(desc("disruption_date"), desc("incident_count"), asc("type"))
  }

  /** Q2 STATION_SEVERITY (`aggregators.py:60-121`): unnest CSV station
    * codes, per-station aggregates, percentile + dense rank, risk
    * category, dimension left join.
    */
  def stationSeverity(d: DataFrame, stations: DataFrame): DataFrame = {
    val un = d
      .filter(col("affected_stations").isNotNull)
      .select(col("disruption_id"), col("impact_level"), col("duration_minutes"),
        explode(split(col("affected_stations"), ",")).as("station_code"))
      .withColumn("station_code", trim(col("station_code")))
    val agg = un.groupBy("station_code").agg(
      countDistinct(col("disruption_id")).as("total_disruptions"),
      avgDec(col("duration_minutes")).as("avg_duration_minutes"),
      (sum(col("impact_level")).cast("double") / count(lit(1))).as("avg_impact_level"),
      max(col("impact_level")).as("max_impact_level"))
    val pct = percent_rank().over(Window.orderBy("total_disruptions"))
    agg
      .join(broadcast(stations.select("station_code", "station_name")),
        Seq("station_code"), "left")
      .select(
        col("station_code"), col("station_name"), col("total_disruptions"),
        col("avg_duration_minutes"), col("avg_impact_level"), col("max_impact_level"),
        pct.as("disruption_percentile"),
        dense_rank().over(Window.orderBy(desc("total_disruptions")))
          .cast(LongType).as("severity_rank"),
        when(pct > 0.9, "HIGH RISK").when(pct > 0.7, "MEDIUM RISK")
          .otherwise("LOW RISK").as("risk_category"))
      .orderBy(desc("total_disruptions"), asc("station_code"))
  }

  /** Q3 DAY_OVER_DAY (`aggregators.py:124-176`): daily summary with
    * LAG/LEAD deltas, NULLIF-safe pct change, 7-row running total.
    */
  def dayOverDay(d: DataFrame): DataFrame = {
    val daily = d
      .groupBy(to_date(col("start_time")).as("disruption_date"))
      .agg(
        count(lit(1)).as("total_disruptions"),
        sum(when(col("type") === "calamity", 1).otherwise(0)).as("calamities"),
        sum(when(col("type") === "maintenance", 1).otherwise(0)).as("maintenance"),
        sum(when(col("type") === "disruption", 1).otherwise(0)).as("disruptions"),
        avgDec(col("duration_minutes")).as("avg_duration"),
        max(col("impact_level")).as("max_impact"))
    val w = Window.orderBy("disruption_date")
    val prev = lag(col("total_disruptions"), 1).over(w)
    daily.select(
        col("disruption_date"), col("total_disruptions"), col("avg_duration"),
        col("max_impact"),
        prev.as("prev_day_total"),
        lead(col("total_disruptions"), 1).over(w).as("next_day_total"),
        (col("total_disruptions") - prev).as("dod_delta"),
        ((col("total_disruptions") - prev).cast("double") * 100 /
          nullif(prev, lit(0))).as("dod_pct_change"),
        sum(col("total_disruptions"))
          .over(w.rowsBetween(-6, Window.currentRow)).as("rolling_7day"))
      .orderBy(desc("disruption_date"))
  }

  /** Q4 PEAK_HOUR (`aggregators.py:179-218`): hour × day-of-week
    * buckets contrasting ROW_NUMBER / RANK / DENSE_RANK, top 20.
    * `STRFTIME('%w')` is Sunday=0 → `dayofweek(ts) - 1`.
    */
  def peakHour(d: DataFrame): DataFrame = {
    val hourly = d
      .filter(col("start_time").isNotNull)
      .groupBy(
        date_format(col("start_time"), "HH").as("hour_of_day"),
        (dayofweek(col("start_time")) - 1).cast(IntegerType).as("dow"))
      .agg(
        count(lit(1)).as("disruption_count"),
        avgDec(col("duration_minutes")).as("avg_duration"),
        (sum(col("impact_level")).cast("double") / count(lit(1))).as("avg_impact"))
    val unique = Window.orderBy(desc("disruption_count"), asc("hour_of_day"), asc("dow"))
    val tied = Window.orderBy(desc("disruption_count"))
    hourly.select(
        element_at(typedLit(Map(0 -> "Sunday", 1 -> "Monday", 2 -> "Tuesday",
          3 -> "Wednesday", 4 -> "Thursday", 5 -> "Friday", 6 -> "Saturday")),
          col("dow")).as("day_name"),
        concat(col("hour_of_day"), lit(":00")).as("hour_label"),
        col("disruption_count"),
        col("avg_duration"), col("avg_impact"),
        row_number().over(unique).cast(LongType).as("row_num"),
        rank().over(tied).cast(LongType).as("rank_with_gaps"),
        dense_rank().over(tied).cast(LongType).as("dense_rank"),
        col("hour_of_day"), col("dow"))
      .orderBy(desc("disruption_count"), asc("hour_of_day"), asc("dow"))
      .limit(20)
      .drop("hour_of_day", "dow")
  }

  /** Q5 COMPLEX_ANALYTICS (`aggregators.py:221-292`): daily per-type
    * metrics + unpartitioned rolling total, uncorrelated scalar
    * subquery (worst station above the 0.9 percentile), and the
    * FILTER-clause cancellation-rate window rewritten as `sum(when)`.
    */
  def complexAnalytics(d: DataFrame, clock: Clock): DataFrame = {
    val metrics = d
      .filter(col("start_time") >= date_sub(clock.date, 30))
      .groupBy(to_date(col("start_time")).as("disruption_date"), col("type"))
      .agg(
        count(lit(1)).as("incident_count"),
        (sum(unix_micros(col("end_time")) - unix_micros(col("start_time")))
          .cast("double") / 60000000d / count(lit(1))).as("avg_duration"))
    // The reference's `SUM(COUNT(*)) OVER (ORDER BY date ROWS 6
    // PRECEDING)` is ill-defined with several rows per date (frame
    // content depends on tie order); its stated intent — "7-day
    // rolling total across all types on this date" — is computed
    // deterministically: roll over per-date totals, join back.
    val dailyTot = metrics.groupBy("disruption_date")
      .agg(sum(col("incident_count")).as("day_total"))
    val rolling = dailyTot.select(col("disruption_date"),
      sum(col("day_total")).over(Window.orderBy("disruption_date")
        .rowsBetween(-6, Window.currentRow)).as("rolling_7day_total"))
    val impact = d.filter(col("affected_stations").isNotNull)
      .select(explode(split(col("affected_stations"), ",")).as("sc"))
      .select(trim(col("sc")).as("station_code"))
      .groupBy("station_code").agg(count(lit(1)).as("disruption_count"))
      .withColumn("severity_percentile",
        percent_rank().over(Window.orderBy("disruption_count")))
    // Uncorrelated scalar subquery (comment in the reference says
    // "correlated" but it references no outer columns — SURVEY §2.9 C2):
    // evaluated once, broadcast. agg(min) over the ≤1-row frame keeps a
    // row (null) even when no station clears the percentile.
    val worst = impact.filter(col("severity_percentile") > 0.9)
      .orderBy(desc("disruption_count"), asc("station_code"))
      .limit(1)
      .agg(min(col("station_code")).as("worst_station"))
    val byDay = Window.partitionBy("disruption_date")
    metrics.join(rolling, Seq("disruption_date"))
      .crossJoin(broadcast(worst))
      .select(
        col("disruption_date"), col("type"), col("incident_count"),
        col("avg_duration"), col("rolling_7day_total"), col("worst_station"),
        (sum(when(col("type") === "cancellation", col("incident_count"))).over(byDay)
          .cast("double") * 100 /
          nullif(sum(col("incident_count")).over(byDay), lit(0)))
          .as("cancellation_rate_pct"))
      .orderBy(desc("disruption_date"), desc("incident_count"), asc("type"))
  }

  /** Q6 OVERLAPPING (`aggregators.py:295-325`): interval-overlap theta
    * self-join over the last 7 days, overlap minutes via
    * least/greatest, top 50.
    *
    * Prefilter: an interval ending before the 7-day cutoff cannot
    * overlap any interval starting inside it (b.end > a.start ≥
    * cutoff), so both join sides shrink to the window ± duration — the
    * reference's WHERE on a.start_time alone is preserved below.
    *
    * Scale note (SURVEY §4.2): with no equi key Catalyst plans a
    * nested-loop join — correct at reference scale. In a session with
    * `spark.graft.rangeJoin.enabled`, [[graft.plans.RangeJoinRewrite]]
    * rewrites the join into the bucketed equi-join of
    * [[graft.operators.RangeJoin.overlapSelfJoin]].
    */
  def overlapping(d: DataFrame, clock: Clock): DataFrame = {
    val cutoff = date_sub(clock.date, 7)
    val cols = d
      .select("disruption_id", "type", "start_time", "end_time")
      .filter(col("end_time") > cutoff)
    def side(p: String) = cols.select(
      col("disruption_id").as(s"${p}_disruption_id"),
      col("type").as(s"${p}_type"),
      col("start_time").as(s"${p}_start_time"),
      col("end_time").as(s"${p}_end_time"))
    val joined = side("a").join(side("b"),
      col("a_disruption_id") < col("b_disruption_id") &&
        col("a_start_time") < col("b_end_time") &&
        col("a_end_time") > col("b_start_time"))
    val overlapMin = floor(
      (unix_micros(least(col("a_end_time"), col("b_end_time"))) -
        unix_micros(greatest(col("a_start_time"), col("b_start_time"))))
        .cast("double") / 60000000d).cast(IntegerType)
    joined
      .filter(col("a_start_time") >= cutoff)
      .select(
        col("a_disruption_id").as("disruption_a"),
        col("b_disruption_id").as("disruption_b"),
        col("a_type").as("type_a"), col("b_type").as("type_b"),
        col("a_start_time").as("a_start"), col("a_end_time").as("a_end"),
        col("b_start_time").as("b_start"), col("b_end_time").as("b_end"),
        overlapMin.as("overlap_minutes"))
      .orderBy(desc("overlap_minutes"), asc("disruption_a"), asc("disruption_b"))
      .limit(50)
  }

  /** The never-materialized `daily_stats` gold table
    * (`schema.sql:48-57`, 0 rows in the reference DB) — SURVEY §2.4
    * calls for actually computing it: per-day totals plus modal
    * station and modal hour (ties break to the lexicographically /
    * numerically smallest, documented since the reference never
    * defined them).
    *
    * One aggregation over one row per (disruption, affected station):
    * the disruption's own measures count on its first station row only
    * (`__pos` 0, or null when it has no stations), and
    * `mode(…, deterministic = true)` picks the modal
    * value with ties to the smallest. The null-date group has no modal
    * station, as a join on the date key never matched it.
    *
    * `calculated_at` is `clock`: `Main` recomputes only the days whose
    * rows a run changes, so a day carries the clock of the last run
    * that changed it, not of the last run whose batch held its rows.
    * The rows come unordered: a table has no row order, and a global
    * sort would cost the gold write a range-sampling job and a shuffle.
    */
  def dailyStats(d: DataFrame, clock: Clock): DataFrame = {
    val rows = d.select(
      to_date(col("start_time")).as("date"), col("start_time"), col("type"),
      col("duration_minutes"),
      posexplode_outer(split(col("affected_stations"), ",")).as(Seq("__pos", "__station")))
    val first = coalesce(col("__pos"), lit(0)) === 0
    rows.groupBy("date")
      .agg(
        count(when(first, 1)).as("total_disruptions"),
        sum(when(first && col("type") === "cancellation", 1).otherwise(0))
          .as("total_cancellations"),
        avg(when(first, col("duration_minutes"))).as("avg_duration_minutes"),
        max(when(first, col("duration_minutes"))).as("max_duration_minutes"),
        when(col("date").isNotNull, mode(col("__station"), deterministic = true))
          .as("most_affected_station"),
        mode(when(first, date_format(col("start_time"), "HH")), deterministic = true)
          .as("peak_hour"))
      .withColumn("calculated_at", clock.ts)
  }

  /** Today's-stats report (`src/pipeline.py:304-342`). */
  def todaysReport(d: DataFrame, clock: Clock): DataFrame =
    d.filter(to_date(col("created_at")) === clock.date)
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("type") === "disruption", 1).otherwise(0)).as("disruptions"),
        sum(when(col("type") === "maintenance", 1).otherwise(0)).as("maintenance"),
        sum(when(col("type") === "calamity", 1).otherwise(0)).as("calamities"),
        round(avg(col("duration_minutes")), 1).as("avg_duration"),
        max(col("impact_level")).as("max_impact"))
}
