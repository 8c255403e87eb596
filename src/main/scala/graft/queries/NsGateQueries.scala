package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StringType}

import graft.Tables
import graft.operators.RangeJoin

/** The reference's six analytics queries (`src/transformation/
  * aggregators.py`) under the driver's DuckDB hash gate.
  *
  * The synthetic testdata has no disruptions table, so both engines
  * first derive an identical disruptions-shaped frame from `events`
  * (deterministic, expression-only — see [[disruptions]]), then run
  * the translated query. Clock is pinned to 2024-01-31 (events span
  * January 2024).
  *
  * Gate-variant deviations from the reference text, for determinism
  * across engines (documented per SURVEY §7.4.2):
  *  - presentation ROUND() dropped (Spark rounds the shortest decimal
  *    string, DuckDB the binary value — they disagree on halfway
  *    points); averages are exact decimal-sum / count divisions;
  *  - every ORDER BY gets a unique tiebreak suffix;
  *  - Q5's `SUM(COUNT(*)) OVER (ORDER BY date ROWS 6 PRECEDING)` is
  *    ill-defined with multiple rows per date (frame order within a
  *    date is engine-internal); replaced by the query's stated intent:
  *    rolling over per-date totals, joined back;
  *  - Q6's CAST(x AS INTEGER) → floor() first (SQLite/Spark truncate,
  *    DuckDB rounds).
  */
object NsGateQueries {

  // ------------------------------------------------------------------
  // Shared derivation: events → disruptions
  // ------------------------------------------------------------------

  private def disruptions(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      col("event_id").cast(StringType).as("disruption_id"),
      when(col("event_type") === "error", "calamity")
        .when(col("event_type") === "purchase", "cancellation")
        .when(col("event_type") === "signup", "maintenance")
        .otherwise("disruption").as("type"),
      col("ts").as("start_time"),
      timestamp_micros(unix_micros(col("ts")) +
        (col("value").cast(DecimalType(18, 2)) * 60000000).cast(LongType))
        .as("end_time"),
      col("value").as("duration_minutes"),
      (lit(1) + col("event_id") % 5).cast(IntegerType).as("impact_level"),
      when(col("user_id") % 7 === 0, lit(null).cast(StringType))
        .otherwise(concat_ws(",", lit("ASD"),
          when(col("user_id") % 2 === 0, "RTD"),
          when(col("user_id") % 3 === 0, "UTR"))).as("affected_stations"))

  private val disruptionsSql: String =
    """disruptions AS (
      SELECT CAST(event_id AS VARCHAR) AS disruption_id,
        CASE event_type WHEN 'error' THEN 'calamity'
             WHEN 'purchase' THEN 'cancellation'
             WHEN 'signup' THEN 'maintenance'
             ELSE 'disruption' END AS type,
        ts AS start_time,
        make_timestamp(epoch_us(ts) +
          CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT)) AS end_time,
        value AS duration_minutes,
        CAST(1 + event_id % 5 AS INTEGER) AS impact_level,
        CASE WHEN user_id % 7 = 0 THEN NULL
             ELSE concat_ws(',', 'ASD',
                    CASE WHEN user_id % 2 = 0 THEN 'RTD' END,
                    CASE WHEN user_id % 3 = 0 THEN 'UTR' END) END AS affected_stations
      FROM events)"""

  /** Pinned "now" for the -30/-7 day filters. */
  private val clockDate = java.sql.Date.valueOf("2024-01-31")

  private val stationsSql: String =
    """stations AS (SELECT * FROM (VALUES
        ('ASD','Amsterdam Centraal'), ('UTR','Utrecht Centraal'),
        ('RTD','Rotterdam Centraal'), ('EHV','Eindhoven Centraal'),
        ('GVC','Den Haag Centraal'), ('LEDN','Leiden Centraal'))
        AS t(station_code, station_name))"""

  private def stationsDf(s: SparkSession): DataFrame = {
    val rows = graft.etl.NsSchemas.stationSeed.map { case (c, n, _, _, _) => (c, n) }
    s.createDataFrame(rows).toDF("station_code", "station_name")
  }

  /** exact average: decimal sum cast double / count. */
  private def avgDec(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double") / count(lit(1))

  // ------------------------------------------------------------------ Q1
  private val q31 = QueryDef(
    "q31_ns_rolling_trend",
    (s, dir) => {
      val daily = disruptions(s, dir)
        .filter(col("start_time") >= date_sub(lit(clockDate), 30))
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
    },
    Some(s"""WITH $disruptionsSql,
      daily AS (
        SELECT CAST(start_time AS DATE) AS disruption_date, type,
          CAST(COUNT(*) AS BIGINT) AS incident_count,
          CAST(SUM(CAST(duration_minutes AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_duration_minutes
        FROM disruptions
        WHERE start_time >= DATE '2024-01-31' - 30
        GROUP BY 1, 2)
      SELECT disruption_date, type, incident_count, avg_duration_minutes,
        CAST(SUM(incident_count) OVER w AS BIGINT) AS rolling_7day_total,
        CAST(SUM(incident_count) OVER w AS DOUBLE) / COUNT(*) OVER w AS rolling_7day_avg
      FROM daily
      WINDOW w AS (PARTITION BY type ORDER BY disruption_date
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY disruption_date DESC, incident_count DESC, type"""),
    covers = Seq("NSQ1", "W1", "W2"))

  // ------------------------------------------------------------------ Q2
  private val q32 = QueryDef(
    "q32_ns_station_severity",
    (s, dir) => {
      val un = disruptions(s, dir)
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
      agg.join(broadcast(stationsDf(s)), Seq("station_code"), "left")
        .select(
          col("station_code"), col("station_name"), col("total_disruptions"),
          col("avg_duration_minutes"), col("avg_impact_level"), col("max_impact_level"),
          pct.as("disruption_percentile"),
          dense_rank().over(Window.orderBy(desc("total_disruptions")))
            .cast(LongType).as("severity_rank"),
          when(pct > 0.9, "HIGH RISK").when(pct > 0.7, "MEDIUM RISK")
            .otherwise("LOW RISK").as("risk_category"))
        .orderBy(desc("total_disruptions"), asc("station_code"))
    },
    Some(s"""WITH $disruptionsSql, $stationsSql,
      un0 AS (SELECT disruption_id, impact_level, duration_minutes,
                unnest(string_split(affected_stations, ',')) AS sc
              FROM disruptions WHERE affected_stations IS NOT NULL),
      un AS (SELECT disruption_id, impact_level, duration_minutes, trim(sc) AS station_code FROM un0),
      agg AS (SELECT station_code,
                CAST(COUNT(DISTINCT disruption_id) AS BIGINT) AS total_disruptions,
                CAST(SUM(CAST(duration_minutes AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_duration_minutes,
                CAST(SUM(impact_level) AS DOUBLE) / COUNT(*) AS avg_impact_level,
                CAST(MAX(impact_level) AS INTEGER) AS max_impact_level
              FROM un GROUP BY 1)
      SELECT a.station_code, s.station_name, total_disruptions,
        avg_duration_minutes, avg_impact_level, max_impact_level,
        PERCENT_RANK() OVER (ORDER BY total_disruptions) AS disruption_percentile,
        DENSE_RANK() OVER (ORDER BY total_disruptions DESC) AS severity_rank,
        CASE WHEN PERCENT_RANK() OVER (ORDER BY total_disruptions) > 0.9 THEN 'HIGH RISK'
             WHEN PERCENT_RANK() OVER (ORDER BY total_disruptions) > 0.7 THEN 'MEDIUM RISK'
             ELSE 'LOW RISK' END AS risk_category
      FROM agg a LEFT JOIN stations s ON a.station_code = s.station_code
      ORDER BY total_disruptions DESC, a.station_code"""),
    covers = Seq("NSQ2", "W3", "W4", "J1", "A6"))

  // ------------------------------------------------------------------ Q3
  private val q33 = QueryDef(
    "q33_ns_day_over_day",
    (s, dir) => {
      val daily = disruptions(s, dir)
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
    },
    Some(s"""WITH $disruptionsSql,
      daily AS (
        SELECT CAST(start_time AS DATE) AS disruption_date,
          CAST(COUNT(*) AS BIGINT) AS total_disruptions,
          CAST(SUM(CASE WHEN type = 'calamity' THEN 1 ELSE 0 END) AS BIGINT) AS calamities,
          CAST(SUM(CASE WHEN type = 'maintenance' THEN 1 ELSE 0 END) AS BIGINT) AS maintenance,
          CAST(SUM(CASE WHEN type = 'disruption' THEN 1 ELSE 0 END) AS BIGINT) AS disruptions,
          CAST(SUM(CAST(duration_minutes AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_duration,
          CAST(MAX(impact_level) AS INTEGER) AS max_impact
        FROM disruptions GROUP BY 1)
      SELECT disruption_date, total_disruptions, avg_duration, max_impact,
        LAG(total_disruptions, 1) OVER w AS prev_day_total,
        LEAD(total_disruptions, 1) OVER w AS next_day_total,
        total_disruptions - LAG(total_disruptions, 1) OVER w AS dod_delta,
        CAST(total_disruptions - LAG(total_disruptions, 1) OVER w AS DOUBLE) * 100
          / NULLIF(LAG(total_disruptions, 1) OVER w, 0) AS dod_pct_change,
        CAST(SUM(total_disruptions) OVER (ORDER BY disruption_date
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_7day
      FROM daily WINDOW w AS (ORDER BY disruption_date)
      ORDER BY disruption_date DESC"""),
    covers = Seq("NSQ3", "W5", "W7", "A2"))

  // ------------------------------------------------------------------ Q4
  private val q34 = QueryDef(
    "q34_ns_peak_hour",
    (s, dir) => {
      val hourly = disruptions(s, dir)
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
    },
    Some(s"""WITH $disruptionsSql,
      hourly AS (
        SELECT strftime(start_time, '%H') AS hour_of_day,
          CAST(dayofweek(start_time) AS INTEGER) AS dow,
          CAST(COUNT(*) AS BIGINT) AS disruption_count,
          CAST(SUM(CAST(duration_minutes AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_duration,
          CAST(SUM(impact_level) AS DOUBLE) / COUNT(*) AS avg_impact
        FROM disruptions WHERE start_time IS NOT NULL GROUP BY 1, 2)
      SELECT CASE dow WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday'
           WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday'
           WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday'
           WHEN 6 THEN 'Saturday' END AS day_name,
        hour_of_day || ':00' AS hour_label,
        disruption_count, avg_duration, avg_impact,
        ROW_NUMBER() OVER (ORDER BY disruption_count DESC, hour_of_day, dow) AS row_num,
        RANK() OVER (ORDER BY disruption_count DESC) AS rank_with_gaps,
        DENSE_RANK() OVER (ORDER BY disruption_count DESC) AS dense_rank
      FROM hourly
      ORDER BY disruption_count DESC, hour_of_day, dow LIMIT 20"""),
    covers = Seq("NSQ4", "A5", "W6"))

  // ------------------------------------------------------------------ Q5
  private val q35 = QueryDef(
    "q35_ns_complex",
    (s, dir) => {
      val d = disruptions(s, dir)
      val metrics = d
        .filter(col("start_time") >= date_sub(lit(clockDate), 30))
        .groupBy(to_date(col("start_time")).as("disruption_date"), col("type"))
        .agg(
          count(lit(1)).as("incident_count"),
          (sum(unix_micros(col("end_time")) - unix_micros(col("start_time")))
            .cast("double") / 60000000d / count(lit(1))).as("avg_duration"))
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
    },
    Some(s"""WITH $disruptionsSql,
      metrics AS (
        SELECT CAST(start_time AS DATE) AS disruption_date, type,
          CAST(COUNT(*) AS BIGINT) AS incident_count,
          CAST(SUM(epoch_us(end_time) - epoch_us(start_time)) AS DOUBLE)
            / CAST(60000000 AS DOUBLE) / COUNT(*) AS avg_duration
        FROM disruptions
        WHERE start_time >= DATE '2024-01-31' - 30
        GROUP BY 1, 2),
      daily_tot AS (SELECT disruption_date, CAST(SUM(incident_count) AS BIGINT) AS day_total
                    FROM metrics GROUP BY 1),
      rolling AS (SELECT disruption_date,
                    CAST(SUM(day_total) OVER (ORDER BY disruption_date
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_7day_total
                  FROM daily_tot),
      un0 AS (SELECT unnest(string_split(affected_stations, ',')) AS sc
              FROM disruptions WHERE affected_stations IS NOT NULL),
      impact AS (SELECT trim(sc) AS station_code, CAST(COUNT(*) AS BIGINT) AS disruption_count,
                   PERCENT_RANK() OVER (ORDER BY COUNT(*)) AS severity_percentile
                 FROM un0 GROUP BY 1),
      worst AS (SELECT station_code FROM impact WHERE severity_percentile > 0.9
                ORDER BY disruption_count DESC, station_code LIMIT 1)
      SELECT m.disruption_date, m.type, m.incident_count, m.avg_duration,
        r.rolling_7day_total,
        (SELECT station_code FROM worst) AS worst_station,
        CAST(SUM(CASE WHEN m.type = 'cancellation' THEN m.incident_count END) OVER d AS DOUBLE) * 100
          / NULLIF(SUM(m.incident_count) OVER d, 0) AS cancellation_rate_pct
      FROM metrics m JOIN rolling r USING (disruption_date)
      WINDOW d AS (PARTITION BY m.disruption_date)
      ORDER BY m.disruption_date DESC, m.incident_count DESC, m.type"""),
    covers = Seq("NSQ5", "C2", "W8", "A8"))

  // ------------------------------------------------------------------ Q6
  // Spark side runs the bucketed RangeJoin (equi-join on time bins,
  // SURVEY §4.2's one custom-operator candidate); DuckDB plans the
  // plain theta join with IEJoin. Same pairs either way (RangeJoinSpec
  // proves equivalence).
  private val q36 = QueryDef(
    "q36_ns_overlap",
    (s, dir) => {
      // Prefilter: an interval ending before the 7-day cutoff cannot
      // overlap any interval starting inside it (b.end > a.start ≥
      // cutoff), so both join sides shrink to the window ± duration —
      // the reference's WHERE on a.start_time alone is preserved below.
      val cutoff = date_sub(lit(clockDate), 7)
      val d = disruptions(s, dir)
        .select("disruption_id", "type", "start_time", "end_time")
        .filter(col("end_time") > cutoff)
      val pairs = RangeJoin.overlapSelfJoin(
        d, "disruption_id", "start_time", "end_time", binMinutes = 120)
      val overlapMin = floor(
        (unix_micros(least(col("a_end_time"), col("b_end_time"))) -
          unix_micros(greatest(col("a_start_time"), col("b_start_time"))))
          .cast("double") / 60000000d).cast(IntegerType)
      pairs
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
    },
    Some(s"""WITH $disruptionsSql
      SELECT a.disruption_id AS disruption_a, b.disruption_id AS disruption_b,
        a.type AS type_a, b.type AS type_b,
        a.start_time AS a_start, a.end_time AS a_end,
        b.start_time AS b_start, b.end_time AS b_end,
        CAST(floor(CAST(epoch_us(least(a.end_time, b.end_time))
          - epoch_us(greatest(a.start_time, b.start_time)) AS DOUBLE)
          / CAST(60000000 AS DOUBLE)) AS INTEGER) AS overlap_minutes
      FROM disruptions a JOIN disruptions b
        ON a.disruption_id < b.disruption_id
       AND a.start_time < b.end_time
       AND a.end_time > b.start_time
      WHERE a.start_time >= DATE '2024-01-31' - 7
      ORDER BY overlap_minutes DESC, disruption_a, disruption_b LIMIT 50"""),
    covers = Seq("NSQ6", "J2"))

  // --------------------------------------------- Q6 via the optimizer rule
  // Same query and oracle as q36, but the Spark side writes the NAIVE
  // overlap theta self-join and lets [[graft.plans.RangeJoinRewrite]]
  // — installed the way a live session gets it (extraOptimizations,
  // the runtime form of `spark.sql.extensions=graft.plans.
  // GraftExtensions`; GraftExtensionsSpec covers the builder-time
  // injection of the same rule object) — rewrite it into the binned
  // equi-join. The gate fails loudly if the rewrite did NOT fire (no
  // bin Generate in the optimized plan, or a nested-loop join
  // survived physical planning), then hash-matches q36's oracle: the
  // extension path provably delivers the same pairs as the explicit
  // [[graft.operators.RangeJoin]] call. Executed eagerly so the rule
  // and conf are uninstalled before any neighbor gate plans.
  private val q531 = QueryDef(
    "q531_overlap_via_extension",
    (s, dir) => {
      import graft.plans.RangeJoinRewrite
      val cutoff = date_sub(lit(clockDate), 7)
      val d = disruptions(s, dir)
        .select("disruption_id", "type", "start_time", "end_time")
        .filter(col("end_time") > cutoff)
      def side(p: String) = d.select(
        col("disruption_id").as(s"${p}_disruption_id"),
        col("type").as(s"${p}_type"),
        col("start_time").as(s"${p}_start_time"),
        col("end_time").as(s"${p}_end_time"))
      QueryDef.withConf(s, RangeJoinRewrite.binMinutesKey, "120") {
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ RangeJoinRewrite
        try {
          val joined = side("a").join(side("b"),
            col("a_disruption_id") < col("b_disruption_id") &&
              col("a_start_time") < col("b_end_time") &&
              col("a_end_time") > col("b_start_time"))
          val overlapMin = floor(
            (unix_micros(least(col("a_end_time"), col("b_end_time"))) -
              unix_micros(greatest(col("a_start_time"), col("b_start_time"))))
              .cast("double") / 60000000d).cast(IntegerType)
          val q = joined
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
          val binGenerates = q.queryExecution.optimizedPlan.collect {
            case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
          }
          require(binGenerates.size == 2,
            s"range-join rewrite did not fire (bin Generates: ${binGenerates.size})")
          val phys = q.queryExecution.executedPlan.toString
          require(!phys.contains("BroadcastNestedLoop") &&
            !phys.contains("CartesianProduct"),
            "rewritten overlap join still plans a nested-loop join")
          // bounded-collect: LIMIT 50 rows — executed eagerly so the
          // optimizer rule can be uninstalled before any neighbor plans
          val rows = q.collect().toSeq
          s.createDataFrame(s.sparkContext.parallelize(rows, 1), q.schema)
            .orderBy(desc("overlap_minutes"), asc("disruption_a"), asc("disruption_b"))
        } finally s.experimental.extraOptimizations =
          s.experimental.extraOptimizations.filterNot(_ == RangeJoinRewrite)
      }
    },
    Some(s"""WITH $disruptionsSql
      SELECT a.disruption_id AS disruption_a, b.disruption_id AS disruption_b,
        a.type AS type_a, b.type AS type_b,
        a.start_time AS a_start, a.end_time AS a_end,
        b.start_time AS b_start, b.end_time AS b_end,
        CAST(floor(CAST(epoch_us(least(a.end_time, b.end_time))
          - epoch_us(greatest(a.start_time, b.start_time)) AS DOUBLE)
          / CAST(60000000 AS DOUBLE)) AS INTEGER) AS overlap_minutes
      FROM disruptions a JOIN disruptions b
        ON a.disruption_id < b.disruption_id
       AND a.start_time < b.end_time
       AND a.end_time > b.start_time
      WHERE a.start_time >= DATE '2024-01-31' - 7
      ORDER BY overlap_minutes DESC, disruption_a, disruption_b LIMIT 50"""),
    covers = Seq("NSQ6", "J2", "EXT-rangejoin"))

  val all: Seq[QueryDef] = Seq(q31, q32, q33, q34, q35, q36, q531)
}
