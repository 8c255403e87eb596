package graft.queries

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.Tables.{load => t}
import graft.analytics.NsQueries
import graft.etl.{Clock, DisruptionCleaner}
import graft.operators.RangeJoin

import QueryDef.dec

/** The reference's own surface under the driver's DuckDB hash gate: its
  * six analytics queries (`src/transformation/aggregators.py`), the
  * cleaning pipeline's steps (P1–P13) and its idempotent-load
  * anti-join / latest-wins upsert (`src/pipeline.py:133-298`).
  *
  * The synthetic testdata has no disruptions table, so both engines
  * first derive an identical disruptions-shaped frame from `events`
  * (deterministic, expression-only — see [[disruptions]]), then run
  * the translated query. Clock is pinned to 2024-01-31 (events span
  * January 2024).
  *
  * The Spark side of q31–q35 and q531 is [[NsQueries]], whose scaladoc
  * lists the deviations from the reference text that keep both engines
  * deterministic; each oracle is the same query in DuckDB SQL.
  */
object NsGates {

  // ---------------------------------------------------------------- S7/J3
  // Insert-if-absent semantics (pipeline.py:133-182) = anti-join on key.
  private val q13 = QueryDef(
    "q13_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ORDER BY c_custkey"""),
    covers = Seq("S7", "J3"))

  // ---------------------------------------------------------------- S8
  // Upsert/latest-wins (pipeline.py:184-298) re-expressed as a
  // row_number dedup keeping the newest record per key — the
  // Parquet-friendly MERGE equivalent.
  private val q15 = QueryDef(
    "q15_latest_wins",
    (s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
      e.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    },
    Some("""WITH ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_id, event_type, value
      FROM ranked WHERE rn = 1 ORDER BY user_id"""),
    covers = Seq("S8"))

  // ---------------------------------------------------------------- P7-style
  // Rule-cascade classification as a pure when/otherwise chain — the
  // reference's row-UDF (cleaners.py:133-171) pattern, kept codegen'd.
  private val q17 = QueryDef(
    "q17_case_cascade",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(
          when(col("l_quantity") >= 45, "huge")
            .when(col("l_quantity") >= 30, "large")
            .when(col("l_quantity") >= 10, "medium")
            .otherwise("small").as("size_class"),
          when(col("l_discount") >= 0.08, "deep")
            .when(col("l_discount") >= 0.03, "mid")
            .otherwise("low").as("discount_class"),
          dec(col("l_extendedprice")).as("price"))
        .groupBy("size_class", "discount_class")
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
        .orderBy("size_class", "discount_class")
    },
    Some("""SELECT
      CASE WHEN l_quantity >= 45 THEN 'huge'
           WHEN l_quantity >= 30 THEN 'large'
           WHEN l_quantity >= 10 THEN 'medium'
           ELSE 'small' END AS size_class,
      CASE WHEN l_discount >= 0.08 THEN 'deep'
           WHEN l_discount >= 0.03 THEN 'mid'
           ELSE 'low' END AS discount_class,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("P7", "P2", "P10"))

  // ---------------------------------------------------------------- §2.8 strings
  private val q18 = QueryDef(
    "q18_string_funcs",
    (s, dir) => {
      val p = t(s, dir, "part")
      p.groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_parts"),
          sum(when(col("p_type").like("%a%"), 1).otherwise(0)).as("n_with_a"),
          (sum(length(trim(col("p_name")))).cast("double") / count(lit(1)))
            .as("avg_name_len"),
          min(upper(substring(col("p_name"), 1, 8))).as("min_prefix"),
          max(regexp_replace(lower(col("p_type")), " ", "_")).as("max_slug"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand,
      CAST(COUNT(*) AS BIGINT) AS n_parts,
      CAST(SUM(CASE WHEN p_type LIKE '%a%' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_a,
      CAST(SUM(length(trim(p_name))) AS DOUBLE) / COUNT(*) AS avg_name_len,
      MIN(upper(substr(p_name, 1, 8))) AS min_prefix,
      MAX(replace(lower(p_type), ' ', '_')) AS max_slug
      FROM part GROUP BY p_brand ORDER BY p_brand"""),
    covers = Seq("P2", "P3", "P12"))

  // ------------------------------------------------------------------
  // Shared derivation: events → disruptions
  // ------------------------------------------------------------------

  private[queries] def disruptions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id").cast(StringType).as("disruption_id"),
      when(col("event_type") === "error", "calamity")
        .when(col("event_type") === "purchase", "cancellation")
        .when(col("event_type") === "signup", "maintenance")
        .otherwise("disruption").as("type"),
      col("ts").as("start_time"),
      timestamp_micros(unix_micros(col("ts")) +
        (dec(col("value")) * 60000000).cast(LongType))
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

  /** Pinned "now": the -30/-7 day filters and the cleaner's clock
    * (shared with q528).
    */
  private[queries] val clock = Clock(Instant.parse("2024-01-31T00:00:00Z"))

  private val stationsSql: String =
    """stations AS (SELECT * FROM (VALUES
        ('ASD','Amsterdam Centraal'), ('UTR','Utrecht Centraal'),
        ('RTD','Rotterdam Centraal'), ('EHV','Eindhoven Centraal'),
        ('GVC','Den Haag Centraal'), ('LEDN','Leiden Centraal'))
        AS t(station_code, station_name))"""

  private[queries] def stationsDf(s: SparkSession): DataFrame = {
    val rows = graft.etl.NsSchemas.stationSeed.map { case (c, n, _, _, _) => (c, n) }
    s.createDataFrame(rows).toDF("station_code", "station_name")
  }

  // ------------------------------------------------------------------ Q1
  private val q31 = QueryDef(
    "q31_ns_rolling_trend",
    (s, dir) => NsQueries.rollingTrend(disruptions(s, dir), clock),
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
    (s, dir) => NsQueries.stationSeverity(disruptions(s, dir), stationsDf(s)),
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
    (s, dir) => NsQueries.dayOverDay(disruptions(s, dir)),
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
    (s, dir) => NsQueries.peakHour(disruptions(s, dir)),
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
    (s, dir) => NsQueries.complexAnalytics(disruptions(s, dir), clock),
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
      val cutoff = date_sub(clock.date, 7)
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
  // Same query and oracle as q36, but the Spark side is
  // [[NsQueries.overlapping]]'s NAIVE overlap theta self-join, which
  // [[graft.plans.RangeJoinRewrite]] — installed in every session by
  // SessionDefaults, and switched on by its `enabled` key in the gate's
  // declared `confs`, so the gate runs in its own session — rewrites
  // into the binned equi-join.
  // The gate fails loudly if the rewrite did NOT fire (no bin Generate
  // in the optimized plan, or a nested-loop join survived physical
  // planning), then hash-matches q36's oracle: the extension path
  // provably delivers the same pairs as the explicit
  // [[graft.operators.RangeJoin]] call. It returns the query it
  // checked, so a plan dump shows the rewrite.
  private val q531 = QueryDef(
    "q531_overlap_via_extension",
    (s, dir) => {
      val q = NsQueries.overlapping(disruptions(s, dir), clock)
      val binGenerates = q.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      require(binGenerates.size == 2,
        s"range-join rewrite did not fire (bin Generates: ${binGenerates.size})")
      val phys = q.queryExecution.executedPlan.toString
      require(!phys.contains("BroadcastNestedLoop") &&
        !phys.contains("CartesianProduct"),
        "rewritten overlap join still plans a nested-loop join")
      q
    },
    q36.oracle,
    covers = Seq("NSQ6", "J2", "EXT-rangejoin"),
    confs = Seq(graft.plans.RangeJoinRewrite.enabledKey -> "true"))

  // The cleaning pipeline itself under the DuckDB hash gate. Both engines
  // derive identical NS-shaped raw records (id / type / title / start / end
  // strings, with planted nulls, Dutch + uppercase types, short titles,
  // malformed timestamps, missing ends) from the events table; Spark runs
  // the real [[DisruptionCleaner]] (clock pinned to 2024-01-31T00:00Z), the
  // oracle re-implements the cleaner semantics in SQL. Matching per-type
  // aggregates prove the rename / type-map / title rules / coercing parse /
  // imputation / duration guards / impact cascade / regex station fallback
  // / validation chain end-to-end against an independent engine.
  // clock + 2h as epoch micros, for the imputed-end count
  private val imputedUs: Long =
    Instant.parse("2024-01-31T02:00:00Z").toEpochMilli * 1000L

  /** NS-shaped synthetic raw records derived from the events table —
    * shared by the batch gate (q46) and the streaming AvailableNow
    * gate (q528), so both execution modes clean literally
    * the same input.
    */
  private[queries] def rawFromEvents(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val e = t(s, dir, "events")
    val endTs = timestamp_micros(unix_micros(col("ts")) +
      (dec(col("value")) * 60000000).cast(LongType))
    e.select(
      when(col("event_id") % 97 === 0, lit(null).cast(StringType))
        .otherwise(col("event_id").cast(StringType)).as("id"),
      when(col("event_type") === "error", "CALAMITY")
        .when(col("event_type") === "purchase", "cancellation")
        .when(col("event_type") === "signup", "werkzaamheden")
        .when(col("event_type") === "click", "verstoring")
        .otherwise("storing").as("type"),
      when(col("event_id") % 5 === 0, lit(null).cast(StringType))
        .when(col("event_id") % 5 === 1, "ab")
        .when(col("event_id") % 5 === 2, "Storing ASD richting GVC")
        .when(col("event_id") % 5 === 3, "  Geplande werkzaamheden Utrecht  ")
        .otherwise(concat(lit("x"), col("event_id").cast(StringType))).as("title"),
      when(col("event_id") % 13 === 0, "not-a-date")
        .otherwise(concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
          lit("+0000"))).as("start"),
      when(col("event_id") % 3 === 0, lit(null).cast(StringType))
        .otherwise(concat(date_format(endTs, "yyyy-MM-dd'T'HH:mm:ss"),
          lit("+0000"))).as("end"))
  }

  /** The gate's per-type aggregate over a cleaned frame (shared with
    * q528, which must produce the identical report from the streamed
    * clean).
    */
  private[queries] def cleanedReport(
      cleaned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cleaned.groupBy("type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("impact_level")).as("sum_impact"),
        count(col("affected_stations")).as("n_with_stations"),
        sum(when(col("duration_minutes").isNull, 1).otherwise(0))
          .as("n_null_duration"),
        min(col("duration_minutes")).as("min_duration"),
        max(col("duration_minutes")).as("max_duration"),
        sum(when(unix_micros(col("end_time")) === imputedUs, 1).otherwise(0))
          .as("n_imputed_end"))
      .orderBy("type")

  private val q46 = QueryDef(
    "q46_cleaner_parity",
    (s, dir) =>
      cleanedReport(DisruptionCleaner.clean(rawFromEvents(s, dir), clock)),
    Some(s"""WITH raw AS (
        SELECT
          CASE WHEN event_id % 97 = 0 THEN NULL ELSE CAST(event_id AS VARCHAR) END AS id,
          CASE event_type WHEN 'error' THEN 'CALAMITY'
               WHEN 'purchase' THEN 'cancellation'
               WHEN 'signup' THEN 'werkzaamheden'
               WHEN 'click' THEN 'verstoring'
               ELSE 'storing' END AS rtype,
          CASE CAST(event_id % 5 AS INTEGER)
               WHEN 0 THEN NULL
               WHEN 1 THEN 'ab'
               WHEN 2 THEN 'Storing ASD richting GVC'
               WHEN 3 THEN '  Geplande werkzaamheden Utrecht  '
               ELSE 'x' || CAST(event_id AS VARCHAR) END AS rtitle,
          CASE WHEN event_id % 13 = 0 THEN 'not-a-date'
               ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') || '+0000' END AS rstart,
          CASE WHEN event_id % 3 = 0 THEN NULL
               ELSE strftime(make_timestamp(epoch_us(ts) +
                      CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT)),
                    '%Y-%m-%dT%H:%M:%S') || '+0000' END AS rend
        FROM events),
      c0 AS (
        SELECT
          COALESCE(CASE lower(rtype)
              WHEN 'verstoring' THEN 'disruption'
              WHEN 'werkzaamheden' THEN 'maintenance'
              WHEN 'calamiteit' THEN 'calamity'
              WHEN 'storing' THEN 'disruption' END, lower(rtype)) AS type,
          CASE WHEN length(trim(rtitle)) < 5 THEN NULL ELSE trim(rtitle) END AS title,
          epoch_us(try_strptime(rstart, '%Y-%m-%dT%H:%M:%S%z')) AS start_us,
          COALESCE(epoch_us(try_strptime(rend, '%Y-%m-%dT%H:%M:%S%z')), $imputedUs) AS end_us
        FROM raw WHERE id IS NOT NULL),
      c1 AS (
        SELECT type, title, start_us, end_us,
          CASE WHEN start_us IS NULL THEN NULL
               WHEN CAST(end_us - start_us AS DOUBLE) / CAST(60000000 AS DOUBLE) < 0 THEN NULL
               ELSE CAST(end_us - start_us AS DOUBLE) / CAST(60000000 AS DOUBLE)
               END AS duration
        FROM c0),
      c2 AS (
        SELECT type, start_us, end_us, duration,
          CASE WHEN type = 'calamity' THEN 5
               WHEN contains(type, 'cancel') THEN 5
               WHEN type = 'maintenance' THEN
                 CASE WHEN COALESCE(duration, 0) > 240 THEN 4 ELSE 3 END
               WHEN type = 'disruption' THEN
                 CASE WHEN COALESCE(duration, 0) > 120 THEN 4
                      WHEN COALESCE(duration, 0) > 60 THEN 3 ELSE 2 END
               ELSE 2 END AS impact,
          CASE WHEN title IS NOT NULL
                AND len(regexp_extract_all(title, '\\b[A-Z]{2,5}\\b')) > 0
               THEN array_to_string(list_sort(list_distinct(
                      regexp_extract_all(title, '\\b[A-Z]{2,5}\\b'))), ',')
               END AS affected_stations
        FROM c1)
      SELECT type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(impact) AS BIGINT) AS sum_impact,
        CAST(COUNT(affected_stations) AS BIGINT) AS n_with_stations,
        CAST(SUM(CASE WHEN duration IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_duration,
        MIN(duration) AS min_duration,
        MAX(duration) AS max_duration,
        CAST(SUM(CASE WHEN end_us = $imputedUs THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed_end
      FROM c2 GROUP BY type ORDER BY type"""),
    covers = Seq("P1-P13"))

  /** q46's oracle SQL, reused verbatim by the streaming twin q528. */
  private[queries] def parityOracle: String = q46.oracle.get

  // ---------------------------------------------------- constraint checking
  // Deequ-style data-quality suite: completeness, key uniqueness,
  // range, accepted values, positivity — ONE aggregation pass over the
  // fact table — plus an anti-join referential-integrity probe; the
  // report pivots out of the metric row with explode(array(struct)).
  // The declared-schema validation step of the reference's cleaner
  // (cleaners.py:229-252), as a reusable report. The uniqueness
  // constraint genuinely FAILS on this corpus (duplicate
  // (l_orderkey, l_linenumber) pairs exist) — the report shows it.
  private val q110 = QueryDef(
    "q110_constraints",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = li.agg(
        count(lit(1)).as("n"),
        count(col("l_shipdate")).as("ship_nonnull"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("pk_distinct"),
        sum(when(col("l_discount").between(0, 0.1), 1).otherwise(0)).as("disc_in_range"),
        sum(when(col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)).as("flag_ok"),
        sum(when(col("l_quantity") > 0, 1).otherwise(0)).as("qty_pos"))
      val ri = li.join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      def c(name: String, actual: Column, expected: Column) =
        struct(lit(name).as("name"), actual.as("actual"), expected.as("expected"))
      m.crossJoin(ri)
        .select(explode(array(
          c("completeness_l_shipdate", col("ship_nonnull"), col("n")),
          c("uniqueness_pk", col("pk_distinct"), col("n")),
          c("range_l_discount", col("disc_in_range"), col("n")),
          c("accepted_l_returnflag", col("flag_ok"), col("n")),
          c("positive_l_quantity", col("qty_pos"), col("n")),
          c("ri_orderkey", col("orphans"), lit(0L)))).as("c"))
        .select(col("c.name"), col("c.actual"), col("c.expected"),
          (col("c.actual") === col("c.expected")).as("pass"))
        .orderBy("name")
    },
    Some("""WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(l_shipdate) AS BIGINT) AS ship_nonnull,
          CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS pk_distinct,
          CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_in_range,
          CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS flag_ok,
          CAST(sum(CASE WHEN l_quantity > 0 THEN 1 ELSE 0 END) AS BIGINT) AS qty_pos
        FROM lineitem),
      ri AS (
        SELECT CAST(count(*) AS BIGINT) AS orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL)
      SELECT c.name, c.actual, c.expected, c.actual = c.expected AS pass FROM (
        SELECT 'completeness_l_shipdate' AS name, ship_nonnull AS actual, n AS expected FROM m
        UNION ALL SELECT 'uniqueness_pk', pk_distinct, n FROM m
        UNION ALL SELECT 'range_l_discount', disc_in_range, n FROM m
        UNION ALL SELECT 'accepted_l_returnflag', flag_ok, n FROM m
        UNION ALL SELECT 'positive_l_quantity', qty_pos, n FROM m
        UNION ALL SELECT 'ri_orderkey', orphans, CAST(0 AS BIGINT) FROM ri) c
      ORDER BY c.name"""),
    covers = Seq("P9-validate", "A2"))

  // ------------------------------------------------------ quarantine channel
  // Row-level error channel: JSON payloads corrupted deterministically
  // (truncated for event_id % 7 = 0) parse to NULL instead of failing
  // the job; good rows contribute typed values, bad rows are counted
  // into the quarantine — the reference's try/except-per-record
  // (pipeline.py:222-298) as a set-based split.
  private val q124 = QueryDef(
    "q124_json_quarantine",
    (s, dir) => {
      val e = t(s, dir, "events").withColumn("props2",
        when(col("event_id") % 7 === 0,
          substring(col("props"), lit(1), length(col("props")) - 1))
          .otherwise(col("props")))
      val parsed = e.withColumn("j",
        from_json(col("props2"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))))
      // PERMISSIVE from_json yields a null-FIELDED struct on corrupt
      // input, not a null struct — classify on the required field
      // (every valid payload carries k), mirroring json_valid
      parsed.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("j.k")).as("n_good"),
          (count(lit(1)) - count(col("j.k"))).as("n_quarantined"),
          sum(col("j.k").cast(LongType)).as("sum_k"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (
        SELECT event_type,
          CASE WHEN event_id % 7 = 0 THEN substr(props, 1, len(props) - 1)
               ELSE props END AS props2
        FROM events)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN json_valid(props2) THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        CAST(sum(CASE WHEN json_valid(props2) THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined,
        CAST(sum(CASE WHEN json_valid(props2)
                 THEN CAST(json_extract(props2, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k
      FROM e GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("P9-quarantine", "C-json"))

  // ------------------------------------------------- struct-array unnest
  // Arrays of STRUCTS built in-row (zip_with to a named struct) and
  // exploded back to columns — the nested-record fan-out the raw NS
  // payload needs (publicationSections[].stations[]), gated on
  // synthetic (word, length) pairs.
  private val q139 = QueryDef(
    "q139_struct_inline",
    (s, dir) => {
      val tk = split(col("text"), " ")
      t(s, dir, "documents").filter(col("doc_id") < 10)
        .select(col("doc_id"),
          explode(zip_with(tk, transform(tk, w => length(w)),
            (w, l) => struct(w.as("word"), l.cast(LongType).as("wlen")))).as("p"))
        .select(col("doc_id"), col("p.word").as("word"), col("p.wlen").as("wlen"))
        .orderBy("doc_id", "word", "wlen")
    },
    Some("""WITH z AS (
        SELECT doc_id, list_zip(string_split(text,' '),
          list_transform(string_split(text,' '), w -> len(w))) AS pairs
        FROM documents WHERE doc_id < 10)
      SELECT doc_id, u.p[1] AS word, CAST(u.p[2] AS BIGINT) AS wlen
      FROM (SELECT doc_id, unnest(pairs) AS p FROM z) u(doc_id, p)
      ORDER BY doc_id, word, wlen"""),
    covers = Seq("P8-struct-array"))

  val all: Seq[QueryDef] = Seq(q13, q15, q17, q18, q31, q32, q33, q34, q35,
    q36, q531, q46, q110, q124, q139)
}
